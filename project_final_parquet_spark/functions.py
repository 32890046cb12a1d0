"""Public function library — the engine's reusable column expressions,
re-exported in one namespace (the ``functions/`` surface of the engine).

Everything here is a pure Column expression or DataFrame transform
factory, composable inside arbitrary DataFrame plans.
"""

from __future__ import annotations

from .display import truncate_for_display
from .operators.dedup import _shingles3 as shingles3
from .operators.dedup import ngrams
from .operators.relational import asof_join
from .operators.skew import salted_join
from .operators.vecmath import dot as dot_product
from .operators.vecmath import norm as l2_norm
from .registry import davg, dsum
from .streaming.events import session_windows, sliding_counts, tumbling_counts

__all__ = [
    "asof_join",
    "davg",
    "dot_product",
    "dsum",
    "l2_norm",
    "ngrams",
    "salted_join",
    "session_windows",
    "shingles3",
    "sliding_counts",
    "truncate_for_display",
    "tumbling_counts",
]
