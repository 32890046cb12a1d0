"""Query registry — the single source of truth for the driver contract.

Every operator the engine claims is registered here via the ``@query``
decorator, pairing a (spark, sf_dir) -> DataFrame callable with the
equivalent ANSI SQL that DuckDB runs on the same parquet tables. The
driver hash-compares both at sf0.01 (CORRECTNESS gate), so the pair must
agree on column NAMES and VALUES exactly.

Cross-engine determinism conventions (applied in both the Spark code and
the oracle SQL; deviations are bugs):

1.  Alias every computed column identically on both sides.
2.  Double aggregation: per-row arithmetic stays in IEEE double (bit-
    identical across engines), but the SUM is done in DECIMAL(38,10)
    (exact, order-independent) and cast back to double:
    Spark  ``F.sum(expr.cast("decimal(38,10)")).cast("double")``
    DuckDB ``CAST(SUM(CAST(expr AS DECIMAL(38,10))) AS DOUBLE)``
    AVG = decimal-sum / count (double division is deterministic).
3.  Integer aggregates: cast to BIGINT in SQL (DuckDB SUM(int) is
    HUGEINT, Spark's is long).
4.  Timestamps are TIMESTAMP_NTZ on the Spark side (matches DuckDB's
    naive timestamps); events.ts is truncated to microseconds by the
    loader.
5.  Any LIMIT/top-k is preceded by a TOTAL ordering (unique tiebreaker
    column included).

Gate order — the driver's CORRECTNESS gate runs the first 50 queries
of ``all_queries()``. The order is computed, never hand-kept: queries
with no green row in any committed ``CORRECTNESS_r*.json`` come first,
then by the round of their newest green row, ties by name
(``gate_order``). Each round's window therefore moves to the back once
the driver records it.

Contract note — some queries materialize intermediate state at
construction time (eager per-round localCheckpoint for iterative
algorithms, a shared shortlist/edge-list checkpoint for multi-consumer
plans, or driver-side algorithm state collected from tiny aggregates),
so calling their query function EXECUTES work before the returned
DataFrame is acted on; the returned frame is the cheap final plan over
that state. The eager queries are: dedup_cluster_components,
dedup_canonicalize, ml_kmeans, ml_cluster_purity (driver-side centroid
collects), graph_pagerank, graph_jaccard_link_prediction,
graph_label_propagation, events_markov_stationary,
embeddings_top_eigenvector, sim_pq_trained, sim_mmr_diversify,
sample_kcenter_coreset, graph_kcore, pipeline_e2e_pretrain,
graph_degree_assortativity, graph_bridge_edges, graph_wcc_sizes,
graph_rich_club, graph_hits_authorities,
graph_avg_neighbor_degree, graph_katz_3step, graph_local_clustering,
graph_resource_allocation_linkpred, graph_2hop_reach (shared
co-purchase edge list checkpointed once for plans whose column-pruned
consumers re-derived it from parquet 12-34 times — optimization r14),
dedup_near_minhash_lsh, dedup_minhash_adaptive_bands,
dedup_minhash_estimate_error, dedup_containment (minhash signature
frame checkpointed once for the four-consumer pair pipelines —
optimization r14, measured 2.55→1.42 s),
orders_theil_sen_trend (calendar-bounded slope-frame checkpoint),
orders_hodges_lehmann (calendar-bounded Walsh-pair-frame checkpoint,
the same two-phase-median shape),
orders_sen_slope_ci (the same slope-frame checkpoint as
orders_theil_sen_trend),
orders_laspeyres_price_index and orders_paasche_fisher_index (the
(part × period) price rollup materialized once for its three
non-reuse-eligible consumers — optimization r13),
embeddings_covariance_audit (dims²-bounded Gram-partials checkpoint —
9 plan consumers would each replay the scan + mapInPandas),
pipeline_e2e_rag,
and the corpus-adaptive LSH family
(sim_range_search_adaptive, sim_pair_margin_adaptive,
ml_knn_purity_adaptive, sample_hard_negatives_adaptive,
sim_reciprocal_nn_adaptive, sim_ann_recall_adaptive,
dedup_embedding_adaptive, sim_topk_adaptive,
sim_adaptive_occupancy_profile — ``tables.row_count`` reads the
corpus size from the Parquet footers on the driver and picks the plane
count; no Spark job runs).
Every
other query returns a fully lazy plan. (tests/test_registry_lint.py
keeps this list honest against the construction sites.)
"""

from __future__ import annotations

import functools
import importlib
import json
import pkgutil
import re
from collections.abc import Callable
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class RegisteredQuery:
    name: str
    fn: QueryFn
    oracle: str | None  # ANSI SQL for DuckDB; None => rows-only check
    doc: str = ""


_REGISTRY: dict[str, RegisteredQuery] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register ``fn`` as a driver-visible query named ``name``."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        _REGISTRY[name] = RegisteredQuery(
            name=name, fn=fn, oracle=oracle, doc=(fn.__doc__ or "").strip()
        )
        return fn

    return deco


# --- driver-gate order (see "Gate order" in the module docstring) ----------

_EVIDENCE_DIR = Path(__file__).resolve().parent.parent


@functools.cache
def correctness_records() -> dict[int, dict]:
    """``{round: record}`` for every committed ``CORRECTNESS_r{N}.json``
    (read once per process; callers must not mutate it)."""
    records: dict[int, dict] = {}
    for p in _EVIDENCE_DIR.glob("CORRECTNESS_r*.json"):
        # parse ALL trailing digits: r10 is round 10, not round 0
        m = re.fullmatch(r"CORRECTNESS_r(\d+)", p.stem)
        if m:
            records[int(m.group(1))] = json.loads(p.read_text())
    return records


def latest_green(records: dict[int, dict]) -> dict[str, int]:
    """Newest round in which each query had a green row (``hash_match``
    or ``rows_match``)."""
    latest: dict[str, int] = {}
    for rnd, rec in records.items():
        for name, row in rec.items():
            if row.get("hash_match") or row.get("rows_match"):
                latest[name] = max(latest.get(name, 0), rnd)
    return latest


def gate_order(names, records: dict[int, dict]) -> list[str]:
    """``names`` ordered by (newest green round, 0 if never gated; name)."""
    latest = latest_green(records)
    return sorted(names, key=lambda n: (latest.get(n, 0), n))


def _ordered() -> dict[str, RegisteredQuery]:
    _load_all()
    return {n: _REGISTRY[n] for n in gate_order(_REGISTRY, correctness_records())}


def all_queries() -> dict[str, QueryFn]:
    return {n: r.fn for n, r in _ordered().items()}


def all_oracles() -> dict[str, str]:
    return {n: r.oracle for n, r in _ordered().items() if r.oracle is not None}


_LOADED = False


def _load_all() -> None:
    """Import every module that registers queries (idempotent)."""
    global _LOADED
    if _LOADED:
        return
    from . import operators
    from .streaming import events  # noqa: F401

    for mod in pkgutil.iter_modules(operators.__path__):
        importlib.import_module(f"{operators.__name__}.{mod.name}")
    _LOADED = True


# --- shared helpers used by operator modules -------------------------------


def dsum(col):
    """Order-independent SUM of a double expression (convention #2)."""
    from pyspark.sql import functions as F

    return F.sum(col.cast("decimal(38,10)")).cast("double")


# The VARCHAR round-trip matters: DuckDB's direct DECIMAL→DOUBLE cast is
# not correctly rounded (verified: 289473120.0300000000 → …03000003), but
# DECIMAL→VARCHAR→DOUBLE is, and matches Spark's BigDecimal.doubleValue.
DSUM_SQL = "CAST(CAST(SUM(CAST({expr} AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE)"

# Floor-scaled integer sum for COMPUTED doubles whose magnitude grows
# with the corpus (chi² terms, basket products). The DECIMAL(38,10) sum
# re-quantizes each term to the 1e-10 grid, which diverges across engines
# once ulp(value) nears that grid (|value| ≳ 1e6). floor(value·1e6) is
# exact in both engines, so the sum of the floors is exact at any row
# count.
FSUM_SQL = (
    "(CAST(CAST(SUM(CAST(FLOOR(({expr}) * 1000000.0) "
    "AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) / 1000000.0)"
)


def fsum(col):
    """Floor-scaled SUM of a double expression, the Spark twin of
    ``FSUM_SQL``."""
    from pyspark.sql import functions as F

    return (
        F.sum(F.floor(col * 1_000_000.0).cast("decimal(38,0)")).cast("double")
        / 1_000_000.0
    )


# Time conventions: event times are compared as TZ-free epoch
# microseconds (convention #4).
DAY_US = 86_400_000_000
HOUR_US = 3_600_000_000
EPOCH_US_SQL = (
    "timestampdiff(MICROSECOND, timestamp_ntz'1970-01-01 00:00:00', {col})"
)


# ORDERED-FOLD convention (round 13, pipeline19 module note): the
# cross-engine-deterministic sum of DOUBLE terms over a BOUNDED key
# domain (group keys, calendar days, contingency cells). Both engines
# reduce the key-ordered term list with the same left-to-right IEEE
# sequence; a cumulative WINDOW sum is NOT portable (DuckDB evaluates
# windowed SUM by segment tree), and the floor-scaled convention
# saturates at Spark floor(double)->LONG = 9.2e18. COALESCE NULL terms
# to 0.0 at call sites (Spark collect_list drops NULLs, DuckDB list()
# keeps them).
OFOLD_SQL = (
    "list_reduce(list_prepend(0.0, list({term} ORDER BY {key})),"
    " (acc, x) -> acc + x)"
)


def ofold(term, *keys):
    """Ordered sequential fold of `term` (a double Column) over the
    ascending (*keys) order — the Spark twin of OFOLD_SQL."""
    from pyspark.sql import functions as F

    return F.aggregate(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        *[k.alias(f"k{i}") for i, k in enumerate(keys)],
                        term.alias("t"),
                    )
                )
            ),
            lambda s: s["t"],
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def davg(col):
    """Order-independent AVG of a double expression (convention #2)."""
    from pyspark.sql import functions as F

    return (
        F.sum(col.cast("decimal(38,10)")).cast("double") / F.count(col)
    )


DAVG_SQL = (
    "CAST(CAST(SUM(CAST({expr} AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE)"
    " / COUNT({expr})"
)
