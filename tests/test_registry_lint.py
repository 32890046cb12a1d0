"""Registry-wide structural gates.

The driver's CORRECTNESS canonicalizer sorts/hashes results with pandas,
which crashes on list-valued cells (round-3 ``text_inverted_index`` red
row: ``TypeError: unhashable type: 'list'``). These tests keep the local
gate at least as strict as the driver on output shape:

- no registered query emits an Array/Map/Struct output column
- every registered query has a docstring; no oracle table typos
- the registry's names and oracle SQL match a committed digest
- the driver-gate order, computed from the CORRECTNESS records, puts
  never-gated queries first and then the oldest evidence
- the registry docstring's eager-at-construction contract note names
  every query whose module-local call graph reaches localCheckpoint
"""

from __future__ import annotations

import ast
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

import lint_registry

import project_final_parquet_spark.registry as registry_mod
from project_final_parquet_spark.registry import (
    _load_all,
    _REGISTRY,
    all_queries,
    correctness_records,
    gate_order,
    latest_green,
)


def test_no_complex_output_columns(spark, sf_dir):
    offenders = lint_registry.complex_output_columns(spark, sf_dir)
    assert not offenders, "\n".join(offenders)


def test_static_lint_clean():
    assert lint_registry.static_problems() == []


# SHA-256 over the sorted (name, oracle SQL) pairs of the whole
# registry. Any change to a query name or an oracle string changes it;
# moving a query between modules, or changing the import order, does not.
REGISTRY_DIGEST = (
    "22b091faf616884d97da7b8e20944d331747a025af0f16bcafe725354f892e62"
)


def test_registry_snapshot():
    import hashlib

    _load_all()
    pairs = sorted((n, r.oracle) for n, r in _REGISTRY.items())
    assert len(pairs) == 459
    digest = hashlib.sha256(json.dumps(pairs).encode()).hexdigest()
    assert digest == REGISTRY_DIGEST


def _records_through(last_round: int) -> dict[int, dict]:
    """The committed records up to ``last_round``: a window pinned to
    them stays the same when later rounds are committed."""
    return {r: rec for r, rec in correctness_records().items() if r <= last_round}


def test_gate_order_puts_never_gated_first():
    _load_all()
    records = correctness_records()
    latest = latest_green(records)
    order = gate_order(_REGISTRY, records)
    assert sorted(order) == sorted(_REGISTRY)
    rounds = [latest.get(n, 0) for n in order]
    # never-gated (round 0) first, and evidence rounds never decrease
    assert rounds == sorted(rounds)


def test_gate_window_is_computed_from_the_records():
    _load_all()
    records = _records_through(14)
    latest = latest_green(records)
    window = gate_order(_REGISTRY, records)[:50]
    assert sum(1 for n in window if n not in latest) == 22
    assert sum(1 for n in window if latest.get(n) == 5) == 28
    # all_queries() exposes the same order to the driver
    assert list(all_queries())[:50] == gate_order(
        _REGISTRY, correctness_records()
    )[:50]


def test_gated_window_moves_to_the_back():
    _load_all()
    records = _records_through(14)
    window = gate_order(_REGISTRY, records)[:50]
    # a synthetic next round that gated exactly that window
    r15 = {n: {"hash_match": True} for n in window}
    order = gate_order(_REGISTRY, {**records, 15: r15})
    assert order[-50:] == sorted(window)
    # after it, every registered query has driver evidence
    assert set(latest_green({**records, 15: r15})) >= set(_REGISTRY)


def test_gate_order_without_records_is_name_order():
    _load_all()
    assert gate_order(_REGISTRY, {}) == sorted(_REGISTRY)


def test_eager_contract_note_is_complete():
    """The registry docstring's eager-query list must name every
    registered query whose module-local call graph reaches a
    ``.localCheckpoint()`` call (construction-time materialization).
    Extra documented names (e.g. the driver-side-collect pattern in
    ml_kmeans) are allowed but must be registered queries."""
    _load_all()
    doc = registry_mod.__doc__
    pkg = Path(registry_mod.__file__).resolve().parent
    flagged: set[str] = set()
    for py in list((pkg / "operators").glob("*.py")) + list(
        (pkg / "streaming").glob("*.py")
    ):
        tree = ast.parse(py.read_text())
        fns = {
            n.name: n
            for n in ast.walk(tree)
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
        }

        def has_ckpt(fn: ast.AST) -> bool:
            # .localCheckpoint() or the tracked ckpt.checkpoint() helper
            return any(
                isinstance(n, ast.Call)
                and (
                    (
                        isinstance(n.func, ast.Attribute)
                        and n.func.attr in ("localCheckpoint", "checkpoint")
                    )
                    or (
                        isinstance(n.func, ast.Name)
                        and n.func.id == "checkpoint"
                    )
                )
                for n in ast.walk(fn)
            )

        eager = {name for name, fn in fns.items() if has_ckpt(fn)}
        # propagate through module-local calls to a fixpoint
        changed = True
        while changed:
            changed = False
            for name, fn in fns.items():
                if name in eager:
                    continue
                refs = {
                    n.id
                    for n in ast.walk(fn)
                    if isinstance(n, ast.Name)
                }
                if refs & eager:
                    eager.add(name)
                    changed = True
        flagged |= eager & set(_REGISTRY)
    undocumented = {n for n in flagged if n not in doc}
    assert not undocumented, (
        f"eager queries missing from the registry contract note: "
        f"{sorted(undocumented)}"
    )
    # every name the note claims is eager must at least be a real query
    documented = {n for n in _REGISTRY if n in doc and "_" in n}
    assert flagged <= documented


_PKG = Path(registry_mod.__file__).resolve().parent


def test_operators_read_corpus_tables_through_load():
    """Corpus tables go through ``tables.load``, whose schema comes from
    the footer with no Spark job. Only ``sources.py``, which reads paths
    its caller gives, calls ``spark.read.parquet`` itself."""
    offenders = [
        f"{py.name}:{n}"
        for py in sorted((_PKG / "operators").glob("*.py"))
        if py.name != "sources.py"
        for n, line in enumerate(py.read_text().splitlines(), 1)
        if "spark.read.parquet(" in line
    ]
    assert not offenders, offenders


def test_no_chained_jvm_package_access():
    """JVM classes are resolved by fully-qualified name in one lookup
    (``getattr(jvm, "java.nio.ByteBuffer")``): each segment of an
    attribute chain such as ``_jvm.java.nio.ByteBuffer`` is a failing
    class lookup of its own."""

    def dotted(node: ast.AST) -> list[str]:
        names = []
        while isinstance(node, ast.Attribute):
            names.append(node.attr)
            node = node.value
        if isinstance(node, ast.Name):
            names.append(node.id)
        return names[::-1]

    offenders = set()
    for py in sorted(_PKG.rglob("*.py")):
        for node in ast.walk(ast.parse(py.read_text())):
            names = dotted(node) if isinstance(node, ast.Attribute) else []
            for i, name in enumerate(names[:-2]):
                if name in ("jvm", "_jvm") and all(
                    n[0].islower() for n in names[i + 1 : i + 3]
                ):
                    offenders.add(f"{py.relative_to(_PKG)}:{node.lineno}")
    assert not offenders, sorted(offenders)


def test_operator_modules_import_no_private_names_from_each_other():
    """A helper another operator module needs is a public name in its
    home module: no module under ``operators/`` imports an
    ``_``-prefixed name from a sibling."""
    siblings = {py.stem for py in (_PKG / "operators").glob("*.py")}
    offenders = [
        f"{py.name}:{node.lineno} {node.module}.{alias.name}"
        for py in sorted((_PKG / "operators").glob("*.py"))
        for node in ast.walk(ast.parse(py.read_text()))
        if isinstance(node, ast.ImportFrom)
        and node.level == 1
        and node.module in siblings
        for alias in node.names
        if alias.name.startswith("_")
    ]
    assert not offenders, offenders


def test_local_checkpoints_go_through_ckpt():
    """Every eager checkpoint is ``ckpt.checkpoint``, which records the
    blocks it creates so ``ckpt.release`` can free them: no raw
    ``.localCheckpoint(`` call outside ``ckpt.py``."""
    offenders = [
        f"{py.relative_to(_PKG)}:{n}"
        for py in sorted(_PKG.rglob("*.py"))
        if py.name != "ckpt.py"
        for n, line in enumerate(py.read_text().splitlines(), 1)
        if ".localCheckpoint(" in line
    ]
    assert not offenders, offenders
