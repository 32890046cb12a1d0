"""Checkpoint-state hygiene: eager queries clean up after themselves.

Round-6 adjudication measured the failure mode this pins down:
sim_pq_adc costs 2.0-2.7 s isolated but 61.7 s in a plain back-to-back
session where earlier iterative queries' localCheckpoint blocks were
still resident (the JVM only frees them on Python GC + ContextCleaner,
which a mixed workload never waits for). The fix (ckpt.py) makes each
eager query release its own superseded blocks at construction time —
an ENGINE property, not bench-harness hygiene.

Two gates:

1. A deterministic leftover-block budget per eager query: after
   construction + one full consumption, the net-new persistent RDDs
   must be at most the blocks backing the RETURNED frame (final
   iteration state / the 1-row greedy picks), never one per round.

2. The round-6 repro: graph_pagerank → sim_pq_adc → sim_pq_trained
   back-to-back in one plain session with NO manual unpersist/GC —
   each query's wall time must stay within 2x its isolated time
   (floored at +3 s so sub-second noise can't flake the test).
"""

from __future__ import annotations

import time

import pytest

from project_final_parquet_spark.registry import all_queries


def _persistent_count(spark) -> int:
    return int(spark.sparkContext._jsc.getPersistentRDDs().size())


def _clean_slate(spark) -> None:
    import gc

    gc.collect()
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist()


# query -> max net-new persistent RDDs its construction may leave
# behind (the blocks backing the returned frame, documented per query)
_LEFTOVER_BUDGET = {
    # final rank frame only (edges + round 1..N-1 released)
    "graph_pagerank": 1,
    # final label frame only (edge list + earlier rounds released)
    "graph_label_propagation": 1,
    # final CC label frame only (pair list + earlier rounds released)
    "dedup_cluster_components": 1,
    # 7 one-row pick frames (corpus-sized min-distance frames released)
    "sample_kcenter_coreset": 7,
    # 8 one-row pick frames (shortlist + sim matrix released)
    "sim_mmr_diversify": 8,
    # 5 one-row pick frames (fused slate + sim matrix released)
    "pipeline_e2e_rag": 5,
    # gram matrix (read by the returned Rayleigh plan) + final x
    "embeddings_top_eigenvector": 2,
    # driver-side codebook training: NO checkpoint blocks at all
    "sim_pq_trained": 0,
    "ml_kmeans": 0,
    # one lazy aggregation over the edge list: no checkpoint at all
    "graph_modularity_brands": 0,
}


@pytest.mark.parametrize("name", sorted(_LEFTOVER_BUDGET))
def test_eager_query_leftover_blocks_bounded(spark, sf_dir, name):
    _clean_slate(spark)
    before = _persistent_count(spark)
    df = all_queries()[name](spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    leftover = _persistent_count(spark) - before
    assert leftover <= _LEFTOVER_BUDGET[name], (
        f"{name} left {leftover} persistent RDDs resident "
        f"(budget {_LEFTOVER_BUDGET[name]}) — a mixed workload "
        "accumulates these across queries; release superseded "
        "checkpoints via ckpt.release()"
    )


def test_back_to_back_no_isolation(spark, sf_dir):
    """The round-6 repro, inverted into a regression gate: the heavy
    eager trio runs back-to-back in one plain session (no manual
    unpersist, no System.gc()) and each stays within 2x its isolated
    time + 3 s."""
    qs = all_queries()
    trio = ["graph_pagerank", "sim_pq_adc", "sim_pq_trained"]

    def run(name: str) -> float:
        t0 = time.perf_counter()
        qs[name](spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        return time.perf_counter() - t0

    isolated: dict[str, float] = {}
    for name in trio:
        _clean_slate(spark)
        run(name)  # JIT warm-up so both measurements are warm
        _clean_slate(spark)
        isolated[name] = run(name)

    _clean_slate(spark)
    dirty: dict[str, float] = {}
    for _ in range(2):  # two passes: state accumulates across queries
        for name in trio:
            dirty[name] = run(name)

    for name in trio:
        bound = 2.0 * isolated[name] + 3.0
        assert dirty[name] <= bound, (
            f"{name}: {dirty[name]:.1f}s back-to-back vs "
            f"{isolated[name]:.1f}s isolated (bound {bound:.1f}s) — "
            "leftover checkpoint state is taxing later queries again"
        )
