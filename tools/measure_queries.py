"""Isolated per-query measurement for the optimization rounds.

For each named query: bench-style isolation (gc + clearCache +
unpersist-all + JVM full GC), then time construction + noop-sink
execution (the bench's exact timed region), record the Spark job count
the query issued (statusTracker job-id delta — construction-eager
queries issue many) and the py4j round trips its construction made
(calls to the gateway client's ``send_command``, the driver's fixed
cost per query), and optionally dump ``explain('formatted')`` to a
plans directory.

Usage:
  python tools/measure_queries.py [--sf-dir DIR] [--plans DIR] \
      [--reps N] [--out FILE] query [query ...]

Timings print per rep; the minimum rep is the recorded number: the
first reps pay the page cache and JIT warm-up, so only isolated
re-timings are trusted, and like is compared against like.
"""

from __future__ import annotations

import argparse
import gc
import json
import sys
import threading
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from project_final_parquet_spark.registry import all_queries
from project_final_parquet_spark.session import get_spark


def isolate(spark) -> None:
    gc.collect()
    spark.catalog.clearCache()
    try:
        for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
            rdd.unpersist()
        spark._jvm.System.gc()
    except Exception:
        pass


def count_round_trips(spark) -> list[int]:
    """Wrap the gateway client's ``send_command`` so every py4j round
    trip this thread makes bumps the returned one-element counter. The
    deletes py4j's finalizer thread sends for collected JVM references
    are left out: when they fall is up to Python's garbage collector."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    caller = threading.get_ident()
    count = [0]

    def counting(*args, **kwargs):
        count[0] += threading.get_ident() == caller
        return send(*args, **kwargs)

    client.send_command = counting
    return count


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--plans", default=None, help="dir for explain dumps")
    ap.add_argument("--suffix", default="before", help="plan file suffix")
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--out", default=None, help="JSON results file")
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()

    spark = get_spark(app_name="measure")
    queries = all_queries()
    # same warm-up classes as bench.py so rep-1 is comparable
    tiny = str(Path(args.sf_dir).parent / "sf0.001")
    if not Path(tiny).is_dir():
        tiny = args.sf_dir
    for w in (
        "q1_pricing_summary",
        "sim_topk_cosine",
        "q7_top3_orders_per_customer",
        "graph_pagerank",
    ):
        queries[w](spark, tiny).write.format("noop").mode("overwrite").save()

    round_trips = count_round_trips(spark)
    results: dict[str, dict] = {}
    for name in args.names:
        if name not in queries:
            print(f"!! unknown query {name}", file=sys.stderr)
            continue
        tracker = spark.sparkContext.statusTracker()
        reps = []
        jobs = py4j = None
        df = None
        for r in range(args.reps):
            isolate(spark)
            j0 = tracker.getJobIdsForGroup(None)
            n0 = max(j0) if j0 else -1
            t0 = time.perf_counter()
            c0 = round_trips[0]
            df = queries[name](spark, args.sf_dir)
            py4j = round_trips[0] - c0
            df.write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            j1 = tracker.getJobIdsForGroup(None)
            n1 = max(j1) if j1 else -1
            jobs = n1 - n0
            reps.append(round(dt, 3))
            print(f"{name} rep{r}: {dt:.3f}s jobs={jobs} py4j={py4j}", flush=True)
        if args.plans and df is not None:
            import contextlib
            import io

            pdir = Path(args.plans)
            pdir.mkdir(parents=True, exist_ok=True)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            (pdir / f"{name}_{args.suffix}.txt").write_text(buf.getvalue())
        results[name] = {"reps": reps, "min": min(reps), "jobs": jobs, "py4j": py4j}

    line = json.dumps(results, separators=(",", ":"))
    print(line)
    if args.out:
        Path(args.out).write_text(json.dumps(results, indent=1))


if __name__ == "__main__":
    main()
