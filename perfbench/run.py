"""Benchmark: the encrypted storage round-trip and a query workload.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. One client, one driver process,
``local[4]``, closed loop: each op starts when the previous one ends.
A run reads the committed corpus (see ``inputs.py``), draws its key
material and op order from ``--seed``, sets the program up
``SETUP_REPS`` times (the first launches the JVM; later ones restart
the SparkContext in it), runs one untimed warm-up pass over the
workload's op list that also checks every output, then repeats timed
passes for ``--seconds``, and at least the workload's ``passes``
(``workloads.py``). Everything the
run writes goes under ``.perfbench/`` in the checkout. The last line of
stdout is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``.

``--trace 0`` reports the end-to-end metrics, in CPU seconds. ``--trace
1`` alternates untraced and traced passes, at least one of each, and
reports per-layer metrics: span counters from the traced passes,
normalised per pass, and op latencies (wall time) from the untraced ones. The spans are written to
``.perfbench/trace-<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import resource
import shutil
import statistics
import sys
import tempfile
import time
from collections import defaultdict
from pathlib import Path

CORES = 4
SETUP_REPS = 3
DRIVER_MEMORY = "2g"

# End-to-end figures are CPU seconds: what the run's processes (the
# Python driver, the JVM, the Python workers) spend, without the JVM's JIT
# compiler threads (see ``tree_cpu_s``). On a shared 4-vCPU VM, wall time
# follows the neighbours' load: a whole run, set-up included, ran 1.6-2.7x
# slower under load, while the CPU seconds it spent rose by 0-40%. The
# JIT threads are left out because their share swings with how far
# compilation has got (6.9 s, then 3.1 s, in the first two timed passes
# of enc_roundtrip). Wall times are reported per layer.
END_TO_END = {
    # Median of SETUP_REPS set-ups (session, registry, staging) plus the
    # untimed warm-up pass; the first set-up's JVM launch is not the
    # median.
    "setup_s": "s",
    # One timed pass over the op list, as the sum of each op's median.
    "cpu_s": "s",
    # Geometric mean over the workload's ops (queries, or the storage ops
    # of enc_roundtrip) of each op's median.
    "op_cpu_geomean_s": "s",
}

_COMMON_UNITS = {
    "jobs": "count", "tasks": "count", "executor_cpu_s": "s", "jvm_gc_s": "s",
    "input_bytes": "B", "output_bytes": "B", "shuffle_write_bytes": "B",
    "spill_bytes": "B", "task_skew": "ratio", "driver_only_s": "s",
    "python_bytes": "B", "self_s": "s",
}
# Layers charged by span; registry's counters come from the warm-up pass.
COUNTER_LAYERS = (
    "registry", "encryption.cell", "encryption.io", "encryption.pme",
    "encryption.reffile", "operators.reffile_source", "operators",
)
# The encrypted-storage ops of enc_roundtrip.
ENC_OPS = (
    "cell_write", "cell_read_full", "cell_read_masked", "pme_write",
    "pme_read", "ref_write", "ref_read", "ref_scan",
)
# Time spent in calls one layer makes into another, per pass.
CALL_SPANS = {
    "encryption.cell.encrypt_columns_s": "encrypt_columns",
    "encryption.io.read_footer_s": "read_footer",
    "encryption.pme.ensure_pme_jar_s": "ensure_pme_jar",
    "operators.construct_s": "construct",
    "operators.execute_s": "execute",
}
_EXTRA_UNITS = {
    "fail_frac": "ratio",  # failed or wrong ops / ops attempted
    # The wall-time counterparts of the end-to-end figures, untraced.
    "setup_wall_s": "s",
    "wall_s": "s",
    "query_geomean_s": "s",
    # CPU seconds of the JIT compiler threads in one timed pass.
    "jit_cpu_s": "s",
    # Median latency of each encrypted-storage op, over untraced passes.
    # Per-layer, not end-to-end: they are 0 on the query workload, and an
    # end-to-end metric must be measurable on every workload.
    **{f"{op}_s": "s" for op in ENC_OPS},
    # Bytes the run stored / the same rows as plain Parquet.
    "bytes_per_user_byte": "ratio",
    # JVM VmHWM plus the driver's max RSS. Varies with GC timing by more
    # than any end-to-end bound, so it is a per-layer figure.
    "peak_rss_mb": "MB",
    "session.get_spark_s": "s",
    "registry.all_queries_s": "s",
    "registry.warmup_s": "s",
    "encryption.cell.decrypt_exprs": "count",
    "encryption.cell.decrypt_exprs_full": "count",
    "encryption.kms.generate_calls": "count",
    "encryption.kms.unwrap_calls": "count",
    **{k: "s" for k in CALL_SPANS},
    # Most persistent RDDs registered, and most MB their blocks held,
    # after any traced op.
    "ckpt.resident_rdds": "count",
    "ckpt.storage_mb": "MB",
    "trace.overhead_s": "s",
}


def per_layer_units() -> dict[str, str]:
    units = {f"{layer}.{c}": u for layer in COUNTER_LAYERS for c, u in _COMMON_UNITS.items()}
    units.update(_EXTRA_UNITS)
    return units


def _isolate(tmp: Path) -> None:
    """Keep every temporary file of the run (Python's, Spark's, the JVM's)
    under ``tmp``. Must run before the program is imported: some modules
    resolve temp roots at import time."""
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    # Every JVM the run starts (the launcher, the driver, javac): temp
    # files under ``tmp``, and no hsperfdata file in the system temp dir.
    # The JIT compiler threads live as long as the JVM, so their CPU time
    # can be told apart from the rest (see ``tree_cpu_s``).
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads -Djava.io.tmpdir={tmp}"
    )
    tempfile.tempdir = None


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _geomean(xs) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


_TICK = os.sysconf("SC_CLK_TCK")
# Thread names (as /proc truncates them) of the JVM's JIT compilers.
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _stat_fields(path: str) -> tuple[str, list[str]] | None:
    """The name and the fields after it of a /proc stat file."""
    try:
        with open(path) as f:
            stat = f.read()
    except OSError:  # exited while listing
        return None
    return stat[stat.index("(") + 1:stat.rindex(")")], stat[stat.rindex(")") + 2:].split()


def tree_cpu_s(jvm_pid: int | None) -> tuple[float, float]:
    """CPU seconds used so far by this process and every process under it
    (the JVM and its Python workers), without the JVM's JIT compiler
    threads; and those threads' own. Reaped children count too, so a
    worker that exits between two readings is not lost."""
    parent: dict[int, int] = {}
    ticks: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit() and (st := _stat_fields(f"/proc/{entry}/stat")):
            # After the name: state, ppid, ...; utime, stime, cutime and
            # cstime are the 14th to 17th fields of the line.
            fields = st[1]
            parent[int(entry)] = int(fields[1])
            ticks[int(entry)] = sum(int(x) for x in fields[11:15])
    me = os.getpid()
    total = 0
    for pid, t in ticks.items():
        p = pid
        while p not in (me, 0, 1) and p in parent:
            p = parent[p]
        if p == me:
            total += t
    jit = 0
    if jvm_pid is not None:
        for tid in os.listdir(f"/proc/{jvm_pid}/task"):
            st = _stat_fields(f"/proc/{jvm_pid}/task/{tid}/stat")
            if st and st[0] in _JIT_THREADS:
                jit += int(st[1][11]) + int(st[1][12])
    return (total - jit) / _TICK, jit / _TICK


def _rss_mb(pid: int | None) -> float:
    jvm_kb = 0
    if pid is not None:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    driver_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + driver_kb) / 1024.0


class Bench:
    def __init__(self, args, root: Path, work: Path):
        from inputs import corpus_dir, make_keys
        from spans import Tracer
        from workloads import LAYER_CALLS, Ctx, make

        self.args = args
        self.work = work
        data_dir = corpus_dir(args.sf)
        self.tracer = Tracer(enabled=bool(args.trace))
        self.ctx = Ctx(None, data_dir, work / "out", make_keys(args.seed), args.seed, self.tracer)
        self.wl = make(args.workload, self.ctx)
        for module, attr, layer in LAYER_CALLS:
            self.tracer.wrap(module, attr, layer, lambda: self.ctx.sc)
        self.attempted = 0
        self.failed = 0
        self.jvm_pid: int | None = None

    # -- phases -----------------------------------------------------------

    def _spark_conf(self) -> dict[str, str]:
        tmp = str(self.work / "tmp")
        return {
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
        }

    def setup(self) -> list[float]:
        from pyspark import SparkContext

        from project_final_parquet_spark.registry import all_queries
        from project_final_parquet_spark.session import get_spark

        ctx, tr = self.ctx, self.tracer
        walls, cpus = [], []
        for _ in range(SETUP_REPS):
            c0 = tree_cpu_s(self.jvm_pid)[0]
            t0 = time.perf_counter()
            with tr.span(None, "setup", "setup"):
                with tr.span(None, "get_spark", "session"):
                    if ctx.spark is not None:
                        ctx.spark.stop()
                        tr.forget_context()
                    ctx.spark = get_spark(master=f"local[{CORES}]", extra_conf=self._spark_conf())
                with tr.span(ctx.sc, "all_queries", "registry"):
                    ctx.queries = all_queries()
                with tr.span(ctx.sc, "stage", "stage"):
                    self.wl.stage()
                tr.collect(ctx.spark)
            walls.append(time.perf_counter() - t0)
            # The first set-up launches the JVM: its JIT threads are only
            # told apart from then on.
            self.jvm_pid = SparkContext._gateway.proc.pid
            cpus.append(tree_cpu_s(self.jvm_pid)[0] - c0)
        return walls, cpus

    def warmup(self) -> tuple[float, float]:
        """Untimed: one pass over the op list that checks every op's
        output. The first pass runs two to three times slower than the
        next (JIT); a second warm-up pass would not fit the run's time
        budget."""
        ctx, tr = self.ctx, self.tracer
        with tr.span(ctx.sc, "prepare", "bench"):
            self.wl.prepare()
        c0 = tree_cpu_s(self.jvm_pid)[0]
        t0 = time.perf_counter()
        with tr.span(ctx.sc, "warmup", "registry"), tr.suspended():
            attempted, failures = self.wl.warmup()
        elapsed = time.perf_counter() - t0
        cpu = tree_cpu_s(self.jvm_pid)[0] - c0
        tr.collect(ctx.spark)
        self.attempted += attempted
        self.failed += len(failures)
        for f in failures:
            print(f"warm-up failure: {f}", file=sys.stderr)
        return elapsed, cpu

    def timed(self, seconds: float) -> dict:
        """Whole passes over the op list until ``seconds`` have gone by,
        and at least the workload's ``passes``. With tracing on, untraced
        and traced passes alternate, starting untraced, and there are at
        least two."""
        ctx, tr, trace = self.ctx, self.tracer, bool(self.args.trace)
        ops = self.wl.ops()
        walls: dict[bool, list[float]] = {False: [], True: []}
        lat: dict[bool, dict[str, list[float]]] = {False: defaultdict(list), True: defaultdict(list)}
        # CPU seconds of each op, and of the JIT threads during it; untraced
        # passes only.
        cpu: dict[str, list[float]] = defaultdict(list)
        jit: dict[str, list[float]] = defaultdict(list)
        traced_passes: list[int] = []
        kms = [0, 0]
        ckpt: list[tuple[int, float]] = []
        deadline = time.perf_counter() + seconds
        min_passes = max(self.wl.passes, 2 if trace else 1)
        n = 0
        while True:
            traced = trace and n % 2 == 1
            tr.enabled = traced
            kms_before = self.wl.kms_calls()
            t0 = time.perf_counter()
            with tr.span(ctx.sc, f"pass{n}", "pass") as pass_span:
                for op in ops:
                    c, j = tree_cpu_s(self.jvm_pid)
                    a = time.perf_counter()
                    try:
                        with tr.span(ctx.sc, op.name, op.layer):
                            op.fn()
                    except Exception as e:  # noqa: BLE001 - counted, run goes on
                        self.failed += 1
                        print(f"op {op.name} failed: {e}", file=sys.stderr)
                    lat[traced][op.name].append(time.perf_counter() - a)
                    if not traced:
                        c2, j2 = tree_cpu_s(self.jvm_pid)
                        cpu[op.name].append(c2 - c)
                        jit[op.name].append(j2 - j)
                    self.attempted += 1
                    if traced:
                        tr.collect(ctx.spark)
                        ckpt.append(_ckpt_state(ctx.spark))
            walls[traced].append(time.perf_counter() - t0)
            print(f"pass {n} ({'traced' if traced else 'untraced'}): "
                  f"{walls[traced][-1]:.3f} s; "
                  + " ".join(f"{k}={v[-1]:.3f}" for k, v in lat[traced].items())
                  + ("" if traced else "; cpu " + " ".join(f"{k}={v[-1]:.2f}" for k, v in cpu.items())),
                  file=sys.stderr)
            if traced:
                tr.collect(ctx.spark)
                traced_passes.append(pass_span.id)
                kms_after = self.wl.kms_calls()
                kms = [k + b - a for k, a, b in zip(kms, kms_before, kms_after)]
            n += 1
            if time.perf_counter() >= deadline and n >= min_passes:
                break
        tr.enabled = trace
        return {"ops": [op.name for op in ops], "walls": walls, "lat": lat,
                "cpu": cpu, "jit": jit,
                "traced_passes": traced_passes, "kms": kms, "ckpt": ckpt}

    def stop(self) -> None:
        """Stop Spark and wait for the JVM (and with it the Python workers)
        to exit."""
        from pyspark import SparkContext

        if self.ctx.spark is None:
            return
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.ctx.spark.stop()
        self.ctx.spark = None
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
                raise

    # -- metrics ----------------------------------------------------------

    def end_to_end(self, setup: dict, t) -> dict[str, float]:
        cpu = {k: _median(v) for k, v in t["cpu"].items()}
        return {
            "setup_s": _median(setup["cpus"]) + setup["warm_cpu"],
            "cpu_s": sum(cpu[name] for name in t["ops"]),
            "op_cpu_geomean_s": _geomean(list(cpu.values())),
        }

    def per_layer(self, setup: dict, t) -> dict[str, float]:
        from spans import COMMON, layer_totals

        tr = self.tracer
        tr.finish()
        spans = tr.spans
        npass = max(1, len(t["traced_passes"]))
        under = _descendants(spans, set(t["traced_passes"]))
        totals = layer_totals(spans, under)
        warm = [s.id for s in spans if s.name == "warmup"]
        warm_totals = layer_totals(spans, set(warm))["registry"]
        out: dict[str, float] = {}
        for layer in COUNTER_LAYERS:
            src = warm_totals if layer == "registry" else totals.get(layer, dict.fromkeys(COMMON, 0.0))
            div = 1 if layer == "registry" else npass
            for c in COMMON:
                out[f"{layer}.{c}"] = src[c] if c == "task_skew" else src[c] / div

        def first(name):
            return next((s.end - s.start for s in spans if s.name == name), 0.0)

        out["fail_frac"] = self.failed / max(1, self.attempted)
        med = {k: _median(v) for k, v in t["lat"][False].items()}
        out["setup_wall_s"] = _median(setup["walls"]) + setup["warm_wall"]
        out["wall_s"] = sum(med[name] for name in t["ops"])
        out["query_geomean_s"] = _geomean(list(med.values()))
        out["jit_cpu_s"] = sum(_median(t["jit"][name]) for name in t["ops"])
        out["session.get_spark_s"] = first("get_spark")
        out["registry.all_queries_s"] = first("all_queries")
        out["registry.warmup_s"] = setup["warm_wall"]
        for metric, name in CALL_SPANS.items():
            out[metric] = sum(s.end - s.start for s in spans
                              if s.id in under and s.name == name) / npass
        lat = t["lat"][False]
        for op in ENC_OPS:
            out[f"{op}_s"] = _median(lat.get(op, []))
        wl = self.wl
        enc = self.args.workload == "enc_roundtrip"
        out["encryption.cell.decrypt_exprs"] = wl.decrypt_exprs("cell_read_masked") if enc else 0
        out["encryption.cell.decrypt_exprs_full"] = wl.decrypt_exprs("cell_read_full") if enc else 0
        out["encryption.kms.generate_calls"] = t["kms"][0] / npass
        out["encryption.kms.unwrap_calls"] = t["kms"][1] / npass
        out["bytes_per_user_byte"] = wl.stored_bytes() / wl.plain_bytes if enc else 0.0
        out["peak_rss_mb"] = _rss_mb(self.jvm_pid)
        out["ckpt.resident_rdds"] = max((c[0] for c in t["ckpt"]), default=0)
        out["ckpt.storage_mb"] = max((c[1] for c in t["ckpt"]), default=0.0)
        out["trace.overhead_s"] = _median(t["walls"][True]) - _median(t["walls"][False])
        return out


def _ckpt_state(spark) -> tuple[int, float]:
    """Persistent RDDs still registered, and the MB their blocks hold."""
    jsc = spark.sparkContext._jsc
    infos = jsc.sc().getRDDStorageInfo()
    mb = sum((i.memSize() + i.diskSize()) for i in infos) / 2**20
    return int(jsc.getPersistentRDDs().size()), mb


def _descendants(spans, roots: set[int]) -> set[int]:
    out = set(roots)
    for s in spans:  # spans are recorded parent-first
        if s.parent in out:
            out.add(s.id)
    return out


def parse_args(argv=None):
    from inputs import SCALES

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", choices=SCALES, default=SCALES[0],
                   help="corpus scale factor; the benchmark's tests use the smaller one")
    return p.parse_args(argv)


def run(args, root: Path) -> dict:
    work = root / ".perfbench" / f"{args.workload}-{args.seed}-{os.getpid()}"
    _isolate(work / "tmp")
    sys.path[:0] = [str(root), str(root / "tools")]
    try:
        bench = Bench(args, root, work)
        try:
            walls, cpus = bench.setup()
            warm_wall, warm_cpu = bench.warmup()
            setup = {"walls": walls, "cpus": cpus, "warm_wall": warm_wall, "warm_cpu": warm_cpu}
            print(f"set-ups: {', '.join(f'{x:.3f}' for x in walls)} s "
                  f"(cpu {', '.join(f'{x:.2f}' for x in cpus)} s); "
                  f"warm-up: {warm_wall:.3f} s (cpu {warm_cpu:.2f} s)", file=sys.stderr)
            timings = bench.timed(args.seconds)
            if args.trace:
                metrics = bench.per_layer(setup, timings)
                units = per_layer_units()
            else:
                metrics = bench.end_to_end(setup, timings)
                units = END_TO_END
        finally:
            bench.tracer.unwrap_all()
            bench.stop()
        if args.trace:
            bench.tracer.write(root / ".perfbench" / f"trace-{args.workload}-{args.seed}.json")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return {
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }


def main(argv=None) -> int:
    sys.path.insert(0, str(Path(__file__).resolve().parent))
    args = parse_args(argv)
    result = run(args, Path(__file__).resolve().parent.parent)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
