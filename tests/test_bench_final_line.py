"""bench.py's final line is a pure function of the run's timings.

The driver benches the same tree twice per round (32 and 8 cores) and
compares the per-query detail of the two final lines, and of successive
rounds. The detail set is therefore the longest HEADLINE prefix that fits
the 1900-byte capture window, whatever BENCH records sit on disk.
"""

from __future__ import annotations

import importlib.util
import json
import random
import shutil
import sys
from pathlib import Path

_REPO = Path(__file__).resolve().parent.parent
_spec = importlib.util.spec_from_file_location("bench_mod", _REPO / "bench.py")
bench = importlib.util.module_from_spec(_spec)
sys.modules.setdefault("bench_mod", bench)
_spec.loader.exec_module(bench)

CONTRACT_KEYS = {"metric", "value", "unit", "queries", "sf", "families", "omitted"}


def _timings(scale: float = 1.0) -> dict[str, float]:
    rng = random.Random(0)
    return {
        n: round(rng.uniform(0.2, 5.0) * scale, 3) for n in bench.HEADLINE
    }


def _line(timings: dict[str, float]) -> str:
    return bench._dumps(bench.final_line(timings, 0.1))


def test_final_line_fits_and_counts_every_query():
    assert len(bench.HEADLINE) == 289
    for scale in (1.0, 4.0):  # c32-like, then c8-like sizes
        timings = _timings(scale)
        line = _line(timings)
        assert len(line) <= bench._MAX_FINAL_LINE
        rec = json.loads(line)
        assert set(rec) == CONTRACT_KEYS
        assert rec["value"] == round(sum(timings.values()), 3)
        assert rec["omitted"] == len(timings) - len(rec["queries"])


def test_detail_sets_are_shared_headline_prefixes():
    c32 = list(json.loads(_line(_timings(1.0)))["queries"])
    c8 = list(json.loads(_line(_timings(4.0)))["queries"])
    for keys in (c32, c8):
        assert keys == bench.HEADLINE[: len(keys)]
    short, long_ = sorted((c32, c8), key=len)
    assert long_[: len(short)] == short
    assert len(short) >= 40


def test_final_line_ignores_bench_records_on_disk(
    monkeypatch, tmp_path, capsys
):
    timings = _timings()
    r14 = bench._parse_bench_file(_REPO / "BENCH_r14.json")
    newer = {"queries": {n: 9.9 for n in bench.HEADLINE[:60]}}
    lines = []
    for prev in (None, r14, newer):
        monkeypatch.setattr(bench, "_latest_prev_bench", lambda sf, p=prev: p)
        bench.report(timings, 0.1, {}, bench_dir=tmp_path)
        lines.append(capsys.readouterr().out.splitlines()[-1])
    assert lines[0] == lines[1] == lines[2]
    assert lines[0] == _line(timings)


def test_latest_prev_bench_skips_low_core_sibling(tmp_path):
    for name in ("BENCH_r13.json", "BENCH_r14.json", "BENCH_r14_c8.json"):
        shutil.copy(_REPO / name, tmp_path / name)
    got = bench._latest_prev_bench(0.1, tmp_path)
    assert got == bench._parse_bench_file(_REPO / "BENCH_r14.json")
    assert got != bench._parse_bench_file(_REPO / "BENCH_r14_c8.json")


def test_report_skips_bench_records_of_another_scale(tmp_path, capsys):
    """A run diffs only against a record of its own ``sf``: the sf0.1
    records on disk give a sf0.001 run no deltas line and no delta
    keys, and a record with no ``sf`` never matches."""
    for name in ("BENCH_r13.json", "BENCH_r14.json"):
        shutil.copy(_REPO / name, tmp_path / name)
    assert bench._latest_prev_bench(0.001, tmp_path) is None
    (tmp_path / "BENCH_r15.json").write_text(json.dumps({"queries": {}}))
    assert bench._latest_prev_bench(0.1, tmp_path) == bench._parse_bench_file(
        _REPO / "BENCH_r14.json"
    )

    bench.report(_timings(), 0.001, {}, bench_dir=tmp_path)
    out = capsys.readouterr().out
    assert "delta_vs_prev" not in out
    last = json.loads((tmp_path / "last_run.json").read_text())
    assert not [k for k in last if "delta" in k], sorted(last)
