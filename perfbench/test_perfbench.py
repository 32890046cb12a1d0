"""The benchmark's own tests.

    python3 -m pytest perfbench/test_perfbench.py -q

The end-to-end tests run every workload once, untraced and traced, on the
small corpus (several minutes in all).
"""

from __future__ import annotations

import json
import re
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

from inputs import SCALES, corpus_dir, describe, make_keys  # noqa: E402
from run import END_TO_END, per_layer_units  # noqa: E402
from workloads import QUERY_WORKLOADS, WORKLOADS  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
TEST_SCALE = SCALES[-1]
SEED = 11


def _declared(kind: str) -> dict[str, str]:
    return {m["name"]: m["unit"] for m in SPEC[kind]}


def test_declared_names_match_the_code():
    assert _declared("end_to_end") == END_TO_END
    assert _declared("per_layer") == per_layer_units()
    assert [w["name"] for w in SPEC["workloads"]] == list(WORKLOADS)


def test_names_and_units_use_the_allowed_charset():
    names = [m["name"] for kind in ("end_to_end", "per_layer", "workloads") for m in SPEC[kind]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names), [n for n in names if not NAME.match(n)]
    units = [m["unit"] for kind in ("end_to_end", "per_layer") for m in SPEC[kind]]
    assert all(UNIT.match(u) for u in units)


def test_equal_seeds_give_identical_inputs():
    ops = [q for qs in QUERY_WORKLOADS.values() for q in qs]
    assert describe(7, ops) == describe(7, ops)
    assert describe(7, ops) != describe(8, ops)
    # The tables are fixed files; only the seed-drawn inputs vary.
    for sf in SCALES:
        assert (corpus_dir(sf) / "orders.parquet").is_file()


def _run(workload: str, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(SEED),
         "--seconds", "1", "--trace", str(trace), "--sf", TEST_SCALE],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", WORKLOADS)
def test_workload_runs_clean_and_prints_its_metrics(workload):
    out = _run(workload, trace=0)
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    assert {k: v["unit"] for k, v in out["metrics"].items()} == END_TO_END
    assert all(v["value"] > 0 for v in out["metrics"].values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_touches_the_layers_it_claims(workload):
    out = _run(workload, trace=1)
    assert out["correct"] and out["failed"] == 0
    m = {k: v["value"] for k, v in out["metrics"].items()}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == per_layer_units()
    assert m["fail_frac"] == 0
    enc = {k: v for k, v in m.items() if k.startswith("encryption.")}
    if workload == "enc_roundtrip":
        assert m["encryption.cell.decrypt_exprs"] == len(make_keys(SEED).masked_request)
        assert m["encryption.cell.decrypt_exprs_full"] == 6
        assert m["encryption.kms.generate_calls"] > 0
        assert m["encryption.kms.unwrap_calls"] > 0
        assert m["encryption.cell.jobs"] > 0 and m["encryption.reffile.jobs"] > 0
        assert m["operators.reffile_source.python_bytes"] > 0
        assert m["bytes_per_user_byte"] > 1
        assert all(m[f"{op}_s"] > 0 for op in ("cell_write", "pme_read", "ref_scan"))
    else:
        assert not any(enc.values()), {k: v for k, v in enc.items() if v}
        assert m["operators.jobs"] > 0 and m["operators.python_bytes"] > 0
        assert m["ckpt.resident_rdds"] > 0
