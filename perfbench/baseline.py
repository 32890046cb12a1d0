"""Family × layer table from traced runs.

    python3 perfbench/baseline.py .perfbench/trace-*.json

Each trace file is the span list a ``--trace 1`` run writes. For every
op of a traced timed pass, the counters of the op's span and all spans
under it are summed; ops are grouped into families (the query name's
first word, ``tpch`` for ``q<N>_*``, or the storage path of an
encrypted op) and reported as the mean per op call.
"""

from __future__ import annotations

import json
import re
import sys
from collections import defaultdict
from pathlib import Path

COLUMNS = ("wall_s", "driver_only_s", "executor_cpu_s", "python_bytes", "shuffle_write_bytes", "jobs")


def family(op: str) -> str:
    head = op.split("_")[0]
    return "tpch" if re.fullmatch(r"q\d+", head) else head


def op_rows(spans: list[dict]) -> list[tuple[str, dict]]:
    by_id = {s["id"]: s for s in spans}
    kids = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append(s["id"])
    # Only traced passes record spans.
    rows = []
    for p in spans:
        if p["layer"] != "pass":
            continue
        for op_id in kids[p["id"]]:
            total = defaultdict(float)
            stack = [op_id]
            while stack:
                s = by_id[stack.pop()]
                for k, v in s["stats"].items():
                    if k != "task_skew":
                        total[k] += v
                stack.extend(kids[s["id"]])
            op = by_id[op_id]
            total["wall_s"] = op["end"] - op["start"]
            rows.append((op["name"], total))
    return rows


def table(paths: list[Path]) -> str:
    acc: dict[tuple[str, str], list[dict]] = defaultdict(list)
    for path in paths:
        workload = path.stem.split("-")[1]
        for name, total in op_rows(json.loads(path.read_text())):
            acc[(workload, family(name))].append(total)
    lines = [
        "| workload | family | ops | " + " | ".join(COLUMNS) + " |",
        "|---|---|---|" + "---|" * len(COLUMNS),
    ]
    for (workload, fam), rows in sorted(acc.items()):
        means = [sum(r.get(c, 0.0) for r in rows) / len(rows) for c in COLUMNS]
        cells = [f"{m:.0f}" if c.endswith(("bytes", "jobs")) else f"{m:.3f}"
                 for c, m in zip(COLUMNS, means)]
        lines.append(f"| {workload} | {fam} | {len(rows)} | " + " | ".join(cells) + " |")
    return "\n".join(lines)


if __name__ == "__main__":
    print(table([Path(p) for p in sys.argv[1:]]))
