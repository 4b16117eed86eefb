#!/usr/bin/env python3
"""Self-test of the benchmark itself (not of the engine).

Run from the repository root:

    python3 perfbench/selftest.py

For each workload it runs one untraced and one traced benchmark process
at sf0.001, each timing three passes, and checks that:

* every run exits 0, reports ``correct`` and no failed step;
* every metric BENCHMARK.json names is emitted with its unit, and no
  other;
* job, stage, task and shuffle-byte counts, and the final training MSE,
  repeat exactly across the traced passes;
* the layer split holds: ``model.*`` and ``ann.*`` are zero on
  query_mix and non-zero on model_ann, every ``load_table`` call runs
  exactly one job, and query_mix construction runs at least one job per
  ``load_table`` call.

Takes about four minutes on a 4-core box; prints every problem found
and exits 1 if there was any.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402


def bench(workload: str, trace: int) -> tuple[dict, dict]:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
        "--seed", "1", "--seconds", "0", "--trace", str(trace),
        "--sf", "0.001",
    ]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        raise RuntimeError(f"{' '.join(cmd[1:])} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2])["record"], json.loads(lines[-1])


def problems(workload: str, spec: dict) -> list[str]:
    out = []
    for trace, listed in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
        record, result = bench(workload, trace)
        if not result["correct"] or result["failed"]:
            out.append(f"trace={trace}: failed steps {record['red']}")
        emitted = {k: v["unit"] for k, v in result["metrics"].items()}
        wanted = {m["name"]: m["unit"] for m in listed}
        if emitted != wanted:
            out.append(f"trace={trace}: metrics differ from BENCHMARK.json: "
                       f"missing {sorted(set(wanted) - set(emitted))}, "
                       f"extra {sorted(set(emitted) - set(wanted))}, "
                       f"unit changes {sorted(k for k in wanted if k in emitted and emitted[k] != wanted[k])}")
        if trace == 0:
            continue
        first, *later = record["traced_counts"]
        moved = {k: [first[k]] + [c[k] for c in later] for k in first if any(c[k] != first[k] for c in later)}
        if moved:
            out.append(f"counts differ between traced passes: {moved}")
        m = {k: v["value"] for k, v in result["metrics"].items()}
        for layer in ("model.", "ann."):
            touched = [k for k in m if k.startswith(layer) and m[k]]
            if workload == "query_mix" and touched:
                out.append(f"{layer}* is non-zero on query_mix: {touched}")
            if workload == "model_ann" and not touched:
                out.append(f"{layer}* is all zero on model_ann")
        if m["tables.load_jobs"] != m["tables.load_calls"]:
            out.append(f"tables.load_jobs {m['tables.load_jobs']} != load_table calls {m['tables.load_calls']}")
        if workload == "query_mix" and m["queries.build_jobs"] < m["tables.load_calls"]:
            out.append("query_mix construction ran fewer jobs than load_table calls")
    return out


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if [w["name"] for w in spec["workloads"]] != list(run.WORKLOADS):
        print("selftest: BENCHMARK.json workloads differ from run.WORKLOADS")
        return 1
    failed = False
    for workload in run.WORKLOADS:
        found = problems(workload, spec)
        print(f"selftest {workload}: {'ok' if not found else 'FAIL'}")
        for p in found:
            print(f"  - {p}")
        failed = failed or bool(found)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
