#!/usr/bin/env python3
"""Write the traced-run artifact: every per-layer figure per workload,
the per-entry ``operators.build_jobs`` lists and the tracing overhead.

For each workload it runs ``run.py`` twice with the same seed, untraced
and traced, one after the other; the overhead of tracing is the traced
end-to-end figure minus the untraced one (one pair per workload, so it
carries that pair's run-to-run noise).

Usage: python3 perfbench/trace_artifact.py OUT.json
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEED = 1
WORKLOADS = ("udf_queries", "stream_drain", "flow_run", "sql_queries")


def run_once(workload: str, seed: int, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "30", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    if proc.returncode != 0:
        raise SystemExit(f"{workload} trace={trace} failed:\n{proc.stderr[-2000:]}")
    detail, final = proc.stdout.strip().splitlines()[-2:]
    return {"detail": json.loads(detail), "final": json.loads(final)}


def main(out: str) -> None:
    artifact: dict = {"seed": SEED, "workloads": {}}
    for workload in WORKLOADS:
        plain = run_once(workload, SEED, 0)
        traced = run_once(workload, SEED, 1)
        d0, d1 = plain["detail"], traced["detail"]
        e0, e1 = d0["end_to_end"], d1["end_to_end"]
        overhead = {
            k: {"untraced": e0[k], "traced": e1[k], "traced_minus_untraced": e1[k] - e0[k]}
            for k in e0 if isinstance(e0[k], (int, float))
        }
        overhead["process_s"] = {
            "untraced": d0["process_s"], "traced": d1["process_s"],
            "traced_minus_untraced": d1["process_s"] - d0["process_s"],
        }
        artifact["workloads"][workload] = {
            "environment": d1["environment"],
            "correct": plain["final"]["correct"] and traced["final"]["correct"],
            "failures": d0["failures"] + d1["failures"],
            "per_layer": d1["layers"],
            "self_s_by_span": d1.get("self_s", {}),
            "operators.build_jobs_by_entry": d1.get("operators.build_jobs_by_entry", {}),
            "latency_by_entry": d1.get("latency_by_entry", {}),
            "spark_by_op": d1.get("spark_by_op", {}),
            "end_to_end_untraced": e0,
            "tracing_overhead": overhead,
        }
        print(f"{workload}: done", file=sys.stderr)
    with open(out, "w") as fh:
        json.dump(artifact, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main(sys.argv[1])
