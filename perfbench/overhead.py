"""Tracing overhead: the same workload and seed run untraced, then traced.

    python3 perfbench/overhead.py --workload occ_ingest --seed 1 --seconds 10

The traced run repeats its own end-to-end figures as ``trace.op_p50_ms``
and ``trace.ops_per_s``; their difference from the untraced run's
``op_p50_ms`` and ``ops_per_s`` is the cost of the spans, job groups and
planning-tracker reads inside the timed window.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def metrics(workload: str, seed: int, seconds: float, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, timeout=300,
    )
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"run.py --trace {trace} exited {p.returncode}")
    out = json.loads(p.stdout.strip().splitlines()[-1])["metrics"]
    return {k: v["value"] for k, v in out.items()}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    a = ap.parse_args()
    plain = metrics(a.workload, a.seed, a.seconds, 0)
    traced = metrics(a.workload, a.seed, a.seconds, 1)
    report = {
        "workload": a.workload,
        "seed": a.seed,
        "op_p50_ms": {"untraced": plain["op_p50_ms"], "traced": traced["trace.op_p50_ms"],
                      "overhead_ms": traced["trace.op_p50_ms"] - plain["op_p50_ms"]},
        "ops_per_s": {"untraced": plain["ops_per_s"], "traced": traced["trace.ops_per_s"],
                      "overhead_frac": 1 - traced["trace.ops_per_s"] / plain["ops_per_s"]},
    }
    print(json.dumps(report))
    return 0


if __name__ == "__main__":
    sys.exit(main())
