"""Run every workload untraced and traced; print all metrics and the
tracing overhead.

    python3 perfbench/report.py [--seed N] [--seconds S]

Run from the repository root. Takes about five minutes on a 4-core host.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import workloads as W  # noqa: E402


def run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-2000:])
        raise SystemExit(f"{workload} (trace {trace}) exited {proc.returncode}")
    return json.loads(lines[-1])


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    args = ap.parse_args()
    for workload in W.WORKLOADS:
        plain = run(workload, args.seed, args.seconds, 0)
        traced = run(workload, args.seed, args.seconds, 1)
        print(f"== {workload} (seed {args.seed})")
        for label, res in (("untraced", plain), ("traced", traced)):
            print(f"{label}: correct={res['correct']} attempted={res['attempted']} "
                  f"failed={res['failed']} error_rate={res['failed'] / res['attempted']:.4f}")
        for name, m in {**plain["metrics"], **traced["metrics"]}.items():
            print(f"  {name:44s} {m['value']:14.4f} {m['unit']}")
        base = plain["metrics"]["suite_s"]["value"]
        over = traced["metrics"]["trace.suite_s"]["value"] - base
        print(f"  {'tracing overhead (trace.suite_s - suite_s)':44s} {over:14.4f} s "
              f"({over / base:+.1%})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
