"""Tracing overhead: a traced and an untraced run of one workload and seed,
and the difference of their median op latencies.

    python3 perfbench/overhead.py --workload window_query --seed 7 --seconds 12
"""

from __future__ import annotations

import argparse
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
KEYS = ("append_p50_s", "scan_p50_s", "dml_p50_s")


def report_values(stdout: str) -> dict[str, float]:
    """``name value unit`` lines of a run's readable report."""
    out = {}
    for line in stdout.splitlines():
        parts = line.split()
        if len(parts) == 3 and parts[0] in KEYS:
            out[parts[0]] = float(parts[1])
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", default="12")
    args = ap.parse_args()
    runs = {}
    for trace in ("0", "1"):
        cmd = [
            sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", args.seconds, "--trace", trace,
        ]
        p = subprocess.run(cmd, capture_output=True, text=True, check=True)
        runs[trace] = report_values(p.stdout)
    for k in KEYS:
        if k in runs["0"] and k in runs["1"]:
            d = runs["1"][k] - runs["0"][k]
            print(f"{k:<14} untraced {runs['0'][k]:.4f} s  traced {runs['1'][k]:.4f} s  overhead {d:+.4f} s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
