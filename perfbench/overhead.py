#!/usr/bin/env python3
"""Tracing overhead: traced minus untraced end-to-end numbers.

    python3 perfbench/overhead.py --workload curation_batch --seeds 1 2 3 --seconds 20

Runs the benchmark untraced and traced on each seed, alternating which
goes first, and prints per metric the medians of both and their
difference. The traced run reports its own op_p50_s and ops_per_s as
``trace.op_p50_s`` and ``trace.ops_per_s``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")


def run_once(workload: str, seed: int, seconds: float, trace: int) -> dict[str, float]:
    out = subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        check=True, capture_output=True, text=True,
    ).stdout
    return {k: v["value"] for k, v in json.loads(out.splitlines()[-1])["metrics"].items()}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=float, default=20)
    args = ap.parse_args()
    plain: dict[str, list[float]] = {"op_p50_s": [], "ops_per_s": []}
    traced: dict[str, list[float]] = {"op_p50_s": [], "ops_per_s": []}
    for i, seed in enumerate(args.seeds):
        for trace in ((0, 1) if i % 2 == 0 else (1, 0)):
            m = run_once(args.workload, seed, args.seconds, trace)
            for k in plain:
                (traced[k] if trace else plain[k]).append(m[f"trace.{k}" if trace else k])
    for k in plain:
        a, b = statistics.median(plain[k]), statistics.median(traced[k])
        print(f"{args.workload} {k}: untraced {a:.4f} traced {b:.4f} "
              f"overhead {b - a:+.4f} ({(b - a) / a:+.1%}) over {len(args.seeds)} seeds")
    return 0


if __name__ == "__main__":
    sys.exit(main())
