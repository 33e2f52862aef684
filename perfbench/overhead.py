"""Tracing overhead: one untraced and one traced run of the same
workload and seed, back to back, and the ratio of their end-to-end
timings.

    python3 perfbench/overhead.py --workload season_rebuild --seed 1

Run from the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys


def _run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(os.path.dirname(__file__), "run.py"),
         "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        check=True, capture_output=True, text=True,
    ).stdout
    return json.loads(out.strip().splitlines()[-1])["metrics"]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=12)
    args = ap.parse_args()
    plain = _run(args.workload, args.seed, args.seconds, 0)
    traced = _run(args.workload, args.seed, args.seconds, 1)
    for name in ("op_p50_ms", "setup_s"):
        a, b = plain[name]["value"], traced[f"trace.{name}"]["value"]
        print(f"{name}: untraced {a:.4f} traced {b:.4f} "
              f"overhead {b / a - 1:+.1%}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
