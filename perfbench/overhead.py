"""Tracing overhead: traced minus untraced round time, per workload.

    python3 perfbench/overhead.py [--seed N] [--workload NAME ...]

Run from the root of a checkout. For each workload it runs
``run.py --trace 0`` and ``run.py --trace 1`` on the same seed, one
after the other, and prints ``round_s``, the traced ``trace.round_s``
and their difference.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)


def result(workload: str, seed: int, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "5", "--trace", str(trace)],
        check=True, capture_output=True, text=True,
    ).stdout
    return json.loads(out.strip().splitlines()[-1])["metrics"]


def main(argv=None) -> int:
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--workload", nargs="*", default=sorted(WORKLOADS))
    args = p.parse_args(argv)
    print("| workload | round_s | traced round_s | overhead s | overhead % |")
    print("|---|---|---|---|---|")
    for w in args.workload:
        plain = result(w, args.seed, 0)["round_s"]["value"]
        traced = result(w, args.seed, 1)["trace.round_s"]["value"]
        d = traced - plain
        print(f"| {w} | {plain:.2f} | {traced:.2f} | {d:+.2f} | {100 * d / plain:+.0f} |")
    return 0


if __name__ == "__main__":
    sys.exit(main())
