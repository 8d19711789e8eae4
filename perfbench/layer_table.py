"""Per-layer table of one workload, with the tracing overhead.

    python3 perfbench/layer_table.py --workload bulk_build --seed 1

Runs the benchmark twice on the same seed, untraced (``--trace 0``) and
traced (``--trace 1``), and prints the per-layer metrics as a Markdown
table. The tracing overhead is the traced run's median measured-unit wall
(``trace.unit_wall_s``) minus the untraced run's ``wall_s``.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        stdout=subprocess.PIPE, text=True, timeout=900)
    if p.returncode != 0:
        sys.exit(f"run.py --trace {trace} exited with {p.returncode}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    args = ap.parse_args()
    plain = run(args.workload, args.seed, args.seconds, 0)
    traced = run(args.workload, args.seed, args.seconds, 1)
    print(f"| {args.workload} seed {args.seed} | value | unit |")
    print("|---|---:|---|")
    for name, m in traced["metrics"].items():
        print(f"| {name} | {m['value']:.4g} | {m['unit']} |")
    wall = plain["metrics"]["wall_s"]["value"]
    twall = traced["metrics"]["trace.unit_wall_s"]["value"]
    print(f"\ntracing overhead: {twall - wall:+.3f} s on a {wall:.3f} s unit "
          f"({100 * (twall - wall) / wall:+.1f}%)")
    print(f"correct: untraced {plain['correct']}, traced {traced['correct']}")


if __name__ == "__main__":
    main()
