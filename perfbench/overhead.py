#!/usr/bin/env python3
"""Tracing overhead: traced minus untraced end-to-end numbers.

    python3 perfbench/overhead.py --workload crawl_daily --seeds 1,2,3 [--seconds 10]

Runs ``perfbench/run.py`` once untraced and once traced per seed
(alternating which goes first) and prints, for every end-to-end metric,
the median of each mode and their difference. The traced run prints its
end-to-end numbers on ``metric`` lines even though its result carries the
per-layer metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LINE = re.compile(r"^metric (\S+) = (\S+) (\S+)$")


def measure(workload: str, seed: int, seconds: float, trace: int) -> dict[str, float]:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, check=True,
    ).stdout
    return {m[1]: float(m[2]) for m in map(LINE.match, out.splitlines()) if m}


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", required=True)
    p.add_argument("--seconds", type=float, default=10)
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        names = [m["name"] for m in json.load(f)["end_to_end"]]
    runs: dict[int, list[dict]] = {0: [], 1: []}
    for i, seed in enumerate(int(s) for s in args.seeds.split(",")):
        for trace in ((0, 1) if i % 2 == 0 else (1, 0)):
            runs[trace].append(measure(args.workload, seed, args.seconds, trace))
    for name in names:
        plain = statistics.median(r[name] for r in runs[0] if name in r)
        traced = statistics.median(r[name] for r in runs[1] if name in r)
        print(f"{name}: untraced {plain:.4g}  traced {traced:.4g}  "
              f"overhead {traced - plain:+.4g} ({(traced - plain) / plain:+.1%})")


if __name__ == "__main__":
    main()
