#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Workloads:

- ``crawl_daily`` — the scheduler's daily recrawl over a large seen set
  (perfbench/crawl.py)
- ``query_mix``   — headline queries, every result checked (perfbench/querymix.py)
- ``crawl_full``  — initial crawl of a fresh synthetic site. Runnable for
  local A/Bs but not listed in BENCHMARK.json: every run pays ~30 s of
  JVM start and warm-up, and a third workload would not fit the
  benchmark's total time budget.

With ``--trace 0`` the last stdout line is the JSON result with the
end-to-end metrics; with ``--trace 1`` the same run is traced from
outside the program and the result carries the per-layer metrics
(perfbench/layers.py) and leaves its spans and per job group stage
metrics in ``perfbench/_work/traces/<workload>-<seed>/``. Earlier stdout
lines print every metric by name and unit, then workload details.
``--size tiny`` and ``--corrupt`` exist for the self-test
(perfbench/tests).
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("crawl_full", "crawl_daily", "query_mix")
# the scored end-to-end metrics (crawl: pages/s and listing freshness;
# query_mix: queries/s and query latency). latency_tail_s is printed but
# not scored: on crawl_daily every new listing lands in one wave, so it
# equals the median, and query_mix has too few executions per run for a
# tail steadier than its maximum.
END_TO_END = ("setup_s", "ops_per_s", "latency_p50_s", "peak_rss_mb")


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("default", "tiny"), default="default")
    p.add_argument("--corrupt", choices=("drop_doc", "change_row"), default=None)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "fundamental_spark", "__init__.py")):
        print(f"perfbench: no fundamental_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    from perfbench.common import (
        Ctx, RssSampler, jvm_stats, prepare_work, start_spark, stop_spark_and_children,
    )

    ctx = Ctx(workload=args.workload, seed=args.seed, seconds=args.seconds,
              trace=bool(args.trace), size=args.size, corrupt=args.corrupt,
              t_start=T_START)
    prepare_work(ctx)
    if args.workload == "query_mix":
        from perfbench import querymix as workload
    else:
        from perfbench import crawl as workload

    try:
        with RssSampler() as rss:
            spark = start_spark(ctx)
            ctx.t_spark = time.perf_counter()
            try:
                workload.run(ctx, spark)
                ctx.info["jvm"] = jvm_stats(spark)
            finally:
                stop_spark_and_children(spark)
        ctx.put("peak_rss_mb", rss.peak_mb, "MB")
        if ctx.trace:
            from perfbench import layers

            layers.finish(ctx)
            keep = {s["name"] for s in layers.metric_specs()}
        else:
            keep = set(END_TO_END)
    finally:
        shutil.rmtree(ctx.work, ignore_errors=True)

    # every number measured, by name and unit; in a traced run the
    # end-to-end ones include the tracing overhead (perfbench/overhead.py)
    for k, (v, u) in ctx.metrics.items():
        print(f"metric {k} = {v:.6g} {u}")
    metrics = {k: {"value": v, "unit": u} for k, (v, u) in ctx.metrics.items() if k in keep}
    ratio = ctx.failed / ctx.attempted if ctx.attempted else 1.0
    print(f"metric failed_ratio = {ratio:.6g} ratio")
    for k, v in ctx.info.items():
        print(f"info {k} = {v}")
    print(json.dumps({
        "correct": ctx.failed == 0 and ctx.attempted > 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
