"""Shared scaffolding for the exact pair kernels.

- ``spread``: re-spread small-file inputs to the session's parallelism.
- ``blocked_pairs``: the partition-pair scheme (every unordered pair of
  rows lands in exactly one ``blk_a <= blk_b`` block-pair task) with
  the per-pair work done by a numpy kernel over Arrow batches.
- ``fits_broadcast`` / ``attach``: the one measured broadcast gate.
  A broadcast hint bypasses ``autoBroadcastJoinThreshold``, so it is
  given only when the materialized table's array payload, measured
  with one aggregate, is at most ``BROADCAST_LIMIT_BYTES``; past the
  limit the join is hinted sort-merge, so the planner's own estimate
  cannot broadcast a table measured too big for the driver.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType

BROADCAST_LIMIT_BYTES = 256 * 1024 * 1024


def spread(df: DataFrame) -> DataFrame:
    """Small-file inputs arrive in 1-2 scan partitions, so heavy
    row-wise expressions (HOF lambdas are interpreted, not codegen'd)
    run single-threaded. Spread to the session's parallelism; no-op at
    scale, where scans already split into ≥cores partitions."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def fits_broadcast(table: DataFrame) -> bool:
    """True when the array payload of ``table`` (a materialized frame)
    is at most ``BROADCAST_LIMIT_BYTES``, counting 8 bytes per array
    element — the width of the long hashes and double vectors that
    dominate every pair-kernel payload."""
    arrays = [f.name for f in table.schema.fields if isinstance(f.dataType, ArrayType)]
    n = table.agg(F.sum(sum(F.size(c) for c in arrays))).collect()[0][0] or 0
    return n * 8 <= BROADCAST_LIMIT_BYTES


def attach(side: DataFrame, broadcast: bool) -> DataFrame:
    """Join-side hint for the gate's decision."""
    return F.broadcast(side) if broadcast else side.hint("merge")


def blocked_pairs(
    blocks: DataFrame,
    n_blocks: int,
    kernel: Callable,
    schema: str,
) -> DataFrame:
    """Run ``kernel`` once per block pair ``blk_a <= blk_b``.

    ``blocks`` has an int ``blk`` column in ``[0, n_blocks)`` plus
    payload columns. The table is materialized once (eager
    localCheckpoint), so both join sides read it instead of each
    re-running the scan → block-building subtree. The tiny pair-meta
    table is fanned out to the task count FIRST and the payloads are
    attached after, by broadcast when ``fits_broadcast``: the exchange
    carries two ints per pair and each block's bytes move once (a
    shuffle join ships every block once PER PAIR — measured 521 MB
    shuffled at sf1.0 jaccard vs ~20 MB broadcast, and ~30 GB at the
    500k-vector GEMM leg). The explicit repartition also keeps AQE from
    coalescing the expanding kernel onto 1-2 tasks.

    ``kernel(a, b)`` gets each side's payload as a dict of column name
    → cell, with ``b`` None when the pair is a block with itself, and
    returns a pandas DataFrame matching ``schema`` (or None)."""
    sess = blocks.sparkSession
    blocks = blocks.localCheckpoint(eager=True)
    cols = [c for c in blocks.columns if c != "blk"]
    broadcast = fits_broadcast(blocks)
    pair_meta = sess.createDataFrame(
        [(i, j) for i in range(n_blocks) for j in range(i, n_blocks)],
        "blk_a int, blk_b int",
    )
    par = sess.sparkContext.defaultParallelism
    ntasks = min(n_blocks * (n_blocks + 1) // 2, 4 * par)
    sides = [
        attach(
            blocks.select(
                F.col("blk").alias(f"blk_{s}"), *[F.col(c).alias(f"{c}_{s}") for c in cols]
            ),
            broadcast,
        )
        for s in ("a", "b")
    ]
    tasks = pair_meta.repartition(ntasks).join(sides[0], "blk_a").join(sides[1], "blk_b")

    def run(batches):
        for pdf in batches:
            for row in pdf.itertuples(index=False):
                a = {c: getattr(row, f"{c}_a") for c in cols}
                b = None
                if row.blk_a != row.blk_b:
                    b = {c: getattr(row, f"{c}_b") for c in cols}
                out = kernel(a, b)
                if out is not None and len(out):
                    yield out

    return tasks.mapInPandas(run, schema)
