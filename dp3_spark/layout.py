"""Partition counts and size estimates: every module asks here how many
partitions a frame gets and how big Catalyst thinks it is.

- `plan_bytes`: Catalyst's size estimate, or None when it is unknown.
- `spread`: a data-sized repartition of single-split inputs before fat
  per-row work; inputs already in many splits are left alone.
- `fan_out`: the re-spread of a byte-small shuffle whose per-row work is
  heavy.
- `drain_conf`: the state-partition count and no-data-batch setting of a
  terminating stateful stream drain.

At rest, versioned tables co-locate each producer's rows by their
`producer_bucket` directories (streaming/lifecycle.py), so no catalog
bucketing is needed.
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

# spread() targets, in bytes of Catalyst's input size estimate per partition.
# Measured at sf0.1: 8 data-sized partitions run the DSIR n-gram explode 2.5x
# faster than 32 (per-task overhead swamps 60k-ngram tasks).
SPREAD_BYTES = 64 << 10
# Shingling and window fingerprints do 128 hash folds per shingle, ~4x DSIR's
# per-byte work; the smaller target keeps their spread near the session
# parallelism at fixture scale (A/B'd: identical floors to repartition(par)).
SPREAD_TEXT_BYTES = 16 << 10


def plan_bytes(df: DataFrame) -> int | None:
    """Catalyst's size estimate of df, from the analyzed plan: driver
    metadata, no job and no optimizer pass.  None when the size is
    unknown: when any leaf of the plan has no statistics.  Such a leaf
    (a `createDataFrame` frame, list- or RDD-backed) reports
    spark.sql.defaultSizeInBytes (Long.MaxValue), and a projection over
    it scales that by the row-width ratio (~4e18 for one column of two),
    which no threshold can tell from a real size."""
    jdf = df._jdf
    plan = jdf.queryExecution().analyzed()
    unknown = jdf.sparkSession().sessionState().conf().defaultSizeInBytes()
    leaves = plan.collectLeaves()
    for i in range(leaves.size()):
        if int(leaves.apply(i).stats().sizeInBytes()) >= unknown:
            return None
    size = int(plan.stats().sizeInBytes())
    return None if size >= unknown else size


def spread(df: DataFrame, bytes_per_partition: int = SPREAD_BYTES) -> DataFrame:
    """Spread an UNDER-PARALLEL input before fat per-row work (n-gram
    explodes, shingling): a small parquet arrives as ONE split, which
    serializes the whole pass on one core.  An input already in many
    splits is left alone — repartitioning would shuffle the full text
    before the work, doubling ingest I/O at the 100 TB design point.  The
    partition count comes from the input size (bytes_per_partition each,
    at least 2, capped at the session's parallelism), never from the core
    count alone.  A frame of unknown size is left alone."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= max(2, par // 2):
        return df
    size = plan_bytes(df)
    if size is None:
        return df
    return df.repartition(min(par, max(2, -(-size // bytes_per_partition))))


def fan_out(df: DataFrame) -> DataFrame:
    """df over twice the session's cores.  For a byte-small shuffle
    output whose per-row work is heavy (candidate pairs before a verify
    or rerank fold): AQE coalesces it by bytes to 1-2 partitions, which
    would run that work on 1-2 cores."""
    return df.repartition(2 * df.sparkSession.sparkContext.defaultParallelism)


@contextmanager
def drain_conf(spark: SparkSession, n_rows: int) -> Iterator[int]:
    """Scope around the `start()` of a terminating stateful stream drain
    over `n_rows` input rows; yields the state-partition count.
    Structured Streaming fixes a stateful query's state partitioning at
    query start, so the confs are set only around `start()` and restored
    on exit, also when the body raises.

    - spark.sql.shuffle.partitions: every state partition pays a
      state-store checkpoint and a task per micro-batch, so a
      fixture-scale stream over 32 partitions is mostly that overhead
      (stream_interval_attrib: 5.8 -> 2.2 s at sf0.1).  ~25k rows per
      partition, at least 4, capped at the session's parallelism.
    - spark.sql.streaming.noDataMicroBatches.enabled=false: the trailing
      no-data batch only evicts or expires state that a drain ending
      right after never reads (~0.5-1 s of state-store commits).  Only
      for drains whose rows are emitted by data batches, not by timeouts
      or watermarks."""
    parts = min(spark.sparkContext.defaultParallelism, max(4, n_rows // 25_000))
    confs = {
        "spark.sql.shuffle.partitions": str(parts),
        "spark.sql.streaming.noDataMicroBatches.enabled": "false",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield parts
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)
