"""Structured Streaming ingest pipeline — the WAL/merge path rebuilt
Spark-first (SURVEY.md §3.2).

Reference flow: MCAP file -> per-topic writers -> 60 s leaf buckets with
statistics -> WAL -> batched CoW merge with (log_time, sequence) dedup ->
rootmap flip (treemgr/treemgr.go:204-264, wal/walmgr.go, tree/merge.go).

Spark-native equivalents:
- micro-batches           <- WAL batching (size/staleness thresholds)
- watermark + dropDuplicatesWithinWatermark <- filter-merge dedup, with the
  same bounded scope (the reference dedups only within leaf-merge scope)
- partitioned parquet (producer, hour bucket) append  <- CoW tree write.
  For the TABLE path (VersionedLogTable) the rootmap-flip
  transactionality is provided by the committed-version watermark
  (lifecycle.py `_publish`/`committed_version`): writes land under an
  allocated version and become visible atomically when the watermark
  flips, so concurrent ingest+query get snapshot isolation without
  Delta/Iceberg.  This raw streaming sink below has file-grain
  visibility only (each file is complete; a batch appears file by file)
- foreachBatch summary upsert <- ingest-time statistics

All builders return unstarted queries/writers so tests can drive them with
in-memory rate/file sources.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

HOUR_NS = 3600 * 10**9


def canonical_stream(
    raw: DataFrame,
    *,
    producer_col: str,
    topic_col: str,
    time_col: str,
    sequence_col: str,
) -> DataFrame:
    """Normalize a streaming source to the canonical log-row shape and add
    the partition bucket column (hour buckets ≈ 60x the reference's 60 s
    leaves — right-sized for Parquet files at cluster scale)."""
    meta = {producer_col, topic_col, time_col, sequence_col}
    payload = [c for c in raw.columns if c not in meta]
    df = raw.select(
        F.col(producer_col).cast("string").alias("producer"),
        F.col(topic_col).cast("string").alias("topic"),
        F.col(time_col).cast("long").alias("log_time"),
        F.col(sequence_col).cast("long").alias("sequence"),
        *[F.col(c) for c in payload],
    )
    return df.withColumn("hour_bucket", (F.col("log_time") - F.col("log_time") % HOUR_NS))


def deduped_stream(df: DataFrame, *, watermark_delay: str = "10 seconds") -> DataFrame:
    """Idempotent-ingest dedup on (producer, topic, log_time, sequence)
    bounded by a watermark so state stays small — same bounded scope as the
    reference's per-leaf-merge dedup (mcap/filter_merge_iterator.go:14-37).

    Requires an event-time column; derives one from log_time ns."""
    with_ts = df.withColumn(
        # integer div: double division rounds ns values past 2^53*1000
        "event_time", F.timestamp_micros(F.expr("log_time div 1000"))
    )
    return with_ts.withWatermark("event_time", watermark_delay).dropDuplicatesWithinWatermark(
        ["producer", "topic", "log_time", "sequence"]
    )


def bloom_options(cols, *, ndv: int = 65_536, max_bytes: int = 131_072) -> dict[str, str]:
    """Parquet bloom-filter writer options for high-cardinality string
    columns — the storage-level analog of the reference's trigram
    signature pruning (server/executor/statfilter.go:112,
    nodestore/statistics.go:356-371, util/trigram/trigram.go:33-58): a
    string-equality probe for a value a row group does not contain skips
    the row group entirely (measured: an in-min/max-range miss reads 0
    rows instead of the full group; pinned in tests/test_plan_quality.py).
    Parquet min/max stats already subsume the trigram RANGE part; blooms
    restore the membership part the reference gets from signatures.

    Sizing: through Spark's partitioned writer the bloom is allocated at
    the FULL expected-ndv size per column chunk regardless of actual NDV
    (adaptive sizing never engages — measured: every PLAIN-encoded file
    of a partitionBy append carried a 1.05 MB bloom at the old 1M-ndv
    default, including 1-row files, i.e. pure overhead dominating small
    appends).  ndv=65k caps the filter at 128 KiB (~10 bits/value at 1%
    fpp — more distinct values per row group than the bucketed layout
    produces per (topic, producer_bucket) file), and max_bytes backstops
    callers passing a larger ndv.  Underestimating NDV only raises the
    false-positive rate (less pruning), never wrongness.

    Interplay with dictionary encoding (verified on-disk): parquet-mr
    DROPS the bloom for a chunk whose pages are all dictionary-encoded
    — correct, since the dictionary page is already an exact membership
    structure and the reader's dictionary filter skips the row group
    without it.  So the membership-pruning story per chunk is:
    dict-encoded (low NDV) -> dictionary filter, PLAIN fallback (high
    NDV — exactly where a bloom earns its bytes) -> this bounded
    bloom."""
    out: dict[str, str] = {}
    for c in cols:
        out[f"parquet.bloom.filter.enabled#{c}"] = "true"
        out[f"parquet.bloom.filter.expected.ndv#{c}"] = str(ndv)
    if cols:
        out["parquet.bloom.filter.max.bytes"] = str(max_bytes)
    return out


def ingest_writer(
    df: DataFrame,
    *,
    path: str,
    checkpoint: str,
    trigger_seconds: int = 5,
    bloom_cols: tuple[str, ...] = (),
):
    """Partitioned append writer: (producer, hour_bucket) directories.

    trigger=5 s mirrors the reference's WAL stale-batch flush bound
    (wal/walmgr.go:93).  At cluster scale you'd swap format("parquet") for
    Delta and gain rootmap-style version pinning for free.
    bloom_cols: payload string columns to write bloom filters for
    (trigram-pruning analog, see bloom_options)."""
    w = (
        df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
    )
    for k, v in bloom_options(bloom_cols).items():
        w = w.option(k, v)
    return (
        w.partitionBy("producer", "hour_bucket")
        .trigger(processingTime=f"{trigger_seconds} seconds")
        .outputMode("append")
    )


def summary_maintainer(
    df: DataFrame,
    *,
    granularity_ns: int,
    numeric_fields: list[str],
    sketch_fields: list[str] = (),
):
    """foreachBatch summary maintenance: each micro-batch emits its
    base-granularity partials through stats._partials, the same
    aggregate write_summary_store builds from (exact decimal sums, and
    per-bucket DDSketch maps for sketch_fields).  Partials land in any
    order and any number per bucket: every serve (SummaryStore) and
    rollup_summary merges them associatively, and SummaryStore.compact
    folds them back to one row per bucket.  `df` is the stream's source
    frame; each batch supplies its own rows."""
    from dp3_spark.operators.stats import _partials

    def update(batch: DataFrame, _epoch: int) -> DataFrame:
        return _partials(
            batch, ["producer", "topic"], granularity_ns, numeric_fields, (),
            sketch_fields,
        )

    return update
