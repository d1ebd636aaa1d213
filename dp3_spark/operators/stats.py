"""Multigranular statistics service — the btrdb-style summary subsystem.

The reference computes per-tree-node statistics at ingest (count/sum/mean/
min/max per numeric leaf field, text min/max, DDSketch quantiles) and serves
three read APIs: StatRange, Statistics (binned series), ListStatistics
(SURVEY.md §2.4; nodestore/statistics.go:98-179, treemgr/treemgr.go:376-501,
tree/tree.go:209-258).

Spark design: a summary TABLE at a base granularity (default 60 s like the
reference's leaf width, treemgr/treemgr.go:61-68), built by one map-side-
combinable groupBy; coarser granularities re-aggregate the summary, never
the raw data — all stats are associative by construction (the reference's
"we are limited to associative statistics", nodestore/statistics.go:22-28).
Quantiles: `percentile` (exact) for oracle-checked query-time results,
`approx_percentile` (t-digest, mergeable — the DDSketch analog, accuracy
documented 0.01) for the scale path.

NaN/Inf are skipped in numeric stats, matching nodestore/statistics.go:108-127.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from dp3_spark.catalog import LogStore, time_range_filter

DEFAULT_GRANULARITY_NS = 60 * 1_000_000_000  # reference leaf width: 60 s

QUANTILES = (0.25, 0.5, 0.75, 0.9, 0.95, 0.99)  # nodestore/statistics.go:204-206


def _clean(field: str):
    """NaN/Inf-skipping view of a numeric field (statistics.go:108-114)."""
    c = F.col(field).cast("double")
    return F.when(~(F.isnan(c) | c.isin(float("inf"), float("-inf"))), c)


def _sum_exact(field: str, *, exact: bool = False):
    """Exact (order-independent) sum: decimal accumulation, cast back to
    double for API output.  Float sums depend on partition order — at 1000
    executors the same query would return different last bits run-to-run;
    decimal sums are associative AND exact, which also makes them
    oracle-comparable.

    exact=True keeps the decimal(25,6) (for PERSISTED summary partials: a
    double bucket sum loses the 6th decimal past ~4.5e9, so re-merging
    double partials would diverge from the raw decimal path exactly at the
    scale the store exists for)."""
    s = F.sum(_clean(field).cast("decimal(25,6)"))
    return s.cast("decimal(25,6)") if exact else s.cast("double")


def summarize(
    store: LogStore,
    *,
    granularity_ns: int = DEFAULT_GRANULARITY_NS,
    numeric_fields: Sequence[str] = (),
    text_fields: Sequence[str] = (),
    group_by_producer: bool = True,
    schema_hash_col: str | None = None,
    exact_sums: bool = False,
) -> DataFrame:
    """Base summary table: one row per (producer?, topic[, schema_hash],
    bucket) with associative stats per field.

    exact_sums=True keeps `{f}_sum` as decimal(25,6) instead of double —
    required when the output is PERSISTED as summary partials that later
    merges re-sum (see _sum_exact); the serving layer casts to double at
    output.  API callers keep the double schema.

    bucket_start = floor(log_time / granularity) * granularity (int64 ns).
    One shuffle, partial aggregation map-side; at 100 TB this is the table
    you'd maintain incrementally with Structured Streaming foreachBatch.

    schema_hash_col: group additionally by the row's schema generation —
    the reference keys every statistics map by schema hash
    (nodestore/statistics.go:304-313, inner_node.go:32-46), so a
    mixed-schema topic (legal: treemgr_test.go:394-456) never merges stats
    across generations whose fields differ."""
    df = store.normalized()
    keys = ["topic"]
    if schema_hash_col is not None:
        keys.append(F.col(schema_hash_col).alias("schema_hash"))
    keys.append((F.col("log_time") - F.col("log_time") % granularity_ns).alias("bucket_start"))
    if group_by_producer:
        keys.insert(0, "producer")
    aggs = [
        F.count("*").alias("message_count"),
        F.min("log_time").alias("min_observed_time"),
        F.max("log_time").alias("max_observed_time"),
    ]
    for f in numeric_fields:
        c = _clean(f)
        aggs += [
            F.count(c).alias(f"{f}_count"),
            _sum_exact(f, exact=exact_sums).alias(f"{f}_sum"),
            F.min(c).alias(f"{f}_min"),
            F.max(c).alias(f"{f}_max"),
        ]
    for f in text_fields:
        aggs += [F.min(f).alias(f"{f}_text_min"), F.max(f).alias(f"{f}_text_max")]
    out = df.groupBy(*keys).agg(*aggs)
    for f in numeric_fields:
        out = out.withColumn(
            f"{f}_mean", F.col(f"{f}_sum").cast("double") / F.col(f"{f}_count")
        )
    return out


def rollup_summary(
    summary: DataFrame, *, from_granularity_ns: int, to_granularity_ns: int,
    numeric_fields: Sequence[str] = (), text_fields: Sequence[str] = ()
) -> DataFrame:
    """Re-bucket a finer summary to a coarser granularity by merging partial
    aggregates (the inner-node merge, nodestore/statistics.go:400-433) —
    never touches raw data.  `to` must be a multiple of `from`."""
    if to_granularity_ns % from_granularity_ns != 0:
        raise ValueError("target granularity must be a multiple of the base")
    keys = [c for c in ("producer", "topic", "schema_hash") if c in summary.columns]
    bucket = (F.col("bucket_start") - F.col("bucket_start") % to_granularity_ns).alias(
        "bucket_start"
    )
    aggs = [
        F.sum("message_count").alias("message_count"),
        F.min("min_observed_time").alias("min_observed_time"),
        F.max("max_observed_time").alias("max_observed_time"),
    ]
    for f in numeric_fields:
        aggs += [
            F.sum(f"{f}_count").alias(f"{f}_count"),
            F.sum(F.col(f"{f}_sum").cast("decimal(25,6)")).cast("double").alias(f"{f}_sum"),
            F.min(f"{f}_min").alias(f"{f}_min"),
            F.max(f"{f}_max").alias(f"{f}_max"),
        ]
    for f in text_fields:
        aggs += [
            F.min(f"{f}_text_min").alias(f"{f}_text_min"),
            F.max(f"{f}_text_max").alias(f"{f}_text_max"),
        ]
    out = summary.groupBy(*keys, bucket).agg(*aggs)
    for f in numeric_fields:
        out = out.withColumn(f"{f}_mean", F.col(f"{f}_sum") / F.col(f"{f}_count"))
    return out


# the reference tree stores statistics at leaf buckets of 60 s, with inner
# levels 64x wider each (tree.go bwidth / nodestore defaults) — StatRange
# requests finer than a leaf error with "sorry, too granular"
TREE_LEAF_WIDTH_NS = 60 * 1_000_000_000
TREE_BFACTOR = 64


class TooGranularError(ValueError):
    """Reference parity: tree.go:252-254."""


def aligned_granularity_ns(granularity_ns: int) -> int:
    """The node-width-aligned granularity the reference would serve: the
    widest tree level (60 s * 64^k) that is <= the requested maximum
    granularity (tree.go:210-217 — granularity is a maximum; results can be
    finer).  Requests finer than the 60 s leaf raise TooGranularError."""
    if granularity_ns < TREE_LEAF_WIDTH_NS:
        raise TooGranularError("sorry, too granular")
    width = TREE_LEAF_WIDTH_NS
    while width * TREE_BFACTOR <= granularity_ns:
        width *= TREE_BFACTOR
    return width


def stat_range(
    store: LogStore,
    *,
    topic: str,
    start_ns: int,
    end_ns: int,
    granularity_ns: int,
    numeric_fields: Sequence[str],
    producer: str | None = None,
    group_by_producer: bool = False,
) -> DataFrame:
    """StatRange API analog (routes/statrange.go:14-79): binned stats for one
    topic over [start, end) at the requested granularity.

    This is the RAW-derivation path — the correctness baseline and the
    fallback for requests that cannot be assembled from whole summary
    buckets.  The serving deployment answers from the persisted summary
    store instead (SummaryStore.stat_range below; DP3Engine.stat_range
    dispatches automatically), reading the topic's summary slice rather
    than the corpus.  Unlike the reference we can bin
    at ANY granularity >= the 60 s leaf width (exact aggregation, not tree
    buckets) — a documented superset; sub-leaf requests raise the
    reference's "sorry, too granular" error (tree.go:252-254), and
    aligned_granularity_ns() reports what bucket width the reference would
    have returned for a given request."""
    if granularity_ns < TREE_LEAF_WIDTH_NS:
        raise TooGranularError("sorry, too granular")
    df = time_range_filter(
        store.normalized().filter(F.col("topic") == topic), start_ns, end_ns
    )
    if producer is not None:
        df = df.filter(F.col("producer") == producer)
    keys = [(F.col("log_time") - F.col("log_time") % granularity_ns).alias("bucket_start")]
    if group_by_producer:
        keys.insert(0, F.col("producer"))
    aggs = [F.count("*").alias("message_count")]
    for f in numeric_fields:
        c = _clean(f)
        aggs += [
            F.count(c).alias(f"{f}_count"),
            _sum_exact(f).alias(f"{f}_sum"),
            F.min(c).alias(f"{f}_min"),
            F.max(c).alias(f"{f}_max"),
        ]
    out = df.groupBy(*keys).agg(*aggs)
    for f in numeric_fields:
        out = out.withColumn(f"{f}_mean", F.col(f"{f}_sum") / F.col(f"{f}_count"))
    return out.orderBy("bucket_start")


# ---------------------------------------------------------------------------
# Summary-store serving — the reference's defining performance feature.
#
# The reference serves StatRange/Statistics from statistics stored on inner
# tree nodes WITHOUT touching leaf data (tree/tree.go:214-258; README
# "trillions of points in under a second").  The Spark-native equivalent is a
# persisted base-granularity summary TABLE — topic-partitioned, bucket-sorted
# parquet maintained at ingest (streaming/ingest.summary_maintainer) or built
# by one batch pass (write_summary_store) — that every serving call re-buckets
# by merging partial aggregates.  A serve reads ~#buckets rows for one topic
# slice instead of the raw corpus: at 100 TB that is the difference between a
# sub-second probe and a cluster job.
# ---------------------------------------------------------------------------

SUMMARY_META_FILE = "_dp3_summary_meta.json"


def write_summary_store(
    store: LogStore,
    path: str,
    *,
    granularity_ns: int = DEFAULT_GRANULARITY_NS,
    numeric_fields: Sequence[str] = (),
    text_fields: Sequence[str] = (),
    group_by_producer: bool = True,
    sketch_fields: Sequence[str] = (),
) -> "SummaryStore":
    """Build and persist the base summary table, laid out for serving:
    partitioned by topic (directory pruning per serve) and sorted by
    bucket_start within files (row-group min/max pruning of the time
    window).  The partition column must LEAD the sort order or
    FileFormatWriter re-sorts and silently destroys the clustering.

    sketch_fields: additionally maintain a mergeable DDSketch-style
    quantile sketch per field as a `{f}_sketch` map<bin,count> column
    (operators/sketch.py) — the reference stores quantile summaries on
    inner nodes the same way (nodestore/statistics.go:129-155), which is
    what lets StatRange quantiles serve without touching raw rows."""
    import json
    import os

    s = summarize(
        store,
        granularity_ns=granularity_ns,
        numeric_fields=numeric_fields,
        text_fields=text_fields,
        group_by_producer=group_by_producer,
        exact_sums=True,  # persisted partials must not round-trip double
    )
    if sketch_fields:
        s = _attach_sketches(
            store.normalized(), s, granularity_ns=granularity_ns,
            sketch_fields=sketch_fields, group_by_producer=group_by_producer,
        )
    (
        s.repartition("topic")
        .sortWithinPartitions("topic", "bucket_start")
        .write.mode("overwrite")
        .partitionBy("topic")
        .parquet(path)
    )
    meta = {
        "granularity_ns": granularity_ns,
        "numeric_fields": list(numeric_fields),
        "text_fields": list(text_fields),
        "group_by_producer": group_by_producer,
        "sketch_fields": list(sketch_fields),
    }
    with open(os.path.join(path, SUMMARY_META_FILE), "w") as f:
        json.dump(meta, f)
    spark = store.df.sparkSession
    return SummaryStore(spark, path)


def _attach_sketches(
    df: DataFrame,
    base: DataFrame,
    *,
    granularity_ns: int,
    sketch_fields: Sequence[str],
    group_by_producer: bool,
) -> DataFrame:
    """Left-join per-(keys, bucket) DDSketch map columns onto the base
    summary frame.  A bucket with no finite values for a field keeps a
    NULL sketch (the serve path skips NULL maps before exploding)."""
    from dp3_spark.operators import sketch as SK

    keys = (["producer"] if group_by_producer else []) + ["topic"]
    bucketed = df.withColumn(
        "bucket_start", F.col("log_time") - F.col("log_time") % granularity_ns
    )
    out = base
    for f in sketch_fields:
        sk = SK.sketch_summarize(
            bucketed, keys=[*keys, "bucket_start"], field=f
        ).withColumnRenamed("sketch", f"{f}_sketch").withColumnRenamed(
            "sketch_n", f"{f}_sketch_n"
        )
        out = out.join(sk, [*keys, "bucket_start"], "left")
    return out


class SummaryStore:
    """Serving view over a persisted summary table.

    Accepts stores written by write_summary_store (meta sidecar) or
    maintained incrementally by streaming/ingest.summary_maintainer (pass
    the base granularity/fields explicitly).  A maintained store may hold
    MULTIPLE partial rows per (producer, topic, bucket) — a bucket whose
    rows spanned micro-batches — so every serve merges partials with the
    associative inner-node combine (nodestore/statistics.go:400-433); it
    never assumes one row per bucket.
    """

    def __init__(
        self,
        spark,
        path: str,
        *,
        granularity_ns: int | None = None,
        numeric_fields: Sequence[str] | None = None,
        text_fields: Sequence[str] = (),
        group_by_producer: bool | None = None,
        sketch_fields: Sequence[str] | None = None,
    ):
        import json
        import os

        meta_path = os.path.join(path, SUMMARY_META_FILE)
        meta = {}
        if os.path.exists(meta_path):
            with open(meta_path) as f:
                meta = json.load(f)
        self.spark = spark
        self.path = path
        self.granularity_ns = granularity_ns or meta.get("granularity_ns")
        if self.granularity_ns is None:
            raise ValueError("summary store needs a base granularity (meta or arg)")
        self.numeric_fields = tuple(
            numeric_fields if numeric_fields is not None else meta.get("numeric_fields", ())
        )
        self.text_fields = tuple(text_fields or meta.get("text_fields", ()))
        self.group_by_producer = (
            group_by_producer
            if group_by_producer is not None
            else meta.get("group_by_producer", True)
        )
        self.sketch_fields = tuple(
            sketch_fields if sketch_fields is not None else meta.get("sketch_fields", ())
        )
        self._schema: StructType | None = None

    def _read(self) -> DataFrame:
        """The store's rows.  The directory is listed on every read (a
        streaming sink grows it, and a cached listing would serve stale
        statistics); only the parquet schema is resolved once, by the
        first read that finds rows, so later reads skip the inference
        job.  An empty store raises and caches nothing."""
        if self._schema is not None:
            return self.spark.read.schema(self._schema).parquet(self.path)
        df = self.spark.read.parquet(self.path)
        self._schema = df.schema
        return df

    def compact(self) -> int:
        """Merge partial rows back to ONE row per (keys, bucket) — the
        WAL-merge analog for maintained stores: a summary_maintainer
        drain appends one partial per (bucket, micro-batch), so a
        long-running store's serve-time merge reads ever more rows for
        the same buckets.  Every serve stays correct without compaction
        (merging is associative); compaction restores the read
        amplification to 1 row/bucket.  Rewrites in place via a staging
        directory swap; returns the compacted row count.

        CONTRACT: quiesce the maintainer first — run compaction between
        drains (or stop the streaming query).  A partial row appended
        after the staging write's input listing but before the swap
        lands only in the superseded directory and is dropped with it.
        Crash safety: a crash between the two renames leaves the store
        path missing with the full pre-compact data intact at
        '<path>._old' — recover by renaming it back (the staging dir is
        complete too; either is a valid store).

        Sketch map columns merge with the same explode+re-sum the serve
        path uses; sums stay decimal (never round-trip double)."""
        import os
        import shutil

        # auto-recover from a compact that crashed between the two
        # renames: the store path is gone but '<path>._old' holds the
        # complete pre-compact data — rename it back before proceeding
        # (otherwise this compact's own os.rename(self.path, old) would
        # fail with an opaque OSError on the existing directory).
        old = self.path.rstrip("/") + "._old"
        if os.path.exists(old):
            if os.path.exists(self.path):
                # prior compact completed its second rename; the ._old
                # dir is superseded garbage left by a crash before rmtree
                shutil.rmtree(old, ignore_errors=True)
            else:
                os.rename(old, self.path)

        df = self._read()
        keys = [c for c in ("producer", "topic", "schema_hash") if c in df.columns]
        aggs = [
            F.sum("message_count").alias("message_count"),
            F.min("min_observed_time").alias("min_observed_time"),
            F.max("max_observed_time").alias("max_observed_time"),
        ]
        for f in self.numeric_fields:
            aggs += [
                F.sum(f"{f}_count").alias(f"{f}_count"),
                F.sum(F.col(f"{f}_sum").cast("decimal(25,6)"))
                .cast("decimal(25,6)")
                .alias(f"{f}_sum"),
                F.min(f"{f}_min").alias(f"{f}_min"),
                F.max(f"{f}_max").alias(f"{f}_max"),
            ]
        for f in self.text_fields:
            aggs += [
                F.min(f"{f}_text_min").alias(f"{f}_text_min"),
                F.max(f"{f}_text_max").alias(f"{f}_text_max"),
            ]
        out = df.groupBy(*keys, "bucket_start").agg(*aggs)
        for f in self.numeric_fields:
            out = out.withColumn(
                f"{f}_mean", F.col(f"{f}_sum").cast("double") / F.col(f"{f}_count")
            )
        for f in self.sketch_fields:
            sk = (
                df.filter(F.col(f"{f}_sketch").isNotNull())
                .select(*keys, "bucket_start", F.explode(f"{f}_sketch").alias("bin", "cnt"))
                .groupBy(*keys, "bucket_start", "bin")
                .agg(F.sum("cnt").alias("cnt"))
                .groupBy(*keys, "bucket_start")
                .agg(
                    F.map_from_entries(
                        F.collect_list(F.struct("bin", "cnt"))
                    ).alias(f"{f}_sketch"),
                    F.sum("cnt").alias(f"{f}_sketch_n"),
                )
            )
            out = out.join(sk, [*keys, "bucket_start"], "left")
        staging = self.path.rstrip("/") + "._compact"
        writer = out
        if "topic" in keys:
            writer = out.repartition("topic").sortWithinPartitions(
                "topic", "bucket_start"
            )
            writer.write.mode("overwrite").partitionBy("topic").parquet(staging)
        else:
            writer.sortWithinPartitions("bucket_start").write.mode(
                "overwrite"
            ).parquet(staging)
        n = self.spark.read.parquet(staging).count()
        meta_src = os.path.join(self.path, SUMMARY_META_FILE)
        if os.path.exists(meta_src):
            shutil.copy2(meta_src, os.path.join(staging, SUMMARY_META_FILE))
        old = self.path.rstrip("/") + "._old"
        os.rename(self.path, old)
        os.rename(staging, self.path)
        shutil.rmtree(old, ignore_errors=True)
        self._schema = None  # the rewrite may lay columns out anew
        return n

    def can_serve(
        self,
        *,
        start_ns: int,
        end_ns: int,
        granularity_ns: int,
        numeric_fields: Sequence[str],
        producer: str | None = None,
        group_by_producer: bool = False,
        **_ignored,
    ) -> bool:
        """A request is summary-servable iff it merges whole base buckets:
        the requested granularity is a multiple of the base AND the window
        is base-bucket-aligned (a misaligned edge would need a partial
        bucket only raw rows can split), the fields are a subset of the
        maintained ones, and any producer axis was kept at build time."""
        b = self.granularity_ns
        if granularity_ns < TREE_LEAF_WIDTH_NS:
            return True  # serve() raises the reference's too-granular error
        if granularity_ns % b or start_ns % b or end_ns % b:
            return False
        if not set(numeric_fields) <= set(self.numeric_fields):
            return False
        if (producer is not None or group_by_producer) and not self.group_by_producer:
            return False
        return True

    def stat_range(
        self,
        *,
        topic: str,
        start_ns: int,
        end_ns: int,
        granularity_ns: int,
        numeric_fields: Sequence[str],
        producer: str | None = None,
        group_by_producer: bool = False,
    ) -> DataFrame:
        """StatRange served from the summary store — same result schema
        (and, for servable requests, hash-identical results: gated by the
        stat_range_served driver row) as stats.stat_range over raw, while
        reading only the topic's summary slice."""
        if granularity_ns < TREE_LEAF_WIDTH_NS:
            raise TooGranularError("sorry, too granular")
        if not self.can_serve(
            start_ns=start_ns,
            end_ns=end_ns,
            granularity_ns=granularity_ns,
            numeric_fields=numeric_fields,
            producer=producer,
            group_by_producer=group_by_producer,
        ):
            raise ValueError(
                "request is not summary-servable (misaligned window, "
                "non-multiple granularity, or unmaintained field/axis)"
            )
        df = self._read().filter(F.col("topic") == topic)
        df = df.filter(
            (F.col("bucket_start") >= start_ns) & (F.col("bucket_start") < end_ns)
        )
        if producer is not None:
            df = df.filter(F.col("producer") == producer)
        keys = [
            (F.col("bucket_start") - F.col("bucket_start") % granularity_ns).alias(
                "bucket_start"
            )
        ]
        if group_by_producer:
            keys.insert(0, F.col("producer"))
        aggs = [F.sum("message_count").alias("message_count")]
        for f in numeric_fields:
            aggs += [
                F.sum(f"{f}_count").alias(f"{f}_count"),
                F.sum(F.col(f"{f}_sum").cast("decimal(25,6)")).cast("double").alias(f"{f}_sum"),
                F.min(f"{f}_min").alias(f"{f}_min"),
                F.max(f"{f}_max").alias(f"{f}_max"),
            ]
        out = df.groupBy(*keys).agg(*aggs)
        for f in numeric_fields:
            out = out.withColumn(f"{f}_mean", F.col(f"{f}_sum") / F.col(f"{f}_count"))
        return out.orderBy("bucket_start")

    def can_serve_quantiles(
        self,
        *,
        start_ns: int,
        end_ns: int,
        granularity_ns: int,
        field: str,
        producer: str | None = None,
    ) -> bool:
        """Single source of truth for quantile servability (shared by
        SummaryStore.quantiles and engine.stat_quantiles' dispatch —
        duplicated inline predicates drift): whole-base-bucket assembly
        plus a maintained sketch for the field."""
        b = self.granularity_ns
        if granularity_ns < TREE_LEAF_WIDTH_NS:
            return True  # quantiles() raises the reference's error itself
        if granularity_ns % b or start_ns % b or end_ns % b:
            return False
        if field not in self.sketch_fields:
            return False
        if producer is not None and not self.group_by_producer:
            return False
        return True

    def quantiles(
        self,
        *,
        topic: str,
        start_ns: int,
        end_ns: int,
        granularity_ns: int,
        field: str,
        quantiles: Sequence[float] = (0.5, 0.9, 0.99),
        producer: str | None = None,
        values: bool = False,
    ) -> DataFrame:
        """Quantiles served from the store's persisted DDSketch columns —
        the reference keeps quantile summaries on inner nodes for exactly
        this (nodestore/statistics.go:129-155): the probe reads the
        topic's summary slice, merges base-bucket sketch maps to the
        requested buckets (associative), and walks the merged bins; raw
        rows are never touched.  Merging 60 s sketches IS binning raw at
        the coarser bucket (bins are per-value), so the result is
        bit-identical to a raw derivation — the stat_quantiles_served
        driver row gates that end-to-end.

        values=False emits covering-bin indices (p{N}_bin, the
        cross-engine-exact surface); values=True emits representative
        float values (relative error <= the sketch accuracy)."""
        from dp3_spark.operators import sketch as SK

        if granularity_ns < TREE_LEAF_WIDTH_NS:
            raise TooGranularError("sorry, too granular")
        if not self.can_serve_quantiles(
            start_ns=start_ns,
            end_ns=end_ns,
            granularity_ns=granularity_ns,
            field=field,
            producer=producer,
        ):
            raise ValueError(
                "request is not sketch-servable (misaligned window, "
                "non-multiple granularity, unmaintained sketch field, or "
                "missing producer axis)"
            )
        df = self._read().filter(F.col("topic") == topic)
        df = df.filter(
            (F.col("bucket_start") >= start_ns) & (F.col("bucket_start") < end_ns)
        )
        if producer is not None:
            df = df.filter(F.col("producer") == producer)
        sk = df.filter(F.col(f"{field}_sketch").isNotNull()).select(
            (
                F.col("bucket_start") - F.col("bucket_start") % granularity_ns
            ).alias("bucket_start"),
            F.col(f"{field}_sketch").alias("sketch"),
            F.col(f"{field}_sketch_n").alias("sketch_n"),
        )
        merged = SK.sketch_merge(sk, keys=["bucket_start"])
        return SK.sketch_quantiles(
            merged, keys=["bucket_start"], quantiles=quantiles, values=values
        ).orderBy("bucket_start")

    def summarize(
        self,
        *,
        granularity_ns: int,
        numeric_fields: Sequence[str] = (),
        text_fields: Sequence[str] = (),
        group_by_producer: bool = True,
        schema_hash_col: str | None = None,
    ) -> DataFrame:
        """Statistics endpoint served from the store: merge partials and
        re-bucket via rollup_summary (never touches raw).  Requires the
        requested axes/fields to be maintained; every unservable request
        raises ValueError so engine.summarize falls back to raw — an axis
        the store lacks must NEVER be silently dropped (a schema_hash axis
        dropped here would merge stats across schema generations, exactly
        what the per-generation keying exists to prevent)."""
        if granularity_ns % self.granularity_ns:
            raise ValueError("granularity must be a multiple of the store base")
        if not set(numeric_fields) <= set(self.numeric_fields):
            raise ValueError("field not maintained in the summary store")
        if not set(text_fields) <= set(self.text_fields):
            raise ValueError("text field not maintained in the summary store")
        if group_by_producer and not self.group_by_producer:
            raise ValueError("store was built without the producer axis")
        base = self._read()
        if schema_hash_col is not None and "schema_hash" not in base.columns:
            raise ValueError("store was built without the schema-hash axis")
        if schema_hash_col is None and "schema_hash" in base.columns:
            # axis maintained but not requested: merge generations away
            # (associative stats), matching raw summarize's output shape
            base = base.drop("schema_hash")
        if not group_by_producer and self.group_by_producer:
            base = base.drop("producer")
        keep = ["message_count", "min_observed_time", "max_observed_time"]
        for f in numeric_fields:
            keep += [f"{f}_count", f"{f}_sum", f"{f}_min", f"{f}_max"]
        for f in text_fields:
            keep += [f"{f}_text_min", f"{f}_text_max"]
        keys = [c for c in ("producer", "topic", "schema_hash") if c in base.columns]
        base = base.select(*keys, "bucket_start", *keep)
        return rollup_summary(
            base,
            from_granularity_ns=self.granularity_ns,
            to_granularity_ns=granularity_ns,
            numeric_fields=numeric_fields,
            text_fields=text_fields,
        )


def quantiles_exact(
    store: LogStore,
    *,
    topic: str,
    field: str,
    start_ns: int,
    end_ns: int,
    granularity_ns: int,
    quantiles: Sequence[float] = QUANTILES,
) -> DataFrame:
    """Exact per-bucket quantiles via `percentile` (linear interpolation,
    matches DuckDB quantile_cont bit-for-bit on identical input sets).
    Correctness baseline for the sketch path."""
    df = time_range_filter(
        store.normalized().filter(F.col("topic") == topic), start_ns, end_ns
    )
    bucket = (F.col("log_time") - F.col("log_time") % granularity_ns).alias("bucket_start")
    qlist = ", ".join(str(q) for q in quantiles)
    aggs = [
        F.expr(f"percentile({field}, array({qlist}))").alias("qs"),
        F.count(F.col(field)).alias("n"),
    ]
    out = df.groupBy(bucket).agg(*aggs)
    for i, q in enumerate(quantiles):
        out = out.withColumn(f"p{int(q * 100)}", F.col("qs").getItem(i))
    return out.drop("qs").orderBy("bucket_start")


def quantiles_sketch(
    store: LogStore,
    *,
    topic: str,
    field: str,
    start_ns: int,
    end_ns: int,
    granularity_ns: int,
    quantiles: Sequence[float] = QUANTILES,
    accuracy: int = 10000,
) -> DataFrame:
    """Mergeable-sketch quantiles via approx_percentile — the scale path
    (t-digest-style, the DDSketch-0.01 analog; accuracy=10000 ≈ 1e-4 rank
    error)."""
    df = time_range_filter(
        store.normalized().filter(F.col("topic") == topic), start_ns, end_ns
    )
    bucket = (F.col("log_time") - F.col("log_time") % granularity_ns).alias("bucket_start")
    qlist = ", ".join(str(q) for q in quantiles)
    out = df.groupBy(bucket).agg(
        F.expr(f"approx_percentile({field}, array({qlist}), {accuracy})").alias("qs"),
        F.count(F.col(field)).alias("n"),
    )
    for i, q in enumerate(quantiles):
        out = out.withColumn(f"p{int(q * 100)}", F.col("qs").getItem(i))
    return out.drop("qs").orderBy("bucket_start")


def available_statistics(store: LogStore) -> DataFrame:
    """ListStatistics analog (treemgr/treemgr.go:569-653): fields and the
    stats valid for each, from the payload schema."""
    import pyspark.sql.types as T

    rows = []
    numeric = (T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.FloatType, T.DoubleType)
    for f in store.normalized().schema.fields:
        if f.name in ("producer", "topic", "log_time", "sequence"):
            continue
        if isinstance(f.dataType, numeric):
            stats = ["count", "sum", "mean", "min", "max"] + [
                f"p{int(q * 100)}" for q in QUANTILES
            ]
        elif isinstance(f.dataType, T.StringType):
            stats = ["min", "max"]
        else:
            continue
        for s in stats:
            rows.append((f.name, f.dataType.simpleString(), s))
    spark = store.df.sparkSession
    return spark.createDataFrame(rows, "field string, dtype string, stat string")
