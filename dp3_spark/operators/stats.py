"""Multigranular statistics service — the btrdb-style summary subsystem.

The reference computes per-tree-node statistics at ingest (count/sum/mean/
min/max per numeric leaf field, text min/max, DDSketch quantiles) and serves
three read APIs: StatRange, Statistics (binned series), ListStatistics
(SURVEY.md §2.4; nodestore/statistics.go:98-179, treemgr/treemgr.go:376-501,
tree/tree.go:209-258).

Spark design: one partial and one merge.  `_partials` is the only raw ->
base-bucket aggregate (60 s by default, the reference's leaf width,
treemgr/treemgr.go:61-68) and `_merge` the only re-bucketing of partials —
the inner-node merge (nodestore/statistics.go:400-433), associative by
construction ("we are limited to associative statistics",
nodestore/statistics.go:22-28).  A merged partial is again a partial, so a
batch build, a foreachBatch maintainer, a compaction and every serve-time
roll-up emit the same rows by construction; `_finish` turns partials into
API rows.  Quantiles: `percentile` (exact) for oracle-checked query-time
results; the mergeable DDSketch map columns (operators/sketch.py, relative
accuracy 0.01) for the scale path, persisted and merged like every other
partial.

NaN/Inf are skipped in numeric stats, matching nodestore/statistics.go:108-127.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from dp3_spark.catalog import LogStore, time_range_filter
from dp3_spark.operators import sketch as SK
from dp3_spark.operators.merge import sort_rows

DEFAULT_GRANULARITY_NS = 60 * 1_000_000_000  # reference leaf width: 60 s

QUANTILES = (0.25, 0.5, 0.75, 0.9, 0.95, 0.99)  # nodestore/statistics.go:204-206


def _clean(field: str):
    """NaN/Inf-skipping view of a numeric field (statistics.go:108-114)."""
    c = F.col(field).cast("double")
    return F.when(~(F.isnan(c) | c.isin(float("inf"), float("-inf"))), c)


def _bucket(col: str, granularity_ns: int):
    """bucket_start of a time (or of a finer bucket start): floor to the
    granularity, int64 ns."""
    return (F.col(col) - F.col(col) % granularity_ns).alias("bucket_start")


def _partials(
    rows: DataFrame, keys: Sequence[str], granularity_ns: int,
    numeric: Sequence[str], text: Sequence[str], sketch: Sequence[str],
) -> DataFrame:
    """The only raw -> base-partial aggregate: one row per (keys,
    bucket_start) with message_count, the observed time range, per numeric
    field a count, sum, min and max, per text field min/max, and per
    sketch field a DDSketch map.  One shuffle, partial aggregation
    map-side.

    Sums are decimal(25,6): exact and order-independent (a float sum
    depends on partition order, so at 1000 executors the same query would
    differ run to run in the last bits), and a persisted partial that a
    later merge re-sums never round-trips double (which loses the 6th
    decimal past ~4.5e9, exactly the scale the store exists for)."""
    aggs = [
        F.count("*").alias("message_count"),
        F.min("log_time").alias("min_observed_time"),
        F.max("log_time").alias("max_observed_time"),
    ]
    for f in numeric:
        c = _clean(f)
        aggs += [
            F.count(c).alias(f"{f}_count"),
            F.sum(c.cast("decimal(25,6)")).cast("decimal(25,6)").alias(f"{f}_sum"),
            F.min(c).alias(f"{f}_min"),
            F.max(c).alias(f"{f}_max"),
        ]
    for f in text:
        aggs += [F.min(f).alias(f"{f}_text_min"), F.max(f).alias(f"{f}_text_max")]
    out = rows.groupBy(*keys, _bucket("log_time", granularity_ns)).agg(*aggs)
    bucketed = rows.withColumn("bucket_start", _bucket("log_time", granularity_ns))
    return _attach_sketches(out, keys, {
        f: SK.sketch_summarize(bucketed, keys=[*keys, "bucket_start"], field=f)
        for f in sketch
    })


def _merge(
    partials: DataFrame, keys: Sequence[str], granularity_ns: int,
    numeric: Sequence[str], text: Sequence[str], sketch: Sequence[str],
) -> DataFrame:
    """The only re-bucketing of partials: group them to (keys, bucket at
    `granularity_ns`), summing counts and decimal sums, taking min/max
    and merging sketch maps (SK.sketch_merge).  Any number of partial rows
    per bucket, in any order, merge to the same row; the output is a
    partial again.  Input sums may be double (API summaries) or decimal
    (persisted partials)."""
    aggs = [
        F.sum("message_count").alias("message_count"),
        F.min("min_observed_time").alias("min_observed_time"),
        F.max("max_observed_time").alias("max_observed_time"),
    ]
    for f in numeric:
        aggs += [
            F.sum(f"{f}_count").alias(f"{f}_count"),
            F.sum(F.col(f"{f}_sum").cast("decimal(25,6)"))
            .cast("decimal(25,6)")
            .alias(f"{f}_sum"),
            F.min(f"{f}_min").alias(f"{f}_min"),
            F.max(f"{f}_max").alias(f"{f}_max"),
        ]
    for f in text:
        aggs += [
            F.min(f"{f}_text_min").alias(f"{f}_text_min"),
            F.max(f"{f}_text_max").alias(f"{f}_text_max"),
        ]
    bucket = _bucket("bucket_start", granularity_ns)
    out = partials.groupBy(*keys, bucket).agg(*aggs)
    return _attach_sketches(out, keys, {
        f: SK.sketch_merge(
            partials.filter(F.col(f"{f}_sketch").isNotNull()).select(
                *keys, bucket, F.col(f"{f}_sketch").alias("sketch")
            ),
            keys=[*keys, "bucket_start"],
        )
        for f in sketch
    })


def _attach_sketches(
    partials: DataFrame, keys: Sequence[str], sketches: dict[str, DataFrame]
) -> DataFrame:
    """Left-join each field's per-(keys, bucket) sketch frame onto the
    partials as `{f}_sketch`/`{f}_sketch_n`.  A bucket with no finite
    values for a field keeps NULL maps (the serve path skips them)."""
    for f, sk in sketches.items():
        sk = sk.withColumnRenamed("sketch", f"{f}_sketch").withColumnRenamed(
            "sketch_n", f"{f}_sketch_n"
        )
        partials = partials.join(sk, [*keys, "bucket_start"], "left")
    return partials


def _finish(
    partials: DataFrame, numeric: Sequence[str], *, persisted: bool = False
) -> DataFrame:
    """Add each `{f}_mean` (before any sketch maps: the persisted column
    order) and, unless the rows are persisted partials that keep the exact
    decimal, cast each `{f}_sum` to the API's double."""
    sums = set() if persisted else {f"{f}_sum" for f in numeric}
    maps = [c for c in partials.columns if c.endswith(("_sketch", "_sketch_n"))]
    return partials.select(
        *(
            F.col(c).cast("double").alias(c) if c in sums else F.col(c)
            for c in partials.columns
            if c not in maps
        ),
        *(
            (F.col(f"{f}_sum").cast("double") / F.col(f"{f}_count")).alias(f"{f}_mean")
            for f in numeric
        ),
        *maps,
    )


def _ranged(
    partials: DataFrame, keys: Sequence[str], numeric: Sequence[str],
    start_ns: int, end_ns: int, granularity_ns: int, per_producer: bool,
) -> DataFrame:
    """StatRange rows from partials over [start, end), sorted by bucket."""
    cols = [*keys, "bucket_start", "message_count"]
    cols += [f"{f}_{s}" for f in numeric for s in ("count", "sum", "min", "max")]
    cols += [f"{f}_mean" for f in numeric]
    out = _finish(partials, numeric).select(*cols)
    return sort_buckets(out, start_ns, end_ns, granularity_ns, per_producer)


def _window(
    store: LogStore, topic: str, start_ns: int, end_ns: int, producer: str | None = None
) -> DataFrame:
    """One topic's raw rows in [start, end) (time_range_filter: the raw
    time column's bound reaches the scan), optionally one producer's."""
    df = time_range_filter(
        store.normalized().filter(F.col("topic") == topic), start_ns, end_ns
    )
    if producer is not None:
        df = df.filter(F.col("producer") == producer)
    return df


def summarize(
    store: LogStore,
    *,
    granularity_ns: int = DEFAULT_GRANULARITY_NS,
    numeric_fields: Sequence[str] = (),
    text_fields: Sequence[str] = (),
    group_by_producer: bool = True,
    schema_hash_col: str | None = None,
) -> DataFrame:
    """Base summary table: one row per (producer?, topic[, schema_hash],
    bucket) with associative stats per field.  At 100 TB this is the table
    you'd maintain incrementally with Structured Streaming foreachBatch
    (streaming/ingest.summary_maintainer emits the same partials).

    schema_hash_col: group additionally by the row's schema generation —
    the reference keys every statistics map by schema hash
    (nodestore/statistics.go:304-313, inner_node.go:32-46), so a
    mixed-schema topic (legal: treemgr_test.go:394-456) never merges stats
    across generations whose fields differ."""
    rows = store.normalized()
    keys = (["producer"] if group_by_producer else []) + ["topic"]
    if schema_hash_col is not None:
        rows = rows.withColumn("schema_hash", F.col(schema_hash_col))
        keys.append("schema_hash")
    parts = _partials(rows, keys, granularity_ns, numeric_fields, text_fields, ())
    return _finish(parts, numeric_fields)


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
    parts = _merge(summary, keys, to_granularity_ns, numeric_fields, text_fields, ())
    return _finish(parts, numeric_fields)


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


def sort_buckets(
    out: DataFrame, start_ns: int, end_ns: int, granularity_ns: int,
    per_producer: bool = False,
) -> DataFrame:
    """A per-bucket result over [start, end) sorted by bucket_start
    (merge.sort_rows).  Its row bound is the number of granularity
    buckets the window touches (log times are non-negative), or unknown
    with a row per producer and bucket (the producer count is not
    known)."""
    bound = (end_ns - 1) // granularity_ns - start_ns // granularity_ns + 1
    return sort_rows(out, ["bucket_start"], None if per_producer else max(0, bound))


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
    aligned_granularity_ns(granularity_ns)  # raises below the 60 s leaf
    keys = ["producer"] if group_by_producer else []
    rows = _window(store, topic, start_ns, end_ns, producer)
    return _ranged(
        _partials(rows, keys, granularity_ns, numeric_fields, (), ()),
        keys, numeric_fields, start_ns, end_ns, granularity_ns,
        group_by_producer and producer is None,
    )


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
    """Build and persist the base summary table (SummaryStore._write lays
    it out for serving), with a meta sidecar naming its granularity and
    fields.

    sketch_fields: additionally maintain a mergeable DDSketch-style
    quantile sketch per field as a `{f}_sketch` map<bin,count> column
    (operators/sketch.py) — the reference stores quantile summaries on
    inner nodes the same way (nodestore/statistics.go:129-155), which is
    what lets StatRange quantiles serve without touching raw rows."""
    import json
    import os

    keys = (["producer"] if group_by_producer else []) + ["topic"]
    parts = _partials(
        store.normalized(), keys, granularity_ns, numeric_fields, text_fields,
        sketch_fields,
    )
    SummaryStore._write(_finish(parts, numeric_fields, persisted=True), path)
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

    @staticmethod
    def _write(frame: DataFrame, path: str) -> None:
        """Persist partials laid out for serving: partitioned by topic
        (directory pruning per serve) and sorted by bucket_start within
        files (row-group min/max pruning of the time window).  The
        partition column must LEAD the sort order or FileFormatWriter
        re-sorts and silently destroys the clustering."""
        (
            frame.repartition("topic")
            .sortWithinPartitions("topic", "bucket_start")
            .write.mode("overwrite")
            .partitionBy("topic")
            .parquet(path)
        )

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

    def _slice(
        self, topic: str, start_ns: int, end_ns: int, producer: str | None
    ) -> DataFrame:
        """One topic's partials with bucket_start in [start, end) — the
        topic directory and the row groups of the window — optionally one
        producer's."""
        df = self._read().filter(F.col("topic") == topic)
        df = df.filter(
            (F.col("bucket_start") >= start_ns) & (F.col("bucket_start") < end_ns)
        )
        if producer is not None:
            df = df.filter(F.col("producer") == producer)
        return df

    def _servable(
        self, granularity_ns: int, start_ns: int = 0, end_ns: int = 0, *,
        numeric: Sequence[str] = (), text: Sequence[str] = (),
        sketch: Sequence[str] = (), producer: bool = False, schema_hash: bool = False,
    ) -> bool:
        """The one servability rule: a request is served iff it merges
        whole base buckets — the granularity a multiple of the base and
        the window base-aligned (a misaligned edge would need a partial
        bucket only raw rows can split) — of statistics this store
        maintains: its fields, sketches, and any producer or schema-hash
        axis.  A request finer than the 60 s leaf raises the reference's
        "sorry, too granular" error first."""
        aligned_granularity_ns(granularity_ns)
        b = self.granularity_ns
        return (
            not (granularity_ns % b or start_ns % b or end_ns % b)
            and set(numeric) <= set(self.numeric_fields)
            and set(text) <= set(self.text_fields)
            and set(sketch) <= set(self.sketch_fields)
            and (self.group_by_producer or not producer)
            and (not schema_hash or "schema_hash" in self._read().columns)
        )

    def _unservable(self) -> ValueError:
        return ValueError(
            f"not servable from {self.path}: needs whole base buckets and "
            "maintained fields, sketches and producer or schema-hash axes"
        )

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
        complete too; either is a valid store)."""
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
        parts = _merge(
            df, keys, self.granularity_ns, self.numeric_fields, self.text_fields,
            self.sketch_fields,
        )
        staging = self.path.rstrip("/") + "._compact"
        self._write(_finish(parts, self.numeric_fields, persisted=True), staging)
        n = self.spark.read.parquet(staging).count()
        meta_src = os.path.join(self.path, SUMMARY_META_FILE)
        if os.path.exists(meta_src):
            shutil.copy2(meta_src, os.path.join(staging, SUMMARY_META_FILE))
        os.rename(self.path, old)
        os.rename(staging, self.path)
        shutil.rmtree(old, ignore_errors=True)
        self._schema = None  # the rewrite may lay columns out anew
        return n

    def can_serve(
        self, *, start_ns: int, end_ns: int, granularity_ns: int,
        numeric_fields: Sequence[str], producer: str | None = None,
        group_by_producer: bool = False, **_ignored,
    ) -> bool:
        """StatRange servability (`_servable`)."""
        return self._servable(
            granularity_ns, start_ns, end_ns, numeric=numeric_fields,
            producer=producer is not None or group_by_producer,
        )

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
        if not self.can_serve(
            start_ns=start_ns, end_ns=end_ns, granularity_ns=granularity_ns,
            numeric_fields=numeric_fields, producer=producer,
            group_by_producer=group_by_producer,
        ):
            raise self._unservable()
        keys = ["producer"] if group_by_producer else []
        rows = self._slice(topic, start_ns, end_ns, producer)
        return _ranged(
            _merge(rows, keys, granularity_ns, numeric_fields, (), ()),
            keys, numeric_fields, start_ns, end_ns, granularity_ns,
            group_by_producer and producer is None,
        )

    def can_serve_quantiles(
        self, *, start_ns: int, end_ns: int, granularity_ns: int, field: str,
        producer: str | None = None,
    ) -> bool:
        """Sketch-quantile servability (`_servable`)."""
        return self._servable(
            granularity_ns, start_ns, end_ns, sketch=(field,),
            producer=producer is not None,
        )

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
        if not self.can_serve_quantiles(
            start_ns=start_ns, end_ns=end_ns, granularity_ns=granularity_ns,
            field=field, producer=producer,
        ):
            raise self._unservable()
        maps = self._slice(topic, start_ns, end_ns, producer).filter(
            F.col(f"{field}_sketch").isNotNull()
        ).select(
            _bucket("bucket_start", granularity_ns),
            F.col(f"{field}_sketch").alias("sketch"),
        )
        merged = SK.sketch_merge(maps, keys=["bucket_start"])
        out = SK.sketch_quantiles(
            merged, keys=["bucket_start"], quantiles=quantiles, values=values
        )
        return sort_buckets(out, start_ns, end_ns, granularity_ns)

    def summarize(
        self,
        *,
        granularity_ns: int = DEFAULT_GRANULARITY_NS,
        numeric_fields: Sequence[str] = (),
        text_fields: Sequence[str] = (),
        group_by_producer: bool = True,
        schema_hash_col: str | None = None,
    ) -> DataFrame:
        """Statistics endpoint served from the store: merge partials and
        re-bucket (never touches raw).  Every unservable request raises
        ValueError so engine.summarize falls back to raw — an axis the
        store lacks must NEVER be silently dropped (a schema_hash axis
        dropped here would merge stats across schema generations, exactly
        what the per-generation keying exists to prevent).  A stored axis
        the request leaves out is merged away."""
        schema_hash = schema_hash_col is not None
        if not self._servable(
            granularity_ns, numeric=numeric_fields, text=text_fields,
            producer=group_by_producer, schema_hash=schema_hash,
        ):
            raise self._unservable()
        keys = (["producer"] if group_by_producer else []) + ["topic"]
        keys += ["schema_hash"] if schema_hash else []
        parts = _merge(
            self._read(), keys, granularity_ns, numeric_fields, text_fields, ()
        )
        return _finish(parts, numeric_fields)


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
    Correctness baseline for the DDSketch path."""
    qlist = ", ".join(str(q) for q in quantiles)
    out = _window(store, topic, start_ns, end_ns).groupBy(
        _bucket("log_time", granularity_ns)
    ).agg(
        F.expr(f"percentile({field}, array({qlist}))").alias("qs"),
        F.count(F.col(field)).alias("n"),
    )
    for i, q in enumerate(quantiles):
        out = out.withColumn(f"p{int(q * 100)}", F.col("qs").getItem(i))
    return sort_buckets(out.drop("qs"), start_ns, end_ns, granularity_ns)


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
