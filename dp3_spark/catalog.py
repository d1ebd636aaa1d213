"""Catalog: fixture loading and the dp3 "log store" view of a table.

dp3's data model (SURVEY.md §1.1): messages keyed by (producer, topic,
log_time ns, sequence). The driver fixtures are TPC-H-ish parquet plus an
`events` stream table; `events` plays the role of a dp3 topic stream
(FIXTURES.md F6): producer := user_id, topic := event_type,
log_time := ts as int64 nanoseconds, sequence := event_id.

At 100 TB the log store would be a partitioned table
(partition by producer, date(log_time)); here it is a view over one parquet
file — all query code goes through `LogStore` so the physical layout can
change without touching operators.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    # events.ts has shipped as parquet TIMESTAMP(NANOS) in some fixture
    # generations — only readable as int64 nanos.  Harmless for µs-typed
    # files.  Runtime-settable, so this also works on a driver-owned session.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return {t: spark.read.parquet(f"{sf_dir}/{t}.parquet") for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Create (or reuse) the fixture temp views over sf_dir.

    Memoized per session: re-registering costs ~1 s warm (10 x
    spark.read.parquet footer/schema round trips + view swaps) and sat
    inside the hot path of every SQL-registered query — pure metadata
    work a long-lived service does once.  The memo caches only the view
    DEFINITIONS (DataFrame handles); every action still scans the parquet
    inputs.  Keyed on sf_dir because view names are session-global: a
    call for a different fixture dir re-registers everything."""
    memo = getattr(spark, "_dp3_fixture_views", None)
    if memo is not None and memo[0] == sf_dir:
        # cheap re-assert of the two confs load_tables would have set —
        # a caller that flipped them between calls would otherwise read
        # ns-typed fixtures wrong on a memo hit (ADVICE r10)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        return memo[1]
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    spark._dp3_fixture_views = (sf_dir, dfs)
    return dfs


@dataclass(frozen=True)
class LogStore:
    """Maps an arbitrary table onto dp3's (producer, topic, log_time,
    sequence, payload...) model.

    Reference: treemgr/treemgr.go:29-33 (one (producer, topic) pair = one
    storage tree). Here one (producer, topic) pair = one partition predicate
    Catalyst pushes down to the scan.

    Frozen: one store is shared by every caller of a memo
    (events_log_store, VersionedLogTable.log_store), so a variant is
    built with dataclasses.replace, never by assignment.
    """

    df: DataFrame
    producer_col: str
    topic_col: str
    time_col: str  # expression producing int64 nanoseconds
    sequence_col: str
    payload_cols: tuple[str, ...] = field(default_factory=tuple)
    # raw storage column implying log_time bounds (e.g. the untruncated ts
    # when time_col is a derived/truncated expression).  Derived columns
    # don't push down to parquet row-group stats; predicates on this one do.
    pushdown_time_col: str | None = None
    # optional trigram-signature probe hook (reference statfilter applied
    # inside the scan, executor/statfilter.go:102-127 via
    # tree/iterator.go:177-187): (column, needle, mode) -> a REPLACEMENT
    # raw frame restricted to files that can contain the needle
    # (operators/trigram.py pruning — a superset of matching rows, so the
    # scan's full predicate still applies unchanged).  Set by
    # VersionedLogTable.log_store(); the QL compiler consults it for
    # string-equality conjuncts on `probe_columns`.
    string_probe: object | None = None
    probe_columns: tuple[str, ...] = field(default_factory=tuple)
    # upper bound on the rows of `df` (the committed data files' recorded
    # row counts, summed by the manifest walk that planned the scan);
    # None = unknown.  Lets the compiler skip the as-of skew-guard count.
    row_bound: int | None = None

    PUSHDOWN_COL = "__ptime__"

    def normalized(self) -> DataFrame:
        """Project to the canonical dp3 row shape:
        (producer string, topic string, log_time long ns, sequence long,
        *payload [, __ptime__])."""
        cols = [
            F.col(self.producer_col).cast("string").alias("producer"),
            F.col(self.topic_col).cast("string").alias("topic"),
            F.col(self.time_col).alias("log_time"),
            F.col(self.sequence_col).cast("long").alias("sequence"),
        ]
        cols += [F.col(c) for c in self.payload_cols]
        if self.pushdown_time_col is not None:
            cols.append(F.col(self.pushdown_time_col).alias(self.PUSHDOWN_COL))
        return self.df.select(*cols)


    def producers(self) -> list[str]:
        """`from *` expansion (reference plan/plan.go:366-392)."""
        return [
            r[0]
            for r in self.normalized().select("producer").distinct().orderBy("producer").collect()
        ]

    def topics(self) -> list[str]:
        return [r[0] for r in self.normalized().select("topic").distinct().orderBy("topic").collect()]

    def table_summary(self) -> DataFrame:
        """Catalog endpoint analog (routes/routes.go:49-70): per (producer,
        topic) row-count and time bounds — a single map-side-combinable agg."""
        return (
            self.normalized()
            .groupBy("producer", "topic")
            .agg(
                F.count("*").alias("message_count"),
                F.min("log_time").alias("min_log_time"),
                F.max("log_time").alias("max_log_time"),
            )
        )


def time_range_filter(df: DataFrame, start_ns: int, end_ns: int) -> DataFrame:
    """Half-open [start, end) filter on log_time, plus — when the store
    exposes a raw pushdown column — the implied raw-column range so the
    predicate reaches parquet row-group stats.

    The raw column is either int64 ns (bounds widened 999 ns for µs
    truncation slack) or a parquet timestamp (bounds converted to µs,
    outward-rounded); either way the extra predicate is a superset of the
    exact log_time filter, so results are unchanged and row-group pruning
    still fires."""
    out = df.filter((F.col("log_time") >= start_ns) & (F.col("log_time") < end_ns))
    if LogStore.PUSHDOWN_COL in df.columns:
        dt = dict(df.dtypes)[LogStore.PUSHDOWN_COL]
        p = F.col(LogStore.PUSHDOWN_COL)
        if dt.startswith("timestamp"):
            lo = F.timestamp_micros(F.lit(start_ns // 1000)).cast(dt)
            hi = F.timestamp_micros(F.lit(-(-end_ns // 1000))).cast(dt)
            out = out.filter((p >= lo) & (p < hi))
        else:
            out = out.filter((p >= start_ns) & (p < end_ns + 999))
    return out


def drop_internal(df: DataFrame) -> DataFrame:
    return df.drop(LogStore.PUSHDOWN_COL)


def events_log_store(spark: SparkSession, sf_dir: str, *, us_truncate: bool = False) -> LogStore:
    """The driver's `events` table viewed as a dp3 log store.

    `ts` has shipped both as parquet TIMESTAMP(NANOS) (readable only as
    int64 ns via nanosAsLong) and TIMESTAMP(MICROS) (read as a timestamp
    type); both normalize here to dp3's native int64 nanoseconds
    (SURVEY.md §1.2).

    us_truncate: DuckDB's parquet reader serves µs precision, so its
    `epoch_ns(ts)` ends in 000.  Oracle-compared queries therefore run on
    µs-truncated nanos so both engines see the identical int64 — inherent
    for µs-typed files, applied as `ts - ts % 1000` for ns-typed ones.
    Engine semantics stay nanosecond-typed either way.

    Memoized per (session, sf_dir, us_truncate) — the register_views
    treatment (guide §5 driver metadata): the parquet footer/schema round
    trip plus dtype probe cost ~0.2-0.3 s inside the timed region of
    every stat_*/events_*/ql_* headline.  The memo caches the LogStore
    DEFINITION only (a DataFrame handle + column names, never rows); no
    caller mutates the returned store, and every action still scans the
    parquet input.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    memo = getattr(spark, "_dp3_event_stores", None)
    if memo is None:
        memo = spark._dp3_event_stores = {}
    key = (sf_dir, us_truncate)
    hit = memo.get(key)
    if hit is not None:
        return hit
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ts_type = dict(ev.dtypes)["ts"]
    if ts_type.startswith("timestamp"):
        # µs-typed file: derive int64 ns; the raw timestamp stays the
        # parquet-pushdown column (timestamp predicates reach row-group
        # stats, the derived long cannot).
        ev = ev.withColumn(
            "ts_ns", F.unix_micros(F.col("ts").cast("timestamp")) * F.lit(1000)
        )
        store = LogStore(
            df=ev,
            producer_col="user_id",
            topic_col="event_type",
            time_col="ts_ns",
            sequence_col="event_id",
            payload_cols=("value", "props"),
            pushdown_time_col="ts",
        )
        memo[key] = store
        return store
    time_col = "ts"
    pushdown = None
    if us_truncate:
        ev = ev.withColumn("ts_us", F.col("ts") - F.col("ts") % 1000)
        time_col = "ts_us"
        pushdown = "ts"  # derived ts_us doesn't push to parquet; raw ts does
    store = LogStore(
        df=ev,
        producer_col="user_id",
        topic_col="event_type",
        time_col=time_col,
        sequence_col="event_id",
        payload_cols=("value", "props"),
        pushdown_time_col=pushdown,
    )
    memo[key] = store
    return store
