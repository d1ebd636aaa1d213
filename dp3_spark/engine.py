"""DP3Engine: the top-level API a dp3 user would switch to.

Binds the QL front end (parser + compiler) to a readable LogStore and an
optional writable VersionedLogTable so BOTH statement types execute:

    engine.execute("from * click precedes purchase by less than 1 minutes;")
        -> DataFrame
    engine.execute("truncate my-robot /fix now;")
        -> None (applies a lifecycle truncate, visible to subsequent reads)

This is the `POST /databases/{db}/query` surface (routes/query.go) without
the HTTP layer: parse -> compile -> Catalyst, JSON shaping via
dp3_spark.output.
"""

from __future__ import annotations

import dataclasses
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

from dp3_spark.catalog import LogStore
from dp3_spark.output import to_json_lines, to_json_shape
from dp3_spark.plans import Compiler
from dp3_spark.ql import ast, parse
from dp3_spark.streaming.lifecycle import VersionedLogTable


class DP3Engine:
    def __init__(
        self,
        spark: SparkSession,
        store: LogStore | None = None,
        table: VersionedLogTable | None = None,
    ):
        """store: read surface.  table: writable store; when provided and no
        explicit `store` is given, reads go through the table (so deletes/
        truncates are visible)."""
        if store is None and table is None:
            raise ValueError("need a LogStore or a VersionedLogTable")
        self.spark = spark
        self.table = table
        self._explicit_store = store
        self._summary = None  # SummaryStore when attached (serve-from-summary)
        self._summary_of = None  # the LogStore that summary describes

    def _store(self) -> LogStore:
        if self._explicit_store is not None:
            return self._explicit_store
        # table-backed reads go through log_store() so the trigram-sidecar
        # probe hook (statfilter-in-scan) is active for QL string
        # equality.  log_store memoizes one store per committed snapshot
        # (generation, watermark): a request on an unchanged table re-reads
        # the two pointers and plans nothing, while every write moves a
        # pointer and is seen by the next request.  The store's row_bound
        # (summed manifest row counts) lets the compiler skip the as-of
        # skew-guard count job on tables too small to need slicing.
        return self.table.log_store()

    def execute(self, statement: str | ast.Statement) -> Optional[DataFrame]:
        """Run one QL statement (text or parsed).  Queries return a
        DataFrame; truncate applies to the writable table and returns
        None."""
        stmt = parse(statement) if isinstance(statement, str) else statement
        if stmt.truncate is not None:
            if self.table is None:
                raise ValueError("truncate requires a writable VersionedLogTable")
            t = stmt.truncate
            self.table.truncate(t.producer, t.topic, t.timestamp_ns)
            return None
        return Compiler(self._store()).compile_query(stmt.query)

    def query_json(self, statement: str, *, skeleton: bool = False):
        """JSON-lines result (Accept: application/json, routes/query.go:92-135)."""
        df = self.execute(statement)
        if df is None:
            return None
        return to_json_lines(df, skeleton=skeleton)

    def query_shaped(self, statement: str, *, skeleton: bool = False) -> DataFrame:
        df = self.execute(statement)
        assert df is not None
        return to_json_shape(df, skeleton=skeleton)

    def query_mcap(self, statement: str, out, *, skeleton: bool = False, **opts) -> int:
        """Default dp3 query output: ONE multiplexed MCAP stream with
        remapped schema/channel IDs (mcap/merge_coordinator.go;
        executor/executor.go:62-108).  Returns the message count."""
        from dp3_spark.sinks import query_to_mcap

        q = parse(statement).query
        assert q is not None
        # the sink sorts by its own (log_time, producer, topic, sequence)
        # order.  Compiled without a row bound, the statement's sort is a
        # range-partitioned orderBy, which Catalyst drops under the sink's,
        # so the export runs one sort; a one-task sort would leave its
        # single-partition exchange under the sink's.  (An as-of in the
        # statement then plans its skew guard as on any unbounded store.)
        store = dataclasses.replace(self._store(), row_bound=None)
        df = Compiler(store).compile_query(q)
        return query_to_mcap(df, out, skeleton=skeleton, **opts)

    # ------------------------------------------------------------------
    # Service surface: the reference's non-query HTTP routes
    # (routes/routes.go) as engine methods — import, statistics, catalog,
    # lifecycle, export/tail.  Each is a thin delegation to the subsystem
    # that owns the behavior; the engine only wires the store/table.

    def import_mcap(self, files: list[tuple[str, str]]) -> int:
        """POST /import analog: decode MCAP files (distributed, chunk
        granularity) and append under the next version with idempotent
        (producer, topic, log_time, sequence) dedup.  Returns the new
        version."""
        if self.table is None:
            raise ValueError("import requires a writable VersionedLogTable")
        from dp3_spark.sources.mcap import read_mcap

        # no ingest_dedup here: table.append applies the identical
        # (producer, topic, log_time, sequence) dropDuplicates — running
        # both would shuffle the full decoded rows twice
        return self.table.append(read_mcap(self.spark, files))

    def build_summary_store(self, path: str, **kwargs):
        """Build + attach the persisted base summary table that stat_range
        and summarize then serve from (the reference's serve-stats-from-
        stored-inner-nodes design, tree/tree.go:214-258).  In the streaming
        deployment the table is maintained incrementally instead
        (streaming/ingest.summary_maintainer); attach that store with
        attach_summary_store."""
        from dp3_spark.operators import stats as STAT

        store = self._store()
        self._summary = STAT.write_summary_store(store, path, **kwargs)
        self._summary_of = store
        return self._summary

    def attach_summary_store(self, path: str, **kwargs):
        """Attach an existing summary store (written by build_summary_store
        or appended by a summary_maintainer drain) for serving.  It is
        taken to describe the rows the engine reads now."""
        from dp3_spark.operators.stats import SummaryStore

        self._summary = SummaryStore(self.spark, path, **kwargs)
        self._summary_of = self._store()
        return self._summary

    def _stat_sources(self):
        """(the LogStore requests read now, the attached summary store
        while it still describes that store, else None).  A summary
        describes the store `_store()` returned at build/attach.  A table
        write moves log_store's memo to a new store, and a listing-fallback
        table store is never memoized, so after any append, delete,
        truncate or compact every request is derived from raw rows until a
        summary is rebuilt.  An explicit LogStore never changes."""
        store = self._store()
        return store, (self._summary if store is self._summary_of else None)

    def summarize(self, **kwargs) -> DataFrame:
        """Base statistics summary (routes/statrange.go family).  Served by
        merging the attached summary store when the request's axes/fields
        are maintained there; full-corpus aggregation only as fallback."""
        from dp3_spark.operators import stats as STAT

        store, s = self._stat_sources()
        if s is not None:
            try:
                return s.summarize(**kwargs)
            except ValueError:
                pass  # unmaintained axis/field/granularity: fall back to raw
        return STAT.summarize(store, **kwargs)

    def stat_range(self, **kwargs) -> DataFrame:
        """GET /statrange analog — binned stats for one topic.  Serves from
        the attached summary store whenever the request merges whole base
        buckets (granularity a multiple of the base, window bucket-aligned,
        fields maintained); hash-equality of the two paths is gated by the
        stat_range_served driver row."""
        from dp3_spark.operators import stats as STAT

        store, s = self._stat_sources()
        if s is not None and s.can_serve(**kwargs):
            return s.stat_range(**kwargs)
        return STAT.stat_range(store, **kwargs)

    def stat_quantiles(
        self,
        *,
        topic: str,
        start_ns: int,
        end_ns: int,
        granularity_ns: int,
        field: str = "value",
        quantiles: tuple[float, ...] = (0.5, 0.9, 0.99),
        producer: str | None = None,
        values: bool = True,
    ) -> DataFrame:
        """Binned quantiles for one topic.  Serves from the attached
        summary store's persisted DDSketch columns when the field is
        maintained and the window merges whole base buckets (summary ==
        raw gated by the stat_quantiles_served driver row); otherwise
        computes the same sketch from raw — identical bins either way,
        since merging base sketches IS binning raw at the coarser
        bucket."""
        from dp3_spark.operators import sketch as SK
        from dp3_spark.operators import stats as STAT

        STAT.aligned_granularity_ns(granularity_ns)  # raises below the 60 s leaf
        store, s = self._stat_sources()
        if s is not None and s.can_serve_quantiles(
            start_ns=start_ns, end_ns=end_ns, granularity_ns=granularity_ns,
            field=field, producer=producer,
        ):
            return s.quantiles(
                topic=topic, start_ns=start_ns, end_ns=end_ns,
                granularity_ns=granularity_ns, field=field,
                quantiles=quantiles, producer=producer, values=values,
            )
        rows = STAT._window(store, topic, start_ns, end_ns, producer).withColumn(
            "bucket_start", STAT._bucket("log_time", granularity_ns)
        )
        sk = SK.sketch_summarize(rows, keys=["bucket_start"], field=field)
        out = SK.sketch_quantiles(
            sk, keys=["bucket_start"], quantiles=quantiles, values=values
        )
        return STAT.sort_buckets(out, start_ns, end_ns, granularity_ns)

    def available_statistics(self) -> DataFrame:
        from dp3_spark.operators import stats as STAT

        return STAT.available_statistics(self._store())

    def resample(
        self,
        *,
        start_ns: int,
        end_ns: int,
        step_ns: int,
        value_cols: tuple[str, ...] = ("value",),
        method: str = "hold",
    ) -> DataFrame:
        """Fixed-rate resample of payload columns onto a time grid per
        (producer, topic) — operators/resample.py.  method: 'hold'
        (zero-order, multi-column) or 'linear' (interpolated, first
        value column)."""
        from dp3_spark.operators import resample as RS

        norm = self._store().normalized()
        if method == "hold":
            return RS.resample_hold(
                norm,
                start_ns=start_ns,
                end_ns=end_ns,
                step_ns=step_ns,
                value_cols=value_cols,
            )
        if method == "linear":
            return RS.resample_linear(
                norm,
                start_ns=start_ns,
                end_ns=end_ns,
                step_ns=step_ns,
                value_col=value_cols[0],
            )
        raise ValueError(f"unknown resample method {method!r}")

    def producers(self) -> list[str]:
        """GET /producers catalog endpoint."""
        return self._store().producers()

    def topics(self) -> list[str]:
        """GET /topics catalog endpoint."""
        return self._store().topics()

    def tables(self) -> DataFrame:
        """Catalog table summary: (producer, topic, count, time bounds)."""
        return self._store().table_summary()

    def delete(self, producer: str, topic: str, start_ns: int, end_ns: int) -> int:
        """DELETE range analog: tombstone [start, end) for one
        (producer, topic); visible to subsequent engine reads.  Returns
        the tombstone version."""
        if self.table is None:
            raise ValueError("delete requires a writable VersionedLogTable")
        return self.table.delete_range(producer, topic, start_ns, end_ns)

    def export(self, *, as_of_version: int | None = None) -> DataFrame:
        """GET /export analog: the full canonical table, optionally pinned
        to a historical version (tombstones applied as of that version)."""
        if self.table is None:
            raise ValueError("export requires a writable VersionedLogTable")
        return self.table.read(as_of_version=as_of_version)

    def version(self) -> int:
        """Current COMMITTED table version (the poll-tail cursor) — the
        published watermark, never an in-flight writer's allocation."""
        if self.table is None:
            raise ValueError("version requires a writable VersionedLogTable")
        return self.table.committed_version()

    def tail(self, from_version: int) -> DataFrame:
        """Poll-based tail: rows appended strictly after `from_version`."""
        if self.table is None:
            raise ValueError("tail requires a writable VersionedLogTable")
        return self.table.tail(from_version)

    def tail_version_counts(self, from_version: int):
        """Manifest-derived [(version, rows)] plan for the tail route —
        zero data IO; None = fall back to the scan-based derivation."""
        if self.table is None:
            raise ValueError("tail requires a writable VersionedLogTable")
        return self.table.tail_version_counts(from_version)

    def tail_slice(self, from_version: int, up_to: int) -> DataFrame | None:
        """Rows of versions in (from_version, up_to], read from the
        per-version manifests' explicit file lists as ONE multi-file
        scan — no listing, no version-predicate scan, no N-deep union."""
        if self.table is None:
            raise ValueError("tail requires a writable VersionedLogTable")
        return self.table.read_manifest_range(from_version, up_to)

    def tail_stream(self, from_version: int = 0) -> DataFrame:
        """Push-based tail (Structured Streaming file source)."""
        if self.table is None:
            raise ValueError("tail requires a writable VersionedLogTable")
        return self.table.tail_stream(from_version)
