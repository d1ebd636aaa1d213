"""Summary-store serving (stats.SummaryStore + engine dispatch): StatRange
and Statistics answered from the persisted base summary table — the
reference serves stats from stored inner-node summaries without touching
leaves (tree/tree.go:214-258) — hash-equal to the raw-derived answers, with
raw fallback whenever a request can't be assembled from whole base buckets.
"""

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from dp3_spark.catalog import LogStore
from dp3_spark.engine import DP3Engine
from dp3_spark.operators import stats as ST

MIN_NS = 60 * 10**9


@pytest.fixture(scope="module")
def store(spark):
    # 3 producers x 2 topics, values with 2 decimals, ~4 hours of minutes
    rows = []
    for p in range(3):
        for t, topic in enumerate(("/a", "/b")):
            for i in range(240):
                rows.append(
                    (
                        f"p{p}",
                        topic,
                        i * MIN_NS + (p + t) * 7 * 10**6,
                        i,
                        round((i * 1.37 + p * 0.11 + t) % 50, 2),
                    )
                )
    df = spark.createDataFrame(
        rows,
        "producer string, topic string, log_time long, sequence long, value double",
    )
    return LogStore(df, "producer", "topic", "log_time", "sequence", ("value",))


@pytest.fixture(scope="module")
def summary_path(spark, store):
    d = tempfile.mkdtemp(prefix="dp3_sumstore_")
    ST.write_summary_store(
        store, d, granularity_ns=MIN_NS, numeric_fields=["value"],
        text_fields=[], group_by_producer=True, sketch_fields=["value"],
    )
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _collect_sorted(df):
    cols = sorted(df.columns)
    return [tuple(r[c] for c in cols) for r in df.select(*cols).orderBy(*cols).collect()]


REQ = dict(
    topic="/a",
    start_ns=0,
    end_ns=4 * 3600 * 10**9,
    granularity_ns=3600 * 10**9,
    numeric_fields=["value"],
)


def test_summary_served_equals_raw(spark, store, summary_path):
    raw = ST.stat_range(store, **REQ)
    served = ST.SummaryStore(spark, summary_path).stat_range(**REQ)
    assert served.columns == raw.columns
    assert _collect_sorted(served) == _collect_sorted(raw)


def test_summary_served_grouped_and_producer_filter(spark, store, summary_path):
    req = {**REQ, "group_by_producer": True}
    raw = ST.stat_range(store, **req)
    served = ST.SummaryStore(spark, summary_path).stat_range(**req)
    assert _collect_sorted(served) == _collect_sorted(raw)

    req = {**REQ, "producer": "p1"}
    raw = ST.stat_range(store, **req)
    served = ST.SummaryStore(spark, summary_path).stat_range(**req)
    assert _collect_sorted(served) == _collect_sorted(raw)


def test_engine_dispatches_summary_then_falls_back(spark, store, summary_path):
    eng = DP3Engine(spark, store=store)
    eng.attach_summary_store(summary_path)

    served = eng.stat_range(**REQ)
    # summary-served plan reads the summary store, not the raw frame
    assert "dp3_sumstore_" in served._jdf.queryExecution().toString()
    assert _collect_sorted(served) == _collect_sorted(ST.stat_range(store, **REQ))

    # misaligned window: engine must fall back to raw and still be right
    req = {**REQ, "start_ns": 30 * 10**9, "end_ns": REQ["end_ns"] - 30 * 10**9}
    fallback = eng.stat_range(**req)
    assert "dp3_sumstore_" not in fallback._jdf.queryExecution().toString()
    assert _collect_sorted(fallback) == _collect_sorted(ST.stat_range(store, **req))

    # non-multiple granularity falls back too
    req = {**REQ, "granularity_ns": 90 * 10**9}
    assert _collect_sorted(eng.stat_range(**req)) == _collect_sorted(
        ST.stat_range(store, **req)
    )


def test_engine_summarize_served_and_fallback(spark, store, summary_path):
    eng = DP3Engine(spark, store=store)
    eng.attach_summary_store(summary_path)
    for kw in (
        dict(granularity_ns=3600 * 10**9, numeric_fields=["value"]),
        dict(granularity_ns=3600 * 10**9, numeric_fields=["value"], group_by_producer=False),
    ):
        served = eng.summarize(**kw)
        raw = ST.summarize(store, **kw)
        assert sorted(served.columns) == sorted(raw.columns)
        assert _collect_sorted(served.select(*raw.columns)) == _collect_sorted(raw)
    # unmaintained field: falls back to raw instead of erroring
    out = eng.summarize(granularity_ns=3600 * 10**9, numeric_fields=[])
    assert _collect_sorted(out) == _collect_sorted(
        ST.summarize(store, granularity_ns=3600 * 10**9, numeric_fields=[])
    )


def test_maintained_store_with_partial_rows(spark, store, summary_path):
    """A streaming-maintained store holds multiple PARTIAL rows per bucket
    (buckets split across micro-batches); serving must merge them."""
    d = tempfile.mkdtemp(prefix="dp3_sumpartial_")
    try:
        base = spark.read.parquet(summary_path)
        # split every summary row into two partials that re-merge exactly:
        # counts split k/(n-k); sums split by an exact half on cents, with
        # the b-half carrying zero sum when its count share is zero
        bhalf = F.when(
            F.expr("value_count div 2") > 0, F.round(F.col("value_sum") * 100 / 2) / 100
        ).otherwise(F.lit(0.0))
        a = base.withColumn(
            "value_sum", (F.col("value_sum") - bhalf).cast("double")
        ).withColumn(
            "message_count", F.expr("message_count - message_count div 2")
        ).withColumn("value_count", F.expr("value_count - value_count div 2"))
        b = base.withColumn("value_sum", bhalf.cast("double")).withColumn(
            "message_count", F.expr("message_count div 2")
        ).withColumn("value_count", F.expr("value_count div 2")).filter(
            F.col("message_count") > 0
        )
        a.unionByName(b).write.mode("overwrite").parquet(d)
        served = ST.SummaryStore(
            spark, d, granularity_ns=MIN_NS, numeric_fields=["value"],
            group_by_producer=True,
        ).stat_range(**REQ)
        raw = ST.stat_range(store, **REQ)
        assert _collect_sorted(served) == _collect_sorted(raw)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_streaming_maintained_store_serves(spark, store, tmp_path):
    """End-to-end deployment shape: ingest drains through the foreachBatch
    summary maintainer (streaming/ingest.summary_maintainer), the engine
    attaches the maintained store, and /statrange-style serving off it
    equals the raw-derived answer — write path and serve path joined."""
    from dp3_spark.streaming.ingest import summary_maintainer

    in_dir = str(tmp_path / "incoming")
    store.normalized().select(
        "producer", "topic", "log_time", "sequence", "value"
    ).repartition(5).write.mode("overwrite").parquet(in_dir)

    partials = str(tmp_path / "summary_store")
    maintain = summary_maintainer(
        spark.read.parquet(in_dir), granularity_ns=MIN_NS,
        numeric_fields=["value"], sketch_fields=["value"],
    )

    def sink(batch, epoch):
        maintain(batch, epoch).write.mode("append").parquet(partials)

    q = (
        spark.readStream.schema(spark.read.parquet(in_dir).schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(in_dir)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    eng = DP3Engine(spark, store=store)
    eng.attach_summary_store(
        partials, granularity_ns=MIN_NS, numeric_fields=["value"],
        group_by_producer=True,
    )
    served = eng.stat_range(**REQ)
    # the scan reads summary columns (bucket_start partials), not raw rows
    plan = served._jdf.queryExecution().toString()
    assert "ReadSchema" in plan and "bucket_start" in plan.split("ReadSchema")[1]
    assert "log_time" not in plan.split("ReadSchema")[1]
    assert _collect_sorted(served) == _collect_sorted(ST.stat_range(store, **REQ))


def test_summary_serve_rejects_and_too_granular(spark, summary_path):
    s = ST.SummaryStore(spark, summary_path)
    with pytest.raises(ST.TooGranularError):
        s.stat_range(**{**REQ, "granularity_ns": 10**9})
    with pytest.raises(ValueError):
        s.stat_range(**{**REQ, "start_ns": 1})  # misaligned
    with pytest.raises(ValueError):
        s.stat_range(**{**REQ, "numeric_fields": ["nope"]})


def test_summary_probe_plan_prunes(spark, summary_path):
    """The serving read must push the bucket_start window into the parquet
    scan and prune the topic partition directory — the probe reads the
    topic's summary slice, not the store."""
    df = ST.SummaryStore(spark, summary_path).stat_range(**REQ)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan
    assert "bucket_start" in plan.split("PushedFilters")[1][:400]
    # topic is a partition column: it appears as partition filter, not data filter
    assert "PartitionFilters" in plan


def test_schema_hash_axis_never_silently_merged(spark, store, summary_path):
    """A schema_hash request against a store built WITHOUT that axis must
    raise (so engine.summarize falls back to raw) — **_ignored-style
    swallowing would merge stats across schema generations silently."""
    s = ST.SummaryStore(spark, summary_path)
    with pytest.raises(ValueError, match="schema-hash"):
        s.summarize(
            granularity_ns=3600 * 10**9,
            numeric_fields=["value"],
            schema_hash_col="schema_hash",
        )


def test_store_sums_are_decimal_exact_at_large_magnitude(spark, tmp_path):
    """Persisted partials hold decimal(25,6) sums: a bucket sum past ~4.5e9
    round-tripped through double loses the 6th decimal, and summary-served
    would diverge from raw exactly at the scale the store exists for."""
    rows = [
        ("p0", "/big", i * MIN_NS, i, 9_000_000.000001) for i in range(1000)
    ]  # bucket sums ~9e9 with a live 6th decimal
    df = spark.createDataFrame(
        rows,
        "producer string, topic string, log_time long, sequence long, value double",
    )
    st = LogStore(df, "producer", "topic", "log_time", "sequence", ("value",))
    d = str(tmp_path / "bigsum")
    ST.write_summary_store(
        st, d, granularity_ns=MIN_NS, numeric_fields=["value"],
        text_fields=[], group_by_producer=True,
    )
    stored = spark.read.parquet(d)
    assert "decimal" in dict(stored.dtypes)["value_sum"]
    req = dict(
        topic="/big", start_ns=0, end_ns=1000 * MIN_NS,
        granularity_ns=100 * MIN_NS, numeric_fields=["value"],
    )
    served = ST.SummaryStore(spark, d).stat_range(**req)
    raw = ST.stat_range(st, **req)
    assert _collect_sorted(served) == _collect_sorted(raw)


def _raw_quantile_bins(store, *, topic, start_ns, end_ns, granularity_ns, qs):
    """Raw-derived covering bins: the independent same-session baseline
    (the driver row stat_quantiles_served pins the DuckDB re-derivation)."""
    from dp3_spark.operators import sketch as SK

    ev = (
        store.normalized()
        .filter(F.col("topic") == topic)
        .filter((F.col("log_time") >= start_ns) & (F.col("log_time") < end_ns))
        .withColumn(
            "bucket_start", F.col("log_time") - F.col("log_time") % granularity_ns
        )
    )
    sk = SK.sketch_summarize(ev, keys=["bucket_start"], field="value")
    return SK.sketch_quantiles(
        sk, keys=["bucket_start"], quantiles=qs, values=False
    )


def test_quantiles_served_from_persisted_sketches(spark, store, summary_path):
    """Merging 60 s sketch maps to hour buckets == binning raw at hours:
    the summary-served quantile bins must equal the raw derivation
    exactly, while reading only summary columns."""
    s = ST.SummaryStore(spark, summary_path)
    req = dict(
        topic="/a", start_ns=0, end_ns=4 * 3600 * 10**9,
        granularity_ns=3600 * 10**9,
    )
    served = s.quantiles(**req, field="value", quantiles=[0.5, 0.9, 0.99])
    raw = _raw_quantile_bins(store, **req, qs=[0.5, 0.9, 0.99])
    assert _collect_sorted(served) == _collect_sorted(raw)
    plan = served._jdf.queryExecution().toString()
    assert "log_time" not in plan.split("ReadSchema")[1]  # never touches raw


def test_quantiles_served_rejects_unservable(spark, summary_path):
    s = ST.SummaryStore(spark, summary_path)
    base = dict(
        topic="/a", start_ns=0, end_ns=3600 * 10**9,
        granularity_ns=3600 * 10**9, field="value",
    )
    with pytest.raises(ST.TooGranularError):
        s.quantiles(**{**base, "granularity_ns": 10**9})
    with pytest.raises(ValueError):
        s.quantiles(**{**base, "start_ns": 7})  # misaligned window
    with pytest.raises(ValueError):
        s.quantiles(**{**base, "field": "nope"})  # no sketch maintained


def test_streaming_maintained_sketches_serve_quantiles(spark, store, tmp_path):
    """Micro-batch partial sketch maps merged at serve time equal the
    batch-built store's answer — sketch maintenance is order-independent."""
    from dp3_spark.streaming.ingest import summary_maintainer

    in_dir = str(tmp_path / "incoming_sk")
    store.normalized().select(
        "producer", "topic", "log_time", "sequence", "value"
    ).repartition(5).write.mode("overwrite").parquet(in_dir)
    partials = str(tmp_path / "summary_store_sk")
    maintain = summary_maintainer(
        spark.read.parquet(in_dir), granularity_ns=MIN_NS,
        numeric_fields=["value"], sketch_fields=["value"],
    )

    def sink(batch, epoch):
        maintain(batch, epoch).write.mode("append").parquet(partials)

    q = (
        spark.readStream.schema(spark.read.parquet(in_dir).schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(in_dir)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt_sk"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    s = ST.SummaryStore(
        spark, partials, granularity_ns=MIN_NS, numeric_fields=["value"],
        group_by_producer=True, sketch_fields=["value"],
    )
    req = dict(
        topic="/b", start_ns=0, end_ns=4 * 3600 * 10**9,
        granularity_ns=3600 * 10**9,
    )
    served = s.quantiles(**req, field="value", quantiles=[0.5, 0.9])
    raw = _raw_quantile_bins(store, **req, qs=[0.5, 0.9])
    assert _collect_sorted(served) == _collect_sorted(raw)


def test_compact_merges_partials_and_preserves_serving(spark, store, tmp_path):
    """A maintained store accumulates one partial per (bucket, batch);
    compact() must merge to one row per bucket WITHOUT changing any
    served answer (stat_range and sketch quantiles), and keep the meta
    sidecar so the store reopens from path alone."""
    from dp3_spark.streaming.ingest import summary_maintainer

    partials = str(tmp_path / "store_c")
    base = store.normalized().select(
        "producer", "topic", "log_time", "sequence", "value"
    )
    maintain = summary_maintainer(
        base, granularity_ns=MIN_NS,
        numeric_fields=["value"], sketch_fields=["value"],
    )
    # three micro-batches hitting the SAME minute buckets (each batch is
    # the base shifted +10s within the minute), so every bucket ends up
    # with three partial rows — the long-running maintained-store shape
    for epoch in range(3):
        batch = base.withColumn(
            "log_time", F.col("log_time") + F.lit(epoch * 10 * 10**9)
        )
        maintain(batch, epoch).write.mode("append").parquet(partials)

    s = ST.SummaryStore(
        spark, partials, granularity_ns=MIN_NS, numeric_fields=["value"],
        group_by_producer=True, sketch_fields=["value"],
    )
    qreq = dict(
        topic="/a", start_ns=0, end_ns=4 * 3600 * 10**9,
        granularity_ns=3600 * 10**9,
    )
    before_range = _collect_sorted(s.stat_range(**REQ))
    before_q = _collect_sorted(s.quantiles(**qreq, field="value"))
    rows_before = spark.read.parquet(partials).count()

    n = s.compact()
    assert n < rows_before  # partials actually merged
    # one row per (producer, topic, bucket) now
    dup = (
        spark.read.parquet(partials)
        .groupBy("producer", "topic", "bucket_start").count()
        .filter(F.col("count") > 1).count()
    )
    assert dup == 0
    # served answers unchanged, and the store reopens from meta... (the
    # maintained store has no meta sidecar — reopen with explicit args)
    s2 = ST.SummaryStore(
        spark, partials, granularity_ns=MIN_NS, numeric_fields=["value"],
        group_by_producer=True, sketch_fields=["value"],
    )
    assert _collect_sorted(s2.stat_range(**REQ)) == before_range
    assert _collect_sorted(s2.quantiles(**qreq, field="value")) == before_q


def test_compact_auto_recovers_from_crashed_prior_compact(spark, store, tmp_path):
    """A compact that crashed between its two renames leaves the store at
    '<path>._old' with the store path missing; the next compact() must
    rename it back and proceed, not die on an opaque OSError.  A crash
    after the second rename (before rmtree) leaves a superseded '._old'
    beside a valid store; that one is garbage-collected."""
    import os

    path = str(tmp_path / "store_r")
    ST.write_summary_store(
        store, path, granularity_ns=MIN_NS, numeric_fields=["value"],
        text_fields=[], group_by_producer=True,
    )
    s = ST.SummaryStore(spark, path)
    before = _collect_sorted(s.stat_range(**REQ))

    # crash shape 1: first rename done, second never happened
    os.rename(path, path + "._old")
    assert not os.path.exists(path)
    s.compact()  # auto-recovers, then compacts
    assert os.path.exists(path) and not os.path.exists(path + "._old")
    assert _collect_sorted(ST.SummaryStore(spark, path).stat_range(**REQ)) == before

    # crash shape 2: both renames done, rmtree never ran -> stale ._old
    os.makedirs(path + "._old/junk")
    s2 = ST.SummaryStore(spark, path)
    s2.compact()
    assert os.path.exists(path) and not os.path.exists(path + "._old")
    assert _collect_sorted(ST.SummaryStore(spark, path).stat_range(**REQ)) == before


# ------------------------------------------ job-count regression guards

def test_raw_quantiles_job_count(spark, store, spark_jobs):
    """A one-bucket raw quantile request (the serve shape) runs the two
    sketch-build shuffles and one projection walking every requested
    quantile: at most 3 Spark jobs.  A per-quantile window + row_number +
    join pass (7 jobs and more) fails here."""
    eng = DP3Engine(spark, store=store)
    rows, jobs = spark_jobs(lambda: eng.stat_quantiles(
        topic="/a", start_ns=0, end_ns=3600 * 10**9,
        granularity_ns=3600 * 10**9, quantiles=(0.07, 0.5, 0.9, 0.99),
    ).collect())
    assert len(rows) == 1
    assert jobs <= 3


def test_summary_schema_resolved_once(spark, summary_path, spark_jobs):
    """The first serve of a SummaryStore resolves the parquet schema (one
    inference job); every later serve reads with it and starts one job
    fewer, with the same answer."""
    s = ST.SummaryStore(spark, summary_path)
    first, j1 = spark_jobs(lambda: s.stat_range(**REQ).collect())
    second, j2 = spark_jobs(lambda: s.stat_range(**REQ).collect())
    assert second == first
    assert j2 == j1 - 1


def test_partial_appended_between_serves_is_counted(spark, summary_path, tmp_path):
    """Only the schema is cached, never the listing: a partial row file a
    maintainer appends between two serves is merged into the second."""
    d = str(tmp_path / "grown")
    shutil.copytree(summary_path, d)
    s = ST.SummaryStore(spark, d)
    before = s.stat_range(**REQ).agg(F.sum("message_count")).collect()[0][0]
    partial = spark.read.parquet(d).filter(
        (F.col("topic") == "/a") & (F.col("bucket_start") < 3600 * 10**9)
    )
    added = partial.agg(F.sum("message_count")).collect()[0][0]
    partial.write.mode("append").partitionBy("topic").parquet(d)
    after = s.stat_range(**REQ).agg(F.sum("message_count")).collect()[0][0]
    assert added > 0
    assert after == before + added


def test_table_summary_serves_only_while_fresh(spark, tmp_path):
    """A summary built on a table engine describes the snapshot it was
    built from.  After each append, delete_range, QL truncate and compact
    the engine's stat_range, stat_quantiles and summarize must equal the
    raw derivation over the current rows (a stale summary keeps answering
    with the old ones); a rebuilt summary serves again."""
    from dp3_spark.streaming.lifecycle import VersionedLogTable

    table = VersionedLogTable(spark, str(tmp_path / "table"))

    def batch(lo, hi):
        return spark.createDataFrame(
            [(f"p{i % 2}", "/a", i * 10**9, i, float(i % 37) - 5.5) for i in range(lo, hi)],
            "producer string, topic string, log_time long, sequence long, value double",
        )

    table.append(batch(0, 600))
    eng = DP3Engine(spark, table=table)
    build = dict(granularity_ns=MIN_NS, numeric_fields=["value"], sketch_fields=["value"])
    eng.build_summary_store(str(tmp_path / "summary_0"), **build)
    win = dict(topic="/a", start_ns=0, end_ns=40 * MIN_NS, granularity_ns=10 * MIN_NS)
    rng = dict(win, numeric_fields=["value"])
    summ = dict(granularity_ns=10 * MIN_NS, numeric_fields=["value"])

    def check(served):
        store = table.log_store()
        got = eng.stat_range(**rng)
        read = got._jdf.queryExecution().toString().split("ReadSchema")[1]
        assert ("message_count:" in read) == served  # summary partials, not rows
        assert _collect_sorted(got) == _collect_sorted(ST.stat_range(store, **rng))
        assert _collect_sorted(eng.stat_quantiles(**win, values=False)) == _collect_sorted(
            _raw_quantile_bins(store, **win, qs=[0.5, 0.9, 0.99])
        )
        assert _collect_sorted(eng.summarize(**summ)) == _collect_sorted(
            ST.summarize(store, **summ)
        )

    check(served=True)
    table.append(batch(600, 1200))
    check(served=False)
    eng.delete("p0", "/a", 0, 300 * 10**9)
    check(served=False)
    eng.execute(f"truncate p1 /a {120 * 10**9};")
    check(served=False)
    table.compact()
    check(served=False)
    eng.build_summary_store(str(tmp_path / "summary_1"), **build)
    check(served=True)


def test_raw_quantiles_push_time_bound_into_scan(spark):
    """The raw quantile branch filters through time_range_filter: the
    events scan is pruned on the raw `ts` column, not only on the derived
    log_time, and the bins equal a derivation filtered on log_time."""
    from conftest import SF_SMOKE
    from dp3_spark.catalog import events_log_store

    store = events_log_store(spark, SF_SMOKE, us_truncate=True)
    req = dict(
        topic="click", start_ns=1704067200 * 10**9, end_ns=1706745600 * 10**9,
        granularity_ns=24 * 3600 * 10**9,
    )
    got = DP3Engine(spark, store=store).stat_quantiles(**req, values=False)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "GreaterThanOrEqual(ts," in plan.split("PushedFilters")[1], plan
    assert _collect_sorted(got) == _collect_sorted(
        _raw_quantile_bins(store, **req, qs=[0.5, 0.9, 0.99])
    )
