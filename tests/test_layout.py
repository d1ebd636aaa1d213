"""Partition-count and size-estimate decisions (dp3_spark/layout.py) and the
sorts that read them: `spread` sizes only single-split inputs, by bytes;
`plan_bytes` reports an unknown size as None; `drain_conf` is scoped; a
summary-served stat_range sorts its few buckets in one task."""

import pytest

from dp3_spark import layout
from dp3_spark.catalog import LogStore
from dp3_spark.operators import stats as ST

MIN_NS = 60 * 10**9
DRAIN_CONFS = (
    "spark.sql.shuffle.partitions",
    "spark.sql.streaming.noDataMicroBatches.enabled",
)


def physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture()
def one_split_parquet(spark, tmp_path):
    path = str(tmp_path / "docs")
    spark.range(2000).selectExpr("id", "repeat('x', 200) as text").coalesce(1).write.parquet(path)
    df = spark.read.parquet(path)
    assert df.rdd.getNumPartitions() == 1
    return df


def test_spread_leaves_multi_split_frame_alone(spark):
    par = spark.sparkContext.defaultParallelism
    df = spark.range(0, 1000, numPartitions=max(2, par))
    assert layout.spread(df) is df


def test_spread_sizes_single_split_parquet_by_bytes(spark, one_split_parquet):
    df = one_split_parquet
    par = spark.sparkContext.defaultParallelism
    size = layout.plan_bytes(df)
    assert size > 0
    # a target of a third of the input asks for 3 partitions
    out = layout.spread(df, bytes_per_partition=-(-size // 3))
    assert f"RoundRobinPartitioning({min(par, 3)})" in physical_plan(out)
    # a target above the input size still spreads over at least 2
    out = layout.spread(df, bytes_per_partition=size * 10)
    assert f"RoundRobinPartitioning({min(par, 2)})" in physical_plan(out)


def test_plan_bytes_unknown_on_created_frames(spark):
    rows = [(1, "a"), (2, "b")]
    listed = spark.createDataFrame(rows, "id long, t string")
    from_rdd = spark.createDataFrame(spark.sparkContext.parallelize(rows), "id long, t string")
    assert layout.plan_bytes(listed) is None
    assert layout.plan_bytes(from_rdd) is None
    # a single-split frame of unknown size is left alone
    one = listed.coalesce(1)
    assert layout.spread(one) is one


def test_plan_bytes_is_an_int_on_parquet(one_split_parquet):
    size = layout.plan_bytes(one_split_parquet)
    assert isinstance(size, int) and 0 < size < 10 << 20


def test_drain_conf_restores_both_confs_when_body_raises(spark):
    before = {k: spark.conf.get(k) for k in DRAIN_CONFS}
    with pytest.raises(RuntimeError, match="drain failed"):
        with layout.drain_conf(spark, 200_000) as parts:
            assert parts == min(spark.sparkContext.defaultParallelism, 8)
            assert spark.conf.get(DRAIN_CONFS[0]) == str(parts)
            assert spark.conf.get(DRAIN_CONFS[1]) == "false"
            raise RuntimeError("drain failed")
    assert {k: spark.conf.get(k) for k in DRAIN_CONFS} == before


def test_summary_served_stat_range_has_no_range_sort(spark, tmp_path):
    rows = [
        (f"p{p}", "/a", i * MIN_NS + p, i, float(i % 7))
        for p in range(2)
        for i in range(240)
    ]
    df = spark.createDataFrame(
        rows, "producer string, topic string, log_time long, sequence long, value double"
    )
    store = LogStore(df, "producer", "topic", "log_time", "sequence", ("value",))
    path = str(tmp_path / "summary")
    ST.write_summary_store(
        store, path, granularity_ns=MIN_NS, numeric_fields=["value"], text_fields=[]
    )
    req = dict(
        topic="/a", start_ns=0, end_ns=4 * 3600 * 10**9,
        granularity_ns=3600 * 10**9, numeric_fields=["value"],
    )
    served = ST.SummaryStore(spark, path).stat_range(**req)
    assert "rangepartitioning" not in physical_plan(served).lower()
    # the raw frame's size is unknown (createDataFrame), so it range-sorts;
    # both come back in bucket order with the same rows
    raw = ST.stat_range(store, **req)
    assert "rangepartitioning" in physical_plan(raw).lower()
    cols = sorted(raw.columns)
    assert served.select(cols).collect() == raw.select(cols).collect()
