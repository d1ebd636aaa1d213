"""Property test of the statistics core (operators/stats.py): on random
rows — NaN, ±Inf, null and negative values, several producers and
topics — a summary rolled up k-fold equals the summary built at the
coarser granularity, serving from a store of maintained partials equals
the raw derivation before and after compaction, and served quantile bins
equal raw bins."""

import shutil
import tempfile
from functools import reduce

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import DataFrame

from dp3_spark.catalog import LogStore
from dp3_spark.engine import DP3Engine
from dp3_spark.operators import stats as ST
from dp3_spark.streaming.ingest import summary_maintainer

MIN_NS = 60 * 10**9
SPAN_MIN = 48  # rows fall in the first 48 minutes

value_strategy = st.one_of(
    st.integers(-10**6, 10**6).map(lambda n: n / 100),  # cents: exact decimals
    st.sampled_from([float("nan"), float("inf"), float("-inf"), None, 0.0]),
)
row_strategy = st.tuples(
    st.sampled_from(["p0", "p1", "p2"]),
    st.sampled_from(["/a", "/b"]),
    st.integers(0, SPAN_MIN * MIN_NS - 1),
    value_strategy,
    st.integers(0, 2),  # the micro-batch that delivers the row
)


def _sorted_rows(df):
    cols = sorted(df.columns)
    return sorted(
        (tuple(r[c] for c in cols) for r in df.select(*cols).collect()), key=repr
    )


@pytest.mark.usefixtures("spark")
@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(row_strategy, min_size=1, max_size=60),
    base_min=st.sampled_from([1, 2, 3]),
    k=st.integers(1, 4),
)
def test_statistics_core_properties(spark, rows, base_min, k):
    df = spark.createDataFrame(
        [(p, t, ts, i, v, b) for i, (p, t, ts, v, b) in enumerate(rows)],
        "producer string, topic string, log_time long, sequence long, "
        "value double, batch int",
    ).coalesce(1).localCheckpoint()  # rows decoded once, by one Python task
    store = LogStore(df, "producer", "topic", "log_time", "sequence", ("value",))
    base, coarse = base_min * MIN_NS, k * base_min * MIN_NS
    fields = dict(numeric_fields=["value"])

    # 1. rollup(summarize(base)) == summarize(k * base)
    rolled = ST.rollup_summary(
        ST.summarize(store, granularity_ns=base, **fields),
        from_granularity_ns=base, to_granularity_ns=coarse, **fields,
    )
    direct = ST.summarize(store, granularity_ns=coarse, **fields)
    assert _sorted_rows(rolled.select(*direct.columns)) == _sorted_rows(direct)

    # 2. a store of three maintained partial batches serves == raw,
    # before and after compact; 3. served quantile bins == raw bins
    d = tempfile.mkdtemp(prefix="dp3_statprop_")
    try:
        maintain = summary_maintainer(
            df, granularity_ns=base, **fields, sketch_fields=["value"]
        )
        batches = [maintain(df.filter(df.batch == b), b) for b in range(3)]
        reduce(DataFrame.unionByName, batches).write.mode("overwrite").parquet(d)
        served = ST.SummaryStore(
            spark, d, granularity_ns=base, **fields, group_by_producer=True,
            sketch_fields=["value"],
        )
        end = -(-SPAN_MIN * MIN_NS // coarse) * coarse
        win = dict(topic="/a", start_ns=0, end_ns=end, granularity_ns=coarse)
        rng = dict(win, **fields, group_by_producer=True)
        want = _sorted_rows(ST.stat_range(store, **rng))
        want_q = _sorted_rows(
            DP3Engine(spark, store=store).stat_quantiles(**win, values=False)
        )
        for compacted in (False, True):
            if compacted:
                served.compact()
            assert _sorted_rows(served.stat_range(**rng)) == want
            assert _sorted_rows(served.quantiles(**win, field="value")) == want_q
    finally:
        shutil.rmtree(d, ignore_errors=True)
