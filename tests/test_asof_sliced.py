"""Time-sliced asof parity: the single-producer-skew path
(dp3_asof_join(time_slices=K)) must produce exactly the default path's
output — including the cross-slice cases: rights whose as-of left sits in
an earlier slice, lefts whose only match arrives via a carried copy,
carries propagating through left-free slices, and `immediate` picking the
globally-first match across slice boundaries."""

import random

import pytest
from pyspark.sql import functions as F

from dp3_spark.operators.asof import dp3_asof_join

NS = 1_000_000_000


def _frames(spark, n=600, seed=7, producers=("p",)):
    """One (or few) producer(s), random interleave of clicks (left) and
    purchases (right) over a long time range so slices cut mid-pattern."""
    rng = random.Random(seed)
    lrows, rrows = [], []
    seq = 0
    for p in producers:
        t = 0
        for _ in range(n):
            t += rng.randint(1, 90) * NS
            seq += 1
            if rng.random() < 0.45:
                lrows.append((p, "click", t, seq, float(seq)))
            else:
                rrows.append((p, "purchase", t, seq, float(seq)))
    schema = "producer string, topic string, log_time long, sequence long, value double"
    return spark.createDataFrame(lrows, schema), spark.createDataFrame(rrows, schema)


def _rows(df):
    return sorted(
        tuple(r) for r in df.select(
            "producer", "topic", "log_time", "sequence", "value"
        ).collect()
    )


@pytest.mark.parametrize("immediate", [False, True])
@pytest.mark.parametrize("threshold_ns", [0, 120 * NS])
def test_sliced_parity_single_producer(spark, immediate, threshold_ns):
    left, right = _frames(spark)
    base = dp3_asof_join(
        left, right, immediate=immediate, threshold_ns=threshold_ns
    )
    sliced = dp3_asof_join(
        left, right, immediate=immediate, threshold_ns=threshold_ns, time_slices=7
    )
    assert _rows(sliced) == _rows(base)
    assert len(_rows(base)) > 50  # the fixture genuinely matches


def test_sliced_parity_multi_producer(spark):
    left, right = _frames(spark, n=250, producers=("a", "b", "c"))
    base = dp3_asof_join(left, right, threshold_ns=300 * NS)
    sliced = dp3_asof_join(left, right, threshold_ns=300 * NS, time_slices=5)
    assert _rows(sliced) == _rows(base)


def test_sliced_carry_through_empty_slice(spark):
    # one left at t=1, rights only at t far away: with 8 slices the carry
    # must propagate through several left-free slices
    schema = "producer string, topic string, log_time long, sequence long, value double"
    left = spark.createDataFrame([("p", "l", 1 * NS, 1, 1.0)], schema)
    right = spark.createDataFrame(
        [("p", "r", 700 * NS, 2, 2.0), ("p", "r", 800 * NS, 3, 3.0)], schema
    )
    base = dp3_asof_join(left, right, threshold_ns=0)  # unbounded
    sliced = dp3_asof_join(left, right, threshold_ns=0, time_slices=8)
    assert _rows(sliced) == _rows(base)
    # left emitted once, both rights matched
    assert len(_rows(sliced)) == 3


def test_sliced_immediate_first_match_crosses_boundary(spark):
    # left late in slice 0; its FIRST matching right lands in slice 1 and a
    # second right in slice 2 — immediate must keep only the first
    schema = "producer string, topic string, log_time long, sequence long, value double"
    left = spark.createDataFrame([("p", "l", 10 * NS, 1, 1.0)], schema)
    right = spark.createDataFrame(
        [
            ("p", "r", 400 * NS, 2, 2.0),
            ("p", "r", 900 * NS, 3, 3.0),
        ],
        schema,
    )
    base = dp3_asof_join(left, right, immediate=True, threshold_ns=0)
    sliced = dp3_asof_join(left, right, immediate=True, threshold_ns=0, time_slices=6)
    assert _rows(sliced) == _rows(base)
    assert {r[3] for r in _rows(sliced)} == {1, 2}  # left + first right only


def test_auto_slice_guard_engages_without_caller_optin(spark, monkeypatch):
    """The r3 verdict ask: a pathological single-producer stream must plan
    >1 task in the window stage WITHOUT the caller passing time_slices.
    Tune the dispatch constant down (the VERIFY_BROADCAST_MAX_ROWS test
    idiom) so the 600-row fixture counts as 'skewed', and pin both the
    engaged plan and exact output parity with the unsliced path."""
    from dp3_spark.operators import asof as asof_mod

    left, right = _frames(spark)
    baseline = dp3_asof_join(left, right, time_slices=None)

    monkeypatch.setattr(asof_mod, "AUTO_SLICE_MAX_ROWS", 100)
    auto = dp3_asof_join(left, right)  # no time_slices argument at all
    plan = auto._jdf.queryExecution().executedPlan().toString()
    assert "__slice__" in plan and "hashpartitioning" in plan
    assert _rows(auto) == _rows(baseline)


def test_auto_slice_guard_stays_off_for_short_runs(spark):
    # default threshold: 600 rows per producer is nowhere near 2M — the
    # auto path must NOT add slice machinery (or its extra shuffles)
    left, right = _frames(spark)
    auto = dp3_asof_join(left, right)
    plan = auto._jdf.queryExecution().executedPlan().toString()
    assert "__slice__" not in plan


def test_sliced_plan_partitions_by_slice(spark):
    # the point of the path: the window stage partitions on (producer,
    # __slice__), so one producer no longer serializes onto one task —
    # the main window's exchange must hash on the slice column and the
    # fixture must genuinely occupy >1 slice
    left, right = _frames(spark, n=100)
    sliced = dp3_asof_join(left, right, time_slices=4)
    plan = sliced._jdf.queryExecution().executedPlan().toString()
    assert "__slice__" in plan and "hashpartitioning" in plan
    lo, hi = (
        left.unionByName(right).agg(F.min("log_time"), F.max("log_time")).collect()[0]
    )
    width = max(1, (hi - lo) // 4 + 1)
    n_slices = (
        left.unionByName(right)
        .select(((F.col("log_time") - F.lit(lo)) / F.lit(width)).cast("long").alias("s"))
        .distinct()
        .count()
    )
    assert n_slices > 1


# ------------------------------------------ manifest row bound skips 'auto'

def _table_store(spark, tmp_path):
    """The _frames fixture committed to a versioned table: a
    manifest-planned store whose row_bound is the recorded row count."""
    from dp3_spark.streaming.lifecycle import VersionedLogTable

    left, right = _frames(spark)
    vt = VersionedLogTable(spark, str(tmp_path / "vt"))
    vt.append(left.unionByName(right))
    store = vt.log_store()
    assert store.row_bound == 600
    return store


def test_row_bound_skips_auto_slice_count(spark, tmp_path, spark_jobs):
    """On a small manifest-planned table no producer's run can reach
    AUTO_SLICE_MAX_ROWS, so compiling an as-of starts zero Spark jobs
    (the 'auto' count is skipped, not run and discarded)."""
    from dp3_spark.plans import Compiler

    store = _table_store(spark, tmp_path)
    df, jobs = spark_jobs(
        lambda: Compiler(store).compile("from p click precedes purchase;")
    )
    assert jobs == 0
    assert "__slice__" not in df._jdf.queryExecution().executedPlan().toString()
    assert df.count() > 50


def test_row_bound_scales_with_scan_count(spark, tmp_path, spark_jobs, monkeypatch):
    """The bound is row_bound x scans: a self-join (/gps precedes /gps)
    reads the table twice, so with the cap at row_bound it must still run
    the count, and at 2 x row_bound it may skip it."""
    from dp3_spark.operators import asof as asof_mod
    from dp3_spark.plans import Compiler

    store = _table_store(spark, tmp_path)
    stmt = "from p click precedes click;"
    monkeypatch.setattr(asof_mod, "AUTO_SLICE_MAX_ROWS", 600)
    _, jobs = spark_jobs(lambda: Compiler(store).compile(stmt))
    assert jobs > 0
    monkeypatch.setattr(asof_mod, "AUTO_SLICE_MAX_ROWS", 1200)
    _, jobs = spark_jobs(lambda: Compiler(store).compile(stmt))
    assert jobs == 0


def test_auto_slice_still_runs_above_row_bound(spark, tmp_path, monkeypatch):
    """Above row_bound x scans the 'auto' count decides as before: with the
    cap below the fixture it engages the sliced path, and its rows equal
    the unsliced path's (a bound of 0 forces time_slices=None)."""
    import dataclasses

    from dp3_spark.operators import asof as asof_mod
    from dp3_spark.plans import Compiler

    store = _table_store(spark, tmp_path)
    stmt = "from p click precedes purchase by less than 120 seconds;"
    monkeypatch.setattr(asof_mod, "AUTO_SLICE_MAX_ROWS", 100)
    auto = Compiler(store).compile(stmt)
    assert "__slice__" in auto._jdf.queryExecution().executedPlan().toString()
    plain = Compiler(dataclasses.replace(store, row_bound=0)).compile(stmt)
    assert "__slice__" not in plain._jdf.queryExecution().executedPlan().toString()
    assert [tuple(r) for r in auto.collect()] == [tuple(r) for r in plain.collect()]
    assert len(auto.collect()) > 50
