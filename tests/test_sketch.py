"""DDSketch-style mergeable quantile sketch: accuracy bound, merge
associativity, sign/zero handling (nodestore/statistics.go:129-155 parity —
relative accuracy 0.01, associative merge)."""

import math
import random

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from dp3_spark.operators import sketch as SK


@pytest.fixture(scope="module")
def values_df(spark):
    rng = random.Random(7)
    rows = [(i % 4, rng.lognormvariate(3, 2)) for i in range(4000)]
    df = spark.createDataFrame(rows, "k int, v double").coalesce(1).localCheckpoint()
    return df, rows


def test_quantiles_within_relative_accuracy(spark, values_df):
    df, rows = values_df
    sk = SK.sketch_summarize(df, keys=["k"], field="v", accuracy=0.01)
    got = SK.sketch_quantiles(sk, keys=["k"], quantiles=[0.25, 0.5, 0.9, 0.99]).collect()
    by_k = {r["k"]: r for r in got}
    for k in range(4):
        vals = sorted(v for kk, v in rows if kk == k)
        for q in (0.25, 0.5, 0.9, 0.99):
            exact = vals[min(len(vals) - 1, int(math.ceil(q * len(vals))) - 1)]
            est = by_k[k][f"p{int(q * 100)}"]
            rel = abs(est - exact) / exact
            assert rel <= 0.011, f"k={k} q={q}: {est} vs {exact} rel={rel}"


def test_merge_associativity(spark, values_df):
    df, _ = values_df
    # fine sketches per (k, parity) merged to k == direct sketch per k
    fine = SK.sketch_summarize(
        df.withColumn("par", F.col("v") > 20), keys=["k", "par"], field="v"
    )
    merged = SK.sketch_merge(fine, keys=["k"])
    direct = SK.sketch_summarize(df, keys=["k"], field="v")
    m = {r["k"]: (sorted(r["sketch"].items()), r["sketch_n"]) for r in merged.collect()}
    d = {r["k"]: (sorted(r["sketch"].items()), r["sketch_n"]) for r in direct.collect()}
    assert m == d


def test_zero_and_negative_values(spark):
    rows = [(0, -100.0), (0, -1.0), (0, -0.25), (0, 0.0), (0, 0.5), (0, 2.0), (0, 100.0)]
    df = spark.createDataFrame(rows, "k int, v double")
    sk = SK.sketch_summarize(df, keys=["k"], field="v")
    assert sk.collect()[0]["sketch_n"] == 7
    out = SK.sketch_quantiles(sk, keys=["k"], quantiles=[0.5]).collect()[0]
    assert abs(out["p50"] - 0.0) < 1e-12  # median is the exact-zero bin
    lo = SK.sketch_quantiles(sk, keys=["k"], quantiles=[0.01]).collect()[0]
    assert lo["p1"] < -99  # most-negative bin
    hi = SK.sketch_quantiles(sk, keys=["k"], quantiles=[0.99]).collect()[0]
    assert abs(hi["p99"] - 100.0) / 100.0 <= 0.011


def test_nan_inf_excluded(spark):
    rows = [(0, 1.0), (0, float("nan")), (0, float("inf")), (0, 4.0)]
    df = spark.createDataFrame(rows, "k int, v double")
    sk = SK.sketch_summarize(df, keys=["k"], field="v")
    assert sk.collect()[0]["sketch_n"] == 2


# ------------------------------------------- quantile walk, property-based

_BIN = st.one_of(
    st.just(SK.ZERO_BIN),
    st.integers(-40, 40).map(lambda e: e + SK._OFFSET),
    st.integers(-40, 40).map(lambda e: -(e + SK._OFFSET)),
)
_SKETCH = st.dictionaries(_BIN, st.integers(1, 50), min_size=1, max_size=12)
_Q = st.one_of(
    st.sampled_from([0.07, 0.29, 0.57, 0.9, 0.99, 1.0]),
    st.floats(0.0, 1.0, exclude_min=True),
)


def _walk(sketch: dict, q: float) -> int:
    """Reference walk: the first bin, in bin order, whose running count
    reaches the double rank q * n."""
    rank, cum = float(q) * sum(sketch.values()), 0
    for b in sorted(sketch):
        cum += sketch[b]
        if cum >= rank:
            return b
    raise AssertionError("rank beyond the sketch")


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    sketches=st.lists(_SKETCH, min_size=1, max_size=12),
    qs=st.lists(_Q, min_size=1, max_size=5, unique_by=lambda q: int(q * 100)),
)
@example(sketches=[{SK._OFFSET + i: 1 for i in range(100)}], qs=[0.07, 0.29, 0.57])
def test_sketch_quantiles_matches_reference_walk(spark, sketches, qs):
    """sketch_quantiles on sketches with zero, negative and positive bins
    over several keys.  Input contract: one row per key, as
    sketch_summarize / sketch_merge produce.  values=False bins equal a
    pure-Python walk at the same double rank (0.07 x 100 is
    7.000000000000001, so the example's p7 is the 8th bin, not the 7th);
    values=True equals bin_value of those bins."""
    rows = [(k, sk, sum(sk.values())) for k, sk in enumerate(sketches)]
    df = spark.createDataFrame(rows, "k int, sketch map<bigint,bigint>, sketch_n bigint")
    # one Spark job per example: the values=True walk runs over the
    # values=False output, whose bins ride along renamed as keys
    n = len(qs)
    bins = SK.sketch_quantiles(
        df, keys=["k", "sketch", "sketch_n"], quantiles=qs, values=False
    ).toDF("k", "sketch", "sketch_n", *(f"b{i}" for i in range(n)))
    bin_cols = [f"b{i}" for i in range(n)]
    both = SK.sketch_quantiles(bins, keys=["k", *bin_cols], quantiles=qs, values=True)
    got = both.select("*", *(SK.bin_value(c) for c in bin_cols)).collect()
    assert sorted(tuple(r[: 1 + n]) for r in got) == [
        (k, *(_walk(sk, q) for q in qs)) for k, sk in enumerate(sketches)
    ]
    for r in got:
        assert tuple(r[1 + n: 1 + 2 * n]) == tuple(r[1 + 2 * n:])


# ----------------------------------------------------------- HyperLogLog

def test_hll_merge_equals_union_sketch(spark):
    """Register-max merge is exact: merging per-part sketches yields the
    identical sketch column (struct-for-struct) as sketching the union."""
    from dp3_spark.operators import sketch as SK
    from pyspark.sql import functions as F

    rows = [("a" if i % 3 else "b", f"u{i % 97}") for i in range(2000)]
    df = spark.createDataFrame(rows, "part string, uid string")
    per_part = SK.hll_sketch(df, keys=["part"], value_col="uid").withColumn(
        "g", F.lit(1)
    )
    merged = SK.hll_merge(per_part, keys=["g"]).collect()[0]["hll"]
    whole = (
        SK.hll_sketch(df.withColumn("g", F.lit(1)), keys=["g"], value_col="uid")
        .collect()[0]["hll"]
    )
    assert [tuple(r) for r in merged] == [tuple(r) for r in whole]


def test_hll_estimate_accuracy(spark):
    """m=512 gives ~4.6% standard error; assert a conservative 15% bound
    across two decades of cardinality, and exactness of the n_regs<=few
    small-range linear-counting regime."""
    from dp3_spark.operators import sketch as SK
    from pyspark.sql import functions as F

    rows = []
    for n in (50, 500, 5000):
        rows += [(f"n{n}", f"user-{n}-{i}") for i in range(n)]
        # duplicates must not move the estimate
        rows += [(f"n{n}", f"user-{n}-{i}") for i in range(min(n, 100))]
    df = spark.createDataFrame(rows, "grp string, uid string")
    out = (
        SK.hll_sketch(df, keys=["grp"], value_col="uid")
        .withColumn("est", SK.hll_estimate_expr())
        .collect()
    )
    for r in out:
        true_n = int(r["grp"][1:])
        assert abs(r["est"] - true_n) / true_n < 0.15, (r["grp"], r["est"])


def test_hll_null_values_skipped(spark):
    from dp3_spark.operators import sketch as SK
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("g", "x"), ("g", None), ("g", "y")], "grp string, uid string"
    )
    out = (
        SK.hll_sketch(df, keys=["grp"], value_col="uid")
        .withColumn("est", SK.hll_estimate_expr())
        .collect()[0]
    )
    assert out["est"] == pytest.approx(2.0, rel=0.01)


def test_cms_exact_when_collision_free_and_merge(spark):
    """CountMin: estimates equal true counts when slots are collision-free
    (tiny vocab), and the merged sketch equals the sketch of the union
    (vector-add associativity)."""
    from pyspark.sql import functions as F

    from dp3_spark.operators.sketch import (
        cms_estimate_expr,
        cms_merge_expr,
        cms_sketch,
    )

    d1 = spark.createDataFrame(
        [("g1", "a")] * 3 + [("g1", "b")] * 2, "g string, v string"
    )
    d2 = spark.createDataFrame(
        [("g2", "a")] * 5 + [("g2", "c")] * 1, "g string, v string"
    )
    u = d1.unionByName(d2)
    sk = cms_sketch(u, keys=["g"], value_col="v")
    est_a = cms_estimate_expr("'a'")[0]
    got = {r["g"]: r["e"] for r in sk.selectExpr("g", f"{est_a} as e").collect()}
    assert got == {"g1": 3, "g2": 5}
    # merge: g1 + g2 sketches == sketch of everything under one key
    merged = (
        sk.filter("g = 'g1'").alias("a")
        .crossJoin(sk.filter("g = 'g2'").alias("b"))
        .selectExpr(f"{cms_merge_expr()} as cms")
    )
    whole = cms_sketch(
        u.withColumn("g", F.lit("all")), keys=["g"], value_col="v"
    ).select("cms")
    assert merged.collect()[0]["cms"] == whole.collect()[0]["cms"]
    assert merged.selectExpr(f"{est_a} as e").collect()[0]["e"] == 8


def test_cms_duck_estimate_expr_parity(spark):
    """The DuckDB half of cms_estimate_expr must read a Spark-built
    sketch identically (1-based list indexing, same md5 slot math) —
    exercised here so the helper cannot drift unvalidated."""
    import duckdb

    from dp3_spark.operators.sketch import cms_estimate_expr, cms_sketch

    df = spark.createDataFrame(
        [("g", "a")] * 4 + [("g", "b")] * 7, "g string, v string"
    )
    pdf = cms_sketch(df, keys=["g"], value_col="v").toPandas()
    con = duckdb.connect()
    con.register("sk", pdf)
    for probe, want in [("a", 4), ("b", 7)]:
        duck = cms_estimate_expr(f"'{probe}'")[1]
        assert con.execute(f"select {duck} from sk").fetchone()[0] == want


def test_cms_merge_rejects_geometry_mismatch(spark):
    from dp3_spark.operators.sketch import cms_merge_expr, cms_sketch

    a = cms_sketch(
        spark.createDataFrame([("g", "x")], "g string, v string"),
        keys=["g"], value_col="v",
    ).alias("a")
    b = cms_sketch(
        spark.createDataFrame([("g", "x")], "g string, v string"),
        keys=["g"], value_col="v", width=32,
    ).alias("b")
    import pytest as _pt

    with _pt.raises(Exception, match="geometry mismatch"):
        a.crossJoin(b).selectExpr(f"{cms_merge_expr()} as m").collect()
