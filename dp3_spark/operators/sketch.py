"""Mergeable quantile sketch columns — the DDSketch subsystem rebuilt on
DataFrame primitives (nodestore/statistics.go:129-155, 198-229: DDSketch
with relative accuracy 0.01, merged associatively on tree merge).

Design: a log-binned histogram ("DDSketch-style").  For relative accuracy
a, gamma = (1+a)/(1-a); positive values map to bin ceil(log_gamma(x)), with
a dedicated zero bin and mirrored negative bins.  A sketch is a
map<int, long> column — storable in a summary table, mergeable by summing
bin counts, quantile-extractable with rank-accuracy-free relative error
<= a.  Everything is built-in expressions: building and merging are one
explode/groupBy each, and quantile extraction is one projection (a
higher-order walk over each row's sorted bins, no shuffle).  No UDAF
object state, so partial aggregation and AQE behave normally at any
scale.

Bin arithmetic uses double log(); bins are engine-deterministic but NOT
oracle-compared bit-for-bit (libm may differ across engines) — accuracy
and associativity are pinned by unit tests instead.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_ACCURACY = 0.01  # reference: nodestore/statistics.go:130

ZERO_BIN = 0  # exact zeros; positive bins > 0, negative bins < 0
_OFFSET = 1_000_000  # keeps sub-1 magnitudes (negative log bins) positive


def _gamma(accuracy: float) -> float:
    return (1 + accuracy) / (1 - accuracy)


def bin_expr(col: str, accuracy: float = DEFAULT_ACCURACY) -> Column:
    """Value -> sketch bin (int).  |x| maps to e = ceil(log_gamma(|x|)) (so
    |x| in (gamma^(e-1), gamma^e]); bin = sign(x) * (e + OFFSET); zero -> 0.
    Bin order == value order.  NaN/Inf excluded upstream."""
    lg = math.log(_gamma(accuracy))
    c = F.col(col).cast("double")
    e = F.ceil(F.log(F.abs(c)) / F.lit(lg)).cast("long")
    return (
        F.when(c == 0.0, F.lit(ZERO_BIN).cast("long"))
        .when(c > 0.0, e + F.lit(_OFFSET))
        .otherwise(-(e + F.lit(_OFFSET)))
    )


def bin_value(b: str, accuracy: float = DEFAULT_ACCURACY) -> Column:
    """Representative value of bin column `b` (a column name or SQL
    expression): the geometric mean gamma^(e - 0.5) of the bin interval —
    relative error <= accuracy.  Double literals carry lg exactly."""
    lg = math.log(_gamma(accuracy))
    mag = f"exp(cast(abs({b}) - {_OFFSET} as double) * {lg!r}D - {0.5 * lg!r}D)"
    return F.expr(
        f"case when {b} = {ZERO_BIN} then 0.0D when {b} > 0 then {mag} else -{mag} end"
    )


def sketch_summarize(
    df: DataFrame,
    *,
    keys: Sequence[str],
    field: str,
    accuracy: float = DEFAULT_ACCURACY,
) -> DataFrame:
    """Per-key sketch: map<int,long> of bin -> count.  One shuffle on
    (keys, bin) with map-side combine, then one on keys — both narrow."""
    c = F.col(field).cast("double")
    clean = df.filter(
        c.isNotNull() & ~(F.isnan(c) | c.isin(float("inf"), float("-inf")))
    )
    binned = clean.withColumn("bin", bin_expr(field, accuracy))
    counts = binned.groupBy(*keys, "bin").agg(F.count("*").alias("cnt"))
    return counts.groupBy(*keys).agg(
        F.map_from_entries(F.collect_list(F.struct("bin", "cnt"))).alias("sketch"),
        F.sum("cnt").alias("sketch_n"),
    )


def sketch_merge(df: DataFrame, *, keys: Sequence[str]) -> DataFrame:
    """Associative merge of sketch rows to coarser keys: explode bins,
    re-sum — exactly the reference's Merge (statistics.go:400-433)."""
    exploded = df.select(*keys, F.explode("sketch").alias("bin", "cnt"))
    counts = exploded.groupBy(*keys, "bin").agg(F.sum("cnt").alias("cnt"))
    return counts.groupBy(*keys).agg(
        F.map_from_entries(F.collect_list(F.struct("bin", "cnt"))).alias("sketch"),
        F.sum("cnt").alias("sketch_n"),
    )


# The DDSketch walk for one quantile, as one higher-order fold over a
# row's key-sorted bins: carry the running count and keep the first bin
# whose count reaches the rank.  SQL text, not the Python Column API: a
# lambda built through the Column API costs hundreds of py4j round trips
# of driver time per request; the text is parsed once by the JVM.
_WALK = (
    "aggregate(array_sort(map_entries(sketch)), "
    "named_struct('cum', 0L, 'bin', cast(null as bigint)), "
    "(acc, e) -> named_struct('cum', acc.cum + e.value, 'bin', "
    "if(acc.bin is null and acc.cum + e.value >= {rank}, cast(e.key as bigint), acc.bin)), "
    "acc -> acc.bin)"
)


def sketch_quantiles(
    df: DataFrame,
    *,
    keys: Sequence[str],
    quantiles: Sequence[float],
    accuracy: float = DEFAULT_ACCURACY,
    values: bool = True,
) -> DataFrame:
    """Extract quantiles from sketch rows: per key, walk bins in order and
    take the first bin whose cumulative count covers q * n (the DDSketch
    GetValueAtQuantile walk, relative error <= accuracy).

    Input contract: one row per key with a non-empty `sketch` and its
    `sketch_n`, as sketch_summarize / sketch_merge produce.  Each quantile
    is one fold over the row's bins, so extraction is a projection: no
    explode, window or join.  The rank is double(q) * sketch_n (a double
    literal — a bare SQL 0.07 is DECIMAL, and 0.07 * 100 as a decimal is
    7 where the double product is 7.000000000000001, a different bin).

    Output: keys + p{N} columns (value of the covering bin), or the raw
    covering bin indices as p{N}_bin longs when values=False.  Bin
    INDICES are bit-exact across engines (ceil(ln/ln) agreed on every
    fixture value Spark-vs-DuckDB), while the representative value's
    exp() differs in the last ulp between JVM Math.exp and libm — so
    cross-engine comparisons (the registry oracle) use bins, and callers
    wanting floats apply bin_value to them."""
    names = [f"p{int(q * 100)}" for q in quantiles]
    bins = df.select(
        *keys,
        *(
            F.expr(_WALK.format(rank=f"{float(q)!r}D * sketch_n")).alias(f"{n}_bin")
            for q, n in zip(quantiles, names)
        ),
    )
    if not values:
        return bins
    # a separate projection: bin_value reads its column three times, and
    # Catalyst does not inline a fold it would then evaluate thrice
    return bins.select(*keys, *(bin_value(f"{n}_bin", accuracy).alias(n) for n in names))


# ------------------------------------------------------------ HyperLogLog
# Mergeable distinct-count sketch columns, same storage discipline as the
# quantile sketch above: a sketch is a sorted array<struct<reg,mr>> column
# — storable in summary tables, mergeable by element-wise register max,
# estimable without touching raw data again (Flajolet et al., "HyperLogLog:
# the analysis of a near-optimal cardinality estimation algorithm", 2007).
#
# The hash is md5-derived (low 60 bits of the hex digest) so the DuckDB
# oracle computes the IDENTICAL sketch: md5 is bit-stable across engines,
# unlike xxhash64, which only Spark exposes.  The estimate's power-of-two
# harmonic sum folds LEFT-TO-RIGHT over the register array sorted by
# register index in BOTH engines — float addition is not associative, and
# an unordered SUM() would hash-mismatch.
#
# At 100 TB: one narrow (group, reg, rank) shuffle, map-side combinable;
# registers per group are <= 2^p rows and the sketch column is ~KB.

HLL_P = 9  # 512 registers: ~4.6% standard error


def hll_hash_expr(value_col: str) -> tuple[str, str]:
    """(spark_sql, duckdb_sql) for the portable 60-bit hash."""
    spark = (
        f"cast(conv(substring(md5(cast({value_col} as string)), 1, 15), 16, 10) as bigint)"
    )
    duck = f"cast(('0x' || substr(md5(cast({value_col} as varchar)), 1, 15)) as bigint)"
    return spark, duck


def hll_sketch(
    df: DataFrame, *, keys: Sequence[str], value_col: str, p: int = HLL_P
) -> DataFrame:
    """Per-group HLL sketch column `hll`: sorted array<struct<reg:int,
    mr:int>> of occupied registers.  reg = hash % 2^p; mr = max over group
    of (52 - bit_length(hash div 2^p)) — the 1-based leading-zero rank in
    the remaining 60-p bits (p=9: 51 bits, rank 52 for w=0)."""
    m = 1 << p
    h_s, _ = hll_hash_expr(value_col)
    reg = f"cast(({h_s}) % {m} as int)"
    w = f"(({h_s}) div {m})"
    rank = f"cast(case when {w} = 0 then 52 else 52 - length(bin({w})) end as int)"
    per = df.filter(F.col(value_col).isNotNull()).selectExpr(
        *keys, f"{reg} as reg", f"{rank} as rank"
    )
    regs = per.groupBy(*keys, "reg").agg(F.max("rank").alias("mr"))
    return regs.groupBy(*keys).agg(
        F.array_sort(F.collect_list(F.struct("reg", "mr"))).alias("hll")
    )


def hll_merge(df: DataFrame, *, keys: Sequence[str]) -> DataFrame:
    """Merge sketches across groups (rollup): explode registers, take the
    max rank per register, rebuild.  Associative and commutative — the
    merged sketch equals the sketch of the unioned data by construction
    (max of maxes)."""
    exploded = df.select(*keys, F.explode("hll").alias("r")).select(
        *keys, F.col("r.reg").alias("reg"), F.col("r.mr").alias("mr")
    )
    regs = exploded.groupBy(*keys, "reg").agg(F.max("mr").alias("mr"))
    return regs.groupBy(*keys).agg(
        F.array_sort(F.collect_list(F.struct("reg", "mr"))).alias("hll")
    )


def hll_estimate_expr(p: int = HLL_P) -> Column:
    """Distinct-count estimate from a sketch column named `hll`.

    Standard HLL with the small-range linear-counting correction: raw =
    alpha_m * m^2 / (sum_occupied 2^-mr + V); if raw <= 2.5m and V > 0,
    estimate = m * ln(m / V).  The harmonic sum is an ordered fold over
    the reg-sorted array so the oracle's fold is bit-identical; absent
    (zero) registers contribute 2^0 = 1 each, added as one exact integer
    term."""
    m = 1 << p
    alpha = 0.7213 / (1.0 + 1.079 / m)
    sumpow = F.expr(
        "aggregate(hll, cast(0.0 as double), (a, x) -> a + pow(cast(2.0 as double), -x.mr))"
    )
    v = F.lit(m) - F.size("hll")
    sp = sumpow + v.cast("double")
    raw = F.lit(alpha * m * m) / sp
    return F.when(
        (raw <= F.lit(2.5 * m)) & (v > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / v.cast("double")),
    ).otherwise(raw)


# ---------------------------------------------------------------------------
# CountMin sketch: the mergeable heavy-hitters / frequency sketch that
# completes the summary-column family (count/sum + quantile sketch + HLL +
# frequency).  Same portability discipline as HLL: md5-derived row hashes
# so a DuckDB oracle computes the IDENTICAL table, and merge is a pure
# elementwise vector add — associative/commutative, so daily sketches roll
# up to weekly/monthly exactly like the reference merges its per-child
# statistics (nodestore/statistics.go Add/Merge).
# ---------------------------------------------------------------------------

CMS_WIDTH = 64
CMS_DEPTH = 4


def cms_pos_expr(value_col: str, d: int, width: int = CMS_WIDTH) -> tuple[str, str]:
    """(spark_sql, duck_sql) for hash-row d's slot of a value: low 8 hex
    chars of md5('d|value') mod width — engine-identical by md5
    bit-stability."""
    spark = (
        f"cast(conv(substring(md5(concat('{d}|', cast({value_col} as string))), 1, 8), 16, 10) "
        f"as bigint) % {width}"
    )
    duck = (
        f"cast(('0x' || substr(md5('{d}|' || cast({value_col} as varchar)), 1, 8)) as bigint) "
        f"% {width}"
    )
    return spark, duck


def cms_sketch(
    df: DataFrame,
    *,
    keys: Sequence[str],
    value_col: str,
    width: int = CMS_WIDTH,
    depth: int = CMS_DEPTH,
) -> DataFrame:
    """Per-group CountMin sketch column `cms`: array<long> of length
    width*depth, slot d*width + pos_d(v) accumulating occurrences.  Build
    is one explode (depth rows per input row, each two small ints) into a
    map-side-combinable (keys, slot) count, then one per-group array
    assembly — the corpus's value column itself never rides the shuffle
    twice."""
    slots = F.array(
        *[
            F.expr(f"{d} * {width} + ({cms_pos_expr(value_col, d, width)[0]})")
            for d in range(depth)
        ]
    )
    per = (
        df.filter(F.col(value_col).isNotNull())
        .select(*keys, F.explode(slots).alias("slot"))
        .groupBy(*keys, "slot")
        .agg(F.count("*").alias("c"))
    )
    n = width * depth
    # aggregate the slot map ONCE, then densify in a separate projection —
    # building the map inside the transform lambda would re-evaluate it
    # per array element (width*depth times per group)
    m = per.groupBy(*keys).agg(
        F.expr("map_from_entries(collect_list(struct(slot, c)))").alias("__m")
    )
    return m.select(
        *keys,
        F.expr(
            f"transform(sequence(0, {n - 1}), i -> "
            f"coalesce(__m[cast(i as bigint)], 0L))"
        ).alias("cms"),
    )


def cms_merge_expr(a: str = "a.cms", b: str = "b.cms") -> str:
    """Merged sketch = elementwise sum (vector add).  Sketches are only
    mergeable at IDENTICAL geometry — zip_with would silently null-pad a
    shorter array, so a size mismatch raises instead."""
    return (
        f"case when size({a}) = size({b}) then zip_with({a}, {b}, (x, y) -> x + y) "
        f"else raise_error(concat('cms geometry mismatch: ', size({a}), ' vs ', size({b}))) end"
    )


def cms_estimate_expr(
    value_col: str, *, width: int = CMS_WIDTH, depth: int = CMS_DEPTH,
    cms_col: str = "cms",
) -> tuple[str, str]:
    """(spark_sql, duck_sql) point-frequency estimate: min over the depth
    rows of the value's slots — an upper bound on the true count, exact
    when the value's slots are collision-free."""
    s_terms, d_terms = [], []
    for d in range(depth):
        s_pos, d_pos = cms_pos_expr(value_col, d, width)
        s_terms.append(f"{cms_col}[cast({d} * {width} + ({s_pos}) as int)]")
        d_terms.append(f"{cms_col}[cast({d} * {width} + ({d_pos}) as int) + 1]")
    return f"least({', '.join(s_terms)})", f"least({', '.join(d_terms)})"
