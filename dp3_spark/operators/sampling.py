"""Deterministic sampling / splitting for training-data pipelines.

Everything keys off a cryptographic-quality stable hash of the row id
(md5 — identical hex in Spark and DuckDB), never RNG: reruns, retries,
and incremental refreshes of a 100 TB corpus must assign every document
to the same split forever, which `rand()` cannot do.  md5 rather than the
polynomial fingerprint hash because short keys (small integer ids) leave
the polynomial's low range badly non-uniform — a split would swallow
every low id.  The split/sample operators are per-row map-side
arithmetic — no shuffle, no state; domain_mix adds one tiny per-domain
rollup whose result is broadcast back (the corpus itself never shuffles).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _bucket_exprs(id_col: str, salt: str, buckets: int) -> tuple[str, str]:
    """(spark_sql, duckdb_sql) for a stable uniform bucket in [0, buckets):
    the first 8 md5 hex digits of `id || salt`, parsed as an int.  Both
    engines render md5 as lowercase hex, so the buckets agree exactly."""
    key_s = f"concat(cast({id_col} as string), '{salt}')"
    key_d = f"concat(cast({id_col} as varchar), '{salt}')"
    h_s = f"cast(conv(substring(md5({key_s}), 1, 8), 16, 10) as bigint)"
    h_d = f"cast(concat('0x', substr(md5({key_d}), 1, 8)) as bigint)"
    return f"({h_s}) % {buckets}", f"({h_d}) % {buckets}"


def hash_split(
    df: DataFrame,
    id_col: str,
    *,
    test_pct: int = 10,
    val_pct: int = 0,
    salt: str = "",
) -> DataFrame:
    """Adds a `split` column: 'test' / 'val' / 'train' by stable id-hash
    bucket.  Salt changes the assignment wholesale (a new experiment) while
    staying deterministic."""
    if test_pct + val_pct >= 100:
        raise ValueError("test_pct + val_pct must leave room for train")
    b_s, _ = _bucket_exprs(id_col, salt, 100)
    bucket = F.expr(b_s)
    return df.withColumn(
        "split",
        F.when(bucket < test_pct, F.lit("test"))
        .when(bucket < test_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("train")),
    )


def hash_split_oracle_case(id_col: str, *, test_pct: int = 10, val_pct: int = 0, salt: str = "") -> str:
    """The DuckDB expression mirroring hash_split's `split` column."""
    _, b_d = _bucket_exprs(id_col, salt, 100)
    return (
        f"case when ({b_d}) < {test_pct} then 'test' "
        f"when ({b_d}) < {test_pct + val_pct} then 'val' "
        f"else 'train' end"
    )


def deterministic_sample(
    df: DataFrame,
    id_col: str,
    *,
    fraction: float,
    salt: str = "",
) -> DataFrame:
    """Stable fraction-sample: keeps rows whose id-hash bucket (of 1e6)
    falls below fraction * 1e6.  Same rows on every run."""
    b_s, _ = _bucket_exprs(id_col, salt, 1_000_000)
    return df.filter(F.expr(b_s) < int(fraction * 1_000_000))


def sample_k_per_group(
    df: DataFrame,
    id_col: str,
    group_col: str,
    *,
    k: int,
    salt: str = "",
) -> DataFrame:
    """Exact k-per-group deterministic sample — the fixed-SIZE complement
    of domain_mix's fixed-RATE sampling (stratified eval sets, per-domain
    audit samples): rank rows within each group by the md5 hex of
    (id || salt) — a fixed random-looking order both engines reproduce
    byte-identically — and keep the first k (ties broken by id; md5
    collisions on distinct ids are not a concern for ordering since the
    id tiebreak is total).  Output adds `sample_rank` (1..k).

    Scale shape: ONE window partitioned by the group column — per-group
    work only, no global sort; groups smaller than k pass through
    whole."""
    if k <= 0:
        raise ValueError("k must be positive")
    key = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt)))
    w = Window.partitionBy(group_col).orderBy(key, F.col(id_col))
    return (
        df.withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= k)
    )


def sample_k_per_group_oracle(
    id_col: str, group_col: str, *, k: int, salt: str = "", src: str = "documents"
) -> str:
    """DuckDB re-derivation: identical md5-hex ordering window."""
    key = f"md5(concat(cast({id_col} as varchar), '{salt}'))"
    return f"""
    select * from (
      select *, cast(row_number() over (
        partition by {group_col} order by {key}, {id_col}
      ) as int) as sample_rank
      from {src}) t
    where sample_rank <= {k}
    """


def _mix_threshold_exprs(
    domain_col: str, weights: dict[str, float], total_tokens: int
) -> tuple[str, str]:
    """(spark_sql, duckdb_sql) CASE mapping domain -> target token count
    (double).  Unlisted domains target 0 (dropped)."""
    whens = " ".join(
        f"when '{dom}' then cast({float(w) * total_tokens} as double)"
        for dom, w in sorted(weights.items())
    )
    case = f"case {domain_col} {whens} else cast(0.0 as double) end"
    return case, case


def domain_mix(
    df: DataFrame,
    id_col: str,
    domain_col: str,
    token_expr: str,
    weights: dict[str, float],
    total_tokens: int,
    *,
    salt: str = "",
) -> DataFrame:
    """Deterministic domain-mixture sampling: downsample each domain so the
    sampled corpus approximates `total_tokens * weights[domain]` tokens per
    domain — the standard "target mixture" step of training-data assembly
    (e.g. 50% web / 30% wiki / 20% code by token count).

    Per-domain keep rate = min(1, target_tokens / available_tokens), then
    the same stable md5 id-bucket as deterministic_sample decides each row.
    Rates come from one tiny groupBy(domain) rollup joined back via
    broadcast — at 100 TB the corpus never shuffles; the only wide work is
    the map-side partial aggregation of token counts.  A domain with fewer
    tokens than its target is kept whole (rate capped at 1) rather than
    upsampled; epoch-weighting is a trainer concern, not a sampling one.

    token_expr: Spark SQL expression for the per-row token count (e.g.
    functions/text.token_count).  Deterministic: floor(rate * 1e6) compared
    against the id bucket, all exact double ops, identical in DuckDB."""
    tgt_s, _ = _mix_threshold_exprs(domain_col, weights, total_tokens)
    b_s, _ = _bucket_exprs(id_col, salt, 1_000_000)
    avail = (
        df.select(F.col(domain_col), F.expr(token_expr).cast("double").alias("_nt"))
        .groupBy(domain_col)
        .agg(F.sum("_nt").alias("_avail"))
    )
    rates = avail.select(
        F.col(domain_col),
        F.floor(
            F.least(F.lit(1.0), F.expr(tgt_s) / F.col("_avail")) * 1_000_000
        )
        .cast("long")
        .alias("_thr"),
    )
    return (
        df.join(F.broadcast(rates), domain_col)
        .filter(F.expr(b_s) < F.col("_thr"))
        .drop("_thr")
    )


def domain_mix_oracle_cte(
    table: str,
    id_col: str,
    domain_col: str,
    token_expr_duck: str,
    weights: dict[str, float],
    total_tokens: int,
    *,
    salt: str = "",
) -> str:
    """DuckDB CTE mirroring domain_mix: `with {cte} select ... from mixed`."""
    _, tgt_d = _mix_threshold_exprs(domain_col, weights, total_tokens)
    _, b_d = _bucket_exprs(id_col, salt, 1_000_000)
    return f"""
    mix_avail as (
      select {domain_col}, sum(cast({token_expr_duck} as double)) as _avail
      from {table} group by {domain_col}
    ),
    mix_rates as (
      select {domain_col},
             cast(floor(least(1.0, ({tgt_d}) / _avail) * 1000000) as bigint) as _thr
      from mix_avail
    ),
    mixed as (
      select t.* from {table} t join mix_rates r using ({domain_col})
      where ({b_d}) < r._thr
    )
    """


def stratified_sample(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    fractions: dict[str, float],
    *,
    default_fraction: float = 0.0,
    salt: str = "",
) -> DataFrame:
    """Per-stratum deterministic sample (e.g. downweight boilerplate
    languages, keep all rare ones).  fractions: stratum value -> keep rate."""
    b_s, _ = _bucket_exprs(id_col, salt, 1_000_000)
    bucket = F.expr(b_s)
    thresh = F.lit(int(default_fraction * 1_000_000))
    for val, frac in sorted(fractions.items()):
        thresh = F.when(F.col(strata_col) == val, F.lit(int(frac * 1_000_000))).otherwise(thresh)
    return df.filter(bucket < thresh)
