"""DSIR-style data selection: importance resampling with hashed n-gram
features (Xie et al., "Data Selection for Language Models via Importance
Resampling", NeurIPS 2023, arXiv:2302.03169).

The published pipeline: featurize every document as a bag of hashed word
uni+bigrams, fit unigram bucket distributions for the TARGET corpus (the
distribution you want more of — e.g. curated encyclopedic text) and the
RAW corpus, score each raw document with the log importance ratio
log p_target(doc)/p_raw(doc) = Σ_ngrams log(p̂_t[b]/p̂_r[b]), and keep the
top-weighted (or Gumbel-resampled) documents.  At 100 TB this is one of
the highest-leverage selection ops a training-data pipeline runs.

Spark-first shape (everything map-combinable, corpus shuffles only
n-gram-sized rows):

- `hashed_ngram_profile`: ONE corpus pass — explode word uni+bigrams,
  bucket by the repo's stable md5 idiom (identical hex in Spark and
  DuckDB — operators/sampling.py), groupBy(bucket).  The profile has at
  most `buckets` rows: tiny, broadcastable.
- `dsir_log_weights`: per-BUCKET micro-quantized log ratio — int64
  micro-units of ln((t_b+α)/(T+αB)) − ln((r_b+α)/(R+αB)) — joined
  (broadcast) to the exploded n-grams and summed as int64.  The same
  fixed-point discipline as BM25's per-term idf quantization
  (operators/search.py): cross-engine float divergence is confined to a
  1-ulp rounding boundary on a 1e-6 grid, and the per-document SUM is
  integer-exact.
- `dsir_topk`: deterministic selection — (weight DESC, doc_id ASC),
  the ranked form a deterministic pipeline wants.
- `dsir_sample`: the paper's published selection mode — Gumbel-top-k
  resampling (top-k of log w_i + g_i, g_i ~ Gumbel(0,1), the Gumbel-max
  trick for sampling without replacement proportionally to w_i) — with
  the noise drawn from a SEEDED md5-uniform key, so the draw is
  deterministic given the seed (hash-gateable) while remaining a
  faithful Gumbel sample across seeds.

Smoothing α=1 (add-one over buckets) keeps every bucket's ratio finite
and the expressions identical in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dp3_spark.layout import spread
from dp3_spark.operators.sampling import _bucket_exprs

# words -> uni+bigram array, Spark SQL (lowercased, [a-z0-9]+ tokens —
# the BPE/word_counts alphabet, collation-safe)
_NGRAMS_SPARK = (
    "filter(split(lower({text}), '[^a-z0-9]+'), x -> x <> '')"
)


def _ngram_explode(
    df: DataFrame, text_col: str, id_col: str | None, extra: tuple[str, ...] = ()
) -> DataFrame:
    """One row per (doc?, ngram): word unigrams + adjacent bigrams.
    The token array materializes ONCE per row before the transform — an
    inlined split() re-evaluates per element (the O(len^2) lesson from
    lm._trigrams; inlining measured 30 s vs ~3 s at sf0.1 here).
    `extra` columns pass through unchanged (the single-pass profile's
    target flag)."""
    ws = _NGRAMS_SPARK.format(text=text_col)
    cols = [F.col(id_col).alias("id")] if id_col else []
    cols += [F.col(c) for c in extra]
    staged = df.select(*cols, F.expr(ws).alias("__ws"))
    keep = (["id"] if id_col else []) + list(extra)
    return staged.select(
        *keep,
        F.expr(
            "explode(concat(__ws, "
            "case when size(__ws) >= 2 then "
            "transform(sequence(1, size(__ws) - 1), "
            "i -> concat(element_at(__ws, i), ' ', element_at(__ws, i + 1))) "
            "else array() end))"
        ).alias("ngram"),
    )


def hashed_ngram_profile(
    df: DataFrame, *, text_col: str = "text", buckets: int = 4096
) -> DataFrame:
    """(bucket, cnt): the corpus' hashed n-gram distribution.  One
    map-combinable pass; at most `buckets` output rows."""
    b_s, _ = _bucket_exprs("ngram", "dsir", buckets)
    return (
        _ngram_explode(spread(df), text_col, None)
        .select(F.expr(b_s).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("cnt"))
    )


def _micro_ratio(
    target: DataFrame, raw: DataFrame, *, buckets: int
) -> DataFrame:
    """(bucket, micro): int64 micro-units of the smoothed log importance
    ratio.  The profile DataFrames are materialized ONCE here (each is
    at most `buckets` rows after its aggregation) and rebuilt as local
    frames, with the totals derived from the collected rows — without
    this, the lazy profile plans re-run their full corpus explode in the
    totals aggregation AND again inside the scoring job's broadcast
    build (~5 corpus-scale scans instead of the documented two profile
    passes + one scoring pass; r7 ADVICE).  The ln/floor quantization
    stays in the SAME Spark SQL expression as before, so the micro
    values are bit-identical to the uncollected formulation."""
    t_rows = [(r["bucket"], r["cnt"]) for r in target.collect()]
    r_rows = [(r["bucket"], r["cnt"]) for r in raw.collect()]
    return _micro_ratio_from_rows(
        target.sparkSession, t_rows, r_rows, buckets=buckets
    )


def _micro_ratio_from_rows(
    spark, t_rows, r_rows, *, buckets: int
) -> DataFrame:
    t_tot = sum(c for _, c in t_rows)
    r_tot = sum(c for _, c in r_rows)
    t = spark.createDataFrame(t_rows, "bucket bigint, t_cnt bigint")
    r = spark.createDataFrame(r_rows, "bucket bigint, r_cnt bigint")
    allb = spark.range(buckets).select(F.col("id").cast("bigint").alias("bucket"))
    joined = (
        allb.join(t, "bucket", "left")
        .join(r, "bucket", "left")
        .fillna(0, ["t_cnt", "r_cnt"])
    )
    return joined.select(
        "bucket",
        F.expr(
            f"cast(floor(1000000.0d * ("
            f"ln((t_cnt + 1) / cast({t_tot} + {buckets} as double)) - "
            f"ln((r_cnt + 1) / cast({r_tot} + {buckets} as double))"
            f") + 0.5d) as bigint)"
        ).alias("micro"),
    )


def dsir_log_weights(
    docs: DataFrame,
    target: DataFrame | None = None,
    *,
    target_pred=None,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = 4096,
) -> DataFrame:
    """(doc_id, n_ngrams, weight_micro): per-document importance weight in
    int64 micro-units.  `target` is the corpus whose distribution you
    want more of; `docs` is the raw pool being scored (it supplies the
    denominator profile).

    When the target IS a slice of the raw pool — the common in-pipeline
    shape (e.g. "more like the en-tagged docs") — pass `target_pred` (a
    boolean Column over docs) instead of a separate frame: BOTH profiles
    then come from ONE corpus n-gram pass via conditional aggregation
    (t_cnt = count where pred, r_cnt = count), dropping the op from
    three corpus-scale explodes to the paper's floor of two (profile +
    score).  Counts, and therefore every micro weight, are identical to
    the two-frame form with target = docs.filter(target_pred).

    The bucket table broadcasts either way."""
    if (target is None) == (target_pred is None):
        raise ValueError("pass exactly one of target / target_pred")
    docs = spread(docs)
    if target_pred is not None:
        b_s1, _ = _bucket_exprs("ngram", "dsir", buckets)
        prof = (
            _ngram_explode(
                docs.withColumn("__is_t", target_pred.cast("boolean")),
                text_col, None, extra=("__is_t",),
            )
            .select("__is_t", F.expr(b_s1).alias("bucket"))
            .groupBy("bucket")
            .agg(
                F.count(F.when(F.col("__is_t"), F.lit(1))).alias("t_cnt"),
                F.count("*").alias("r_cnt"),
            )
            .collect()
        )
        micro = F.broadcast(_micro_ratio_from_rows(
            docs.sparkSession,
            [(r["bucket"], r["t_cnt"]) for r in prof],
            [(r["bucket"], r["r_cnt"]) for r in prof],
            buckets=buckets,
        ))
    else:
        t_prof = hashed_ngram_profile(target, text_col=text_col, buckets=buckets)
        r_prof = hashed_ngram_profile(docs, text_col=text_col, buckets=buckets)
        micro = F.broadcast(_micro_ratio(t_prof, r_prof, buckets=buckets))
    b_s, _ = _bucket_exprs("ngram", "dsir", buckets)
    grams = _ngram_explode(docs, text_col, id_col).select(
        "id", F.expr(b_s).alias("bucket")
    )
    return (
        grams.join(micro, "bucket")
        .groupBy(F.col("id").alias(id_col))
        .agg(
            F.count("*").alias("n_ngrams"),
            F.sum("micro").cast("bigint").alias("weight_micro"),
        )
    )


def dsir_topk(
    docs: DataFrame,
    target: DataFrame | None = None,
    *,
    target_pred=None,
    k: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = 4096,
    length_normalize: bool = True,
) -> DataFrame:
    """The selection: top-k raw documents by importance weight
    (deterministic: weight DESC, doc_id ASC).  length_normalize scores by
    the PER-NGRAM average (micro-units again, integer div — long
    documents accumulate more absolute log mass in both directions, so
    the ratio-per-token is the comparable quantity)."""
    w = dsir_log_weights(
        docs, target, target_pred=target_pred,
        id_col=id_col, text_col=text_col, buckets=buckets,
    )
    if length_normalize:
        w = w.withColumn(
            "score_micro",
            F.expr("weight_micro * 1000 div n_ngrams").cast("bigint"),
        )
    else:
        w = w.withColumn("score_micro", F.col("weight_micro"))
    return (
        w.orderBy(F.col("score_micro").desc(), F.col(id_col).asc())
        .limit(k)
        .select(id_col, "n_ngrams", "weight_micro", "score_micro")
    )


def gumbel_micro_exprs(id_col: str, seed: str) -> tuple[str, str]:
    """(spark_sql, duckdb_sql) for int64 micro-units of a SEEDED
    Gumbel(0,1) draw keyed on the doc id: u = (h + 0.5) / 2^32 with h
    the first 8 md5 hex digits of `id || seed` (the repo's stable
    uniform idiom, operators/sampling.py — identical hex in both
    engines, and the +0.5 keeps u strictly inside (0,1) so both ln()
    are finite), then g = -ln(-ln(u)) quantized to the same 1e-6 grid
    as the importance weights (the BM25-idf float discipline: any
    cross-engine libm divergence is confined to a 1-ulp rounding
    boundary on the grid)."""
    key_s = f"concat(cast({id_col} as string), '{seed}')"
    key_d = f"concat(cast({id_col} as varchar), '{seed}')"
    h_s = f"cast(conv(substring(md5({key_s}), 1, 8), 16, 10) as bigint)"
    h_d = f"cast(concat('0x', substr(md5({key_d}), 1, 8)) as bigint)"
    u_s = f"((({h_s}) + 0.5d) / 4294967296.0d)"
    u_d = f"((({h_d}) + 0.5) / 4294967296.0)"
    g_s = f"cast(floor(1000000.0d * (-ln(-ln({u_s}))) + 0.5d) as bigint)"
    g_d = f"cast(floor(1000000.0 * (-ln(-ln({u_d}))) + 0.5) as bigint)"
    return g_s, g_d


def dsir_sample(
    docs: DataFrame,
    target: DataFrame | None = None,
    *,
    target_pred=None,
    k: int,
    seed: str = "dsir",
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = 4096,
) -> DataFrame:
    """The paper's published selection mode (arXiv:2302.03169 §3):
    sample k documents without replacement with probability proportional
    to their importance weight w_i.  By the Gumbel-max trick that is
    EXACTLY the top-k of log w_i + g_i with g_i ~ Gumbel(0,1) i.i.d. —
    one noise column on the already-computed log weights, no extra
    corpus pass.  The noise is seeded md5-uniform per document
    (gumbel_micro_exprs), so a given seed always selects the same
    documents (reruns/retries of a 100 TB selection are reproducible,
    and the driver's hash gate can pin it) while different seeds give
    independent faithful draws.  dsir_topk is the noise-free ranked
    form.  Selection is (key DESC, doc_id ASC) on int64 micro-units —
    integer-exact ordering."""
    w = dsir_log_weights(
        docs, target, target_pred=target_pred,
        id_col=id_col, text_col=text_col, buckets=buckets,
    )
    g_s, _ = gumbel_micro_exprs(id_col, seed)
    w = w.withColumn("gumbel_micro", F.expr(g_s)).withColumn(
        "key_micro",
        (F.col("weight_micro") + F.col("gumbel_micro")).cast("bigint"),
    )
    return (
        w.orderBy(F.col("key_micro").desc(), F.col(id_col).asc())
        .limit(k)
        .select(id_col, "n_ngrams", "weight_micro", "gumbel_micro", "key_micro")
    )
