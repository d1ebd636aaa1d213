"""Corpus-statistics language-model scoring — the CCNet/Gopher
perplexity-filter stage (Wenzek et al., arXiv:1911.00359 filter by LM
score; here the LM is trained on the corpus itself, no external model):
score each document by the mean conditional log-probability of its
characters under the corpus's own char-trigram MLE model,
P(c3 | c1c2) = count(c1c2c3) / (count(c1c2 as context) + 1) — the +1
reserves escape mass, so a trigram that is deterministic-but-rare (the
signature of gibberish: every context seen once, continuing one way)
scores ln(1/2) per char while common language scores near 0.

Low scores flag gibberish / non-language / mojibake relative to the
corpus distribution; the filter keeps documents above a quantile.

Scale shape (the reason char-level): the model vocabulary is bounded by
distinct char-trigrams (≤ ~1M for UTF-8 text corpora at any corpus
size), so the count table BROADCASTS forever — the build is one
map-combinable groupBy over the exploded trigram stream, and the score
pass is a broadcast join + map-combinable per-doc sum.  Nothing
corpus-sized shuffles twice.

Determinism: per-term contribution is round-half-up(1000 * ln(c3/c2)) in
int64 millinats — IEEE division and libm/JVM ln agree on these inputs
(pinned by the DuckDB oracle at both gate scales) and the integer sum is
order-independent at any parallelism, the same discipline as the TWA /
counter integer-exact oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dp3_spark.layout import spread


def _trigrams(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, tri) — one row per char-trigram occurrence (docs shorter than
    3 chars contribute none)."""
    # Split to a char array FIRST, in its own projection: substring(text,
    # i, 3) re-seeks the UTF-8 string from offset 0 on every call (O(len)
    # each -> O(len^2) per doc — measured as 3/4 of the whole query), and
    # a split() inside the lambda would not be hoisted out of the per-i
    # evaluation.  slice() on the materialized array is O(3).
    # sequence(1, 0) is DESCENDING in Spark, not empty — docs under
    # 3 chars take the explicit empty branch.
    # fat-per-row work (the explode multiplies each row ~300x): spread
    # under-parallel inputs first
    chars = spread(df).select(
        F.col(id_col).alias("id"),
        F.expr(f"split({text_col}, '')").alias("__ch"),
    )
    return chars.select(
        "id",
        F.explode(
            F.expr(
                "case when size(__ch) >= 3 then "
                "transform(sequence(1, size(__ch) - 2), "
                "i -> concat_ws('', slice(__ch, i, 3))) "
                "else array() end"
            )
        ).alias("tri"),
    )


def lm_trigram_counts(df: DataFrame, *, id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """The 'model': (tri, c3, c2) — trigram count and its context
    (leading-bigram) count.  c2 is the CONTEXT count (sum of c3 over the
    shared prefix), the denominator of the conditional MLE."""
    c3 = (
        _trigrams(df, id_col, text_col)
        .groupBy("tri")
        .agg(F.count("*").alias("c3"))
        # the count table is tiny (bounded by distinct trigrams) but its
        # lineage is a full corpus pass — checkpoint it so the c2 window
        # and the scoring broadcast don't re-run the explode (measured:
        # 3 corpus scans -> 2, the theoretical minimum without caching
        # the corpus itself)
        .localCheckpoint(eager=True)
    )
    w = Window.partitionBy(F.substring("tri", 1, 2))
    return c3.withColumn("c2", F.sum("c3").over(w))


def lm_score(df: DataFrame, *, id_col: str = "doc_id",
             text_col: str = "text", counts: DataFrame | None = None) -> DataFrame:
    """Per-document mean char-trigram log-probability under the corpus
    model: (id_col, n_terms, sum_millinats, lm_score).

    counts: a persisted lm_trigram_counts frame to score against (the
    deployment shape — train once, score many batches); defaults to the
    input corpus itself."""
    model = counts if counts is not None else lm_trigram_counts(
        df, id_col=id_col, text_col=text_col
    )
    tri = _trigrams(df, id_col, text_col)
    scored = tri.join(F.broadcast(model), "tri").withColumn(
        "term",
        F.expr(
            "cast(floor(1000.0 * ln(cast(c3 as double) / (cast(c2 as double) + 1.0)) "
            "+ 0.5) as bigint)"
        ),
    )
    return (
        scored.groupBy("id")
        .agg(
            F.count("*").cast("long").alias("n_terms"),
            F.sum("term").cast("long").alias("sum_millinats"),
        )
        .withColumn(
            "lm_score",
            F.col("sum_millinats") / (F.lit(1000.0) * F.col("n_terms")),
        )
        .withColumnRenamed("id", id_col)
    )
