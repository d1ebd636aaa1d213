"""BM25 keyword search over the documents table — the retrieval primitive
of a training-data curation pipeline (targeted corpus filtering, eval-set
mining, "find everything about X in 100 TB").

The reference's QL surface filters rows by typed predicates and trigram
pruning (server/statfilter, surveyed in SURVEY.md §2.1#7); ranked keyword
retrieval is the natural extension once documents are a first-class table.
The operator is deliberately index-shaped:

- Tokenization is a map-side split (no UDF, pure codegen).
- Only postings of the *query terms* ever reach a shuffle — the
  `term IN (...)` filter sits below the (doc_id, term) aggregation, so at
  100 TB the shuffled volume is proportional to query-term hits, not
  corpus size (the same volume an inverted-index lookup would read).
- Document-frequency and corpus scalars (N, avgdl) are tiny aggregates,
  broadcast back onto the postings; the per-document score is one
  map-combinable sum.

Determinism contract (the millicosine discipline, see
operators/lm.py:22-26): the only transcendental — idf = ln(1 + (N - df +
0.5) / (df + 0.5)) — is quantized to int64 micro-units *per term* (one ln
call per query term, not per cell), and every per-(doc, term) partial
score is `floor(idf_micro * tfnorm + 0.5)` where tfnorm is a fixed-shape
chain of IEEE-exact ops (*, /, +) on exact integers and one exact division
(avgdl = sum_dl / n).  Partials are summed as int64 — order-independent —
so the DuckDB oracle hash-matches the Spark result bit for bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dp3_spark.layout import plan_bytes

# Okapi BM25 defaults (Robertson et al., TREC-3)
K1 = 1.2
B = 0.75

# whitespace tokenizer, identical in both engines: split on runs of
# whitespace, drop empty tokens (leading/trailing whitespace artifacts).
# NULL text coalesces to '' — Spark's size(NULL) is -1 (legacy sizeOfNull)
# while DuckDB's len(NULL) is NULL, so letting NULLs through would corrupt
# sum_dl on one engine only.
_TOKENS_SPARK = r"filter(split(coalesce({col}, ''), '\\s+'), x -> x != '')"
_TOKENS_DUCK = r"list_filter(regexp_split_to_array(coalesce({col}, ''), '\s+'), x -> x != '')"


def tokens_spark(col: str) -> str:
    return _TOKENS_SPARK.format(col=col)


def tokens_duck(col: str) -> str:
    return _TOKENS_DUCK.format(col=col)


# single-pass dispatch for bm25_topk (same size-picked idiom as
# dedup.verify_pairs' transport): below this input size the
# lazy 3-subtree plan wins — its three corpus tokenizations (postings,
# df-reuse, scalars) schedule CONCURRENTLY inside one action and the
# corpus is too small for pass count to matter, while the single-pass
# plan pays a fixed eager-checkpoint + observation round trip.  The gate
# reads layout.plan_bytes (driver metadata, no job; a `docs.count()` gate
# would schedule a real job on every call, charging the fixed cost it is
# meant to avoid to both regimes).  Measured with the gate forced each way
# (`bench.py --one search_bm25`, 4 cores, fresh JVM, min of 2 timed runs
# after 2 warm-ups, median of 3 interleaved runs), one pass vs lazy:
#   sf0.01  (65 KB estimate)  1.49 vs 0.97 s
#   sf0.1  (595 KB)           1.53 vs 1.09 s
#   sf1   (5.9 MB in 10 files, scale_gen)  1.65 vs 2.40 s
# so the crossover lies between 0.6 and 5.9 MB, where this threshold (the
# r10 20k-doc crossover at ~119 B/doc of zstd parquet) sits.  At corpus
# scale pass count is the whole cost — cores are saturated, so
# "concurrent" passes still triple CPU + I/O.
BM25_ONE_PASS_MIN_BYTES = 2_400_000


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
    k1: float = K1,
    b: float = B,
) -> DataFrame:
    """Top-k documents by Okapi BM25 score for a bag of query terms.

    Output: (doc_id, matched_terms, score_micro, rank) — score_micro is
    the int64 micro-unit BM25 score (sum of per-term quantized partials),
    rank 1..k by (score desc, doc_id asc).  Terms absent from the corpus
    contribute nothing (df derives from actual postings).

    Plan shape (>= BM25_ONE_PASS_MIN_BYTES scan bytes): ONE corpus tokenize
    pass — map-side tokenize -> `term IN (query)` filter -> one
    (doc_id, term) partial-aggregated shuffle of query-term postings
    only, materialized eagerly (the postings frame is query-term-sized,
    and it feeds BOTH the df aggregation and the scoring join —
    unmaterialized, each consumer re-tokenized the whole corpus); the
    1-row corpus scalars (N, sum_dl) ride the same pass as an
    Observation on the pre-explode rows (exact int count/sum, so avgdl
    is bit-identical to the separate-aggregation formulation, which
    itself was a third full tokenize pass) -> broadcast idf ->
    doc-keyed sum -> global top-k via orderBy().limit(k) (k rows to the
    driver stage, never a single-partition window over the corpus).

    Below the threshold, the classic lazy formulation (scalars and df
    re-derive the tokenize) — see BM25_ONE_PASS_MIN_BYTES.  Both shapes
    produce identical values; the dispatch reads Catalyst plan stats
    only (zero jobs in either regime)."""
    if not query_terms:
        raise ValueError("bm25_topk needs at least one query term")
    toks = F.expr(tokens_spark(text_col))
    # per-document length: map-only, no shuffle (size of the token array)
    base = docs.select(
        F.col(id_col).alias("doc_id"), toks.alias("__toks")
    ).select("doc_id", F.size("__toks").alias("dl"), "__toks")
    qlit = F.array(*[F.lit(t) for t in query_terms])
    tf = (
        base.select("doc_id", "dl", F.explode("__toks").alias("term"))
        .filter(F.array_contains(qlit, F.col("term")))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    scal = None
    size = plan_bytes(docs)  # unknown size: one pass
    if size is None or size >= BM25_ONE_PASS_MIN_BYTES:
        from pyspark.sql import Observation

        obs = Observation()
        based = base.observe(
            obs, F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl")
        )
        tf = (
            based.select("doc_id", "dl", F.explode("__toks").alias("term"))
            .filter(F.array_contains(qlit, F.col("term")))
            .groupBy("doc_id", "dl", "term")
            .agg(F.count(F.lit(1)).alias("tf"))
            # eager: the one corpus pass happens HERE; every observed base
            # row flows through the observe node before explode/filter
            .localCheckpoint(eager=True)
        )
        try:
            vals = obs.get
            scal = docs.sparkSession.createDataFrame(
                [(int(vals["n_docs"]), int(vals["sum_dl"] or 0))],
                "n_docs bigint, sum_dl bigint",
            )
        except Exception:
            # a corpus that folded to a LocalRelation runs no job, so the
            # observation never fires — fall through to the lazy scalars
            scal = None
    if scal is None:
        # corpus scalars: N and avgdl = exact int64 sum / exact count
        scal = base.agg(
            F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl")
        )
    scal = scal.select(
        "n_docs",
        (F.col("sum_dl").cast("double") / F.col("n_docs").cast("double")).alias("avgdl"),
    )
    return _score_tf(tf, scal, k1=k1, b=b, k=k)


def _score_tf(
    tf: DataFrame, scal: DataFrame, *, k1: float, b: float, k: int
) -> DataFrame:
    """Shared BM25 scoring tail: tf(doc_id, dl, term, tf) x scal(n_docs,
    avgdl) -> ranked top-k.  Used by both the tokenize-on-read path
    (bm25_topk) and the persisted-inverted-index path
    (bm25_topk_indexed); identical arithmetic => identical hashes."""
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = dfreq.crossJoin(F.broadcast(scal)).select(
        "term",
        F.expr(
            "cast(floor(ln(1.0 + (cast(n_docs as double) - cast(df as double) + 0.5)"
            " / (cast(df as double) + 0.5)) * 1000000.0 + 0.5) as bigint)"
        ).alias("idf_micro"),
    )
    scored = (
        tf.join(F.broadcast(idf), "term")
        .crossJoin(F.broadcast(scal.select("avgdl")))
        .withColumn(
            "partial_micro",
            F.expr(
                f"cast(floor(cast(idf_micro as double) * ((cast(tf as double) * ({k1} + 1.0))"
                f" / (cast(tf as double) + {k1} * ((1.0 - {b}) + ({b} * cast(dl as double)) / avgdl)))"
                " + 0.5) as bigint)"
            ),
        )
    )
    agg = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("matched_terms"),
        F.sum("partial_micro").alias("score_micro"),
    )
    top = agg.orderBy(F.col("score_micro").desc(), F.col("doc_id")).limit(k)
    w = Window.orderBy(F.col("score_micro").desc(), F.col("doc_id"))
    return top.withColumn("rank", F.row_number().over(w)).select(
        "doc_id", "matched_terms", "score_micro", "rank"
    )


def build_inverted_index(
    docs: DataFrame,
    postings_path: str,
    scalars_path: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_files: int = 8,
) -> None:
    """Persist the inverted index: postings(term, doc_id, dl, tf) written
    term-range-partitioned and term-sorted — so a `term IN (query)`
    probe prunes whole files/row groups via parquet min/max on the term
    column — plus the 2-int corpus scalars table.  The index-once/
    query-many deployment shape: at 100 TB you tokenize the corpus once
    here, and every query afterwards reads only its terms' postings
    (bm25_topk re-tokenizes the corpus per query)."""
    toks = F.expr(tokens_spark(text_col))
    base = docs.select(
        F.col(id_col).alias("doc_id"), toks.alias("__toks")
    ).select("doc_id", F.size("__toks").alias("dl"), "__toks")
    # one tokenize pass feeds both writes (scalars + postings)
    base = base.persist()
    try:
        base.agg(
            F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl")
        ).write.mode("overwrite").parquet(scalars_path)
        postings = (
            base.select("doc_id", "dl", F.explode("__toks").alias("term"))
            .groupBy("doc_id", "dl", "term")
            .agg(F.count(F.lit(1)).alias("tf"))
        )
        (
            postings.repartitionByRange(num_files, "term")
            .sortWithinPartitions("term", "doc_id")
            .write.mode("overwrite")
            .parquet(postings_path)
        )
    finally:
        base.unpersist()


def bm25_topk_indexed(
    spark,
    postings_path: str,
    scalars_path: str,
    query_terms: list[str],
    *,
    k: int = 10,
    k1: float = K1,
    b: float = B,
) -> DataFrame:
    """BM25 top-k against the PERSISTED inverted index
    (build_inverted_index): the probe filters `term IN (query)` directly
    on the term-clustered postings table — pushed to the scan, pruning
    non-matching files/row groups — and reuses the exact scoring tail,
    so results hash-identically to the tokenize-on-read bm25_topk."""
    if not query_terms:
        raise ValueError("bm25_topk_indexed needs at least one query term")
    tf = spark.read.parquet(postings_path).filter(
        F.col("term").isin(list(query_terms))
    )
    scal = spark.read.parquet(scalars_path).select(
        "n_docs",
        (F.col("sum_dl").cast("double") / F.col("n_docs").cast("double")).alias(
            "avgdl"
        ),
    )
    return _score_tf(tf, scal, k1=k1, b=b, k=k)


def bm25_oracle_ctes(query_terms: list[str], *, k1: float = K1, b: float = B) -> str:
    """The DuckDB CTE chain re-deriving bm25_topk's per-document scores
    over the `documents` view (same tokenizer, same idf quantization, same
    fixed-shape tfnorm chain, same int64 partial sum), ending in
    agg(doc_id, matched_terms, score_micro) — embeddable by composite
    oracles (hybrid RRF)."""
    terms = ", ".join("'" + t.replace("'", "''") + "'" for t in query_terms)
    toks = tokens_duck("text")
    return f"""base as (
      select doc_id, {toks} as tok from documents
    ),
    scal as (
      select cast(count(*) as bigint) as n_docs,
             cast(sum(len(tok)) as double) / cast(count(*) as double) as avgdl
      from base
    ),
    tf as (
      select doc_id, dl, term, cast(count(*) as bigint) as tf
      from (select doc_id, len(tok) as dl, unnest(tok) as term from base)
      where term in ({terms})
      group by doc_id, dl, term
    ),
    idf as (
      select term,
             cast(floor(ln(1.0 + (cast((select n_docs from scal) as double)
                    - cast(count(*) as double) + 0.5)
                  / (cast(count(*) as double) + 0.5)) * 1000000.0 + 0.5) as bigint)
               as idf_micro
      from tf group by term
    ),
    scored as (
      select tf.doc_id,
             cast(floor(cast(idf.idf_micro as double)
                  * ((cast(tf.tf as double) * ({k1} + 1.0))
                     / (cast(tf.tf as double) + {k1} * ((1.0 - {b})
                        + ({b} * cast(tf.dl as double)) / (select avgdl from scal))))
                  + 0.5) as bigint) as partial_micro
      from tf join idf on idf.term = tf.term
    ),
    agg as (
      select doc_id, cast(count(*) as bigint) as matched_terms,
             cast(sum(partial_micro) as bigint) as score_micro
      from scored group by doc_id
    )"""


def bm25_oracle_sql(query_terms: list[str], *, k: int, k1: float = K1, b: float = B) -> str:
    """Full DuckDB re-derivation of bm25_topk (the CTE chain + top-k)."""
    return f"""
    with {bm25_oracle_ctes(query_terms, k1=k1, b=b)}
    select doc_id, matched_terms, score_micro, rank from (
      select doc_id, matched_terms, score_micro,
             row_number() over (order by score_micro desc, doc_id) as rank
      from agg) t
    where rank <= {k}
    """


def phrase_topk(
    docs: DataFrame,
    phrase: list[str],
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
) -> DataFrame:
    """Exact-phrase retrieval over positional postings: top-k documents by
    number of occurrences of the consecutive token sequence `phrase`.

    Output: (doc_id, n_occurrences, rank), rank 1..k by (count desc,
    doc_id asc) — all int64/int, hash-exact across engines.

    Plan shape (the inverted-index-with-positions plan, not a substring
    scan): map-side tokenize -> posexplode -> `term IN (phrase)` filter
    BELOW the shuffle, so only postings of the phrase's terms move — at
    100 TB the shuffled volume is what a positional-index lookup would
    read, not the corpus.  ONE doc-keyed shuffle collects each term's
    position array per doc (collect_list partials combine map-side);
    occurrences are counted with order-independent array probes (anchor
    positions of term0 whose every offset i hits term_i's array) — pure
    codegen, no UDF.  Global top-k is orderBy().limit(k)
    (TakeOrderedAndProject: k rows per partition to the driver stage,
    never a single-partition sort)."""
    if not phrase:
        raise ValueError("phrase_topk needs at least one phrase term")
    from functools import reduce

    L = len(phrase)
    toks = F.expr(tokens_spark(text_col))
    posted = docs.select(
        F.col(id_col).alias("doc_id"), F.posexplode(toks).alias("pos", "term")
    ).filter(F.col("term").isin(sorted(set(phrase))))
    perdoc = posted.groupBy("doc_id").agg(
        *[
            F.collect_list(F.when(F.col("term") == w, F.col("pos"))).alias(f"p{i}")
            for i, w in enumerate(phrase)
        ]
    )
    if L == 1:
        n = F.size("p0")
    else:
        n = F.size(
            F.filter(
                "p0",
                lambda p: reduce(
                    lambda x, y: x & y,
                    [F.array_contains(F.col(f"p{i}"), p + i) for i in range(1, L)],
                ),
            )
        )
    hits = perdoc.select(
        "doc_id", n.cast("long").alias("n_occurrences")
    ).filter(F.col("n_occurrences") > 0)
    top = hits.orderBy(F.col("n_occurrences").desc(), F.col("doc_id")).limit(k)
    w = Window.orderBy(F.col("n_occurrences").desc(), F.col("doc_id"))
    return top.withColumn("rank", F.row_number().over(w)).select(
        "doc_id", "n_occurrences", "rank"
    )


def phrase_oracle_sql(phrase: list[str], *, k: int) -> str:
    """DuckDB re-derivation of phrase_topk: positional self-joins (one per
    phrase offset) instead of the engine's array probes — two independent
    formulations of the same occurrence relation."""

    def q(t: str) -> str:
        return "'" + t.replace("'", "''") + "'"

    joins = "\n".join(
        f"      join toks b{i} on b{i}.doc_id = a.doc_id"
        f" and b{i}.pos = a.pos + {i} and b{i}.term = {q(t)}"
        for i, t in enumerate(phrase[1:], start=1)
    )
    return f"""
    with d as (
      select doc_id, {tokens_duck("text")} as tok from documents
    ),
    toks as (
      select doc_id, unnest(tok) as term,
             unnest(range(1, len(tok) + 1)) as pos
      from d
    ),
    occ as (
      select a.doc_id, cast(count(*) as bigint) as n_occurrences
      from toks a
{joins}
      where a.term = {q(phrase[0])}
      group by a.doc_id
    )
    select doc_id, n_occurrences, rank from (
      select doc_id, n_occurrences,
             row_number() over (order by n_occurrences desc, doc_id) as rank
      from occ) t
    where rank <= {k}
    """


def hybrid_rrf(
    docs: DataFrame,
    embeddings: DataFrame,
    query_terms: list[str],
    query_vec_id: int,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    k_each: int = 20,
    c: int = 60,
    k1: float = K1,
    b: float = B,
) -> DataFrame:
    """Hybrid retrieval with reciprocal-rank fusion (Cormack et al.,
    SIGIR 2009): fuse the BM25 keyword top-k_each with the dense cosine
    top-k_each (the document's embedding row keyed by the same id space;
    query_vec_id names the query's embedding).  RRF is pure rank
    arithmetic — score(d) = Σ_lists 1/(c + rank_list(d)) — so with each
    reciprocal quantized to int64 micro-units BEFORE the sum the fused
    score is hash-exact across engines, sidestepping every score-scale
    calibration issue that makes raw-score fusion fragile.

    Output: (doc_id, n_lists, rrf_micro, rank), rank 1..k by
    (rrf_micro desc, doc_id asc).

    Scale shape: each leg keeps its own plan (BM25: query-term postings
    only; dense: broadcast query over the corpus — or any ANN leg, since
    RRF only consumes ranks); fusion is a union of 2*k_each rows, a
    map-combinable int64 sum, and a k-row top-k — fusion cost is
    independent of corpus size."""
    from dp3_spark.operators import similarity as SIM

    bm = bm25_topk(
        docs, query_terms, id_col=id_col, text_col=text_col, k=k_each, k1=k1, b=b
    ).select("doc_id", "rank")
    qv = embeddings.filter(F.col(vec_id_col) == query_vec_id)
    dense = SIM.cosine_topk(
        embeddings, qv, id_col=vec_id_col, vec_col=vec_col, k=k_each
    ).select(F.col("neighbor_id").alias("doc_id"), "rank")
    fused = (
        bm.unionByName(dense)
        .withColumn(
            "micro",
            F.expr(f"cast(floor(1000000.0 / ({c} + rank) + 0.5) as bigint)"),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_lists"),
            F.sum("micro").alias("rrf_micro"),
        )
    )
    top = fused.orderBy(F.col("rrf_micro").desc(), F.col("doc_id")).limit(k)
    w = Window.orderBy(F.col("rrf_micro").desc(), F.col("doc_id"))
    return top.withColumn("rank", F.row_number().over(w)).select(
        "doc_id", "n_lists", "rrf_micro", "rank"
    )
