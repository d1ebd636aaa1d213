"""Benchmark decontamination for training corpora: flag training documents
that share any word n-gram with an evaluation/benchmark set (the
GPT-3/PaLM-style 13-gram overlap check, n configurable).  The reference
engine has no analog — this is one of the beyond-reference
training-pipeline operators the task brief requires.

Spark-first design, shaped around the real-world asymmetry: the training
corpus is ~100 TB but the union of eval benchmarks is a few hundred MB.
The eval side reduces to DISTINCT n-grams and is broadcast, so the
contamination join is map-side (BroadcastHashJoin) against the exploded
training n-grams — the corpus is never shuffled by n-gram.  The only
wide exchanges are on the (thin) document id: the per-doc hit count and
the left join that re-attaches zero-hit docs.  Everything is built-in
expressions (tokenize + slice + concat_ws) inside whole-stage codegen;
no Python in the path.

Tokenization is materialized once per row in its own projection before
the n-gram lambda runs over it (see functions/text.py word_ngrams — the
inlined form re-tokenizes per n-gram position, O(len^2) per doc).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dp3_spark.functions import text as TXT
from dp3_spark.layout import SPREAD_TEXT_BYTES, spread


def ngram_contamination(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 13,
    eval_text_col: str | None = None,
    broadcast_eval: bool = True,
) -> DataFrame:
    """Per training document: how many of its distinct word n-grams appear
    anywhere in the eval set.

    Output: (id_col, n_contaminated_ngrams: long, contaminated: boolean) —
    one row per train row, join-able back onto the corpus to drop or
    downweight flagged docs.

    broadcast_eval=True is the intended mode (eval benchmarks are small);
    set False only if the eval side genuinely exceeds broadcast size, which
    falls back to a shuffle join on the n-gram string.  At even larger
    scale, hash the n-gram to a bigint (xxhash64) on both sides first to
    shrink the shuffle — kept as strings here so the DuckDB oracle matches
    bit-for-bit without a hash dialect bridge."""
    tok_s, _ = TXT.tokens(eval_text_col or text_col)
    ng_s, _ = TXT.word_ngrams("toks", n, pre_tokenized=True)
    ev = (
        eval_df.select(F.expr(tok_s).alias("toks"))
        .select(F.explode(F.expr(ng_s)).alias("g"))
        .distinct()
    )
    if broadcast_eval:
        ev = F.broadcast(ev)

    tok_s, _ = TXT.tokens(text_col)
    tg = train.select(F.col(id_col), F.expr(tok_s).alias("toks")).select(
        id_col, F.explode(F.array_distinct(F.expr(ng_s))).alias("g")
    )
    # after array_distinct, (id, g) is unique, so count(*) = distinct hits
    hits = (
        tg.join(ev, "g")
        .groupBy(id_col)
        .agg(F.count("*").cast("long").alias("n_contaminated_ngrams"))
    )
    return (
        train.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_contaminated_ngrams", F.lit(0))
            .cast("long")
            .alias("n_contaminated_ngrams"),
        )
        .withColumn("contaminated", F.col("n_contaminated_ngrams") > 0)
    )


def minhash_contamination(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    num_hashes: int = 128,
    bands: int = 16,
    threshold: float = 0.6,
    train_sigs: DataFrame | None = None,
    train_bands: DataFrame | None = None,
) -> DataFrame:
    """FUZZY decontamination: flag training documents whose shingle-set
    Jaccard with ANY eval/benchmark document reaches `threshold` — the
    near-duplicate complement of ngram_contamination's exact 13-gram
    check (paraphrased or lightly-edited benchmark leakage that exact
    n-grams miss; the MinHash-based decontam stage of CCNet/Dolma-style
    pipelines).

    Output: one row per train document — (id_col, n_eval_matches: long,
    contaminated: boolean).

    Plan shape (the corpus-refresh probe REVERSED): the eval set is the
    small side, so it plays the "batch" of minhash_lsh_pairs_incremental
    against the train corpus's signature index — eval band keys broadcast
    against a map-only banding of the corpus, the corpus never shuffles,
    and shuffle volume is candidate pairs only.  At 100 TB the
    deployment passes `train_sigs` (the SAME persisted signature table
    the dedup pipeline already maintains — decontamination then costs
    one broadcast probe, no corpus pass at all).

    Train and eval ids must be disjoint (the incremental-probe
    contract); eval-vs-eval pairs are discarded via the eval-id
    anti-join, so only train endpoints are flagged.  `train_bands`
    optionally passes the persisted banding of the same signature table
    (the dedup pipeline's bands artifact) so the probe skips even the
    per-run banding fold.
    """
    from dp3_spark.operators import dedup as DD

    if train_sigs is None:
        train_sigs = DD.minhash_signatures(
            spread(train, SPREAD_TEXT_BYTES), id_col, text_col, n=n, num_hashes=num_hashes
        ).localCheckpoint(eager=True)
    pairs = DD.minhash_lsh_pairs_incremental(
        eval_df,
        train_sigs,
        id_col,
        text_col,
        n=n,
        num_hashes=num_hashes,
        bands=bands,
        threshold=threshold,
        index_bands=train_bands,
    ).localCheckpoint(eager=True)
    # ^ feeds four joins below; without materializing, the banding +
    # verify pipeline would re-execute per branch
    eval_ids = eval_df.select(F.col(id_col).alias("__eid__")).distinct()
    # keep pairs with EXACTLY one eval endpoint, project the train side
    a_eval = pairs.join(
        eval_ids, pairs.id_a == F.col("__eid__"), "left_semi"
    ).join(eval_ids, pairs.id_b == F.col("__eid__"), "left_anti").select(
        F.col("id_b").alias("__tid__")
    )
    b_eval = pairs.join(
        eval_ids, pairs.id_b == F.col("__eid__"), "left_semi"
    ).join(eval_ids, pairs.id_a == F.col("__eid__"), "left_anti").select(
        F.col("id_a").alias("__tid__")
    )
    matches = (
        a_eval.unionByName(b_eval)
        .groupBy("__tid__")
        .agg(F.count(F.lit(1)).alias("n_eval_matches"))
    )
    return (
        train.select(id_col)
        .join(matches, F.col(id_col) == F.col("__tid__"), "left")
        .select(
            id_col,
            F.coalesce("n_eval_matches", F.lit(0)).cast("long").alias("n_eval_matches"),
        )
        .withColumn("contaminated", F.col("n_eval_matches") > 0)
    )
