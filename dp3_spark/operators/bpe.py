"""Byte-pair-encoding tokenizer training — the subword-vocabulary stage of
a training-data pipeline (Sennrich et al., arXiv:1508.07909: learn the
n most frequent adjacent symbol pairs over a word-frequency table, merging
greedily left-to-right; GPT-2/RoBERTa-style preprocessing trains the same
way over word counts, not raw text).

Scale shape — why this survives 100 TB:
- The corpus is touched ONCE: `word_counts` is a map-combinable
  explode+groupBy (partial aggregation collapses each task's words before
  the single shuffle).  Every training iteration afterwards runs on the
  DISTINCT-WORD table, whose size is bounded by the corpus vocabulary
  (~10-100 M rows for web-scale text), not by corpus bytes.
- Each merge iteration is one vocab-sized pair-count aggregation (again
  map-combinable — symbol-pair cardinality is far below word cardinality)
  plus a 1-row argmax collect (bounded) and a projection applying the
  merge.  n_merges iterations = n_merges small jobs, zero corpus passes.
- At tokenizer-realistic merge counts (32 k), one-job-per-merge is
  scheduler-bound regardless of cluster size (measured 85-226 ms/merge
  at sf0.1/sf1 — hours at 32 k).  `bpe_train_driver` is the scale path:
  the corpus pass stays distributed, then the vocabulary-bounded
  word-count table collects and the merge loop runs in-process with
  incremental pair-count updates (4-13 ms/merge measured, amortized
  O(symbol occurrences) total) — byte-identical output, pinned by test.
- `encode_token_counts` re-touches the corpus exactly once more and joins
  the exploded words against the final vocab states — the vocab side is
  the broadcast side by construction.

Determinism (the cross-engine hash-gate discipline):
- A word's partial merge state is a STRING with every symbol rendered as
  ' sym,' — space-prefixed AND comma-terminated (' c, a, t, _,');
  applying merge (a,b) is replace(state, ' a, b,', ' ab,').
  Left-to-right non-overlapping `replace` over this encoding IS exact
  greedy BPE: the leading space anchors the LEFT boundary (a symbol
  merely ending in `a` cannot match), the comma anchors the RIGHT
  boundary (a symbol merely starting with `b` cannot match — the defect
  a space-only encoding has), and consecutive occurrences
  ('a, b, a, b,') all merge in one pass because each match consumes
  exactly its own delimiters.  Pinned by a 20k-case randomized property
  test against a token-list greedy reference; Python str.replace, Spark
  `replace`, and DuckDB `replace` share the semantics.
- Argmax tie-break is (count DESC, left ASC, right ASC) on binary string
  order; words are restricted to [a-z0-9]+ so collation cannot diverge
  (the argmax-tie lesson from the sf1 sweep).
- '_' is the end-of-word marker: the word regex can never produce it, so
  it is unambiguous, and merges ending in '_' learn word-final units
  exactly as the reference algorithm does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dp3_spark.layout import spread

# non-capturing split; lowercase first.  [a-z0-9]+ keeps the symbol
# alphabet closed under ASCII so binary-collation tie-breaks are
# engine-independent.
WORD_SPLIT_RE = "[^a-z0-9]+"
MARKER = "_"

# truncate plan lineage every few merges: each iteration stacks a
# projection + the pair-count subtree on a tiny table; unchecked, plan
# compilation (not execution) becomes the cost at n_merges ~ 50+
_CHECKPOINT_EVERY = 8

# state string -> symbol array: split on the comma terminators, strip the
# leading spaces, drop the empty tail element
_SYMS_EXPR = "filter(transform(split(state, ','), x -> ltrim(x)), x -> x <> '')"


def word_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(w, freq): the single corpus pass.  Map-combinable groupBy — the
    shuffle carries one row per distinct word per task, not per
    occurrence.  A single-split input is spread first (layout.spread)."""
    return (
        spread(df).select(
            F.explode(F.split(F.lower(F.col(text_col)), WORD_SPLIT_RE)).alias("w")
        )
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
    )


def _initial_states(words: DataFrame) -> DataFrame:
    """(w, freq, state) with state = ' c, h, a, r, s, _,' (every symbol
    space-prefixed and comma-terminated, + end-of-word marker)."""
    return words.withColumn(
        "state",
        F.concat(
            F.regexp_replace(F.col("w"), "(.)", " $1,"),
            F.lit(" " + MARKER + ","),
        ),
    )


def _pair_counts(states: DataFrame) -> DataFrame:
    """(a, b, cnt): adjacent-symbol pair frequencies over current states,
    weighted by word frequency.  Overlapping positions count separately
    ('aaa' contributes (a,a) twice), matching reference BPE counting."""
    # materialize the symbol list once per row before the transform — a
    # split inside the lambda would re-run per position (the O(len^2)
    # lesson from lm._trigrams)
    return (
        states.select(F.expr(_SYMS_EXPR).alias("__s"), "freq")
        .select(
            # sequence(1, 0) is DESCENDING in Spark, not empty (the
            # lm._trigrams gotcha) — fully-merged single-symbol states
            # take the explicit empty branch
            F.expr(
                "explode(case when size(__s) >= 2 then "
                "transform(sequence(1, size(__s) - 1), "
                "i -> struct(element_at(__s, i) as a, element_at(__s, i + 1) as b)) "
                "else array() end)"
            ).alias("p"),
            "freq",
        )
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.sum("freq").alias("cnt"))
    )


def bpe_train(
    df: DataFrame,
    *,
    text_col: str = "text",
    n_merges: int = 12,
) -> tuple[DataFrame, DataFrame]:
    """Learn `n_merges` BPE merges.  Returns (merges, final_states):
    merges = (step, lhs, rhs, pair_count) — the learned merge table in
    order; final_states = (w, freq, state) — every word's subword
    segmentation under the learned merges (the tokenizer's word cache).

    The per-iteration collect is ONE row (the argmax pair) — bounded by
    construction, the same discipline as the k-row centroid seeds in
    similarity.py."""
    spark = df.sparkSession
    states = _initial_states(word_counts(df, text_col)).localCheckpoint()
    merges: list[tuple[int, str, str, int]] = []
    for step in range(1, n_merges + 1):
        top = (
            _pair_counts(states)
            .orderBy(F.col("cnt").desc(), F.col("a").asc(), F.col("b").asc())
            .limit(1)
            .collect()
        )
        if not top:  # every word fully merged to one symbol
            break
        a, b, cnt = top[0]["a"], top[0]["b"], top[0]["cnt"]
        merges.append((step, a, b, int(cnt)))
        states = states.withColumn(
            "state",
            F.replace(
                F.col("state"), F.lit(f" {a}, {b},"), F.lit(f" {a}{b},")
            ),
        )
        if step % _CHECKPOINT_EVERY == 0:
            states = states.localCheckpoint()
    merges_df = spark.createDataFrame(
        merges, "step int, lhs string, rhs string, pair_count bigint"
    )
    return merges_df, states


def vocab_counts(final_states: DataFrame, *, top_k: int | None = None) -> DataFrame:
    """(token, token_count): corpus frequency of every learned subword
    token (symbols of the final states weighted by word frequency) —
    the vocabulary report a tokenizer build emits."""
    out = (
        final_states.select(
            F.explode(F.expr(_SYMS_EXPR)).alias("token"),
            "freq",
        )
        .groupBy("token")
        .agg(F.sum("freq").alias("token_count"))
    )
    if top_k is not None:
        out = out.orderBy(
            F.col("token_count").desc(), F.col("token").asc()
        ).limit(top_k)
    return out


def encode_token_counts(
    docs: DataFrame,
    final_states: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, n_words, n_tokens): apply the trained tokenizer to documents.
    One corpus pass (explode words) joined against the final vocab states
    — the vocab is the small side and broadcasts; a word outside the
    training vocab falls back to character-level (chars + marker), the
    standard unknown-word behavior for count purposes."""
    words = docs.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.lower(F.col(text_col)), WORD_SPLIT_RE)).alias("w"),
    ).filter(F.col("w") != "")
    vocab = F.broadcast(
        final_states.select(
            "w", F.size(F.expr(_SYMS_EXPR)).alias("n_sym")
        )
    )
    joined = words.join(vocab, "w", "left").select(
        "id",
        F.coalesce(F.col("n_sym"), F.length(F.col("w")) + 1).alias("n_sym"),
    )
    return joined.groupBy(F.col("id").alias(id_col)).agg(
        F.count("*").alias("n_words"), F.sum("n_sym").alias("n_tokens")
    )


def _train_from_word_counts(
    word_freqs: dict[str, int], n_merges: int
) -> tuple[list[tuple[int, str, str, int]], dict[str, list[str]]]:
    """Exact greedy BPE over a word-frequency table with INCREMENTAL
    pair-count maintenance (the classic single-node trainer, Sennrich et
    al. §3: each merge touches only the words that contain the pair, and
    the pair-count updates are the multiset diff of that word's adjacency
    list before/after).  Identical semantics to the Spark iteration in
    bpe_train — same counting (overlaps count separately), same greedy
    left-to-right non-overlapping application, same
    (count DESC, lhs ASC, rhs ASC) argmax tie-break — pinned by the
    equality tests in tests/test_bpe.py.  Cost is amortized
    O(total symbol occurrences), independent of n_merges' job count:
    32 k merges run in seconds where one-Spark-job-per-merge would be
    scheduler-bound at any cluster size."""
    from collections import Counter, defaultdict

    words = list(word_freqs)
    freqs = [word_freqs[w] for w in words]
    states: list[list[str]] = [list(w) + [MARKER] for w in words]
    counts: dict[tuple[str, str], int] = defaultdict(int)
    where: dict[tuple[str, str], set[int]] = defaultdict(set)
    for i, s in enumerate(states):
        f = freqs[i]
        for p in zip(s, s[1:]):
            counts[p] += f
            where[p].add(i)

    def _merge_word(syms: list[str], a: str, b: str) -> list[str]:
        out, i = [], 0
        ab = a + b
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                out.append(ab)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        return out

    merges: list[tuple[int, str, str, int]] = []
    for step in range(1, n_merges + 1):
        if not counts:
            break
        (a, b), c = min(counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        merges.append((step, a, b, int(c)))
        for i in sorted(where[(a, b)]):
            f = freqs[i]
            s = states[i]
            ns = _merge_word(s, a, b)
            old = Counter(zip(s, s[1:]))
            new = Counter(zip(ns, ns[1:]))
            for p in old.keys() | new.keys():
                d = new[p] - old[p]
                if d:
                    counts[p] += d * f
                    if counts[p] <= 0:
                        del counts[p]
                if new[p]:
                    where[p].add(i)
                elif old[p]:
                    where[p].discard(i)
            states[i] = ns
        where.pop((a, b), None)
    return merges, {w: states[i] for i, w in enumerate(words)}


def bpe_train_driver(
    df: DataFrame,
    *,
    text_col: str = "text",
    n_merges: int = 12,
    min_freq: int = 1,
    max_vocab_rows: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """bpe_train at tokenizer-realistic merge counts: the corpus pass
    stays distributed (word_counts — the ONLY operation whose cost scales
    with corpus bytes), then the vocabulary-bounded word-frequency table
    collects to the driver and the merge loop runs in-process with
    incremental pair-count updates.  Same (merges, final_states) contract
    and EXACT same output as bpe_train (equality pinned in tests); the
    difference is the control plane — n_merges=32 k is 32 k dict updates
    here versus 32 k sequential Spark jobs there, which is
    scheduler-bound regardless of cluster size (each job is a
    vocab-table aggregation plus a driver round-trip).

    min_freq: drop words rarer than this before training — the standard
    vocabulary cut (HF tokenizers' min_frequency) that bounds the
    collect at web scale (Zipf: the tail is most of the DISTINCT words
    and a sliver of the occurrences).  min_freq=1 is exact parity with
    bpe_train; raising it changes the learned merges exactly as it would
    in any BPE trainer, so it is an explicit knob, never a default.

    max_vocab_rows: hard cap on the collected table — the top-V words by
    (freq desc, word asc), truncated DISTRIBUTEDLY before the collect
    (TakeOrderedAndProject: per-partition top-V then a V-row merge, so
    nothing vocabulary-sized ever sits in one task).  This makes the
    driver-memory bound an explicit argument instead of a docstring
    caveat: with the cap set, the collect is provably <= V rows at ANY
    corpus size.  Like min_freq, a cap that actually cuts changes the
    learned merges exactly as truncating the vocabulary would in any BPE
    trainer (the dropped Zipf tail contributes almost no pair mass);
    when the vocabulary fits under the cap the output is identical to
    the uncapped run (pinned in tests).

    Driver memory is otherwise the scale bound: the word-count table is
    vocabulary-sized (10-100 M rows for web corpora), not corpus-sized —
    at the top of that range set max_vocab_rows / min_freq (freq>=2
    typically cuts the distinct-word count ~half) or keep the Spark-side
    bpe_train whose state never leaves the cluster."""
    spark = df.sparkSession
    wc = word_counts(df, text_col)
    if min_freq > 1:
        wc = wc.filter(F.col("freq") >= min_freq)
    if max_vocab_rows is not None:
        wc = wc.orderBy(F.col("freq").desc(), F.col("w")).limit(max_vocab_rows)
    word_freqs = {r["w"]: r["freq"] for r in wc.collect()}
    merges, states = _train_from_word_counts(word_freqs, n_merges)
    merges_df = spark.createDataFrame(
        merges, "step int, lhs string, rhs string, pair_count bigint"
    )
    rendered = [
        (w, int(word_freqs[w]), "".join(f" {t}," for t in s))
        for w, s in states.items()
    ]
    states_df = spark.createDataFrame(rendered, "w string, freq long, state string")
    return merges_df, states_df


def encode_tokens(
    docs: DataFrame,
    final_states: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, n_tokens, detok): FULL tokenization — every document's subword
    token sequence in word order (the actual tokenizer output, where
    encode_token_counts stops at counts).  One corpus pass: posexplode
    keeps word positions, the vocab states broadcast-join, and the
    per-document sequence reassembles with an order-preserving
    array_sort(collect_list(struct(pos, syms))) — no window, no second
    shuffle beyond the final groupBy.  Out-of-vocab words fall back to
    character-level (chars + end-of-word marker), matching
    encode_token_counts' accounting.  `detok` is the space-joined token
    stream (tokens are [a-z0-9_]+, so the join is lossless); n_tokens is
    its length."""
    words = docs.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            F.split(F.lower(F.col(text_col)), WORD_SPLIT_RE)
        ).alias("pos", "w"),
    ).filter(F.col("w") != "")
    vocab = F.broadcast(
        final_states.select("w", F.expr(_SYMS_EXPR).alias("syms"))
    )
    joined = words.join(vocab, "w", "left").select(
        "id",
        "pos",
        F.coalesce(
            F.col("syms"),
            F.expr(f"concat(split(w, ''), array('{MARKER}'))"),
        ).alias("syms"),
    )
    return joined.groupBy(F.col("id").alias(id_col)).agg(
        F.expr(
            "array_join(flatten(transform("
            "array_sort(collect_list(struct(pos, syms))), s -> s.syms)), ' ')"
        ).alias("detok"),
        F.expr(
            "cast(aggregate(collect_list(size(syms)), 0L, (a, x) -> a + x) as bigint)"
        ).alias("n_tokens"),
    )
