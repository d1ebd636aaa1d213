"""Deduplication operators for training-data pipelines.

Beyond-reference surface (task brief): exact, MinHash+LSH, SimHash, n-gram
Jaccard, embedding-cosine near-dup.  All are DataFrame compositions using
the portable primitives in dp3_spark.functions — JVM-side, no Python UDFs,
and (except SimHash bit-ops, which are still deterministic) each has an
exactly-matching DuckDB oracle.

Scale notes (100 TB):
- exact dedup is a hash-partition groupBy on the fingerprint — one shuffle,
  map-side combinable.
- minhash LSH shuffles (band_idx, band_hash) -> candidate pairs; band count
  bounds the blow-up, and the verify step joins back only candidate ids
  (self-join on id is hash-partitioned).  Skewed buckets (boilerplate docs)
  are handled by AQE skew-join splitting.
- all-pairs n-gram jaccard uses an inverted shingle-hash index (explode ->
  join on hash) rather than a cartesian product; frequency-capping drops
  ubiquitous shingles to bound the index fan-out.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dp3_spark.functions import text as TXT
from dp3_spark.layout import SPREAD_TEXT_BYTES, fan_out, spread

POLY_MOD = TXT.POLY_MOD

# MinHash permutation constants: h_j(x) = (A[j] * x + B[j]) mod P.
# Fixed seeds so the oracle SQL embeds identical values.
MINHASH_P = 2_147_483_647  # 2^31 - 1; products stay < 2^62 (no int64 overflow)

# incremental probe: hint a broadcast of the batch's band keys while the
# batch stays under this many docs (x bands rows of (band, key, id) ~ 24 B
# each → ~20 MB at 50k docs / 16 bands); beyond it the planner shuffles
# both sides — a "batch" that big is a backfill, not a refresh
PROBE_BROADCAST_MAX_ROWS = 50_000
# below this index size the broadcast verify's full (id, shingles) collect
# is already bounded — the endpoint slice's extra eager job isn't worth it
ENDPOINT_SLICE_MIN_INDEX_ROWS = 32_768
# verify transport budget (verify_pairs): payload rows a broadcast verify
# may collect driver-side — ~2.4 KB of shingles per doc, or a 768-dim
# float32 embedding, puts the cap at ~500-600 MB
VERIFY_BROADCAST_MAX_ROWS = 200_000
# probe-regime endpoint slice: broadcast the candidate-endpoint id set
# (8 B/long → ~16 MB at the cap) to semi-join the signature table down to
# candidate endpoints BEFORE the verify transport, so verify cost is
# O(candidates) however large the index.  Above the cap (a pathological
# fan-out where the endpoint set is no longer a small fraction of the
# index), the verify takes the whole table.
ENDPOINT_SLICE_MAX_BROADCAST_IDS = 2_000_000


def minhash_coeffs(num: int) -> list[tuple[int, int]]:
    # deterministic LCG-derived coefficients (seed fixed, no RNG state)
    coeffs = []
    x = 42
    for _ in range(num):
        x = (x * 6_364_136_223_846_793_005 + 1_442_695_040_888_963_407) % (2**63)
        a = (x % (MINHASH_P - 1)) + 1
        x = (x * 6_364_136_223_846_793_005 + 1_442_695_040_888_963_407) % (2**63)
        b = x % MINHASH_P
        coeffs.append((a, b))
    return coeffs


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep the lowest-id representative per normalized-content fingerprint.
    Output: one row per distinct content with n_copies."""
    fp_s, _ = TXT.fingerprint(text_col)
    with_fp = df.withColumn("fp", F.expr(fp_s))
    w = Window.partitionBy("fp").orderBy(F.col(id_col))
    return (
        with_fp.withColumn("__rn__", F.row_number().over(w))
        .withColumn("n_copies", F.count("*").over(Window.partitionBy("fp")))
        .filter(F.col("__rn__") == 1)
        .drop("__rn__")
    )


def shingle_hash_df(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    # two projections: normalization materializes once per row, then the
    # shingle fold references the plain column.  One inlined expression
    # would re-run the regex per shingle position — O(len^2)/doc.  The
    # multi-reference of __norm__ also stops CollapseProject from fusing.
    norm_s, _ = TXT.normalize(text_col)
    sh_s, _ = TXT.shingle_hashes("__norm__", n, pre_normalized=True)
    return (
        df.select(F.col(id_col).alias("id"), F.expr(norm_s).alias("__norm__"))
        .select("id", F.expr(sh_s).alias("shingles"))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    threshold: float = 0.6,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """All pairs (id_a < id_b) with Jaccard(shingle-hash sets) >= threshold.

    Inverted-index join: explode shingle hashes, self-join on hash,
    count shared hashes per pair, then |A ∪ B| = |A| + |B| - shared.
    `max_shingle_freq` drops shingles appearing in more than that many docs
    (stopword-shingle fan-out cap for the 100 TB path)."""
    sh = (
        shingle_hash_df(spread(df, SPREAD_TEXT_BYTES), id_col, text_col, n)
        .withColumn("card", F.size("shingles"))
    )
    exploded = sh.select("id", "card", F.explode("shingles").alias("h"))
    if max_shingle_freq is not None:
        freq = exploded.groupBy("h").agg(F.count("*").alias("__df__"))
        exploded = (
            exploded.join(freq, "h").filter(F.col("__df__") <= max_shingle_freq).drop("__df__")
        )
    a = exploded.select(
        F.col("id").alias("id_a"), F.col("card").alias("card_a"), F.col("h")
    )
    b = exploded.select(
        F.col("id").alias("id_b"), F.col("card").alias("card_b"), F.col("h")
    )
    pairs = (
        a.join(b, "h")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "card_a", "card_b")
        .agg(F.count("*").alias("shared"))
        .withColumn(
            "jaccard",
            F.col("shared").cast("double")
            / (F.col("card_a") + F.col("card_b") - F.col("shared")).cast("double"),
        )
        .filter(F.col("jaccard") >= F.lit(threshold))
        .select("id_a", "id_b", "jaccard")
    )
    return pairs


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    num_hashes: int = 128,
) -> DataFrame:
    """Distinct shingle hashes + MinHash signature per document, computed in
    one Arrow-batched mapInPandas pass (numpy-vectorized).

    Value-identical to the pure-SQL formulation in
    functions/text.py:shingle_hashes + the per-permutation aggregate fold
    (pinned by tests/test_operators.py): normalize = strip non-[a-zA-Z0-9 ]
    then lowercase; shingle hash = poly-31 fold mod 1e9+7; texts shorter
    than `n` hash as a single whole-text shingle; permutation j is
    min((A[j]*h + B[j]) mod P) over the distinct shingle hashes.

    The SQL lambda fold evaluates interpreted per element (~µs/op); this
    path is WHOLE-BATCH numpy — the sanctioned Pandas-UDF escape hatch for
    work Catalyst can't vectorize, with no per-document Python loop on the
    hot path either: all documents of an Arrow batch concatenate into one
    byte buffer, the rolling poly-31 hash runs as `n` strided passes over
    the whole buffer (windows straddling document boundaries are masked
    out), per-document distinct-sorting is ONE global sort of
    (doc_index * MOD + hash) keys, and all num_hashes permutation minima
    for every document come from a single (num_hashes × total_shingles)
    modmul + np.minimum.reduceat over document boundaries.  ~5× over the
    per-document formulation, and the constant that multiplies at 100 TB.
    Output: (id, shingles array<bigint> sorted distinct, card,
    mh array<bigint>[num_hashes])."""
    import numpy as np
    import pandas as pd
    import re

    coeffs = minhash_coeffs(num_hashes)
    A = [a for a, _ in coeffs]
    B = [b for _, b in coeffs]
    mod, p, nn = TXT.POLY_MOD, MINHASH_P, n
    base = TXT.POLY_BASE
    strip = re.compile(r"[^a-zA-Z0-9 ]")
    # bound the (num_hashes × chunk_shingles) permutation temp to ~256 MB
    chunk_budget = max(1, (256 << 20) // (8 * num_hashes))

    def gen(batches):
        a_vec = np.array(A, dtype=np.int64)[:, None]
        b_vec = np.array(B, dtype=np.int64)[:, None]
        for pdf in batches:
            texts = pdf[text_col]
            valid = texts.notna().values
            norms = [
                strip.sub("", t).lower() if ok else ""
                for t, ok in zip(texts.values, valid)
            ]
            lens = np.array([len(s) for s in norms], dtype=np.int64)
            nv = int(valid.sum())
            # map row -> dense doc index over valid rows only
            doc_idx_of_row = np.cumsum(valid) - 1
            buf = np.frombuffer(
                "".join(norms).encode("ascii"), dtype=np.uint8
            ).astype(np.int64)
            starts_c = np.concatenate(([0], np.cumsum(lens)[:-1]))
            total = buf.size
            keys = []
            if total >= nn:
                # rolling hash over the concatenated buffer: nn strided adds
                h = np.zeros(total - nn + 1, dtype=np.int64)
                for j in range(nn):
                    h = (h * base + buf[j : total - nn + 1 + j]) % mod
                # window at position q belongs to the doc containing
                # [q, q+nn); valid iff the whole window is inside one doc
                # with len > nn (len <= nn docs take the whole-text path)
                q = np.arange(total - nn + 1)
                owner_row = np.searchsorted(starts_c, q, side="right") - 1
                owner_row = np.clip(owner_row, 0, len(norms) - 1)
                in_doc = (
                    valid[owner_row]
                    & (lens[owner_row] > nn)
                    & (q + nn <= starts_c[owner_row] + lens[owner_row])
                )
                if in_doc.any():
                    keys.append(
                        doc_idx_of_row[owner_row[in_doc]] * mod + h[in_doc]
                    )
            # short docs (len <= nn): one whole-text fold each — rare, and
            # each fold is over <= nn chars
            for row in np.nonzero(valid & (lens <= nn))[0]:
                hh = 0
                for c in buf[starts_c[row] : starts_c[row] + lens[row]]:
                    hh = (hh * base + int(c)) % mod
                keys.append(np.array([doc_idx_of_row[row] * mod + hh]))
            if keys:
                allk = np.unique(np.concatenate(keys))
            else:
                allk = np.empty(0, dtype=np.int64)
            doc_of = allk // mod
            hs_all = allk % mod
            # every valid doc emits >= 1 shingle (empty text folds to 0),
            # so doc boundaries cover 0..nv-1 densely
            doc_starts = np.searchsorted(doc_of, np.arange(nv))
            bounds = np.append(doc_starts, allk.size)
            sig = np.empty((nv, num_hashes), dtype=np.int64)
            c0 = 0
            while c0 < nv:
                c1 = c0 + 1
                while (
                    c1 < nv and bounds[c1 + 1] - bounds[c0] <= chunk_budget
                ):
                    c1 += 1
                lo, hi = bounds[c0], bounds[c1]
                # a < P < 2^31 and h < 2^30: a*h + b < 2^62, no overflow
                P = (a_vec * hs_all[lo:hi][None, :] + b_vec) % p
                sig[c0:c1] = np.minimum.reduceat(
                    P, bounds[c0:c1] - lo, axis=1
                ).T
                c0 = c1
            shingle_lists = np.split(hs_all, doc_starts[1:]) if nv else []
            shs, cards, mhs = [], [], []
            di = 0
            for ok in valid:
                if not ok:
                    shs.append(None); cards.append(None); mhs.append(None)
                else:
                    shs.append(shingle_lists[di])
                    cards.append(shingle_lists[di].size)
                    mhs.append(sig[di])
                    di += 1
            yield pd.DataFrame(
                {"id": pdf[id_col].values, "shingles": shs, "card": cards, "mh": mhs}
            )

    # the pass is CPU-bound per row: a single-split input is spread first
    # (layout.spread; many-split inputs are left alone)
    return (
        spread(df, SPREAD_TEXT_BYTES)
        .select(F.col(id_col).alias(id_col), F.col(text_col))
        .mapInPandas(gen, "id long, shingles array<bigint>, card int, mh array<bigint>")
    )


def _banded_frame(
    sigs: DataFrame, bands: int, rows: int, *, exact_vals: bool = False
) -> DataFrame:
    """(id, band, band_key) — one row per (doc, band) via a single explode;
    band key = xxhash64 of the band's minhash values (8-byte join key;
    hashing can only merge buckets, and candidates are exact-verified, so
    a collision can only add a true-positive pair).  This is also the
    persisted `bands` layout of the streaming index.

    exact_vals=True adds `band_vals` (the band's raw minhash array): the
    capped-candidate rank must partition by the EXACT band tuple, not the
    hashed key — a hash collision merging two buckets would change member
    ranks and thus the capped set, diverging from any oracle that ranks by
    exact keys (collisions can then only ADD verified pairs, never change
    which pairs the cap keeps)."""

    # one SQL expression: one py4j round trip to build.  xxhash64 of an
    # array chains its elements (nulls skipped) like the variadic
    # xxhash64(mh[0], ..., mh[rows-1]) that persisted `bands` tables hold
    vals = f"slice(mh, b * {rows} + 1, {rows})"
    band_structs = F.expr(
        f"transform(sequence(0, {bands - 1}), b -> named_struct("
        f"'band', b, 'band_key', xxhash64({vals})"
        + (f", 'band_vals', {vals}" if exact_vals else "")
        + "))"
    )
    return (
        sigs.filter(F.col("mh").isNotNull())
        .select("id", F.explode(band_structs).alias("bk"))
        .select("id", "bk.*")
    )


def _bucket_pairs(left: DataFrame, right: DataFrame, keys: list[str]) -> DataFrame:
    """(id_a, id_b), id_a < id_b, for every left/right row pair sharing all
    `keys` — the bucket join behind every banded or clustered candidate
    generator (MinHash bands, hyperplane bands, k-means clusters).  A pair
    sharing several buckets appears once per bucket; verify_pairs dedups.
    A broadcast hint on either side survives the aliasing."""
    return (
        left.alias("x")
        .join(right.alias("y"), keys)
        .filter(F.col("x.id") < F.col("y.id"))
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
    )


def _np_shared_counts(sh_a, sh_b):
    """Exact |A ∩ B| for EVERY pair in one vectorized pass — no per-pair
    Python loop.  Spark's array_intersect is a CodegenFallback
    (interpreted, boxed hash set; ~70µs per 143-element intersect), and
    even a per-pair numpy merge pays ~4µs of call overhead × millions of
    candidates.  Instead: shingle hashes are < 2^30 and each per-pair
    array is sorted, so (pair_index << 31 | hash) concatenates ALL pairs'
    arrays into two globally-sorted key vectors — one searchsorted + one
    bincount counts every intersection at once."""
    import numpy as np

    npairs = len(sh_a)
    if npairs == 0:
        return np.zeros(0, dtype=np.int64)
    la = np.fromiter((a.size for a in sh_a), dtype=np.int64, count=npairs)
    lb = np.fromiter((b.size for b in sh_b), dtype=np.int64, count=npairs)
    a_pair = np.repeat(np.arange(npairs, dtype=np.int64), la)
    b_pair = np.repeat(np.arange(npairs, dtype=np.int64), lb)
    a_keys = (a_pair << 31) | np.concatenate(sh_a)
    b_keys = (b_pair << 31) | np.concatenate(sh_b)
    idx = np.searchsorted(b_keys, a_keys)
    idx[idx == b_keys.size] = 0
    hit = b_keys[idx] == a_keys
    return np.bincount(a_pair[hit], minlength=npairs).astype(np.int64)


def _jaccard_kernel(sh_a, sh_b, thr):
    """verify_pairs kernel for shingle sets: (keep, jaccard).  Exact
    pre-prune first — jaccard <= min(card)/max(card), so a pair failing
    the cardinality ratio can't pass and skips the intersect."""
    import numpy as np

    card_a = np.fromiter((a.size for a in sh_a), dtype=np.int64, count=len(sh_a))
    card_b = np.fromiter((b.size for b in sh_b), dtype=np.int64, count=len(sh_b))
    ok = np.minimum(card_a, card_b) >= thr * np.maximum(card_a, card_b)
    shared = np.zeros(len(sh_a), dtype=np.int64)
    shared[ok] = _np_shared_counts(sh_a[ok], sh_b[ok])
    jac = shared / (card_a + card_b - shared)
    return ok & (jac >= thr), jac


def verify_pairs(
    cand: DataFrame,
    table: DataFrame,
    n_rows: int,
    kernel,
    score_col: str,
    thr: float,
) -> DataFrame:
    """The one exact-verify step behind every LSH pair producer (MinHash
    Jaccard here, embedding cosine in similarity.py).

    cand: (id_a, id_b) candidate pairs, repeated once per shared bucket.
    table: (id, payload) — the id column first, the payload the kernel
    scores (a shingle set, a vector); null payloads never verify.
    n_rows: a bound on table's rows the caller already knows; it picks
    the payload transport:
    - n_rows <= VERIFY_BROADCAST_MAX_ROWS: the table is collected with
      Arrow and shipped to workers once (sc.broadcast), the pair stream
      carries two longs per row, and each batch finds its rows by
      searchsorted over the sorted ids — on a near-dup-heavy corpus a
      per-pair payload join would duplicate every shingle array per
      candidate (~5 GB through Arrow for 1M pairs of 300-shingle docs);
    - above it, payloads arrive by two hash joins on id and nothing
      reaches the driver (the at-scale path).
    kernel(a_payloads, b_payloads, thr) -> (keep mask, score) is one
    whole-batch numpy pass over row-aligned payload arrays; both
    transports feed it the same payloads, so the output is identical.
    Output: the (id_a, id_b, score_col) rows the kernel kept, one per
    pair on both transports, even when a table id repeats (an
    at-least-once replay of a batch)."""
    import numpy as np
    import pandas as pd

    schema = f"id_a long, id_b long, {score_col} double"
    table = table.toDF("id", "payload").filter(F.col("payload").isNotNull())
    broadcast = n_rows <= VERIFY_BROADCAST_MAX_ROWS
    # a pair colliding in several buckets appears once per bucket.  On the
    # shuffle transport dedup BEFORE verify too: dup pairs would fetch both
    # payloads again.  On the broadcast transport the pair stream is two
    # bare longs and the kernel is vectorized — re-verifying a ~1.3x dup
    # factor is far cheaper than a full-candidate-list distinct shuffle
    # (measured 2x cold / 15% warm on the sf0.1 corpus).  Both end with
    # the same dedup of the verified pairs: a table id listed twice joins
    # a pair once per row on the shuffle transport.
    if not broadcast:
        cand = cand.distinct()
    cand = fan_out(cand)  # per-pair numpy work on a byte-small shuffle

    def scored(ia, ib, pa, pb):
        keep, score = kernel(pa, pb, thr)
        return pd.DataFrame({"id_a": ia[keep], "id_b": ib[keep], score_col: score[keep]})

    if not broadcast:
        def run_joined(batches):
            for pdf in batches:
                yield scored(
                    pdf["id_a"].values, pdf["id_b"].values,
                    pdf["pa"].values, pdf["pb"].values,
                )

        out = (
            cand.join(table.toDF("id_a", "pa"), "id_a")
            .join(table.toDF("id_b", "pb"), "id_b")
            .select("id_a", "id_b", "pa", "pb")
            .mapInPandas(run_joined, schema)
        )
        return out.dropDuplicates(["id_a", "id_b"])
    # Arrow transfer (guide §6 "Arrow for driver transfers"): a row
    # collect() boxes every array element as a Python object — measured
    # ~3x slower than toPandas for a ~1.5M-element pull
    pdf = table.toPandas()
    order = np.argsort(pdf["id"].values, kind="stable")
    bc = cand.sparkSession.sparkContext.broadcast(
        (pdf["id"].values[order], pdf["payload"].values[order])
    )

    def run_broadcast(batches):
        ids, payloads = bc.value
        for pdf in batches:
            if not ids.size:
                continue
            ia, ib = pdf["id_a"].values, pdf["id_b"].values
            ra = np.minimum(np.searchsorted(ids, ia), ids.size - 1)
            rb = np.minimum(np.searchsorted(ids, ib), ids.size - 1)
            # an id the table lacks drops its pair, as the joins above do
            hit = (ids[ra] == ia) & (ids[rb] == ib)
            yield scored(ia[hit], ib[hit], payloads[ra[hit]], payloads[rb[hit]])

    return cand.mapInPandas(run_broadcast, schema).dropDuplicates(["id_a", "id_b"])


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    num_hashes: int = 128,
    bands: int = 16,
    threshold: float = 0.6,
    candidates: str = "all",
    bucket_cap: int = 64,
) -> DataFrame:
    """MinHash + LSH near-dup pairs, verified with exact Jaccard.

    shingle-hash -> `num_hashes` permutation minima -> `bands` band keys ->
    bucket join for candidates -> exact jaccard verify >= threshold.
    Deterministic (fixed coefficients) so results are reproducible and
    oracle-checkable.

    Band geometry: rows-per-band r = num_hashes/bands sets the collision
    sharpness (band hit probability j^r).  The 128/16 default (r=8) is tuned
    for thresholds ~0.7: on a clustery corpus the shoulder of j≈0.5 pairs
    collides at j^8≈0.8% per band instead of j^4≈6% — an order of magnitude
    fewer false candidates reaching the exact-verify step, which is where a
    near-dup-heavy corpus spends its time.

    Band keys are xxhash64 of the band's minhash values — an 8-byte join
    key instead of a ~50-char concat string, which halves the candidate
    shuffle.  Hashing can only merge buckets (never split), so a collision
    could only ADD candidates — and candidates are exact-verified, so a
    collision adds a pair only if its true jaccard clears the threshold;
    verified value-identical to the concat-key oracle on the fixture data.

    candidates='all' emits every in-bucket pair — the complete pair list,
    the mode the oracle checks pair-for-pair.  candidates='capped' emits
    (x, y) only when x is among the first `bucket_cap` members of the
    bucket (by id): identical to all-pairs for buckets <= bucket_cap, and
    cap*k instead of k^2/2 candidates beyond.  On clustery corpora
    (template families, boilerplate) bucket sizes grow WITH corpus size,
    so all-pairs candidate volume grows quadratically — the fixture's
    5000 docs already produce 1.03M candidates, and at 100x the corpus
    that is the scale-killer; capped makes candidate volume linear
    (bands * bucket_cap per doc, worst case).  The right input for
    CONNECTIVITY consumers (connected-components clustering needs a
    spanning subgraph, not every edge): a pair is lost only if BOTH
    members sit beyond rank `bucket_cap` in EVERY bucket they share and
    neither verifies against any of the first `bucket_cap` — measured on
    the fixture corpus the derived components are identical to all-pairs
    (pinned in tests).  Not for consumers that need the complete list.

    The verify transport (verify_pairs) follows the document count:
    broadcast shingle table within VERIFY_BROADCAST_MAX_ROWS, two hash
    joins beyond."""
    if num_hashes % bands != 0:
        raise ValueError("num_hashes must divide into equal bands")
    if candidates not in ("all", "capped"):
        raise ValueError(f"unknown candidates mode {candidates!r}")
    # cache + eager materialization: the signature pass is CPU-heavy but
    # byte-small, so AQE would coalesce any recomputation of it down to one
    # task, and lazy cache timing makes runtimes vary run-to-run.  At true
    # cluster scale this becomes a persisted signatures table, which is how
    # repeated dedup runs anyway.
    sigs = minhash_signatures(df, id_col, text_col, n=n, num_hashes=num_hashes).cache()
    return _minhash_sig_pairs(
        sigs, sigs.count(), num_hashes=num_hashes, bands=bands,
        threshold=threshold, candidates=candidates, bucket_cap=bucket_cap,
    )


def _minhash_sig_pairs(
    sigs: DataFrame,
    n_rows: int,
    *,
    num_hashes: int,
    bands: int,
    threshold: float,
    candidates: str = "all",
    bucket_cap: int = 64,
) -> DataFrame:
    """The sigs -> pairs half of minhash_lsh_pairs: banding, the bucket
    self-join and verify_pairs over already-materialized signatures.
    n_rows bounds sigs' row count and picks the verify transport."""
    rows = num_hashes // bands
    # one banded row per (doc, band) via a single explode — not a
    # bands-way union, which would re-read the cache `bands` times;
    # null-text docs have null signatures — dropped inside _banded_frame
    if candidates == "capped":
        # rank members within each bucket; only the first bucket_cap fan
        # out as join LHS — candidate volume is bucket-linear.  The rank
        # window partitions by the EXACT band tuple (band_vals), not the
        # xxhash64 key: see _banded_frame — a key collision must not be
        # able to change which members the cap keeps.
        # ONE exact-vals explode, materialized, feeds BOTH join sides:
        # a second explode pass (plain banded for the RHS) measured as
        # expensive as the rank window itself
        bex = _banded_frame(sigs, bands, rows, exact_vals=True).localCheckpoint(
            eager=True
        )
        banded = bex.drop("band_vals")
        # band_key leads the partition spec so the window sort resolves
        # almost every comparison on the 8-byte hash; band_vals only
        # disambiguates actual collisions (the exactness requirement)
        wo = Window.partitionBy("band", "band_key", "band_vals").orderBy("id")
        lhs = (
            bex.withColumn("rn", F.row_number().over(wo))
            .filter(F.col("rn") <= bucket_cap)
            .drop("rn", "band_vals")
        )
    else:
        banded = _banded_frame(sigs, bands, rows)
        lhs = banded
    cand = _bucket_pairs(lhs, banded, ["band", "band_key"])
    return verify_pairs(
        cand, sigs.select("id", "shingles"), n_rows, _jaccard_kernel, "jaccard", threshold
    )


def _probe_candidates(
    sigs_new: DataFrame,
    index_sigs: DataFrame,
    index_bands: DataFrame | None,
    bands: int,
    rows: int,
    n_new: int = 0,
) -> DataFrame:
    """Candidate stage of the incremental probe: the BATCH's band keys
    against the index's banding (vs-index) ∪ the batch against itself
    (in-batch) — never index-vs-index.  While the batch is within
    PROBE_BROADCAST_MAX_ROWS (n_new) its band keys are broadcast, so the
    index side is a map-only scan that never shuffles and per-batch
    shuffle volume is candidates only (the corpus-refresh contract at
    100 TB); a backfill-sized batch leaves the join strategy to the
    planner.  Callers that maintain the banding as a persisted table
    (streaming/dedup_stream.py) pass index_bands and skip even the
    banding fold: the probe is then a pure column scan of (id, band,
    band_key).  Kept as a separate function so the plan guard
    (test_plan_quality.py) can inspect the candidate plan before the
    public API checkpoints it."""
    hint = F.broadcast if n_new <= PROBE_BROADCAST_MAX_ROWS else (lambda d: d)
    b_idx = (
        index_bands.select("id", "band", "band_key")
        if index_bands is not None
        else _banded_frame(index_sigs, bands, rows)
    )
    b_new = _banded_frame(sigs_new, bands, rows)
    vs_index = (
        b_idx.join(hint(b_new.withColumnRenamed("id", "nid")), ["band", "band_key"])
        # an id present on BOTH sides (at-least-once reprocessing after
        # a crash mid-append) must not pair with itself
        .filter(F.col("id") != F.col("nid"))
        .select(
            F.least("id", "nid").alias("id_a"),
            F.greatest("id", "nid").alias("id_b"),
        )
    )
    in_batch = _bucket_pairs(b_new, hint(b_new), ["band", "band_key"])
    return vs_index.unionByName(in_batch)


def minhash_lsh_pairs_incremental(
    new_df: DataFrame,
    index_sigs: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    num_hashes: int = 128,
    bands: int = 16,
    threshold: float = 0.6,
    precomputed_sigs: DataFrame | None = None,
    index_bands: DataFrame | None = None,
) -> DataFrame:
    """Dedup a NEW batch against a persisted signature index — the
    real-world shape of corpus refreshes: the 100 TB corpus was
    signature-indexed once (minhash_signatures persisted as a table); each
    incoming batch signatures only ITS documents and probes the index,
    instead of re-running dedup over corpus + batch from scratch.

    index_sigs: a previous minhash_signatures output (id, shingles, card,
    mh), typically `spark.read.parquet(sig_table)`.  Must share n /
    num_hashes with this call, and ids must be disjoint from the batch.
    index_bands: optional persisted `_banded_frame` output (id, band,
    band_key) for the SAME index — lets the probe skip the per-batch
    banding fold entirely.  Must be derived from index_sigs with the same
    bands count, and may run AHEAD of index_sigs after a crash (bands ⊇
    sigs): a band row whose signature row is missing can only produce
    candidates that the verify then drops.

    Returns every near-dup pair with >= 1 endpoint in the new batch —
    batch-vs-index and batch-vs-batch, never index-vs-index (already
    emitted when those docs were new).  Value-identical to running
    minhash_lsh_pairs over index ∪ batch and keeping pairs touching the
    batch, which is what the DuckDB oracle re-derives.

    Scale shape: banding the index is a map-only pass over the signature
    table (no text re-shingling); candidates come from _probe_candidates,
    where only buckets containing a batch doc produce pairs.  Past
    ENDPOINT_SLICE_MIN_INDEX_ROWS of index, the signature table is sliced
    to candidate ENDPOINTS (broadcast semi-join on the candidate-id set)
    and verify_pairs picks its transport on the endpoint count — verify
    cost is O(candidates) however large the index (measured flat-ish at
    100x index rows, probe_dedup_100x.py); below it, on index + batch
    rows."""
    if num_hashes % bands != 0:
        raise ValueError("num_hashes must divide into equal bands")
    rows = num_hashes // bands
    # callers that already signatured the batch (e.g. the streaming
    # corpus-refresh pipeline, which persists signatures anyway) pass
    # precomputed_sigs to skip the second shingling pass
    sigs_new = (
        precomputed_sigs.select("id", "shingles", "card", "mh")
        if precomputed_sigs is not None
        else minhash_signatures(
            new_df, id_col, text_col, n=n, num_hashes=num_hashes
        ).localCheckpoint(eager=True)
    )
    # counted per side — a parquet-backed index answers count() from
    # footer stats without materializing anything
    n_new = sigs_new.count()
    n_idx = index_sigs.count()
    cand = _probe_candidates(sigs_new, index_sigs, index_bands, bands, rows, n_new)
    table = index_sigs.select("id", "shingles").unionByName(
        sigs_new.select("id", "shingles")
    )
    n_rows = n_idx + n_new
    if n_idx > ENDPOINT_SLICE_MIN_INDEX_ROWS:
        # restrict the verify table to candidate ENDPOINTS (broadcast
        # semi-join — map-only on the index side), so the broadcast
        # collect is O(candidates), not O(index), and the shuffle verify
        # only moves sliced rows.  Every candidate id exists in the table:
        # index candidates come from its own banding — a bands-ahead-of-
        # sigs id after a crash is by construction a member of the
        # replayed batch, hence present in sigs_new.  Candidates are
        # materialized once: they feed both the id slice and the verify.
        # Measured at 100x index rows (tools/probe_dedup_100x.py): ~7 s
        # where an index-size-gated transport chose a 14 s full shuffle.
        # Gated on index size: below the threshold the full collect is
        # already bounded and the slice's eager jobs cost more than they
        # save (measured neutral-to-negative at 4k-doc fixtures).
        cand = cand.localCheckpoint(eager=True)
        cand_ids = (
            cand.select(F.col("id_a").alias("id"))
            .unionByName(cand.select(F.col("id_b").alias("id")))
            .distinct()
            .localCheckpoint(eager=True)
        )
        m = cand_ids.count()
        if m <= ENDPOINT_SLICE_MAX_BROADCAST_IDS:
            table = table.join(F.broadcast(cand_ids), "id", "left_semi")
            n_rows = m
    return verify_pairs(cand, table, n_rows, _jaccard_kernel, "jaccard", threshold)


def simhash(df: DataFrame, id_col: str, text_col: str, *, bits: int = 32, n: int = 3) -> DataFrame:
    """SimHash signature over shingle hashes: bit k of the signature is the
    majority vote of bit k across all shingle hashes.  32 bits of the
    polynomial hash; deterministic."""
    sh = shingle_hash_df(df, id_col, text_col, n)
    bit_votes = [
        F.expr(
            f"aggregate(shingles, 0, (acc, x) -> acc + case when (x div {1 << k}) % 2 = 1 "
            f"then 1 else -1 end)"
        ).alias(f"v{k}")
        for k in range(bits)
    ]
    voted = sh.select("id", F.size("shingles").alias("card"), *bit_votes)
    sig = voted.select(
        "id",
        sum(
            (F.when(F.col(f"v{k}") > 0, F.lit(1 << k)).otherwise(F.lit(0)) for k in range(bits)),
            start=F.lit(0),
        ).cast("long").alias("simhash"),
    )
    return sig


def simhash_dup_pairs(
    df: DataFrame, id_col: str, text_col: str, *, bits: int = 32, n: int = 3, max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= max_hamming.

    Blocked by splitting the signature into max_hamming+1 bit segments:
    a pair within distance d <= max_hamming differs in at most max_hamming
    segments, so by pigeonhole at least one segment matches exactly —
    candidate generation is an equi-join on (segment index, segment bits),
    never a cartesian product.  (Two halves only guarantee recall for
    d <= 1; four segments are required for the default max_hamming=3.)"""
    sig = simhash(df, id_col, text_col, bits=bits, n=n)
    return hamming_pairs(sig, bits=bits, max_hamming=max_hamming)


def hamming_pairs(
    sig: DataFrame,
    *,
    bits: int,
    max_hamming: int,
    id_col: str = "id",
    sig_col: str = "simhash",
) -> DataFrame:
    """Pairs at Hamming distance <= max_hamming over any (id, signature)
    frame — the pigeonhole blocking shared by text SimHash and image
    perceptual hashes (multimodal dhash): max_hamming+1 bit segments, a
    pair within distance d differs in at most d segments, so >= 1 segment
    matches exactly; candidate generation is an equi-join, never a
    cartesian product, and the blocking is LOSSLESS."""
    sig = sig.select(F.col(id_col).alias("id"), F.col(sig_col).alias("simhash"))
    nseg = max_hamming + 1
    width = (bits + nseg - 1) // nseg
    mask = (1 << width) - 1
    segs = [
        F.struct(
            F.lit(k).alias("blk"),
            F.expr(f"shiftright(simhash, {k * width}) & {mask}").alias("key"),
        )
        for k in range(nseg)
    ]
    blocks = sig.select(
        "id",
        "simhash",
        F.explode(F.array(*segs)).alias("b"),
    ).select("id", "simhash", F.col("b.blk").alias("blk"), F.col("b.key").alias("key"))
    cand = (
        blocks.alias("x")
        .join(blocks.alias("y"), ["blk", "key"])
        .filter(F.col("x.id") < F.col("y.id"))
        .select(
            F.col("x.id").alias("id_a"),
            F.col("y.id").alias("id_b"),
            F.col("x.simhash").alias("sig_a"),
            F.col("y.simhash").alias("sig_b"),
        )
    )
    # hamming is one codegen xor+popcount per row — cheaper to evaluate on
    # the ~(max_hamming+1)x segment-dup factor than to distinct the full
    # candidate list first; dedup the surviving pairs instead
    return (
        cand.withColumn("hamming", F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .dropDuplicates(["id_a", "id_b"])
    )


def duplicated_window_flags(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    w: int = 10,
) -> DataFrame:
    """Exact-substring duplication signal (Lee et al., "Deduplicating
    Training Data Makes Language Models Better", arXiv:2107.06499 — the
    ExactSubstr criterion, token-windowed): fingerprint every w-token
    window; a window whose fingerprint occurs MORE THAN ONCE in the corpus
    (across or within documents) is duplicated, and each document reports
    how much of it that covers.

    Output: (id_col, n_windows, n_dup_windows, dup_frac) — one row per
    document, n_windows = max(len(tokens) - w + 1, 0).

    Scale shape: the window explode is a map-only ~w x token-volume pass
    emitting (doc, md5) fingerprints only (never window text); occurrence
    counting is ONE count().over(partitionBy(fp)) window — a single
    fingerprint shuffle, no count-table self-join (which would either
    broadcast a corpus-scale table or recompute the explode lineage
    twice); fingerprints are uniform 128-bit, so no skew beyond genuinely
    ubiquitous boilerplate; the per-doc rollup is map-combinable.
    Nothing corpus-sized is collected or broadcast."""
    toks_s, _ = TXT.tokens(text_col)
    t = spread(docs, SPREAD_TEXT_BYTES).select(
        F.col(id_col).alias("id"), F.expr(toks_s).alias("toks")
    ).withColumn("nw", F.greatest(F.size("toks") - F.lit(w) + 1, F.lit(0)))
    wins = t.filter(F.col("nw") > 0).select(
        "id",
        F.explode(
            F.expr(
                f"transform(sequence(1, nw), i -> "
                f"md5(concat_ws(' ', slice(toks, i, {w}))))"
            )
        ).alias("fp"),
    )
    perdoc = (
        wins.withColumn("c", F.count("*").over(Window.partitionBy("fp")))
        .groupBy("id")
        .agg(
            F.sum(F.when(F.col("c") >= 2, 1).otherwise(0))
            .cast("long")
            .alias("n_dup_windows")
        )
    )
    return (
        t.join(perdoc, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.col("nw").cast("long").alias("n_windows"),
            F.coalesce(F.col("n_dup_windows"), F.lit(0)).cast("long").alias("n_dup_windows"),
            F.when(
                F.col("nw") > 0,
                F.coalesce(F.col("n_dup_windows"), F.lit(0)) / F.col("nw"),
            )
            .otherwise(F.lit(0.0))
            .alias("dup_frac"),
        )
    )


def paragraph_dedup(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n\n",
    min_chars: int = 1,
) -> DataFrame:
    """Paragraph-level exact dedup (the CCNet / RefinedWeb line-dedup
    stage): every paragraph that appears more than once in the CORPUS is
    kept only at its first occurrence — (min id, min position) order,
    fully deterministic — and each document is reassembled from its
    surviving paragraphs.  Documents whose every paragraph was a
    duplicate disappear.

    Output: (id_col, text_col [rebuilt], n_kept, n_dropped).

    Scale shape: split+posexplode is map-only; the winner per paragraph
    is one groupBy(fingerprint) -> min(struct(id, pos)) — map-side
    combinable, the only corpus-wide shuffle, keyed on a 64-bit hash so
    skew is bounded by genuinely ubiquitous paragraphs (AQE skew-split
    handles those); the keep/drop decision joins the winner frame back
    on fingerprint; reassembly is a per-document sort_array over the
    kept (pos, para) structs — no window, one final groupBy(id).
    Paragraph text itself rides the shuffle once (inside the explode
    output); at 100 TB swap text for the fingerprint in the rejoin and
    fetch winners' text from the source partition if network is the
    bottleneck."""
    # F.split takes a Java regex but reassembly joins the LITERAL sep:
    # quote it (\Q..\E) so metacharacter separators ('|', '.', ' * ')
    # split literally and round-trip
    paras = (
        docs.select(
            F.col(id_col).alias("__id"),
            F.posexplode(
                F.split(F.col(text_col), F.lit("\\Q" + sep + "\\E"))
            ).alias("__pos", "__para"),
        )
        .filter(F.length("__para") >= min_chars)
        .withColumn("__fp", F.xxhash64("__para"))
    )
    winners = paras.groupBy("__fp").agg(
        F.min(F.struct("__id", "__pos")).alias("__w")
    )
    kept = paras.join(winners, "__fp").withColumn(
        "__keep",
        (F.col("__w.__id") == F.col("__id")) & (F.col("__w.__pos") == F.col("__pos")),
    )
    return (
        kept.groupBy("__id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("__keep"), F.struct("__pos", "__para"))
                        )
                    ),
                    lambda s: s["__para"],
                ),
                sep,
            ).alias(text_col),
            F.sum(F.when(F.col("__keep"), 1).otherwise(0)).cast("long").alias("n_kept"),
            F.sum(F.when(~F.col("__keep"), 1).otherwise(0)).cast("long").alias("n_dropped"),
        )
        .filter(F.col("n_kept") > 0)
        .select(F.col("__id").alias(id_col), text_col, "n_kept", "n_dropped")
    )
