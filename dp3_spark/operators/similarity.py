"""Similarity search over embedding columns (array<float>).

- `cosine_topk`: brute-force exact top-k — the correctness baseline.  The
  dot product is a zip_with/aggregate fold (JVM-side, codegen); queries are
  broadcast (small side), so the plan is one broadcast-nested-loop over the
  corpus with a per-query top-k — no shuffle of the corpus itself.
- `lsh_topk`: random-hyperplane LSH bucketed search — the 100 TB path.
  Deterministic pseudo-hyperplanes derived from the polynomial-hash LCG, so
  recall tests are reproducible.  Corpus and queries are banded by one
  numpy pass (`_banded_signature`, bit-identical to the SQL reference
  `hyperplane_lsh_signature`); buckets bound the candidate set and the
  exact rerank runs only on it.
- `ivf_topk`: k-means inverted lists; candidates are the query's `nprobe`
  nearest lists.  LSH and IVF share one exact cosine rerank
  (`_cosine_rerank`), and every top-k here ranks through `_top_k`.
- `embedding_dup_pairs`: all-pairs near-duplicate detection by cosine
  threshold via the same broadcast pattern (or bucketed at scale).
  Banded and clustered pair mining share dedup's bucket join and verify.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dp3_spark.functions import vectors as VEC
from dp3_spark.layout import fan_out
from dp3_spark.operators import dedup as DD

# 31-bit LCG + xorshift mixing: all intermediates < 2^62, safe under ANSI
# overflow checking.  The xorshift/second-multiply steps are LOAD-BEARING:
# a bare LCG is affine, so plane seeds differing by the constant stride
# (p*65537) produce near-shifted weight sequences — measured plane-pair
# |cosine| up to 0.975 (mean 0.44 vs the isotropic 0.10), which collapses
# band keys to a fraction of their nominal bits and exploded the sf1
# candidate join to ~35% of ALL pairs (round-5 scaling measurement).
# With the non-linear mix: mean |cos| 0.098, max 0.43 — isotropic.
_LCG31_MUL = 1_103_515_245
_LCG31_ADD = 12_345
_LCG31_MOD = 2_147_483_648
_MIX_MUL = 1_597_334_677


def plane_weight_spark(p: int, i_expr: str = "i") -> str:
    """Spark SQL fragment for hyperplane weight w(p, i) in [-1, 1]:
    lcg31(p*65537 + i) -> xorshift15 -> *MIX_MUL mod 2^31 -> xorshift12,
    quantized to thousandths.  Exact-integer arithmetic, bit-identical to
    plane_weight_duck / _np_plane_weights."""
    h1 = (
        f"(({_LCG31_MUL}L * (({p}L * 65537 + {i_expr}) % {_LCG31_MOD}L) "
        f"+ {_LCG31_ADD}L) % {_LCG31_MOD}L)"
    )
    h2 = f"({h1} ^ shiftright({h1}, 15))"
    h3 = f"(({_MIX_MUL}L * {h2}) % {_LCG31_MOD}L)"
    h4 = f"({h3} ^ shiftright({h3}, 12))"
    return f"(cast({h4} % 2001 - 1000 as double) / 1000.0)"


def plane_weight_duck(p: int, i_expr: str) -> str:
    """DuckDB mirror of plane_weight_spark (xor() function, >> operator)."""
    h1 = (
        f"(({_LCG31_MUL}::bigint * (({p}::bigint * 65537 + {i_expr}) % {_LCG31_MOD}) "
        f"+ {_LCG31_ADD}) % {_LCG31_MOD})"
    )
    h2 = f"xor({h1}, {h1} >> 15)"
    h3 = f"(({_MIX_MUL}::bigint * {h2}) % {_LCG31_MOD})"
    h4 = f"xor({h3}, {h3} >> 12)"
    return f"(cast({h4} % 2001 - 1000 as double) / 1000.0)"


def _with_norm(df: DataFrame, vec_col: str) -> DataFrame:
    n_s, _ = VEC.norm(vec_col)
    return df.withColumn("__norm__", F.expr(n_s))


def _cosine_sides(
    corpus: DataFrame, queries: DataFrame, id_col: str, vec_col: str
) -> tuple[DataFrame, DataFrame]:
    """The two sides of a cosine score: corpus (neighbor_id, c_vec,
    c_norm) and queries (query_id, q_vec, q_norm)."""
    c = _with_norm(corpus, vec_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        F.col("__norm__").alias("c_norm"),
    )
    q = _with_norm(queries, vec_col).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        F.col("__norm__").alias("q_norm"),
    )
    return c, q


def _cosine(pairs: DataFrame) -> DataFrame:
    """Adds `cosine` to joined (q_vec, q_norm, c_vec, c_norm) rows — the
    sequential-fold dot over the product of norms, null on a zero norm."""
    dot_s, _ = VEC.dot("q_vec", "c_vec")
    return pairs.withColumn(
        "cosine", F.expr(dot_s) / F.nullif(F.col("q_norm") * F.col("c_norm"), F.lit(0.0))
    )


def _top_k(scored: DataFrame, score_col: str, k: int) -> DataFrame:
    """(query_id, neighbor_id, score_col, rank): the k best neighbors per
    query by (score desc, neighbor_id asc) — the one deterministic tie
    rule of every top-k search here."""
    w = Window.partitionBy("query_id").orderBy(F.col(score_col).desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", score_col, "rank")
    )


def _cosine_rerank(
    cand: DataFrame, corpus: DataFrame, queries: DataFrame, id_col: str, vec_col: str, k: int
) -> DataFrame:
    """Exact cosine top-k over (query_id, neighbor_id) candidates — the
    rerank of every bucketed search (LSH bands, IVF lists).  Candidates
    are deduped first (a neighbor sharing several buckets with a query is
    scored once); the corpus side joins by id, the query side is
    broadcast, so only candidate ids ride the shuffle, never vectors."""
    c, q = _cosine_sides(corpus, queries, id_col, vec_col)
    cand = fan_out(cand.distinct())  # per-candidate cosine fold
    scored = _cosine(cand.join(c, "neighbor_id").join(F.broadcast(q), "query_id"))
    return _top_k(scored, "cosine", k)


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Output: (query_id, neighbor_id, cosine, rank), rank 1..k, excluding
    self-matches.  Ties break by neighbor_id ascending (deterministic)."""
    c, q = _cosine_sides(corpus, queries, id_col, vec_col)
    scored = _cosine(c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id")))
    return _top_k(scored, "cosine", k)


def knn_classify(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 10,
) -> DataFrame:
    """kNN label propagation over the embedding column — the standard
    auto-labeling / learned-quality-classifier step of a training-data
    pipeline (score unlabeled documents by the labels of their nearest
    labeled neighbors).

    Each query takes the majority label among its k exact cosine
    neighbors in the labeled corpus; ties break by (votes desc, label
    asc) — fully deterministic, so the result is DuckDB-oracleable.
    Output: (query_id, predicted_label, votes).

    Scale shape: the neighbor search inherits cosine_topk's plan (query
    set broadcast, corpus never shuffles, one window over k rows per
    query); the label lookup is an equi-join of the (query, k)-row
    neighbor frame against the corpus's (id, label) projection — column
    pruning reduces the joined side to two columns, and AQE picks
    broadcast vs shuffle-hash by the labeled set's actual size.  The
    final vote is a (query, label)-keyed count — map-side combinable,
    at most k rows per query into the shuffle."""
    # unlabeled corpus rows (null label) neither occupy neighbor slots
    # nor vote: the search runs over the k nearest LABELED neighbors —
    # otherwise a null vote group could win a tie (Spark's asc ordering
    # is NULLS FIRST) and predict null for a query surrounded by real
    # labels
    labeled = corpus.filter(F.col(label_col).isNotNull())
    nn = cosine_topk(labeled, queries, id_col=id_col, vec_col=vec_col, k=k)
    labels = labeled.select(
        F.col(id_col).alias("neighbor_id"), F.col(label_col).alias("__lab")
    )
    votes = (
        nn.join(labels, "neighbor_id")
        .groupBy("query_id", "__lab")
        .agg(F.count("*").alias("votes"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("votes").desc(), F.col("__lab").asc()
    )
    return (
        votes.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("query_id", F.col("__lab").alias("predicted_label"), "votes")
    )


def hyperplane_lsh_signature(df: DataFrame, vec_col: str, *, planes: int = 16) -> DataFrame:
    """Sign-bit signature under `planes` deterministic pseudo-hyperplanes
    (bit p = projection on plane p > 0; a null vector signs as 0) — the
    Spark-SQL reference definition, mirrored in DuckDB by the registry
    oracles.  The search paths band with `_banded_signature`, whose keys
    equal this signature's bit slices (pinned in tests).

    Plane p's component for dimension i is derived from an LCG of (p, i),
    mapped to [-1, 1) — computed inline with built-ins, no UDF: the plane
    never materializes, only sum_i v[i] * w(p, i)."""
    sig = F.lit(0).cast("long")
    for p in range(planes):
        # w(p,i) = plane_weight_spark: mixed lcg31 of (p, i) in [-1, 1]
        proj = F.expr(
            "aggregate(zip_with({v}, sequence(0, size({v}) - 1), (x, i) -> "
            "cast(x as double) * {w}), "
            "cast(0.0 as double), (a, b) -> a + b)".format(
                v=vec_col, w=plane_weight_spark(p)
            )
        )
        sig = sig + F.when(proj > 0, F.lit(1 << p)).otherwise(F.lit(0))
    return df.withColumn("lsh_sig", sig)


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    planes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Approximate top-k: candidates = corpus vectors sharing at least one
    LSH band with the query, exact cosine rerank within candidates.

    At 100 TB the banded join replaces the full-corpus broadcast loop:
    both sides are banded by one numpy pass (corpus signatures can be
    persisted), the join is hash-partitioned on (band, band_key) and
    carries ids only; vectors enter at the rerank (_cosine_rerank)."""
    c = _banded_signature(corpus, id_col, vec_col, planes=planes, bands=bands)
    q = _banded_signature(queries, id_col, vec_col, planes=planes, bands=bands)
    cand = (
        q.withColumnRenamed("id", "query_id")
        .join(c.withColumnRenamed("id", "neighbor_id"), ["band", "band_key"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
    )
    return _cosine_rerank(cand, corpus, queries, id_col, vec_col, k)


def _np_plane_weights(planes: int, dim: int):
    """The hyperplane weight matrix (planes, dim) in float64 — exact integer
    LCG arithmetic then /1000.0, identical values to the SQL formula."""
    import numpy as np

    p = np.arange(planes, dtype=np.int64)[:, None]
    i = np.arange(dim, dtype=np.int64)[None, :]
    x = (p * 65537 + i) % _LCG31_MOD
    # all products < 2^62: no int64 overflow
    h = (_LCG31_MUL * x + _LCG31_ADD) % _LCG31_MOD
    h = h ^ (h >> 15)
    h = (_MIX_MUL * h) % _LCG31_MOD
    h = h ^ (h >> 12)
    w = h % 2001 - 1000
    return w.astype(np.float64) / 1000.0


def _np_proj_bits(V, W):
    """Sign bits (n, planes) for a (n, dim) float array under weights
    (planes, dim).  Accumulates SEQUENTIALLY across dims (vectorized
    across rows), so every projection double is bit-identical to the SQL
    fold in hyperplane_lsh_signature / the DuckDB oracle — float addition
    is not associative, and the sign bit of a projection decides band
    membership."""
    import numpy as np

    n, dim = V.shape
    planes = W.shape[0]
    acc = np.zeros((n, planes), dtype=np.float64)
    for i in range(dim):
        acc += V[:, i].astype(np.float64)[:, None] * W[:, i][None, :]
    return acc > 0


def _banded_signature(df: DataFrame, id_col: str, vec_col: str, *, planes: int, bands: int) -> DataFrame:
    """(id, band, band_key) rows: one per document per LSH band, from one
    Arrow-batched numpy pass — a matrix op per batch instead of `planes`
    interpreted SQL folds per vector.

    Band keys are packed per band inside the numpy kernel (rows <= 63
    bits each), so total planes is unbounded — required since
    lsh_geometry grows planes with corpus size (e.g. 90 planes at 20k
    vectors).  For planes <= 63 the keys are bit-identical to slicing
    hyperplane_lsh_signature (pinned in tests); like it, a null vector
    signs as 0, so its key is 0 in every band."""
    import numpy as np
    import pandas as pd

    rows = planes // bands

    def gen(batches):
        cache: dict[int, object] = {}
        key_w = np.int64(1) << np.arange(rows, dtype=np.int64)
        for pdf in batches:
            vecs = pdf["vec"].values
            dims = np.array([-1 if v is None else len(v) for v in vecs])
            keys = np.zeros((len(pdf), bands), dtype=np.int64)
            for d in np.unique(dims[dims >= 0]):
                m = dims == d
                W = cache.get(int(d))
                if W is None:
                    W = cache[int(d)] = _np_plane_weights(planes, int(d))
                V = np.stack(
                    [np.asarray(v, dtype=np.float32) for v in vecs[m]]
                )
                bits = _np_proj_bits(V, W)  # (n, planes)
                for b in range(bands):
                    keys[m, b] = (
                        bits[:, b * rows : (b + 1) * rows] * key_w
                    ).sum(axis=1, dtype=np.int64)
            yield pd.DataFrame({"id": pdf["id"].values, "keys": list(keys)})

    sig = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec")).mapInPandas(
        gen, "id long, keys array<long>"
    )
    return sig.select("id", F.posexplode("keys").alias("band", "band_key"))


def _np_cosine_batch(A, B, thr):
    """verify_pairs kernel for vectors: (keep_mask, cosines) for
    row-aligned vector payloads, stacked to float32 matrices.  Dot and
    norms accumulate float64 SEQUENTIALLY across dims so every cosine is
    bit-identical to the SQL fold (functions/vectors.py) and the DuckDB
    oracle, regardless of which transport delivered the vectors."""
    import numpy as np

    if not len(A):
        return np.zeros(0, dtype=bool), np.zeros(0, dtype=np.float64)
    A = np.stack(A).astype(np.float32, copy=False)
    B = np.stack(B).astype(np.float32, copy=False)
    dim = A.shape[1]
    dot = np.zeros(A.shape[0], dtype=np.float64)
    na = np.zeros(A.shape[0], dtype=np.float64)
    nb = np.zeros(A.shape[0], dtype=np.float64)
    for i in range(dim):
        x = A[:, i].astype(np.float64)
        y = B[:, i].astype(np.float64)
        dot += x * y
        na += x * x
        nb += y * y
    denom = np.sqrt(na) * np.sqrt(nb)
    with np.errstate(divide="ignore", invalid="ignore"):
        cos = dot / denom
    return (denom != 0.0) & (cos >= thr), cos


def lsh_geometry(
    n_rows: int,
    *,
    design_cosine: float = 0.9,
    base_rows: int = 6,
    base_bands: int = 4,
    target_occupancy: int = 32,
) -> tuple[int, int]:
    """(planes, bands) sized to the corpus — the scale knob the round-5
    sf1 measurement showed is mandatory: with FIXED geometry (24/4 -> 64
    keys per band) bucket occupancy grows linearly with corpus size, so
    in-bucket candidate pairs grow QUADRATICALLY (measured 107x pairs and
    36x wall-clock for 10x vectors).  rows-per-band grows as
    log2(n / target_occupancy), which keeps expected null-collision
    occupancy (and hence candidate volume per vector) ~constant; bands
    then grows to hold recall at the design point (cosine-0.9 near-dups)
    at the base geometry's level, per the standard banding analysis
    (hit = 1 - (1 - p^rows)^bands, p = 1 - theta/pi).

    Deterministic in n_rows and equal to the base (24, 4) for corpora
    <= target_occupancy * 2^base_rows (= 2048) — which keeps every
    fixture-scale driver oracle byte-identical."""
    import math

    rows = base_rows
    if n_rows > target_occupancy:
        rows = max(base_rows, math.ceil(math.log2(n_rows / target_occupancy)))
    p = 1 - math.acos(design_cosine) / math.pi
    if rows == base_rows:
        bands = base_bands
    else:
        base_recall = 1 - (1 - p**base_rows) ** base_bands
        bands = max(
            base_bands,
            math.ceil(math.log(1 - base_recall) / math.log(1 - p**rows)),
        )
    return rows * bands, bands


def embedding_dup_pairs_lsh(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    planes: int | None = None,
    bands: int | None = None,
) -> DataFrame:
    """Near-dup pairs via hyperplane-LSH banding: candidates = pairs sharing
    at least one band key, then exact cosine filter >= threshold.

    The 100 TB path: candidate generation is a hash-partitioned equi-join
    on (band, key) — never all-pairs.  The exact-cosine verify is
    dedup.verify_pairs with the sequential-fold cosine kernel: a
    broadcast (id, vector) table while the corpus is within
    VERIFY_BROADCAST_MAX_ROWS, two hash joins on id beyond, with
    bit-identical output either way.
    Recall for the default 24 planes / 4 bands (6 rows per band) at
    cosine 0.9 is ~87% (per-plane agreement 1 - θ/π = 0.857, band hit
    0.857⁶, ≥1 of 4 bands), while random pairs collide at only
    (1/2)⁶ × 4 ≈ 6% — rows-per-band is the candidate-precision knob, same
    as in minhash LSH.  Brute (`embedding_dup_pairs(method='brute')`) is
    the exact reference.

    planes/bands default to `lsh_geometry(corpus rows)`: (24, 4) up to
    2048 vectors (fixture scales — oracle-locked), then rows-per-band
    grows with log2(n) so candidate volume stays ~linear in corpus size
    instead of quadratic in bucket occupancy (the round-5 scaling fix)."""
    # one count (parquet footer job) feeds the auto geometry and the
    # verify transport
    n_corpus = df.count()
    if planes is None or bands is None:
        auto_planes, auto_bands = lsh_geometry(n_corpus)
        planes = planes if planes is not None else auto_planes
        bands = bands if bands is not None else auto_bands
    # materialize signatures once: the self-join would otherwise compute
    # the projection pass twice per vector (signature rows are
    # (id, band, band_key) — bytes per vector)
    banded = _banded_signature(df, id_col, vec_col, planes=planes, bands=bands).cache()
    banded.count()
    cand = DD._bucket_pairs(banded, banded, ["band", "band_key"])
    vecs = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    return DD.verify_pairs(cand, vecs, n_corpus, _np_cosine_batch, "cosine", threshold)


# ---------------------------------------------------------------- IVF ANN
# The second at-scale ANN family (task brief: "an IVF or LSH-bucketed
# variant"): a k-means coarse quantizer partitions the corpus into
# inverted lists; a query probes only its `nprobe` nearest lists and
# reranks exactly inside them.  At 100 TB: the centroid table is tiny and
# broadcast, corpus assignment is one numpy mapInPandas pass (persistable,
# like the minhash signature table), and search touches nprobe/k_clusters
# of the data with a plain equi-join on cluster id — never all-pairs.
# Training is iterative (Lloyd), so there is no SQL oracle; recall vs the
# brute-force baseline is pinned in tests (the driver records a rows-only
# check, per the brief's carve-out for iterative algorithms).


def _assign_clusters(df: DataFrame, centroids: list[list[float]], id_col: str, vec_col: str,
                     *, nprobe: int = 1) -> DataFrame:
    """(id, cluster) rows: each vector's `nprobe` nearest centroids by L2.
    Centroids ship in the task closure (k x dim doubles — a few KB)."""
    import numpy as np
    import pandas as pd

    cents = [list(map(float, c)) for c in centroids]
    np_ = nprobe

    def gen(batches):
        C = np.asarray(cents, dtype=np.float64)  # (k, dim)
        c_sq = (C * C).sum(axis=1)
        for pdf in batches:
            n = len(pdf)
            if not n:
                continue
            # whole-batch matmul: (n, dim) @ (dim, k) beats a per-row
            # gemv loop ~10x on 1k-row Arrow batches
            X = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            d = c_sq[None, :] - 2.0 * (X @ C.T)  # argmin ||x-c||^2 per row
            eff = min(np_, C.shape[0])
            near = np.argsort(d, axis=1, kind="stable")[:, :eff]  # (n, eff)
            ids = np.repeat(pdf[id_col].values, eff)
            yield pd.DataFrame(
                {"id": ids, "cluster": near.reshape(-1).astype("int32")}
            )

    return df.select(F.col(id_col).alias(id_col), F.col(vec_col)).mapInPandas(
        gen, "id long, cluster int"
    )


def ivf_fit_centroids(
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k_clusters: int = 16,
    iters: int = 3,
) -> list[list[float]]:
    """Deterministic Lloyd k-means: init = the k lowest-id vectors (no RNG,
    reproducible), then `iters` rounds of assign -> element-wise mean.
    Only k x dim doubles ever reach the driver.  A corpus with fewer
    (non-null) vectors than k_clusters degrades to one cluster per vector
    instead of erroring."""
    init = corpus.orderBy(F.col(id_col)).limit(k_clusters).select(vec_col).collect()
    cents = [list(map(float, r[0])) for r in init if r[0] is not None]
    if not cents:
        raise ValueError("k-means needs at least one non-null vector")
    k_clusters = min(k_clusters, len(cents))
    dim = len(cents[0])
    for _ in range(iters):
        assigned = _assign_clusters(corpus, cents, id_col, vec_col).withColumnRenamed("id", id_col)
        joined = corpus.select(id_col, vec_col).join(assigned, id_col)
        means = (
            joined.select("cluster", F.posexplode(F.col(vec_col)).alias("dim", "x"))
            .groupBy("cluster", "dim")
            .agg(F.avg("x").alias("m"))
            .groupBy("cluster")
            .agg(F.array_sort(F.collect_list(F.struct("dim", "m"))).alias("dm"))
            .select("cluster", F.col("dm.m").alias("centroid"))
            .collect()
        )
        new = {r["cluster"]: list(r["centroid"]) for r in means}
        # empty clusters keep their previous centroid
        cents = [new.get(ci, cents[ci]) for ci in range(k_clusters)]
        assert all(len(c) == dim for c in cents)
    return cents


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    k_clusters: int = 16,
    nprobe: int = 4,
    iters: int = 3,
    assign: str = "numpy",
) -> DataFrame:
    """IVF approximate top-k: exact cosine rerank inside the query's
    `nprobe` nearest inverted lists.  Output matches cosine_topk:
    (query_id, neighbor_id, cosine, rank).

    assign='numpy' (default): BLAS matmul assignment via mapInPandas.
    assign='sql': the codegen sequential-fold assignment
    (_assign_clusters_sql) — bit-reproducible in DuckDB, which together
    with iters=0 (seeded centroids, no Lloyd refinement) makes the whole
    IVF pipeline closed-form and exactly oracle-able (the sem_dedup
    construction)."""
    if assign not in ("numpy", "sql"):
        raise ValueError(f"unknown assign mode {assign!r}: expected numpy|sql")
    cents = ivf_fit_centroids(
        corpus, id_col=id_col, vec_col=vec_col, k_clusters=k_clusters, iters=iters
    )
    assign_fn = _assign_clusters_sql if assign == "sql" else _assign_clusters
    c_assign = assign_fn(corpus, cents, id_col, vec_col).withColumnRenamed("id", "neighbor_id")
    q_assign = assign_fn(queries, cents, id_col, vec_col, nprobe=nprobe).withColumnRenamed(
        "id", "query_id"
    )
    cand = (
        q_assign.join(c_assign, "cluster")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
    )
    return _cosine_rerank(cand, corpus, queries, id_col, vec_col, k)


def topk_recall(exact: DataFrame, approx: DataFrame, *, k: int) -> DataFrame:
    """Per-query recall@k of an ANN result against the exact top-k: the
    publishable quality gate for lsh_topk / ivf_topk.  Both inputs are
    (query_id, neighbor_id, ...) top-k frames; output is one scalar row
    per query — (query_id, hits, recall) with recall = |approx ∩ exact|/k.

    Scale shape: one equi-join on (query_id, neighbor_id) + a
    map-combinable count — both sides are k rows per query, so this is
    query-cardinality work, independent of corpus size."""
    e = exact.select("query_id", "neighbor_id")
    a = approx.select("query_id", "neighbor_id").withColumn("__hit", F.lit(1))
    return (
        e.join(a, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(F.coalesce(F.sum("__hit"), F.lit(0)).cast("long").alias("hits"))
        .withColumn("recall", F.col("hits") / F.lit(float(k)))
    )


# brute-force all-pairs is quadratic: above this corpus size the auto
# dispatch switches to LSH banding
BRUTE_MAX_ROWS = 20_000


def embedding_dup_pairs(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    method: str = "auto",
    planes: int | None = None,
    bands: int | None = None,
) -> DataFrame:
    """All pairs (a < b) with cosine >= threshold.

    method='brute': exact O(n²) broadcast self-join — the oracle baseline,
    only sane below ~BRUTE_MAX_ROWS rows.
    method='lsh': banded candidates + exact cosine (see
    embedding_dup_pairs_lsh) — the at-scale path, ~95% recall at 0.9;
    planes/bands default to lsh_geometry(corpus rows) there.
    method='auto' (default): count the corpus (parquet footer metadata —
    no data scan) and pick."""
    if method == "auto":
        method = "brute" if df.count() <= BRUTE_MAX_ROWS else "lsh"
    if method == "lsh":
        return embedding_dup_pairs_lsh(
            df, id_col=id_col, vec_col=vec_col, threshold=threshold, planes=planes, bands=bands
        )
    if method != "brute":
        raise ValueError(f"unknown method {method!r}: expected auto|brute|lsh")
    dot_s, _ = VEC.dot("vec_a", "vec_b")
    base = _with_norm(df, vec_col).select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec"), F.col("__norm__").alias("nrm")
    )
    a = base.select(F.col("id").alias("id_a"), F.col("vec").alias("vec_a"), F.col("nrm").alias("nrm_a"))
    b = base.select(F.col("id").alias("id_b"), F.col("vec").alias("vec_b"), F.col("nrm").alias("nrm_b"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", F.expr(dot_s) / F.nullif(F.col("nrm_a") * F.col("nrm_b"), F.lit(0.0)))
        .filter(F.col("cosine") >= F.lit(threshold))
        .select("id_a", "id_b", "cosine")
    )


# ------------------------------------------------------- semantic dedup
# SemDeDup (Abbas et al., "SemDeDup: Data-efficient learning at web-scale
# through semantic deduplication", arXiv:2303.09540): k-means cluster the
# embedding space, then deduplicate ONLY within clusters — the coarse
# quantizer turns the corpus-quadratic near-dup problem into a
# cluster-quadratic one, and k_clusters scales with corpus size to keep
# cluster populations bounded (the paper's operating point).  At 100 TB:
# assignment is one broadcast-centroid map pass (persistable alongside the
# corpus like the minhash signature table), candidate generation is an
# equi-join on cluster id, and the exact-cosine verify is the dup-pair
# core, dedup.verify_pairs (broadcast vectors within its row budget, two
# hash joins beyond — nothing corpus-sized ever reaches the driver).


def _assign_clusters_sql(
    df: DataFrame, centroids: list[list[float]], id_col: str, vec_col: str,
    *, nprobe: int = 1
) -> DataFrame:
    """Cluster assignment as a pure codegen expression: per-centroid
    squared-L2 distance is a sequential zip_with/aggregate double fold over
    inlined centroid literals, argmin by array_sort of (d2, cluster)
    structs.  Bit-identical to a DuckDB list_reduce fold over the same
    centroids (tie on d2 breaks toward the lower cluster id in both), which
    is what makes the seeded sem_dedup registry query exactly oracle-able —
    the numpy path (_assign_clusters) computes d2 via BLAS matmul whose
    non-sequential summation can flip near-ties."""
    structs = []
    for ci, c in enumerate(centroids):
        arr = "array({})".format(
            ", ".join(f"cast({float(v)!r} as double)" for v in c)
        )
        d2 = (
            f"aggregate(zip_with({vec_col}, {arr}, "
            f"(x, c) -> (cast(x as double) - c) * (cast(x as double) - c)), "
            f"cast(0.0 as double), (a, b) -> a + b)"
        )
        structs.append(f"struct({d2} as d2, {ci} as cluster)")
    if nprobe <= 1:
        expr = f"array_sort(array({', '.join(structs)}))[0].cluster"
        return df.select(
            F.col(id_col).alias("id"), F.expr(expr).cast("int").alias("cluster")
        )
    # nprobe nearest clusters: slice the sorted (d2, cluster) structs and
    # explode — same tie rule (lower cluster id wins) as the top-1 path
    expr = (
        f"transform(slice(array_sort(array({', '.join(structs)})), 1, {int(nprobe)}), "
        f"s -> s.cluster)"
    )
    return df.select(
        F.col(id_col).alias("id"), F.explode(F.expr(expr)).alias("cluster")
    ).select("id", F.col("cluster").cast("int").alias("cluster"))


def semantic_dedup(
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k_clusters: int = 16,
    iters: int = 3,
    threshold: float = 0.95,
    assign: str = "numpy",
) -> DataFrame:
    """SemDeDup: one row per corpus document — (id, cluster, kept).

    kept=false iff some LOWER-id document in the same k-means cluster has
    exact cosine >= threshold (the paper's keep-one-per-epsilon-ball rule
    with the deterministic lowest-id representative; the screen is against
    every lower-id cluster member, kept or not, so the output is
    order-independent and reproducible).

    iters=0 seeds centroids with the k lowest-id vectors and skips Lloyd
    refinement — closed-form, hence SQL-oracle-able when paired with
    assign='sql'.  iters>0 runs the deterministic Lloyd loop
    (ivf_fit_centroids); assignment then uses the fast numpy matmul path.
    """
    if assign not in ("numpy", "sql"):
        raise ValueError(f"unknown assign mode {assign!r}")
    base = corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec")).filter(
        F.col("vec").isNotNull()
    )
    cents = ivf_fit_centroids(
        base, id_col="id", vec_col="vec", k_clusters=k_clusters, iters=iters
    )
    if assign == "sql":
        assigned = _assign_clusters_sql(base, cents, "id", "vec")
    else:
        assigned = _assign_clusters(base, cents, "id", "vec")
    # localCheckpoint, not cache(): the assignment feeds both join sides
    # and the final rejoin, and checkpoint blocks are released with the
    # DataFrame reference instead of pinning a CacheManager entry per call
    assigned = assigned.localCheckpoint(eager=True)
    cand = DD._bucket_pairs(assigned, assigned, ["cluster"])
    pairs = DD.verify_pairs(
        cand, base, base.count(), _np_cosine_batch, "cosine", threshold
    )
    dropped = pairs.select(F.col("id_b").alias("id")).distinct()
    return (
        assigned.join(dropped.withColumn("__drop__", F.lit(True)), "id", "left")
        .select(
            "id",
            "cluster",
            F.coalesce(~F.col("__drop__"), F.lit(True)).alias("kept"),
        )
    )


# =========================================================================
# Product quantization (PQ) — the memory-compression ANN path.  At 100 TB
# the raw embedding column cannot be rescanned per query; PQ encodes each
# vector as m one-byte codes (32x+ compression for 64-dim float32, m=8,
# k_codes<=256), and queries scan only the code table with a per-query
# lookup-table sum (ADC — asymmetric distance computation, Jegou et al.,
# "Product Quantization for Nearest Neighbor Search", TPAMI 2011).
# Metric: inner product (MIPS — the recsys/retrieval form); the exact
# baseline for recall gates is ip_topk below.
# =========================================================================


def ip_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Exact top-k inner-product neighbors — cosine_topk without the norm
    division (the MIPS baseline PQ-ADC approximates).  Output:
    (query_id, neighbor_id, ip, rank), ties by neighbor_id ascending."""
    dot_s, _ = VEC.dot("q_vec", "c_vec")
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"))
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"))
    scored = c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id")).withColumn(
        "ip", F.expr(dot_s)
    )
    return _top_k(scored, "ip", k)


def pq_fit_codebooks(
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    k_codes: int = 16,
    iters: int = 0,
    sample_rows: int = 16384,
) -> list[list[list[float]]]:
    """Per-subspace codebooks, books[s][j] = the j-th codeword of subspace
    s (dim/m doubles).  iters=0 seeds codewords with sub-slices of the
    k_codes lowest-id vectors — no RNG, no refinement, closed-form and
    hence SQL-oracle-able (the sem_dedup/IVF seeding convention).  iters>0
    runs per-subspace Lloyd on a driver-collected sample capped at
    sample_rows (the standard PQ practice — FAISS trains codebooks on a
    bounded sample too; only the ENCODE pass is corpus-sized)."""
    base = corpus.filter(F.col(vec_col).isNotNull())
    seeds = base.orderBy(F.col(id_col)).limit(k_codes).select(vec_col).collect()
    vecs = [list(map(float, r[0])) for r in seeds]
    if not vecs:
        raise ValueError("pq_fit_codebooks needs at least one non-null vector")
    dim = len(vecs[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    d = dim // m
    books = [[v[s * d : (s + 1) * d] for v in vecs] for s in range(m)]
    if iters > 0:
        import numpy as np

        sample = base.orderBy(F.col(id_col)).limit(sample_rows).select(vec_col).collect()
        X = np.asarray([list(map(float, r[0])) for r in sample], dtype=np.float64)
        for s in range(m):
            Xs = X[:, s * d : (s + 1) * d]
            C = np.asarray(books[s], dtype=np.float64)
            for _ in range(iters):
                # same O(n*k) expansion the encode kernel uses (never the
                # O(n*k*d) broadcast tensor), so Lloyd assignment and
                # encode assignment share tie behavior exactly
                dists = (C * C).sum(axis=1)[None, :] - 2.0 * (Xs @ C.T)
                near = dists.argmin(axis=1)  # first occurrence = lowest code
                for j in range(C.shape[0]):
                    mask = near == j
                    if mask.any():  # empty codes keep their previous word
                        C[j] = Xs[mask].mean(axis=0)
            books[s] = [list(map(float, row)) for row in C]
    return books


def _pq_encode_sql(
    df: DataFrame, books: list[list[list[float]]], id_col: str, vec_col: str
) -> DataFrame:
    """(id, subspace, code) as a MAP-ONLY argmin over a one-row broadcast
    codebook: the whole codebook rides as a single array<array<array<
    double>>> cell (subspace-major, code-minor), each corpus row computes
    all m codes with nested higher-order functions — per subspace,
    array_min over named_struct(d2, code) of the per-codeword folds, the
    same lexicographic (d2 asc, code asc) pick as the oracle's
    row_number()-over-(d2, code), with d2 the shared sequential fold.  No
    groupBy, no sort, no shuffle: the plan is Scan -> 1-row
    BroadcastNestedLoopJoin -> Project -> Generate.

    History: the r9 shape inlined all m*k folds as one giant codegen
    expression (78 KB plan; Catalyst + Janino/C2 compile dominated); the
    r10 shape joined an (m*k)-row broadcast codebook and aggregated
    min(struct(d2, code)) per (id, subspace) — but min over a struct is
    not hash-aggregable, so it planned as Sort + SortAggregate twice
    around an Exchange of the n_vec*(m*k) crossJoin output (driver 2.68
    -> 6.09 s).  This shape keeps the plan KB-small AND the pipeline
    map-only.

    Single-split tradeoff: a corpus read as one split (one parquet file
    under spark.sql.files.maxPartitionBytes) encodes in one task.
    `layout.spread` ahead of the encode was measured on the benchmark's
    curate corpus (300 vectors, 5 interleaved traced pairs, 4-core host):
    +1 job, +2 tasks, twice the shuffle bytes, and a slower `pq` stage
    (median 2.32 vs 2.26 s) — so the input is not spread."""
    m = len(books)
    d = len(books[0][0])
    spark = df.sparkSession
    book = [[[float(v) for v in cw] for cw in b] for b in books]
    book_df = spark.createDataFrame([(book,)], "book array<array<array<double>>>")
    d2_s, _ = VEC.d2(f"slice({vec_col}, s * {d} + 1, {d})", "cw")
    codes_s = (
        f"transform(sequence(0, {m - 1}), s -> named_struct("
        f"'subspace', s, "
        f"'code', array_min(transform(element_at(book, s + 1), (cw, j) -> "
        f"named_struct('d2', {d2_s}, 'code', j))).code))"
    )
    return (
        df.filter(F.col(vec_col).isNotNull())
        .select(F.col(id_col).alias("id"), F.col(vec_col))
        .crossJoin(F.broadcast(book_df))
        .select("id", F.explode(F.expr(codes_s)).alias("sc"))
        .select(
            "id",
            F.col("sc.subspace").cast("int").alias("subspace"),
            F.col("sc.code").cast("int").alias("code"),
        )
    )


def pq_encode(
    df: DataFrame,
    books: list[list[list[float]]],
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assign: str = "numpy",
) -> DataFrame:
    """Encode each vector as (id, subspace, code) rows — the persisted
    compressed index.  assign='numpy': whole-batch BLAS argmin per
    subspace (the scale path); assign='sql': the bit-reproducible codegen
    fold (what the DuckDB oracle re-derives)."""
    if assign == "sql":
        return _pq_encode_sql(df, books, id_col, vec_col)
    if assign != "numpy":
        raise ValueError(f"unknown assign mode {assign!r}: expected numpy|sql")
    import numpy as np
    import pandas as pd

    books_l = [[list(map(float, cw)) for cw in b] for b in books]
    m = len(books_l)
    d = len(books_l[0][0])

    def gen(batches):
        C = [np.asarray(b, dtype=np.float64) for b in books_l]  # m x (k, d)
        for pdf in batches:
            n = len(pdf)
            if not n:
                continue
            X = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            out_codes = np.empty((n, m), dtype=np.int32)
            for s in range(m):
                Xs = X[:, s * d : (s + 1) * d]
                dist = (C[s] * C[s]).sum(axis=1)[None, :] - 2.0 * (Xs @ C[s].T)
                out_codes[:, s] = dist.argmin(axis=1)
            yield pd.DataFrame(
                {
                    "id": np.repeat(pdf[id_col].values, m),
                    "subspace": np.tile(np.arange(m, dtype=np.int32), n),
                    "code": out_codes.reshape(-1),
                }
            )

    return (
        df.filter(F.col(vec_col).isNotNull())
        .select(F.col(id_col).alias(id_col), F.col(vec_col))
        .mapInPandas(gen, "id long, subspace int, code int")
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    m: int = 8,
    k_codes: int = 16,
    iters: int = 0,
    assign: str = "numpy",
) -> DataFrame:
    """PQ-ADC approximate MIPS top-k: score(q, x) = sum_s DT[q][s][code_s(x)]
    where DT[q][s][j] = <q_sub_s, codeword_{s,j}> quantized to int64
    micro-units — so the per-vector score is an order-independent int64
    sum and the whole pipeline is hash-exact across engines.

    Output: (query_id, neighbor_id, score_micro, rank), rank 1..k by
    (score desc, neighbor_id asc), self-matches excluded.

    assign='numpy' (default, the 100 TB shape): one mapInPandas scan of
    the corpus with the query distance tables in the task closure
    (q x m x k_codes int64 — KBs); per-batch top-k then a global top-k
    over q*k rows per batch, so the corpus is never shuffled and nothing
    quadratic materializes.  assign='sql': broadcast codebook join +
    codegen folds — bit-reproducible in DuckDB (the gate parameterization
    with iters=0 seeded codebooks)."""
    if assign not in ("numpy", "sql"):
        raise ValueError(f"unknown assign mode {assign!r}: expected numpy|sql")
    books = pq_fit_codebooks(
        corpus, id_col=id_col, vec_col=vec_col, m=m, k_codes=k_codes, iters=iters
    )
    d = len(books[0][0])
    spark = corpus.sparkSession
    if assign == "sql":
        rows = [
            (s, j, [float(v) for v in cw])
            for s, b in enumerate(books)
            for j, cw in enumerate(b)
        ]
        book_df = spark.createDataFrame(rows, "subspace int, code int, cw array<double>")
        dot_s, _ = VEC.dot(f"slice(q_vec, subspace * {d} + 1, {d})", "cw")
        dtab = (
            queries.filter(F.col(vec_col).isNotNull())
            .select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"))
            .crossJoin(F.broadcast(book_df))
            .select(
                "query_id",
                "subspace",
                "code",
                F.expr(
                    f"cast(floor(({dot_s}) * 1000000.0 + 0.5) as bigint)"
                ).alias("micro"),
            )
        )
        enc = pq_encode(corpus, books, id_col=id_col, vec_col=vec_col, assign="sql")
        scored = (
            enc.withColumnRenamed("id", "neighbor_id")
            .join(F.broadcast(dtab), ["subspace", "code"])
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .groupBy("query_id", "neighbor_id")
            .agg(F.sum("micro").alias("score_micro"))
        )
        return _top_k(scored, "score_micro", k)
    # numpy ADC scan: distance tables from the collected query side (small
    # by contract — same broadcast-queries shape as cosine_topk)
    import numpy as np
    import pandas as pd

    q_rows = (
        queries.filter(F.col(vec_col).isNotNull())
        .select(F.col(id_col).alias("query_id"), F.col(vec_col))
        .collect()
    )
    if not q_rows:
        raise ValueError("pq_topk needs at least one non-null query vector")
    q_ids = np.asarray([r["query_id"] for r in q_rows], dtype=np.int64)
    Q = np.stack([np.asarray(r[vec_col], dtype=np.float64) for r in q_rows])
    C = [np.asarray(b, dtype=np.float64) for b in books]  # m x (k_codes, d)
    # DT[s]: (n_q, k_codes) int64 micro inner products
    DT = [
        np.floor(Q[:, s * d : (s + 1) * d] @ C[s].T * 1e6 + 0.5).astype(np.int64)
        for s in range(len(books))
    ]
    m = len(books)
    kk = int(k)

    def gen(batches):
        for pdf in batches:
            n = len(pdf)
            if not n:
                continue
            X = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            ids = pdf[id_col].values.astype(np.int64)
            scores = np.zeros((len(q_ids), n), dtype=np.int64)
            for s in range(m):
                Xs = X[:, s * d : (s + 1) * d]
                dist = (C[s] * C[s]).sum(axis=1)[None, :] - 2.0 * (Xs @ C[s].T)
                codes = dist.argmin(axis=1)
                scores += DT[s][:, codes]
            frames = []
            for qi in range(len(q_ids)):
                mask = ids != q_ids[qi]
                sc, nid = scores[qi][mask], ids[mask]
                if not len(sc):
                    continue
                # per-batch top-k with the global tie rule (score desc, id asc)
                order = np.lexsort((nid, -sc))[:kk]
                frames.append(
                    pd.DataFrame(
                        {
                            "query_id": q_ids[qi],
                            "neighbor_id": nid[order],
                            "score_micro": sc[order],
                        }
                    )
                )
            if frames:
                yield pd.concat(frames, ignore_index=True)

    partial = (
        corpus.filter(F.col(vec_col).isNotNull())
        .select(F.col(id_col).alias(id_col), F.col(vec_col))
        .mapInPandas(gen, "query_id long, neighbor_id long, score_micro long")
    )
    return _top_k(partial, "score_micro", k)
