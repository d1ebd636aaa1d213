"""Training-pipeline composition operators: connected components,
sequence packing, deterministic splits (operators/components.py,
packing.py, sampling.py).  The registry oracle gate covers the fixture
corpus; these pin the edge semantics."""

import pytest
from pyspark.sql import functions as F

from dp3_spark.operators import components as CC
from dp3_spark.operators import packing as PK
from dp3_spark.operators import sampling as SA


def _nodes(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "id long")


def _edges(spark, pairs):
    return spark.createDataFrame(
        [(a, b) for a, b in pairs] or [(None, None)], "id_a long, id_b long"
    ).filter(F.col("id_a").isNotNull())


# threshold=0 forces the distributed min-label-propagation loop; the
# default exercises the driver union-find path — both must agree
@pytest.mark.parametrize("thr", [0, 2_000_000])
def test_cc_chain_converges_to_min(spark, thr):
    # a 6-node chain: diameter 5, needs multiple propagation rounds
    out = CC.connected_components(
        _nodes(spark, range(6)),
        _edges(spark, [(0, 1), (1, 2), (2, 3), (3, 4), (4, 5)]),
        driver_edge_threshold=thr,
    ).collect()
    assert {(r["id"], r["component"]) for r in out} == {(i, 0) for i in range(6)}


@pytest.mark.parametrize("thr", [0, 2_000_000])
def test_cc_singletons_and_two_clusters(spark, thr):
    out = CC.connected_components(
        _nodes(spark, range(7)),
        _edges(spark, [(1, 2), (5, 6), (2, 3)]),
        driver_edge_threshold=thr,
    ).collect()
    comp = {r["id"]: r["component"] for r in out}
    assert comp == {0: 0, 1: 1, 2: 1, 3: 1, 4: 4, 5: 5, 6: 5}


@pytest.mark.parametrize("thr", [0, 2_000_000])
def test_cc_empty_edges(spark, thr):
    out = CC.connected_components(
        _nodes(spark, [7, 9]), _edges(spark, []), driver_edge_threshold=thr
    ).collect()
    assert {(r["id"], r["component"]) for r in out} == {(7, 7), (9, 9)}


@pytest.mark.parametrize("thr", [0, 2_000_000])
def test_cc_foreign_and_null_endpoints_ignored(spark, thr):
    # Edges touching ids outside the node set must NOT bridge components
    # (nodes={1,3}, edges through phantom node 2), and null endpoints are
    # dropped — identical on the driver union-find and distributed paths,
    # and every component label stays a member of the node set.
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (None, 1), (3, None)], "id_a long, id_b long"
    )
    out = CC.connected_components(
        _nodes(spark, [1, 3]), edges, driver_edge_threshold=thr
    ).collect()
    assert {(r["id"], r["component"]) for r in out} == {(1, 1), (3, 3)}


@pytest.mark.parametrize("thr", [0, 2_000_000])
def test_cc_foreign_endpoint_mixed_with_real_edge(spark, thr):
    # one real edge (1,3) plus foreign-endpoint noise: labels come only
    # from in-set connectivity
    edges = _edges(spark, [(1, 3), (3, 99), (98, 1)])
    out = CC.connected_components(
        _nodes(spark, [1, 3, 5]), edges, driver_edge_threshold=thr
    ).collect()
    assert {(r["id"], r["component"]) for r in out} == {(1, 1), (3, 1), (5, 5)}


def test_cc_max_iter_raises(spark):
    with pytest.raises(RuntimeError, match="converge"):
        CC.connected_components(
            _nodes(spark, range(8)),
            _edges(spark, [(i, i + 1) for i in range(7)]),
            max_iter=2,
            driver_edge_threshold=0,  # the driver path has no iteration cap
        )


def test_dedup_clusters_representatives(spark):
    docs = spark.createDataFrame([(i,) for i in range(5)], "doc_id long")
    pairs = _edges(spark, [(3, 4), (0, 2)])
    out = {r["doc_id"]: r for r in CC.dedup_clusters(docs, pairs).collect()}
    assert out[0]["is_representative"] and out[0]["cluster_size"] == 2
    assert not out[2]["is_representative"] and out[2]["component"] == 0
    assert out[1]["is_representative"] and out[1]["cluster_size"] == 1
    assert out[3]["is_representative"] and not out[4]["is_representative"]


def _docs_tok(spark, toks):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(toks)], "doc_id long, n_tokens long"
    )


def test_pack_split_straddles_boundary(spark):
    # budget 10: docs 6, 7 -> doc1 straddles bins 0/1
    out = PK.pack_split(_docs_tok(spark, [6, 7]), budget=10).collect()
    rows = sorted((r["doc_id"], r["bin"], r["tok_start"], r["tok_end"]) for r in out)
    assert rows == [(0, 0, 0, 6), (1, 0, 0, 4), (1, 1, 4, 7)]


def test_pack_split_giant_doc_spans_many_bins(spark):
    out = PK.pack_split(_docs_tok(spark, [25]), budget=10).collect()
    rows = sorted((r["bin"], r["tok_start"], r["tok_end"]) for r in out)
    assert rows == [(0, 0, 10), (1, 10, 20), (2, 20, 25)]
    # zero-token docs emit nothing
    assert PK.pack_split(_docs_tok(spark, [0]), budget=10).count() == 0


def test_pack_greedy_first_fit(spark):
    # budget 10: 6 opens bin0; 7 overflows -> bin1; 3 fits bin1; 12 -> own bin
    out = PK.pack_greedy(_docs_tok(spark, [6, 7, 3, 12]), budget=10).collect()
    rows = sorted((r["doc_id"], r["bin"], r["bin_fill"]) for r in out)
    assert rows == [(0, 0, 6), (1, 1, 7), (2, 1, 10), (3, 2, 12)]


def test_pack_sharded_independent(spark):
    df = spark.createDataFrame(
        [(0, "a", 6), (1, "a", 6), (2, "b", 6)], "doc_id long, sh string, n_tokens long"
    )
    out = PK.pack_greedy(df, budget=10, shard_col="sh").collect()
    by_doc = {r["doc_id"]: (r["shard"], r["bin"]) for r in out}
    assert by_doc[0][1] == 0 and by_doc[1][1] == 1  # shard a: 6+6 > 10
    assert by_doc[2][1] == 0  # shard b independent


def test_hash_split_deterministic_and_partitioned(spark):
    docs = spark.range(0, 1000).withColumnRenamed("id", "doc_id")
    a = SA.hash_split(docs, "doc_id", test_pct=10, val_pct=5, salt="s")
    b = SA.hash_split(docs, "doc_id", test_pct=10, val_pct=5, salt="s")
    assert a.collect() == b.collect()
    counts = {r["split"]: r["n"] for r in a.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"}
    assert counts["train"] > counts["test"] > 0
    # different salt reassigns
    c = SA.hash_split(docs, "doc_id", test_pct=10, val_pct=5, salt="other")
    assert c.filter(F.col("split") == "test").collect() != a.filter(F.col("split") == "test").collect()


def test_hash_split_validates_pcts(spark):
    docs = spark.range(3).withColumnRenamed("id", "doc_id")
    with pytest.raises(ValueError):
        SA.hash_split(docs, "doc_id", test_pct=60, val_pct=50)


def test_deterministic_sample_subset_and_stable(spark):
    docs = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    s10 = SA.deterministic_sample(docs, "doc_id", fraction=0.1)
    s30 = SA.deterministic_sample(docs, "doc_id", fraction=0.3)
    ids10 = {r["doc_id"] for r in s10.collect()}
    ids30 = {r["doc_id"] for r in s30.collect()}
    assert ids10 and ids10 < ids30  # monotone: smaller sample nests in larger
    assert 0.05 < len(ids10) / 2000 < 0.2


def test_stratified_sample_rates(spark):
    docs = (
        spark.range(0, 3000)
        .withColumnRenamed("id", "doc_id")
        .withColumn("lang", F.when(F.col("doc_id") % 3 == 0, "en").otherwise("de"))
    )
    out = SA.stratified_sample(docs, "doc_id", "lang", {"en": 1.0, "de": 0.1})
    counts = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert counts["en"] == 1000  # keep-all stratum
    assert 20 < counts.get("de", 0) < 400  # ~10% of 2000
    # default_fraction=0 drops unlisted strata
    out2 = SA.stratified_sample(docs, "doc_id", "lang", {"en": 0.5})
    assert out2.filter(F.col("lang") == "de").count() == 0


def test_ngram_contamination_flags_overlap(spark):
    from dp3_spark.operators import decontam as DC

    train = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "completely unrelated words appear here only"),
            (3, "quick brown fox jumps high"),  # shares a 3-gram with eval
        ],
        "doc_id long, text string",
    )
    evl = spark.createDataFrame(
        [(100, "watch the quick brown fox jumps today")], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: r
        for r in DC.ngram_contamination(train, evl, "doc_id", "text", n=3).collect()
    }
    assert out[1]["contaminated"] and out[1]["n_contaminated_ngrams"] >= 2
    assert not out[2]["contaminated"] and out[2]["n_contaminated_ngrams"] == 0
    assert out[3]["contaminated"]  # "quick brown fox", "brown fox jumps"
    assert out[3]["n_contaminated_ngrams"] == 2


def test_ngram_contamination_short_doc_whole_text(spark):
    from dp3_spark.operators import decontam as DC

    # fewer tokens than n: the whole text is the single n-gram
    train = spark.createDataFrame([(1, "tiny doc")], "doc_id long, text string")
    ev_hit = spark.createDataFrame([(9, "tiny doc")], "doc_id long, text string")
    ev_miss = spark.createDataFrame([(9, "other words")], "doc_id long, text string")
    hit = DC.ngram_contamination(train, ev_hit, "doc_id", "text", n=5).collect()[0]
    miss = DC.ngram_contamination(train, ev_miss, "doc_id", "text", n=5).collect()[0]
    assert hit["contaminated"] and not miss["contaminated"]


def test_domain_mix_rates_and_cap(spark):
    docs = (
        spark.range(0, 400)
        .withColumnRenamed("id", "doc_id")
        .withColumn("source", F.when(F.col("doc_id") < 200, "a").otherwise("b"))
        .withColumn("text", F.lit("one two three four five"))  # 5 tokens each
    )
    # a: 1000 tokens avail, target 0.5*600=300 -> rate 0.3
    # b: 1000 tokens avail, target 0.5*600*... weights b 0.5 -> 300 -> 0.3
    out = SA.domain_mix(
        docs, "doc_id", "source", "size(split(trim(text), '\\\\s+'))",
        {"a": 0.5, "b": 0.5}, 600,
    )
    rows = out.collect()
    counts = {}
    for r in rows:
        counts[r["source"]] = counts.get(r["source"], 0) + 1
    # ~30% of 200 docs per domain, md5-bucket variance allowed
    assert 30 <= counts["a"] <= 90 and 30 <= counts["b"] <= 90
    # deterministic: same rows on rerun
    again = {(r["doc_id"]) for r in out.collect()}
    assert again == {r["doc_id"] for r in rows}
    # rate capped at 1: huge budget keeps every doc of listed domains,
    # unlisted domains are dropped entirely
    out2 = SA.domain_mix(
        docs, "doc_id", "source", "size(split(trim(text), '\\\\s+'))",
        {"a": 1.0}, 10_000_000,
    )
    assert out2.filter(F.col("source") == "a").count() == 200
    assert out2.filter(F.col("source") == "b").count() == 0


def test_pii_redaction_cross_engine(spark):
    """PII regexes must mean the same thing in Java regex (Spark) and RE2
    (DuckDB) — the corpus fixtures contain no PII, so this synthetic frame
    is the real cross-engine gate for the redaction primitives."""
    import duckdb
    from dp3_spark.functions import text as TXT

    rows = [
        (1, "contact bob.smith+x@example.co.uk or 10.0.255.7 today"),
        (2, "no pii here at all"),
        (3, "a@b.io a@b.io 192.168.1.1"),  # repeats, multiple kinds
        (4, "almost@an@email 999.999.999.999 1.2.3.4567"),
        (5, ""),
    ]
    sdf = spark.createDataFrame(rows, "doc_id long, text string")
    red_s, red_d = TXT.redact_pii("text")
    cnt_s, cnt_d = TXT.pii_count("text")
    got = {
        r["doc_id"]: (r["red"], r["n"])
        for r in sdf.selectExpr(
            "doc_id", f"{red_s} as red", f"{cnt_s} as n"
        ).collect()
    }
    con = duckdb.connect()
    con.execute("create table t (doc_id bigint, text varchar)")
    con.executemany("insert into t values (?, ?)", rows)
    want = {
        int(i): (r, int(n))
        for i, r, n in con.execute(
            f"select doc_id, {red_d} as red, {cnt_d} as n from t"
        ).fetchall()
    }
    assert got == want
    assert got[1] == ("contact <EMAIL> or <IP> today", 2)
    assert got[3][1] == 3
    assert got[2][1] == 0


def test_dup_ngram_fraction_values(spark):
    from dp3_spark.functions import text as TXT

    s, _ = TXT.dup_ngram_fraction("text", 2)
    rows = {
        r["doc_id"]: r["f"]
        for r in spark.createDataFrame(
            [
                (1, "a b a b a b"),   # 2-grams: ab ba ab ba ab -> 2 distinct of 5
                (2, "all words differ here"),
                (3, "x"),             # fewer tokens than n -> single n-gram -> 0
            ],
            "doc_id long, text string",
        ).selectExpr("doc_id", f"{s} as f").collect()
    }
    assert abs(rows[1] - (1 - 2 / 5)) < 1e-12
    assert rows[2] == 0.0
    assert rows[3] == 0.0


# ------------------------------------------------------- semantic dedup

def _emb_corpus(spark):
    """Three tight clusters (near-dup members) + two isolated vectors."""
    import numpy as np

    rng_base = [
        [1.0, 0.0, 0.0, 0.0],
        [0.0, 1.0, 0.0, 0.0],
        [0.0, 0.0, 1.0, 0.0],
    ]
    rows = []
    vid = 0
    for ci, base in enumerate(rng_base):
        for j in range(4):
            v = [x + 0.01 * ((vid * 7 + d) % 5) for d, x in enumerate(base)]
            rows.append((vid, [float(np.float32(x)) for x in v]))
            vid += 1
    rows.append((vid, [0.5, 0.5, -0.5, -0.5])); vid += 1
    rows.append((vid, [-0.5, 0.5, 0.5, -0.5])); vid += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _brute_cosines(df):
    import numpy as np

    rows = df.orderBy("vec_id").collect()
    ids = [r["vec_id"] for r in rows]
    M = np.array([r["embedding"] for r in rows], dtype=np.float64)
    n = M / np.linalg.norm(M, axis=1, keepdims=True)
    return ids, n @ n.T


def test_semantic_dedup_drop_rule(spark):
    """Every dropped doc has a lower-id same-cluster neighbor with exact
    cosine >= threshold; every kept doc has none (Lloyd-refined variant)."""
    from dp3_spark.operators import similarity as SIM

    df = _emb_corpus(spark)
    out = SIM.semantic_dedup(
        df, k_clusters=4, iters=2, threshold=0.95
    ).collect()
    clusters = {r["id"]: r["cluster"] for r in out}
    kept = {r["id"]: r["kept"] for r in out}
    ids, C = _brute_cosines(df)
    idx = {i: k for k, i in enumerate(ids)}
    for i in ids:
        lower_dup = any(
            C[idx[j], idx[i]] >= 0.95
            for j in ids
            if j < i and clusters[j] == clusters[i]
        )
        assert kept[i] == (not lower_dup), f"id {i}"
    # sanity: the fixture genuinely exercises both outcomes
    assert any(kept.values()) and not all(kept.values())


def test_semantic_dedup_sql_numpy_assign_parity(spark):
    """At iters=0 the codegen-SQL and numpy assignment paths agree on the
    full fixture (no near-tie distances), and kept flags match."""
    from dp3_spark.operators import similarity as SIM

    df = _emb_corpus(spark)
    a = sorted(
        (r["id"], r["cluster"], r["kept"])
        for r in SIM.semantic_dedup(
            df, k_clusters=3, iters=0, threshold=0.95, assign="sql"
        ).collect()
    )
    b = sorted(
        (r["id"], r["cluster"], r["kept"])
        for r in SIM.semantic_dedup(
            df, k_clusters=3, iters=0, threshold=0.95, assign="numpy"
        ).collect()
    )
    assert a == b


def test_semantic_dedup_transport_parity(spark, force_shuffle_verify):
    """Broadcast (the default at this size) and shuffle (forced by a zero
    budget) cosine-verify transports produce identical kept sets (same
    numpy kernel, different delivery)."""
    from dp3_spark.operators import similarity as SIM

    df = _emb_corpus(spark)

    def run():
        return sorted(
            (r["id"], r["cluster"], r["kept"])
            for r in SIM.semantic_dedup(
                df, k_clusters=4, iters=1, threshold=0.95
            ).collect()
        )

    a = run()
    force_shuffle_verify()
    b = run()
    assert a == b


def test_semantic_dedup_small_corpus_defaults(spark):
    """Fewer vectors than k_clusters must degrade (one cluster per vector),
    not crash — the library defaults on a 6-row corpus."""
    from dp3_spark.operators import similarity as SIM

    rows = [(i, [float(i), 1.0, 0.0, 0.0]) for i in range(6)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = SIM.semantic_dedup(df)  # k_clusters=16, iters=3 defaults
    assert out.count() == 6


# --------------------------------------------- fuzzy (MinHash) decontamination


def test_minhash_contamination_flags_near_dups(spark):
    from dp3_spark.operators import decontam as DC

    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    train = spark.createDataFrame(
        [
            (1, base),                       # near-dup of eval 100 -> flagged
            (2, "completely different text about relational query optimizers"),
            (3, base + " again"),            # still close to eval 100 -> flagged
        ],
        "doc_id long, text string",
    )
    evl = spark.createDataFrame(
        [(100, base), (101, base)],  # eval-vs-eval dup must NOT flag anything
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in DC.minhash_contamination(
        train, evl, "doc_id", "text", threshold=0.6
    ).collect()}
    assert set(out) == {1, 2, 3}  # one row per train doc, eval ids absent
    assert out[1]["contaminated"] and out[1]["n_eval_matches"] == 2
    assert out[3]["contaminated"]
    assert not out[2]["contaminated"] and out[2]["n_eval_matches"] == 0


def test_minhash_contamination_reuses_persisted_sigs(spark, tmp_path):
    """The deployment shape: the dedup pipeline's persisted signature
    table feeds decontamination directly — no corpus pass."""
    from dp3_spark.operators import decontam as DC
    from dp3_spark.operators import dedup as DD

    base = "ships sail across the open sea carrying cargo between distant ports"
    train = spark.createDataFrame(
        [(1, base), (2, "unrelated document text entirely")],
        "doc_id long, text string",
    )
    evl = spark.createDataFrame([(100, base)], "doc_id long, text string")
    sig_path = str(tmp_path / "sigs")
    DD.minhash_signatures(train, "doc_id", "text", n=3, num_hashes=128).write.parquet(sig_path)
    out_persisted = DC.minhash_contamination(
        train, evl, "doc_id", "text",
        train_sigs=spark.read.parquet(sig_path), threshold=0.6,
    ).collect()
    out_fresh = DC.minhash_contamination(
        train, evl, "doc_id", "text", threshold=0.6
    ).collect()
    assert sorted(map(tuple, out_persisted)) == sorted(map(tuple, out_fresh))
    assert {r["doc_id"]: r["contaminated"] for r in out_fresh} == {1: True, 2: False}


def test_pagerank_int_matches_python_reference(spark):
    """Integer PageRank vs an independent python implementation of the
    same recurrence on a small graph with hubs, chains and isolates."""
    from dp3_spark.operators import components as CC

    ids = list(range(8))
    edges = [(0, 1), (0, 2), (0, 3), (1, 2), (4, 5)]  # 6,7 isolated
    docs = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {
        r["doc_id"]: r["pr_micro"]
        for r in CC.pagerank_int(docs, pairs, iters=3).collect()
    }

    # python reference of the exact integer recurrence
    und = edges + [(b, a) for a, b in edges]
    deg = {}
    for u, _ in und:
        deg[u] = deg.get(u, 0) + 1
    n, scale = len(ids), 10**6
    base = ((scale // n) * 3) // 20
    pr = {i: scale // n for i in ids}
    for _ in range(3):
        csum = {i: 0 for i in ids}
        for u, v in und:
            csum[v] += pr[u] // deg[u]
        pr = {i: base + (17 * csum[i]) // 20 for i in ids}
    assert got == pr
    assert pr[0] > pr[4] > pr[6]  # hub > pair > isolate
