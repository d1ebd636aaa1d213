"""Unit tests for the beyond-reference operators: dedup family, similarity
search, statistics service, multimodal plumbing, mcap source plumbing."""

import pytest
from pyspark.sql import functions as F

from dp3_spark.catalog import events_log_store
from dp3_spark.operators import dedup as DD
from dp3_spark.operators import similarity as SIM
from dp3_spark.operators import stats as ST
from dp3_spark.sources import mcap as MCAP
from dp3_spark.sources import multimodal as MM

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog"),
            (1, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
            (2, "the quick brown fox jumped over the lazy dog"),  # near dup
            (3, "completely different text about spark engines"),
            (4, "THE QUICK BROWN FOX JUMPS OVER THE LAZY DOG!!"),  # dup after norm
        ],
        "doc_id long, text string",
    )


def test_exact_dedup_groups(docs):
    out = DD.exact_dedup(docs, "doc_id", "text").orderBy("doc_id").collect()
    by_id = {r["doc_id"]: r["n_copies"] for r in out}
    assert by_id == {0: 3, 2: 1, 3: 1}  # 0,1,4 collapse; 2 and 3 unique


def test_ngram_jaccard_finds_near_dup(docs):
    pairs = DD.ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.5).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (0, 1) in got and (0, 4) in got and (1, 4) in got  # jaccard 1.0
    assert (0, 2) in got  # near dup
    assert not any(3 in p for p in got)


def test_minhash_catches_what_jaccard_catches(docs):
    mh = {
        (r["id_a"], r["id_b"])
        for r in DD.minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.5).collect()
    }
    # identical docs always share all bands
    assert (0, 1) in mh and (0, 4) in mh
    # verify step enforces the true-jaccard threshold
    ex = {
        (r["id_a"], r["id_b"])
        for r in DD.ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.5).collect()
    }
    assert mh.issubset(ex)


def test_minhash_signatures_match_sql_formulation(spark):
    """The numpy mapInPandas signature path must be value-identical to the
    pure-SQL shingle-hash + aggregate-fold formulation (which the DuckDB
    oracle mirrors): same distinct shingle-hash sets, same permutation
    minima — including short/empty/unicode/uppercase edge cases."""
    rows = [
        (0, "the quick brown fox"),
        (1, ""),                      # empty -> single hash 0
        (2, "ab"),                    # shorter than n -> whole-text shingle
        (3, "abc"),                   # exactly n
        (4, "ÜBER-náïve … text!!"),   # non-ascii stripped before hashing
        (5, "AbC aBc ABC"),           # case folding
        (6, "x" * 500),               # one repeated shingle
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    real = spark.read.parquet(f"{SF}/documents.parquet").limit(50)
    df = df.unionByName(real.select((F.col("doc_id") + 1000).alias("doc_id"), "text"))

    coeffs = DD.minhash_coeffs(8)
    sql_sh = DD.shingle_hash_df(df, "doc_id", "text", 3)
    sql_sig = sql_sh.select(
        "id",
        F.expr("array_sort(shingles)").alias("shingles"),
        *[
            F.expr(
                f"aggregate(transform(shingles, x -> ({a}L * x + {b}L) % {DD.MINHASH_P}L), "
                f"cast({DD.MINHASH_P} as bigint), (acc, v) -> least(acc, v))"
            ).alias(f"mh{j}")
            for j, (a, b) in enumerate(coeffs)
        ],
    )
    np_sig = DD.minhash_signatures(df, "doc_id", "text", n=3, num_hashes=8)
    sql_rows = {r["id"]: r for r in sql_sig.collect()}
    np_rows = {r["id"]: r for r in np_sig.collect()}
    assert set(sql_rows) == set(np_rows)
    for id_, nr in np_rows.items():
        sr = sql_rows[id_]
        assert nr["shingles"] == sr["shingles"], f"doc {id_}: shingle sets differ"
        assert nr["card"] == len(sr["shingles"])
        assert nr["mh"] == [sr[f"mh{j}"] for j in range(8)], f"doc {id_}: minhash differs"


def test_embedding_dup_pairs_lsh_recall_vs_brute(spark):
    # the parquet embeddings have no near-dups (max cosine ~0.55), so build
    # a clustered corpus at the operator's design point: base vectors plus
    # small deterministic perturbations -> true dup pairs at cosine ~0.95+
    import math

    rows = []
    vid = 0
    for c in range(1, 41):
        base = [math.sin(0.7 * c * (i + 1)) for i in range(16)]
        for copy in range(3):
            eps = [0.05 * math.sin(1.3 * (c + 7 * copy) * (i + 2)) for i in range(16)]
            rows.append((vid, [b + e for b, e in zip(base, eps)]))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    brute = {
        (r["id_a"], r["id_b"])
        for r in SIM.embedding_dup_pairs(emb, threshold=0.9, method="brute").collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in SIM.embedding_dup_pairs_lsh(emb, threshold=0.9).collect()
    }
    assert lsh.issubset(brute)  # banding only prunes candidates, never invents
    assert len(brute) >= 40  # the corpus really contains near-dup clusters
    recall = len(lsh & brute) / len(brute)
    assert recall >= 0.8, f"LSH recall {recall:.2f} vs brute ({len(brute)} true pairs)"


def test_embedding_lsh_verify_transport_equivalence(spark, force_shuffle_verify):
    # broadcast (the default at this size) and shuffle (forced by a zero
    # budget) verify transports must produce bit-identical, distinct
    # (id_a, id_b, cosine) rows — same numpy kernel, different delivery
    import math

    rows = [
        (i, [math.sin(0.3 * (i % 9 + 1) * (d + 1)) for d in range(12)])
        for i in range(60)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    def run():
        got = [
            (r["id_a"], r["id_b"], r["cosine"])
            for r in SIM.embedding_dup_pairs_lsh(emb, threshold=0.8).collect()
        ]
        assert len({(a, b) for a, b, _ in got}) == len(got)  # distinct pairs
        return sorted(got)

    bc = run()
    force_shuffle_verify()
    sh = run()
    assert bc == sh and len(bc) > 0


def test_embedding_lsh_auto_switches_to_shuffle(spark, monkeypatch):
    # shrink the broadcast budget below the corpus size (but not to 0) so
    # the row count alone routes verify to the shuffle transport — no
    # sc.broadcast is taken — and pin that it still matches the broadcast
    # result
    import math

    from pyspark import SparkContext

    rows = [
        (i, [math.sin(0.3 * (i % 9 + 1) * (d + 1)) for d in range(12)])
        for i in range(60)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    want = {
        (r["id_a"], r["id_b"], r["cosine"])
        for r in SIM.embedding_dup_pairs_lsh(emb, threshold=0.8).collect()
    }

    def no_broadcast(self, value):
        raise AssertionError("broadcast verify transport taken")

    monkeypatch.setattr(DD, "VERIFY_BROADCAST_MAX_ROWS", 10)
    monkeypatch.setattr(SparkContext, "broadcast", no_broadcast)
    got = {
        (r["id_a"], r["id_b"], r["cosine"])
        for r in SIM.embedding_dup_pairs_lsh(emb, threshold=0.8).collect()
    }
    assert got == want and len(want) > 0


def test_embedding_dup_pairs_auto_dispatch(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    # tiny corpus -> auto picks brute (exact)
    auto = {
        (r["id_a"], r["id_b"])
        for r in SIM.embedding_dup_pairs(emb, threshold=0.9, method="auto").collect()
    }
    brute = {
        (r["id_a"], r["id_b"])
        for r in SIM.embedding_dup_pairs(emb, threshold=0.9, method="brute").collect()
    }
    assert auto == brute
    with pytest.raises(ValueError):
        SIM.embedding_dup_pairs(emb, method="nope")


def test_embedding_dup_pairs_passes_geometry_through(monkeypatch):
    """method='lsh' leaves planes/bands to embedding_dup_pairs_lsh's
    lsh_geometry (None) unless the caller pins them — a fixed default
    geometry makes candidate pairs grow quadratically with corpus size."""
    seen = []

    def spy(df, **kw):
        seen.append((kw["planes"], kw["bands"]))
        return df

    monkeypatch.setattr(SIM, "embedding_dup_pairs_lsh", spy)
    SIM.embedding_dup_pairs(None, method="lsh")
    SIM.embedding_dup_pairs(None, method="lsh", planes=48, bands=12)
    assert seen == [(None, None), (48, 12)]


def test_lsh_paths_tolerate_null_embeddings(spark):
    """A null vector signs as 0 (key 0 in every band), as the SQL
    reference does: LSH pair mining keeps working and matches brute, and
    lsh_topk keeps its rows (here equal to the exact cosine_topk's)."""
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.99, 0.01]), (3, None), (4, [0.0, 1.0])],
        "vec_id long, embedding array<float>",
    )

    def pairs(df):
        return sorted((r["id_a"], r["id_b"], r["cosine"]) for r in df.collect())

    lsh = pairs(SIM.embedding_dup_pairs_lsh(emb, threshold=0.9))
    assert lsh == pairs(SIM.embedding_dup_pairs(emb, threshold=0.9, method="brute"))
    assert [(a, b) for a, b, _ in lsh] == [(1, 2)]

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    got = rows(SIM.lsh_topk(emb, emb, k=3, planes=16, bands=8))
    assert got == rows(SIM.cosine_topk(emb, emb, k=3))


def test_simhash_identical_for_dups(docs):
    sig = {r["id"]: r["simhash"] for r in DD.simhash(docs, "doc_id", "text", bits=24).collect()}
    assert sig[0] == sig[1] == sig[4]
    assert sig[0] != sig[3]


def test_simhash_pairs_blocked_join(docs):
    pairs = DD.simhash_dup_pairs(docs, "doc_id", "text", bits=24, max_hamming=3).collect()
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs}
    assert got[(0, 1)] == 0 and got[(0, 4)] == 0


def test_simhash_pairs_exact_recall_vs_bruteforce(spark, docs):
    """Pigeonhole guarantee: with max_hamming+1 segments, EVERY pair within
    the distance bound shares a segment — blocked output must equal the
    brute-force all-pairs answer, not just the hamming-0 subset."""
    for max_h in (1, 3, 6):
        sig = {r["id"]: r["simhash"] for r in DD.simhash(docs, "doc_id", "text", bits=24).collect()}
        ids = sorted(sig)
        expect = {
            (a, b): bin(sig[a] ^ sig[b]).count("1")
            for i, a in enumerate(ids)
            for b in ids[i + 1 :]
            if bin(sig[a] ^ sig[b]).count("1") <= max_h
        }
        got = {
            (r["id_a"], r["id_b"]): r["hamming"]
            for r in DD.simhash_dup_pairs(
                docs, "doc_id", "text", bits=24, max_hamming=max_h
            ).collect()
        }
        assert got == expect, f"max_hamming={max_h}"


def test_cosine_topk_exact(spark):
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [0.9, 0.1]),
            (2, [0.0, 1.0]),
            (3, [-1.0, 0.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    out = SIM.cosine_topk(emb, emb.filter(F.col("vec_id") == 0), k=2).collect()
    ranked = [(r["neighbor_id"], r["rank"]) for r in sorted(out, key=lambda r: r["rank"])]
    assert ranked == [(1, 1), (2, 2)]


def test_banded_signature_bit_parity(spark):
    """_banded_signature's numpy band keys must be BIT-identical to the bit
    slices of the SQL reference signature (hyperplane_lsh_signature): it
    accumulates projections sequentially across dims precisely so that
    float non-associativity can't flip a sign bit vs the DuckDB oracle.
    A null vector signs as 0 on both paths — key 0 in every band."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
    )
    null_id = 10**9
    emb = emb.unionByName(spark.createDataFrame([(null_id, None)], emb.schema))
    n = emb.count()
    for planes, bands in ((48, 12), (24, 4), (16, 8)):
        rows = planes // bands
        mask = (1 << rows) - 1
        sql_keys = {
            (r["id"], b, (r["lsh_sig"] >> (b * rows)) & mask)
            for r in SIM.hyperplane_lsh_signature(emb, "vec", planes=planes).collect()
            for b in range(bands)
        }
        np_keys = [
            tuple(r)
            for r in SIM._banded_signature(
                emb, "id", "vec", planes=planes, bands=bands
            ).collect()
        ]
        assert len(np_keys) == len(sql_keys) == n * bands
        assert set(np_keys) == sql_keys, (planes, bands)
        assert {k for i, _, k in np_keys if i == null_id} == {0}


def test_minhash_verify_modes_agree(spark, force_shuffle_verify):
    """broadcast (id pairs + broadcast shingle table; the default at this
    size) and shuffle (arrays per pair; forced by a zero budget) verify
    transports are the same operator — identical, distinct output."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    kw = dict(n=3, num_hashes=64, bands=8, threshold=0.6)

    def run():
        got = [
            (r["id_a"], r["id_b"], r["jaccard"])
            for r in DD.minhash_lsh_pairs(docs, "doc_id", "text", **kw).collect()
        ]
        assert len({(a, b) for a, b, _ in got}) == len(got)  # distinct pairs
        return sorted(got)

    ra = run()
    force_shuffle_verify()
    rb = run()
    assert ra == rb and len(ra) > 0


def test_minhash_capped_candidates_subset_and_connective(spark):
    """candidates='capped' (bucket-linear candidate volume for connectivity
    consumers) must emit a subset of the all-pairs verified output, keep
    id_a < id_b, and — on the fixture corpus, at both a loose and the
    registry's sharp parameterization — derive IDENTICAL connected
    components (every bucket is either fully paired (<= cap) or every
    member still verifies against one of its first `cap` ids)."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    from dp3_spark.operators import components as CC

    for kw in (
        dict(n=3, num_hashes=64, bands=8, threshold=0.6),
        dict(n=3, num_hashes=128, bands=16, threshold=0.7),
    ):
        allp = DD.minhash_lsh_pairs(docs, "doc_id", "text", candidates="all", **kw)
        capped = DD.minhash_lsh_pairs(
            docs, "doc_id", "text", candidates="capped", bucket_cap=64, **kw
        )
        sa = {(r["id_a"], r["id_b"]) for r in allp.collect()}
        sc = {(r["id_a"], r["id_b"]) for r in capped.collect()}
        assert len(sc) > 0 and sc <= sa
        assert all(a < b for a, b in sc)
        nodes = docs.select(F.col("doc_id").alias("id"))
        comp_a = {
            (r["id"], r["component"])
            for r in CC.connected_components(
                nodes, spark.createDataFrame(list(sa), "id_a long, id_b long")
            ).collect()
        }
        comp_c = {
            (r["id"], r["component"])
            for r in CC.connected_components(
                nodes, spark.createDataFrame(list(sc), "id_a long, id_b long")
            ).collect()
        }
        assert comp_a == comp_c, f"components diverge at {kw}"


def test_lsh_recall_vs_bruteforce(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = SIM.cosine_topk(emb, queries, k=5).collect()
    approx = SIM.lsh_topk(emb, queries, k=5, planes=16, bands=8).collect()
    exact_pairs = {(r["query_id"], r["neighbor_id"]) for r in exact}
    approx_pairs = {(r["query_id"], r["neighbor_id"]) for r in approx}
    recall = len(exact_pairs & approx_pairs) / len(exact_pairs)
    # 8 bands of 2 bits -> high collision probability for near vectors
    assert recall >= 0.5, f"LSH recall too low: {recall}"


def test_ivf_recall_vs_bruteforce(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = SIM.cosine_topk(emb, queries, k=5).collect()
    approx = SIM.ivf_topk(emb, queries, k=5, k_clusters=8, nprobe=3, iters=2).collect()
    exact_pairs = {(r["query_id"], r["neighbor_id"]) for r in exact}
    approx_pairs = {(r["query_id"], r["neighbor_id"]) for r in approx}
    recall = len(exact_pairs & approx_pairs) / len(exact_pairs)
    # probing 3 of 8 lists; true neighbors concentrate in the query's lists
    assert recall >= 0.5, f"IVF recall too low: {recall}"
    # every reported cosine must equal the exact cosine (rerank is exact)
    exact_cos = {(r["query_id"], r["neighbor_id"]): r["cosine"] for r in exact}
    for r in approx:
        key = (r["query_id"], r["neighbor_id"])
        if key in exact_cos:
            assert abs(r["cosine"] - exact_cos[key]) < 1e-12


def test_ivf_centroids_deterministic(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    a = SIM.ivf_fit_centroids(emb, k_clusters=4, iters=2)
    b = SIM.ivf_fit_centroids(emb, k_clusters=4, iters=2)
    assert len(a) == 4 and len(a[0]) == 64
    assert a == b  # fixed init, stable argsort -> reproducible


def test_stat_rollup_associativity(spark):
    store = events_log_store(spark, SF, us_truncate=True)
    hour = 3600 * 10**9
    day = 24 * hour
    hourly = ST.summarize(store, granularity_ns=hour, numeric_fields=["value"],
                          group_by_producer=False)
    rolled = ST.rollup_summary(
        hourly, from_granularity_ns=hour, to_granularity_ns=day, numeric_fields=["value"]
    )
    direct = ST.summarize(store, granularity_ns=day, numeric_fields=["value"],
                          group_by_producer=False)
    r = {(x["topic"], x["bucket_start"]): (x["message_count"], x["value_sum"]) for x in rolled.collect()}
    d = {(x["topic"], x["bucket_start"]): (x["message_count"], x["value_sum"]) for x in direct.collect()}
    assert r == d  # exact, including float equality (decimal-exact sums)


def test_quantiles_sketch_close_to_exact(spark):
    from dp3_spark.engine import DP3Engine

    store = events_log_store(spark, SF, us_truncate=True)
    day = 24 * 3600 * 10**9
    lo, hi = 1704067200 * 10**9, 1706745600 * 10**9
    req = dict(topic="click", field="value", start_ns=lo, end_ns=hi, granularity_ns=day * 40)
    ex = ST.quantiles_exact(store, **req).collect()
    sk = DP3Engine(spark, store=store).stat_quantiles(
        **req, quantiles=ST.QUANTILES, values=True
    ).collect()
    assert len(ex) == len(sk) == 1
    for q in ("p25", "p50", "p75", "p90", "p95", "p99"):
        rel = abs(ex[0][q] - sk[0][q]) / max(abs(ex[0][q]), 1e-9)
        assert rel < 0.05, f"{q}: exact {ex[0][q]} vs sketch {sk[0][q]}"


def test_stat_range_too_granular_error(spark):
    """Reference parity (tree.go:252-254): StatRange finer than the 60 s
    leaf bucket errors with 'sorry, too granular'."""
    store = events_log_store(spark, SF, us_truncate=True)
    with pytest.raises(ST.TooGranularError, match="too granular"):
        ST.stat_range(
            store, topic="click", start_ns=0, end_ns=2**62,
            granularity_ns=10**9, numeric_fields=["value"],
        )


def test_aligned_granularity_node_widths(spark):
    """Node-width alignment (tree.go:210-217): served width is the widest
    60s*64^k level <= the requested maximum granularity."""
    s = 10**9
    assert ST.aligned_granularity_ns(60 * s) == 60 * s
    assert ST.aligned_granularity_ns(3600 * s) == 60 * s        # < 3840 s
    assert ST.aligned_granularity_ns(3840 * s) == 3840 * s      # 60*64
    assert ST.aligned_granularity_ns(86400 * s) == 3840 * s     # < 64^2
    assert ST.aligned_granularity_ns(3840 * 64 * s) == 3840 * 64 * s
    with pytest.raises(ST.TooGranularError):
        ST.aligned_granularity_ns(59 * s)


def test_available_statistics(spark):
    store = events_log_store(spark, SF)
    rows = ST.available_statistics(store).collect()
    fields = {r["field"] for r in rows}
    assert fields == {"value", "props"}
    value_stats = {r["stat"] for r in rows if r["field"] == "value"}
    assert {"count", "sum", "mean", "min", "max", "p50", "p99"} <= value_stats
    props_stats = {r["stat"] for r in rows if r["field"] == "props"}
    assert props_stats == {"min", "max"}  # text: min/max only


def test_mcap_source_plumbing(spark):
    """Fake decoder exercises the real fan-out/batch path (no mcap lib)."""

    def fake_decoder(path, producer):
        for i in range(3):
            yield {
                "producer": producer,
                "topic": f"/t{i % 2}",
                "log_time": i * 10**9,
                "sequence": i,
                "schema_name": "std_msgs/String",
                "schema_hash": MCAP.schema_hash(b"string data"),
                "data": b"payload-%d" % i,
            }

    df = MCAP.read_mcap(spark, [("/fake/a.mcap", "dev1"), ("/fake/b.mcap", "dev2")],
                        decoder=fake_decoder)
    rows = df.collect()
    assert len(rows) == 6
    assert {r["producer"] for r in rows} == {"dev1", "dev2"}
    assert all(isinstance(r["data"], (bytes, bytearray)) for r in rows)
    # idempotent-ingest dedup drops the duplicate batch
    doubled = df.unionByName(df)
    assert MCAP.ingest_dedup(doubled).count() == 6


def test_multimodal_decode_stub(spark):
    docs = spark.createDataFrame([(1, "hello"), (2, "")], "doc_id long, text string")
    out = {r["doc_id"]: r for r in MM.decode_metadata(MM.with_binary_payload(docs)).collect()}
    assert out[1]["n_bytes"] == 5
    assert out[1]["content_hash"] == MM.poly_hash_bytes(b"hello")
    assert out[1]["format"] == "raw" and 1 <= out[1]["width"] <= 1024
    assert out[2]["n_bytes"] == 0 and out[2]["content_hash"] == 0


def _png_bytes(w, h):
    import struct
    import zlib

    ihdr = struct.pack(">II5B", w, h, 8, 2, 0, 0, 0)
    chunk = b"IHDR" + ihdr
    return (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", len(ihdr))
        + chunk
        + struct.pack(">I", zlib.crc32(chunk) & 0xFFFFFFFF)
    )


def _jpeg_bytes(w, h):
    import struct

    # SOI, APP0 (JFIF stub), DQT stub, SOF0 with dims, EOI
    app0 = b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    sof = struct.pack(">BHH B", 8, h, w, 3) + b"\x01\x22\x00\x02\x11\x01\x03\x11\x01"
    return (
        b"\xff\xd8"
        + b"\xff\xe0" + struct.pack(">H", len(app0) + 2) + app0
        + b"\xff\xdb" + struct.pack(">H", 67) + bytes(65)
        + b"\xff\xc0" + struct.pack(">H", len(sof) + 2) + sof
        + b"\xff\xd9"
    )


def _gif_bytes(w, h):
    import struct

    return b"GIF89a" + struct.pack("<HH", w, h) + bytes(3)


def test_multimodal_real_header_dims(spark):
    """PNG IHDR / JPEG SOF0 / GIF descriptor dimensions are parsed for
    real (pure-Python header walk, no codec libs), with the deterministic
    fallback only for unrecognized payloads."""
    assert MM.parse_image_dims(_png_bytes(640, 480)) == ("png", 640, 480)
    assert MM.parse_image_dims(_jpeg_bytes(1280, 720)) == ("jpeg", 1280, 720)
    assert MM.parse_image_dims(_gif_bytes(31, 17)) == ("gif", 31, 17)
    assert MM.parse_image_dims(b"not an image") is None
    assert MM.parse_image_dims(b"") is None
    payloads = [
        (1, _png_bytes(640, 480)),
        (2, _jpeg_bytes(1280, 720)),
        (3, _gif_bytes(31, 17)),
        (4, b"plain bytes"),
    ]
    df = spark.createDataFrame(payloads, "doc_id long, payload binary")
    out = {r["doc_id"]: r for r in MM.decode_metadata(df).collect()}
    assert (out[1]["format"], out[1]["width"], out[1]["height"]) == ("png", 640, 480)
    assert (out[2]["format"], out[2]["width"], out[2]["height"]) == ("jpeg", 1280, 720)
    assert (out[3]["format"], out[3]["width"], out[3]["height"]) == ("gif", 31, 17)
    assert out[4]["format"] == "raw"
    assert out[1]["content_hash"] == MM.poly_hash_bytes(_png_bytes(640, 480))


def test_frame_sample_plan(spark):
    docs = spark.createDataFrame([(1, "x" * 200)], "doc_id long, text string")
    row = MM.frame_sample_plan(MM.with_binary_payload(docs), every_n_bytes=64).collect()[0]
    assert row["sample_offsets"] == [0, 64, 128, 192]


def test_multimodal_resize_stub(spark):
    docs = spark.createDataFrame(
        [(1, "abc"), (2, "z" * 500), (3, "")], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: r
        for r in MM.resize_stub(
            MM.with_binary_payload(docs), width=32, height=32
        ).collect()
    }
    n_out = 32 * 32 // 64
    for r in out.values():
        assert r["out_width"] == 32 and r["out_height"] == 32
        assert r["thumb_bytes"] == n_out and len(r["thumb"]) == n_out
    assert bytes(out[1]["thumb"]) == (b"abc" * 6)[:n_out]  # deterministic tiling
    assert bytes(out[3]["thumb"]) == b"\x00" * n_out  # empty payload


def test_multimodal_features_compose_with_ann(spark):
    """multimodal -> embedding -> similarity, end to end: extracted
    feature vectors are unit-norm and feed cosine_topk unchanged."""
    import math

    from dp3_spark.operators import similarity as SIM

    docs = spark.createDataFrame(
        [(i, "doc %d " % i + "abcdefgh" * (i + 1)) for i in range(8)],
        "doc_id long, text string",
    )
    feats = MM.extract_features(MM.with_binary_payload(docs), dim=8)
    rows = feats.collect()
    assert len(rows) == 8
    for r in rows:
        assert len(r["features"]) == 8
        assert math.isclose(
            sum(x * x for x in r["features"]), 1.0, rel_tol=1e-5
        )
    corpus = feats.selectExpr("doc_id as vec_id", "features as embedding")
    top = SIM.cosine_topk(corpus, corpus.filter("vec_id = 0"), k=3).collect()
    assert len(top) == 3
    assert all(r["query_id"] == 0 and r["neighbor_id"] != 0 for r in top)
    ranked = sorted(top, key=lambda r: r["rank"])
    assert [r["rank"] for r in ranked] == [1, 2, 3]
    assert ranked[0]["cosine"] >= ranked[1]["cosine"] >= ranked[2]["cosine"]
    assert all(-1.0 - 1e-9 <= r["cosine"] <= 1.0 + 1e-9 for r in top)


def test_minhash_incremental_matches_full_run(spark, tmp_path, force_shuffle_verify):
    """Incremental dedup against a PERSISTED signature index equals the
    full-corpus run restricted to pairs touching the new batch — the
    corpus-refresh contract (index round-trips through parquet)."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    kw = dict(n=3, num_hashes=64, bands=8, threshold=0.6)
    index_docs = docs.filter(F.col("doc_id") % 4 != 0)
    new_docs = docs.filter(F.col("doc_id") % 4 == 0)

    sig_path = str(tmp_path / "sig_index")
    DD.minhash_signatures(
        index_docs, "doc_id", "text", n=3, num_hashes=64
    ).write.parquet(sig_path)
    index_sigs = spark.read.parquet(sig_path)

    inc = DD.minhash_lsh_pairs_incremental(
        new_docs, index_sigs, "doc_id", "text", **kw
    )
    full = DD.minhash_lsh_pairs(docs, "doc_id", "text", **kw)
    want = sorted(
        (r["id_a"], r["id_b"], round(r["jaccard"], 12))
        for r in full.collect()
        if r["id_a"] % 4 == 0 or r["id_b"] % 4 == 0
    )
    got = sorted(
        (r["id_a"], r["id_b"], round(r["jaccard"], 12)) for r in inc.collect()
    )
    assert got == want and len(got) > 0

    # the full-table shuffle transport (a zero broadcast budget; this
    # index is below the endpoint-slice size) must produce the identical
    # pair set
    force_shuffle_verify()
    inc_sh = DD.minhash_lsh_pairs_incremental(
        new_docs, index_sigs, "doc_id", "text", **kw
    )
    got_sh = sorted(
        (r["id_a"], r["id_b"], round(r["jaccard"], 12)) for r in inc_sh.collect()
    )
    assert got_sh == want


def test_minhash_incremental_replayed_batch_pairs_distinct(spark, force_shuffle_verify):
    """An at-least-once replay re-submits a batch whose id is already in
    the index: both verify transports return each pair once."""
    text = "the quick brown fox jumps over the lazy dog once again"
    schema = "doc_id long, text string"
    index_docs = spark.createDataFrame([(1, text), (3, text + " today")], schema)
    replay = spark.createDataFrame([(3, text + " today")], schema)
    kw = dict(n=3, num_hashes=64, bands=8, threshold=0.6)
    index_sigs = DD.minhash_signatures(index_docs, "doc_id", "text", n=3, num_hashes=64)

    def pairs():
        inc = DD.minhash_lsh_pairs_incremental(replay, index_sigs, "doc_id", "text", **kw)
        return sorted((r["id_a"], r["id_b"], round(r["jaccard"], 12)) for r in inc.collect())

    default = pairs()
    force_shuffle_verify()
    assert pairs() == default
    assert [(a, b) for a, b, _ in default] == [(1, 3)]


def test_minhash_incremental_big_index_auto_slices(spark, tmp_path, monkeypatch):
    """Probe batch vs BIG index (simulated by shrinking the endpoint-slice
    threshold and the broadcast budget): the verify transport must be
    resolved on CANDIDATE volume, endpoint-slicing the signature table
    (broadcast LeftSemi on the candidate-id set) so verify cost is
    O(candidates) however large the index — both the sliced-shuffle and
    sliced-broadcast arms must be hash-identical to the plain run
    (probe_dedup_100x.py measures the same paths at real 100x index
    rows)."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    kw = dict(n=3, num_hashes=64, bands=8, threshold=0.6)
    index_docs = docs.filter(F.col("doc_id") % 4 != 0)
    new_docs = docs.filter(F.col("doc_id") % 4 == 0)
    index_sigs = DD.minhash_signatures(
        index_docs, "doc_id", "text", n=3, num_hashes=64
    ).localCheckpoint(eager=True)

    want = sorted(
        (r["id_a"], r["id_b"], round(r["jaccard"], 12))
        for r in DD.minhash_lsh_pairs_incremental(
            new_docs, index_sigs, "doc_id", "text", **kw
        ).collect()
    )
    assert len(want) > 0

    monkeypatch.setattr(DD, "ENDPOINT_SLICE_MIN_INDEX_ROWS", 0)
    for budget in (0, 1000):  # 0 → sliced shuffle; 1000 → sliced broadcast
        monkeypatch.setattr(DD, "VERIFY_BROADCAST_MAX_ROWS", budget)
        inc = DD.minhash_lsh_pairs_incremental(
            new_docs, index_sigs, "doc_id", "text", **kw
        )
        if budget == 0:
            # sliced-shuffle arm: the endpoint slice is part of the
            # returned plan (the broadcast arm's slice runs inside the
            # driver-side collect job instead, invisible here)
            plan = inc._jdf.queryExecution().executedPlan().toString()
            assert "LeftSemi" in plan and "BroadcastHashJoin" in plan
        got = sorted(
            (r["id_a"], r["id_b"], round(r["jaccard"], 12)) for r in inc.collect()
        )
        assert got == want, budget


def _wav_bytes(rate=44100, channels=2, bits=16, n_frames=1000):
    import struct

    block_align = channels * bits // 8
    fmt = struct.pack(
        "<HHIIHH", 1, channels, rate, rate * block_align, block_align, bits
    )
    data = b"\x00" * (n_frames * block_align)
    chunks = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    chunks += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def _mp4_bytes(timescale=1000, duration=5500, version=0):
    import struct

    def box(four, body):
        return struct.pack(">I", 8 + len(body)) + four + body

    ftyp = box(b"ftyp", b"isom\x00\x00\x02\x00isomiso2")
    if version == 0:
        mvhd_body = b"\x00\x00\x00\x00" + struct.pack(
            ">IIII", 0, 0, timescale, duration
        ) + b"\x00" * 80
    else:
        mvhd_body = b"\x01\x00\x00\x00" + struct.pack(
            ">QQIQ", 0, 0, timescale, duration
        ) + b"\x00" * 80
    moov = box(b"moov", box(b"mvhd", mvhd_body))
    # media data containing a decoy 'mvhd' fourcc the box walk must ignore
    mdat = box(b"mdat", b"garbage mvhd garbage")
    return ftyp + mdat + moov


def test_multimodal_wav_and_mp4_headers():
    assert MM.parse_wav_meta(_wav_bytes(22050, 1, 8, 321)) == (22050, 1, 8, 321)
    assert MM.parse_wav_meta(b"RIFFxxxxNOPE") is None
    assert MM.parse_wav_meta(b"short") is None
    # _mp4_bytes embeds a decoy 'mvhd' fourcc inside mdat: the box walk
    # must return the real moov/mvhd values, not parse the decoy
    assert MM.parse_mp4_meta(_mp4_bytes(1000, 5500, version=0)) == (1000, 5500)
    assert MM.parse_mp4_meta(_mp4_bytes(90000, 123456, version=1)) == (90000, 123456)
    assert MM.parse_mp4_meta(b"\x00\x00\x00\x08free") is None
    assert MM.parse_mp4_meta(b"notmp4data") is None
    # malformed shapes return None, never crash or truncate-parse:
    import struct

    def box(four, body):
        return struct.pack(">I", 8 + len(body)) + four + body

    ftyp = box(b"ftyp", b"isomisom")
    # empty-body mvhd ending the buffer (size exactly 8)
    assert MM.parse_mp4_meta(ftyp + box(b"moov", box(b"mvhd", b""))) is None
    # v1 mvhd truncated between body+28 and body+32: the 8-byte duration
    # read would silently truncate — must reject, not return garbage
    trunc_v1 = (
        b"\x01\x00\x00\x00" + struct.pack(">QQI", 0, 0, 90000) + b"\x00" * 6
    )  # body ends at +30: inside the [28, 32) truncation window
    assert MM.parse_mp4_meta(ftyp + box(b"moov", box(b"mvhd", trunc_v1))) is None


def test_multimodal_audio_metadata_decode(spark):
    rows = [
        (1, bytearray(_wav_bytes(16000, 1, 16, 8000))),
        (2, bytearray(b"just some text bytes")),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {r["doc_id"]: r for r in MM.decode_audio_metadata(df).collect()}
    assert out[1]["format"] == "wav"
    assert out[1]["sample_rate"] == 16000
    assert out[1]["channels"] == 1
    assert out[1]["n_frames"] == 8000
    assert abs(out[1]["duration_s"] - 0.5) < 1e-9
    assert out[2]["format"] == "raw"
    # deterministic fallback: stable across runs
    again = {r["doc_id"]: r for r in MM.decode_audio_metadata(df).collect()}
    assert again[2]["sample_rate"] == out[2]["sample_rate"]


def test_minhash_kernel_randomized_parity(spark):
    """The whole-batch vectorized signature kernel must be value-identical
    to a direct per-document reference for adversarial inputs: doc
    boundaries next to short/empty docs, nulls interleaved, non-ascii
    (stripped by normalization), texts of length exactly n-1/n/n+1,
    repeated shingles.  Seeded PRNG corpus — deterministic, one Spark job."""
    import random
    import re

    import numpy as np

    rng = random.Random(20260814)
    alphabet = "abcXYZ012 ,.!?é世"
    texts = []
    for i in range(200):
        L = rng.choice([0, 1, 2, 3, 4, 5, 8, 40, 200])
        texts.append("".join(rng.choice(alphabet) for _ in range(L)))
    texts += [None, "", "ab", "abc", "abcd", "aaaaaaaaaa"]
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["id"]: r
        for r in DD.minhash_signatures(df, "doc_id", "text", n=3, num_hashes=16).collect()
    }

    from dp3_spark.functions import text as TXT

    coeffs = DD.minhash_coeffs(16)
    strip = re.compile(r"[^a-zA-Z0-9 ]")
    for i, t in rows:
        g = got[i]
        if t is None:
            assert g["shingles"] is None and g["mh"] is None
            continue
        norm = strip.sub("", t).lower()
        cp = [ord(c) for c in norm]
        if len(cp) <= 3:
            h = 0
            for c in cp:
                h = (h * TXT.POLY_BASE + c) % TXT.POLY_MOD
            hs = [h]
        else:
            hs = sorted(
                {
                    (
                        ((cp[j] * TXT.POLY_BASE + cp[j + 1]) * TXT.POLY_BASE + cp[j + 2])
                        % TXT.POLY_MOD
                    )
                    for j in range(len(cp) - 2)
                }
            )
        assert list(g["shingles"]) == hs, f"doc {i}: {t!r}"
        mh = [min((a * h + b) % DD.MINHASH_P for h in hs) for a, b in coeffs]
        assert list(g["mh"]) == mh, f"doc {i}"


def test_gopher_quality_flags(spark):
    """Each Gopher rule flips on the engineered fixture rows, and the
    Spark/DuckDB expression pairs agree (the registry oracle covers the
    corpus; this pins the rule semantics on adversarial strings)."""
    import duckdb

    from dp3_spark.functions import text as TXT

    rows = [
        (1, "the quick brown fox jumps over a lazy dog " * 20),  # passes all
        (2, "short text"),                             # fails word count
        (3, ("supercalifragilistic " * 60).strip()),   # fails mean word len + stopwords
        (4, "# " * 60 + "the end of a story and more"),# fails symbol ratio
        (5, ("123 456 789 " * 25) + "the a end"),      # fails alpha ratio
    ]
    flags = TXT.gopher_quality_flags("text")
    cols_s = ", ".join(f"{s} as {n}" for n, (s, _) in flags.items())
    cols_d = ", ".join(f"{d} as {n}" for n, (_, d) in flags.items())
    df = spark.createDataFrame(rows, "doc_id long, text string")
    df.createOrReplaceTempView("gopher_probe")
    got = {
        r["doc_id"]: r
        for r in spark.sql(f"select doc_id, {cols_s} from gopher_probe").collect()
    }
    assert all(got[1][k] for k in flags)
    assert not got[2]["ok_word_count"]
    assert not got[3]["ok_mean_word"] and not got[3]["ok_stopword"]
    assert not got[4]["ok_symbol"]
    assert not got[5]["ok_alpha"]
    # cross-engine agreement on the same rows
    con = duckdb.connect()
    con.execute(
        "create table gopher_probe as select * from (values "
        + ", ".join(f"({i}, {t!r})" for i, t in rows)
        + ") t(doc_id, text)"
    )
    duck = {
        r[0]: r[1:]
        for r in con.execute(
            f"select doc_id, {cols_d} from gopher_probe"
        ).fetchall()
    }
    for i, _ in rows:
        assert tuple(bool(x) for x in duck[i]) == tuple(
            bool(got[i][k]) for k in flags
        ), i


def test_knn_classify_majority_and_tiebreak(spark):
    """3 clusters on the unit circle; the query between two clusters must
    take the majority label, and an exact vote tie must break to the
    SMALLER label (deterministic oracle rule)."""
    import math

    def vec(deg):
        r = math.radians(deg)
        return [float(math.cos(r)), float(math.sin(r))]

    rows = [
        # label 1: three vectors near 0 deg
        (10, vec(1), 1), (11, vec(2), 1), (12, vec(3), 1),
        # label 2: three vectors near 90 deg
        (20, vec(89), 2), (21, vec(88), 2), (22, vec(87), 2),
        # label 0: far away (never in top-k of the queries below)
        (30, vec(180), 0), (31, vec(181), 0),
    ]
    corpus = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    # query at 10 deg: k=3 neighbors are all label 1
    q1 = spark.createDataFrame(
        [(100, vec(10))], "vec_id long, embedding array<float>"
    ).withColumn("label", F.lit(None).cast("int"))
    out = SIM.knn_classify(corpus, q1, k=3).collect()[0]
    assert (out["predicted_label"], out["votes"]) == (1, 3)
    # query at exactly 45 deg with k=4: 2 votes label 1, 2 votes label 2
    # -> tie breaks to label 1
    q2 = spark.createDataFrame(
        [(101, vec(45))], "vec_id long, embedding array<float>"
    ).withColumn("label", F.lit(None).cast("int"))
    out = SIM.knn_classify(corpus, q2, k=4).collect()[0]
    assert (out["predicted_label"], out["votes"]) == (1, 2)


def test_paragraph_dedup_keep_first_and_vanishing_doc(spark):
    docs = spark.createDataFrame(
        [
            (1, "alpha\n\nbeta\n\ngamma"),
            (2, "beta\n\ndelta"),   # beta already seen in doc 1
            (3, "alpha\n\nbeta"),   # every paragraph a dup -> doc removed
            (4, "epsilon"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in DD.paragraph_dedup(docs).collect()}
    assert set(out) == {1, 2, 4}
    assert out[1]["text"] == "alpha\n\nbeta\n\ngamma"
    assert (out[1]["n_kept"], out[1]["n_dropped"]) == (3, 0)
    assert out[2]["text"] == "delta"
    assert (out[2]["n_kept"], out[2]["n_dropped"]) == (1, 1)
    assert out[4]["text"] == "epsilon"


def test_paragraph_dedup_within_doc_repeat(spark):
    # a paragraph repeated INSIDE one document keeps only the first copy
    docs = spark.createDataFrame(
        [(7, "x\n\ny\n\nx\n\nz")], "doc_id long, text string"
    )
    r = DD.paragraph_dedup(docs).collect()[0]
    assert r["text"] == "x\n\ny\n\nz"
    assert (r["n_kept"], r["n_dropped"]) == (3, 1)


def test_resample_hold_semantics(spark):
    from dp3_spark.operators.resample import resample_hold

    data = spark.createDataFrame(
        [
            ("p", "t", 10, 1.0),
            ("p", "t", 20, None),  # null VALUE still holds (sample exists)
            ("p", "t", 30, 3.0),   # exactly on a tick -> included at 30
        ],
        "producer string, topic string, log_time long, value double",
    )
    out = {
        r["log_time"]: r["value"]
        for r in resample_hold(
            data, start_ns=0, end_ns=50, step_ns=10, value_cols=("value",)
        ).collect()
    }
    # tick 0 precedes every sample -> dropped (inner / ASOF JOIN parity)
    assert set(out) == {10, 20, 30, 40}
    assert out[10] == 1.0       # sample AT the tick
    assert out[20] is None      # holds the null VALUE, row not dropped
    assert out[30] == 3.0
    assert out[40] == 3.0       # hold continues past last sample


def test_resample_linear_semantics(spark):
    from dp3_spark.operators.resample import resample_linear

    data = spark.createDataFrame(
        [("p", "t", 10, 1.0), ("p", "t", 30, 5.0)],
        "producer string, topic string, log_time long, value double",
    )
    out = {
        r["log_time"]: r["value"]
        for r in resample_linear(
            data, start_ns=0, end_ns=50, step_ns=10
        ).collect()
    }
    # tick 0: before first sample -> dropped; tick 40: past last -> dropped
    assert set(out) == {10, 20, 30}
    assert out[10] == 1.0  # exact sample, no interpolation
    assert out[20] == 3.0  # midpoint of 1.0 -> 5.0
    assert out[30] == 5.0


def test_paragraph_dedup_metachar_separator(spark):
    # a regex-metacharacter separator must split literally and round-trip
    docs = spark.createDataFrame(
        [(1, "aa | bb"), (2, "bb | cc")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in DD.paragraph_dedup(docs, sep=" | ").collect()}
    assert out[1]["text"] == "aa | bb"
    assert out[2]["text"] == "cc"
    assert (out[2]["n_kept"], out[2]["n_dropped"]) == (1, 1)


def test_resample_empty_grid_range(spark):
    from dp3_spark.operators.resample import resample_hold, resample_linear

    data = spark.createDataFrame(
        [("p", "t", 10, 1.0)],
        "producer string, topic string, log_time long, value double",
    )
    assert resample_hold(data, start_ns=50, end_ns=50, step_ns=10).count() == 0
    assert resample_linear(data, start_ns=50, end_ns=40, step_ns=10).count() == 0


def test_knn_classify_ignores_unlabeled_rows(spark):
    import math

    def vec(deg):
        r = math.radians(deg)
        return [float(math.cos(r)), float(math.sin(r))]

    corpus = spark.createDataFrame(
        [
            (1, vec(1), 1),
            (2, vec(2), None),   # nearest neighbor but unlabeled
            (3, vec(3), None),
            (4, vec(4), 2),
        ],
        "vec_id long, embedding array<float>, label int",
    )
    q = spark.createDataFrame(
        [(100, vec(2))], "vec_id long, embedding array<float>"
    ).withColumn("label", F.lit(None).cast("int"))
    out = SIM.knn_classify(corpus, q, k=2).collect()[0]
    # the two nearest LABELED neighbors are 1 and 4 -> tie -> label 1
    assert out["predicted_label"] == 1 and out["votes"] == 1


def _wav_pcm_bytes(samples, rate=16000, channels=1):
    import struct

    pcm = b"".join(struct.pack("<h", s) for s in samples)
    fmt = struct.pack("<HHIIHH", 1, channels, rate, rate * 2 * channels,
                      2 * channels, 16)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt \
        + b"data" + struct.pack("<I", len(pcm)) + pcm
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_bmp_pixel_roundtrip_and_real_resize(spark):
    import numpy as np

    # 4x2 gradient image: decode must reproduce exact pixels
    img = np.arange(4 * 2 * 3, dtype=np.uint8).reshape(2, 4, 3)
    raw = MM.encode_bmp(img)
    assert MM.parse_image_dims(raw) == ("bmp", 4, 2)
    back = MM.decode_bmp(raw)
    assert np.array_equal(back, img)
    # real nearest-neighbor resize through the Spark operator
    docs = spark.createDataFrame([(1, bytearray(raw))], "doc_id long, payload binary")
    row = MM.resize_image(docs, width=2, height=1).collect()[0]
    thumb = MM.decode_bmp(bytes(row["thumb"]))
    assert thumb.shape == (1, 2, 3)
    # nearest-neighbor: picks pixels (0,0) and (0,2)
    assert np.array_equal(thumb[0, 0], img[0, 0])
    assert np.array_equal(thumb[0, 1], img[0, 2])
    # metadata path reports the real format + dims
    meta = MM.decode_metadata(docs).collect()[0]
    assert (meta["format"], meta["width"], meta["height"]) == ("bmp", 4, 2)


def test_png_pixel_roundtrip_and_real_resize(spark):
    import zlib as _zlib

    import numpy as np

    rng = np.random.default_rng(11)
    # every (h, w) here spans at least one full filter-rotation cycle in
    # encode_png (row filter = y % 5), so Sub/Up/Average/Paeth all run
    for h, w in [(1, 1), (5, 3), (8, 8), (16, 11)]:
        img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        raw = MM.encode_png(img)
        assert MM.parse_image_dims(raw) == ("png", w, h)
        assert np.array_equal(MM.decode_png(raw), img)
    # decoder correctness independent of the encoder: hand-assembled
    # filter-0 PNG (raw scanlines through zlib, no filtering to invert)
    h, w = 4, 3
    px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    raw_lines = b"".join(b"\x00" + px[y].tobytes() for y in range(h))
    ihdr = w.to_bytes(4, "big") + h.to_bytes(4, "big") + bytes([8, 2, 0, 0, 0])
    png = (
        MM._PNG_SIG
        + MM._png_chunk(b"IHDR", ihdr)
        + MM._png_chunk(b"IDAT", _zlib.compress(raw_lines))
        + MM._png_chunk(b"IEND", b"")
    )
    assert np.array_equal(MM.decode_png(png), px)
    # multi-IDAT streams concatenate; RGBA (color type 6) drops alpha
    body = _zlib.compress(raw_lines)
    png_multi = (
        MM._PNG_SIG
        + MM._png_chunk(b"IHDR", ihdr)
        + MM._png_chunk(b"IDAT", body[:5])
        + MM._png_chunk(b"IDAT", body[5:])
        + MM._png_chunk(b"IEND", b"")
    )
    assert np.array_equal(MM.decode_png(png_multi), px)
    # real resize through the Spark operator now covers PNG payloads
    img = np.arange(4 * 2 * 3, dtype=np.uint8).reshape(2, 4, 3)
    docs = spark.createDataFrame(
        [(1, bytearray(MM.encode_png(img)))], "doc_id long, payload binary"
    )
    row = MM.resize_image(docs, width=2, height=1).collect()[0]
    thumb = MM.decode_bmp(bytes(row["thumb"]))
    assert np.array_equal(thumb[0, 0], img[0, 0])
    assert np.array_equal(thumb[0, 1], img[0, 2])


def test_gif_lzw_roundtrip_and_real_resize(spark):
    import numpy as np

    rng = np.random.default_rng(5)
    for h, w, ncol in [(1, 1, 2), (5, 7, 16), (16, 16, 256)]:
        pal = np.unique(
            rng.integers(0, 256, size=(ncol, 3), dtype=np.uint8).view(
                [("", np.uint8)] * 3
            )
        )[:ncol].view(np.uint8).reshape(-1, 3)
        img = pal[rng.integers(0, len(pal), size=(h, w))]
        raw = MM.encode_gif(img, palette=pal)
        assert MM.parse_image_dims(raw) == ("gif", w, h)
        assert np.array_equal(MM.decode_gif(raw), img)
    # big enough that the LZW table grows past 4096 and CLEARs mid-stream
    pal = np.stack(
        [np.arange(256), (np.arange(256) * 7) % 256, (np.arange(256) * 13) % 256],
        axis=1,
    ).astype(np.uint8)
    idx = (np.arange(300 * 200) % 200).astype(np.uint8).reshape(300, 200)
    img = pal[idx]
    assert np.array_equal(MM.decode_gif(MM.encode_gif(img, palette=pal)), img)
    # real resize through the Spark operator covers GIF payloads
    img4 = pal[np.arange(4 * 2).reshape(2, 4) % 8]
    docs = spark.createDataFrame(
        [(1, bytearray(MM.encode_gif(img4, palette=pal)))],
        "doc_id long, payload binary",
    )
    row = MM.resize_image(docs, width=2, height=1).collect()[0]
    thumb = MM.decode_bmp(bytes(row["thumb"]))
    assert np.array_equal(thumb[0, 0], img4[0, 0])
    assert np.array_equal(thumb[0, 1], img4[0, 2])


def test_gif_interlaced_decode_and_malformed():
    """Interlace is decode-only (the encoder emits progressive), so pin it
    with a hand-assembled file: rows permuted into the spec's 4-pass
    order, interlace bit set — decode must restore original row order."""
    import numpy as np

    h, w = 11, 4
    pal = np.stack([np.arange(16) * 16] * 3, axis=1).astype(np.uint8)
    idx = (np.arange(h * w) % 16).astype(np.uint8).reshape(h, w)
    rows = []
    for start, step in MM._GIF_INTERLACE_PASSES:
        rows.extend(range(start, h, step))
    lzw = MM._lzw_encode(bytes(idx[rows].reshape(-1)), 4)
    blocks = bytearray()
    for i in range(0, len(lzw), 255):
        blocks.append(len(lzw[i : i + 255]))
        blocks += lzw[i : i + 255]
    blocks.append(0)
    raw = (
        b"GIF89a" + w.to_bytes(2, "little") + h.to_bytes(2, "little")
        + bytes([0x80 | 3, 0, 0]) + pal.tobytes()
        + b"\x2c" + b"\x00" * 4 + w.to_bytes(2, "little") + h.to_bytes(2, "little")
        + bytes([0x40])  # interlace flag, no local table
        + bytes([4]) + bytes(blocks) + b"\x3b"
    )
    assert np.array_equal(MM.decode_gif(raw), pal[idx])
    good = MM.encode_gif(pal[idx], palette=pal)
    for b in (b"", b"GIF89a", good[:30], good[:-8],
              b"GIF89a" + b"\xff" * 30):
        out = MM.decode_gif(b)
        assert out is None or isinstance(out, np.ndarray)


def _jpeg_expected_solid(r, g, b):
    """The closed-form DC-only chain the mm_jpeg_decode oracle mirrors."""
    import numpy as np

    def rh(x):
        return np.floor(x + 0.5)

    y = np.clip(rh(0.299 * r + 0.587 * g + 0.114 * b), 0, 255)
    cb = np.clip(rh(-0.168736 * r - 0.331264 * g + 0.5 * b + 128.0), 0, 255)
    cr = np.clip(rh(0.5 * r - 0.418688 * g - 0.081312 * b + 128.0), 0, 255)

    def dc(v, q):
        return np.clip(rh(q * rh(8 * (v - 128.0) / q) / 8.0 + 128.0), 0, 255)

    y2, cb2, cr2 = dc(y, 16.0), dc(cb, 17.0), dc(cr, 17.0)
    return (
        int(np.clip(rh(y2 + 1.402 * (cr2 - 128)), 0, 255)),
        int(np.clip(rh(y2 - 0.344136 * (cb2 - 128) - 0.714136 * (cr2 - 128)), 0, 255)),
        int(np.clip(rh(y2 + 1.772 * (cb2 - 128)), 0, 255)),
    )


def test_jpeg_solid_exact_and_fidelity(spark):
    import numpy as np

    from dp3_spark.sources import jpeg as J

    rng = np.random.default_rng(0)
    # solid frames: DC-only => decode matches the arithmetic chain exactly
    for _ in range(40):
        r, g, b = (int(x) for x in rng.integers(0, 256, 3))
        img = np.full((16, 16, 3), (r, g, b), dtype=np.uint8)
        back = J.decode_jpeg(J.encode_jpeg(img))
        assert (back == back[0, 0]).all()
        assert tuple(int(x) for x in back[0, 0]) == _jpeg_expected_solid(r, g, b)
    # lossy fidelity on structured content
    xx = np.linspace(0, 1, 64)[None, :, None]
    yy = np.linspace(0, 1, 48)[:, None, None]
    img = (255 * (0.5 + 0.4 * np.sin(6 * xx + 1) * np.cos(5 * yy))).clip(0, 255)
    img = img.astype(np.uint8).repeat(3, axis=2)
    back = J.decode_jpeg(J.encode_jpeg(img)).astype(np.float64)
    psnr = 10 * np.log10(255 * 255 / ((back - img.astype(np.float64)) ** 2).mean())
    assert psnr > 35, psnr
    # non-multiple-of-8 dims crop correctly
    img = rng.integers(0, 256, size=(13, 21, 3), dtype=np.uint8)
    assert J.decode_jpeg(J.encode_jpeg(img)).shape == (13, 21, 3)
    # header metadata path agrees
    assert MM.parse_image_dims(J.encode_jpeg(img)) == ("jpeg", 21, 13)
    # real resize through the Spark operator covers JPEG payloads
    solid = np.full((8, 8, 3), (10, 200, 30), dtype=np.uint8)
    docs = spark.createDataFrame(
        [(1, bytearray(J.encode_jpeg(solid)))], "doc_id long, payload binary"
    )
    row = MM.resize_image(docs, width=2, height=2).collect()[0]
    thumb = MM.decode_bmp(bytes(row["thumb"]))
    assert tuple(int(x) for x in thumb[0, 0]) == _jpeg_expected_solid(10, 200, 30)


def test_jpeg_420_and_restart_paths():
    """The decoder's 2x2-sampling upsample and RSTn-resync paths, driven
    by the encoder's subsample='420' / restart_interval options: solid
    frames stay exact (an average of a constant is the constant; restart
    resets DC predictors identically on both sides), smooth content keeps
    reasonable fidelity through chroma subsampling."""
    import numpy as np

    from dp3_spark.sources import jpeg as J

    rng = np.random.default_rng(2)
    for kw in (
        {"subsample": "420"},
        {"restart_interval": 2},
        {"subsample": "420", "restart_interval": 1},
    ):
        for _ in range(10):
            r, g, b = (int(x) for x in rng.integers(0, 256, 3))
            img = np.full((24, 40, 3), (r, g, b), dtype=np.uint8)
            back = J.decode_jpeg(J.encode_jpeg(img, **kw))
            assert back.shape == img.shape and (back == back[0, 0]).all()
            assert tuple(int(x) for x in back[0, 0]) == _jpeg_expected_solid(r, g, b)
    xx = np.linspace(0, 1, 64)[None, :, None]
    yy = np.linspace(0, 1, 48)[:, None, None]
    img = (255 * (0.5 + 0.4 * np.sin(6 * xx + 1) * np.cos(5 * yy))).clip(0, 255)
    img = img.astype(np.uint8).repeat(3, axis=2)
    back = J.decode_jpeg(J.encode_jpeg(img, subsample="420")).astype(np.float64)
    psnr = 10 * np.log10(255 * 255 / ((back - img.astype(np.float64)) ** 2).mean())
    assert psnr > 30, psnr


def test_avi_mjpeg_frame_extraction():
    import numpy as np

    colors = [(10, 200, 30), (255, 0, 0), (0, 0, 255), (128, 128, 128)]
    frames = [np.full((16, 16, 3), c, dtype=np.uint8) for c in colors]
    avi = MM.encode_avi_mjpeg(frames)
    idx = MM.parse_avi_frames(avi)
    assert len(idx) == 4
    for i, c in enumerate(colors):
        px = MM.decode_avi_frame(avi, i)
        assert (px == px[0, 0]).all()
        assert tuple(int(x) for x in px[0, 0]) == _jpeg_expected_solid(*c)
    # out-of-range frame, non-AVI RIFF, truncation: total, never raise
    assert MM.decode_avi_frame(avi, 9) is None
    assert MM.parse_avi_frames(b"RIFF\x04\x00\x00\x00WAVE") is None
    assert MM.parse_avi_frames(avi[:40]) in (None, [])
    for cut in (50, 200, len(avi) // 2):
        out = MM.parse_avi_frames(avi[:cut])
        assert out is None or isinstance(out, list)


def test_jpeg_decoder_robust_to_malformed_bytes():
    import numpy as np

    from dp3_spark.sources import jpeg as J

    good = J.encode_jpeg(np.zeros((8, 8, 3), dtype=np.uint8))
    for b in (
        b"", b"\xff\xd8", good[:30], good[:-4],
        good[:60] + b"\xff" * 40,
        b"\xff\xd8" + b"\x00" * 30,
    ):
        out = J.decode_jpeg(b)
        assert out is None or isinstance(out, np.ndarray)
    # progressive SOF2 refuses cleanly (documented stub path)
    prog = bytearray(good)
    i = prog.find(b"\xff\xc0")
    prog[i + 1] = 0xC2
    assert J.decode_jpeg(bytes(prog)) is None


def test_png_decoder_robust_to_malformed_bytes():
    import numpy as np

    good = MM.encode_png(np.zeros((2, 2, 3), dtype=np.uint8))
    for b in (
        b"", MM._PNG_SIG,                      # empty / signature only
        good[:20], good[:-6],                  # truncated chunks
        good[: len(good) - 20] + b"\xff" * 20,  # corrupted IDAT tail
        b"\x89PNG\r\n\x1a\n" + b"\x00" * 40,   # nonsense chunk layout
    ):
        out = MM.decode_png(b)
        assert out is None or isinstance(out, np.ndarray)
    # unsupported shapes refuse cleanly: 16-bit depth, paletted, interlaced
    ihdr16 = (2).to_bytes(4, "big") + (2).to_bytes(4, "big") + bytes([16, 2, 0, 0, 0])
    assert MM.decode_png(MM._PNG_SIG + MM._png_chunk(b"IHDR", ihdr16)) is None


def test_wav_pcm_decode_and_audio_features(spark):
    import math

    import numpy as np

    # 1 kHz square wave at full scale: rms=1.0, zcr=2*f/rate, peak=1.0
    rate, n = 8000, 800
    samples = [32767 if (i // 4) % 2 == 0 else -32768 for i in range(n)]
    raw = _wav_pcm_bytes(samples, rate=rate)
    pcm = MM.decode_wav_pcm(raw)
    assert pcm.shape == (n, 1)
    assert pcm[0, 0] == 32767 and pcm[4, 0] == -32768
    docs = spark.createDataFrame(
        [(1, bytearray(raw)), (2, bytearray(b"not audio"))],
        "doc_id long, payload binary",
    )
    out = {r["doc_id"]: r for r in MM.audio_features(docs).collect()}
    assert out[1]["n_frames"] == n
    assert out[1]["peak"] == pytest.approx(1.0, abs=1e-4)
    assert out[1]["rms"] == pytest.approx(1.0, abs=1e-3)
    assert out[1]["zero_cross_rate"] == pytest.approx(1.0 / 4.0, abs=0.01)
    assert out[2]["rms"] is None and out[2]["n_frames"] is None


def test_ima_adpcm_decode_and_features(spark):
    """Compressed audio for real: IMA-ADPCM (WAV tag 0x11) round-trips
    with SNR bounded by the 4-bit quantizer — exact first sample, spec
    nibble reconstruction pinned by hand-computed vectors — and
    audio_features accepts ADPCM payloads transparently."""
    import numpy as np

    # hand vectors: from (pred=0, idx=0), step=7 -> nibble 7 = +11, 0xF = -11
    assert MM.ima_adpcm_decode([7], 0, 0)[0] == 11
    assert MM.ima_adpcm_decode([0xF], 0, 0)[0] == -11
    # step index walk: nibble 7 bumps index by +8 -> step 16; nibble 0 adds 16>>3=2
    assert MM.ima_adpcm_decode([7, 0], 0, 0)[1] == 13
    t = np.arange(800)
    s = (12000 * np.sin(2 * np.pi * t / 50)).astype(np.int16)
    wav = MM.encode_wav_adpcm(s, rate=8000)
    back = MM.decode_wav_adpcm(wav)[:, 0][: len(s)]
    assert back[0] == s[0] and len(back) == len(s)
    err = back.astype(float) - s.astype(float)
    snr = 10 * np.log10((s.astype(float) ** 2).mean() / (err**2).mean())
    assert snr > 20, snr  # demanding content; gentle sine reaches ~54 dB
    gentle = (6000 * np.sin(2 * np.pi * np.arange(2000) / 400)).astype(np.int16)
    gback = MM.decode_wav_adpcm(MM.encode_wav_adpcm(gentle))[:, 0][: len(gentle)]
    gerr = gback.astype(float) - gentle.astype(float)
    gsnr = 10 * np.log10((gentle.astype(float) ** 2).mean() / (gerr**2).mean())
    assert gsnr > 40, gsnr
    # decoders don't cross-accept; malformed is total
    assert MM.decode_wav_pcm(wav) is None
    assert MM.decode_wav_adpcm(MM.encode_wav_pcm(s)) is None
    for b in (b"", wav[:20], wav[:40], b"RIFF\x00\x00\x00\x00WAVE"):
        assert MM.decode_wav_adpcm(b) is None
    # Spark operator path: ADPCM payload produces real features
    docs = spark.createDataFrame(
        [(1, bytearray(wav))], "doc_id long, payload binary"
    )
    row = MM.audio_features(docs).collect()[0]
    assert row["n_frames"] == len(s)
    true_rms = float(np.sqrt(((s / 32768.0) ** 2).mean()))
    assert row["rms"] == pytest.approx(true_rms, rel=0.1)


def test_decoders_robust_to_malformed_bytes():
    """decode_bmp / decode_wav_pcm must return None (or truncate safely),
    never raise, on malformed input."""
    import numpy as np

    img = np.zeros((2, 2, 3), dtype=np.uint8)
    good = MM.encode_bmp(img)
    for b in (
        b"", b"BM", good[:30],            # truncated headers
        good[:-5],                         # truncated pixel data
        b"BM" + b"\x00" * 60,              # zero dims
        bytes([0x42, 0x4D]) + b"\xff" * 60,  # nonsense fields
    ):
        assert MM.decode_bmp(b) is None or isinstance(
            MM.decode_bmp(b), np.ndarray
        )
    wav = _wav_pcm_bytes([1, -1, 2, -2])
    assert MM.decode_wav_pcm(wav).shape == (4, 1)
    # truncated data chunk: decode what's actually present, don't crash
    trunc = MM.decode_wav_pcm(wav[:-2])
    assert trunc is None or len(trunc) <= 4
    for b in (b"", b"RIFF", wav[:20], b"RIFF\x00\x00\x00\x00WAVE"):
        assert MM.decode_wav_pcm(b) is None


def test_lm_trigram_score(spark):
    """Corpus-LM fluency scoring: documents made of the corpus's common
    patterns score higher than gibberish, a persisted counts model scores
    new batches (the train-once deployment shape), and <3-char docs drop
    out cleanly."""
    from dp3_spark.operators.lm import lm_score, lm_trigram_counts

    rows = [(i, "the cat sat on the mat ") for i in range(8)]
    rows.append((100, "zqxjkvbwpf"))   # gibberish: rare trigrams
    rows.append((101, "ab"))           # too short: no trigrams
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in lm_score(docs).collect()}
    assert 101 not in out
    assert out[0]["lm_score"] > out[100]["lm_score"]
    # mean log-prob is non-positive by construction
    assert all(r["lm_score"] <= 0.0 for r in out.values())
    # persisted-model path: score a NEW batch against the corpus counts
    model = lm_trigram_counts(docs)
    batch = spark.createDataFrame(
        [(200, "the cat sat"), (201, "wpfzqx")], "doc_id long, text string"
    )
    scored = {r["doc_id"]: r for r in
              lm_score(batch, counts=model).collect()}
    assert scored[200]["lm_score"] > scored[201]["lm_score"]
    # unseen trigrams in the batch are simply absent from the join:
    # n_terms counts only model-known trigrams
    assert scored[201]["n_terms"] <= 4


def test_time_weighted_avg(spark):
    from dp3_spark.operators.resample import time_weighted_avg

    # samples at t=0 (v=10) and t=6000ns (v=30), next at 10000ns: TWA of
    # bucket [0, 10000) = (6us*10 + 4us*30) / 10us = 18
    data = spark.createDataFrame(
        [("p", "t", 0, 10), ("p", "t", 6000, 30), ("p", "t", 10000, 99)],
        "producer string, topic string, log_time long, v long",
    )
    out = time_weighted_avg(data, bucket_ns=10000, value_expr="v").collect()
    by_bucket = {r["bucket_start"]: r for r in out}
    r = by_bucket[0]
    assert (r["weighted_sum"], r["total_dt_us"], r["n_intervals"]) == (180, 10, 2)
    assert r["twa"] == 18.0
    # last sample (t=10000) has no successor: bucket 10000 absent
    assert set(by_bucket) == {0}


def test_detect_gaps_and_counter_delta(spark):
    from dp3_spark.operators.resample import counter_delta, detect_gaps

    data = spark.createDataFrame(
        [("p", "t", 0, 100), ("p", "t", 50, 150), ("p", "t", 500, 20),
         ("p", "t", 520, 70)],
        "producer string, topic string, log_time long, v long",
    )
    gaps = detect_gaps(data, threshold_ns=100).collect()
    assert [(g["gap_start"], g["gap_end"], g["gap_ns"]) for g in gaps] == [
        (50, 500, 450)
    ]
    # increases: +50, reset (150->20: counter restarted from zero, so the
    # interval contributes the post-reset value 20), +50 -> 120 total
    # (PromQL `increase` / counter_agg semantics)
    r = counter_delta(data, bucket_ns=1_000_000, value_expr="v").collect()[0]
    assert (r["increase"], r["n_resets"], r["n_intervals"]) == (120, 1, 3)


def test_minhash_incremental_backfill_batch_matches(spark, monkeypatch, force_shuffle_verify):
    """Backfill-scale batches (n_new past the probe cap) lose the batch
    band-key broadcast hint; the probe's answer must not change, on
    either verify transport.  The cap is monkeypatched to 0 so the
    fixture exercises the unhinted plan."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    kw = dict(n=3, num_hashes=64, bands=8, threshold=0.6)
    index_docs = docs.filter(F.col("doc_id") % 4 != 0)
    new_docs = docs.filter(F.col("doc_id") % 4 == 0)
    index_sigs = DD.minhash_signatures(
        index_docs, "doc_id", "text", n=3, num_hashes=64
    ).localCheckpoint(eager=True)

    def key(df):
        return sorted(
            (r["id_a"], r["id_b"], round(r["jaccard"], 12)) for r in df.collect()
        )

    want = key(DD.minhash_lsh_pairs_incremental(
        new_docs, index_sigs, "doc_id", "text", **kw
    ))
    assert len(want) > 0

    monkeypatch.setattr(DD, "PROBE_BROADCAST_MAX_ROWS", 0)
    got = key(DD.minhash_lsh_pairs_incremental(
        new_docs, index_sigs, "doc_id", "text", **kw
    ))
    assert got == want
    force_shuffle_verify()
    got = key(DD.minhash_lsh_pairs_incremental(
        new_docs, index_sigs, "doc_id", "text", **kw
    ))
    assert got == want
