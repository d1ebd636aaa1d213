"""Structured Streaming ingest pipeline test: file stream -> canonical rows
-> watermark dedup -> partitioned parquet sink, then read back and verify
idempotent-ingest semantics (duplicate (producer, topic, log_time, sequence)
resolved to one copy, treemgr_test.go:590-663)."""

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from dp3_spark.streaming import ingest


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="dp3_stream_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_streaming_ingest_dedup(spark, tmpdir):
    src = f"{tmpdir}/src"
    sink = f"{tmpdir}/sink"
    ckpt = f"{tmpdir}/ckpt"

    # realistic epoch times: epoch-0 would sit exactly at the initial
    # watermark and be dropped as late
    base = 1704067200 * 10**9
    rows = [("dev1", "/imu", base + i * 10**9, i, float(i)) for i in range(50)]
    dup_rows = rows + rows[:10]  # 10 duplicate (log_time, sequence) pairs
    batch = spark.createDataFrame(
        dup_rows, "producer string, topic string, log_time long, sequence long, v double"
    )
    batch.write.parquet(src)

    raw = spark.readStream.schema(batch.schema).parquet(src)
    canon = ingest.canonical_stream(
        raw, producer_col="producer", topic_col="topic",
        time_col="log_time", sequence_col="sequence",
    )
    deduped = ingest.deduped_stream(canon)
    q = (
        ingest.ingest_writer(deduped, path=sink, checkpoint=ckpt, trigger_seconds=1)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    out = spark.read.parquet(sink)
    assert out.count() == 50  # duplicates dropped
    assert out.select("producer", "topic", "log_time", "sequence").distinct().count() == 50
    assert "hour_bucket" in out.columns
    # partition layout: producer + hour bucket directories
    got = out.filter(F.col("sequence") == 7).collect()
    assert len(got) == 1 and got[0]["hour_bucket"] == 1704067200 * 10**9


def test_stateful_sessionize_stream(spark, tmpdir):
    """applyInPandasWithState sessionization: same gap semantics as the
    batch events_sessionize query, incremental with bounded per-key state.
    With availableNow data arriving as one batch, every session followed by
    a later event closes with closed_by='gap'; the open tail session stays
    in state (append semantics) and is NOT emitted."""
    from dp3_spark.streaming.sessionize import sessionize_stream

    src = f"{tmpdir}/src"
    gap = 30 * 60 * 10**9  # 30 min, like events_sessionize
    base = 1704067200 * 10**9
    m = 60 * 10**9
    rows = [
        # user 1: [0, 5, 10 min] then gap -> [60, 61 min] then gap -> [200 min] (open tail)
        (1, base + 0 * m, 1.0), (1, base + 5 * m, 2.0), (1, base + 10 * m, 3.0),
        (1, base + 60 * m, 4.0), (1, base + 61 * m, 5.0),
        (1, base + 200 * m, 6.0),
        # user 2: single event then gap -> [100 min] (open tail)
        (2, base + 0 * m, 10.0),
        (2, base + 100 * m, 20.0),
    ]
    batch = spark.createDataFrame(rows, "user_id long, ts long, value double")
    batch.write.parquet(src)

    stream = spark.readStream.schema(batch.schema).parquet(src)
    sessions = sessionize_stream(stream, gap_ns=gap)
    q = (
        sessions.writeStream.format("memory")
        .queryName("sessions_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    rows_out = spark.sql("select * from sessions_out").collect()
    gaps = {
        (r["user_id"], r["session_start"]): (r["session_end"], r["n_events"], r["total_value"])
        for r in rows_out if r["closed_by"] == "gap"
    }
    assert gaps == {
        (1, base + 0 * m): (base + 10 * m, 3, 6.0),
        (1, base + 60 * m): (base + 61 * m, 2, 9.0),
        (2, base + 0 * m): (base + 0 * m, 1, 10.0),
    }
    # tail sessions may or may not have been flushed by the idle timeout
    # (depends on wall-clock between micro-batches); if they were, they
    # must be exactly the open tails
    timeouts = {
        (r["user_id"], r["session_start"]): (r["session_end"], r["n_events"], r["total_value"])
        for r in rows_out if r["closed_by"] == "timeout"
    }
    allowed = {
        (1, base + 200 * m): (base + 200 * m, 1, 6.0),
        (2, base + 100 * m): (base + 100 * m, 1, 20.0),
    }
    assert set(timeouts) <= set(allowed)
    for k, v in timeouts.items():
        assert v == allowed[k]


def test_sessionizer_function_pure(spark):
    """The state-machine itself, driven directly with a fake GroupState:
    multi-batch accumulation, gap close across batches, timeout flush."""
    from dp3_spark.streaming.sessionize import make_sessionizer

    import pandas as pd

    class FakeState:
        def __init__(self):
            self._v = None
            self.hasTimedOut = False

        @property
        def exists(self):
            return self._v is not None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = tuple(v)

        def remove(self):
            self._v = None

        def setTimeoutDuration(self, ms):
            self.timeout_ms = ms

    fn = make_sessionizer(gap_ns=100)
    st = FakeState()
    # batch 1: two events 50 apart -> one open session, nothing emitted
    out1 = list(fn((7,), iter([pd.DataFrame({"user_id": [7, 7], "ts": [0, 50], "value": [1.0, 2.0]})]), st))
    assert out1 == [] and st.get == (0, 50, 2, 3.0)
    # batch 2: event at 500 closes the first session
    out2 = list(fn((7,), iter([pd.DataFrame({"user_id": [7], "ts": [500], "value": [4.0]})]), st))
    assert len(out2) == 1
    r = out2[0].iloc[0]
    assert (r["session_start"], r["session_end"], r["n_events"], r["total_value"], r["closed_by"]) == (
        0, 50, 2, 3.0, "gap")
    assert st.get == (500, 500, 1, 4.0)
    # timeout: open session flushes and state clears
    st.hasTimedOut = True
    out3 = list(fn((7,), iter([]), st))
    assert out3[0].iloc[0]["closed_by"] == "timeout"
    assert not st.exists


def test_summary_maintainer_foreachbatch(spark, tmpdir):
    """Micro-batch summary maintenance: partial aggregates per batch merge
    associatively to the direct summary (the ingest-time statistics path,
    treemgr/writer.go:184-203)."""
    from dp3_spark.operators.stats import rollup_summary

    base = 1704067200 * 10**9
    rows = [("dev1", "/imu", base + i * 10**9, i, float(i)) for i in range(100)]
    full = spark.createDataFrame(
        rows, "producer string, topic string, log_time long, sequence long, v double"
    )
    update = ingest.summary_maintainer(full, granularity_ns=60 * 10**9, numeric_fields=["v"])

    # simulate two micro-batches, merge their partials
    b1 = update(full.filter(F.col("sequence") < 50), 0)
    b2 = update(full.filter(F.col("sequence") >= 50), 1)
    merged = rollup_summary(
        b1.unionByName(b2), from_granularity_ns=60 * 10**9,
        to_granularity_ns=60 * 10**9, numeric_fields=["v"],
    )
    direct = update(full, 2)
    m = {(r["producer"], r["topic"], r["bucket_start"]): (r["message_count"], r["v_sum"])
         for r in merged.collect()}
    d = {(r["producer"], r["topic"], r["bucket_start"]): (r["message_count"], r["v_sum"])
         for r in direct.collect()}
    assert m == d and len(m) == 2  # 100 s span -> two 60 s buckets


# --------------------------------------------- streaming corpus dedup

LOREM = {
    "fox": "the quick brown fox jumps over the lazy dog near the river bank",
    "sql": "declarative query engines optimize relational plans with cost models",
    "sea": "ships sail across the open sea carrying cargo between distant ports",
    "ast": "astronomers chart distant galaxies using wide field survey telescopes",
    "oak": "ancient oak trees shelter countless species in temperate forests",
}


def _write_docs(spark, path, rows):
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(1).write.mode(
        "append"
    ).parquet(path)


def test_streaming_corpus_dedup(spark, tmpdir):
    """Two availableNow drains over a drop directory: in-batch dups fall to
    the lower id, cross-batch dups fall to the indexed (first-arrived) doc
    even when the new doc has a LOWER id, and the signature index stays
    id-aligned with the corpus."""
    from dp3_spark.streaming.dedup_stream import StreamingCorpusDedup

    src = f"{tmpdir}/incoming"
    sd = StreamingCorpusDedup(spark, f"{tmpdir}/corpus_root", threshold=0.6)

    _write_docs(
        spark,
        src,
        [
            (10, LOREM["fox"]),
            (11, LOREM["sql"]),
            (12, LOREM["fox"]),  # in-batch dup of 10 -> dropped
            (13, LOREM["sea"]),
        ],
    )
    q = sd.start(src, "doc_id long, text string")
    q.awaitTermination()
    kept1 = {
        r["doc_id"] for r in spark.read.parquet(sd.corpus_path).collect()
    }
    assert kept1 == {10, 11, 13}

    _write_docs(
        spark,
        src,
        [
            (2, LOREM["fox"]),   # dup of indexed 10; lower id but index wins
            (20, LOREM["ast"]),
            (21, LOREM["ast"]),  # in-batch dup of 20 -> dropped
            (22, LOREM["oak"]),
        ],
    )
    q = sd.start(src, "doc_id long, text string")
    q.awaitTermination()

    corpus = {r["doc_id"] for r in spark.read.parquet(sd.corpus_path).collect()}
    assert corpus == {10, 11, 13, 20, 22}
    sig_ids = {r["id"] for r in spark.read.parquet(sd.index_path).collect()}
    assert sig_ids == corpus
    # the persisted banding tracks the index: one row per (kept doc, band)
    bands = spark.read.parquet(sd.bands_path)
    assert {r["id"] for r in bands.select("id").distinct().collect()} == corpus
    assert bands.count() == len(corpus) * sd.bands
    # the checkpoint prevented reprocessing: exactly two epochs recorded
    assert [s["rows_in"] for s in sd.stats] == [4, 4]
    assert [s["dropped"] for s in sd.stats] == [1, 2]


def test_streaming_corpus_first_drain_follows_verify_budget(
    spark, tmpdir, force_shuffle_verify
):
    """The first drain (no index yet) verifies through the batch
    operator's transport choice: with the broadcast budget at 0 it must
    never collect-and-broadcast the batch's signatures, and it must keep
    exactly the documents the default (broadcast) drain keeps."""
    from dp3_spark.streaming.dedup_stream import StreamingCorpusDedup

    batch = spark.createDataFrame(
        [
            (1, LOREM["fox"]),
            (2, LOREM["sql"]),
            (3, LOREM["fox"]),  # in-batch dup of 1 -> dropped
            (4, LOREM["sea"]),
            (5, LOREM["sea"]),  # in-batch dup of 4 -> dropped
        ],
        "doc_id long, text string",
    )

    def drain(root):
        sd = StreamingCorpusDedup(spark, f"{tmpdir}/{root}", threshold=0.6)
        sd.process_batch(batch, 0)
        kept = {r["doc_id"] for r in spark.read.parquet(sd.corpus_path).collect()}
        return kept, sd.stats

    want = drain("default_budget")
    assert want[0] == {1, 2, 4}
    force_shuffle_verify()
    assert drain("zero_budget") == want


def test_streaming_corpus_dedup_bands_migration(spark, tmpdir):
    """A pre-bands index layout (sigs + corpus only) migrates on first
    probe: the banding derives from the signatures, persists, and the
    probe decisions match the fresh-layout run."""
    import shutil

    from dp3_spark.streaming.dedup_stream import StreamingCorpusDedup

    sd = StreamingCorpusDedup(spark, f"{tmpdir}/mig_root", threshold=0.6)
    sd.process_batch(
        spark.createDataFrame(
            [(1, LOREM["fox"]), (2, LOREM["sql"])], "doc_id long, text string"
        ),
        0,
    )
    shutil.rmtree(sd.bands_path)  # simulate the older layout
    sd.process_batch(
        spark.createDataFrame(
            [(0, LOREM["fox"]), (5, LOREM["oak"])], "doc_id long, text string"
        ),
        1,
    )
    # 0 is a dup of indexed 1 (index wins despite the lower id); 5 is new
    assert sorted(
        r["doc_id"] for r in spark.read.parquet(sd.corpus_path).collect()
    ) == [1, 2, 5]
    bands = spark.read.parquet(sd.bands_path)
    assert {r["id"] for r in bands.select("id").distinct().collect()} == {1, 2, 5}


def test_streaming_corpus_dedup_replay_is_idempotent(spark, tmpdir):
    """foreachBatch is at-least-once: re-running process_batch on the same
    batch (the crash-replay shape) must not duplicate index or corpus rows
    and must preserve the sig/corpus id alignment."""
    from dp3_spark.streaming.dedup_stream import StreamingCorpusDedup

    sd = StreamingCorpusDedup(spark, f"{tmpdir}/replay_root", threshold=0.6)
    batch = spark.createDataFrame(
        [(1, LOREM["fox"]), (2, LOREM["sql"]), (3, LOREM["fox"])],
        "doc_id long, text string",
    )
    sd.process_batch(batch, 0)
    first = sorted(
        r["doc_id"] for r in spark.read.parquet(sd.corpus_path).collect()
    )
    assert first == [1, 2]
    sd.process_batch(batch, 0)  # replay of the same epoch
    corpus = [r["doc_id"] for r in spark.read.parquet(sd.corpus_path).collect()]
    sigs = [r["id"] for r in spark.read.parquet(sd.index_path).collect()]
    assert sorted(corpus) == [1, 2]  # no duplicates
    assert sorted(sigs) == [1, 2]
    # partial-crash replay: index has the rows, corpus lost them
    import shutil

    shutil.rmtree(sd.corpus_path)
    sd.process_batch(batch, 0)
    corpus = [r["doc_id"] for r in spark.read.parquet(sd.corpus_path).collect()]
    sigs = [r["id"] for r in spark.read.parquet(sd.index_path).collect()]
    assert sorted(corpus) == [1, 2]  # filled back in, exactly once
    assert sorted(sigs) == [1, 2]


def test_stream_interval_attrib_equals_batch_join(spark, tmp_path):
    """The native stream-stream interval join drain must equal the batch
    join exactly (the fixture-span watermark determinism contract)."""
    import pyspark.sql.functions as F

    from dp3_spark.streaming.stream_join import attribution_join

    rows = []
    base = 1_700_000_000_000_000  # µs
    for u in range(4):
        for k in range(40):
            t = base + u * 7_000_000 + k * 13_000_000
            rows.append((u * 1000 + k, u, "error" if k % 9 == 0 else "click", t))
    df = spark.createDataFrame(rows, "eid long, u long, typ string, tus long")
    src_dir = str(tmp_path / "src")
    df.repartition(4).write.parquet(src_dir)

    def side(stream):
        errs = stream.filter(F.col("typ") == "error").select(
            F.col("eid").alias("inc_id"),
            F.col("u").alias("inc_user"),
            F.timestamp_micros(F.col("tus")).alias("inc_s"),
            F.timestamp_micros(F.col("tus") + 30_000_000).alias("inc_e"),
        )
        acts = stream.filter(F.col("typ") == "click").select(
            F.col("u").alias("act_user"),
            F.timestamp_micros(F.col("tus")).alias("act_ts"),
        )
        return errs, acts

    schema = df.schema
    s1 = spark.readStream.schema(schema).parquet(src_dir)
    s2 = spark.readStream.schema(schema).parquet(src_dir)
    errs, _ = side(s1)
    _, acts = side(s2)
    q = (
        attribution_join(errs, acts)
        .select("inc_id", "act_user", "act_ts")
        .writeStream.format("memory")
        .queryName("attrib_ut")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["inc_id"], r["act_user"], r["act_ts"])
        for r in spark.table("attrib_ut").collect()
    }
    be, ba = side(spark.read.parquet(src_dir))
    exp = {
        (r["inc_id"], r["act_user"], r["act_ts"])
        for r in be.join(
            ba,
            (F.col("inc_user") == F.col("act_user"))
            & (F.col("act_ts") >= F.col("inc_s"))
            & (F.col("act_ts") < F.col("inc_e")),
        ).select("inc_id", "act_user", "act_ts").collect()
    }
    assert got == exp and len(exp) > 0
