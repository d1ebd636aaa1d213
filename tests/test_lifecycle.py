"""Lifecycle tests: versioned append, range delete, truncate, time travel,
tail, compact — mirroring the reference's delete/truncate/export semantics
(treemgr_test.go delete + truncate scenarios)."""

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from dp3_spark.output import to_json_shape
from dp3_spark.streaming.lifecycle import VersionedLogTable


@pytest.fixture()
def table(spark):
    # gc_grace_sec=0: immediate physical deletes — the single-process
    # semantics every pre-grace test was written against; the grace
    # window itself is exercised by the dedicated tests below
    d = tempfile.mkdtemp(prefix="dp3_table_")
    yield VersionedLogTable(spark, d, gc_grace_sec=0.0)
    shutil.rmtree(d, ignore_errors=True)


def mkbatch(spark, topic, times, producer="dev1"):
    rows = [(producer, topic, t, i, float(i)) for i, t in enumerate(times)]
    return spark.createDataFrame(
        rows, "producer string, topic string, log_time long, sequence long, v double"
    )


def test_append_dedup_and_versions(spark, table):
    v1 = table.append(mkbatch(spark, "/a", [10, 20, 30, 30]))  # 30 duplicated (same seq? no)
    assert v1 == 1
    v2 = table.append(mkbatch(spark, "/a", [40, 50]))
    assert v2 == 2
    assert table.read().count() == 6
    assert table.read(as_of_version=1).count() == 4  # time travel


def test_ingest_batch_dedup(spark, table):
    rows = [("dev1", "/a", 10, 0, 1.0), ("dev1", "/a", 10, 0, 1.0)]
    df = spark.createDataFrame(
        rows, "producer string, topic string, log_time long, sequence long, v double"
    )
    table.append(df)
    assert table.read().count() == 1  # (log_time, sequence) dedup


def test_delete_range_lazy(spark, table):
    table.append(mkbatch(spark, "/a", [10, 20, 30, 40, 50]))
    table.delete_range("dev1", "/a", 20, 40)  # [20, 40): drops 20, 30
    got = sorted(r["log_time"] for r in table.read().collect())
    assert got == [10, 40, 50]


def test_delete_scoped_to_producer_topic(spark, table):
    table.append(mkbatch(spark, "/a", [10, 20]))
    table.append(mkbatch(spark, "/b", [10, 20]))
    table.delete_range("dev1", "/a", 0, 100)
    got = {(r["topic"], r["log_time"]) for r in table.read().collect()}
    assert got == {("/b", 10), ("/b", 20)}


def test_truncate(spark, table):
    table.append(mkbatch(spark, "/a", [10, 20, 30]))
    table.truncate("dev1", "/a", 25)
    assert sorted(r["log_time"] for r in table.read().collect()) == [30]
    table.truncate("dev1", "/a")  # now: everything
    assert table.read().count() == 0


def test_time_travel_over_delete(spark, table):
    table.append(mkbatch(spark, "/a", [10, 20, 30]))  # v1
    v2 = table.delete_range("dev1", "/a", 0, 25)  # v2
    assert table.read(as_of_version=1).count() == 3  # before the delete
    assert table.read(as_of_version=v2).count() == 1


def test_truncate_then_keep_ingesting(spark, table):
    """Tombstones pin a version: data ingested AFTER a truncate/delete must
    stay visible (sqlrootmap.go:372-402; treemgr.go:998-1010)."""
    table.append(mkbatch(spark, "/a", [10, 20, 30]))
    table.truncate("dev1", "/a")  # `now`: masks everything so far
    assert table.read().count() == 0
    table.append(mkbatch(spark, "/a", [15, 25]))  # re-ingest inside the range
    got = sorted(r["log_time"] for r in table.read().collect())
    assert got == [15, 25]


def test_delete_then_reingest_visible(spark, table):
    table.append(mkbatch(spark, "/a", [10, 20, 30]))
    table.delete_range("dev1", "/a", 0, 100)
    table.append(mkbatch(spark, "/a", [20]))
    assert [r["log_time"] for r in table.read().collect()] == [20]


def test_tail_by_version(spark, table):
    v1 = table.append(mkbatch(spark, "/a", [10, 20]))
    table.append(mkbatch(spark, "/a", [30]))
    got = [r["log_time"] for r in table.tail(v1).collect()]
    assert got == [30]


def test_compact_applies_tombstones(spark, table):
    table.append(mkbatch(spark, "/a", [10, 20, 30]))
    table.delete_range("dev1", "/a", 0, 25)
    table.compact()
    assert sorted(r["log_time"] for r in table.read().collect()) == [30]
    # physically applied
    assert table._tombstones(table._snapshot(table.committed_version())) is None


def test_compact_swaps_pointer_and_stays_writable(spark, table):
    """compact() writes a new generation and flips _meta/data_ptr — the live
    dir is never renamed in place (object-store-safe); appends and a second
    compact keep working against the resolved generation."""
    table.append(mkbatch(spark, "/a", [10, 20]))
    table.delete_range("dev1", "/a", 0, 15)
    table.compact()
    assert table._resolve_data_path() != table.data_path
    table.append(mkbatch(spark, "/a", [40]))
    assert sorted(r["log_time"] for r in table.read().collect()) == [20, 40]
    table.delete_range("dev1", "/a", 0, 25)
    table.compact()  # second generation flip
    assert sorted(r["log_time"] for r in table.read().collect()) == [40]


def test_compact_time_clusters_rows(spark, table):
    """After compaction every parquet file holds its partition's rows in
    (log_time, sequence) order, so row-group min/max stats are tight for
    time-bounded scans."""
    import glob
    import pyarrow.parquet as pq

    table.append(mkbatch(spark, "/a", [50, 10, 40]))
    table.append(mkbatch(spark, "/a", [30, 20, 60]))
    table.compact()
    files = glob.glob(
        f"{table._resolve_data_path()}/topic=*/producer_bucket=*/*.parquet"
    )
    assert files
    for f in files:
        t = pq.read_table(f, columns=["producer", "log_time"])
        rows = list(zip(t["producer"].to_pylist(), t["log_time"].to_pylist()))
        assert rows == sorted(rows), f


def test_append_does_not_scan_data_for_version(spark, table):
    """current_version() is O(1) metadata, not max(version) over the table."""
    table.append(mkbatch(spark, "/a", [10]))
    import os

    assert os.path.exists(os.path.join(table.meta_path, "version"))
    # drop the data dir entirely: version lookup must still answer from meta
    shutil.rmtree(table._resolve_data_path())
    assert table.current_version() == 1


def test_json_output_shape(spark):
    df = mkbatch(spark, "/fix", [1_500_000_000, 2_000_000_001])
    shaped = to_json_shape(df).orderBy("sequence").collect()
    assert shaped[0]["log_time"] == "1.500000000"
    assert shaped[1]["log_time"] == "2.000000001"
    assert shaped[0]["publish_time"] == shaped[0]["log_time"]
    assert shaped[0]["data"]["v"] == 0.0
    skel = to_json_shape(df, skeleton=True).columns
    assert "data" not in skel


def test_json_nanos_exact_near_second_boundary(spark):
    """ns within ~128 ns of a second boundary: double division rounds the
    seconds part up; the reference uses exact integer arithmetic
    (mcap_to_json.go:29-40)."""
    df = mkbatch(spark, "/fix", [1_704_412_799_999_999_872])
    shaped = to_json_shape(df).collect()
    assert shaped[0]["log_time"] == "1704412799.999999872"


def test_tail_stream_push_based(spark, table):
    """Structured Streaming tail: appends arrive as micro-batches, and
    the from_version cursor skips already-consumed rows (the readStream
    upgrade of cli/cmd/tail.go polling)."""
    v1 = table.append(mkbatch(spark, "/a", [10, 20]))
    stream = table.tail_stream(from_version=v1)
    q = (
        stream.writeStream.format("memory")
        .queryName("tail_sink")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        assert spark.sql("select * from tail_sink").count() == 0  # all consumed
        table.append(mkbatch(spark, "/a", [30, 40]))
        table.append(mkbatch(spark, "/b", [50]))
        q.processAllAvailable()
        got = {
            (r["topic"], r["log_time"])
            for r in spark.sql("select topic, log_time from tail_sink").collect()
        }
        assert got == {("/a", 30), ("/a", 40), ("/b", 50)}
    finally:
        q.stop()


def test_old_layout_append_refused_compact_migrates(spark, table):
    """A pre-bucketing data dir (producer=/topic= partitioning) must not
    be appended into — mixed partition schemes break discovery for every
    reader — but stays readable, and one compact() migrates it to the
    bucketed layout after which appends work."""
    import glob

    old = mkbatch(spark, "/a", [10, 20]).withColumn("version", F.lit(1))
    old.write.partitionBy("producer", "topic").parquet(table._resolve_data_path())
    table._write_version(1)
    # readable as-is (compat path: bucket strip is a no-op)
    assert sorted(r["log_time"] for r in table.read().collect()) == [10, 20]
    with pytest.raises(RuntimeError, match="pre-bucketing"):
        table.append(mkbatch(spark, "/a", [30]))
    table.compact()  # migration: rewrites the bucketed generation
    assert glob.glob(
        f"{table._resolve_data_path()}/topic=*/producer_bucket=*/*.parquet"
    )
    table.append(mkbatch(spark, "/a", [30]))
    assert sorted(r["log_time"] for r in table.read().collect()) == [10, 20, 30]


def test_reader_never_sees_partial_append(spark, table, monkeypatch):
    """Atomic publish (the rootmap-flip analog): an append's files are
    INVISIBLE to every read path until the committed watermark flips —
    simulated mid-write by holding the flip, so the data files are fully
    on disk while the watermark still points at the previous version.
    Then one _publish exposes the whole batch at once."""
    table.append(mkbatch(spark, "/a", [10, 20, 30]))
    base = table.committed_version()

    held = []
    monkeypatch.setattr(
        type(table), "_publish", lambda self, v, **kw: held.append(v)
    )
    v2 = table.append(mkbatch(spark, "/a", [40, 50, 60, 70]))
    monkeypatch.undo()
    assert held == [v2]

    # the new files ARE on disk...
    import glob as _glob

    files = _glob.glob(table.data_path + "/**/*.parquet", recursive=True)
    assert len(files) >= 2
    # ...but every query surface still serves the pre-append snapshot
    assert table.committed_version() == base
    assert sorted(r["log_time"] for r in table.read().collect()) == [10, 20, 30]
    assert table.tail(0).count() == 3
    assert table.log_store().df.count() == 3

    # the flip exposes the whole batch atomically
    table._publish(v2)
    assert sorted(r["log_time"] for r in table.read().collect()) == [
        10, 20, 30, 40, 50, 60, 70,
    ]
    assert table.tail(base).count() == 4


def test_unpublished_tombstone_invisible(spark, table, monkeypatch):
    table.append(mkbatch(spark, "/a", [10, 20, 30]))
    held = []
    monkeypatch.setattr(type(table), "_publish", lambda self, v, **kw: held.append(v))
    v = table.delete_range("dev1", "/a", 0, 25)
    monkeypatch.undo()
    # tombstone parquet exists but is not committed: nothing masked yet
    assert table.read().count() == 3
    table._publish(v)
    assert sorted(r["log_time"] for r in table.read().collect()) == [30]


def test_concurrent_reader_during_live_appends(spark, table):
    """Race test: a writer thread lands 4 batches of 50 rows while the
    main thread reads in a loop; every observed count must be a multiple
    of 50 (complete batches only, never a partial file set)."""
    import threading

    BATCH = 50
    rows = lambda k: mkbatch(spark, "/a", list(range(k * 1000, k * 1000 + BATCH)))
    table.append(rows(0))

    stop = threading.Event()
    err = []

    def writer():
        try:
            for k in range(1, 4):
                table.append(rows(k))
        except Exception as e:  # pragma: no cover
            err.append(e)
        finally:
            stop.set()

    t = threading.Thread(target=writer)
    t.start()
    observed = set()
    while not stop.is_set():
        observed.add(table.read().count())
    t.join()
    assert not err
    observed.add(table.read().count())
    assert observed <= {BATCH, 2 * BATCH, 3 * BATCH, 4 * BATCH}, observed
    assert table.read().count() == 4 * BATCH


def test_read_resolves_watermark_exactly_once(spark, table, monkeypatch):
    """read() must snapshot the committed watermark ONCE and use it for
    both the data and the tombstone sub-reads — resolving twice would
    let a concurrent publish apply a newer tombstone against older
    data (a torn snapshot)."""
    table.append(mkbatch(spark, "/a", [10, 20]))
    table.delete_range("dev1", "/a", 0, 15)

    calls = []
    real = type(table).committed_version

    def counting(self):
        calls.append(1)
        return real(self)

    monkeypatch.setattr(type(table), "committed_version", counting)
    df = table.read()
    assert len(calls) == 1
    assert sorted(r["log_time"] for r in df.collect()) == [20]


def test_concurrent_writers_serialize_under_lock(spark, table):
    """The writer lock must make concurrent appends safe: without it two
    writers can allocate the SAME version (colliding histories).  Four
    threads x 2 appends each -> all 8 versions unique and monotone, every
    row present, watermark == max version."""
    import threading

    results, errors = [], []

    def writer(k):
        try:
            for j in range(2):
                base = (k * 10 + j) * 1000
                v = table.append(mkbatch(spark, "/a", list(range(base, base + 20))))
                results.append(v)
        except Exception as e:  # pragma: no cover
            errors.append(e)

    threads = [threading.Thread(target=writer, args=(k,)) for k in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    assert len(results) == 8 and len(set(results)) == 8  # no version collisions
    assert table.committed_version() == max(results)
    assert table.read().count() == 8 * 20  # every batch fully present


def test_appends_write_zstd_parquet(spark, table, tmp_path):
    """The at-rest codec defaults to zstd (storage/scan-IO at 100 TB) and
    is a per-table knob; mixed-codec tables stay readable."""
    import pyarrow.parquet as pq

    table.append(mkbatch(spark, "/a", [10, 20]))
    files = []
    for dirpath, _, fns in __import__("os").walk(table.data_path):
        files += [f"{dirpath}/{f}" for f in fns if f.endswith(".parquet")]
    assert files
    codecs = {
        pq.ParquetFile(p).metadata.row_group(0).column(0).compression
        for p in files
    }
    assert codecs == {"ZSTD"}

    snappy = VersionedLogTable(spark, str(tmp_path / "t2"), compression="snappy")
    snappy.append(mkbatch(spark, "/a", [10]))
    f2 = []
    for dirpath, _, fns in __import__("os").walk(snappy.data_path):
        f2 += [f"{dirpath}/{f}" for f in fns if f.endswith(".parquet")]
    assert {
        pq.ParquetFile(p).metadata.row_group(0).column(0).compression for p in f2
    } == {"SNAPPY"}
    assert snappy.read().count() == 1


def test_crash_mid_append_rolled_back_by_next_writer(spark, table):
    """The crash-durability hole closed in round 8: a writer that dies
    MID-write (version allocated, only SOME of its files landed, no
    flip) must not have its partial file set exposed by a LATER writer's
    watermark flip.  The next write GCs versions in (committed, counter]
    at start, under the writer lock (_gc_uncommitted)."""
    table.append(mkbatch(spark, "/a", [10, 20, 30]))
    committed = table.committed_version()

    # crashed writer: allocates version N, lands PART of its batch (one
    # of two topics), dies before the flip — flock auto-released
    vN = table._next_version()
    partial = (
        mkbatch(spark, "/a", [100, 110], producer="dev2")
        .withColumn("version", F.lit(vN))
        .withColumn("producer_bucket", table._bucket_expr())
    )
    partial.write.mode("append").partitionBy("topic", "producer_bucket").parquet(
        table._resolve_data_path()
    )
    assert table.current_version() == vN
    assert table.committed_version() == committed

    # a FRESH handle appends; its flip must expose ONLY its own batch
    t2 = VersionedLogTable(spark, table.root)
    v_next = t2.append(mkbatch(spark, "/a", [40, 50]))
    assert v_next > vN
    got = sorted(r["log_time"] for r in t2.read().collect())
    assert got == [10, 20, 30, 40, 50]  # zero version-N rows

    # the partial files are physically GONE, not merely filtered: even a
    # raw unwatermarked scan sees no version-N rows
    raw = spark.read.parquet(t2._resolve_data_path())
    assert raw.filter(F.col("version") == vN).count() == 0


def test_crash_torn_file_rolled_back(spark, table):
    """A file torn mid-write (unreadable footer) can only belong to an
    uncommitted version (committed files land via task-commit rename);
    the next writer's GC deletes it so the table stays scannable."""
    import os

    table.append(mkbatch(spark, "/a", [10, 20]))
    table._next_version()  # crashed writer allocated a version...
    # ...and left a torn parquet in a live partition dir
    part_dir = None
    for dirpath, _, fns in os.walk(table._resolve_data_path()):
        if any(f.endswith(".parquet") for f in fns):
            part_dir = dirpath
            break
    torn = os.path.join(part_dir, "part-torn-crash.c000.zstd.parquet")
    with open(torn, "wb") as f:
        f.write(b"PAR1this-is-not-a-parquet-footer")

    t2 = VersionedLogTable(spark, table.root)
    t2.append(mkbatch(spark, "/a", [30]))
    assert not os.path.exists(torn)
    assert sorted(r["log_time"] for r in t2.read().collect()) == [10, 20, 30]


def test_crash_mid_delete_tombstone_rolled_back(spark, table):
    """Same rollback for the tombstone side: a delete_range that crashed
    after landing its tombstone parquet but before the flip is GC'd by
    the next write instead of being exposed by its flip."""
    table.append(mkbatch(spark, "/a", [10, 20, 30]))

    # crashed delete: version allocated, tombstone landed, no flip
    vN = table._next_version()
    spark.createDataFrame(
        [("dev1", "/a", 0, 25, vN)],
        "producer string, topic string, start_ns long, end_ns long, version long",
    ).write.mode("append").parquet(table.tombstones_path)

    t2 = VersionedLogTable(spark, table.root)
    t2.append(mkbatch(spark, "/a", [40]))
    # the unacked tombstone must NOT mask [10, 20] after the later flip
    assert sorted(r["log_time"] for r in t2.read().collect()) == [10, 20, 30, 40]


def test_inspect_tool_reports_table_state(spark, table, capfd):
    """`dp3 inspect` analog of treeinspect/walinspect: the offline
    (Spark-free) report must show the watermark vs counter, per-version
    distribution, the tombstone, and a crashed writer's pending version
    + torn file — without touching or repairing anything."""
    import json as _json
    import os

    from dp3_spark import cli
    from dp3_spark.inspect_tool import format_report, inspect_table

    table.append(mkbatch(spark, "/a", [10, 20, 30]))
    table.append(mkbatch(spark, "/b", [40, 50]))
    table.delete_range("dev1", "/a", 0, 15)

    # crashed writer: allocated v4, landed one partial + one torn file,
    # never flipped
    v4 = table._next_version()
    partial = (
        mkbatch(spark, "/a", [100], producer="dev2")
        .withColumn("version", F.lit(v4))
        .withColumn("producer_bucket", table._bucket_expr())
    )
    partial.write.mode("append").partitionBy("topic", "producer_bucket").parquet(
        table._resolve_data_path()
    )
    part_dir = next(
        dirpath
        for dirpath, _, fns in os.walk(table._resolve_data_path())
        if any(f.endswith(".parquet") for f in fns)
    )
    with open(os.path.join(part_dir, "part-torn.c000.parquet"), "wb") as f:
        f.write(b"PAR1not-a-footer")

    rep = inspect_table(table.root)
    assert rep["committed"] == 3 and rep["version_counter"] == 4
    # v3 (the tombstone-only version) is folded into the version list:
    # a committed tombstone is as published as a data version
    assert rep["published_versions"] == [1, 2, 3]
    assert v4 in rep["pending_versions"]
    assert rep["versions"]["1"]["rows"] == 3
    assert rep["versions"]["2"]["rows"] == 2
    assert len(rep["torn_files"]) == 1
    assert rep["tombstones"] == [
        {
            "producer": "dev1", "topic": "/a", "start_ns": 0, "end_ns": 15,
            "version": 3, "published": True,
        }
    ]
    assert "committed" in rep["meta_objects"] and "version" in rep["meta_objects"]

    # inspection is read-only and stable: a second pass sees the same
    # state (pending files untouched, nothing repaired)
    assert rep == inspect_table(table.root)

    # text + json renderings through the real CLI verb
    assert cli.main(["inspect", table.root]) == 0
    out = capfd.readouterr().out
    assert "PENDING" in out and "torn" in out and "tombstones   1" in out
    assert cli.main(["inspect", "--json", table.root]) == 0
    assert _json.loads(capfd.readouterr().out)["committed"] == 3

    # ... and the next writer still repairs exactly as before
    t2 = VersionedLogTable(spark, table.root)
    t2.append(mkbatch(spark, "/a", [60]))
    rep2 = inspect_table(table.root)
    assert rep2["pending_versions"] == [] and rep2["torn_files"] == []


def test_append_files_not_dominated_by_bloom_overhead(spark, table):
    """The producer bloom through Spark's partitioned writer allocates
    the FULL expected-ndv size per column chunk (adaptive sizing never
    engages), so the old 1M-ndv default put a 1.05 MB bloom in EVERY
    appended file — including 1-row ones.  bloom_options now caps the
    filter (65k ndv / 128 KiB backstop): a tiny append's files must not
    carry megabyte-scale constant overhead."""
    import os

    table.append(mkbatch(spark, "/a", [10, 20, 30]))
    table.append(mkbatch(spark, "/b", [40], producer="dev9"))
    sizes = {
        os.path.join(d, f): os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(table._resolve_data_path())
        for f in fs
        if f.endswith(".parquet")
    }
    assert sizes and max(sizes.values()) < 200_000, sizes


# ------------------------------------------------ snapshot memo (log_store)

def test_log_store_memoized_per_snapshot(spark, table, spark_jobs):
    """Two log_store() calls with no write between them return the SAME
    store, and the second plans nothing: zero Spark jobs (no schema
    inference over the planned files, no tombstone probe).  row_bound is
    the manifests' recorded row count."""
    table.append(mkbatch(spark, "/a", [10, 20, 30]))
    table.delete_range("dev1", "/a", 0, 15)  # a tombstone: read() probes it
    first = table.log_store()
    second, jobs = spark_jobs(table.log_store)
    assert second is first
    assert jobs == 0
    assert first.row_bound == 3  # recorded rows, before tombstones
    assert first.df.count() == 2


def test_engine_sees_every_write_through_memo(spark, table):
    """One DP3Engine, one memo: after each of append, delete_range,
    truncate and compact the NEXT QL query sees the write — each moves
    the committed watermark or the data generation, so the memo key
    changes."""
    from dp3_spark.engine import DP3Engine

    table.append(mkbatch(spark, "/a", [10, 20, 30]))
    eng = DP3Engine(spark, table=table)

    def times():
        return [r["log_time"] for r in eng.execute("from dev1 /a;").collect()]

    assert times() == [10, 20, 30]
    table.append(mkbatch(spark, "/a", [40]))
    assert times() == [10, 20, 30, 40]
    table.delete_range("dev1", "/a", 0, 15)
    assert times() == [20, 30, 40]
    table.truncate("dev1", "/a", 25)
    assert times() == [30, 40]
    before = table.log_store()
    table.compact()
    after = table.log_store()
    assert after is not before  # same watermark, new generation
    assert after is table.log_store()  # the new generation is memoized
    assert after.row_bound == 2  # compact physically applied the tombstones
    assert times() == [30, 40]
    table.append(mkbatch(spark, "/a", [50]))
    assert times() == [30, 40, 50]


def test_log_store_memo_only_for_manifest_plans(spark, table):
    """Explicit payload_cols, a legacy manifest-less table and a
    manifest-less new generation (a compact that crashed between its
    pointer flip and its base manifest) are planned per call and never
    memoized; off the manifest plan the row bound is unknown."""
    import os

    table.append(mkbatch(spark, "/a", [10, 20]))
    cols = table.log_store(payload_cols=("v",))
    assert table.log_store(payload_cols=("v",)) is not cols
    assert cols.payload_cols == ("v",)
    assert table.log_store() is table.log_store()  # the default does memoize

    shutil.rmtree(os.path.join(table.meta_path, "manifest"))
    # a fresh handle: the table object above already holds this snapshot
    table = VersionedLogTable(spark, table.root, gc_grace_sec=0.0)
    legacy = table.log_store()
    assert table.log_store() is not legacy
    assert legacy.row_bound is None
    assert sorted(r["log_time"] for r in legacy.df.collect()) == [10, 20]

    table.append(mkbatch(spark, "/a", [30]))  # grandfathers a base manifest
    adopted = table.log_store()
    assert table.log_store() is adopted
    assert adopted.row_bound == 3

    table.compact()
    gen = os.path.basename(table._resolve_data_path())
    shutil.rmtree(os.path.join(table.meta_path, "manifest", gen))  # the gap
    gap = table.log_store()
    assert table.log_store() is not gap
    assert gap.row_bound is None
    assert gap.df.count() == 3


def test_log_store_memo_under_concurrent_readers(spark, table):
    """Concurrent service threads (more than cores, with a shortened
    switch interval to force interleavings) share one memo:
    - on a cold memo they all get ONE store (the snapshot is planned once);
    - under live appends each thread's snapshots never go back in time and
      are always whole batches, and after the writer stops every thread
      sees the final snapshot."""
    import sys
    import threading

    BATCH = 20
    rows = lambda k: mkbatch(spark, "/a", list(range(k * 1000, k * 1000 + BATCH)))
    table.append(rows(0))
    readers = 8
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        start = threading.Barrier(readers)
        got: list = [None] * readers

        def cold(i):
            start.wait(timeout=60)
            got[i] = table.log_store()

        ts = [threading.Thread(target=cold, args=(i,)) for i in range(readers)]
        for t in ts:
            t.start()
        for t in ts:
            t.join(timeout=120)
        assert not any(t.is_alive() for t in ts)
        assert len({id(s) for s in got}) == 1

        stop = threading.Event()
        seen: list[list] = [[] for _ in range(readers)]
        err = []

        def writer():
            try:
                for k in range(1, 4):
                    table.append(rows(k))
            except Exception as e:  # pragma: no cover
                err.append(e)
            finally:
                stop.set()

        def reader(i):
            try:
                while not stop.is_set():
                    seen[i].append(table.log_store().row_bound)
                seen[i].append(table.log_store().row_bound)
            except Exception as e:  # pragma: no cover
                err.append(e)

        ts = [threading.Thread(target=reader, args=(i,)) for i in range(readers)]
        ts.append(threading.Thread(target=writer))
        for t in ts:
            t.start()
        for t in ts:
            t.join(timeout=300)
        assert not any(t.is_alive() for t in ts)
    finally:
        sys.setswitchinterval(interval)
    assert not err
    for s in seen:
        assert s == sorted(s), s
        assert all(b % BATCH == 0 for b in s), s
        assert s[-1] == 4 * BATCH
    assert table.log_store().df.count() == 4 * BATCH
