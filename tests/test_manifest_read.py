"""Manifest-planned snapshot reads (round 10).

`read()` on a manifest-bearing table plans its scan from the write
manifests (`_snapshot`): an explicit committed file list — the
Delta/Iceberg planning shape — instead of a recursive directory listing.
At 100 TB that swaps an object-store LIST over every file ever written
for O(versions since compact) small-object reads, and it makes the
query path strict by construction: an uncommitted file is never opened
(no ignoreMissingFiles needed) and a vanished committed file fails
loudly (the r9-advice truncation hazard, closed structurally; see
test_strict_reads.py for the loud-failure pin).

Pinned here: plan/scan result equality with the listing path, time
travel (including whole-file pruning), crashed-writer invisibility,
zero driver-side data-dir listing on the query path, the compact-race
retry, and the zero-IO no-tombstones answer.
"""

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from dp3_spark.streaming.lifecycle import VersionedLogTable


@pytest.fixture()
def root():
    d = tempfile.mkdtemp(prefix="dp3_manifest_read_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def mkbatch(spark, topic, times, producer="dev1"):
    rows = [(producer, topic, t, i, float(i)) for i, t in enumerate(times)]
    return spark.createDataFrame(
        rows, "producer string, topic string, log_time long, sequence long, v double"
    )


def _rows(df):
    return sorted((r["topic"], r["log_time"]) for r in df.collect())


def _force_listing(monkeypatch):
    monkeypatch.setattr(
        VersionedLogTable, "_walk", lambda self, lo, hi, *, bases: None
    )


def _build(spark, root, **kw):
    t = VersionedLogTable(spark, root, **kw)
    t.append(mkbatch(spark, "/a", [10, 20, 30]))
    t.append(mkbatch(spark, "/b", [100, 110]))
    t.delete_range("dev1", "/a", 0, 15)
    t.append(mkbatch(spark, "/a", [40]))
    return t


def test_read_equals_listing_read(spark, root, monkeypatch):
    t = _build(spark, root)
    planned = _rows(t.read())
    with monkeypatch.context() as m:
        _force_listing(m)
        listed = _rows(t.read())
    assert planned == listed
    assert planned == [("/a", 20), ("/a", 30), ("/a", 40), ("/b", 100), ("/b", 110)]


def test_as_of_equals_listing_as_of(spark, root, monkeypatch):
    t = _build(spark, root)
    for v in range(0, t.committed_version() + 1):
        planned = _rows(t.read(as_of_version=v))
        with monkeypatch.context() as m:
            _force_listing(m)
            listed = _rows(t.read(as_of_version=v))
        assert planned == listed, f"as_of={v}"


def test_as_of_prunes_whole_files_from_plan(spark, root):
    """Time travel skips per-version manifests above as_of entirely —
    whole committed files never enter the scan, not merely their rows."""
    t = _build(spark, root)
    w = t.committed_version()
    full = t._snapshot(w).data
    pruned = t._snapshot(w, prune_to=1).data
    assert full is not None and pruned is not None
    assert set(pruned) < set(full)  # strictly fewer files planned
    # the pruned plan is exactly version 1's manifest (fresh table: no base)
    assert set(pruned) == set(
        os.path.join(t.root, rel) for rel in t._manifests()["v" + "1".zfill(12) + ".list"]
    )


def test_uncommitted_file_never_planned(spark, root):
    """A crashed writer's landed-but-unpublished file is not in any
    committed manifest, so the planned read never opens it — committed
    rows only, with no version-filter reliance and no rollback needed
    first."""
    t = VersionedLogTable(spark, root)
    t.append(mkbatch(spark, "/a", [10, 20]))
    vN = t._next_version()  # allocated, then "crashed" after landing:
    (
        mkbatch(spark, "/a", [900], producer="dev2")
        .withColumn("version", F.lit(vN))
        .withColumn("producer_bucket", t._bucket_expr())
        .write.mode("append")
        .partitionBy("topic", "producer_bucket")
        .parquet(t._resolve_data_path())
    )
    assert t._snapshot(t.committed_version()).data is not None
    raw = spark.read.parquet(t._resolve_data_path())
    assert raw.count() == 3  # the partial IS on disk...
    assert _rows(t.read()) == [("/a", 10), ("/a", 20)]  # ...never planned


def test_query_path_does_no_data_dir_listing(spark, root, monkeypatch):
    """The plan comes from manifest small-objects: the driver-side data
    listing helpers must never run under read()."""
    t = _build(spark, root)

    def boom(*a, **k):
        raise AssertionError("data-dir listing on the manifest query path")

    monkeypatch.setattr(VersionedLogTable, "_list_data_files", boom)
    monkeypatch.setattr(VersionedLogTable, "_list_tombstone_files", boom)
    monkeypatch.setattr(VersionedLogTable, "_list_partition_files", boom)
    assert len(_rows(t.read())) == 5


def test_no_tombstones_answered_with_zero_io(spark, root, monkeypatch):
    """A table with no deletes answers 'no tombstones' straight from the
    manifest plan — the listing reader must not even be constructed."""
    t = VersionedLogTable(spark, root)
    t.append(mkbatch(spark, "/a", [10]))

    def boom(self):
        raise AssertionError("listing reader built despite a complete plan")

    monkeypatch.setattr(VersionedLogTable, "_batch_reader", boom)
    assert t._tombstones(t._snapshot(t.committed_version())) is None
    assert _rows(t.read()) == [("/a", 10)]


def test_compact_race_retries_to_new_generation(spark, root, monkeypatch):
    """A generation flip between the plan's pin and its re-check retries
    once against the new generation instead of serving a torn plan."""
    t = _build(spark, root, gc_grace_sec=3600.0)
    old_gen = t._resolve_data_path()
    t.compact()
    new_gen = t._resolve_data_path()
    assert old_gen != new_gen

    orig = VersionedLogTable._resolve_data_path
    calls = {"n": 0}

    def flaky(self):
        calls["n"] += 1
        # the first resolution (the pin) sees the OLD generation — as a
        # reader would mid-flip; every later one sees the new pointer
        return old_gen if calls["n"] == 1 else orig(self)

    monkeypatch.setattr(VersionedLogTable, "_resolve_data_path", flaky)
    plan = t._snapshot(t.committed_version())
    assert plan.data is not None
    gen_path, paths = plan.gen, plan.data
    assert gen_path == new_gen
    assert all(p.startswith(new_gen + os.sep) for p in paths)


def test_legacy_table_falls_back_to_listing(spark, root):
    """No manifests -> no plan -> the listing scan serves the read."""
    t = VersionedLogTable(spark, root, gc_grace_sec=0.0)
    t.append(mkbatch(spark, "/a", [10, 20]))
    shutil.rmtree(os.path.join(t.meta_path, "manifest"))  # simulate legacy
    assert t._snapshot(t.committed_version()).data is None
    assert _rows(t.read()) == [("/a", 10), ("/a", 20)]


def test_read_plans_with_one_manifest_walk(spark, root):
    """read() plans data AND tombstones from ONE manifest walk: each
    manifest object is fetched exactly once and the listing runs once —
    at 100 TB the plan cost is O(versions), not 2x O(versions)."""
    t = _build(spark, root)
    # the one walk yields both plans: every data and tombstone file
    snap = t._snapshot(t.committed_version())
    assert {os.path.relpath(p, t.root) for p in snap.data + snap.tombs} == set(
        t._committed_paths(t.committed_version())
    )
    assert snap.tombs and all(p.startswith(snap.gen + os.sep) for p in snap.data)
    gets, lists = [], []
    real = t._backend

    class CountingBackend:
        def __getattr__(self, name):  # pass everything else through
            return getattr(real, name)

        def get(self, name):
            gets.append(name)
            return real.get(name)

        def list_names(self, prefix=""):
            lists.append(prefix)
            return real.list_names(prefix)

    t.pointer_backend = CountingBackend()  # constructor-field override
    try:
        t.read()
    finally:
        t.pointer_backend = None
    manifest_gets = [n for n in gets if ".list" in n]
    assert manifest_gets, "read() did not plan from manifests"
    assert len(manifest_gets) == len(set(manifest_gets))  # each once
    manifest_lists = [p for p in lists if p.startswith("manifest/")]
    assert len(manifest_lists) == 1  # one walk, not one per kind


def test_planned_read_survives_compact_of_snapshot(spark, root):
    """A frame planned before a compact stays readable through the grace
    window (the old generation's files are deferred, not deleted)."""
    t = _build(spark, root, gc_grace_sec=3600.0)
    df = t.read()  # planned against the pre-compact generation
    before = _rows(df)
    t.compact()
    assert _rows(df) == before  # old-gen files still on disk (grace)
    assert _rows(t.read()) == before  # and the new plan agrees
