"""Manifest-driven tail (round 10).

The round-10 tail_stream probe measured the file-source tail's
per-trigger re-list at ~25 us per live file — linear in
files-ever-written.  `tail_versions` is the scale path: new data is
discovered from the publish watermark + per-version write manifests
(one small object per version), so per-poll cost is O(versions
delivered), independent of table file count.  Reference parity: the
export-version polling cursor (cli/cmd/tail.go:29-97) re-expressed over
the manifest objects instead of an export listing.
"""

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from dp3_spark.streaming.lifecycle import VersionedLogTable


@pytest.fixture()
def root():
    d = tempfile.mkdtemp(prefix="dp3_tailv_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def mkbatch(spark, times, topic="/a"):
    rows = [("p1", topic, t, i, float(i)) for i, t in enumerate(times)]
    return spark.createDataFrame(
        rows, "producer string, topic string, log_time long, sequence long, v double"
    )


def test_tail_versions_yields_committed_data_slices(spark, root):
    t = VersionedLogTable(spark, root, gc_grace_sec=0.0)
    v1 = t.append(mkbatch(spark, [100, 110]))
    v2 = t.append(mkbatch(spark, [200], topic="/b"))
    vd = t.delete_range("p1", "/a", 0, 50)  # tombstone-only: no slice
    v3 = t.append(mkbatch(spark, [300], topic="/c"))

    got = list(t.tail_versions(0))
    assert [v for v, _ in got] == [v1, v2, v3] and vd not in [v for v, _ in got]
    # each slice carries exactly its version's rows, with the
    # dir-encoded partition column (topic) materialized via basePath
    by_v = {v: sorted(r["log_time"] for r in df.collect()) for v, df in got}
    assert by_v == {v1: [100, 110], v2: [200], v3: [300]}
    assert {r["topic"] for r in got[1][1].collect()} == {"/b"}

    # cursor semantics: resume past v2 delivers only v3
    assert [v for v, _ in t.tail_versions(v2)] == [v3]
    # up_to caps the range
    assert [v for v, _ in t.tail_versions(0, up_to=v2)] == [v1, v2]


def test_tail_versions_never_delivers_uncommitted(spark, root):
    """A crashed writer's manifest sits above the watermark — the tail
    must not deliver it (same invariant as every read path)."""
    t = VersionedLogTable(spark, root, gc_grace_sec=0.0)
    v1 = t.append(mkbatch(spark, [100]))

    # land + manifest WITHOUT the flip (writer died pre-publish)
    before = set(t._list_data_files())
    vx = t._next_version()
    (
        mkbatch(spark, [900], topic="/x")
        .withColumn("version", F.lit(vx))
        .withColumn("producer_bucket", t._bucket_expr())
        .write.mode("append")
        .partitionBy("topic", "producer_bucket")
        .parquet(t._resolve_data_path())
    )
    new_files = [p for p in t._list_data_files() if p not in before]
    t._write_manifest(f"v{vx:012d}.list", new_files, t._file_rows(new_files))

    assert [v for v, _ in t.tail_versions(0)] == [v1]
    # the next healthy write rolls the crashed version back; the tail
    # then delivers the new version and still never saw vx's rows
    v3 = t.append(mkbatch(spark, [300], topic="/c"))
    seen = {v: sorted(r["log_time"] for r in df.collect())
            for v, df in t.tail_versions(v1)}
    assert seen == {v3: [300]}


def test_tail_versions_discovery_never_lists_directories(spark, root, monkeypatch):
    """The whole point: discovery reads the watermark + manifest objects,
    never a directory listing of the data tree."""
    t = VersionedLogTable(spark, root, gc_grace_sec=0.0)
    v1 = t.append(mkbatch(spark, [100]))
    v2 = t.append(mkbatch(spark, [200], topic="/b"))

    def boom(*a, **k):
        raise AssertionError("directory listing during tail discovery")

    monkeypatch.setattr(type(t), "_list_data_files", boom)
    monkeypatch.setattr(type(t), "_list_partition_files", boom)
    monkeypatch.setattr(os, "walk", boom)
    versions = [v for v, _ in t.tail_versions(0)]  # discovery only
    assert versions == [v1, v2]


def test_tail_version_counts_from_manifests(spark, root):
    t = VersionedLogTable(spark, root, gc_grace_sec=0.0)
    v1 = t.append(mkbatch(spark, [100, 110]))
    vd = t.delete_range("p1", "/a", 0, 50)
    v2 = t.append(mkbatch(spark, [200, 210, 220], topic="/b"))
    assert t.tail_version_counts(0) == [(v1, 2), (v2, 3)]
    assert t.tail_version_counts(v1) == [(v2, 3)]
    assert vd not in [v for v, _ in t.tail_version_counts(0)]

    # a landed-but-unpublished version never appears in the plan
    before = set(t._list_data_files())
    vx = t._next_version()
    (
        mkbatch(spark, [900], topic="/x")
        .withColumn("version", F.lit(vx))
        .withColumn("producer_bucket", t._bucket_expr())
        .write.mode("append")
        .partitionBy("topic", "producer_bucket")
        .parquet(t._resolve_data_path())
    )
    new = [p for p in t._list_data_files() if p not in before]
    t._write_manifest(f"v{vx:012d}.list", new, t._file_rows(new))
    assert t.tail_version_counts(0) == [(v1, 2), (v2, 3)]


def test_tail_version_counts_base_range_falls_back(spark, root):
    """A cursor reaching into the base-grandfathered range cannot be
    resolved per-version from manifests -> None (legacy scan path)."""
    t = VersionedLogTable(spark, root, gc_grace_sec=0.0)
    v1 = t.append(mkbatch(spark, [100]))
    # simulate adoption: collapse the per-version manifest into a base
    t._backend.delete(f"{t._manifest_prefix}/v{v1:012d}.list")
    files = t._list_data_files()
    t._write_manifest(f"base_{v1:012d}.list", files, {p: 1 for p in files})
    v2 = t.append(mkbatch(spark, [200], topic="/b"))
    assert t.tail_version_counts(0) is None          # cursor below base wm
    assert t.tail_version_counts(v1) == [(v2, 1)]    # at/above: resolvable


def test_service_tail_uses_manifest_plan(spark, root, monkeypatch):
    """On a manifest-bearing table the /tail route must not run the
    legacy groupBy-scan derivation at all."""
    import json as _json
    import urllib.request

    from dp3_spark.engine import DP3Engine
    from dp3_spark.service import DP3Service

    t = VersionedLogTable(spark, root, gc_grace_sec=0.0)
    for k in range(2):
        t.append(mkbatch(spark, [100 * k, 100 * k + 10], topic=f"/t{k}"))
    eng = DP3Engine(spark, table=t)

    def boom(*a, **k):
        raise AssertionError("legacy scan-tail used on a manifest table")

    monkeypatch.setattr(type(eng), "tail", boom)
    s = DP3Service({"tt": eng})
    host, port = s.start()
    try:
        with urllib.request.urlopen(
            f"http://{host}:{port}/databases/tt/tail?from=0&limit=100"
        ) as r:
            lines = [_json.loads(x) for x in r.read().splitlines() if x]
        assert lines[0]["version"] == 2
        assert sorted(x["log_time"] for x in lines[1:]) == [0, 10, 100, 110]
    finally:
        s.stop()


def test_tail_version_counts_reads_only_needed_manifests(spark, root, monkeypatch):
    """Per-poll cost pin: eligibility is decided from manifest NAMES, so
    the only manifest objects READ are the delivered versions' — not
    every manifest since the last compact."""
    t = VersionedLogTable(spark, root, gc_grace_sec=0.0)
    for k in range(5):
        t.append(mkbatch(spark, [100 * k], topic=f"/t{k}"))

    reads = []
    orig = type(t._backend).get

    def counting_get(self, name):
        if name.endswith(".list"):
            reads.append(os.path.basename(name))
        return orig(self, name)

    monkeypatch.setattr(type(t._backend), "get", counting_get)
    assert t.tail_version_counts(4) == [(5, 1)]
    assert reads == ["v000000000005.list"]


def test_read_manifest_range_single_scan(spark, root):
    t = VersionedLogTable(spark, root, gc_grace_sec=0.0)
    v1 = t.append(mkbatch(spark, [100, 110]))
    t.delete_range("p1", "/a", 0, 50)
    v3 = t.append(mkbatch(spark, [300], topic="/b"))
    v4 = t.append(mkbatch(spark, [400], topic="/c"))

    df = t.read_manifest_range(0, v4)
    assert sorted(r["log_time"] for r in df.collect()) == [100, 110, 300, 400]
    # ONE flat scan, not a version-deep Union plan
    assert "Union" not in df._jdf.queryExecution().executedPlan().toString()
    # range bounds respected; empty range -> None
    df2 = t.read_manifest_range(v1, v3)
    assert sorted(r["log_time"] for r in df2.collect()) == [300]
    assert t.read_manifest_range(v4, v4 + 5) is None


def test_tail_versions_refuses_cursor_under_base_watermark(spark, root):
    """A cursor under a base manifest's watermark must fail LOUDLY: the
    collapsed history has no per-version slices, and yielding only the
    later ones would hand the consumer a silently partial history."""
    t = VersionedLogTable(spark, root, gc_grace_sec=0.0)
    v1 = t.append(mkbatch(spark, [100]))
    t._backend.delete(f"{t._manifest_prefix}/v{v1:012d}.list")
    files = t._list_data_files()
    t._write_manifest(f"base_{v1:012d}.list", files, {p: 1 for p in files})
    v2 = t.append(mkbatch(spark, [200], topic="/b"))
    with pytest.raises(ValueError, match="base manifest watermark"):
        list(t.tail_versions(0))
    assert [v for v, _ in t.tail_versions(v1)] == [v2]  # at the floor: fine
    assert t.read_manifest_range(0, v2) is None  # None -> caller falls back
    got = t.read_manifest_range(v1, v2)
    assert [r["log_time"] for r in got.collect()] == [200]


def test_service_tail_survives_compact_race(spark, root, monkeypatch):
    """Counts plan resolved, then the manifests vanish (compact raced the
    poll): the route must fall back to the scan — the served cursor may
    only advance past rows that were actually served."""
    import json as _json
    import urllib.request

    from dp3_spark.engine import DP3Engine
    from dp3_spark.service import DP3Service

    t = VersionedLogTable(spark, root, gc_grace_sec=0.0)
    t.append(mkbatch(spark, [100, 110]))
    t.append(mkbatch(spark, [200], topic="/b"))
    eng = DP3Engine(spark, table=t)
    # simulate the race: plan succeeds, slice read finds no manifests
    monkeypatch.setattr(
        type(t), "read_manifest_range", lambda self, a, b: None
    )
    s = DP3Service({"tt": eng})
    host, port = s.start()
    try:
        with urllib.request.urlopen(
            f"http://{host}:{port}/databases/tt/tail?from=0&limit=100"
        ) as r:
            lines = [_json.loads(x) for x in r.read().splitlines() if x]
        assert lines[0]["version"] == 2
        assert sorted(x["log_time"] for x in lines[1:]) == [100, 110, 200]
    finally:
        s.stop()


def _count_backend_calls(monkeypatch, backend):
    """Record every list_names / get the table's metadata backend serves."""
    calls = {"list_names": [], "get": []}
    cls = type(backend)
    for meth in calls:
        orig = getattr(cls, meth)

        def wrapped(self, *a, _orig=orig, _log=calls[meth], **k):
            _log.append(a[0] if a else k.get("name", k.get("prefix", "")))
            return _orig(self, *a, **k)

        monkeypatch.setattr(cls, meth, wrapped)
    return calls


def test_tail_poll_metadata_traffic(spark, root, monkeypatch):
    """One /tail poll (counts + range read) pays one name listing per
    call and a get per delivered manifest plus a constant few pointer
    reads — not a re-resolution of the generation per manifest."""
    t = VersionedLogTable(spark, root, gc_grace_sec=0.0)
    for k in range(8):
        t.append(mkbatch(spark, [100 * k], topic=f"/t{k % 3}"))
    hi = t.committed_version()

    for call in (
        lambda: t.tail_version_counts(1),
        lambda: t.read_manifest_range(1, hi),
    ):
        with monkeypatch.context() as m:
            calls = _count_backend_calls(m, t._backend)
            got = call()
        manifests = [n for n in calls["get"] if n.endswith(".list")]
        assert got is not None
        assert len(manifests) == hi - 1  # the 7 delivered versions only
        assert len(calls["list_names"]) == 1
        assert len(calls["get"]) <= len(manifests) + 3


def test_read_manifest_range_survives_generation_flip(spark, root, monkeypatch):
    """A compact that flips the generation at any point of the range read
    yields either None (the route falls back to the scan) or exactly the
    promised rows — never a plan whose files and basePath disagree."""
    t = VersionedLogTable(spark, root, gc_grace_sec=3600.0)
    for k in range(3):
        t.append(mkbatch(spark, [100 * k, 100 * k + 10], topic=f"/t{k}"))
    promised = sum(n for _, n in t.tail_version_counts(0))
    old_gen = t._resolve_data_path()
    t.compact()  # grace window: the old generation stays on disk
    hi = t.committed_version()
    orig = VersionedLogTable._resolve_data_path

    for flip_after in range(1, 12):
        calls = {"n": 0}

        def flipping(self, _after=flip_after):
            calls["n"] += 1
            return old_gen if calls["n"] <= _after else orig(self)

        with monkeypatch.context() as m:
            m.setattr(VersionedLogTable, "_resolve_data_path", flipping)
            df = t.read_manifest_range(0, hi)
            got = None if df is None else df.count()
        assert got in (None, promised), flip_after


def test_read_manifest_range_is_strict(spark, root):
    """A committed file a delivered manifest names vanishes between the
    range read's plan and its scan: the tail body must fail, not silently
    shrink while the cursor advances past the lost rows."""
    t = VersionedLogTable(spark, root, gc_grace_sec=0.0)
    t.append(mkbatch(spark, [100, 110]))
    v2 = t.append(mkbatch(spark, [200, 210], topic="/b"))
    df = t.read_manifest_range(0, v2)
    gone = next(iter(t._manifests()[f"v{v2:012d}.list"]))
    os.remove(os.path.join(t.root, gone))
    with pytest.raises(Exception, match="(?i)file|exist"):
        df.count()
