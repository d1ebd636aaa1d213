"""strict_reads + quarantine-ledger ordering (round 10, r9 ADVICE).

`ignoreMissingFiles` cannot tell the modeled GC race apart from real
data loss — a committed file removed by a storage fault or an operator
mistake would silently truncate the result.  Mitigations pinned here:
`strict_reads=True` drops the option from every read path (loud failure
on ANY vanished file), and the default grace window is hours-scale so
only pathological scans can cross a sweep.

Quarantine ordering: the GC-ledger entry is written BEFORE the rename,
so a crash between the two leaves an expired ledger entry (harmless)
rather than an orphan quarantine file nothing would ever delete.
"""

import json
import os
import shutil
import tempfile

import pytest

from dp3_spark.streaming.lifecycle import VersionedLogTable


@pytest.fixture()
def root():
    d = tempfile.mkdtemp(prefix="dp3_strict_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def mkbatch(spark, times, topic="/a"):
    rows = [("p1", topic, t, i, float(i)) for i, t in enumerate(times)]
    return spark.createDataFrame(
        rows, "producer string, topic string, log_time long, sequence long, v double"
    )


def _one_committed_file(t):
    files = t._list_data_files()
    assert files
    return files[0]


def test_default_read_fails_loudly_on_vanished_committed_file(spark, root):
    """Round 10: the manifest-planned read closes the r9-advice hazard
    STRUCTURALLY on manifest-bearing tables — the plan names exactly the
    committed files, so a vanished one fails the scan loudly under the
    DEFAULT policy (no strict_reads needed; there is no listing whose
    gaps ignoreMissingFiles must paper over)."""
    t = VersionedLogTable(spark, root, gc_grace_sec=0.0)
    t.append(mkbatch(spark, [100, 110]))
    t.append(mkbatch(spark, [200, 210], topic="/b"))
    df = t.read()  # manifest-planned: explicit committed file list
    os.remove(_one_committed_file(t))
    with pytest.raises(Exception, match="(?i)file|exist"):
        df.count()


def test_listing_fallback_skips_vanished_committed_file(spark, root, monkeypatch):
    """The documented hazard lives on ONLY in the listing fallback
    (legacy tables / a compact racing the plan): with the default policy
    a committed file that vanishes between listing and open is SKIPPED
    (truncated result, no error) — pinned here so the residual tradeoff
    stays a documented one rather than a surprise."""
    t = VersionedLogTable(spark, root, gc_grace_sec=0.0)
    t.append(mkbatch(spark, [100, 110]))
    t.append(mkbatch(spark, [200, 210], topic="/b"))
    monkeypatch.setattr(
        VersionedLogTable, "_walk", lambda self, lo, hi, *, bases: None
    )
    df = t.read()  # listing happens here
    os.remove(_one_committed_file(t))
    assert df.count() < 4  # silently truncated — the fallback contract


def test_strict_reads_fails_loudly_on_vanished_file(spark, root):
    t = VersionedLogTable(spark, root, gc_grace_sec=0.0, strict_reads=True)
    t.append(mkbatch(spark, [100, 110]))
    t.append(mkbatch(spark, [200, 210], topic="/b"))
    df = t.read()  # listing happens here
    os.remove(_one_committed_file(t))
    with pytest.raises(Exception, match="(?i)file|exist"):
        df.count()


def test_strict_reads_normal_operation_unaffected(spark, root):
    t = VersionedLogTable(spark, root, gc_grace_sec=0.0, strict_reads=True)
    t.append(mkbatch(spark, [100, 110]))
    t.delete_range("p1", "/a", 0, 105)
    assert [r["sequence"] for r in t.read().collect()] == [1]


def test_default_grace_window_is_hours_scale():
    # the r9 advice: a 900 s default contradicted the module's own
    # "hours-scale in a real deployment" and shrank the window in which
    # ignoreMissingFiles is guaranteed to only hide the modeled race
    import dataclasses

    f = {x.name: x for x in dataclasses.fields(VersionedLogTable)}
    assert f["gc_grace_sec"].default >= 3600.0


def test_quarantine_ledger_written_before_rename(spark, root, monkeypatch):
    """Crash between ledger write and rename leaves only an expired
    ledger entry; crash can no longer orphan a quarantine file."""
    t = VersionedLogTable(spark, root, gc_grace_sec=3600.0)
    t.append(mkbatch(spark, [100]))
    victim = _one_committed_file(t)

    class Boom(Exception):
        pass

    orig_replace = os.replace

    def crash_replace(src, dst):
        # crash ONLY the quarantine rename; the ledger's own tmp+replace
        # (which must land FIRST) goes through
        if os.sep + "quarantine" + os.sep in dst:
            raise Boom()
        return orig_replace(src, dst)

    monkeypatch.setattr(os, "replace", crash_replace)
    with pytest.raises(Boom):
        t._quarantine(victim)
    monkeypatch.undo()

    # the ledger already covers the dest-to-be; the data file is intact
    assert os.path.exists(victim)
    with open(t._gc_ledger_path) as f:
        ledger = json.load(f)
    rel = os.path.relpath(victim, t.root)
    assert any(rel in k for k in ledger)

    # an expired entry for a never-created file sweeps without error
    for k in list(ledger):
        ledger[k] = 0.0
    with open(t._gc_ledger_path, "w") as f:
        json.dump(ledger, f)
    assert t._gc_sweep() >= 1
    assert os.path.exists(victim)  # the committed file was never touched


def test_quarantine_immediate_mode_still_deletes(spark, root):
    """grace<=0 defers AFTER the rename (deferring first would unlink a
    not-yet-existing dest then leak the renamed file)."""
    t = VersionedLogTable(spark, root, gc_grace_sec=0.0)
    t.append(mkbatch(spark, [100]))
    victim = _one_committed_file(t)
    t._quarantine(victim)
    assert not os.path.exists(victim)
    qdir = os.path.join(t.meta_path, "quarantine")
    leftover = [
        os.path.join(dp, f) for dp, _, fs in os.walk(qdir) for f in fs
    ]
    assert leftover == []  # immediate mode leaves no quarantine residue


def test_verify_files_audit_detects_loss(spark, root):
    """verify_files + inspect surface the silent-loss scenario the
    default read policy cannot distinguish from the modeled GC race."""
    from dp3_spark.inspect_tool import format_report, inspect_table

    t = VersionedLogTable(spark, root, gc_grace_sec=0.0)
    t.append(mkbatch(spark, [100, 110]))
    t.append(mkbatch(spark, [200], topic="/b"))
    rep = t.verify_files()
    assert rep["missing"] == [] and rep["uncommitted"] == []
    assert rep["checked"] >= 2

    victim = _one_committed_file(t)
    os.remove(victim)
    rel = os.path.relpath(victim, t.root)
    assert t.verify_files()["missing"] == [rel]
    irep = inspect_table(t.root)
    assert irep["missing_committed_files"] == [rel]
    assert "MISSING" in format_report(irep)


def test_verify_files_flags_crashed_writer_leftovers(spark, root):
    t = VersionedLogTable(spark, root, gc_grace_sec=0.0)
    t.append(mkbatch(spark, [100]))
    # land files without manifest or flip (writer died mid-write)
    from pyspark.sql import functions as F

    (
        mkbatch(spark, [900], topic="/x")
        .withColumn("version", F.lit(t.current_version() + 1))
        .withColumn("producer_bucket", t._bucket_expr())
        .write.mode("append")
        .partitionBy("topic", "producer_bucket")
        .parquet(t._resolve_data_path())
    )
    rep = t.verify_files()
    assert rep["missing"] == []
    assert len(rep["uncommitted"]) == 1  # the crashed leftover, GC'd next write


def test_audit_clean_after_compact_and_sweep(spark, root):
    """Swept pre-compact tombstones are INTENTIONAL deletions: the GC
    retires them from the manifests, so the loss audit stays clean on a
    healthy table (no permanent false MISSING alarms)."""
    from dp3_spark.inspect_tool import inspect_table

    t = VersionedLogTable(spark, root, gc_grace_sec=0.0)
    t.append(mkbatch(spark, [100, 110]))
    t.delete_range("p1", "/a", 0, 105)
    t.append(mkbatch(spark, [200], topic="/b"))
    t.compact()  # grace 0: old gen + pre-compact tombstones deleted NOW
    rep = t.verify_files()
    assert rep["missing"] == []
    assert inspect_table(t.root)["missing_committed_files"] == []
    assert sorted(r["log_time"] for r in t.read().collect()) == [110, 200]
