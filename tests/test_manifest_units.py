"""Spark-free unit coverage of the manifest/GC bookkeeping: these paths
must be exercisable without a session (they are what `dp3 inspect` and
the rollback rely on when a cluster is the thing that is broken)."""

import json
import os
import tempfile

import pytest
from unittest.mock import MagicMock

from dp3_spark.streaming import manifest
from dp3_spark.streaming.lifecycle import VersionedLogTable


@pytest.fixture()
def t(tmp_path):
    table = VersionedLogTable(
        spark=MagicMock(), root=str(tmp_path), gc_grace_sec=3600.0
    )
    os.makedirs(tmp_path / "data", exist_ok=True)
    return table


def _touch(root, rel, payload=b"PAR1x"):
    p = os.path.join(root, rel)
    os.makedirs(os.path.dirname(p), exist_ok=True)
    with open(p, "wb") as f:
        f.write(payload)
    return p


def test_manifest_roundtrip_and_committed_union(t):
    f1 = _touch(t.root, "data/part-1.parquet")
    f2 = _touch(t.root, "data/part-2.parquet")
    t._write_manifest("v000000000001.list", [f1], {f1: 3})
    t._write_manifest("v000000000002.list", [f2], {f2: 5})
    t._write_manifest("base_000000000001.list", [f1])

    m = t._manifests()
    assert m["v000000000001.list"] == {"data/part-1.parquet": 3}
    assert m["base_000000000001.list"] == {"data/part-1.parquet": -1}

    # committed union respects the watermark for v-manifests and always
    # includes base entries
    assert t._committed_paths(1) == {"data/part-1.parquet"}
    assert t._committed_paths(2) == {
        "data/part-1.parquet", "data/part-2.parquet"
    }
    assert t._committed_paths(0) == {"data/part-1.parquet"}  # base only


def test_manifest_version_parsing(t):
    assert manifest.parse_name("v000000000042.list") == (False, 42)
    assert manifest.parse_name("base_000000000007.list") == (True, 7)
    assert manifest.parse_name("v000000000009.list.tmp") is None
    assert manifest.parse_name("README") is None
    # two-field (pre-size) lines still read, with bytes unknown
    assert manifest.parse_lines(b"data/a.parquet\t3\n") == {"data/a.parquet": (3, -1)}
    entries = {"data/a.parquet": (3, 120), "tombstones/t.parquet": (-1, 9)}
    assert manifest.parse_lines(manifest.format_lines(entries)) == entries


def test_quarantine_defers_then_sweeps(t):
    f = _touch(t.root, "data/part-x.parquet")
    t._quarantine(f)
    assert not os.path.exists(f)
    q = os.path.join(t.meta_path, "quarantine", "data", "part-x.parquet")
    assert os.path.exists(q)  # bytes retained through the grace window
    assert t._gc_sweep() == 0

    ledger = json.load(open(t._gc_ledger_path))
    json.dump({k: 0.0 for k in ledger}, open(t._gc_ledger_path, "w"))
    assert t._gc_sweep() == 1
    assert not os.path.exists(q)


def test_grace_zero_deletes_immediately(tmp_path):
    t0 = VersionedLogTable(spark=MagicMock(), root=str(tmp_path), gc_grace_sec=0.0)
    f = _touch(str(tmp_path), "data/part-y.parquet")
    t0._quarantine(f)
    assert not os.path.exists(f)
    assert not os.path.exists(
        os.path.join(t0.meta_path, "quarantine", "data", "part-y.parquet")
    )


def test_inspect_reports_gc_state(t):
    from dp3_spark.inspect_tool import format_report, inspect_table

    f = _touch(t.root, "data/part-x.parquet")
    t._quarantine(f)
    rep = inspect_table(t.root)
    assert rep["quarantined_files"] == ["data/part-x.parquet"]
    assert list(rep["gc_pending"]) == ["_meta/quarantine/data/part-x.parquet"]
    assert "1 quarantined file(s), 1 sweep entry" in format_report(rep)


def test_tmp_and_foreign_manifest_names_ignored(t):
    f1 = _touch(t.root, "data/part-1.parquet")
    t._write_manifest("v000000000001.list", [f1], {f1: 1})
    # a crashed manifest write (tmp) and a stray file must not parse
    _touch(t.root, "_meta/manifest/data/v000000000009.list.tmp", b"junk\t1\n")
    _touch(t.root, "_meta/manifest/data/README", b"not a manifest")
    assert set(t._manifests()) == {"v000000000001.list"}


def test_inspect_reports_trigram_watermark(t):
    from dp3_spark.inspect_tool import inspect_table

    t._backend.put("version", b"2")
    t._backend.put("committed", b"2")
    object.__setattr__(t, "trigram_cols", ("props",))
    t._write_trigram_marker(2)
    rep = inspect_table(t.root)
    assert rep["trigram_index"] == {
        "version": 2,
        "cols": ["props"],
        "generation": "data",
        "current": True,
    }
    # a stale marker (crash between publish and index update) reports
    # current=False so the operator knows the next append pays repair
    t._backend.put("committed", b"3")
    rep = inspect_table(t.root)
    assert rep["trigram_index"]["current"] is False


def test_format_report_renders_trigram_line(t):
    from dp3_spark.inspect_tool import format_report, inspect_table

    t._backend.put("version", b"2")
    t._backend.put("committed", b"2")
    object.__setattr__(t, "trigram_cols", ("props",))
    t._write_trigram_marker(2)
    out = format_report(inspect_table(t.root))
    assert "trigram      indexed through v2 cols=props [current]" in out
    t._backend.put("committed", b"3")
    out = format_report(inspect_table(t.root))
    assert "STALE: next append runs full-diff repair" in out
