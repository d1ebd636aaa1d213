"""Offline inspector for a VersionedLogTable root — the architecture-
appropriate analog of the reference's `treeinspect` / `walinspect` CLI
verbs (cli/cmd/treeinspect.go walks the node tree of a local store;
walinspect.go dumps WAL records).  The tree and WAL were replaced
wholesale by hive-partitioned parquet + a commit watermark (SURVEY
§1.4), so what an operator debugging THIS layout needs is the same
information re-expressed: which versions exist, which are published vs
pending (crashed-writer leftovers the next write will GC), how the
files/rows/bytes distribute across versions and partitions, what the
tombstones mask, and which metadata/sidecar objects are present.

Deliberately Spark-free.  On a manifest-bearing table (every table
written since per-version manifests landed) committed files resolve
file -> version/rows straight from `_meta/manifest/<gen>/*.list` with
ZERO parquet-footer reads — the manifest is the WAL-batch record
(wal/walmgr.go) re-expressed; only crash leftovers (on-disk files no
manifest records) pay one footer open each.  Legacy tables fall back
to one footer open per data file.  An inspector that needs a cluster
session to answer "what state is this table in?" is useless in the
situation that makes you reach for it.
"""

from __future__ import annotations

import os
from typing import Any

from dp3_spark.streaming import manifest


def _file_info(path: str) -> tuple[int | None, int, str]:
    """(version, num_rows, status) from ONE ParquetFile open.

    status: 'ok'         — version resolved (row-group stats, column
                           read fallback)
            'no-version' — footer readable but the file has no
                           `version` column or zero rows (a foreign
                           parquet dropped into the tree, NOT a torn
                           write)
            'torn'       — footer unreadable: a crashed writer's
                           partial (committed files land via Spark's
                           task-commit rename, so only an uncommitted
                           write can tear)."""
    import pyarrow.parquet as pq

    try:
        pf = pq.ParquetFile(path)
        md = pf.metadata
        rows = md.num_rows
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        if "version" not in idx or rows == 0:
            return None, rows, "no-version"
        v = None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx["version"]).statistics
            if st is None or st.max is None:
                v = None
                break
            v = st.max if v is None else max(v, st.max)
        if v is None:  # stats missing: read just that column, same handle
            col = pf.read(columns=["version"])["version"]
            v = max(col.to_pylist()) if len(col) else None
        if v is None:
            return None, rows, "no-version"
        return int(v), rows, "ok"
    except Exception:
        return None, 0, "torn"


def _walk_parquet(base: str) -> list[str]:
    out = []
    if not os.path.isdir(base):
        return out
    for dirpath, _, files in os.walk(base):
        out += [
            os.path.join(dirpath, fn)
            for fn in files
            if fn.endswith(".parquet") and not fn.startswith(("_", "."))
        ]
    return sorted(out)


def _read_meta_int(meta: str, name: str) -> int | None:
    p = os.path.join(meta, name)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        txt = f.read().strip()
    return int(txt) if txt else None


def _read_manifests(
    meta: str, gen: str
) -> dict[tuple[bool, int], dict[str, tuple[int, int]]] | None:
    """{manifest.parse_name key -> {root-relative path -> (rows, bytes)}}
    for generation `gen`; None = legacy table (footer resolution
    applies).  The format lives in streaming/manifest.py."""
    mdir = os.path.join(meta, manifest.prefix(gen))
    if not os.path.isdir(mdir):
        return None
    out: dict[tuple[bool, int], dict[str, tuple[int, int]]] = {}
    for name in sorted(os.listdir(mdir)):
        key = manifest.parse_name(name)
        if key is not None:
            with open(os.path.join(mdir, name), "rb") as f:
                out[key] = manifest.parse_lines(f.read())
    return out or None


def inspect_table(root: str) -> dict[str, Any]:
    """Structured state report for a VersionedLogTable directory."""
    import pyarrow.parquet as pq

    meta = os.path.join(root, "_meta")
    committed = _read_meta_int(meta, "committed")
    counter = _read_meta_int(meta, "version")

    gen = "data"
    ptr = os.path.join(meta, "data_ptr")
    if os.path.exists(ptr):
        with open(ptr) as f:
            gen = f.read().strip() or "data"
    data_dir = os.path.join(root, gen)

    manifests = _read_manifests(meta, gen)
    # file -> (version | None for base, rows, committed bytes or -1)
    manifested: dict[str, tuple[int | None, int, int]] = {}
    base = {"files": 0, "rows": 0, "bytes": 0, "watermarks": []}
    if manifests:
        for (is_base, n), entries in manifests.items():
            v: int | None = None if is_base else n
            if is_base:  # committed at <= n, versions unresolved
                base["watermarks"].append(n)
            for rel, (rows, size) in entries.items():
                manifested[rel] = (v, rows, size)

    versions: dict[int, dict[str, int]] = {}
    partitions: dict[str, dict[str, int]] = {}
    torn: list[str] = []
    unversioned: list[str] = []
    # committed files the walk never finds = SILENT DATA LOSS under the
    # default read policy (ignoreMissingFiles skips them without error);
    # surfacing the set is the audit the r9 advice asked for
    unseen = {
        rel
        for rel, (v, _, _) in manifested.items()
        if (v is None or committed is None or v <= committed)
    }
    size_mismatch: list[str] = []
    for path in _walk_parquet(data_dir):
        rel = os.path.relpath(path, root)
        unseen.discard(rel)
        size = os.path.getsize(path)
        if manifests and rel in manifested:
            v, rows, want = manifested[rel]
            if 0 <= want != size and (
                v is None or committed is None or v <= committed
            ):
                # committed at one size, on disk at another: truncation
                # or overwrite — data corruption the default read policy
                # would sail through (wrong rows, maybe a torn footer)
                size_mismatch.append(rel)
            rows = max(rows, 0)
            status = "ok" if v is not None else "base"
        else:
            # unmanifested = crash leftover (manifest tables) or any file
            # (legacy tables): one footer open resolves version + rows
            v, rows, status = _file_info(path)
        if status == "torn":
            torn.append(rel)
            continue
        if status == "no-version":
            unversioned.append(rel)
            continue
        if status == "base":
            base["files"] += 1
            base["rows"] += rows
            base["bytes"] += size
        else:
            agg = versions.setdefault(int(v), {"files": 0, "rows": 0, "bytes": 0})
            agg["files"] += 1
            agg["rows"] += rows
            agg["bytes"] += size
        part = os.path.relpath(os.path.dirname(path), data_dir)
        p = partitions.setdefault(part, {"files": 0, "rows": 0, "bytes": 0})
        p["files"] += 1
        p["rows"] += rows
        p["bytes"] += size

    wm = committed if committed is not None else (counter or 0)
    tombstones: list[dict[str, Any]] = []
    tomb_versions: set[int] = set()
    for path in _walk_parquet(os.path.join(root, "tombstones")):
        unseen.discard(os.path.relpath(path, root))
        try:
            for row in pq.read_table(path).to_pylist():
                v = row.get("version")
                # published: readers apply this tombstone; pending: a
                # crashed delete's unacked tombstone — readers do NOT
                # apply it and the next write GCs it
                row["published"] = v is not None and v <= wm
                tombstones.append(row)
                if v is not None:
                    tomb_versions.add(int(v))
        except Exception:
            torn.append(os.path.relpath(path, root))
    tombstones.sort(key=lambda r: (r.get("version", 0), r.get("producer", "")))

    # pending = allocated above the watermark: complete-but-unacked or a
    # crashed writer's partials; either way the next write GCs them and
    # no reader can see them (version <= committed filter).  Tombstone
    # versions count: a committed tombstone-only version is as published
    # as a data version.
    known = sorted(set(versions) | tomb_versions)
    pending = [v for v in known if v > wm]
    if counter is not None and committed is not None and counter > committed:
        pending = sorted(set(pending) | set(range(committed + 1, counter + 1)))

    sidecars = sorted(
        n for n in (os.listdir(meta) if os.path.isdir(meta) else [])
        if not n.endswith(".tmp")
    )
    # grace-window GC state: entries logically removed but not yet
    # physically swept (quarantined rollbacks, superseded generations)
    gc_pending: dict[str, float] = {}
    lp = os.path.join(meta, "gc_pending.json")
    if os.path.exists(lp):
        try:
            import json as _json

            with open(lp) as f:
                gc_pending = _json.load(f)
        except Exception:
            pass
    quarantined = sorted(
        os.path.relpath(os.path.join(d, fn), os.path.join(meta, "quarantine"))
        for d, _, fns in os.walk(os.path.join(meta, "quarantine"))
        for fn in fns
    )
    generations = sorted(
        n for n in os.listdir(root)
        if os.path.isdir(os.path.join(root, n)) and n.startswith("data")
    )

    rep: dict[str, Any] = {
        "root": os.path.abspath(root),
        "committed": committed,
        "version_counter": counter,
        "generation": gen,
        "generations": generations,
        "manifested": manifests is not None,
        "versions": {str(v): versions[v] for v in sorted(versions)},
        "published_versions": [v for v in known if v <= wm],
        "pending_versions": pending,
        "torn_files": torn,
        "unversioned_files": unversioned,
        "partitions": {
            "count": len(partitions),
            "files": sum(p["files"] for p in partitions.values()),
            "rows": sum(p["rows"] for p in partitions.values()),
            "bytes": sum(p["bytes"] for p in partitions.values()),
        },
        "tombstones": tombstones,
        "meta_objects": sidecars,
        "gc_pending": gc_pending,
        "quarantined_files": quarantined,
        # committed per the manifests but absent on disk: silent data
        # loss under the default read policy — the audit signal
        "missing_committed_files": sorted(unseen),
        # present but not at the size recorded at commit time:
        # truncated/overwritten committed bytes (storage fault)
        "size_mismatch_files": sorted(size_mismatch),
    }
    # trigram-index watermark: "indexed through version N for columns C
    # in generation G".  current=False means the next append will run
    # the full-diff repair (crash between a publish and its index
    # update, a compact's generation swap, or a column-set change).
    twm = os.path.join(meta, "trigram_wm.json")
    if os.path.exists(twm):
        try:
            import json as _json

            with open(twm) as f:
                marker = _json.load(f)
            rep["trigram_index"] = {
                **marker,
                "current": (
                    marker.get("version") == committed
                    and marker.get("generation") == gen
                ),
            }
        except Exception:
            pass
    if base["files"] or base["watermarks"]:
        rep["base"] = {
            "files": base["files"],
            "rows": base["rows"],
            "bytes": base["bytes"],
            "committed_at": max(base["watermarks"], default=wm),
        }
    return rep


def format_report(rep: dict[str, Any]) -> str:
    """Human-oriented rendering of inspect_table (the CLI's default;
    --json emits the dict verbatim)."""
    lines = [
        f"table        {rep['root']}",
        f"generation   {rep['generation']}"
        + (f" (all: {', '.join(rep['generations'])})"
           if len(rep["generations"]) > 1 else ""),
        f"committed    {rep['committed']}",
        f"counter      {rep['version_counter']}",
        f"partitions   {rep['partitions']['count']} dirs, "
        f"{rep['partitions']['files']} files, "
        f"{rep['partitions']['rows']} rows, "
        f"{rep['partitions']['bytes']} bytes",
    ]
    if rep.get("base"):
        b = rep["base"]
        lines.append(
            f"  base     {b['files']} files  {b['rows']} rows  "
            f"{b['bytes']} bytes  [committed <= v{b['committed_at']}]"
        )
    for v in rep["published_versions"]:
        a = rep["versions"].get(str(v))
        detail = (
            f"{a['files']} files  {a['rows']} rows  {a['bytes']} bytes"
            if a else "tombstone only"
        )
        lines.append(f"  v{v:<6} {detail}")
    for v in rep["pending_versions"]:
        a = rep["versions"].get(str(v))
        detail = (
            f"{a['files']} files  {a['rows']} rows  {a['bytes']} bytes"
            if a else "no files landed"
        )
        lines.append(f"  v{v:<6} {detail}  [PENDING: above watermark, next write GCs]")
    for path in rep["torn_files"]:
        lines.append(f"  torn     {path}  [unreadable footer: crashed-writer partial]")
    for path in rep.get("unversioned_files", []):
        lines.append(
            f"  noversion {path}  [readable but no version column — foreign file]"
        )
    if rep["tombstones"]:
        lines.append(f"tombstones   {len(rep['tombstones'])}")
        for t in rep["tombstones"]:
            state = "published" if t.get("published") else "PENDING, not applied"
            lines.append(
                f"  v{t.get('version')} {t.get('producer')}/{t.get('topic')} "
                f"[{t.get('start_ns', t.get('start'))}, "
                f"{t.get('end_ns', t.get('end'))})  [{state}]"
            )
    else:
        lines.append("tombstones   none")
    nq, npend = len(rep.get("quarantined_files", [])), len(rep.get("gc_pending", {}))
    if nq or npend:
        lines.append(
            f"gc           {nq} quarantined file(s), {npend} sweep entr"
            f"{'y' if npend == 1 else 'ies'} pending grace expiry"
        )
    for rel in rep.get("missing_committed_files", []):
        lines.append(
            f"  MISSING  {rel}  [committed per manifest, absent on disk "
            "— silent data loss under the default read policy]"
        )
    for rel in rep.get("size_mismatch_files", []):
        lines.append(
            f"  CORRUPT  {rel}  [on-disk size differs from the size "
            "recorded at commit — truncated or overwritten]"
        )
    if "trigram_index" in rep:
        ti = rep["trigram_index"]
        state = (
            "current"
            if ti.get("current")
            else "STALE: next append runs full-diff repair"
        )
        lines.append(
            f"trigram      indexed through v{ti.get('version')} "
            f"cols={','.join(ti.get('cols', []))} [{state}]"
        )
    lines.append("meta         " + (", ".join(rep["meta_objects"]) or "none"))
    return "\n".join(lines)
