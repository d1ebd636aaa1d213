"""Table lifecycle: versioned writes, range delete, truncate, export
versions, tail — the rootmap/tombstone subsystem rebuilt Spark-first
(SURVEY.md §2.5).

Reference mechanisms -> Spark-native equivalents:

- rootmap version per write (rootmap/sqlrootmap.go)    -> monotonically
  increasing `version` recorded per ingest batch in a versions table
- range delete tombstones applied lazily at read
  (tree/tree.go:118-207, tree/iterator.go:268-337)     -> tombstone table
  anti-applied at scan time (predicate, pushed down by Catalyst)
- truncate = min-version pinning (treemgr.go:998-1010) -> truncate tombstone
  with an open time range up to the cutoff
- export with per-topic versions + tail polling
  (routes/export.go, cli/cmd/tail.go)                  -> read-at-version:
  scans filter `ingest_version <= v`; tail = incremental read of versions
  (v_from, v_to]

With Delta/Iceberg the versions table and tombstones collapse into the
table format's transaction log; this implementation keeps plain parquet
(container has no Delta) but isolates every read behind `read()` so the
storage backend can change without touching operators.

Atomic publish (the rootmap-flip analog, treemgr/treemgr.go:866-876):
every write allocates a version, lands its parquet files durably, and
only then flips the `_meta/committed` watermark (tmp + fsync +
os.replace — one small-object conditional put on a real object store).
Every read path filters `version <= committed`, so a reader racing a
writer NEVER observes a partially-committed file set: in-flight files
carry an unpublished version and are invisible until the flip, which
exposes the whole batch at once.  A writer that crashes mid-land (or
between landing and the flip) leaves files with versions in
`(committed, counter]`; the next write GCs them at start, under the
writer lock, BEFORE allocating its own version (`_gc_uncommitted`) —
so a later writer's flip can never expose an earlier writer's partial
(or complete-but-unacknowledged) batch.  A write is durable iff its
flip happened; anything else rolls back.  This is the all-or-nothing
the reference gets from WAL replay (wal/walmgr.go) — with rollback
instead of replay, since the inbound batch is re-submittable upstream
(the ingest path dedups on (producer, topic, log_time, sequence)).

Per-version write manifests (round 9): every append/delete records the
file set it landed — `_meta/manifest/<generation>/v{N}.list`, one line
per file in the format `manifest.py` owns, written tmp+fsync+replace
BEFORE the watermark flip — the WAL-batch record the reference gets from
wal/walmgr.go's replay log, re-expressed as a commit manifest.
Rollback (`_gc_uncommitted`) and the offline inspector resolve
file -> version from the manifests with ZERO parquet-footer reads: a
live file absent from every committed manifest is uncommitted by
construction (its writer died before recording it, or recorded it
under a version above the watermark).  Manifests are per-generation so
compact's pointer flip atomically switches the authoritative manifest
set with the data: the new generation's `base_*.list` manifest is
written right after the flip (a crash in between leaves the new
generation manifest-less, which degrades gracefully to the legacy
footer path until the next write grandfathers it), and the old
generation's manifest dir is retired with the old data files.  Legacy
tables (no manifests) fall back to the original footer-resolution
path; the first write on one grandfathers the existing committed
files into a `base_*.list`.

Reader-vs-GC race (round 9): physical deletion is decoupled from
logical rollback.  `_gc_uncommitted` QUARANTINE-renames uncommitted
files out of the data tree (so no later reader lists them, and the
next flip cannot expose them) and the quarantined bytes are unlinked
only after `gc_grace_sec` by the deferred sweep (`_gc_sweep`, ledger
`_meta/gc_pending.json`).  compact() likewise defers the superseded
generation + pre-compact tombstone files for the same grace window
instead of deleting them under a running reader.  Readers set
`ignoreMissingFiles` on the scan: a file that vanishes between a
reader's listing and its open can only be a quarantined uncommitted
file — above the reader's watermark, so skipping it is exactly what
the version filter would have done — or a superseded generation past
the grace window (out of the read contract, like reading a Delta
table across a VACUUM horizon).  Within the grace window the module
invariant is strict: a reader never observes a partially-committed
file set AND never fails on a listed-then-rolled-back file.

`ignoreMissingFiles` cannot distinguish the modeled race from real data
loss (a storage fault, an accidental delete, a scan that outlives the
grace window): outside the contract it would silently truncate instead
of failing loudly.  On a MANIFEST-BEARING table the query path no
longer pays that tradeoff at all (round 10): `read()` plans the scan
from the write manifests (`_snapshot`) — an explicit committed file
list, so an uncommitted file is never opened (nothing to tolerate) and
a vanished COMMITTED file fails loudly by construction, with no
directory listing at plan time (the 100 TB win: O(versions since
compact) small-object reads instead of an object-store LIST over every
file).  The manifest tail (`tail_versions`, `read_manifest_range`)
reads its manifest-named files through the same strict scan.  Every
manifest question — snapshot plan, tail poll, rollback, audit — is
answered by one generation-pinned walk (`_walk`).  The listing path —
with its two mitigations: the hours-scale default `gc_grace_sec`
(21600 s) so only pathological scans outlive it, and
`strict_reads=True` turning the option off on every read path —
remains for legacy tables, plan-vs-compact races, and the file-stream
tail.

A `compact()` pass physically drops tombstoned rows and rewrites — the
reference's merge-time mask application.
"""

from __future__ import annotations

import os
import threading
from dataclasses import dataclass, field
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dp3_spark.streaming import manifest

LOG_SCHEMA_META = "producer string, topic string, log_time long, sequence long"
TOMBSTONE_SCHEMA = (
    "producer string, topic string, start_ns long, end_ns long, version long"
)


# sentinel: _publish re-reads the current committed value (see _publish)
_READ_CURRENT = object()


class StaleWriterError(RuntimeError):
    """The committed-pointer CAS failed: another writer advanced the
    watermark while this write thought it held the lease (possible only
    with a TTL-lease backend whose lease expired mid-write — the local
    flock backend cannot produce it).  The write is aborted BEFORE its
    version becomes visible; its landed files sit above the real
    watermark and are quarantined by the next writer's
    `_gc_uncommitted`."""


class Snapshot(NamedTuple):
    """The read plan of one committed snapshot (VersionedLogTable._snapshot).
    data/tombs None: no manifest plan (legacy table, or compacts raced
    the walk twice), so the scans list the directories — still filtered
    at `watermark`, so data and tombstones see one snapshot either way."""

    watermark: int  # every scan of the snapshot keeps version <= this
    gen: str  # data generation dir, pinned with the plan
    data: list[str] | None  # committed data files
    tombs: list[str] | None  # committed tombstone files
    bound: int | None  # summed recorded data rows; None if any unknown


@dataclass
class VersionedLogTable:
    """A writable dp3-style table: parquet data dir + tombstones dir.

    Writes are append-only with an `ingest_version` column; deletes are
    tombstones; reads apply both lazily (zero rewrite cost, exactly the
    reference's lazy delete-mask application)."""

    spark: SparkSession
    root: str
    # payload string columns to write parquet bloom filters for on every
    # append/compact — the trigram-signature pruning analog (see
    # streaming/ingest.bloom_options): string-equality probes skip row
    # groups whose bloom filter excludes the value.
    bloom_cols: tuple[str, ...] = ()
    # payload string columns to maintain the trigram-signature sidecar
    # index for (operators/trigram.py — per-FILE pruning, the direct
    # statfilter.go:102-127 analog; bloom filters above prune at
    # row-group granularity, the sidecar prunes before any footer is
    # opened).  Maintained incrementally: append() indexes only the
    # files the batch just wrote, compact() rebuilds over the new
    # generation.
    trigram_cols: tuple[str, ...] = ()
    # Number of producer hash buckets in the at-rest layout.  The table
    # hive-partitions by (topic, producer_bucket) — NOT by raw producer:
    # producers are unbounded-cardinality (the sf1 sweep measured a
    # 10k-producer fixture exploding into ~100k partition dirs of tiny
    # files, minutes of filesystem overhead per append; at 100 TB that
    # layout is a small-files catastrophe and a listing-cost wall).
    # Bucketing bounds the partition count at topics x buckets while
    # producer-equality probes still prune: partition pruning via the
    # constant-folded bucket of the probe value, then parquet row-group
    # min/max (appends sort by producer within each bucket file) + the
    # producer bloom filter written on every append, then the trigram
    # sidecar at file granularity.
    producer_buckets: int = 64
    # Parquet codec for appends/compactions.  zstd: ~25-35% smaller files
    # than snappy on log-shaped data at comparable scan speed — at 100 TB
    # that is tens of TB of storage and proportional scan I/O; the
    # reference compresses its tree nodes with zstd too (nodestore).
    # Existing tables mix codecs per file harmlessly (parquet is
    # per-column-chunk codec'd; readers dispatch from metadata).
    compression: str = "zstd"
    # Grace window (seconds) between LOGICAL removal of a file (quarantine
    # out of the data tree / generation supersession) and its PHYSICAL
    # unlink by the deferred sweep.  Sized to outlive any in-flight
    # query's listing-to-open gap so a reader never fails on a file it
    # already listed; 0 = delete immediately (tests; single-process use
    # where no concurrent reader exists).  The Delta-VACUUM-retention
    # analog; the default IS hours-scale so a reader has to be
    # pathologically slow (not merely unlucky) before ignoreMissingFiles
    # can hide a post-grace sweep from it.  Storage cost of the window is
    # bounded: only quarantined-uncommitted files and superseded
    # generations sit in it, never live data.
    gc_grace_sec: float = 21600.0
    # strict_reads=True drops ignoreMissingFiles from every LISTING read
    # path: any file that vanishes between listing and open — even the
    # modeled quarantine race — fails the scan loudly instead of being
    # skipped.  The manifest-planned reads (_snapshot, tail_versions,
    # read_manifest_range) are strict by construction regardless of
    # this flag; the flag governs the paths that still list (legacy
    # tables, plan-race fallback, tail_stream).  Use for audit reads and
    # wherever silent truncation is worse than a retried query (module
    # header, "silent data loss" paragraph).
    strict_reads: bool = False
    # Version-pointer / writer-lease backend (meta_backend.py contract):
    # None = local POSIX `_meta` dir.  A deployment on an object store
    # passes an implementation whose conditional_put is the store's
    # conditional write and whose writer_lease is a TTL lease — the ONLY
    # class that changes when the table leaves a local filesystem.
    pointer_backend: object | None = None
    # log_store()'s one-entry snapshot memo ((generation, watermark),
    # LogStore) and the lock that makes its check-plan-store one step —
    # internal state, not constructor arguments
    _store_memo: tuple | None = field(
        default=None, init=False, repr=False, compare=False
    )
    _store_lock: threading.Lock = field(
        default_factory=threading.Lock, init=False, repr=False, compare=False
    )

    @property
    def data_path(self) -> str:
        return os.path.join(self.root, "data")

    @property
    def tombstones_path(self) -> str:
        return os.path.join(self.root, "tombstones")

    @property
    def meta_path(self) -> str:
        return os.path.join(self.root, "_meta")

    @property
    def _backend(self):
        """The version-pointer/lease backend every `_meta` small-object
        touch goes through (meta_backend.py; r9 verdict's "last
        local-POSIX assumption").  `pointer_backend` (constructor field)
        overrides; default is the local POSIX implementation.  The
        quarantine dir is deliberately NOT behind this — it holds data
        bytes, not pointers (see meta_backend module docstring)."""
        b = self.pointer_backend
        if b is not None:
            return b
        b = self.__dict__.get("_backend_cache")
        if b is None:
            from dp3_spark.streaming.meta_backend import LocalMetaBackend

            b = LocalMetaBackend(self.meta_path)
            self.__dict__["_backend_cache"] = b
        return b

    # ------------------------------------------------------------- write
    def current_version(self) -> int:
        """O(1) version lookup from a counter object — the rootmap's
        `SELECT max(version)` over a tiny metadata table
        (rootmap/sqlrootmap.go), NOT a scan of the data table.  At 100 TB
        a per-append max() over the data would pay a full file-listing +
        footer read per write; the counter is one small object.  Falls
        back to a one-time scan for tables created before the counter
        existed."""
        raw = self._backend.get("version")
        if raw is not None:
            return int(raw.decode().strip() or "0")
        # the one unfiltered read: every version on disk, committed or not
        v = 0
        for path in (self._resolve_data_path(), self.tombstones_path):
            try:
                df = self._batch_reader().parquet(path)
            except Exception:
                continue
            v = max(v, df.agg(F.max("version")).collect()[0][0] or 0)
        self._write_version(v)
        return v

    def _write_version(self, v: int) -> None:
        self._backend.put("version", str(v).encode())

    def committed_version(self) -> int:
        """The atomic-publish watermark: the highest version whose write
        (data files or tombstone) has been durably published.  Readers
        filter `version <= committed`, so versions allocated by an
        in-flight writer are invisible until its flip — the rootmap-flip
        snapshot isolation (treemgr/treemgr.go:866-876).  Tables written
        before the watermark existed have no file; there every allocated
        version is complete by construction, so fall back to the
        counter."""
        raw = self._backend.get("committed")
        if raw is not None:
            return int(raw.decode().strip() or "0")
        return self.current_version()

    def _publish(self, v: int, expected_version=_READ_CURRENT) -> None:
        """Flip the committed watermark to v with a COMPARE-AND-SWAP on
        the pointer object (locally: tmp + fsync + os.replace under the
        held lease; object store: one conditional put).  Called only
        after the write's files are fully landed.

        Why conditional and not a plain put: the writer lease is a hard
        kernel guarantee locally, but its object-store analog is a TTL
        lease — a zombie writer whose lease expired could otherwise
        clobber a successor's flip.  A stale CAS aborts the write with
        StaleWriterError; the zombie's landed files are above the real
        watermark, so the next writer's `_gc_uncommitted` rolls them
        back — nothing partially-published ever becomes visible.

        expected_version is the committed version the WRITE captured at
        its start (append/delete pass `version - 1`, pinned when they
        allocated under the lease) — NOT re-read here: a zombie that
        re-read at publish time would see its successor's newer value,
        CAS "successfully", and REGRESS the watermark, exposing the
        successor's committed files to the next rollback pass.  Pass
        None to require the pointer to not exist yet (the legacy-table
        bootstrap); the _READ_CURRENT default (read-then-swap, safe
        only under a held hard lease) serves direct test/tooling calls."""
        if expected_version is _READ_CURRENT:
            expected = self._backend.get("committed")
        elif expected_version is None:
            expected = None
        else:
            expected = str(expected_version).encode()
        if not self._backend.conditional_put("committed", str(v).encode(), expected):
            raise StaleWriterError(
                f"committed-pointer CAS failed flipping to {v} (expected "
                f"{expected!r}): another writer advanced the watermark "
                "(expired lease?) — this write is aborted; its files "
                "roll back on the next write"
            )

    def _writer_lock(self):
        """Exclusive lease serializing WRITERS (append / delete /
        compact) — readers never take it.  Without this, two concurrent
        appends can both read counter N and allocate the same version
        N+1 (colliding versions corrupt the history the watermark
        protects), and a compact racing an append can drop the appended
        files with the superseded generation.  The reference gets this
        for free by funneling all writes through one treemgr process;
        here any process can open the table, so the lease enforces the
        same single-writer-at-a-time discipline.  Held for the write's
        full duration; see meta_backend.LocalMetaBackend.writer_lease
        for the local (flock) and object-store (TTL lease) semantics."""
        return self._backend.writer_lease()

    # ------------------------------------------------ manifests / GC
    @property
    def manifest_path(self) -> str:
        """Manifest dir for the CURRENT generation.  Per-generation so
        compact's data_ptr flip atomically switches the authoritative
        manifest set together with the data it describes — a shared dir
        would leave a window where the pointer and the manifests
        disagree about which paths are committed."""
        return os.path.join(self.meta_path, self._manifest_prefix)

    def _write_manifest(
        self, name: str, files: list[str], rows: dict[str, int] | None = None
    ) -> None:
        """Record `files` under manifest `name` (manifest.py format); tmp
        + fsync + replace (the same small-object durability discipline
        as the watermark).  rows may be unknown (-1) for base manifests
        — GC never needs it, only the inspector's report does.  bytes is
        the file size at commit time (one stat per freshly-landed file,
        paid once at write), so verify_files can detect TRUNCATED
        committed files, not just missing ones; -1 when unknown."""

        def _size(p: str) -> int:
            try:
                return os.path.getsize(p)
            except OSError:
                return -1

        entries = {
            os.path.relpath(p, self.root): ((rows or {}).get(p, -1), _size(p))
            for p in files
        }
        self._backend.put(
            f"{self._manifest_prefix}/{name}", manifest.format_lines(entries)
        )

    @property
    def _manifest_prefix(self) -> str:
        """Backend name prefix (relative to _meta) of the CURRENT
        generation's manifests — for the write paths, which hold the
        writer lock; readers pin the generation through _walk."""
        return manifest.prefix(os.path.basename(self._resolve_data_path()))

    def _walk(self, lo: int, hi: int | None, *, bases: bool):
        """The one manifest reader: (generation path, base floor,
        {manifest name -> {root-relative path -> (rows, bytes)}}), or
        None.

        Reads the per-version manifests with lo < N <= hi (hi None: no
        upper bound) and, when `bases`, every base manifest.  The
        generation is resolved once and its manifest names listed once;
        eligibility is decided from the NAME before any get, so a tail
        poll reads only the versions it delivers.  The base floor is the
        highest base watermark (0 when none) from the same listing:
        versions at or below it were grandfathered or compacted and have
        no per-version manifest, so a tail walk (bases=False) whose
        cursor reaches under it reads nothing.

        None: the generation has no manifests (legacy table, or the
        compact flip -> base-manifest gap), or the generation pointer
        moved during the walk twice.  The pointer is re-read after the
        reads; a flip (old manifests partly swept, new base not yet
        seen) retries once against the new generation.  Callers fall
        back to the listing scan, whose grace-window semantics cover
        every race."""
        for _ in range(2):
            gen_path = self._resolve_data_path()
            listed = {
                full: parsed
                for full in self._backend.list_names(
                    manifest.prefix(os.path.basename(gen_path))
                )
                if (parsed := manifest.parse_name(full)) is not None
            }
            if not listed:
                return None
            floor = max((n for is_base, n in listed.values() if is_base), default=0)
            wanted = [
                full
                for full, (is_base, n) in listed.items()
                if (bases if is_base else lo < n and (hi is None or n <= hi))
            ]
            if not bases and lo < floor:
                wanted = []  # the tail caller answers from the floor alone
            mans = {}
            for full in wanted:
                raw = self._backend.get(full)
                if raw is None:
                    break  # swept between list and get: a compact raced
                mans[os.path.basename(full)] = manifest.parse_lines(raw)
            else:
                if self._resolve_data_path() == gen_path:
                    return gen_path, floor, mans
        return None

    def _data_files(self, gen_path: str, entries: dict) -> dict[str, int]:
        """{absolute path -> recorded rows} of the data files among one
        manifest's entries (a delete's manifest names tombstones only)."""
        gen = os.path.basename(gen_path)
        return {
            os.path.join(self.root, rel): rows
            for rel, (rows, _) in entries.items()
            if rel.split(os.sep, 1)[0] == gen
        }

    def _manifests(self) -> dict[str, dict[str, int]] | None:
        """{manifest_name -> {root-relative path -> rows}} for the current
        generation, or None when the table predates manifests (legacy
        footer-resolution path applies)."""
        walk = self._walk(0, None, bases=True)
        if walk is None:
            return None
        return {
            name: {rel: rows for rel, (rows, _) in entries.items()}
            for name, entries in walk[2].items()
        }

    def _committed_paths(self, committed: int) -> set[str] | None:
        """Union of root-relative paths in committed manifests, or None
        on a legacy (manifest-less) table."""
        walk = self._walk(0, committed, bases=True)
        if walk is None:
            return None
        return {rel for entries in walk[2].values() for rel in entries}

    def _snapshot(self, watermark: int, prune_to: int | None = None) -> Snapshot:
        """The committed file plan of the snapshot at `watermark`, from
        one manifest walk — the query-path read planner.

        At 100 TB this replaces the recursive directory listing that
        `spark.read.parquet(dir)` pays per query (an object-store LIST
        over every file ever written) with O(versions since compact)
        small-object reads, the Delta/Iceberg planning shape.  It also
        makes the read STRICT BY CONSTRUCTION: the plan names exactly
        the committed files, so an uncommitted (crashed-writer) file is
        never opened — no `ignoreMissingFiles` needed to tolerate its
        quarantine — and a vanished COMMITTED file fails the scan loudly
        instead of being silently skipped (the r9-advice truncation
        hazard, closed structurally for manifest-bearing tables).  Data
        and tombstones come from the same walk, so both sides are
        provably from one manifest snapshot, and the generation is
        pinned WITH the plan so the scan's basePath can never disagree
        with the planned paths across a racing compact.

        prune_to: time-travel file pruning — per-version manifests above
        it are skipped entirely (whole committed files never scanned);
        base manifests stay in (their per-file versions are unresolved)
        and the caller's row-level `version <=` filter finishes the job.

        A walk that yields no plan (_walk's None) gives a snapshot whose
        data and tombs are None: the scans list the directories."""
        hi = watermark if prune_to is None else min(watermark, prune_to)
        walk = self._walk(0, hi, bases=True)
        if walk is None:
            return Snapshot(watermark, self._resolve_data_path(), None, None, None)
        gen_path, _, mans = walk
        data: dict[str, int] = {}
        tombs: set[str] = set()
        for entries in mans.values():
            # a rel recorded twice (e.g. a re-adopted baseline) is one
            # file, scanned once — the listing path reads each file once
            data.update(self._data_files(gen_path, entries))
            tombs.update(
                os.path.join(self.root, rel)
                for rel in entries
                if rel.split(os.sep, 1)[0] == "tombstones"
            )
        rows = data.values()
        bound = None if any(r < 0 for r in rows) else sum(rows)
        return Snapshot(watermark, gen_path, sorted(data), sorted(tombs), bound)

    def _ensure_manifest_baseline(self) -> None:
        """First manifest-bearing write on a legacy table: grandfather
        every existing file into a base manifest so the manifest-driven
        GC never mistakes pre-manifest committed data for a crashed
        write.  Called under the writer lock AFTER _gc_uncommitted, so
        everything still on disk is committed by construction.

        Runs on EVERY write, so the already-adopted check must be O(1):
        a name listing for any manifest, not a full _manifests() parse —
        parsing every per-version manifest here would cost O(versions
        since last compact) small-object reads per append."""
        if any(
            manifest.parse_name(n) is not None
            for n in self._backend.list_names(self._manifest_prefix)
        ):
            return
        existing = self._list_data_files() + self._list_tombstone_files()
        if existing:
            self._write_manifest(
                manifest.base_name(self.committed_version()),
                existing,
                self._file_rows(existing),  # one-time footer pass at adoption
            )

    def _file_rows(self, paths: list[str]) -> dict[str, int]:
        """num_rows per freshly-landed file — ONE footer read each, paid
        once at write time so that GC and the inspector never pay it
        again (the manifest carries the counts from then on)."""
        import pyarrow.parquet as pq

        out = {}
        for p in paths:
            try:
                out[p] = pq.ParquetFile(p).metadata.num_rows
            except Exception:
                out[p] = -1
        return out

    @property
    def _gc_ledger_path(self) -> str:
        """Local-backend path of the ledger object — for tests and the
        offline inspector ONLY.  Product code must go through
        _read_gc_ledger/_put_gc_ledger (the pointer backend): touching
        this path directly bypasses any non-local pointer_backend."""
        return os.path.join(self.meta_path, "gc_pending.json")

    def _read_gc_ledger(self) -> dict[str, float]:
        import json

        raw = self._backend.get("gc_pending.json")
        return json.loads(raw) if raw else {}

    def _put_gc_ledger(self, ledger: dict[str, float]) -> None:
        import json

        self._backend.put("gc_pending.json", json.dumps(ledger).encode())

    def _retire_from_manifests(self, rels: set[str]) -> None:
        """Drop physically-deleted paths (root-relative; a dir covers
        everything under it) from the current generation's manifests.
        Without this, intentional GC — swept pre-compact tombstones, a
        retired generation — would read as committed-but-absent forever,
        and the verify_files/inspect loss audit would cry silent data
        loss on a healthy table.  Runs under the writer lock (every
        caller is a write path); an emptied manifest is kept as an empty
        object, not deleted, so the table never looks manifest-less."""
        if not rels:
            return
        prefixes = tuple(r.rstrip(os.sep) + os.sep for r in rels)
        for full in self._backend.list_names(self._manifest_prefix):
            if manifest.parse_name(full) is None:
                continue
            raw = self._backend.get(full)
            if raw is None:
                continue
            entries = manifest.parse_lines(raw)
            kept = {
                rel: e
                for rel, e in entries.items()
                if not (rel in rels or rel.startswith(prefixes))
            }
            if len(kept) < len(entries):
                self._backend.put(full, manifest.format_lines(kept))

    def _gc_defer(self, paths: list[str]) -> None:
        """Schedule physical deletion of paths (files or whole dirs) at
        now + gc_grace_sec.  Ledger updates happen under the writer
        lock, so read-modify-write is safe."""
        import time

        if self.gc_grace_sec <= 0:
            import shutil

            for p in paths:
                if os.path.isdir(p):
                    shutil.rmtree(p, ignore_errors=True)
                else:
                    try:
                        os.remove(p)
                    except OSError:
                        pass
            self._retire_from_manifests(
                {os.path.relpath(p, self.root) for p in paths}
            )
            return
        ledger = self._read_gc_ledger()
        deadline = time.time() + self.gc_grace_sec
        for p in paths:
            ledger[os.path.relpath(p, self.root)] = deadline
        self._put_gc_ledger(ledger)

    def _gc_sweep(self) -> int:
        """Physically remove ledger entries whose grace window has
        passed.  Runs at every write/compact start under the writer
        lock; cheap no-op when the ledger is empty or young."""
        import shutil
        import time

        ledger = self._read_gc_ledger()
        if not ledger:
            return 0
        now = time.time()
        removed = 0
        swept: set[str] = set()
        for rel, deadline in list(ledger.items()):
            if deadline > now:
                continue
            p = os.path.join(self.root, rel)
            if os.path.isdir(p):
                shutil.rmtree(p, ignore_errors=True)
            else:
                try:
                    os.remove(p)
                except OSError:
                    pass
            del ledger[rel]
            swept.add(rel)
            removed += 1
        if removed:
            self._put_gc_ledger(ledger)
            # the swept paths are GONE by design: retire them from the
            # manifests so the loss audit doesn't flag intentional GC
            self._retire_from_manifests(swept)
        return removed

    def _quarantine(self, path: str) -> None:
        """Logical removal NOW (rename out of the data tree — no later
        reader lists it, and the next watermark flip cannot expose it),
        physical unlink after the grace window.  A reader that already
        listed the old path skips it via ignoreMissingFiles — correct,
        because a quarantined file's rows are above every reader's
        watermark (that is WHY it was quarantined).

        Ordering: the GC-ledger entry is written BEFORE the rename.  A
        crash between the two then leaves a ledger entry whose file
        never appeared — swept harmlessly after the grace window — not
        an orphan quarantine file absent from the ledger that nothing
        would ever delete (the sweep never rescans the quarantine dir).
        The immediate-delete path (grace <= 0) defers after the rename
        instead, since deferring first would try to unlink a
        not-yet-existing dest and then leak the renamed file."""
        rel = os.path.relpath(path, self.root)
        dest = os.path.join(self.meta_path, "quarantine", rel)
        os.makedirs(os.path.dirname(dest), exist_ok=True)
        if self.gc_grace_sec > 0:
            self._gc_defer([dest])
        try:
            os.replace(path, dest)
        except OSError:
            try:
                os.remove(path)  # cross-device fallback: plain unlink
            except OSError:
                pass
            return
        if self.gc_grace_sec <= 0:
            self._gc_defer([dest])

    def _gc_uncommitted(self) -> int:
        """Roll back crashed writes: quarantine every data / tombstone
        file whose version lies in `(committed, counter]` — the
        leftovers of a writer that died mid-land or before its flip.
        Called at the start of every write, under the already-held
        writer lock, BEFORE the new version is allocated; without it a
        writer that crashed after landing SOME of version N's files
        would have those partials exposed by the NEXT writer's
        `committed = N+1` flip (version N <= N+1 passes every reader's
        watermark filter).

        Cost discipline: the normal path is `counter == committed` —
        one integer compare, zero IO.  Only when a crash left the
        counter ahead does the repair pass run.  On a manifest-bearing
        table the committed file set comes straight from the committed
        manifests — ZERO footer reads, object-store-shaped: a live file
        absent from every committed manifest is uncommitted by
        construction (its writer died before recording it or recorded
        it above the watermark).  Legacy tables resolve per-file
        versions from parquet footers as before (each file is written
        by exactly one append, so version is a per-file constant; an
        unreadable footer is a torn write, which can only belong to an
        uncommitted version since committed files land through Spark's
        task-commit rename).  The version counter stays at its
        high-water mark (version numbers may skip; they only need to
        be monotone).  Returns the number of files quarantined."""
        committed = self.committed_version()
        counter = self.current_version()
        if counter <= committed:
            return 0
        import shutil

        known = self._committed_paths(committed)
        removed = 0
        for path in self._list_data_files() + self._list_tombstone_files():
            if known is not None:
                drop = os.path.relpath(path, self.root) not in known
            else:
                drop = self._footer_uncommitted(path, committed)
            if drop:
                self._quarantine(path)
                removed += 1
        # retire manifests recorded above the watermark (writer crashed
        # between its manifest write and its flip)
        for full in self._backend.list_names(self._manifest_prefix):
            parsed = manifest.parse_name(full)
            if parsed is not None and not parsed[0] and parsed[1] > committed:
                self._backend.delete(full)
        # leftover task-attempt dirs from the crashed Spark job
        for base in (self._resolve_data_path(), self.tombstones_path):
            tmp = os.path.join(base, "_temporary")
            if os.path.isdir(tmp):
                shutil.rmtree(tmp, ignore_errors=True)
        return removed

    @staticmethod
    def _footer_uncommitted(path: str, committed: int) -> bool:
        """Legacy per-file resolution (pre-manifest tables): version from
        row-group stats, column read fallback, torn footer = uncommitted."""
        import pyarrow.parquet as pq

        try:
            md = pq.ParquetFile(path).metadata
            idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
            v = None
            if "version" in idx:
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(idx["version"]).statistics
                    if st is None or st.max is None:
                        v = None
                        break
                    v = st.max if v is None else max(v, st.max)
            if v is None:  # stats missing: read the column itself
                col = pq.read_table(path, columns=["version"])["version"]
                v = max(col.to_pylist()) if len(col) else committed + 1
            return v > committed
        except Exception:
            return True  # torn footer = mid-crash partial

    def _list_tombstone_files(self) -> list[str]:
        out = []
        if not os.path.isdir(self.tombstones_path):
            return out
        for dirpath, _, files in os.walk(self.tombstones_path):
            out += [
                os.path.join(dirpath, fn)
                for fn in files
                if fn.endswith(".parquet") and not fn.startswith(("_", "."))
            ]
        return out

    def _next_version(self) -> int:
        cur = self.current_version()
        # initialize the watermark BEFORE allocating: on a legacy table
        # the committed fallback is the counter, which the allocation
        # below bumps — without this, the in-flight version would read
        # as committed
        if self._backend.get("committed") is None:
            # bootstrap: the CAS requires the pointer to NOT exist yet
            self._publish(cur, expected_version=None)
        v = cur + 1
        self._write_version(v)
        return v

    def _bucket_expr(self, col="producer"):
        """Deterministic producer -> bucket.  Used both as the write-side
        partition column and (applied to a literal) as a read-side
        partition-pruning predicate — xxhash64 of a literal constant-folds
        in Catalyst, so `producer = 'x'` probes scan one bucket."""
        c = F.col(col) if isinstance(col, str) else col
        return F.pmod(F.xxhash64(c), F.lit(self.producer_buckets)).cast("int")

    def append(self, df: DataFrame) -> int:
        """Append a batch under the next version (the WAL-batch merge +
        rootmap flip, treemgr/treemgr.go:821-882).  Dedups
        (producer, topic, log_time, sequence) within the batch.

        Layout per batch: one shuffle keyed on the partition columns so
        each (topic, producer_bucket) lands in exactly one task = one
        file (the standard small-files discipline — file count per
        append is bounded by topics x buckets, not by tasks x dirs),
        sorted by (producer, log_time) inside the file so row-group
        min/max stats prune both producer probes and time ranges.

        Listing discipline: the before/after diff that feeds the write
        manifest is restricted to the partition dirs the BATCH touches
        (new files can only land there — partitionBy guarantees it), so
        the per-append listing cost is O(touched partitions + their
        files), not O(every file the table ever wrote).  The one extra
        pass computing the touched set is a map-side-combined distinct
        over the batch, output bounded by topics x buckets."""
        with self._writer_lock():
            self._check_layout()
            self._gc_sweep()  # physically drop entries past their grace
            # roll back any crashed predecessor FIRST: its partial files
            # must be out of the data tree before our flip raises the
            # watermark past them
            self._gc_uncommitted()
            self._ensure_manifest_baseline()
            touched = {
                (self._part_dir_value(r[0]), self._part_dir_value(r[1]))
                for r in df.select(
                    "topic", self._bucket_expr().alias("b")
                )
                .distinct()
                .collect()
            }
            before = set(self._list_partition_files(touched))
            version = self._next_version()
            # pin the watermark THIS write builds on: the publish CAS
            # swaps against it, so an expired-lease zombie racing a
            # successor fails its flip instead of regressing the pointer
            prev_committed = self.committed_version()
            out = (
                df.dropDuplicates(["producer", "topic", "log_time", "sequence"])
                .withColumn("version", F.lit(version))
                .withColumn("producer_bucket", self._bucket_expr())
                .repartition("topic", "producer_bucket")
                # partition cols lead the sort so FileFormatWriter's
                # required ordering is already satisfied — otherwise it
                # re-sorts by the partition cols alone and destroys the
                # fine-grained order
                .sortWithinPartitions(
                    "topic", "producer_bucket", "producer", "log_time", "sequence"
                )
            )
            w = out.write.mode("append").option("compression", self.compression)
            for k, v in self._bloom_opts().items():
                w = w.option(k, v)
            w.partitionBy("topic", "producer_bucket").parquet(
                self._resolve_data_path()
            )
            # record the landed file set BEFORE the flip: rollback and
            # inspect resolve file -> version from this manifest with no
            # footer reads (the diff against `before` is exact — the
            # writer lock excludes concurrent writers, and partitionBy
            # confines new files to the touched partition dirs)
            new_files = [
                p
                for p in self._list_partition_files(touched)
                if p not in before
            ]
            self._write_manifest(
                manifest.version_name(version), new_files, self._file_rows(new_files)
            )
            # files are fully landed: flip the watermark — only now does
            # this version become visible to any reader (atomic publish)
            self._publish(version, expected_version=prev_committed)
            # O(batch): index exactly the manifest slice recorded above;
            # the full-diff repair runs only if the index watermark says
            # a crash left a gap (see update_trigram_index)
            self.update_trigram_index(new_files, version)
            return version

    def _check_layout(self) -> None:
        """Refuse to append the bucketed layout into a pre-bucketing data
        dir (producer=... top-level dirs): mixing partition schemes in
        one directory breaks Spark's partition discovery for EVERY
        reader.  Old tables stay readable; migrate by calling compact()
        once (it reads any layout and rewrites the bucketed one)."""
        path = self._resolve_data_path()
        if not os.path.isdir(path):
            return
        for name in os.listdir(path):
            if name.startswith("producer="):
                raise RuntimeError(
                    f"{path} uses the pre-bucketing (producer=, topic=) "
                    "layout; run compact() to migrate it before appending"
                )

    def _bloom_opts(self) -> dict[str, str]:
        from dp3_spark.streaming.ingest import bloom_options

        # producer is a data column (bucketed layout) — always bloom it so
        # producer-equality probes skip row groups within a bucket
        return bloom_options(tuple(dict.fromkeys(("producer",) + self.bloom_cols)))

    def delete_range(self, producer: str, topic: str, start_ns: int, end_ns: int) -> int:
        """Range delete [start, end) as a tombstone (routes/delete.go;
        tree/tree.go:118-207).  Applied lazily at read.

        The tombstone's version pins WHAT it masks: only rows ingested at
        version <= the tombstone's version (the reference's rootmap pins a
        version at delete time, sqlrootmap.go:372-402) — data ingested
        AFTER a delete/truncate stays visible."""
        with self._writer_lock():
            self._gc_sweep()
            self._gc_uncommitted()  # see append(): crashed-writer rollback
            self._ensure_manifest_baseline()
            before = set(self._list_tombstone_files())
            version = self._next_version()
            prev_committed = self.committed_version()  # see append()
            self.spark.createDataFrame(
                [(producer, topic, start_ns, end_ns, version)], TOMBSTONE_SCHEMA
            ).write.mode("append").parquet(self.tombstones_path)
            new_files = [
                p for p in self._list_tombstone_files() if p not in before
            ]
            self._write_manifest(
                manifest.version_name(version), new_files, self._file_rows(new_files)
            )
            self._publish(version, expected_version=prev_committed)
            # a tombstone adds no data files: advance the index watermark
            # past this version when it is current (else the next append
            # would misread the gap as a crash and run repair), but never
            # run repair from a delete
            self.update_trigram_index([], version, allow_repair=False)
            return version

    def truncate(self, producer: str, topic: str, end_ns: int | None = None) -> int:
        """`truncate producer topic (now|T);` (ql/grammar.go:45-50;
        treemgr.go:998-1010): delete everything before the cutoff
        (open-ended when `now`)."""
        end = end_ns if end_ns is not None else (1 << 62)
        return self.delete_range(producer, topic, 0, end)

    # -------------------------------------------------------------- read
    def _resolve_data_path(self) -> str:
        """Current data generation.  compact() never rewrites the live dir
        in place; it writes a fresh generation dir and swaps this pointer
        (object-store-safe: no rename of a live prefix)."""
        raw = self._backend.get("data_ptr")
        if raw:
            name = raw.decode().strip()
            if name:
                return os.path.join(self.root, name)
        return self.data_path

    def _batch_reader(self):
        """DataFrameReader with the table's missing-file policy applied.
        Default: ignoreMissingFiles — a file that vanishes between a
        read's listing and its open can only be one the GC quarantined
        (rows above this read's watermark, so skipping it equals what
        the version filter would have done) or a superseded generation
        past the grace window.  strict_reads=True omits the option so
        ANY vanished file — including real data loss the option cannot
        tell apart from the modeled race — fails the scan loudly."""
        r = self.spark.read
        if not self.strict_reads:
            r = r.option("ignoreMissingFiles", "true")
        return r

    def _data(self, snap: Snapshot) -> DataFrame | None:
        """The committed data rows of `snap`: version <= its watermark,
        so a reader racing an in-flight append never sees its partial
        file set.

        A manifest plan reads exactly its named files — no directory
        listing, and strict by construction (a vanished committed file
        fails loudly; an uncommitted file is never opened, so no
        ignoreMissingFiles).  The watermark row filter stays on as a
        belt-and-braces guard (parquet min/max makes it free).

        Without a plan (legacy table, raced compact) — and for a plan
        with no committed data files, so the legacy empty-table
        semantics (None / empty frame) hold exactly — the listing scan
        serves, where the version predicate hides unpublished files via
        row-group min/max and ignoreMissingFiles covers the quarantine
        race (see _batch_reader)."""
        if snap.data:
            df = self.spark.read.option("basePath", snap.gen).parquet(*snap.data)
        else:
            try:
                df = self._batch_reader().parquet(snap.gen)
            except Exception:
                return None
        return df.filter(F.col("version") <= F.lit(snap.watermark))

    def _tombstones(self, snap: Snapshot) -> DataFrame | None:
        """The committed tombstones of `snap`; same plan/listing split as
        _data.  A plan naming no tombstones — the common no-deletes table
        — answers None with ZERO IO (the listing path would stat the dir
        per read)."""
        if snap.tombs is not None:
            if not snap.tombs:
                return None
            df = self.spark.read.option(
                "basePath", self.tombstones_path
            ).parquet(*snap.tombs)
        else:
            try:
                # same missing-file contract as _data()
                df = self._batch_reader().parquet(self.tombstones_path)
            except Exception:
                return None
        return df.filter(F.col("version") <= F.lit(snap.watermark))

    def _strip(self, df: DataFrame) -> DataFrame:
        """Drop the internal layout column from an outward-facing frame
        (no-op on tables written before the bucketed layout — drop
        ignores missing columns, so old-layout dirs stay readable)."""
        return df.drop("producer_bucket")

    def read(self, *, as_of_version: int | None = None) -> DataFrame:
        """Current table contents: appended rows minus tombstoned ranges.

        as_of_version: time travel — only writes/deletes with
        version <= as_of_version apply (rootmap versioned reads).

        The tombstone application is a broadcast anti-join on range overlap:
        tombstone counts are tiny relative to data (the reference stores
        them per-leaf), so the data side never shuffles."""
        # ONE watermark resolution for both the data and tombstone reads:
        # a concurrent publish between the two must not apply a newer
        # tombstone against an older data snapshot
        return self._read_at(self.committed_version(), as_of_version)[0]

    def _read_at(
        self, watermark: int, as_of_version: int | None = None
    ) -> tuple[DataFrame, Snapshot]:
        """read() at a pre-resolved watermark -> (frame, the snapshot it
        was planned from).  as_of prunes whole per-version manifests out
        of the file plan; the row-level version filter in
        _apply_tombstones finishes the job for files under a base
        manifest (per-file versions there are unresolved)."""
        snap = self._snapshot(watermark, as_of_version)
        df = self._data(snap)
        if df is None:
            raise FileNotFoundError(f"no data at {self.data_path}")
        return self._strip(self._apply_tombstones(df, as_of_version, snap)), snap

    def _apply_tombstones(
        self, df: DataFrame, as_of_version: int | None, snap: Snapshot
    ) -> DataFrame:
        ts = self._tombstones(snap)
        if as_of_version is not None:
            df = df.filter(F.col("version") <= as_of_version)
            if ts is not None:
                ts = ts.filter(F.col("version") <= as_of_version)
        if ts is None or ts.isEmpty():
            return df
        t = ts.select(
            F.col("producer").alias("__tp"),
            F.col("topic").alias("__tt"),
            F.col("version").alias("__tv"),
            "start_ns",
            "end_ns",
        )
        # A tombstone masks only rows ingested at or before it
        # (data.version <= tombstone.version): truncate-then-keep-ingesting
        # must not hide the new data (sqlrootmap.go:372-402,
        # treemgr.go:998-1010).
        cond = (
            (F.col("producer") == F.col("__tp"))
            & (F.col("topic") == F.col("__tt"))
            & (F.col("version") <= F.col("__tv"))
            & (F.col("log_time") >= F.col("start_ns"))
            & (F.col("log_time") < F.col("end_ns"))
        )
        return df.join(F.broadcast(t), cond, "left_anti")

    def verify_files(self) -> dict:
        """Integrity audit: is every COMMITTED file (per the write
        manifests) still present on disk?  The detection half of the
        silent-truncation tradeoff: with the default read policy a
        vanished committed file is silently skipped (module header), so
        a deployment runs this audit on a cadence — or after any
        storage incident — to turn silent loss into a report.

        Returns {"missing": [...committed-but-absent relpaths...],
        "uncommitted": [...live-but-unmanifested relpaths — a crashed
        writer's leftovers, removed by the next write...],
        "size_mismatch": [...present-but-wrong-size relpaths — a
        truncated or overwritten committed file (storage fault, partial
        restore); sizes are recorded in the manifest at commit time, so
        the check is one stat per file with zero parquet reads;
        entries from pre-size-column manifests are never flagged...],
        "checked": N}.  Raises on a legacy (manifest-less) table: there
        is no committed-set source of truth to audit against.  Cost is
        one listing + the manifest set — an explicit audit call, never
        on the query path."""
        walk = self._walk(0, self.committed_version(), bases=True)
        if walk is None:
            raise RuntimeError(
                "verify_files needs write manifests; legacy table "
                "(write once to adopt a baseline manifest)"
            )
        # root-relative path -> bytes recorded at commit time (-1 for
        # pre-size-column entries, which never false-positive the audit)
        sizes = {
            rel: size for entries in walk[2].values()
            for rel, (_, size) in entries.items()
        }
        committed = set(sizes)
        live = {
            os.path.relpath(p, self.root)
            for p in self._list_data_files() + self._list_tombstone_files()
        }
        mismatch = []
        for rel in sorted(committed & live):
            want = sizes[rel]
            if want < 0:
                continue  # pre-size manifest entry: unknown, not wrong
            try:
                have = os.path.getsize(os.path.join(self.root, rel))
            except OSError:
                continue  # vanished since the listing: reported missing
            if have != want:
                mismatch.append(rel)
        return {
            "missing": sorted(committed - live),
            "uncommitted": sorted(live - committed),
            "size_mismatch": mismatch,
            "checked": len(committed),
        }

    def tail(self, from_version: int) -> DataFrame:
        """Rows ingested after `from_version` — the export/tail polling
        loop (cli/cmd/tail.go:29-97).  `tail_stream` is the push-based
        upgrade."""
        df = self._data(self._snapshot(self.committed_version()))
        if df is None:
            raise FileNotFoundError(f"no data at {self.data_path}")
        return self._strip(df.filter(F.col("version") > from_version))

    def _tail_walk(self, from_version: int, up_to: int | None):
        """_walk over the committed versions in (from_version, up_to or
        the watermark] -> (gen_path, base floor, manifests) or None."""
        hi = self.committed_version()
        return self._walk(
            from_version, hi if up_to is None else min(up_to, hi), bases=False
        )

    def _slice(self, gen_path: str, paths: list[str], version: int) -> DataFrame:
        """Manifest-named data files of versions <= `version` through the
        strict committed-file scan (_data): a vanished committed file
        fails the read instead of silently shrinking a tail body whose
        cursor then advances past it."""
        return self._strip(self._data(Snapshot(version, gen_path, paths, [], None)))

    def tail_version_counts(
        self, from_version: int = 0
    ) -> list[tuple[int, int]] | None:
        """[(version, data_rows)] for every committed data version after
        `from_version`, derived from the write manifests' recorded row
        counts — ZERO data IO, where the legacy derivation is a
        groupBy(version).count() scan over everything past the cursor on
        every poll.  None routes the caller to that legacy scan: table
        predates manifests, a compact raced the walk, a manifest carries
        an unknown (-1) count, or the cursor reaches back into a
        base-grandfathered range whose per-version split the manifests
        cannot resolve.

        Poll cost: one walk — one name listing plus the delivered
        versions' manifests (eligibility is decided from the NAME), never
        O(versions since compact) parses."""
        walk = self._tail_walk(from_version, None)
        if walk is None or from_version < walk[1]:
            return None
        gen_path, _, mans = walk
        out = []
        for name, entries in mans.items():
            rows = self._data_files(gen_path, entries).values()
            if any(r < 0 for r in rows):
                return None  # unknown count: legacy scan decides
            if rows:
                out.append((manifest.parse_name(name)[1], sum(rows)))
        return sorted(out)

    def tail_versions(self, from_version: int = 0, *, up_to: int | None = None):
        """Manifest-driven tail: yield (version, DataFrame) for every
        COMMITTED version in (from_version, up_to or current watermark]
        whose manifest names data files.  Discovery is one walk — one
        name listing plus one small manifest object per delivered
        version, ZERO directory re-listing.  This is the scale path the
        round-10 tail_stream probe pointed at: the file-source
        tail_stream re-lists the whole data dir every trigger (~25 us
        per live file, PLANS.md), while this tail's per-poll cost is
        independent of how many files the table holds.

        Snapshot semantics match the polling tail(): only versions at or
        below the publish watermark are delivered, so a crashed writer's
        files (manifest above the watermark) are never yielded.  Drive
        it in a poll loop:

            cur = 0
            while True:
                for cur, df in table.tail_versions(cur):
                    sink(df)
                time.sleep(poll)

        Versions may skip numbers (a crashed writer leaves its counter
        value unused) — skipped and tombstone-only versions are silently
        passed over, exactly like the reference's export-version cursor
        (cli/cmd/tail.go:29-97).  Nothing is yielded on a legacy table
        or when compacts raced the walk twice; the next poll retries.

        Raises ValueError when `from_version` reaches under a base
        manifest's watermark: those versions were grandfathered or
        compacted into the base and have no per-version slice, so
        yielding only the later ones would SILENTLY hand the consumer a
        partial history.  Use read()/tail() for the collapsed range and
        resume the cursor at the base watermark."""
        walk = self._tail_walk(from_version, up_to)
        if walk is None:
            return
        gen_path, floor, mans = walk
        if from_version < floor:
            raise ValueError(
                f"tail_versions cursor {from_version} reaches under the "
                f"base manifest watermark {floor}: that history was "
                "grandfathered/compacted and has no per-version slices — "
                f"read()/tail() it, then resume from {floor}"
            )
        for name, entries in mans.items():  # listed in version order
            paths = list(self._data_files(gen_path, entries))
            if paths:
                v = manifest.parse_name(name)[1]
                yield v, self._slice(gen_path, paths, v)

    def read_manifest_range(
        self, from_version: int, up_to: int
    ) -> DataFrame | None:
        """Rows of ALL versions in (from_version, up_to] as ONE explicit
        multi-file scan (manifest-named paths + basePath) — the /tail
        route's row read.  One scan over exactly the delivered files
        beats a per-version union: Catalyst gets a single flat relation
        instead of an N-deep Union plan.

        Returns None when the range reaches under a base manifest's
        watermark, or when compacts raced the walk — per-version slices
        don't exist there, and a compact racing the caller's plan
        (tail_version_counts) lands exactly here: the new generation's
        base covers the promised versions, so the caller must fall back
        to the scan path rather than serve a silently partial (or empty)
        body against an advanced cursor."""
        walk = self._tail_walk(from_version, up_to)
        if walk is None or from_version < walk[1]:
            return None
        gen_path, _, mans = walk
        paths = [p for e in mans.values() for p in self._data_files(gen_path, e)]
        if not paths:
            return None
        return self._slice(gen_path, paths, up_to)

    def tail_stream(self, from_version: int = 0) -> DataFrame:
        """Push-based tail: a Structured Streaming file source over the
        data dir.  Every `append()` lands new parquet files, which arrive
        as micro-batches — real streaming instead of the reference's
        client-side export-version polling (cli/cmd/tail.go:29-97; the
        SURVEY §2.5 mapping).  Attach any sink (`foreachBatch`, kafka,
        console); `from_version` skips rows already consumed, exactly like
        the polling loop's version cursor.

        At scale the file source checkpoints its processed-file log, so a
        restarted tail resumes where it left off without re-reading the
        table — pass `.option("checkpointLocation", ...)` on the writer.

        Delivery granularity: the push stream surfaces files as they
        land, AHEAD of the commit watermark — a batch may arrive split
        across micro-batches, and a crashed writer's unacknowledged rows
        can be delivered.  Each file is internally complete (task-commit
        atomicity).  Consumers needing committed-only snapshot semantics
        use the polling `tail()`, which reads through the watermark.

        Trigger cost: the file source re-lists the data dir every
        trigger — measured ~25 us per live file (PLANS.md round-10
        probe; 34 ms at 1200 files, linear).  compact() bounds the live
        file count at topics x buckets, so a deployment tailing a
        heavy-append table runs compact on whatever cadence keeps the
        count inside its trigger-latency budget.  For tables where even
        that is too hot, `tail_versions` discovers new data from the
        per-version manifests instead — per-poll cost independent of
        file count, committed-only semantics."""
        df = self._data(self._snapshot(self.committed_version()))
        if df is None:
            raise FileNotFoundError(f"no data at {self.data_path}")
        reader = self.spark.readStream.schema(df.schema)
        if not self.strict_reads:
            # a file the source listed but GC quarantined before the
            # micro-batch read can only be an uncommitted rollback —
            # skip it rather than fail the stream (same contract as the
            # batch readers; strict_reads opts into loud failure)
            reader = reader.option("ignoreMissingFiles", "true")
        stream = reader.parquet(self._resolve_data_path())
        return self._strip(stream.filter(F.col("version") > from_version))

    # ----------------------------------------------- trigram sidecar index
    @property
    def trigram_index_path(self) -> str:
        return os.path.join(self.root, "_trigram_idx")

    @staticmethod
    def _part_dir_value(v) -> str:
        """The string a partition VALUE appears as in its dir name
        (before %-escaping): Spark writes null and empty-string values
        to the __HIVE_DEFAULT_PARTITION__ dir — a batch with a null
        topic must still match its landed dir, or the manifest silently
        omits committed files (which the next rollback would then
        quarantine as uncommitted: permanent loss)."""
        if v is None or v == "":
            return "__HIVE_DEFAULT_PARTITION__"
        return str(v)

    def _list_partition_files(
        self, touched: set[tuple[str, str]]
    ) -> list[str]:
        """Data files in exactly the named (topic, producer_bucket)
        partition dirs (both as _part_dir_value strings) — the
        O(touched-partitions) listing append() uses for its manifest
        diff, instead of walking every file the table ever wrote.
        Partition-dir names are matched by DECODING Spark's escaped form
        (urllib unquote inverts Spark's %-hex escaping, which escapes
        '%' itself, so decode-and-compare is exact) — never by
        re-encoding our values, which would have to replicate Spark's
        escape-char set and would silently drop files from the manifest
        on any mismatch."""
        from urllib.parse import unquote

        root = self._resolve_data_path()
        topics = {t for t, _ in touched}
        out: list[str] = []
        try:
            tdirs = os.listdir(root)
        except OSError:
            return []
        for td in tdirs:
            if not td.startswith("topic="):
                continue
            tval = unquote(td[len("topic="):])
            if tval not in topics:
                continue
            tpath = os.path.join(root, td)
            for bd in os.listdir(tpath):
                if not bd.startswith("producer_bucket="):
                    continue
                bval = unquote(bd[len("producer_bucket="):])
                if (tval, bval) not in touched:
                    continue
                bpath = os.path.join(tpath, bd)
                out += [
                    os.path.join(bpath, fn)
                    for fn in os.listdir(bpath)
                    if fn.endswith(".parquet")
                    and not fn.startswith(("_", "."))
                ]
        return out

    def _list_data_files(self) -> list[str]:
        out = []
        for dirpath, _, files in os.walk(self._resolve_data_path()):
            out += [
                os.path.join(dirpath, fn)
                for fn in files
                if fn.endswith(".parquet") and not fn.startswith(("_", "."))
            ]
        return out

    @property
    def _trigram_marker_path(self) -> str:
        return os.path.join(self.meta_path, "trigram_wm.json")

    def _read_trigram_marker(self) -> dict | None:
        import json

        raw = self._backend.get("trigram_wm.json")
        if raw is None:
            return None
        try:
            return json.loads(raw)
        except ValueError:
            return None

    def _write_trigram_marker(self, version: int) -> None:
        """Record that every data file committed at <= `version` (in the
        current generation, for the current column set) is covered by
        the sidecar.  Atomic small-object put like every other _meta
        write."""
        import json

        self._backend.put(
            "trigram_wm.json",
            json.dumps(
                {
                    "version": version,
                    "cols": sorted(self.trigram_cols),
                    "generation": os.path.basename(self._resolve_data_path()),
                }
            ).encode(),
        )

    def _trigram_marker_at(self, marker: dict | None, version: int) -> bool:
        """True iff the marker says the index is complete through exactly
        `version` for the current generation and column set — the
        precondition for the O(batch) incremental path.  Any mismatch
        (crash before the marker write, compact's generation swap, a
        trigram_cols change needing back-fill, a legacy pre-marker
        table) routes to the full-diff repair path instead."""
        return (
            marker is not None
            and marker.get("version") == version
            and marker.get("cols") == sorted(self.trigram_cols)
            and marker.get("generation")
            == os.path.basename(self._resolve_data_path())
        )

    def update_trigram_index(
        self,
        new_files: list[str] | None = None,
        version: int | None = None,
        *,
        allow_repair: bool = True,
    ) -> int:
        """Maintain the trigram sidecar.  NORMAL path — O(batch), not
        O(table): append() hands in the file set its own per-version
        manifest just recorded (`v{N}.list`, already in hand at the call
        site) and, when the index watermark marker confirms the sidecar
        was complete through version N-1, only those files are indexed —
        no directory walk, no sidecar read, per-append cost independent
        of how many files the table has ever written.  REPAIR path: any
        marker mismatch (crash between a publish and its index update,
        compact's generation swap, a trigram_cols change needing
        back-fill, a legacy table) falls back to the full listing +
        per-column diff against the sidecar's own covered-file set —
        idempotent, and the only time the O(table) walk runs.  The r9
        verdict flagged running repair on EVERY append as the one real
        100x scale-killer; the marker confines it to actual crashes.

        allow_repair=False (the delete_range path) only advances the
        marker past a data-file-less version — a stale marker there is
        left for the next append's repair rather than charging a
        tombstone write for a full re-walk.  Returns files indexed."""
        if not self.trigram_cols:
            return 0
        from dp3_spark.operators.trigram import build_trigram_index, indexed_files

        if new_files is not None and version is not None:
            marker = self._read_trigram_marker()
            if self._trigram_marker_at(marker, version - 1):
                if new_files:
                    build_trigram_index(
                        self.spark,
                        new_files,
                        list(self.trigram_cols),
                        self.trigram_index_path,
                        write_mode="append",
                    )
                self._write_trigram_marker(version)
                return len(new_files)
            if not allow_repair:
                return 0

        files = self._list_data_files()
        total = 0
        # diff PER COLUMN: adding a new name to trigram_cols on an
        # existing table back-fills that column's rows for every file the
        # index already covers for the others
        for col in self.trigram_cols:
            covered: set[str] = set()
            try:
                covered = indexed_files(self.spark, self.trigram_index_path, col)
            except Exception:
                pass
            new = [p for p in files if f"file://{p}" not in covered]
            if new:
                build_trigram_index(
                    self.spark,
                    new,
                    [col],
                    self.trigram_index_path,
                    write_mode="append",
                )
            total += len(new)
        # repair complete: the sidecar now covers every committed file,
        # so the next append can take the O(batch) path
        self._write_trigram_marker(
            version if version is not None else self.committed_version()
        )
        return total

    def read_string_probe(
        self,
        column: str,
        needle: str,
        *,
        mode: str = "eq",
        as_of_version: int | None = None,
    ) -> DataFrame:
        """read() restricted to rows where `column` equals (or contains)
        `needle`, scanning ONLY files whose trigram signature can match —
        the reference's statfilter path (statfilter.go:102-127) applied
        at file granularity before any footer IO.  Identical results to
        `read().filter(...)` under EVERY index state (the contract the
        reference's ErrNoStatsFound pass-through sets,
        statfilter.go:118-122): a missing/unreadable sidecar falls back
        to the full scan, and data files the sidecar does not yet cover
        (crash between append's parquet commit and the index update,
        or a table written before trigram_cols was set) are always
        scanned — only provably-safe skips happen.  Tombstone/version
        semantics preserved; basePath keeps the partition columns on the
        file-list scan."""
        from dp3_spark.operators.trigram import probe_index

        # one snapshot (one walk) plans data + tombstones for every
        # branch below (each branch applies tombstones exactly once)
        snap = self._snapshot(self.committed_version(), as_of_version)
        full = self._data(snap)
        if full is None:
            raise FileNotFoundError(f"no data at {self.data_path}")
        pred = (
            (F.col(column) == needle)
            if mode == "eq"
            else F.col(column).contains(needle)
        )
        if column == "producer" and mode == "eq" and "producer_bucket" in full.columns:
            # constant-folded bucket of the needle -> partition pruning:
            # the scan lists only one producer_bucket=K dir per topic
            pred = pred & (
                F.col("producer_bucket") == self._bucket_expr(F.lit(needle))
            )
        if not self.trigram_cols or column not in self.trigram_cols:
            return self._strip(
                self._apply_tombstones(full, as_of_version, snap).filter(pred)
            )
        try:
            survivors, covered = probe_index(
                self.spark, self.trigram_index_path, column, needle, mode=mode
            )
        except Exception:
            # sidecar missing or unreadable: correctness first, no pruning
            return self._strip(
                self._apply_tombstones(full, as_of_version, snap).filter(pred)
            )
        live = {f"file://{p}" for p in self._list_data_files()}
        # unindexed data files can never be skipped; index rows for files
        # a compact() crash already deleted must not be read
        files = sorted((survivors & live) | (live - covered))
        if not files:
            return self._strip(full.limit(0).filter(F.lit(False)))
        df = (
            self.spark.read.option("basePath", self._resolve_data_path())
            .option("ignoreMissingFiles", "true")  # same contract as _data()
            .schema(full.schema)
            .parquet(*files)
            # the explicit file list bypasses _data(): re-apply the same
            # snapshot watermark so an in-flight append stays invisible
            # on this path too
            .filter(F.col("version") <= F.lit(snap.watermark))
        )
        return self._strip(
            self._apply_tombstones(df, as_of_version, snap).filter(pred)
        )

    def log_store(self, *, payload_cols: tuple[str, ...] = ()):
        """This table as a queryable LogStore for the QL compiler, with
        the trigram sidecar wired in as the scan-time string probe — the
        reference's statfilter applied inside the scan
        (tree/iterator.go:177-187).  A QL `where t.col = 'x'` on an
        indexed column then reads only files whose signature can match;
        results are identical either way (tests pin parity + fewer
        input files).

        Planned once per committed snapshot — the reference resolves a
        version to its root once and serves from its node cache
        (nodestore/nodestore.go:36-50).  Every call re-reads the two
        pointers (committed watermark, data generation); while both are
        unchanged the previous store is returned with zero plan IO and
        zero Spark jobs.  Any append, delete, truncate or compact moves
        one of them, so the next call plans afresh.  Only
        manifest-planned snapshots are memoized (strict by construction:
        the plan names exactly the committed files); the listing
        fallback and an explicit payload_cols are planned per call.  The
        memo holds one entry, keyed on the watermark the snapshot was
        actually planned at; the lock makes check-plan-store one step,
        so concurrent service threads plan a snapshot once."""
        if payload_cols:
            return self._plan_log_store(self.committed_version(), payload_cols)[0]
        with self._store_lock:
            w = self.committed_version()
            memo = self._store_memo
            if memo is not None and memo[0] == (self._resolve_data_path(), w):
                return memo[1]
            store, snap = self._plan_log_store(w)
            if snap.data:
                self._store_memo = ((snap.gen, w), store)
            return store

    def _plan_log_store(self, watermark: int, payload_cols: tuple[str, ...] = ()):
        """(LogStore of the snapshot at `watermark`, the Snapshot it was
        planned from; manifest-served iff its data list is non-empty)."""
        from dp3_spark.catalog import LogStore

        def probe(column: str, needle: str, mode: str):
            # raw (un-normalized) frame replacement: tombstones/version
            # masking are applied by the probe read itself
            return self.read_string_probe(column, needle, mode=mode)

        df, snap = self._read_at(watermark)
        if not payload_cols:
            # default: every non-canonical column is payload (version is
            # bookkeeping) — derived from THIS frame, no second read
            payload_cols = tuple(
                c
                for c in df.columns
                if c not in ("producer", "topic", "log_time", "sequence",
                             "version", "producer_bucket")
            )
        store = LogStore(
            df=df,
            producer_col="producer",
            topic_col="topic",
            time_col="log_time",
            sequence_col="sequence",
            payload_cols=payload_cols,
            string_probe=probe if self.trigram_cols else None,
            probe_columns=self.trigram_cols,
            row_bound=snap.bound if snap.data else None,
        )
        return store, snap

    # ---------------------------------------------------------- maintain
    def compact(self) -> None:
        """Physically apply tombstones and rewrite (merge-time mask
        application, tree/merge.go:94-137).  Data-sized job; run it like
        OPTIMIZE, off the query path.

        Interaction with the commit watermark: compact rewrites COMMITTED
        rows only (read() filters version <= committed), so a crashed
        writer's unacknowledged files — and any unpublished tombstone —
        are physically dropped with the superseded generation.  The
        primary rollback path is `_gc_uncommitted` at the next write's
        start; compact is the belt-and-braces second pass, like the
        reference dropping unreferenced WAL/tree nodes at merge time.

        Write-new-then-swap-pointer: the resolved rows land in a fresh
        generation dir (`data_genN`), then `_meta/data_ptr` flips to it
        atomically.  The live prefix is never renamed or deleted in place,
        so this works on object stores (S3 has no atomic rename of a
        prefix); readers holding the old pointer keep a consistent view.
        The superseded generation (and the pre-compact tombstone files
        it already absorbed — leaving them during the window is
        harmless because tombstone application is idempotent: the rows
        they mask are gone from the new generation) is deleted only
        after `gc_grace_sec`, so a reader that resolved the old pointer
        finishes its scan before the files vanish; only a straggler
        running longer than the grace window can observe skipped files
        (the documented out-of-contract case, like reading Delta across
        a VACUUM horizon).

        Runs under the writer lock: a compact racing an append would
        otherwise snapshot before the append, then delete the appended
        files with the superseded generation — a lost write."""
        with self._writer_lock():
            return self._compact_locked()

    def _compact_locked(self) -> None:
        self._gc_sweep()
        self._gc_uncommitted()  # crashed leftovers out of the tree first
        resolved = self.read()
        old = self._resolve_data_path()
        gen = 0
        base = os.path.basename(old)
        if base.startswith("data_gen"):
            gen = int(base[len("data_gen"):])
        new_name = f"data_gen{gen + 1}"
        new_path = os.path.join(self.root, new_name)
        # time-cluster the rewrite: one task per (topic, producer_bucket),
        # sorted (producer, log_time, sequence) within it, so parquet
        # row-group min/max stats are tight for both producer probes and
        # time-bounded scans — the CoW merge's re-sorted leaves
        # (tree/merge.go) re-expressed as a layout property
        w = (
            resolved.withColumn("producer_bucket", self._bucket_expr())
            .repartition("topic", "producer_bucket")
            # partition cols lead the sort (see append) so the writer does
            # not re-sort and drop the (producer, log_time) clustering
            .sortWithinPartitions(
                "topic", "producer_bucket", "producer", "log_time", "sequence"
            )
            .write.mode("overwrite")
            .option("compression", self.compression)
        )
        for k, v in self._bloom_opts().items():
            w = w.option(k, v)
        w.partitionBy("topic", "producer_bucket").parquet(new_path)
        old_tombstones = self._list_tombstone_files()
        # the generation flip: one atomic small-object put (the backend's
        # local implementation is tmp+fsync+replace; an object store's is
        # a conditional put — safe either way under the held lease)
        self._backend.put("data_ptr", new_name.encode())
        # New generation's manifest set: one base manifest covering its
        # files plus the (idempotent, soon-swept) pre-compact tombstones.
        # Written AFTER the flip so manifest_path resolves the new
        # generation; a crash in between leaves the new generation
        # manifest-less, which degrades gracefully to the legacy footer
        # path until the next write grandfathers it.
        new_gen_files = self._list_data_files() + old_tombstones
        self._write_manifest(
            manifest.base_name(self.committed_version()),
            new_gen_files,
            self._file_rows(new_gen_files),
        )
        import shutil

        old_mandir = os.path.join(
            self.meta_path, manifest.prefix(os.path.basename(old))
        )
        self._gc_defer([old, old_mandir] + old_tombstones)
        # the sidecar keyed old-generation files; rebuild over the new one
        shutil.rmtree(self.trigram_index_path, ignore_errors=True)
        self.update_trigram_index()
