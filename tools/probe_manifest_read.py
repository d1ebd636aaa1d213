"""Query-path read planning: manifest plan vs directory listing (round 10).

`read()` on a manifest-bearing table plans its scan from the write
manifests (`_snapshot`): one manifest walk (`_walk`) yields the
explicit committed data + tombstone file lists, replacing the recursive
directory listing `spark.read.parquet(dir)` pays per query.  This probe
times both paths — plan construction (`t.read()`, the driver-side cost a
100 TB deployment pays per query against an object-store LIST) and the
full materialization (`.count()`) — against tables with 1x / 10x / 100x
versions-and-files.  The listing path is forced by monkeypatching
`_walk` to decline (exactly the legacy-table fallback).

Expectation: plan construction stays flat-ish and listing-free on the
manifest path (small-object reads, O(versions)); results are identical
row-for-row between the two paths at every cell (asserted).

Run: python tools/probe_manifest_read.py
"""
import json
import os
import shutil
import sys
import time

sys.path.insert(0, "/root/repo")

from dp3_spark.session import get_spark  # noqa: E402
from dp3_spark.streaming.lifecycle import VersionedLogTable  # noqa: E402

ROOT = "/root/repo/data/probe_manifest_read"


def mkbatch(spark, seq0, n=200):
    rows = [
        ("p1", f"/t{k % 4}", 1000 + seq0 + k, seq0 + k, float(k))
        for k in range(n)
    ]
    return spark.createDataFrame(
        rows,
        "producer string, topic string, log_time long, sequence long, v double",
    )


def timed(fn, reps=3):
    best = None
    last = None
    for _ in range(reps):
        t0 = time.perf_counter()
        last = fn()
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    return round(best, 4), last


def main():
    spark = get_spark("manifest-read-probe")
    out = {}
    no_plan = lambda self, lo, hi, *, bases: None  # noqa: E731
    for label, n_appends in [("1x", 3), ("10x", 30), ("100x", 300)]:
        root = os.path.join(ROOT, label)
        shutil.rmtree(root, ignore_errors=True)
        t = VersionedLogTable(spark, root, gc_grace_sec=0.0)
        seq = 0
        for _ in range(n_appends):
            t.append(mkbatch(spark, seq))
            seq += 200
        t.delete_range("p1", "/t0", 0, 1050)  # tombstones in both plans
        nfiles = len(t._list_data_files())

        man_plan, _ = timed(lambda: t.read())
        man_cnt, man_n = timed(lambda: t.read().count())

        orig = VersionedLogTable._walk
        VersionedLogTable._walk = no_plan
        try:
            lst_plan, _ = timed(lambda: t.read())
            lst_cnt, lst_n = timed(lambda: t.read().count())
        finally:
            VersionedLogTable._walk = orig
        assert man_n == lst_n, (man_n, lst_n)

        out[label] = {
            "versions": n_appends + 1,  # + the delete's version
            "files": nfiles,
            "manifest_plan_sec": man_plan,
            "listing_plan_sec": lst_plan,
            "manifest_count_sec": man_cnt,
            "listing_count_sec": lst_cnt,
            "rows": man_n,
        }
        print(f"{label}: {out[label]}", file=sys.stderr)
    print(json.dumps(out))
    shutil.rmtree(ROOT, ignore_errors=True)


if __name__ == "__main__":
    main()
