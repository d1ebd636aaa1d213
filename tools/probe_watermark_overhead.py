"""Commit-watermark read overhead at sf1 (round-8 verdict ask #7).

Every read resolves `_meta/committed` (one tiny driver-side file read)
and filters `version <= committed` (a constant predicate on a data
column — parquet row-group min/max skips unpublished files without
decoding).  Expected negligible; this measures it the same way the zstd
codec default was justified: the identical scan with and without the
watermark filter, interleaved, on an sf1-scale (10x-rows, 1M events)
VersionedLogTable.

Method: append scale_sf1 events in 8 version batches plus one tombstone
(so read() exercises the full path), then alternate in ONE session:
  A: _data(_snapshot(committed)).count()  — watermark resolve + filter
  B: spark.read.parquet(data dir).count()   — the table's files, no filter
plus full read().count() for context.  Reports min/median of 5.
"""
import json
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F  # noqa: E402

from dp3_spark.catalog import events_log_store  # noqa: E402
from dp3_spark.session import get_spark  # noqa: E402
from dp3_spark.streaming.lifecycle import VersionedLogTable  # noqa: E402

SF1 = "/root/repo/data/scale_sf1"
BATCHES = 8
REPS = 5

spark = get_spark("watermark-probe")
norm = events_log_store(spark, SF1, us_truncate=True).normalized().select(
    "producer", "topic", "log_time", "sequence"
)
n = norm.count()
print(f"sf1 events: {n} rows", flush=True)

root = tempfile.mkdtemp(prefix="wm_probe_")
t = VersionedLogTable(spark, root)
for b in range(BATCHES):
    t.append(norm.filter(F.col("sequence") % BATCHES == b))
p0 = norm.agg(F.min("producer")).collect()[0][0]
lo = norm.agg(F.min("log_time")).collect()[0][0]
t.delete_range(p0, "click", lo, lo + 60_000_000_000)

a_times, b_times, r_times = [], [], []
for rep in range(REPS):
    t0 = time.monotonic()
    t._data(t._snapshot(t.committed_version())).count()
    a_times.append(time.monotonic() - t0)
    t0 = time.monotonic()
    spark.read.parquet(t._resolve_data_path()).count()
    b_times.append(time.monotonic() - t0)
    t0 = time.monotonic()
    t.read().count()
    r_times.append(time.monotonic() - t0)
    print(
        f"rep {rep}: filtered={a_times[-1]:.3f}s raw={b_times[-1]:.3f}s "
        f"read()={r_times[-1]:.3f}s",
        flush=True,
    )

out = {
    "rows": n,
    "batches": BATCHES,
    "filtered_min": min(a_times), "filtered_med": statistics.median(a_times),
    "raw_min": min(b_times), "raw_med": statistics.median(b_times),
    "read_min": min(r_times), "read_med": statistics.median(r_times),
}
json.dump(out, open("/tmp/watermark_overhead.json", "w"), indent=1)
print(json.dumps(out))
shutil.rmtree(root, ignore_errors=True)
