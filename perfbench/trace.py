"""Span recording around the program's public functions, from outside.

The traced run installs wrappers on the functions each layer exposes
(``install``).  A wrapper records one span per call: layer name, start and
end (``time.time()``, shared with the load generator's clock), the span that
was open on the same thread when it started, and the thread.  Spans stay in
memory until the run ends.  Nothing here changes what a function returns.

``spark_jobs`` reads Spark's status store once at the end, so the jobs and
stages of a request can be attributed to it by time window afterwards.
"""

from __future__ import annotations

import functools
import threading
import time


class Recorder:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.overhead_s = 0.0  # bookkeeping time spent inside wrappers
        self._lock = threading.Lock()
        self._local = threading.local()

    def wrap(self, name: str, fn, result_count=None):
        """fn wrapped to record a span named `name`; result_count(result),
        when given, is stored in the span as `n` (e.g. units planned, or 1
        for a True answer)."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            t0 = time.perf_counter()
            stack = getattr(self._local, "stack", None)
            if stack is None:
                stack = self._local.stack = []
            span = {
                "name": name,
                "parent": stack[-1]["id"] if stack else None,
                "thread": threading.get_ident(),
            }
            with self._lock:
                span["id"] = len(self.spans)
                self.spans.append(span)
            stack.append(span)
            self.overhead_s += time.perf_counter() - t0
            span["start"] = time.time()
            try:
                out = fn(*args, **kwargs)
            finally:
                span["end"] = time.time()
                t1 = time.perf_counter()
                stack.pop()
                self.overhead_s += time.perf_counter() - t1
            if result_count is not None:
                span["n"] = int(result_count(out))
            return out

        return traced


def _patch(rec: Recorder, owner, attr: str, name: str, result_count=None) -> None:
    setattr(owner, attr, rec.wrap(name, getattr(owner, attr), result_count))


def install(rec: Recorder) -> None:
    """Wrap the public entry points of each layer.  Module attributes are
    patched where callers look them up at call time; the engine module's
    own imported names are patched too."""
    from dp3_spark import engine, output
    from dp3_spark.operators import stats
    from dp3_spark.plans.compiler import Compiler
    from dp3_spark.sources import mcap
    from dp3_spark.streaming.lifecycle import VersionedLogTable

    _patch(rec, engine, "parse", "ql.parse")
    _patch(rec, Compiler, "compile_query", "plans.compile")
    _patch(rec, output, "to_json_lines", "output.shape")
    _patch(rec, engine, "to_json_lines", "output.shape")
    _patch(rec, mcap, "plan_mcap_units", "sources.plan_units", len)
    _patch(rec, mcap, "read_mcap", "sources.read_mcap")
    _patch(rec, mcap, "decode_tables", "sources.decode_tables")
    _patch(rec, VersionedLogTable, "append", "lifecycle.append")
    _patch(rec, VersionedLogTable, "log_store", "lifecycle.log_store")
    _patch(rec, VersionedLogTable, "read_manifest_range", "lifecycle.tail_slice")
    _patch(rec, VersionedLogTable, "tail_version_counts", "lifecycle.tail_counts")
    _patch(rec, stats, "write_summary_store", "stats.summary_build")
    _patch(rec, stats, "stat_range", "stats.stat_range_raw")
    _patch(rec, stats.SummaryStore, "can_serve", "stats.can_serve", bool)
    _patch(rec, stats.SummaryStore, "can_serve_quantiles", "stats.can_serve", bool)
    _patch(rec, stats.SummaryStore, "stat_range", "stats.stat_range_served")
    _patch(rec, stats.SummaryStore, "quantiles", "stats.quantiles_served")
    for meth in ("execute", "stat_range", "stat_quantiles", "tail_slice",
                 "tail_version_counts", "import_mcap"):
        _patch(rec, engine.DP3Engine, meth, f"engine.{meth}")


def _epoch_s(opt) -> float | None:
    """scala Option[Date] -> epoch seconds."""
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def spark_jobs(spark) -> list[dict]:
    """Every job the status store still holds, with its stages' task count,
    executor run and CPU time and shuffle bytes summed.  Works with the UI
    disabled: the status store is fed by the listener bus either way."""
    store = spark.sparkContext._jsc.sc().statusStore()
    seq = store.jobsList(None)
    jobs = []
    for i in range(seq.size()):
        jd = seq.apply(i)
        start, end = _epoch_s(jd.submissionTime()), _epoch_s(jd.completionTime())
        if start is None or end is None:
            continue
        job = {"id": jd.jobId(), "start": start, "end": end, "stages": 0, "tasks": 0,
               "run_ms": 0, "cpu_ms": 0.0, "shuffle_read_bytes": 0, "shuffle_write_bytes": 0}
        for sid in str(jd.stageIds().mkString(",")).split(","):
            if not sid:
                continue
            sd = store.lastStageAttempt(int(sid))
            if sd.status().toString() == "SKIPPED":
                continue
            job["stages"] += 1
            job["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
            job["run_ms"] += sd.executorRunTime()
            job["cpu_ms"] += sd.executorCpuTime() / 1e6
            job["shuffle_read_bytes"] += sd.shuffleReadBytes()
            job["shuffle_write_bytes"] += sd.shuffleWriteBytes()
        jobs.append(job)
    return jobs
