"""System-under-test process for the benchmark.

Builds dp3 through its public API (``get_spark``, ``VersionedLogTable``,
``DP3Engine``, ``attach_summary_store``, ``DP3Service.start``) and then obeys
JSON commands, one per line on stdin, answering one JSON line each on the
stdout it was started with.  Everything the JVM or the library prints goes
to stderr.  ``dp3 serve`` cannot attach a summary store, which is why the
benchmark builds the service itself.

Commands: ``load`` (build the workload's state and start the service),
``pass`` (curate: run every stage once), ``check_statrange``, ``state``
(end-of-run table facts), ``trace`` (spans and Spark job metrics; traced
runs only) and ``quit``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.getcwd())
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import check  # noqa: E402

# (stage, registry row whose DuckDB oracle checks the stage's output)
CURATE_STAGES = (
    ("minhash", None),
    ("lsh_pairs", "dedup_minhash_capped"),
    ("components", "dedup_clusters"),
    ("incremental", "dedup_incremental"),
    ("bm25", "search_bm25_indexed"),
    ("pq", "sim_pq_topk"),
)


def dir_bytes(root: str, suffix: str = ".parquet") -> tuple[int, int]:
    """(files, bytes) of the files under root ending in suffix."""
    files = size = 0
    for dp, _dirs, names in os.walk(root):
        for n in names:
            if n.endswith(suffix):
                files += 1
                size += os.path.getsize(os.path.join(dp, n))
    return files, size


class Sut:
    def __init__(self, workload: str, work: str, recorder) -> None:
        from dp3_spark.session import get_spark

        self.workload = workload
        self.work = work
        self.rec = recorder
        t0 = time.time()
        self.spark = get_spark("perfbench")
        self.spark.range(1).count()  # first job: executor and codegen start
        self.boot_s = time.time() - t0
        self.engine = None
        self.service = None
        self.table = None

    # ------------------------------------------------------------ load
    def load(self, cmd: dict) -> dict:
        from dp3_spark.engine import DP3Engine
        from dp3_spark.operators import stats
        from dp3_spark.service import DP3Service
        from dp3_spark.sources.mcap import decode_tables
        from dp3_spark.streaming.lifecycle import VersionedLogTable

        if self.workload == "curate":
            return {}
        self.table = VersionedLogTable(self.spark, os.path.join(self.work, "table"))
        df = decode_tables(self.spark, [tuple(f) for f in cmd["files"]])[cmd["schema"]]
        # decode once: both appends (the bulk, then the newest second as its
        # own version for the tail route) read the cached rows
        df = df.cache()
        cut = cmd["tail_cut_ns"]
        self.table.append(df.filter(df.log_time < cut))
        self.table.append(df.filter(df.log_time >= cut))
        path = os.path.join(self.work, "summary")
        # 1 s base buckets: any whole-second window is summary-servable at
        # the reference's 60 s granularity, not only whole minutes
        stats.write_summary_store(
            self.table.log_store(), path, granularity_ns=1_000_000_000,
            numeric_fields=("x", "y", "z"),
        )
        self.engine = DP3Engine(self.spark, table=self.table)
        self.summary = self.engine.attach_summary_store(path)
        self.service = DP3Service({cmd["db"]: self.engine})
        host, port = self.service.start()
        return {"host": host, "port": port}

    # ---------------------------------------------------------- curate
    def curate_pass(self, cmd: dict) -> dict:
        """One pass of every stage; each stage's result is collected.  The
        components stage clusters the pairs the lsh_pairs stage returned,
        as a pipeline would, instead of recomputing them."""
        from dp3_spark import queries as Q
        from dp3_spark.operators import components, dedup

        registry = Q.queries()
        sf_dir = cmd["sf_dir"]
        docs = self.spark.read.parquet(f"{sf_dir}/documents.parquet")
        pairs = None
        out = []
        for stage, row in CURATE_STAGES:
            def run():
                if stage == "minhash":
                    df = dedup.minhash_signatures(docs, "doc_id", "text", n=3, num_hashes=128)
                elif stage == "components":
                    df = components.dedup_clusters(docs, pairs)
                else:
                    df = registry[row](self.spark, sf_dir)
                return df, df.collect()

            if self.rec is not None:
                run = self.rec.wrap(f"curate.{stage}", run)
            t0 = time.time()
            df, rows = run()
            t1 = time.time()
            if stage == "lsh_pairs":
                pairs = self.spark.createDataFrame(rows, df.schema)
            entry = {"stage": stage, "start": t0, "end": t1, "rows": len(rows)}
            if row is not None:
                entry["hash"] = check.rows_hash(df.columns, rows)
            out.append(entry)
        return {"stages": out}

    # ---------------------------------------------------------- checks
    def check_statrange(self, cmd: dict) -> dict:
        """Summary-served stat_range against the raw derivation."""
        from dp3_spark.operators import stats

        req = dict(
            topic=cmd["topic"], start_ns=cmd["start"], end_ns=cmd["end"],
            granularity_ns=cmd["granularity"], numeric_fields=tuple(cmd["fields"]),
            producer=cmd.get("producer"),
        )
        servable = self.summary.can_serve(**req)
        served = self.engine.stat_range(**req)
        raw = stats.stat_range(self.table.log_store(), **req)
        cols = sorted(raw.columns)
        a = check.rows_hash(cols, served.select(*cols).collect())
        b = check.rows_hash(cols, raw.select(*cols).collect())
        return {"servable": servable, "equal": a == b}

    def state(self, cmd: dict) -> dict:
        out: dict = {}
        if self.table is not None:
            files, size = dir_bytes(self.table.data_path)
            out.update(versions=self.table.committed_version(), data_files=files,
                       data_bytes=size)
        if self.workload == "curate":
            out["index_bytes"] = dir_bytes(os.environ["TMPDIR"])[1]
        if cmd.get("decode_files"):
            from dp3_spark.sources.mcap import read_mcap

            t0 = time.time()
            read_mcap(self.spark, [tuple(f) for f in cmd["decode_files"]]).count()
            out["decode_s"] = time.time() - t0
        return out

    def trace(self, cmd: dict) -> dict:
        from perfbench.trace import spark_jobs

        return {
            "spans": self.rec.spans,
            "overhead_s": self.rec.overhead_s,
            "jobs": spark_jobs(self.spark),
        }

    def quit(self) -> None:
        if self.service is not None:
            self.service.stop()
        self.spark.stop()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=("serve", "curate"))
    ap.add_argument("--work", required=True)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()

    # protocol channel = the stdout we were given; fd 1 -> stderr so the
    # JVM and library prints cannot interleave with replies
    proto = os.fdopen(os.dup(1), "w", buffering=1)
    os.dup2(2, 1)
    sys.stdout = sys.stderr

    def reply(obj: dict) -> None:
        proto.write(json.dumps(obj) + "\n")
        proto.flush()

    rec = None
    if args.trace:
        from perfbench.trace import Recorder, install

        rec = Recorder()
        install(rec)
    sut = Sut(args.workload, args.work, rec)
    reply({"boot_s": sut.boot_s})
    handlers = {
        "load": sut.load,
        "pass": sut.curate_pass,
        "check_statrange": sut.check_statrange,
        "state": sut.state,
        "trace": sut.trace,
    }
    for line in sys.stdin:
        cmd = json.loads(line)
        if cmd["cmd"] == "quit":
            break
        try:
            reply({"ok": True, **handlers[cmd["cmd"]](cmd)})
        except Exception as e:  # report to the benchmark, keep serving
            import traceback

            traceback.print_exc()
            reply({"ok": False, "error": f"{type(e).__name__}: {e}"})
    sut.quit()
    reply({"bye": True})
    return 0


if __name__ == "__main__":
    sys.exit(main())
