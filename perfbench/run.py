#!/usr/bin/env python3
"""dp3 repo benchmark: load generator, correctness checks and metrics.

One run:   python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0
Everything: python3 perfbench/run.py --all

A run starts the system under test in its own process (perfbench/launcher.py),
feeds it inputs generated from --seed, drives it closed-loop for --seconds,
checks its answers untimed, and prints one JSON object as the last line of
stdout.  --trace 0 reports the end-to-end metrics; --trace 1 is a separate
one-client run with wrappers around each layer's public functions and
reports the per-layer metrics.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import http.client
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, os.getcwd())

DB = "fleet"
NS = 1_000_000_000
SERVE_PRODUCERS, SERVE_DATA_S = 8, 20
CURATE_DOCS, CURATE_VECTORS = 400, 300
DRIVER_MEM = "2g"
CLIENTS = 2
# serve warm-up, in rounds of the mix per client: latencies fall for the
# first 30-40 s of traffic while the JVM warms.  One round (about 7 s) takes
# the steepest part of that fall; warming longer would not fit 4 + 22 runs
# of each workload in the benchmark's 3420 s budget
WARM_ROUNDS = 1
NOISY_STEAL_PCT = 5.0


# ------------------------------------------------------------------ child

class Child:
    """The system-under-test process and its command channel."""

    def __init__(self, workload: str, work: str, trace: int) -> None:
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        env = dict(os.environ)
        env.update(
            SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),  # nproc
            SPARK_DRIVER_MEM=DRIVER_MEM,
            SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
            TMPDIR=tmp,
            JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp}",
            PYSPARK_PYTHON=sys.executable,
            PYTHONPATH=os.pathsep.join([os.getcwd(), env.get("PYTHONPATH", "")]),
        )
        self.log = open(os.path.join(work, "sut.log"), "w")
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "launcher.py"), "--workload", workload,
             "--work", work, "--trace", str(trace)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=self.log,
            cwd=work, env=env, text=True, bufsize=1,
        )
        self.rss = RssSampler(self.proc.pid)
        self.rss.start()

    def read(self) -> dict:
        line = self.proc.stdout.readline()
        if not line:
            raise RuntimeError(f"system under test exited (code {self.proc.wait()})")
        return json.loads(line)

    def call(self, cmd: str, **kw) -> dict:
        self.proc.stdin.write(json.dumps({"cmd": cmd, **kw}) + "\n")
        self.proc.stdin.flush()
        out = self.read()
        if not out.get("ok"):
            raise RuntimeError(f"{cmd} failed: {out.get('error')}")
        return out

    def close(self) -> None:
        self.rss.sample()
        try:
            if self.proc.poll() is None:
                self.proc.stdin.write(json.dumps({"cmd": "quit"}) + "\n")
                self.proc.stdin.flush()
                self.proc.wait(timeout=20)
        except (OSError, subprocess.TimeoutExpired):
            pass
        kill_tree(self.proc.pid)
        if self.proc.poll() is None:
            self.proc.kill()
        self.proc.wait()
        self.rss.stop()
        self.log.close()


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(d))
    return kids


def tree(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def kill_tree(pid: int) -> None:
    for p in reversed(tree(pid)[1:]):
        try:
            os.kill(p, 9)
        except OSError:
            pass


class RssSampler(threading.Thread):
    """Peak resident memory of the process tree (JVM and Python workers):
    the largest sum of the processes' current RSS (VmRSS) over samples taken
    every 0.2 s.  Pages a forked worker shares with its parent count in
    both, as RSS counts them."""

    def __init__(self, pid: int) -> None:
        super().__init__(daemon=True)
        self.pid = pid
        self.peak_kb = 0
        self._halt = threading.Event()

    def run(self) -> None:
        while not self._halt.wait(0.2):
            self.sample()

    def sample(self) -> None:
        total = 0
        for p in tree(self.pid):
            try:
                with open(f"/proc/{p}/status") as f:
                    for line in f:
                        if line.startswith("VmRSS:"):
                            total += int(line.split()[1])
            except (OSError, ValueError):
                pass
        self.peak_kb = max(self.peak_kb, total)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024

    def stop(self) -> None:
        self._halt.set()
        self.join()


# ----------------------------------------------------------------- client

class Client:
    """One keep-alive HTTP connection; records every request it makes."""

    def __init__(self, port: int, log: list) -> None:
        self.conn = http.client.HTTPConnection("127.0.0.1", port, timeout=150)
        self.log = log

    def request(self, op: str, method: str, path: str, body=None, check=None) -> dict:
        if isinstance(body, dict):
            body = json.dumps(body).encode()
        rec = {"op": op, "start": time.time(), "ok": False, "rows": 0}
        try:
            self.conn.request(method, path, body=body,
                              headers={"Content-Type": "application/json"})
            resp = self.conn.getresponse()
            rec["ttfb"] = time.time()
            data = resp.read()
            rec["ok"] = resp.status == 200
            rec["rows"] = data.count(b"\n") if data[:1] != b"[" else len(json.loads(data))
            rec["data"] = data
        except (OSError, http.client.HTTPException, ValueError) as e:
            rec["error"] = repr(e)
            self.conn.close()
        rec["end"] = time.time()
        rec.setdefault("ttfb", rec["end"])
        if rec["ok"] and check is not None:
            rec["check"] = check
        self.log.append(rec)
        return rec

    def close(self) -> None:
        self.conn.close()


def closed_loop(clients: int, deadline: float, step) -> None:
    """Run step(client_index) back to back on each client until the
    deadline; a request in flight at the deadline completes and counts."""
    def loop(i):
        while time.time() < deadline:
            if step(i) is False:
                return

    threads = [threading.Thread(target=loop, args=(i,)) for i in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()


# -------------------------------------------------------------- workloads

def zipf_choice(rng, n: int) -> int:
    w = 1.0 / np.arange(1, n + 1)
    return int(rng.choice(n, p=w / w.sum()))


def recent_start(rng, data_s: int, window_s: int) -> int:
    """Window start favouring recent time: exponential distance back from
    the newest possible window."""
    from perfbench import gen

    back = min(rng.exponential(data_s / 4), data_s - window_s)
    return gen.START_NS + int((data_s - window_s - back) * 1000) * 1_000_000


class Serve:
    """Read-only serving over one decoded, summarized fleet table."""

    primary, secondary = ("playback", "asof"), ("statrange", "quantiles", "tail")

    def __init__(self, seed: int, work: str) -> None:
        self.seed, self.work = seed, work

    def prepare(self) -> None:
        from perfbench import gen

        d = os.path.join(self.work, "mcap")
        os.makedirs(d)
        self.files, self.truth = gen.write_fleet(d, self.seed, SERVE_PRODUCERS, SERVE_DATA_S)
        self.input_bytes = sum(os.path.getsize(p) for p, _ in self.files)
        self.tail_cut = gen.START_NS + (SERVE_DATA_S - 1) * NS

    def load(self, child: Child) -> int:
        from perfbench import gen

        return child.call("load", db=DB, files=self.files, schema=gen.SCHEMA_NAME,
                          tail_cut_ns=self.tail_cut)["port"]

    # the op mix, cycled by every client from its own offset: a fixed mix
    # keeps run-to-run medians comparable; only the parameters are drawn.
    # No traffic trace gives the proportions, so every kind weighs the same.
    MIX = ("playback", "statrange", "asof", "tail", "quantiles")

    def step(self, rng, client: Client, kind: str) -> dict:
        """Send one request of `kind`, its parameters drawn from rng."""
        from perfbench import gen

        p = gen.producer_name(zipf_choice(rng, SERVE_PRODUCERS))
        if kind == "playback":
            a = recent_start(rng, SERVE_DATA_S, 10)
            q = f"from {p} between {a} and {a + 10 * NS} /imu, /odom, /gps, /diag;"
            return client.request(kind, "POST", f"/databases/{DB}/query", {"query": q},
                                  check=("playback", p, a, a + 10 * NS))
        if kind == "asof":
            a = recent_start(rng, SERVE_DATA_S, 15)
            q = (f"from {p} between {a} and {a + 15 * NS} /gps precedes /odom "
                 "by less than 15 milliseconds;")
            return client.request(kind, "POST", f"/databases/{DB}/query", {"query": q},
                                  check=("asof", p, a, a + 15 * NS))
        if kind in ("statrange", "quantiles"):
            topic = gen.TOPICS[int(rng.integers(0, len(gen.TOPICS)))][0]
            # whole seconds: the summary's 1 s base buckets serve the window
            a = gen.START_NS + (recent_start(rng, SERVE_DATA_S, 10) - gen.START_NS) // NS * NS
            body = {"database": DB, "topic": topic, "start": a, "end": a + 10 * NS,
                    "granularity": 60 * NS, "producer": p}
            if kind == "quantiles":
                body.update(fields="x", quantiles="0.5,0.9,0.99")
                return client.request(kind, "POST", "/statrange", body, check=("quantiles",))
            body["fields"] = "x,y,z"
            return client.request(kind, "POST", "/statrange", body, check=("stat", body))
        return client.request(kind, "GET", f"/databases/{DB}/tail?from=1", check=("tail",))

    def verify(self, child: Child, reqs: list, errors: list) -> None:
        from perfbench import check

        compared = False
        for r in reqs:
            c = r.get("check")
            if c is None:
                continue
            if c[0] == "playback":
                want = check.playback_count(self.truth, *c[1:])
            elif c[0] == "asof":
                want = check.asof_count(self.truth, *c[1:], "/gps", "/odom", 15_000_000)
            elif c[0] == "tail":
                want = int((self.truth.log_time >= self.tail_cut).sum()) + 1
            elif c[0] == "quantiles":
                want = 1  # one 60 s bucket
            else:
                body = c[1]
                t = self.truth
                want = int(((t.producer == body["producer"]) & (t.topic == body["topic"])
                            & (t.log_time >= body["start"]) & (t.log_time < body["end"])).sum())
                got = sum(row["message_count"] for row in json.loads(r["data"]))
                if got != want:
                    errors.append(f"statrange {body['topic']} {body['producer']}: {got} != {want}")
                if not compared:
                    compared = True
                    res = child.call("check_statrange", topic=body["topic"], start=body["start"],
                                     end=body["end"], granularity=body["granularity"],
                                     fields=["x", "y", "z"], producer=body["producer"])
                    if not (res["servable"] and res["equal"]):
                        errors.append(f"summary-served statrange != raw stat_range: {res}")
                continue
            if r["rows"] != want:
                errors.append(f"{c[0]} {c[1:]}: {r['rows']} rows, expected {want}")

    def stored_bytes(self, state: dict) -> int:
        return state["data_bytes"]

    def state_cmd(self) -> dict:
        return {"decode_files": self.files}


class Curate:
    """Batch curation passes over a seeded corpus."""

    # the MinHash/LSH family, then the stages that consume pairs or search
    primary = ("minhash", "lsh_pairs", "incremental")
    secondary = ("components", "bm25", "pq")

    def __init__(self, seed: int, work: str) -> None:
        self.seed, self.work = seed, work

    def prepare(self) -> None:
        from perfbench import corpus

        self.sf_dir = os.path.join(self.work, "corpus")
        sizes = corpus.write(self.sf_dir, self.seed, CURATE_DOCS, CURATE_VECTORS)
        self.input_bytes = sizes["documents"]

    def load(self, child: Child) -> None:
        child.call("load")
        self.child = child

    def one_pass(self, log: list) -> None:
        for s in self.child.call("pass", sf_dir=self.sf_dir)["stages"]:
            log.append({"op": s["stage"], "start": s["start"], "end": s["end"], "ttfb": s["end"],
                        "ok": True, "rows": s["rows"], "hash": s.get("hash")})

    def stored_bytes(self, state: dict) -> int:
        return state["index_bytes"]

    def verify(self, child: Child, reqs: list, errors: list) -> None:
        from dp3_spark import queries as Q

        from perfbench import check
        from perfbench.launcher import CURATE_STAGES

        sql = Q.oracle_sql()
        oracle = {stage: check.oracle_hash(self.sf_dir, sql[row], threads=4)
                  for stage, row in CURATE_STAGES if row is not None}
        for r in reqs:
            if r["op"] in oracle and r["hash"] != oracle[r["op"]]:
                errors.append(f"curate {r['op']} differs from its DuckDB oracle")
            if r["op"] == "minhash" and r["rows"] != CURATE_DOCS:
                errors.append(f"minhash signed {r['rows']} of {CURATE_DOCS} documents")

    def state_cmd(self) -> dict:
        return {}


WORKLOADS = {"serve": Serve, "curate": Curate}


# ---------------------------------------------------------------- metrics

def end_to_end(wl, reqs: list, setup_s: float, state: dict, peak_mb: float) -> dict:
    """Latencies are summarized per op kind first and then averaged over
    the kinds, each weighing the same, so a run's figures do not move with
    how many requests of each kind fit before the deadline.  With closed-loop clients the
    throughput is clients / op_mean_s, so it is not reported apart.  A run
    holds tens of requests, so no percentile above the median has ten
    samples beyond it; means are reported beside the median."""
    lat = {}
    for r in reqs:
        lat.setdefault(r["op"], []).append(r["end"] - r["start"])

    def mix(stat, kinds):
        return statistics.fmean(stat(lat[k]) for k in kinds if k in lat)

    return {
        "setup_s": (setup_s, "s"),
        "op_p50_s": (mix(statistics.median, wl.primary + wl.secondary), "s"),
        "op_mean_s": (mix(statistics.fmean, wl.primary + wl.secondary), "s"),
        "primary_mean_s": (mix(statistics.fmean, wl.primary), "s"),
        "secondary_mean_s": (mix(statistics.fmean, wl.secondary), "s"),
        "bytes_stored_per_input_byte": (wl.stored_bytes(state) / wl.input_bytes, "ratio"),
        "peak_rss_mb": (peak_mb, "MB"),
    }


def per_op(reqs: list) -> dict:
    """Informational: sample count, median and mean latency per op kind."""
    out = {}
    for op in sorted({r["op"] for r in reqs}):
        lat = [r["end"] - r["start"] for r in reqs if r["op"] == op]
        out[op] = {"n": len(lat), "p50_s": statistics.median(lat), "mean_s": statistics.fmean(lat)}
    return out


# ------------------------------------------------------------------- run

def note(msg: str) -> None:
    print(f"perfbench {time.strftime('%H:%M:%S')} {msg}", file=sys.stderr, flush=True)


def run(workload: str, seed: int, seconds: float, trace: int, out_dir: str | None,
        clients: int = CLIENTS) -> dict:
    """One run.  A traced run, and every curate run, has one client."""
    if trace or workload == "curate":
        clients = 1
    if not os.path.isdir(os.path.join(os.getcwd(), "dp3_spark")):
        raise SystemExit("perfbench: run from the root of a dp3 checkout (dp3_spark/ not found)")
    work = os.path.join(os.getcwd(), ".perfbench_work", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    wl = WORKLOADS[workload](seed, work)
    t_spawn = time.time()
    child = Child(workload, work, trace)
    try:
        wl.prepare()  # overlaps the child's Spark boot
        note(f"{workload}: inputs ready")
        boot_s = child.read()["boot_s"]
        note(f"{workload}: spark up in {boot_s:.1f} s")
        port = wl.load(child)
        note(f"{workload}: loaded")
        warm_log: list = []
        if workload == "serve":  # a curation pass is a batch job: it runs cold
            conns = [Client(port, warm_log) for _ in range(clients)]
            rngs = [np.random.default_rng([seed, i]) for i in range(clients)]
            turns = [0] * clients

            def step(i):
                # odd clients cycle the mix backwards: two clients cycling it
                # the same way fall into step and send the same kind together
                kind = wl.MIX[(-1) ** i * turns[i] % len(wl.MIX)]
                turns[i] += 1
                return wl.step(rngs[i], conns[i], kind)

            # counted, not timed, so every run measures after the same work
            closed_loop(clients, float("inf"),
                        lambda i: turns[i] < WARM_ROUNDS * len(wl.MIX) and step(i))
        setup_s = time.time() - t_spawn
        note(f"{workload}: warm, setup {setup_s:.1f} s")

        windows = []  # (requests, steal ticks) per measured window
        if workload == "curate":
            reqs: list = []
            ticks0 = cpu_ticks()
            wl.one_pass(reqs)  # one cold pass, however long it takes
            windows.append((reqs, (ticks0, cpu_ticks())))
        else:
            # a window in which other tenants stole more than NOISY_STEAL_PCT
            # of the CPU is measured once more, and the quieter one is kept:
            # min-of-two against host noise, as bench.py takes min-of-2.  A
            # second cold curation pass would need a fresh system under
            # test, which the run budget cannot afford
            while len(windows) < 2:
                window: list = []
                for c in conns:
                    c.log = window
                ticks0 = cpu_ticks()
                closed_loop(clients, time.time() + seconds, step)
                windows.append((window, (ticks0, cpu_ticks())))
                if steal_pct(*windows[-1][1]) <= NOISY_STEAL_PCT:
                    break
            for c in conns:
                c.close()
        reqs, ticks = min(windows, key=lambda w: steal_pct(*w[1]))
        every = [r for w, _t in windows for r in w]
        note(f"{workload}: measured {len(reqs)} ops")
        state = child.call("state", **(wl.state_cmd() if trace else {}))
        traced = child.call("trace") if trace else None
        errors: list = []
        wl.verify(child, warm_log + every, errors)
    finally:
        child.close()
    # host facts are informational; the canary runs once the system under
    # test has stopped and the checks are done, on an otherwise idle host
    host = host_context(*ticks)
    note(f"{workload}: checked and stopped")
    failed = sum(1 for r in every if not r["ok"])
    for r in warm_log + every:
        if not r["ok"]:
            errors.append(f"{r['op']} request failed: {r.get('error') or r.get('data', b'')[:200]!r}")
    e2e = end_to_end(wl, reqs, setup_s, state, child.rss.peak_mb)
    result = {
        "workload": workload, "seed": seed, "trace": trace, "clients": clients, "errors": errors,
        "attempted": len(every), "failed": failed, "e2e": e2e, "host": host,
        "windows_steal_pct": [steal_pct(*t) for _w, t in windows],
        "per_op": per_op(reqs),
    }
    if trace:
        from perfbench import layers

        result["layers"] = layers.per_layer(reqs, traced, state, boot_s, e2e["op_mean_s"][0],
                                            out_dir)
    shutil.rmtree(work, ignore_errors=True)
    return result


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


def steal_pct(ticks0: tuple[int, int], ticks1: tuple[int, int]) -> float:
    """Share of CPU time stolen by other tenants between two samples."""
    return 100.0 * (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1])


def host_context(ticks0: tuple[int, int], ticks1: tuple[int, int]) -> dict:
    """Informational host facts: 1-minute load, steal share of CPU time
    between the two samples (the measured window), and the repo's CPU
    canary (bench.host_canary)."""
    out = {"load_1m": os.getloadavg()[0], "steal_pct": steal_pct(ticks0, ticks1)}
    try:
        import bench

        out["canary"] = bench.host_canary()
    except Exception as e:  # the canary is informational only
        out["canary_error"] = repr(e)
    return out


def final_line(res: dict, metric_names: list[str]) -> str:
    if res["trace"]:
        vals = res["layers"]
    else:
        vals = res["e2e"]
    metrics = {k: {"value": vals[k][0], "unit": vals[k][1]} for k in metric_names}
    return json.dumps({
        "correct": not res["errors"], "attempted": res["attempted"],
        "failed": res["failed"], "metrics": metrics,
    })


def _timeout(signum, frame):
    raise TimeoutError("run exceeded its time limit")


def load_spec() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--all", action="store_true",
                    help="run every workload untraced and traced; print every metric")
    args = ap.parse_args()
    spec = load_spec()
    seconds = args.seconds or spec["run_seconds"]
    out_root = os.path.join(os.getcwd(), "perfbench_out")
    if args.all:
        from perfbench import layers

        return layers.run_all(spec, args.seed, seconds, out_root)
    if not args.workload:
        ap.error("--workload or --all is required")
    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(170)  # a run must end within 180 s, stopped children included
    res = run(args.workload, args.seed, seconds, args.trace,
              os.path.join(out_root, f"{args.workload}-seed{args.seed}") if args.trace else None)
    for e in res["errors"]:
        print("CHECK FAILED:", e, file=sys.stderr)
    print(json.dumps({"workload": res["workload"], "seed": res["seed"], "host": res["host"],
                      "windows_steal_pct": res["windows_steal_pct"], "per_op": res["per_op"],
                      "errors": res["errors"]}))
    names = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]
    print(final_line(res, names))
    return 0


if __name__ == "__main__":
    sys.exit(main())
