"""Per-layer metrics and trace artifacts from a traced run, and the
one-command ``--all`` run.

A traced run has one client, so each span and each Spark job belongs to
the request whose time window contains its start.  Layer times are span
durations summed per request and averaged per op; Spark figures are the
status store's job and stage metrics summed the same way.
"""

from __future__ import annotations

import json
import os
import statistics

SERVE_OPS = ("playback", "asof", "statrange", "quantiles", "tail")
CURATE_OPS = ("minhash", "lsh_pairs", "components", "incremental", "bm25", "pq")
SPARK = (("jobs", "count"), ("tasks", "count"), ("run_ms", "ms"), ("cpu_ms", "ms"),
         ("shuffle_read_bytes", "bytes"), ("shuffle_write_bytes", "bytes"), ("driver_ms", "ms"))


def metric_units() -> dict[str, tuple[str, str]]:
    """Every per-layer metric name -> (unit, better), in report order."""
    m = {"session.boot_s": ("s", "lower"),
         "sources.plan_units_ms": ("ms", "lower"), "sources.units": ("count", "higher"),
         "sources.decode_s": ("s", "lower"),
         "lifecycle.append_s": ("s", "lower"), "lifecycle.log_store_ms": ("ms", "lower"),
         "lifecycle.tail_slice_ms": ("ms", "lower"), "lifecycle.versions": ("count", "higher"),
         "lifecycle.data_files": ("count", "lower"), "lifecycle.data_bytes": ("bytes", "lower")}
    for op in ("playback", "asof"):
        m[f"ql.parse_ms.{op}"] = ("ms", "lower")
        m[f"plans.compile_ms.{op}"] = ("ms", "lower")
    m["output.shape_ms.playback"] = ("ms", "lower")
    m["stats.served_share"] = ("ratio", "higher")
    m["stats.summary_build_s"] = ("s", "lower")
    for op in SERVE_OPS:
        m[f"service.ttfb_ms.{op}"] = ("ms", "lower")
        m[f"service.body_ms.{op}"] = ("ms", "lower")
        m[f"service.rows_out.{op}"] = ("count", "higher")
    for name, unit in SPARK:
        for op in SERVE_OPS + CURATE_OPS:
            m[f"spark.{name}.{op}"] = (unit, "lower")
    for op in CURATE_OPS:
        m[f"curate.stage_s.{op}"] = ("s", "lower")
    m["dedup.pairs_out"] = ("count", "higher")
    m["dedup.incremental_pairs_out"] = ("count", "higher")
    m["trace.op_mean_s"] = ("s", "lower")
    m["trace.span_overhead_ms"] = ("ms", "lower")
    return m


def _mean(xs) -> float:
    xs = list(xs)
    return float(statistics.fmean(xs)) if xs else 0.0


def _covered(intervals, lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of intervals."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def _owner(reqs: list, t: float):
    for r in reqs:
        if r["start"] <= t <= r["end"]:
            return r
    return None


def per_layer(reqs: list, traced: dict, state: dict, boot_s: float, op_mean_s: float,
              out_dir: str | None) -> dict[str, tuple[float, str]]:
    """reqs: the measured requests (warm-up spans count as set-up);
    op_mean_s: the traced run's own end-to-end op_mean_s."""
    spans = [s for s in traced["spans"] if "end" in s]
    jobs = traced["jobs"]
    reqs = sorted(reqs, key=lambda r: r["start"])
    by_req: dict[int, list] = {}
    for s in spans:
        r = _owner(reqs, s["start"])
        s["op"] = r["op"] if r else "setup"
        if r:
            by_req.setdefault(id(r), []).append(s)
    jobs_of: dict[int, list] = {}
    for j in jobs:
        r = _owner(reqs, j["start"])
        j["op"] = r["op"] if r else "setup"
        if r:
            jobs_of.setdefault(id(r), []).append(j)

    def dur(s):
        return s["end"] - s["start"]

    def per_op(op: str, name: str) -> float:
        """Mean per request of op of the summed duration (ms) of spans `name`."""
        rs = [r for r in reqs if r["op"] == op]
        return _mean(sum(dur(s) for s in by_req.get(id(r), []) if s["name"] == name) * 1e3
                     for r in rs)

    def spans_named(name: str) -> list:
        """Spans `name` inside measured requests, or all of them when the
        layer only ran during set-up."""
        named = [s for s in spans if s["name"] == name]
        return [s for s in named if s["op"] != "setup"] or named

    def mean_dur(name: str) -> float:
        return _mean(dur(s) for s in spans_named(name))

    units = metric_units()
    v: dict[str, float] = dict.fromkeys(units, 0.0)
    v["session.boot_s"] = boot_s
    v["sources.plan_units_ms"] = mean_dur("sources.plan_units") * 1e3
    v["sources.units"] = _mean(s.get("n", 0) for s in spans_named("sources.plan_units"))
    v["sources.decode_s"] = state.get("decode_s", 0.0)
    v["lifecycle.append_s"] = mean_dur("lifecycle.append")
    v["lifecycle.log_store_ms"] = mean_dur("lifecycle.log_store") * 1e3
    v["lifecycle.tail_slice_ms"] = mean_dur("lifecycle.tail_slice") * 1e3
    v["lifecycle.versions"] = state.get("versions", 0)
    v["lifecycle.data_files"] = state.get("data_files", 0)
    v["lifecycle.data_bytes"] = state.get("data_bytes", 0)
    for op in ("playback", "asof"):
        v[f"ql.parse_ms.{op}"] = per_op(op, "ql.parse")
        v[f"plans.compile_ms.{op}"] = per_op(op, "plans.compile")
    v["output.shape_ms.playback"] = per_op("playback", "output.shape")
    v["stats.served_share"] = _mean(s.get("n", 0) for s in spans_named("stats.can_serve"))
    v["stats.summary_build_s"] = mean_dur("stats.summary_build")
    spark_rows = {}
    for op in SERVE_OPS + CURATE_OPS:
        rs = [r for r in reqs if r["op"] == op]
        if not rs:
            continue
        if op not in CURATE_OPS:
            v[f"service.ttfb_ms.{op}"] = statistics.median((r["ttfb"] - r["start"]) * 1e3 for r in rs)
            v[f"service.body_ms.{op}"] = statistics.median((r["end"] - r["ttfb"]) * 1e3 for r in rs)
            v[f"service.rows_out.{op}"] = _mean(r["rows"] for r in rs)
        else:
            v[f"curate.stage_s.{op}"] = _mean(r["end"] - r["start"] for r in rs)
        for name, _u in SPARK:
            if name == "jobs":
                vals = [len(jobs_of.get(id(r), [])) for r in rs]
            elif name == "driver_ms":
                vals = [(r["end"] - r["start"] - _covered(
                    [(j["start"], j["end"]) for j in jobs_of.get(id(r), [])], r["start"], r["end"]))
                    * 1e3 for r in rs]
            else:
                vals = [sum(j[name] for j in jobs_of.get(id(r), [])) for r in rs]
            v[f"spark.{name}.{op}"] = _mean(vals)
        spark_rows[op] = {name: v[f"spark.{name}.{op}"] for name, _u in SPARK} | {"requests": len(rs)}
    v["dedup.pairs_out"] = _mean(r["rows"] for r in reqs if r["op"] == "lsh_pairs")
    v["dedup.incremental_pairs_out"] = _mean(r["rows"] for r in reqs if r["op"] == "incremental")
    v["trace.op_mean_s"] = op_mean_s
    v["trace.span_overhead_ms"] = traced["overhead_s"] * 1e3 / max(1, len(reqs))

    if out_dir is not None:
        write_artifacts(out_dir, reqs, spans, by_req, spark_rows, traced, v)
    return {k: (float(v[k]), units[k][0]) for k in units}


def write_artifacts(out_dir, reqs, spans, by_req, spark_rows, traced, v) -> None:
    """spans.jsonl, self_time.json (per layer and op), spark_ops.json and
    layers.json under out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "spans.jsonl"), "w") as f:
        for r in reqs:
            f.write(json.dumps({"name": f"request.{r['op']}", "start": r["start"], "end": r["end"],
                                "ttfb": r["ttfb"], "rows": r["rows"], "ok": r["ok"]}) + "\n")
        for s in spans:
            f.write(json.dumps(s) + "\n")
    child_time: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            child_time[s["parent"]] = child_time.get(s["parent"], 0.0) + s["end"] - s["start"]
    table: dict[tuple[str, str], list] = {}

    def add(layer: str, op: str, self_s: float) -> None:
        entry = table.setdefault((layer, op), [0, 0.0])
        entry[0] += 1
        entry[1] += self_s

    for s in spans:
        add(s["name"].split(".")[0], s["op"], s["end"] - s["start"] - child_time.get(s["id"], 0.0))
    per_op_n: dict[str, int] = {}
    for r in reqs:
        per_op_n[r["op"]] = per_op_n.get(r["op"], 0) + 1
        roots = sum(s["end"] - s["start"] for s in by_req.get(id(r), []) if s["parent"] is None)
        add("service+spark (outside wrapped calls)", r["op"], r["end"] - r["start"] - roots)
    rows = [{"layer": layer, "op": op, "calls": n, "self_ms_total": t * 1e3,
             "self_ms_per_request": t * 1e3 / per_op_n[op] if op in per_op_n else None}
            for (layer, op), (n, t) in sorted(table.items())]
    with open(os.path.join(out_dir, "self_time.json"), "w") as f:
        json.dump(rows, f, indent=1)
    with open(os.path.join(out_dir, "spark_ops.json"), "w") as f:
        json.dump({"per_op": spark_rows, "jobs": traced["jobs"]}, f, indent=1)
    with open(os.path.join(out_dir, "layers.json"), "w") as f:
        json.dump(v, f, indent=1)


def run_all(spec: dict, seed: int, seconds: float, out_root: str) -> int:
    """Every workload untraced, then traced; print every end-to-end metric
    and every non-zero per-layer metric with its unit.  The trace overhead
    is the traced op_mean_s minus that of an untraced run with the same
    single client (one more run where the workload has more clients).
    Exit status 1 when any correctness check failed."""
    from perfbench import run as R

    e2e_units = {m["name"]: m for m in spec["end_to_end"]}
    summary, bad = {}, False
    for w in spec["workloads"]:
        name = w["name"]
        plain = R.run(name, seed, seconds, 0, None)
        traced = R.run(name, seed, seconds, 1, os.path.join(out_root, f"{name}-seed{seed}"))
        base = plain if plain["clients"] == 1 else R.run(name, seed, seconds, 0, None, clients=1)
        overhead = traced["layers"]["trace.op_mean_s"][0] - base["e2e"]["op_mean_s"][0]
        errors = plain["errors"] + traced["errors"] + (base["errors"] if base is not plain else [])
        bad |= bool(errors)
        print(f"== {name}: {w['why']}")
        for k, (val, unit) in plain["e2e"].items():
            print(f"  {k:<32} {val:>14.6g} {unit:<6} ({e2e_units[k]['better']} is better)")
        print(f"  trace overhead on op_mean_s (one client): {overhead:+.4f} s "
              f"({100 * overhead / base['e2e']['op_mean_s'][0]:+.1f}%)")
        for k, (val, unit) in traced["layers"].items():
            if val:
                print(f"  {k:<32} {val:>14.6g} {unit}")
        print(f"  per op: {json.dumps(plain['per_op'])}")
        print(f"  host: {json.dumps(plain['host'])}")
        for e in errors:
            print(f"  CHECK FAILED: {e}")
        summary[name] = {"e2e": plain["e2e"], "layers": traced["layers"],
                         "trace_overhead_s": overhead, "per_op": plain["per_op"],
                         "host": plain["host"], "errors": errors}
    os.makedirs(out_root, exist_ok=True)
    with open(os.path.join(out_root, f"summary-seed{seed}.json"), "w") as f:
        json.dump(summary, f, indent=1)
    return 1 if bad else 0
