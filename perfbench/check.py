"""Untimed correctness checks: canonical result hashes and the DuckDB
formulations the engine's answers are compared against."""

from __future__ import annotations

import decimal
import hashlib
import os

import pandas as pd


def _norm(v):
    if isinstance(v, float):
        return float(f"{v:.9g}")
    if isinstance(v, decimal.Decimal):
        return float(f"{float(v):.9g}")
    if hasattr(v, "item"):  # numpy scalar
        return _norm(v.item())
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def rows_hash(columns, rows) -> str:
    """Order-insensitive hash of a result: columns sorted by name, floats
    and decimals compared at 9 significant digits."""
    cols = list(columns)
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = sorted(repr(tuple(_norm(r[i]) for i in order)) for r in rows)
    h = hashlib.sha256(repr([cols[i] for i in order]).encode())
    for line in canon:
        h.update(line.encode())
    return h.hexdigest()


def oracle_hash(sf_dir: str, sql: str, threads: int = 1) -> str:
    """Hash of a registry oracle query run by DuckDB over the corpus."""
    import duckdb

    con = duckdb.connect(config={"threads": threads})
    try:
        for t in ("documents", "embeddings"):
            path = os.path.join(sf_dir, f"{t}.parquet")
            con.execute(f"create view {t} as select * from '{path}'")
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        return rows_hash(cols, cur.fetchall())
    finally:
        con.close()


def playback_count(truth: pd.DataFrame, producer: str, start: int, end: int) -> int:
    t = truth
    return int(((t.producer == producer) & (t.log_time >= start) & (t.log_time < end)).sum())


def asof_count(truth: pd.DataFrame, producer: str, start: int, end: int,
               left: str, right: str, threshold_ns: int) -> int:
    """Rows `from <producer> between start and end <left> precedes <right>
    by less than threshold` returns: every right row whose most recent
    left row (left winning ties) is less than threshold_ns older, plus each
    left row matched at least once.  Computed with DuckDB's ASOF JOIN."""
    import duckdb

    w = truth[(truth.producer == producer) & (truth.log_time >= start) & (truth.log_time < end)]
    con = duckdb.connect()
    try:
        con.register("l", w[w.topic == left][["log_time"]])
        con.register("r", w[w.topic == right][["log_time"]])
        # materialized first: DuckDB would fold the threshold filter into
        # the ASOF condition, which takes a single inequality
        con.execute("create temp table m as select r.log_time as rt, l.log_time as lt "
                    "from r asof join l on r.log_time >= l.log_time")
        rights, lefts = con.execute(
            f"select count(*), count(distinct lt) from m where rt < lt + {threshold_ns}"
        ).fetchone()
        return int(rights + lefts)
    finally:
        con.close()
