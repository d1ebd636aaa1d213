"""Bound-gated final sort (operators/merge.sort_rows).

A QL result or /tail body whose proven row bound and size estimate fit
one task sorts in a single partition behind one exchange; an unknown
bound, or one above merge.ONE_TASK_SORT_MAX_ROWS or
merge.ONE_TASK_SORT_MAX_BYTES, keeps the range-partitioned `orderBy` and
its sampling job.  Both paths must return identical rows in identical order,
on a manifest-planned VersionedLogTable (the store whose row_bound is the
summed manifest row count)."""

import dataclasses
import json
import random
import urllib.request

import pytest

from dp3_spark.operators import merge as merge_mod
from dp3_spark.plans import Compiler
from dp3_spark.ql import ast
from dp3_spark.ql.parser import parse
from dp3_spark.streaming.lifecycle import VersionedLogTable

ROWS_PER_VERSION = 200
VERSIONS = 3


@pytest.fixture(scope="module")
def table(spark, tmp_path_factory):
    """Three appended versions over two producers and three topics, with
    log_time drawn from a narrow range so rows tie on log_time across
    topics and producers (the tie-breaks are part of the order)."""
    rng = random.Random(11)
    vt = VersionedLogTable(spark, str(tmp_path_factory.mktemp("bounded_sort") / "vt"))
    seq = 0
    for _ in range(VERSIONS):
        rows = []
        for _ in range(ROWS_PER_VERSION):
            seq += 1
            rows.append((
                rng.choice(("p0", "p1")),
                rng.choice(("click", "purchase", "view")),
                rng.randrange(0, 400),
                seq,
                float(seq),
            ))
        vt.append(spark.createDataFrame(
            rows, "producer string, topic string, log_time long, sequence long, value double"
        ))
    assert vt.log_store().row_bound == ROWS_PER_VERSION * VERSIONS
    return vt


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


STATEMENTS = [
    "from * click, purchase, view;",
    "from * click, view desc;",
    "from * click precedes purchase by less than 20 nanoseconds;",
    "from * click succeeds purchase by less than 20 nanoseconds;",
    "from * click precedes immediate purchase by less than 20 nanoseconds;",
]


def _run(store, stmt, monkeypatch, cap):
    if cap is not None:
        monkeypatch.setattr(merge_mod, "ONE_TASK_SORT_MAX_ROWS", cap)
    df = Compiler(store).compile(stmt)
    return _plan(df), [tuple(r) for r in df.collect()]


@pytest.mark.parametrize("stmt", STATEMENTS)
def test_sort_parity_across_the_bound(spark, table, stmt, monkeypatch):
    """At the default cap and at exactly row_bound x scans the final sort
    runs without range partitioning; one row below, it is the orderBy
    path.  All three return the same rows in the same order."""
    store = table.log_store()
    bound = store.row_bound * len(ast.scans(parse(stmt).query.select))
    default_plan, default_rows = _run(store, stmt, monkeypatch, None)
    at_plan, at_rows = _run(store, stmt, monkeypatch, bound)
    above_plan, above_rows = _run(store, stmt, monkeypatch, bound - 1)
    assert "rangepartitioning" not in default_plan
    assert "rangepartitioning" not in at_plan
    assert "rangepartitioning" in above_plan
    assert len(default_rows) > 10
    assert default_rows == at_rows == above_rows


@pytest.mark.parametrize("stmt", [
    "from * click, view desc limit 25 offset 10;",
    "from * click precedes purchase by less than 20 nanoseconds limit 7;",
])
def test_limited_statement_keeps_top_k(spark, table, stmt, monkeypatch):
    """A limited statement's orderBy plans as a top-k sort, which samples
    nothing, on either side of the bound; the rows are the same page of
    the unlimited result."""
    store = table.log_store()
    full = [tuple(r) for r in Compiler(store).compile(stmt.split(" limit")[0] + ";").collect()]
    q = parse(stmt).query
    page = full[q.offset or 0:(q.offset or 0) + q.limit]
    for cap in (None, 1):
        plan, rows = _run(store, stmt, monkeypatch, cap)
        assert "TakeOrderedAndProject" in plan and "rangepartitioning" not in plan
        assert rows == page and len(rows) == q.limit


def test_unknown_bound_keeps_orderby(spark, table):
    """A store without a proven bound (the listing fallback) sorts with
    orderBy exactly as before."""
    store = dataclasses.replace(table.log_store(), row_bound=None)
    df = Compiler(store).compile(STATEMENTS[0])
    assert "rangepartitioning" in _plan(df)


@pytest.mark.parametrize("stmt", STATEMENTS[:2])
def test_size_estimate_over_ceiling_keeps_orderby(spark, table, stmt, monkeypatch):
    """Within the row ceiling, a size estimate above the byte ceiling
    (large payloads) still sorts with orderBy, returning the same rows."""
    store = table.log_store()
    one_task_plan, one_task_rows = _run(store, stmt, monkeypatch, None)
    df = Compiler(store).compile(stmt)
    est = int(df._jdf.queryExecution().analyzed().stats().sizeInBytes())
    monkeypatch.setattr(merge_mod, "ONE_TASK_SORT_MAX_BYTES", est - 1)
    plan, rows = _run(store, stmt, monkeypatch, None)
    assert "rangepartitioning" not in one_task_plan
    assert "rangepartitioning" in plan
    assert rows == one_task_rows


def test_service_tail_sort_parity(spark, table, monkeypatch):
    """/tail over three versions sorts with the exact row count it summed
    from the manifests; the body equals the orderBy path's line for line."""
    from dp3_spark import service as service_mod
    from dp3_spark.engine import DP3Engine

    seen = []
    real = service_mod.sort_rows

    def spy(df, order, bound):
        out = real(df, order, bound)
        seen.append((bound, "rangepartitioning" in _plan(out)))
        return out

    monkeypatch.setattr(service_mod, "sort_rows", spy)
    s = service_mod.DP3Service({"vt": DP3Engine(spark, table=table)})
    host, port = s.start()
    try:
        def body():
            url = f"http://{host}:{port}/databases/vt/tail?from=0"
            with urllib.request.urlopen(url) as r:
                return r.read().splitlines()

        small = body()
        monkeypatch.setattr(merge_mod, "ONE_TASK_SORT_MAX_ROWS", ROWS_PER_VERSION * VERSIONS - 1)
        big = body()
    finally:
        s.stop()
    n = ROWS_PER_VERSION * VERSIONS
    assert seen == [(n, False), (n, True)]
    assert json.loads(small[0]) == {"version": VERSIONS}
    assert len(small) == n + 1
    assert small == big


@pytest.mark.parametrize("stmt", [
    "from * click, purchase;",
    "from * click, purchase limit 9 offset 2;",
])
def test_service_query_limit_folds_into_top_k(spark, table, stmt, monkeypatch):
    """The /query route's limit/offset page the statement's result as
    before, and the head it bounds is planned as one top-k sort."""
    from dp3_spark.engine import DP3Engine
    from dp3_spark.service import DP3Service

    plans = []
    real = DP3Engine.execute

    def spy(self, statement):
        df = real(self, statement)
        plans.append(_plan(df))
        return df

    monkeypatch.setattr(DP3Engine, "execute", spy)
    s = DP3Service({"vt": DP3Engine(spark, table=table)})
    host, port = s.start()
    try:
        def body(**page):
            req = urllib.request.Request(
                f"http://{host}:{port}/databases/vt/query",
                data=json.dumps({"query": stmt, **page}).encode(),
                method="POST",
            )
            with urllib.request.urlopen(req) as r:
                return r.read().splitlines()

        full = body()
        paged = body(limit=4, offset=3)
    finally:
        s.stop()
    assert len(full) > 7
    assert paged == full[3:7]
    assert "TakeOrderedAndProject" in plans[-1]


def test_export_runs_one_range_sort(spark, table, monkeypatch):
    """The sink re-sorts an export by its own order, and the statement's
    sort is dropped under it: the exported plan is one range sort with no
    single-partition exchange beneath it, even on a table far below the
    one-task bound."""
    from dp3_spark.engine import DP3Engine
    from dp3_spark.service import DP3Service

    DataFrame = type(spark.range(1))  # the concrete (classic) frame class
    plans = []
    real = DataFrame.toLocalIterator

    def spy(self, *a, **kw):
        plans.append(_plan(self))
        return real(self, *a, **kw)

    monkeypatch.setattr(DataFrame, "toLocalIterator", spy)
    s = DP3Service({"vt": DP3Engine(spark, table=table)})
    host, port = s.start()
    try:
        req = urllib.request.Request(
            f"http://{host}:{port}/export",
            data=json.dumps(
                {"database": "vt", "producer": "*", "topics": ["click", "view"]}
            ).encode(),
            method="POST",
        )
        with urllib.request.urlopen(req) as r:
            assert r.read()[:5] == b"\x89MCAP"
    finally:
        s.stop()
    (plan,) = plans
    assert plan.count("rangepartitioning") == 1
    assert "SinglePartition" not in plan
    assert plan.count("Sort [") == 1
