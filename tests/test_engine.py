"""DP3Engine end-to-end: ingest -> query -> truncate -> query, plus the
asof operator checked against an independent Python state-machine reference
(asof_node.go:64-111 re-derived) on randomized streams."""

import random
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from dp3_spark.engine import DP3Engine
from dp3_spark.catalog import LogStore
from dp3_spark.operators.asof import dp3_asof_join
from dp3_spark.streaming.lifecycle import VersionedLogTable


@pytest.fixture()
def engine(spark):
    d = tempfile.mkdtemp(prefix="dp3_engine_")
    table = VersionedLogTable(spark, d)
    rows = []
    for i in range(20):
        rows.append(("dev1", "/a", i * 10**9, i, float(i)))
        rows.append(("dev1", "/b", i * 10**9 + 5 * 10**8, i, float(i)))
    table.append(spark.createDataFrame(
        rows, "producer string, topic string, log_time long, sequence long, v double"
    ))
    yield DP3Engine(spark, table=table)
    shutil.rmtree(d, ignore_errors=True)


def test_engine_query(engine):
    df = engine.execute("from dev1 /a where /a.v >= 15.0;")
    assert [r["sequence"] for r in df.collect()] == [15, 16, 17, 18, 19]


def test_engine_asof_and_json(engine):
    out = engine.query_shaped(
        "from dev1 /a precedes immediate /b by less than 1 seconds limit 4;"
    )
    rows = out.collect()
    assert [r["topic"] for r in rows] == ["/a", "/b", "/a", "/b"]
    assert rows[0]["log_time"] == "0.000000000"
    assert rows[1]["log_time"] == "0.500000000"


def test_engine_truncate_then_query(engine):
    assert engine.execute("from dev1 /a;").count() == 20
    assert engine.execute("truncate dev1 /a 10000000000;") is None  # < 10 s
    assert engine.execute("from dev1 /a;").count() == 10
    assert engine.execute("from dev1 /b;").count() == 20  # untouched
    engine.execute("truncate dev1 /b now;")
    assert engine.execute("from dev1 /b;").count() == 0


def test_warm_engine_plans_without_spark_jobs(engine, spark_jobs):
    """Regression guard for per-request plan-time work: on a warm,
    manifest-planned table, building a playback and an as-of plan
    (execute, no action) starts ZERO Spark jobs — no re-planned snapshot
    (schema inference) and no as-of skew-guard count."""
    playback = "from dev1 /a where /a.v >= 15.0;"
    asof = "from dev1 /a precedes immediate /b by less than 1 seconds;"
    engine.execute(playback)  # warm: plans the committed snapshot once
    for stmt in (playback, asof):
        df, jobs = spark_jobs(lambda: engine.execute(stmt))
        assert jobs == 0, stmt
        assert df.count() > 0


# ------------------------------------------------------- randomized asof

def python_asof_reference(left, right, immediate, threshold):
    """Independent re-derivation of the reference state machine
    (asof_node.go:64-111): merged (time, side) stream, lastLeft/leftEmitted,
    emit left on first match then rights."""
    stream = sorted(
        [(t, 0, s) for t, s in left] + [(t, 1, s) for t, s in right]
    )
    out = []
    last_left = None
    left_emitted = False
    for t, side, seq in stream:
        if side == 0:
            last_left = (t, seq)
            left_emitted = False
            continue
        if last_left is None:
            continue
        if threshold == 0 or last_left[0] + threshold > t:
            if not left_emitted:
                out.append(("L", *last_left))
                left_emitted = True
                out.append(("R", t, seq))
            elif not immediate:
                out.append(("R", t, seq))
    return out


@pytest.mark.parametrize("seed", [1, 2, 3, 4, 5])
@pytest.mark.parametrize("immediate", [False, True])
def test_asof_matches_python_reference(spark, seed, immediate):
    rng = random.Random(seed)
    n_l, n_r = rng.randint(5, 40), rng.randint(5, 40)
    # times drawn with collisions likely (small domain) to stress tie rules
    left = sorted((rng.randint(0, 200), i) for i in range(n_l))
    right = sorted((rng.randint(0, 200), i) for i in range(n_r))
    threshold = rng.choice([0, 1, 5, 50])

    ldf = spark.createDataFrame(
        [("p", "/l", t, s, 0.0) for t, s in left],
        "producer string, topic string, log_time long, sequence long, v double",
    )
    rdf = spark.createDataFrame(
        [("p", "/r", t, s, 0.0) for t, s in right],
        "producer string, topic string, log_time long, sequence long, v double",
    )
    got_df = dp3_asof_join(
        ldf, rdf, immediate=immediate, threshold_ns=threshold
    ).orderBy("log_time", F.col("topic").asc(), "sequence")  # /l < /r: left first on ties
    got = [("L" if r["topic"] == "/l" else "R", r["log_time"], r["sequence"])
           for r in got_df.collect()]

    expected = python_asof_reference(left, right, immediate, threshold)
    # reference emission order == (time, side, seq) sort (asof.py docstring)
    expected_sorted = sorted(expected, key=lambda x: (x[1], x[0] == "R", x[2]))
    assert got == expected_sorted, f"seed={seed} imm={immediate} t={threshold}"


def test_engine_service_surface(engine):
    """The facade methods cover the reference's non-query routes end to
    end: catalog, statistics, delete -> visible to reads, export at
    version, tail."""
    assert engine.producers() == ["dev1"]
    assert set(engine.topics()) == {"/a", "/b"}
    tabs = {(r["producer"], r["topic"]): r for r in engine.tables().collect()}
    assert tabs[("dev1", "/a")]["message_count"] == 20

    summ = engine.summarize(numeric_fields=["v"]).collect()
    assert len(summ) > 0 and all(r["message_count"] > 0 for r in summ)
    sr = engine.stat_range(
        topic="/a",
        start_ns=0,
        end_ns=20 * 10**9,
        granularity_ns=60 * 10**9,
        numeric_fields=["v"],
    ).collect()
    assert sum(r["message_count"] for r in sr) == 20
    av = engine.available_statistics().collect()
    assert len(av) > 0

    v_before = engine.export().count()
    ver = engine.delete("dev1", "/a", 0, 5 * 10**9)  # drops t=0..4 of /a
    after = engine.execute("from dev1 /a;").count()
    assert after == 15
    # historical read: pre-delete version still sees all 20
    assert (
        engine.export(as_of_version=ver - 1)
        .filter((F.col("topic") == "/a")).count() == 20
    )
    assert engine.export().count() == v_before - 5

    base_v = ver
    engine.table.append(
        engine.spark.createDataFrame(
            [("dev2", "/c", 10**9, 0, 1.0)],
            "producer string, topic string, log_time long, sequence long, v double",
        )
    )
    tail = engine.tail(base_v).collect()
    assert {r["producer"] for r in tail} == {"dev2"}


def test_engine_resample_and_trigram_store(spark, tmp_path):
    """Table-backed engine: resample() serves both methods, and _store()
    wires the trigram probe hook so QL string equality prunes files."""
    from dp3_spark.engine import DP3Engine
    from dp3_spark.streaming.lifecycle import VersionedLogTable

    vt = VersionedLogTable(spark, str(tmp_path / "db"), trigram_cols=("props",))
    for i, props in enumerate(["alpha", "beta", "gamma"]):
        vt.append(
            spark.createDataFrame(
                [("p1", "click", 100 * (i + 1), i, float(i), props)],
                "producer string, topic string, log_time long, sequence long, "
                "value double, props string",
            )
        )
    eng = DP3Engine(spark, table=vt)
    held = eng.resample(start_ns=100, end_ns=400, step_ns=100).collect()
    assert [(r["log_time"], r["value"]) for r in sorted(held, key=lambda r: r["log_time"])] == [
        (100, 0.0), (200, 1.0), (300, 2.0)
    ]
    lerp = eng.resample(start_ns=100, end_ns=301, step_ns=50, method="linear").collect()
    mid = {r["log_time"]: r["value"] for r in lerp}
    assert mid[150] == 0.5 and mid[250] == 1.5
    # QL equality on the indexed column goes through the probe hook
    out = eng.execute("from p1 click where click.props = 'beta';").collect()
    assert [r["sequence"] for r in out] == [1]
