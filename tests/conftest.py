import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dp3_spark.catalog import LogStore  # noqa: E402
from dp3_spark.session import get_spark  # noqa: E402

SF_SMOKE = os.environ.get("DP3_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("dp3_spark_tests", extra_conf={"spark.sql.shuffle.partitions": "8"})
    yield spark


@pytest.fixture()
def spark_jobs(spark):
    """spark_jobs(fn) -> (fn(), number of Spark jobs fn started), counted
    through a job group on the status tracker.  The listener bus is
    drained before counting, so no job fn submitted is missed."""
    sc = spark.sparkContext

    def run(fn):
        group = f"dp3-test-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "jobs started by one call")
        try:
            out = fn()
        finally:
            for prop in ("spark.jobGroup.id", "spark.job.description",
                         "spark.job.interruptOnCancel"):
                sc.setLocalProperty(prop, None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run


@pytest.fixture()
def force_shuffle_verify(monkeypatch):
    """force() sends every later LSH verify (dedup.verify_pairs) through
    its shuffle transport: the one broadcast budget drops to 0, and a
    driver-side sc.broadcast — the broadcast transport's ship step —
    fails the test."""
    from pyspark import SparkContext

    from dp3_spark.operators import dedup as DD

    def no_broadcast(self, value):
        raise AssertionError("broadcast verify transport taken")

    def force():
        monkeypatch.setattr(DD, "VERIFY_BROADCAST_MAX_ROWS", 0)
        monkeypatch.setattr(SparkContext, "broadcast", no_broadcast)

    return force


@pytest.fixture(scope="session")
def alltypes_store(spark):
    """FIXTURES.md F1: topics t0..t9 for producer 'device', 5 messages each,
    sequence=c, log_time = c + i*c (reference executor_test.go:325-388)."""
    rows = []
    for i in range(10):
        for c in range(5):
            rows.append(
                (
                    "device",
                    f"t{i}",
                    c + i * c,
                    c,
                    c, c, c, c,          # u8 u16 u32 u64
                    c, c, c, c,          # i8 i16 i32 i64
                    float(c), float(c),  # f32 f64
                    "hello",
                )
            )
    schema = (
        "producer string, topic string, log_time long, sequence long, "
        "u8 int, u16 int, u32 long, u64 long, "
        "i8 int, i16 int, i32 int, i64 long, "
        "f32 float, f64 double, s string"
    )
    df = spark.createDataFrame(rows, schema)
    return LogStore(
        df=df,
        producer_col="producer",
        topic_col="topic",
        time_col="log_time",
        sequence_col="sequence",
        payload_cols=("u8", "u16", "u32", "u64", "i8", "i16", "i32", "i64", "f32", "f64", "s"),
    )
