"""Driver-side plan-build budgets: building a plan costs py4j round trips,
so the session leaves PySpark's per-call call-site capture off and the
MinHash banding is one SQL expression.  The banding's keys must stay
those of the per-element `xxhash64(mh[0], ..., mh[rows-1])` form, which
every `bands` table persisted before it was written in."""

from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from dp3_spark.catalog import events_log_store
from dp3_spark.operators import dedup as DD
from dp3_spark.plans import Compiler

SF = "/root/testdata/sf0.001"
# measured at 35 (banding) and ~500 (as-of) send_commands with capture
# off; with capture on they were ~11,000 (per-element banding) and ~1,400
BANDED_BUDGET = 100
ASOF_BUDGET = 900


@contextmanager
def counted(spark):
    """Counts the py4j commands the driver sends inside the block."""
    client = spark.sparkContext._gateway._gateway_client
    n = [0]

    def send_command(*args, **kwargs):
        n[0] += 1
        return orig(*args, **kwargs)

    orig = client.send_command
    client.send_command = send_command
    try:
        yield n
    finally:
        client.send_command = orig


def per_element_bands(sigs, bands, rows):
    """The per-element banding: one `xxhash64(mh[i], ...)` per band."""
    terms = ", ".join(
        "named_struct('band', {b}, 'band_key', xxhash64({vals}))".format(
            b=b, vals=", ".join(f"mh[{b * rows + r}]" for r in range(rows))
        )
        for b in range(bands)
    )
    return (
        sigs.filter(F.col("mh").isNotNull())
        .select("id", F.expr(f"inline(array({terms}))"))
    )


@pytest.fixture(scope="module")
def sigs(spark):
    rows = [
        (1, list(range(16))),
        (2, [1, None, 3, 4, 5, 6, 7, 8] * 2),
        (3, [None] * 16),
        (4, None),
        (5, [7] * 8 + [None] * 8),
    ]
    return spark.createDataFrame(rows, "id long, mh array<bigint>")


def test_get_spark_turns_call_site_capture_off(spark):
    from pyspark.errors.utils import is_debugging_enabled

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert not is_debugging_enabled()


def test_banded_frame_builds_within_budget(spark):
    wide = spark.createDataFrame([(1, list(range(128)))], "id long, mh array<bigint>")
    with counted(spark) as n:
        DD._banded_frame(wide, 16, 8, exact_vals=True)
    assert n[0] <= BANDED_BUDGET, n[0]


def test_asof_compile_within_budget(spark):
    store = events_log_store(spark, SF)
    stmt = "from * click precedes purchase by less than 1 minutes;"
    Compiler(store).compile(stmt)  # first compile resolves the store
    with counted(spark) as n:
        Compiler(store).compile(stmt)
    assert n[0] <= ASOF_BUDGET, n[0]


def test_banded_keys_equal_per_element_form(sigs):
    got = DD._banded_frame(sigs, 2, 8)
    want = per_element_bands(sigs, 2, 8)
    assert sorted(got.collect()) == sorted(want.collect())
    # null elements are skipped, a null signature bands to nothing
    ids = {r.id for r in got.collect()}
    assert ids == {1, 2, 3, 5}
    vals = DD._banded_frame(sigs, 2, 8, exact_vals=True)
    assert sorted(vals.drop("band_vals").collect()) == sorted(want.collect())
    assert {(r.id, r.band): r.band_vals for r in vals.collect()}[(2, 1)] == [
        1, None, 3, 4, 5, 6, 7, 8,
    ]


def test_persisted_per_element_bands_probe_to_same_pairs(spark, tmp_path):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    index = DD.minhash_signatures(
        docs.filter(F.col("doc_id") % 5 != 0), "doc_id", "text"
    ).localCheckpoint()
    path = str(tmp_path / "bands")
    per_element_bands(index, 16, 8).write.parquet(path)
    new = docs.filter(F.col("doc_id") % 5 == 0)
    kw = dict(n=3, num_hashes=128, bands=16, threshold=0.7)
    fresh = DD.minhash_lsh_pairs_incremental(new, index, "doc_id", "text", **kw)
    stored = DD.minhash_lsh_pairs_incremental(
        new, index, "doc_id", "text", index_bands=spark.read.parquet(path), **kw
    )
    want = sorted(fresh.collect())
    assert want, "the fixture must produce candidate pairs"
    assert sorted(stored.collect()) == want
