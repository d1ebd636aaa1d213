"""100x incremental-dedup probe (round-8 verdict ask #6).

The 100 TB claim that matters most for the pipeline story: a corpus
refresh probes a FIXED-size batch against a persisted MinHash signature
index, and the probe cost must track the BATCH size, not the INDEX size.

Method: the batch is always sf0.1's doc_id%5==0 slice (1,000 docs); the
index is the doc_id%5!=0 slice of sf0.1 (1x, 4k docs), scale_sf1 (10x,
~40k) and the partial-sf10 fixture (100x, ~400k).  Indexing (signatures
+ banding) is the one-time pass a deployment pays at ingest — it is
persisted to parquet up front and excluded from the measurement, exactly
like the serving probes exclude summary maintenance.  Each measurement
is a fresh Spark subprocess that reads the persisted (sigs, bands)
tables and times minhash_lsh_pairs_incremental end-to-end (count()).

Two transports per scale:
  auto    — deployment behavior (broadcast verify under the 200k budget,
            shuffle verify beyond: sf10 crosses it)
  shuffle — the at-scale transport forced everywhere (the child sets
            dedup.VERIFY_BROADCAST_MAX_ROWS = 0), so the 1x/10x/100x
            column is apples-to-apples on the path a 100 TB index runs.
            Both columns endpoint-slice the verify table once the index
            passes dedup.ENDPOINT_SLICE_MIN_INDEX_ROWS (10x, 100x); the
            1x shuffle cell moves the whole table.
"""
import json
import os
import subprocess
import sys
import time

sys.path.insert(0, "/root/repo")
from sf10_probe import SF1, SF10, SRC, gen_partial  # noqa: E402

INDEX_ROOT = "/root/repo/data/probe_dedup_index"
KW = dict(n=3, num_hashes=128, bands=16, threshold=0.7)

_CHILD = r"""
import json, sys, time
sys.path.insert(0, "/root/repo")
from pyspark.sql import functions as F
from dp3_spark.session import get_spark
from dp3_spark.operators import dedup as DD

idx_dir, verify = sys.argv[1], sys.argv[2]
if verify == "shuffle":
    DD.VERIFY_BROADCAST_MAX_ROWS = 0
spark = get_spark("dedup-probe")
batch = spark.read.parquet("/root/testdata/sf0.1/documents.parquet").filter(
    F.col("doc_id") % 5 == 0
)
# warmup pass absorbs session/codegen/scan-setup fixed costs (bench.py's
# warmup discipline); the second pass is the measurement
for rep in range(2):
    t0 = time.monotonic()
    pairs = DD.minhash_lsh_pairs_incremental(
        batch,
        spark.read.parquet(f"{idx_dir}/sigs.parquet"),
        "doc_id", "text",
        n=3, num_hashes=128, bands=16, threshold=0.7,
        index_bands=spark.read.parquet(f"{idx_dir}/bands.parquet"),
    )
    n = pairs.count()
print(json.dumps({"sec": time.monotonic() - t0, "pairs": n}))
"""


def build_index(label: str, sf_dir: str) -> str:
    """One-time indexing pass: persist signatures + banding for the
    doc_id%5!=0 slice of sf_dir (the shape StreamingCorpusDedup maintains
    incrementally at ingest)."""
    out = os.path.join(INDEX_ROOT, label)
    marker = os.path.join(out, "_BUILT")
    if os.path.exists(marker):
        return out
    from pyspark.sql import functions as F

    from dp3_spark.operators import dedup as DD
    from dp3_spark.session import get_spark

    spark = get_spark("dedup-probe-index")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("doc_id") % 5 != 0
    )
    sigs = DD.minhash_signatures(
        docs.repartition(spark.sparkContext.defaultParallelism),
        "doc_id", "text", n=KW["n"], num_hashes=KW["num_hashes"],
    )
    sigs.write.mode("overwrite").parquet(f"{out}/sigs.parquet")
    sigs = spark.read.parquet(f"{out}/sigs.parquet")
    DD._banded_frame(
        sigs, KW["bands"], KW["num_hashes"] // KW["bands"]
    ).select("id", "band", "band_key").write.mode("overwrite").parquet(
        f"{out}/bands.parquet"
    )
    n = sigs.count()
    open(marker, "w").write(str(n))
    print(f"indexed {label}: {n} docs", flush=True)
    return out


def measure(idx_dir: str, verify: str, reps: int) -> list[float]:
    secs = []
    for _ in range(reps):
        # cwd + PYTHONPATH both point at the repo: the Spark PYTHON WORKERS
        # (mapInPandas verify) resolve dp3_spark through the inherited env,
        # not the driver's sys.path insert
        r = subprocess.run(
            [sys.executable, "-c", _CHILD, idx_dir, verify],
            capture_output=True, text=True, cwd="/root/repo",
            env={**os.environ, "PYTHONPATH": "/root/repo"},
        )
        if r.returncode != 0:
            print(r.stderr[-2000:], file=sys.stderr)
            raise RuntimeError(f"probe failed @ {idx_dir} verify={verify}")
        rec = json.loads(r.stdout.strip().splitlines()[-1])
        secs.append(rec["sec"])
        print(f"  {idx_dir.rsplit('/', 1)[-1]} verify={verify}: "
              f"{rec['sec']:.3f}s ({rec['pairs']} pairs)", flush=True)
    return secs


if __name__ == "__main__":
    gen_partial()
    if not os.path.exists(f"{SF1}/documents.parquet"):
        raise SystemExit(f"generate {SF1} first: python dp3_spark/scale_gen.py")
    out = {}
    for label, d in [("sf0.1", SRC), ("sf1", SF1), ("sf10", SF10)]:
        idx = build_index(label, d)
        out[label] = {
            v: min(measure(idx, v, 2)) for v in ("auto", "shuffle")
        }
    json.dump(out, open("/tmp/dedup_100x_results.json", "w"), indent=1)
    print(json.dumps(out))
