"""SparkSession bootstrap.

Single place to create/tune the session. Defaults target local[N] testing
but every knob is chosen to also make sense on a large cluster:

- AQE on (runtime coalescing + skew-join splitting) — at 100 TB the static
  shuffle-partition count is always wrong; AQE fixes it per-stage.
- shuffle.partitions sized to cores locally; on a cluster this is overridden
  by AQE's coalescing from the initial 2x-cores value.
- Arrow enabled: every Pandas UDF / toPandas crossing is Arrow-batched.
- session timezone pinned UTC: log_time is nanoseconds-since-epoch (int64)
  everywhere (reference keeps ns; Spark TimestampType is µs — see
  SURVEY.md §1.2), and any TimestampType columns from the driver fixtures
  must render identically to the DuckDB oracle.
- DataFrame call-site capture off: with it on, every Column call walks
  the Python stack and makes ~4 more py4j round trips.  Off drops the
  Python call-site lines from errors' "DataFrame context"; get them back
  with extra_conf={"spark.python.sql.dataFrameDebugging.enabled": "true"}
  on the process's first session (PySpark reads it once per process).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "dp3_spark", extra_conf: dict | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(os.environ.get("SPARK_MASTER", f"local[{cpus}]"))
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # testdata `events.ts` is parquet TIMESTAMP(NANOS); read as int64
        # nanos — dp3's native time representation (SURVEY.md §1.2)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Manifest-planned reads pass explicit leaf-file paths; below the
        # default threshold (32) Spark launches a distributed discovery
        # JOB to stat them — ~2.5 s of pure scheduling overhead per read
        # at ~1k paths (probe_manifest_read.py) vs ~ms of driver-side
        # stats. 10k keeps plans driver-side up to compact-cadence file
        # counts; beyond that the distributed job is the right call.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "10000")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

