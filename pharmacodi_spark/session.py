"""SparkSession factory with scale-oriented defaults.

The reference parallelizes by hand (datatable thread pool, mp.Pool, swifter —
BASELINE.md "Parse parallelism"); here a single tuned session replaces all of
that. Every knob below is chosen for the 100 TB design point and merely
*capped* for local test runs:

- AQE on: runtime coalescing of shuffle partitions, skew-join splitting, and
  dynamic broadcast decisions replace the reference's manual pre-indexing
  ("~3x" comment, reference build_experiment_tables.py:123-125).
- Arrow on: any pandas-UDF edge (API connectors, embedding kernels) moves
  batches columnar instead of pickled rows.
- Session timezone pinned to UTC so timestamp arithmetic matches the DuckDB
  oracle bit-for-bit.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: generated-class cache size (``spark.sql.codegen.cache.maxEntries``,
#: static conf, default 100). One pass of the benchmark's etl_build
#: workload compiles ~245 distinct classes and one incremental_ingest pass
#: ~105, so under the default the LRU evicts classes before their next use
#: and every later pass or streaming micro-batch recompiles them (etl_build
#: warm pass on local[4]: 243 compiles at 100 entries, 6 at 1000).
CODEGEN_CACHE_ENTRIES = 1000


def get_spark(
    app_name: str = "pharmacodi_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    ``master``/``shuffle_partitions`` default from ``SPARK_GRAFT_CPUS`` so the
    same code runs on local[N] test boxes and a real cluster (where ``master``
    is supplied by the deployment, not this function).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # dims in this schema are small; let Spark auto-broadcast generously
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # parquet scans: split files so local[32] gets full parallelism even
        # on a handful of input files
        .config("spark.sql.files.maxPartitionBytes", "64m")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # managed-table storage (bucketed tables) out of the repo tree
        .config("spark.sql.warehouse.dir", "/tmp/spark_graft_warehouse")
        .config("spark.ui.enabled", "false")
        # driver fixtures store nanosecond timestamps, which Spark's parquet
        # reader rejects; read them as epoch-nanos longs (exact integer math)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
