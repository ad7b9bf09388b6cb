"""SparkSession factory with scale-aware defaults.

The reference has no session concept (pandas is ambient); this module is
the engine's single entry point for execution configuration. Defaults are
chosen for correctness-at-scale first:

- AQE on (runtime shuffle-partition coalescing, skew-join splitting) so
  the same plans survive a 100x scale-up without retuning.
- ``spark.sql.shuffle.partitions`` sized to the local core count for
  tests; on a real cluster this is overridden (AQE coalesces down).
- Arrow enabled so the Pandas-UDF slow path is batch-vectorized.
- UTC session timezone so timestamp semantics match the DuckDB oracle.
- Python workers get this package's parent directory on their
  ``PYTHONPATH`` (Spark merges it with its own pyspark paths), so
  kernels unpickle whatever directory the driver was started in.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def get_spark(
    app_name: str = "workshop3_etl_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    ``cpus`` controls local-mode parallelism (env ``SPARK_GRAFT_CPUS``,
    default all cores). On a cluster the master is whatever the deploy
    sets; everything here is safe under ``spark-submit`` overrides.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or 0
    master = f"local[{cpus}]" if cpus else "local[*]"
    n_shuffle = shuffle_partitions or (cpus if cpus else 32)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalescing note (round 10, measured): lowering
        # coalescePartitions.minPartitionSize (16k) to keep
        # small-in-bytes/CPU-heavy post-shuffle stages parallel was
        # tried and REVERTED — interleaved A/B showed it ~2x SLOWER on
        # window-chain queries (stats_spearman, search_phrase: dozens
        # of tiny post-shuffle partitions each paying task + sort
        # overhead) and a wash elsewhere, because the genuinely
        # CPU-heavy maps run in the SCAN stage, which scan_parallel
        # (sources/tables.py) already parallelizes. Byte-sized
        # coalescing stays at its default.
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
        .config("spark.sql.parquet.filterPushdown", "true")
        # events.parquet carries TIMESTAMP(NANOS) which Spark rejects;
        # read as long and convert in sources.tables.load_table.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        # keep stdout clean for JSON-line consumers (bench.py, the
        # round driver's tail capture)
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.spill.compress", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
