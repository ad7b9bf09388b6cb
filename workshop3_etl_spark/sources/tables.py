"""Parquet star-schema loaders for the driver testdata (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings. All loads are plain parquet scans, so Catalyst
gets full pushdown/pruning.

A bare ``spark.read.parquet`` infers the schema with a one-task Spark
job that reads the footer. ``parquet_schema`` runs that inference once
per file per process: it memoizes the inferred ``StructType`` under the
file's absolute path, inode, size and mtime (ns) plus the session confs
that change Parquet inference, and every load then reads with that
schema and starts no job. A path ``os.stat`` cannot see (an
object-store URI) or that is not a regular file is inferred on every
call and never memoized. Only the schema is kept, never any data.

At cluster scale the same API points at an object-store prefix; nothing
here assumes local files.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at any realistic scale
# factor (region=5 rows, nation=25 rows at every SF; supplier/part grow
# slowly). Joins against these should always be broadcast-hash.
BROADCAST_DIMS = ("region", "nation", "supplier")


# Round-10 note: until this round an opt-in in-memory table cache
# lived here (enable_cache: repartition + persist of every base table,
# called from the bench setup). The optimization-round rules class any
# base-table cache outside the timed region as result pre-computation,
# so the machinery was removed outright — every invocation computes
# from the parquet files. The scan-parallelism problem it papered over
# (the driver testdata ships ONE parquet row group per table, capping
# a bare scan at one task) is now solved where it is paid: operators
# with heavy per-row work call scan_parallel() below, a
# repartition-immediately-after-the-read (optimization guide §2.5)
# whose width tracks the session's core count.


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    return _load_raw(spark, sf_dir, name)


def table_stream(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """File-source stream over one table, with the schema a batch load
    infers. File sources need a directory, so the stream reads
    ``sf_dir`` glob-filtered down to the table's file."""
    return (
        spark.readStream.schema(parquet_schema(spark, f"{sf_dir}/{name}.parquet"))
        .option("pathGlobFilter", f"{name}.parquet")
        .parquet(sf_dir)
    )


def scan_parallel(
    spark: SparkSession, sf_dir: str, name: str, per_part_rows: int = 64
) -> DataFrame:
    """load_table + repartition sized to the session's parallelism —
    for operators whose per-row work (HOF folds, shingling, Arrow
    kernels) dwarfs the scan, on inputs whose file layout caps scan
    parallelism (guide §2.5: one huge unsplittable file → repartition
    immediately after the read).

    Width = defaultParallelism, scale-adaptive: it follows
    $SPARK_GRAFT_CPUS / the cluster size, never a constant tuned to
    one box. The tiny-table guard (region/nation at low SF) floors
    partitions at ~per_part_rows rows using parquet row-count
    metadata (no job: footer statistics only).

    SELF-DISABLING ON HEALTHY LAYOUTS: the repartition is the remedy
    for a DEGENERATE file layout (fewer row groups than cores — here
    the testdata ships ONE row group per table, capping any scan at
    one task). When the footer shows at least ``n`` row groups the
    scan already parallelizes by splits and the function returns the
    bare scan — so at production scale (or on any well-sized layout)
    this is a no-op, never an extra full-table shuffle. When the
    footer is unreadable (object store) the layout is assumed healthy
    for the same reason.
    """
    df = _load_raw(spark, sf_dir, name)
    n = spark.sparkContext.defaultParallelism
    try:
        import pyarrow.parquet as pq

        # read_metadata (not ParquetFile): no file handle left open on
        # the driver per call (ADVICE r10).
        meta = pq.read_metadata(f"{sf_dir}/{name}.parquet")
        # A scan task covers one byte-range split; a split yields one
        # task no matter how many row groups it holds. So the layout
        # only parallelizes to >= n tasks when BOTH are >= n: the
        # row-group count (a split reads whole row groups) and the
        # byte-split count size/maxPartitionBytes (many small row
        # groups under one split are still one task — ADVICE r10).
        if meta.num_row_groups >= n:
            size = os.path.getsize(f"{sf_dir}/{name}.parquet")
            if size >= n * _max_partition_bytes(spark):
                return df  # healthy layout: splits already parallelize
        n = max(1, min(n, meta.num_rows // per_part_rows or 1))
    except Exception:
        return df  # non-local path: trust the layout's own splits
    if n <= 1:
        return df
    return df.repartition(n)


def _max_partition_bytes(spark: SparkSession) -> int:
    """spark.sql.files.maxPartitionBytes in bytes, whatever spelling
    the session carries ("134217728", "128MB", "128m"...); falls back
    to the Spark default (128 MiB) on an unparseable value so an odd
    conf string can never silently flip scan_parallel's layout call."""
    raw = str(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    ).strip().lower()
    units = {"b": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    num, mult = raw, 1
    for suffix in ("kb", "mb", "gb", "tb", "k", "m", "g", "t", "b"):
        if raw.endswith(suffix):
            num, mult = raw[: -len(suffix)], units[suffix[0]]
            break
    try:
        return int(num) * mult
    except ValueError:
        return 128 * 1024 * 1024


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize ``events.ts`` to a session-timezone TIMESTAMP at
    microsecond precision, whatever type the parquet reader produced.

    events.parquet carries TIMESTAMP(NANOS); how Spark surfaces that
    depends on version and session conf:

    - ``bigint`` — epoch nanos, when ``nanosAsLong`` applied (<=4.0
      sessions that set the legacy conf at build time);
    - ``timestamp_ntz`` — Spark 4.1+ reads nanos natively as NTZ,
      truncated to micros, regardless of the legacy conf;
    - ``timestamp`` — already normalized (cached frames).

    All three converge to the same instant under the UTC session
    timezone, matching DuckDB's naive-micros semantics.
    """
    from pyspark.sql import functions as F

    dt = dict(df.dtypes).get("ts")
    if dt == "bigint":
        # integer div — float division would lose precision on ns
        # epochs (~1.7e18 > 2^53).
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    elif dt == "timestamp_ntz":
        # NTZ wall-clock is UTC epoch time; the cast under the UTC
        # session tz (pinned in _load_raw) preserves the instant.
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


# Session confs that change the schema Spark infers from a parquet
# footer; their current values are part of the memo key.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)
_SCHEMAS: dict[tuple, StructType] = {}


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """The schema ``spark.read.parquet(path)`` infers, inferred once per
    file per process (see the module docstring for the memo key)."""
    try:
        st = os.stat(path)
    except OSError:
        st = None
    if st is None or not stat.S_ISREG(st.st_mode):
        return spark.read.parquet(path).schema
    key = (
        os.path.abspath(path),
        st.st_ino,
        st.st_size,
        st.st_mtime_ns,
        # unset -> None, which stands for the version's default
        tuple(spark.conf.get(c, None) for c in _INFERENCE_CONFS),
    )
    schema = _SCHEMAS.get(key)
    if schema is None:
        schema = _SCHEMAS[key] = spark.read.parquet(path).schema
    return schema


def _load_raw(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # Older Spark rejects TIMESTAMP(NANOS) footers unless this legacy
    # conf is set; 4.1+ ignores it and reads NTZ natively. Set it
    # defensively at the single load chokepoint so ANY session (the
    # correctness driver builds its own, without session.py) can load.
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass  # conf removed in some versions — native read handles it
    # Timestamp-derived results (year(), window(), date_trunc) follow
    # the session timezone; the DuckDB oracle is timezone-naive (UTC
    # semantics), so pin it here too, not only in session.py.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.schema(parquet_schema(spark, path)).parquet(path)
    if name == "events":
        df = normalize_event_ts(df)
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(
    spark: SparkSession, sf_dir: str, only: tuple[str, ...] | None = None
) -> None:
    """Register tables as temp views so ``spark.sql`` queries can name
    them exactly as the DuckDB oracle does.

    ``only`` limits registration to the tables a query actually
    references — eager all-table registration would couple every SQL
    query's fate (and latency) to tables it never touches.
    """
    for name in only if only is not None else TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
