"""Partitioned/bucketed table layout management.

The reference's only layout decision is "one CSV per year" — which is
manual partition pruning (`src/etl.py:104-105` reads only requested
years; SURVEY §4). This module is the engine's real version: write
datasets partitioned by a derived key so Catalyst prunes partitions,
and optionally bucketed so co-keyed joins skip the shuffle.

At 100 TB layout IS the query plan: a `ship_year`-partitioned
lineitem turns every year-ranged query from a full scan into a
directory listing; bucketing orders+lineitem by orderkey turns the
fact-fact join into a zip of co-located buckets.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# module-level binding (not call-time import): tracers and plan tests
# wrap or stub the checkpoint helpers at every module binding
from workshop3_etl_spark.functions.cache import (
    materialize_and_release,
    tracked_local_checkpoint,
)


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    mode: str = "overwrite",
    target_file_rows: int | None = None,
) -> None:
    """Write parquet partitioned by ``partition_cols``.

    Repartitioning by the partition columns first means each task
    writes whole partitions (no small-file explosion of
    tasks x partitions files).
    """
    out = df.repartition(*[F.col(c) for c in partition_cols])
    out.write.partitionBy(*partition_cols).mode(mode).parquet(path)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    n_buckets: int = 16,
    sort_col: str | None = None,
    mode: str = "overwrite",
    path: str | None = None,
) -> None:
    """Save as a bucketed table (bucket pruning + shuffle-free joins
    between tables bucketed the same way). ``path`` makes it external
    (managed in the session warehouse otherwise)."""
    writer = df.write.bucketBy(n_buckets, bucket_col)
    if sort_col:
        writer = writer.sortBy(sort_col)
    if path:
        writer = writer.option("path", path)
    writer.mode(mode).format("parquet").saveAsTable(table_name)


def lineitem_partitioned_by_year(
    spark: SparkSession, sf_dir: str, out_path: str
) -> DataFrame:
    """Materialize lineitem partitioned by ship year; returns the
    reloaded partitioned frame (year-ranged filters now prune)."""
    from workshop3_etl_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "ship_year", F.year("l_shipdate").cast("int")
    )
    write_partitioned(li, out_path, ["ship_year"])
    return spark.read.parquet(out_path)


@contextmanager
def dynamic_partition_overwrite(spark: SparkSession):
    """Scope ``partitionOverwriteMode=dynamic``: INSERT OVERWRITE then
    replaces ONLY the partitions present in the incoming frame — the
    idempotent backfill shape (rewrite one day/type without touching
    siblings)."""
    conf = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(conf, "static")
    spark.conf.set(conf, "dynamic")
    try:
        yield
    finally:
        spark.conf.set(conf, prev)


# --------------------------------------------------------------------
# Z-order (Morton) layout keys: interleave the bits of two columns so
# rows close in BOTH dimensions land close in the sort order. Sorting
# a table by z-key before writing gives every file a tight min/max
# range on both columns — data-skipping (file pruning) then works for
# predicates on either column, which a single-column sort can't do.
# Pure integer bit arithmetic: identical in any engine.
# --------------------------------------------------------------------

_Z_BITS = 16


def zorder_key(x: F.Column, y: F.Column, bits: int = _Z_BITS) -> F.Column:
    """Morton-interleave the low ``bits`` of two non-negative integer
    columns: x occupies even bit positions, y odd ones."""
    terms = []
    for i in range(bits):
        terms.append(
            F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i)
        )
        terms.append(
            F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def _zorder_oracle_expr(x: str, y: str, bits: int = _Z_BITS) -> str:
    terms = []
    for i in range(bits):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


_ZORDER_ORACLE = f"""
WITH k AS (
  SELECT
    o_orderkey,
    o_custkey & {(1 << _Z_BITS) - 1} AS xk,
    CAST(date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))
         AS BIGINT) & {(1 << _Z_BITS) - 1} AS yk
  FROM orders
)
SELECT
  o_orderkey, xk, yk,
  {_zorder_oracle_expr('xk', 'yk')} AS zkey
FROM k
ORDER BY zkey, o_orderkey
LIMIT 200
"""


def _register_zorder() -> None:
    from workshop3_etl_spark.plans.registry import register
    from workshop3_etl_spark.sources.tables import load_table

    @register("layout_zorder_orders_key", oracle=_ZORDER_ORACLE)
    def layout_zorder_orders_key(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Morton z-order key over (custkey, order-day): the sort key a
        lakehouse writer would use so file-level min/max statistics
        prune on BOTH customer and date predicates.

        The key is 2x16 interleaved bits built from shift/and/shift
        adds — whole-stage-codegen'd integer expressions, no UDF. The
        query surfaces the first 200 rows of the z-sorted order; the
        write path applies the same key via ``df.sort(zorder_key(...))
        .write`` (see write_partitioned).
        """
        day = F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1992-01-01").cast("date")
        ).cast("long")
        mask = (1 << _Z_BITS) - 1
        k = load_table(spark, sf_dir, "orders").select(
            "o_orderkey",
            F.col("o_custkey").bitwiseAND(F.lit(mask)).alias("xk"),
            day.bitwiseAND(F.lit(mask)).alias("yk"),
        )
        return (
            k.select(
                "o_orderkey",
                "xk",
                "yk",
                zorder_key(F.col("xk"), F.col("yk")).alias("zkey"),
            )
            .orderBy("zkey", "o_orderkey")
            .limit(200)
        )


_register_zorder()


# --------------------------------------------------------------------
# Snapshot diff / change-data-feed derivation: given two versions of
# a keyed table, emit per-change-type statistics (insert / delete /
# update / unchanged) — the inverse of windows.cdc_apply_latest_
# snapshot (that APPLIES a feed; this DERIVES one from snapshots),
# i.e. what a lakehouse computes between table versions for CDF
# consumers and incremental downstream jobs.
#
# The two versions are carved deterministically out of orders with
# salted hash flags (the engine's split idiom): v1 drops ~10% of keys
# (these become inserts), v2 drops a disjoint ~5% (deletes) and
# bumps ~10% of prices by 1.00 (updates). Prices ride as
# decimal(27,2) so content comparison and per-type sums are exact.
# --------------------------------------------------------------------

_SNAPDIFF_ORACLE = """
WITH o AS (
  SELECT o_orderkey AS k, CAST(o_totalprice AS decimal(27,2)) AS p
  FROM orders
),
v1 AS (
  SELECT k, p FROM o
  WHERE substr(md5(CAST(k AS VARCHAR) || ':v1'), 1, 2) < 'e6'
),
v2 AS (
  SELECT k,
         CASE WHEN substr(md5(CAST(k AS VARCHAR) || ':upd'), 1, 2) < '1a'
              THEN p + CAST(1.00 AS decimal(27,2)) ELSE p END AS p
  FROM o
  WHERE substr(md5(CAST(k AS VARCHAR) || ':del'), 1, 2) >= '0d'
),
d AS (
  SELECT
    CASE WHEN v1.k IS NULL THEN 'insert'
         WHEN v2.k IS NULL THEN 'delete'
         WHEN v1.p <> v2.p THEN 'update'
         ELSE 'unchanged' END AS change_type,
    v1.p AS p_old, v2.p AS p_new
  FROM v1 FULL OUTER JOIN v2 ON v1.k = v2.k
)
SELECT change_type,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COALESCE(SUM(p_old), 0) AS DOUBLE) AS price_sum_old,
       CAST(COALESCE(SUM(p_new), 0) AS DOUBLE) AS price_sum_new
FROM d
GROUP BY change_type
ORDER BY change_type
"""


def _register_snapshot_diff() -> None:
    from workshop3_etl_spark.plans.registry import register
    from workshop3_etl_spark.sources.tables import load_table

    @register("lakehouse_snapshot_diff_orders", oracle=_SNAPDIFF_ORACLE)
    def lakehouse_snapshot_diff_orders(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Change-data-feed between two deterministic snapshot
        versions of orders: row counts and exact price sums per
        change type (insert/delete/update/unchanged).

        ONE full-outer join on the table key classifies every row;
        both versions are hash-flag projections of the same scan (no
        second read in the logical plan), and the join is the only
        shuffle. At 100 TB this runs partition-pruned when snapshots
        share partitioning; content equality compares decimal(27,2)
        exactly — no float comparisons in the diff predicate.
        """
        o = load_table(spark, sf_dir, "orders").select(
            F.col("o_orderkey").alias("k"),
            F.col("o_totalprice").cast("decimal(27,2)").alias("p"),
        )
        flag = lambda salt: F.substring(  # noqa: E731
            F.md5(F.concat(F.col("k").cast("string"), F.lit(salt))), 1, 2
        )
        v1 = o.filter(flag(":v1") < "e6").select("k", F.col("p").alias("p_old"))
        v2 = o.filter(flag(":del") >= "0d").select(
            "k",
            F.when(flag(":upd") < "1a", F.col("p") + F.lit("1.00").cast(
                "decimal(27,2)"
            )).otherwise(F.col("p")).alias("p_new"),
        )
        d = v1.join(v2, "k", "full_outer").select(
            F.when(F.col("p_old").isNull(), F.lit("insert"))
            .when(F.col("p_new").isNull(), F.lit("delete"))
            .when(F.col("p_old") != F.col("p_new"), F.lit("update"))
            .otherwise(F.lit("unchanged"))
            .alias("change_type"),
            "p_old",
            "p_new",
        )
        return (
            d.groupBy("change_type")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.coalesce(F.sum("p_old"), F.lit(0))
                .cast("double")
                .alias("price_sum_old"),
                F.coalesce(F.sum("p_new"), F.lit(0))
                .cast("double")
                .alias("price_sum_new"),
            )
            .orderBy("change_type")
        )


_register_snapshot_diff()


# --------------------------------------------------------------------
# Schema evolution: parquet snapshots written BEFORE a column existed
# merge with later snapshots via mergeSchema, NULL-backfilled — the
# lakehouse answer to "we added a column last quarter and still read
# five years of history in one scan".
# --------------------------------------------------------------------

_SCHEMA_EVO_ORACLE = """
WITH merged AS (
  SELECT o_orderkey, o_totalprice, NULL AS o_orderpriority
  FROM orders WHERE o_orderkey % 2 = 0
  UNION ALL
  SELECT o_orderkey, o_totalprice, o_orderpriority
  FROM orders WHERE o_orderkey % 2 = 1
)
SELECT
  COALESCE(o_orderpriority, '(pre-evolution)') AS priority,
  CAST(COUNT(*) AS BIGINT) AS n_orders,
  CAST(SUM(CAST(o_totalprice AS decimal(27,2))) AS DOUBLE) AS total_price
FROM merged
GROUP BY 1
ORDER BY priority
"""


def _register_schema_evolution() -> None:
    from workshop3_etl_spark.plans.registry import register
    from workshop3_etl_spark.sources.tables import load_table

    @register("lakehouse_schema_evolution_merge", oracle=_SCHEMA_EVO_ORACLE)
    def lakehouse_schema_evolution_merge(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """mergeSchema read across heterogeneous snapshots: v1 was
        written before ``o_orderpriority`` existed (deterministic
        orderkey split stands in for "the old ingestion era"), v2
        after. One ``mergeSchema`` scan unions the footers and
        NULL-backfills the missing column; the aggregate groups the
        merged view by priority with an explicit pre-evolution label.

        The oracle reconstructs the same merged view from the base
        table (the snapshots are deterministic projections), so the
        hash gate checks that schema merging neither drops rows nor
        invents values. At 100 TB the same read works because footer
        merging is per-file metadata work — the data itself is never
        rewritten, which is the entire point of additive schema
        evolution.
        """
        import tempfile

        o = load_table(spark, sf_dir, "orders")
        with tempfile.TemporaryDirectory() as root:
            o.filter(F.col("o_orderkey") % 2 == 0).select(
                "o_orderkey", "o_totalprice"
            ).write.parquet(f"{root}/v1")
            o.filter(F.col("o_orderkey") % 2 == 1).select(
                "o_orderkey", "o_totalprice", "o_orderpriority"
            ).write.parquet(f"{root}/v2")
            merged = (
                spark.read.option("mergeSchema", "true")
                .option("recursiveFileLookup", "true")
                .parquet(root)
            )
            return (
                merged.groupBy(
                    F.coalesce(
                        F.col("o_orderpriority"), F.lit("(pre-evolution)")
                    ).alias("priority")
                )
                .agg(
                    F.count(F.lit(1)).alias("n_orders"),
                    F.sum(F.col("o_totalprice").cast("decimal(27,2)"))
                    .cast("double")
                    .alias("total_price"),
                )
                .orderBy("priority")
                # materialize before the snapshot tempdir vanishes
                .localCheckpoint(eager=True)
            )


_register_schema_evolution()


# --------------------------------------------------------------------
# Bucketed co-located join: the recurring fact-fact join layout.
# --------------------------------------------------------------------


def write_bucketed_fact_tables(
    spark: SparkSession, sf_dir: str, root: str, suffix: str
) -> tuple[str, str]:
    """Write the orders/lineitem join columns as external tables
    bucketed (and sorted) on the join key. Returns (t_li, t_orders).
    Shared by the registered query and its plan-shape test so the
    layout under inspection is the layout that ships."""
    from workshop3_etl_spark.sources.tables import load_table

    t_orders = f"b_orders_{suffix}"
    t_li = f"b_lineitem_{suffix}"
    write_bucketed(
        load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderpriority"
        ),
        t_orders,
        "o_orderkey",
        n_buckets=8,
        sort_col="o_orderkey",
        path=f"{root}/orders",
    )
    write_bucketed(
        load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_quantity", "l_extendedprice"
        ),
        t_li,
        "l_orderkey",
        n_buckets=8,
        sort_col="l_orderkey",
        path=f"{root}/lineitem",
    )
    return t_li, t_orders


def colocated_join_agg(
    spark: SparkSession, t_li: str, t_orders: str
) -> DataFrame:
    """The fact-fact join + per-priority aggregate over the bucketed
    tables (pre-checkpoint — the frame the plan test inspects)."""
    from workshop3_etl_spark.functions import metrics as M

    return (
        spark.table(t_li)
        .join(
            spark.table(t_orders),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            M.dsum("l_quantity", "total_qty"),
            M.dsum("l_extendedprice", "total_price"),
        )
        .orderBy("priority")
    )


def _register_bucketed_join() -> None:
    from workshop3_etl_spark.functions import metrics as M
    from workshop3_etl_spark.plans.registry import register

    oracle = f"""
SELECT
  o.o_orderpriority AS priority,
  CAST(COUNT(*) AS BIGINT) AS n_items,
  {M.oracle_dsum('l.l_quantity', 'total_qty')},
  {M.oracle_dsum('l.l_extendedprice', 'total_price')}
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY 1 ORDER BY 1
"""

    @register("lakehouse_bucketed_colocated_join", oracle=oracle)
    def lakehouse_bucketed_colocated_join(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Fact-fact join through tables BUCKETED on the join key:
        both sides are written ``bucketBy(8, orderkey)`` (sorted
        within buckets), so the SortMergeJoin consumes the bucketed
        layout directly — no Exchange on either side
        (tests/test_lakehouse.test_registered_colocated_join_plan_is_shuffle_free
        asserts THIS query's plan through the shared helpers).
        Broadcast is disabled for the join scoped to this query so
        the strategy decision is bucket-vs-shuffle, not size.

        This is the 100 TB recurring-join layout: pay the
        partitioning ONCE at write time, then every nightly join of
        the two facts is map-side. The oracle computes the same
        aggregate from the raw tables — bucketing is pure layout and
        must not change a single value.
        """
        import tempfile
        import uuid

        suffix = uuid.uuid4().hex[:8]
        prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        with tempfile.TemporaryDirectory() as root:
            t_li = t_orders = None
            try:
                t_li, t_orders = write_bucketed_fact_tables(
                    spark, sf_dir, root, suffix
                )
                spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
                result = colocated_join_agg(spark, t_li, t_orders)
                # materialize before the external location vanishes
                return result.localCheckpoint(eager=True)
            finally:
                spark.conf.set(
                    "spark.sql.autoBroadcastJoinThreshold", prev_thresh
                )
                for t in (t_orders, t_li):
                    if t:
                        spark.sql(f"DROP TABLE IF EXISTS {t}")


_register_bucketed_join()


# --------------------------------------------------------------------
# Zone-map pruning advisor: quantify what file-level min/max
# statistics (the parquet footer / lakehouse manifest "zone maps")
# buy for a date-range predicate under two write layouts — the
# range-partitioned sort a careful writer produces vs the hash
# scatter a naive one does. Files are modeled as 64 logical buckets:
# equal-width date buckets stand in for repartitionByRange at write
# (same min/max tightness, no global sort needed HERE — the real
# sort is paid once by the layout job), and a 60-bit md5 bucket
# models hash partitioning. Every statistic is an integer count;
# scan_fraction is one exact-integer IEEE division.
# --------------------------------------------------------------------

_ZM_FILES = 64
_ZM_LO = "1998-03-01"
_ZM_HI = "1998-04-01"  # exclusive


def _register_zonemap_stats() -> None:
    from workshop3_etl_spark.plans.registry import register
    from workshop3_etl_spark.sources.tables import load_table

    oracle = f"""
WITH b AS (
  SELECT CAST(MIN(o_orderdate) AS DATE) AS mn,
         CAST(MAX(o_orderdate) AS DATE) AS mx
  FROM orders
),
a AS (
  SELECT
    o_orderdate,
    ((CAST(o_orderdate AS DATE) - b.mn) * {_ZM_FILES})
      // ((b.mx - b.mn) + 1) AS f_range,
    CAST(CAST(concat('0x',
         substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15)) AS BIGINT)
         AS BIGINT) % {_ZM_FILES} AS f_hash,
    CASE WHEN o_orderdate >= TIMESTAMP '{_ZM_LO}'
          AND o_orderdate < TIMESTAMP '{_ZM_HI}'
         THEN 1 ELSE 0 END AS hit
  FROM orders CROSS JOIN b
),
u AS (
  SELECT 'range_partitioned' AS layout, f_range AS f, o_orderdate, hit
  FROM a
  UNION ALL
  SELECT 'hash_partitioned' AS layout, f_hash AS f, o_orderdate, hit
  FROM a
),
z AS (
  SELECT layout, f,
         MIN(o_orderdate) AS mn_d, MAX(o_orderdate) AS mx_d,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(hit) AS BIGINT) AS n_hits
  FROM u GROUP BY 1, 2
)
SELECT layout,
       CAST(COUNT(*) AS BIGINT) AS n_files,
       CAST(SUM(CASE WHEN mx_d < TIMESTAMP '{_ZM_LO}'
                      OR mn_d >= TIMESTAMP '{_ZM_HI}'
                     THEN 0 ELSE 1 END) AS BIGINT) AS n_files_scanned,
       CAST(SUM(CASE WHEN mx_d < TIMESTAMP '{_ZM_LO}'
                      OR mn_d >= TIMESTAMP '{_ZM_HI}'
                     THEN 0 ELSE n_rows END) AS BIGINT) AS n_rows_scanned,
       CAST(SUM(n_hits) AS BIGINT) AS n_rows_matching,
       CAST(SUM(CASE WHEN mx_d < TIMESTAMP '{_ZM_LO}'
                      OR mn_d >= TIMESTAMP '{_ZM_HI}'
                     THEN 0 ELSE n_rows END) AS DOUBLE)
         / CAST(SUM(n_rows) AS DOUBLE) AS scan_fraction
FROM z
GROUP BY layout
ORDER BY layout
"""

    @register("layout_zonemap_prune_stats", oracle=oracle)
    def layout_zonemap_prune_stats(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """File-pruning effectiveness of zone maps for a one-month
        date predicate under a range-partitioned vs hash-partitioned
        64-file layout: files scanned, rows scanned, true matches,
        and the scan fraction per layout (2 rows).

        The range layout scans ~1-2 files (zone maps prune the rest);
        the hash layout scans ALL files (every file's min/max spans
        the whole calendar) — the quantified argument for sorting on
        the predicate column at write time, which at 100 TB is the
        difference between reading ~1.5% and 100% of the table. One
        scan + one 2x64-group aggregate; the min/max bounds ride a
        broadcast 1-row frame (no window, no sort — the equal-width
        bucket models the writer's range partitioner)."""
        o = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderdate"
        )
        b = o.agg(
            F.min("o_orderdate").cast("date").alias("mn"),
            F.max("o_orderdate").cast("date").alias("mx"),
        )
        a = o.crossJoin(F.broadcast(b)).select(
            "o_orderdate",
            (
                F.expr(
                    f"(datediff(cast(o_orderdate as date), mn) * {_ZM_FILES})"
                    " div (datediff(mx, mn) + 1)"
                )
            ).alias("f_range"),
            F.expr(
                "cast(conv(substring(md5(cast(o_orderkey as string)),"
                f" 1, 15), 16, 10) as bigint) % {_ZM_FILES}"
            ).alias("f_hash"),
            F.expr(
                f"case when o_orderdate >= timestamp'{_ZM_LO}'"
                f" and o_orderdate < timestamp'{_ZM_HI}'"
                " then 1 else 0 end"
            ).alias("hit"),
        )
        # both layouts ride ONE scan: the 2x expansion is a map-side
        # stack, not a union of two scan branches
        u = a.select(
            "o_orderdate",
            "hit",
            F.expr(
                "stack(2, 'range_partitioned', f_range,"
                " 'hash_partitioned', f_hash) as (layout, f)"
            ),
        )
        z = u.groupBy("layout", "f").agg(
            F.min("o_orderdate").alias("mn_d"),
            F.max("o_orderdate").alias("mx_d"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("hit").cast("long").alias("n_hits"),
        )
        pruned = (F.col("mx_d") < F.lit(_ZM_LO).cast("timestamp")) | (
            F.col("mn_d") >= F.lit(_ZM_HI).cast("timestamp")
        )
        scanned_rows = F.sum(
            F.when(pruned, F.lit(0)).otherwise(F.col("n_rows"))
        ).cast("long")
        return (
            z.groupBy("layout")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_files"),
                F.sum(F.when(pruned, F.lit(0)).otherwise(F.lit(1)))
                .cast("long")
                .alias("n_files_scanned"),
                scanned_rows.alias("n_rows_scanned"),
                F.sum("n_hits").cast("long").alias("n_rows_matching"),
                (
                    scanned_rows.cast("double")
                    / F.sum("n_rows").cast("double")
                ).alias("scan_fraction"),
            )
            .orderBy("layout")
        )


_register_zonemap_stats()


# --------------------------------------------------------------------
# Range-partition planner — the splitter-selection step of a 100 TB
# total sort (Spark's RangePartitioner, TeraSort's sampler), made
# EXACT: partition boundaries at the true i*n/P order statistics of
# the sort key instead of a sample, plus the per-range row counts the
# planner uses to prove balance before launching the write. Ties at a
# boundary stay in the lower range (assignment is by VALUE, so equal
# keys can never straddle two files — the property that makes range
# layouts zone-map-prunable; see layout_zonemap_prune_stats).
#
# Scale contract: the key is the integer-cents money canon
# (operators/stats._cents), so exact global order statistics come
# from the two-level bucketed prefix (functions/ranks.py) — one
# groupBy to distinct key values (domain-bounded: <= cents range
# rows, independent of table size), a partitioned within-bucket
# window over a ~763-row spine, and a P-row planning frame. No
# corpus-wide sort, no unpartitioned window over data-scale rows.
# --------------------------------------------------------------------


def _register_range_partition_plan() -> None:
    from workshop3_etl_spark.functions.ranks import two_level_prefix
    from workshop3_etl_spark.operators.stats import _cents
    from workshop3_etl_spark.plans.registry import register
    from workshop3_etl_spark.sources.tables import load_table

    n_parts = 8
    bucket = 65536  # cents per rank bucket; spine = price_range / 2^16
    cents = _cents("o_totalprice")

    oracle = f"""
WITH v AS (
  SELECT {cents} AS v, CAST(COUNT(*) AS BIGINT) AS w
  FROM orders GROUP BY 1
),
c AS (
  SELECT v, CAST(SUM(w) OVER (ORDER BY v) AS BIGINT) AS cumw FROM v
),
n AS (SELECT CAST(SUM(w) AS BIGINT) AS n FROM v),
s AS (
  SELECT CAST(i AS INTEGER) AS range_id,
         (i * n.n + {n_parts - 1}) // {n_parts} AS target
  FROM range(1, {n_parts + 1}) t(i), n
),
b AS (
  SELECT s.range_id,
         MIN(c.v) AS upper_cents,
         MIN(c.cumw) AS bcum
  FROM s JOIN c ON c.cumw >= s.target
  GROUP BY s.range_id
)
SELECT b.range_id,
       CAST(b.upper_cents AS BIGINT) AS upper_cents,
       CAST(b.bcum - COALESCE(p.bcum, 0) AS BIGINT) AS n_rows,
       CAST(b.bcum - COALESCE(p.bcum, 0) AS DOUBLE) * {n_parts}e0
         / CAST(n.n AS DOUBLE) AS balance
FROM b LEFT JOIN b p ON p.range_id = b.range_id - 1, n
ORDER BY b.range_id
"""

    @register("layout_range_partition_plan", oracle=oracle)
    def layout_range_partition_plan(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Exact 8-way range-partition plan for sorting orders by
        total price: per range the upper boundary (integer cents,
        inclusive), the row count, and the balance ratio vs the ideal
        n/8 — the frame a sort-write job inspects before committing
        to a layout, and the boundaries it broadcasts to the
        partitioner.

        Boundary r = the smallest key whose inclusive cumulative
        count reaches ceil(r*n/8); its cumulative count IS the
        end-of-range prefix, so per-range counts are boundary-prefix
        differences — no second scan. Balance deviates from 1.0
        only through boundary ties, which is exactly the skew a
        value-assigned range layout cannot split.
        """
        o = load_table(spark, sf_dir, "orders").selectExpr(f"{cents} as v")
        per_v = o.groupBy("v").agg(F.count(F.lit(1)).cast("long").alias("w"))
        pre = two_level_prefix(per_v, "v", "w", bucket)
        n1 = per_v.agg(F.sum("w").cast("long").alias("n"))
        splits = (
            spark.range(1, n_parts + 1)
            .toDF("i")
            .crossJoin(F.broadcast(n1))
            .select(
                F.col("i").cast("int").alias("range_id"),
                F.expr(f"(i * n + {n_parts - 1}) div {n_parts}").alias(
                    "target"
                ),
                "n",
            )
        )
        from workshop3_etl_spark.functions.ranks import cum_crossing

        # checkpoint the 8-row bounds frame: the prev self-join below
        # would otherwise re-execute the entire upstream pipeline
        # (orders scan + distinct-cents + prefix windows) a second time
        bounds = tracked_local_checkpoint(
            cum_crossing(
                pre, splits, "v", "cumw", ("range_id", "n")
            ).select(
                "range_id",
                "n",
                F.col("v").cast("long").alias("upper_cents"),
                F.col("cumw").cast("long").alias("bcum"),
            )
        )
        prev = bounds.select(
            (F.col("range_id") + F.lit(1)).alias("range_id"),
            F.col("bcum").alias("prev_bcum"),
        )
        result = (
            bounds.join(F.broadcast(prev), "range_id", "left")
            .select(
                "range_id",
                "upper_cents",
                (F.col("bcum") - F.coalesce(F.col("prev_bcum"), F.lit(0)))
                .cast("long")
                .alias("n_rows"),
                (
                    (
                        F.col("bcum")
                        - F.coalesce(F.col("prev_bcum"), F.lit(0))
                    ).cast("double")
                    * F.lit(float(n_parts))
                    / F.col("n").cast("double")
                )
                .alias("balance"),
            )
            .orderBy("range_id")
        )
        return materialize_and_release(result, bounds)


_register_range_partition_plan()


# --------------------------------------------------------------------
# File-level Bloom index — the data-skipping primitive for POINT
# predicates on columns the layout does NOT sort: zone maps prune
# nothing when every file's [min, max] spans the key domain (the
# hash-layout half of layout_zonemap_prune_stats), but a per-file
# Bloom filter over the column's distinct values still skips every
# file whose bloom lacks the probed key — false positives cost an
# extra file scan, never a wrong answer. This is the parquet
# bloom_filter_enabled / Delta-Iceberg bloom index, expressed
# explicitly so the prune telemetry is observable and cross-engine
# checkable (the operational question it answers: how many of the
# layout's files does a customer-lookup actually touch?).
#
# Cross-engine contract: file assignment models a hash layout
# (o_orderkey % 64 — insertion-order writes, the layout that defeats
# zone maps) and the bloom arithmetic is the runtime filter's shared
# double-hashing (operators/runtime_filter.bloom_pos_sql) — exact
# integer math both engines execute identically, 32 payload bits per
# BIGINT word.
#
# Scale design: the index is one distinct-project + one bit_or
# aggregate, bounded at n_files x M_WORDS rows regardless of table
# size; probes join the (tiny, broadcast) exploded position frame
# against the index on widx; truth for the telemetry is one
# aggregate over the probed keys' rows only.
# --------------------------------------------------------------------


def _register_bloom_index_stats() -> None:
    from workshop3_etl_spark.operators.runtime_filter import (
        N_HASHES,
        bloom_pos_sql,
    )
    from workshop3_etl_spark.plans.registry import register
    from workshop3_etl_spark.sources.tables import load_table

    n_files = 64
    n_probes = 3
    file_sql = f"(o_orderkey % {n_files})"

    pos_union = " UNION ALL ".join(
        f"SELECT file_id, {bloom_pos_sql('o_custkey', i)} AS pos FROM fk"
        for i in range(N_HASHES)
    )
    probe_pos_union = " UNION ALL ".join(
        f"SELECT o_custkey, {bloom_pos_sql('o_custkey', i)} AS pos"
        " FROM probes"
        for i in range(N_HASHES)
    )

    oracle = f"""
WITH fk AS (
  SELECT DISTINCT {file_sql} AS file_id, o_custkey FROM orders
),
pos AS ({pos_union}),
idx AS (
  SELECT file_id, pos // 32 AS widx,
         BIT_OR(CAST(1 AS BIGINT) << (pos % 32)) AS word
  FROM pos GROUP BY 1, 2
),
probes AS (
  SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders
  FROM orders GROUP BY 1
  ORDER BY n_orders DESC, o_custkey
  LIMIT {n_probes}
),
pp AS ({probe_pos_union}),
hits AS (
  SELECT i.file_id, p.o_custkey,
         CAST(SUM(CASE WHEN (i.word & (CAST(1 AS BIGINT) << (p.pos % 32)))
                       <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_set
  FROM pp p JOIN idx i ON i.widx = p.pos // 32
  GROUP BY 1, 2
),
cand AS (
  SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS files_scanned
  FROM hits WHERE n_set = {N_HASHES} GROUP BY 1
),
truth AS (
  SELECT fk.o_custkey, CAST(COUNT(*) AS BIGINT) AS files_with_key
  FROM fk JOIN probes p ON p.o_custkey = fk.o_custkey
  GROUP BY 1
)
SELECT p.o_custkey AS custkey,
       p.n_orders,
       t.files_with_key,
       c.files_scanned,
       CAST(c.files_scanned - t.files_with_key AS BIGINT)
         AS false_positive_files,
       CAST(c.files_scanned AS DOUBLE) / {n_files}e0 AS scan_fraction
FROM probes p
JOIN truth t ON t.o_custkey = p.o_custkey
JOIN cand c ON c.o_custkey = p.o_custkey
ORDER BY custkey
"""

    @register("layout_bloom_prune_stats", oracle=oracle)
    def layout_bloom_prune_stats(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Per-file Bloom-index pruning telemetry for customer point
        lookups against a 64-file hash layout of orders: for the 3
        busiest customers, the files that truly hold their orders,
        the files a bloom probe would scan, the false-positive file
        count, and the scan fraction — the number that justifies
        enabling column bloom filters where zone maps cannot help.

        A file passes for a key iff all probe bits are set; a
        missing index word rejects (bit_or of nothing = no row =
        unset word). Bloom skipping is one-sided by construction:
        files_scanned >= files_with_key always, false positives are
        surfaced, false negatives are impossible (the same planted
        guarantee tests/test_runtime_filter.py pins for the
        semi-join bloom)."""
        o = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey"
        )
        fk = o.selectExpr(
            f"{file_sql} as file_id", "o_custkey"
        ).distinct()
        pos = fk.select(
            "file_id",
            F.explode(
                F.array(
                    *[
                        F.expr(bloom_pos_sql("o_custkey", i))
                        for i in range(N_HASHES)
                    ]
                )
            ).alias("pos"),
        )
        idx = (
            pos.select(
                "file_id",
                F.expr("pos div 32").alias("widx"),
                F.expr("shiftleft(cast(1 as bigint), pos % 32)").alias(
                    "bit"
                ),
            )
            .groupBy("file_id", "widx")
            .agg(F.expr("bit_or(bit)").alias("word"))
        )
        # checkpoint the 3-row probe frame: it feeds pp, truth, and
        # the final join — unpersisted it would re-run the full orders
        # scan + groupBy + TakeOrdered three times
        probes = tracked_local_checkpoint(
            o.groupBy("o_custkey")
            .agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
            .orderBy(F.desc("n_orders"), "o_custkey")
            .limit(n_probes)
        )
        pp = probes.select(
            "o_custkey",
            F.explode(
                F.array(
                    *[
                        F.expr(bloom_pos_sql("o_custkey", i))
                        for i in range(N_HASHES)
                    ]
                )
            ).alias("pos"),
        )
        hits = (
            idx.join(
                F.broadcast(pp.withColumn("widx", F.expr("pos div 32"))),
                "widx",
            )
            .groupBy("file_id", "o_custkey")
            .agg(
                F.sum(
                    F.when(
                        F.expr(
                            "(word & shiftleft(cast(1 as bigint),"
                            " pos % 32)) <> 0"
                        ),
                        F.lit(1),
                    ).otherwise(F.lit(0))
                )
                .cast("long")
                .alias("n_set")
            )
        )
        cand = (
            hits.filter(F.col("n_set") == N_HASHES)
            .groupBy("o_custkey")
            .agg(F.count(F.lit(1)).cast("long").alias("files_scanned"))
        )
        truth = (
            fk.join(F.broadcast(probes.select("o_custkey")), "o_custkey")
            .groupBy("o_custkey")
            .agg(F.count(F.lit(1)).cast("long").alias("files_with_key"))
        )
        result = (
            probes.join(F.broadcast(truth), "o_custkey")
            .join(F.broadcast(cand), "o_custkey")
            .select(
                F.col("o_custkey").alias("custkey"),
                "n_orders",
                "files_with_key",
                "files_scanned",
                (F.col("files_scanned") - F.col("files_with_key"))
                .cast("long")
                .alias("false_positive_files"),
                (
                    F.col("files_scanned").cast("double")
                    / F.lit(float(n_files))
                ).alias("scan_fraction"),
            )
            .orderBy("custkey")
        )
        return materialize_and_release(result, probes)


_register_bloom_index_stats()


# --------------------------------------------------------------------
# Dynamic partition pruning (DPP): the runtime half of partition
# pruning. Static pruning needs the partition predicate as a literal;
# when the qualifying partitions are only known by JOINING a filtered
# dimension, Spark injects the dim-side result as a runtime subquery
# into the fact scan's PartitionFilters — at 100 TB the difference
# between scanning 7 years and scanning the 2 qualifying ones,
# decided at execution time. This query demonstrates the real
# mechanism end-to-end: a ship_year-partitioned lineitem joined to a
# (derived, filtered) year dimension, with the plan test asserting
# the injected `dynamicpruning` expression reached the fact scan.
# --------------------------------------------------------------------


# The dimension's filter: order-years whose order count crosses a
# threshold — knowable only by aggregating orders, so the fact scan
# CANNOT be statically pruned. Cross-engine deterministic.
DPP_MIN_ORDERS = 2000


def dpp_join_frames(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """The DPP demonstration's two inputs — (fact projection to
    partition, filtered year dimension) — shared by the registered
    query and its plan-shape test so the pipeline under inspection is
    the pipeline that ships (the write_bucketed_fact_tables rule)."""
    from workshop3_etl_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem").select(
        F.year("l_shipdate").cast("int").alias("ship_year"),
        F.col("l_extendedprice").cast("decimal(18,2)").alias("price"),
    )
    yd = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.year("o_orderdate").cast("int").alias("yr"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
        .filter(F.col("n_orders") >= DPP_MIN_ORDERS)
    )
    return li, yd


def _register_dpp_join() -> None:
    from workshop3_etl_spark.plans.registry import register

    min_orders = DPP_MIN_ORDERS

    oracle = f"""
WITH li AS (
  SELECT YEAR(l_shipdate) AS ship_year,
         CAST(l_extendedprice AS DECIMAL(18, 2)) AS price
  FROM lineitem
),
yd AS (
  SELECT YEAR(o_orderdate) AS yr,
         CAST(COUNT(*) AS BIGINT) AS n_orders
  FROM orders GROUP BY 1
  HAVING COUNT(*) >= {min_orders}
)
SELECT li.ship_year,
       yd.n_orders AS n_dim_orders,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(price) AS DOUBLE) AS total_price
FROM li JOIN yd ON yd.yr = li.ship_year
GROUP BY li.ship_year, yd.n_orders
ORDER BY ship_year
"""

    @register("lakehouse_dpp_partitioned_join", oracle=oracle)
    def lakehouse_dpp_partitioned_join(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Per-year lineitem revenue restricted to years whose ORDER
        count crosses a threshold — the qualifying years exist only
        as a filtered aggregate of another table, so the
        ship_year-partitioned fact can only be pruned at RUNTIME:
        Catalyst injects the dim result as a dynamicpruning subquery
        into the fact scan's PartitionFilters (plan-asserted in
        tests/test_plans.py).

        The partitioned snapshot is written per call here (testdata
        is unpartitioned parquet); a deployment reads the standing
        partitioned table and pays only the pruned scan.
        """
        import tempfile

        li, yd = dpp_join_frames(spark, sf_dir)
        with tempfile.TemporaryDirectory() as root:
            write_partitioned(li, root, ["ship_year"])
            fact = spark.read.parquet(root)
            result = (
                fact.join(yd, fact["ship_year"] == yd["yr"])
                .groupBy("ship_year", F.col("n_orders").alias("n_dim_orders"))
                .agg(
                    F.count(F.lit(1)).cast("long").alias("n_items"),
                    F.sum("price").cast("double").alias("total_price"),
                )
                .orderBy("ship_year")
            )
            # materialize before the partitioned tempdir vanishes
            return result.localCheckpoint(eager=True)


_register_dpp_join()


# --------------------------------------------------------------------
# Compaction (OPTIMIZE) planner — the maintenance step that turns a
# small-file-riddled table into target-sized files: given per-file
# row counts, assign files to REWRITE GROUPS whose combined size
# lands near the target. Bin assignment is the same deterministic
# contiguous-fill used by corpus_pack_sequences (a doc belongs to the
# bin its running-sum START offset falls in): first-fit-decreasing
# packs marginally tighter but is inherently sequential, while
# contiguous fill over the size-descending order is one window pass —
# the distributed-friendly choice, with per-group fill ratios
# surfacing exactly what the trade costs. Files already at or above
# the target are left alone (rewriting them is wasted IO).
#
# File sizes are modeled from the testdata as a deterministic 64-file
# hash layout of orders (the same o_orderkey % 64 layout the bloom
# index uses) so both engines derive identical inputs; a deployment
# feeds real file-listing stats. The planning frame is n_files rows —
# the window is over file STATS, never data.
# --------------------------------------------------------------------


def _register_compaction_plan() -> None:
    from workshop3_etl_spark.plans.registry import register
    from workshop3_etl_spark.sources.tables import load_table

    n_files = 64
    # target = 4x the mean file size, derived from the table itself
    # (scale-free: a fixed row count would exclude every file at one
    # SF and none at another — the vacuous-check trap). Integer
    # ceil-division, identical in both engines.
    oracle = f"""
WITH files AS (
  SELECT (o_orderkey % {n_files}) AS file_id,
         CAST(COUNT(*) AS BIGINT) AS n_rows
  FROM orders GROUP BY 1
),
t AS (
  SELECT CAST((SUM(n_rows) + {n_files - 1}) // {n_files} * 4 AS BIGINT)
    AS target_rows
  FROM files
),
small AS (
  SELECT f.file_id, f.n_rows, t.target_rows,
         CAST(COALESCE(SUM(f.n_rows) OVER (
           ORDER BY f.n_rows DESC, f.file_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS BIGINT) AS start_off
  FROM files f, t WHERE f.n_rows < t.target_rows
)
SELECT CAST(start_off // target_rows AS BIGINT) AS rewrite_group,
       CAST(COUNT(*) AS BIGINT) AS n_files_in,
       CAST(SUM(n_rows) AS BIGINT) AS n_rows_out,
       CAST(SUM(n_rows) AS DOUBLE) / CAST(MIN(target_rows) AS DOUBLE)
         AS fill_ratio
FROM small
GROUP BY 1
ORDER BY rewrite_group
"""

    @register("lakehouse_compaction_plan", oracle=oracle)
    def lakehouse_compaction_plan(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Rewrite groups for compacting a 64-file hash layout toward
        the derived target (4x mean file size): per group the
        input-file count, output rows, and fill ratio — the frame an
        OPTIMIZE job turns into rewrite tasks. Files already at the
        target are excluded (rewriting them is pure write
        amplification).

        One groupBy for the file stats; the contiguous-fill window
        runs over the n_files-row stats frame (never data rows), so
        the plan costs one scan at any table size.
        """
        from pyspark.sql import Window

        files = (
            load_table(spark, sf_dir, "orders")
            .selectExpr(f"(o_orderkey % {n_files}) as file_id")
            .groupBy("file_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
        )
        tgt = files.agg(
            F.expr(
                f"cast((sum(n_rows) + {n_files - 1}) div {n_files} * 4"
                " as bigint)"
            ).alias("target_rows")
        )
        w = (
            Window.orderBy(F.desc("n_rows"), F.asc("file_id"))
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        small = (
            files.crossJoin(F.broadcast(tgt))
            .filter(F.col("n_rows") < F.col("target_rows"))
            .select(
                "file_id",
                "n_rows",
                "target_rows",
                F.coalesce(F.sum("n_rows").over(w), F.lit(0))
                .cast("long")
                .alias("start_off"),
            )
        )
        return (
            small.groupBy(
                F.expr("start_off div target_rows").alias("rewrite_group")
            )
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_files_in"),
                F.sum("n_rows").cast("long").alias("n_rows_out"),
                (
                    F.sum("n_rows").cast("double")
                    / F.min("target_rows").cast("double")
                ).alias("fill_ratio"),
            )
            .orderBy("rewrite_group")
        )


_register_compaction_plan()


# --------------------------------------------------------------------
# Incremental JOIN-view maintenance (the third classic IVM case,
# completing the family: cdc_apply_latest_snapshot = snapshot apply,
# mv_monthly_from_daily_rollup = aggregate rollup, THIS = delta
# maintenance of a materialized JOIN view). For an insert-only delta
# of the fact table, the maintained view
#     V = agg(orders JOIN customer)
# updates as V1 = merge(V0, agg(DELTA-orders JOIN customer)) — the
# delta join touches ONLY the new facts (at 100 TB: |delta| work, not
# |base|), and the merge is a groupBy-sum over view keys (view-sized,
# not fact-sized). The query materializes BOTH paths — incremental
# and full recompute — and surfaces per-nation view rows, the exact
# integer-cents revenue from the INCREMENTAL path, and a boolean
# asserting row-for-row equality with the full recompute; the oracle
# computes the full recompute and emits TRUE. A broken merge (lost
# delta, double count, key drift) flips the boolean and fails the
# hash compare.
#
# Reference parity: the reference rebuilds its reporting tables whole
# on every run (src/etl.py to_sql(if_exists='replace')); delta
# maintenance is the at-scale form of that refresh.
# --------------------------------------------------------------------

_IVM_CENTS = "cast(floor(o_totalprice * 100e0 + 0.5e0) as bigint)"

_IVM_ORACLE = f"""
WITH v AS (
  SELECT c.c_nationkey AS nationkey,
         o.o_orderdate AS d,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(SUM({_IVM_CENTS}) AS BIGINT) AS cents
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2
)
SELECT nationkey,
       CAST(COUNT(*) AS BIGINT) AS n_view_rows,
       CAST(SUM(n_orders) AS BIGINT) AS n_orders,
       CAST(SUM(cents) AS BIGINT) AS total_cents,
       TRUE AS incremental_matches_full
FROM v
GROUP BY 1
ORDER BY 1
"""


def _register_join_ivm() -> None:
    from workshop3_etl_spark.plans.registry import register
    from workshop3_etl_spark.sources.tables import load_table

    @register("mv_join_incremental_maintenance", oracle=_IVM_ORACLE)
    def mv_join_incremental_maintenance(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Maintain V = (nationkey, orderdate) -> (n_orders, cents) over
        orders JOIN customer incrementally: base view from 90% of orders,
        then merge in the 10% delta via a delta-only join — and prove
        row-for-row equality against the full recompute inside the
        result (per-nation boolean the oracle gates as TRUE)."""
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_orderdate",
            F.expr(_IVM_CENTS).alias("cents"),
        )
        cust = load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_nationkey"
        )

        def view_of(facts: DataFrame) -> DataFrame:
            from workshop3_etl_spark.functions.joins import broadcast_if_small

            return (
                facts.join(
                    broadcast_if_small(cust),
                    facts.o_custkey == cust.c_custkey,
                )
                .groupBy(
                    F.col("c_nationkey").alias("nationkey"),
                    F.col("o_orderdate").alias("d"),
                )
                .agg(
                    F.count(F.lit(1)).cast("long").alias("n_orders"),
                    F.sum("cents").cast("long").alias("cents"),
                )
            )

        is_delta = F.col("o_orderkey") % 10 == 0
        v0 = view_of(orders.filter(~is_delta))
        dv = view_of(orders.filter(is_delta))  # |delta| work only
        v1 = (
            v0.unionByName(dv)
            .groupBy("nationkey", "d")
            .agg(
                F.sum("n_orders").cast("long").alias("n_orders"),
                F.sum("cents").cast("long").alias("cents"),
            )
        )
        vf = view_of(orders).select(
            "nationkey", "d",
            F.col("n_orders").alias("n_orders_f"),
            F.col("cents").alias("cents_f"),
        )
        audited = v1.join(vf, ["nationkey", "d"], "full_outer").select(
            "nationkey",
            "n_orders",
            "cents",
            (
                F.col("n_orders").eqNullSafe(F.col("n_orders_f"))
                & F.col("cents").eqNullSafe(F.col("cents_f"))
            ).alias("row_ok"),
        )
        return (
            audited.groupBy("nationkey")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_view_rows"),
                F.sum("n_orders").cast("long").alias("n_orders"),
                F.sum("cents").cast("long").alias("total_cents"),
                F.min("row_ok").alias("incremental_matches_full"),
            )
            .orderBy("nationkey")
        )


_register_join_ivm()
