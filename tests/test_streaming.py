"""Streaming-leg tests: the custom stateful operator and the
incremental (multi-batch) upsert path — the parts the oracle parity
suite can't see."""

from __future__ import annotations

import sqlite3

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from workshop3_etl_spark.sources.tables import load_table, normalize_event_ts
from workshop3_etl_spark.streaming.stateful import per_key_online_metrics
from workshop3_etl_spark.streaming.upsert import sqlite_upsert_batch


def test_stateful_welford_matches_batch(spark, tmp_path):
    """Streaming per-key Welford state over the full (finite) events
    stream must equal the batch groupBy aggregates — the A12
    'Welford == var_pop/avg' equivalence SURVEY flags."""
    static = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    stream = normalize_event_ts(
        spark.readStream.schema(static.schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(SF_SMOKE)
    ).withColumn("abs_err", F.abs(F.col("value") - F.lit(100.0)))
    out = per_key_online_metrics(stream)
    sink = "stateful_welford_test"
    (
        out.writeStream.format("memory")
        .queryName(sink)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    # last emitted row per key = final state
    got = {
        r["key"]: r
        for r in spark.table(sink).collect()
    }
    expected = {
        r["user_id"]: r
        for r in load_table(spark, SF_SMOKE, "events")
        .groupBy("user_id")
        .agg(
            F.count("value").alias("n"),
            F.avg("value").alias("mean_value"),
            F.var_pop("value").alias("var_pop"),
            F.avg(F.abs(F.col("value") - F.lit(100.0))).alias("running_mae"),
        )
        .collect()
    }
    assert set(got) == set(expected)
    for k, e in expected.items():
        g = got[k]
        assert g["n"] == e["n"]
        assert g["mean_value"] == pytest.approx(e["mean_value"], rel=1e-9)
        assert g["var_pop"] == pytest.approx(e["var_pop"], rel=1e-6)
        assert g["running_mae"] == pytest.approx(e["running_mae"], rel=1e-9)


def test_incremental_upsert_across_batches(spark, tmp_path):
    """Micro-batch-at-a-time upsert: overlapping batches must merge,
    not duplicate (effectively-once)."""
    db = str(tmp_path / "p.sqlite")
    rows = [
        ("A", 2015, 1.0, 1.0, 1.0, 1.0, 1.0, 5.0, 1, 0, 5.1),
        ("B", 2015, 1.0, 1.0, 1.0, 1.0, 1.0, 6.0, 0, 1, 5.9),
        ("C", 2016, 1.0, 1.0, 1.0, 1.0, 1.0, 7.0, 1, 0, 6.8),
    ]
    cols = (
        "country string, year int, gdp double, social double, health double,"
        " freedom double, corrupt double, y_true double, is_train int,"
        " is_test int, y_pred double"
    )
    b1 = spark.createDataFrame(rows[:2], cols)
    # batch 2 overlaps row B with an updated prediction
    b2 = spark.createDataFrame(
        [("B", 2015, 1.0, 1.0, 1.0, 1.0, 1.0, 6.0, 0, 1, 6.2), rows[2]], cols
    )
    sqlite_upsert_batch(db, b1)
    sqlite_upsert_batch(db, b2)
    con = sqlite3.connect(db)
    assert con.execute("SELECT COUNT(*) FROM predictions").fetchone()[0] == 3
    y = con.execute(
        "SELECT y_pred FROM predictions WHERE country='B'"
    ).fetchone()[0]
    con.close()
    assert y == pytest.approx(6.2)  # update won, no duplicate row


def test_full_stream_scoring_topology(spark, tmp_path):
    """SURVEY §3.3 end-to-end: JSON messages → streamed parse →
    micro-batch model scoring → idempotent warehouse upsert. Runs the
    REAL topology (streaming/pipeline.py) over a file-backed message
    stream, then checks warehouse count and replay idempotency."""
    import os

    from workshop3_etl_spark.ml import build_linreg_pipeline, with_split_flags
    from workshop3_etl_spark.schema import FEATURES, MESSAGE_SCHEMA, TARGET
    from workshop3_etl_spark.sources.happiness import clean, load_unified
    from workshop3_etl_spark.sources.kafka_io import (
        parse_json_messages,
        to_kafka_messages,
    )
    from workshop3_etl_spark.streaming.pipeline import score_and_upsert_stream

    fixtures = os.path.join(os.path.dirname(__file__), "fixtures", "happiness")
    paths = {y: os.path.join(fixtures, f"{y}.csv") for y in range(2015, 2020)}
    data = with_split_flags(clean(load_unified(spark, paths)), ["Country", "Year"])
    model = build_linreg_pipeline(FEATURES, TARGET).fit(
        data.filter("is_train = 1")
    )

    # produce the message log (the Kafka topic stand-in)
    topic_dir = str(tmp_path / "topic")
    to_kafka_messages(data).write.mode("overwrite").text(topic_dir)

    db = str(tmp_path / "warehouse.sqlite")

    def run(ckpt: str) -> None:
        raw = spark.readStream.schema("value string").text(topic_dir)
        messages = parse_json_messages(raw, MESSAGE_SCHEMA)
        q = score_and_upsert_stream(
            messages, model, db, str(tmp_path / ckpt)
        )
        q.awaitTermination()

    run("ckpt1")
    import sqlite3

    con = sqlite3.connect(db)
    n1 = con.execute("SELECT COUNT(*) FROM predictions").fetchone()[0]
    assert n1 == data.count()  # sent == upserted (the reference's 781 golden shape)
    # full replay from scratch offsets → same count (effectively-once)
    run("ckpt2")
    n2 = con.execute("SELECT COUNT(*) FROM predictions").fetchone()[0]
    ys = con.execute(
        "SELECT COUNT(*) FROM predictions WHERE y_pred IS NULL"
    ).fetchone()[0]
    con.close()
    assert n2 == n1
    assert ys == 0  # every row actually scored


def test_watermark_drops_late_data(spark, tmp_path):
    """Append-mode windowed aggregation with a watermark: events that
    arrive behind the watermark are DROPPED (the late-data policy the
    reference has no concept of — SURVEY §2.9 'Ordering/time').

    Two micro-batch rounds over a shared checkpoint: round 1 advances
    the watermark; round 2 delivers one event behind it (dropped) and
    one ahead (counted)."""
    src = tmp_path / "src"
    sink = tmp_path / "sink"
    ckpt = tmp_path / "ckpt"
    src.mkdir()

    def write_batch(name, rows):
        spark.createDataFrame(rows, "event_id long, ts timestamp, value double") \
            .coalesce(1).write.mode("overwrite").parquet(str(src / name))
        # move parquet part into the source dir as one new file
        import glob
        import shutil

        part = glob.glob(str(src / name / "part-*.parquet"))[0]
        shutil.move(part, str(src / f"{name}.parquet"))
        shutil.rmtree(str(src / name))

    from datetime import datetime as dt

    write_batch(
        "b1",
        [
            (1, dt(2024, 1, 1, 10, 10), 1.0),
            (2, dt(2024, 1, 1, 10, 40), 1.0),
            (3, dt(2024, 1, 1, 12, 0), 1.0),  # advances watermark to 11:30
        ],
    )

    def run():
        stream = (
            spark.readStream.schema("event_id long, ts timestamp, value double")
            .parquet(str(src))
        )
        agg = (
            stream.withWatermark("ts", "30 minutes")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count("*").alias("n"))
            .select(F.col("w.start").alias("window_start"), "n")
        )
        (
            agg.writeStream.format("parquet")
            .option("path", str(sink))
            .option("checkpointLocation", str(ckpt))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    run()
    write_batch(
        "b2",
        [
            (4, dt(2024, 1, 1, 10, 15), 1.0),  # LATE: behind 11:30 watermark
            (5, dt(2024, 1, 1, 13, 5), 1.0),   # on time
        ],
    )
    run()
    # third empty-ish round to flush closed windows
    write_batch("b3", [(6, dt(2024, 1, 1, 15, 0), 1.0)])
    run()

    out = {
        r["window_start"].hour: r["n"]
        for r in spark.read.parquet(str(sink)).collect()
    }
    # the 10:00 window must count ONLY the two on-time events —
    # the late event_id=4 was dropped by the watermark
    assert out[10] == 2
    # the 13:00 window (event 5) finalized in round 3
    assert out[13] == 1


def test_partitioned_upsert_matches_driver_path(spark, tmp_path):
    """The executor-side foreachPartition merge must produce exactly
    the warehouse state of the driver-side path, including replays."""
    from workshop3_etl_spark.streaming.upsert import (
        partitioned_sqlite_upsert_batch,
    )

    cols = (
        "country string, year int, gdp double, social double, health double,"
        " freedom double, corrupt double, y_true double, is_train int,"
        " is_test int, y_pred double"
    )
    rows = [
        (f"C{i}", 2015 + i % 3, 1.0, 1.0, 1.0, 1.0, 1.0, 5.0 + i, i % 2,
         1 - i % 2, 5.0 + i)
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, cols).repartition(8)

    db_part = str(tmp_path / "part.sqlite")
    db_drv = str(tmp_path / "drv.sqlite")
    partitioned_sqlite_upsert_batch(db_part, df)
    partitioned_sqlite_upsert_batch(db_part, df)  # replay: no dupes
    sqlite_upsert_batch(db_drv, df)

    def snapshot(db):
        con = sqlite3.connect(db)
        out = con.execute(
            "SELECT country, year, is_train, is_test, y_pred FROM predictions"
            " ORDER BY country, year, is_train, is_test"
        ).fetchall()
        con.close()
        return out

    assert snapshot(db_part) == snapshot(db_drv)
    assert len(snapshot(db_part)) == 40


def test_staged_merge_idempotent_replay(spark, tmp_path):
    """Lakehouse MERGE topology: staging append (executor-parallel) +
    one merge statement; replays update in place, staging drains."""
    from workshop3_etl_spark.streaming.upsert import staged_merge_batch

    cols = (
        "country string, year int, gdp double, social double, health double,"
        " freedom double, corrupt double, y_true double, is_train int,"
        " is_test int, y_pred double"
    )
    b1 = spark.createDataFrame(
        [("A", 2015, 1.0, 1.0, 1.0, 1.0, 1.0, 5.0, 1, 0, 5.1),
         ("B", 2015, 1.0, 1.0, 1.0, 1.0, 1.0, 6.0, 0, 1, 5.9)], cols
    ).repartition(4)
    b2 = spark.createDataFrame(
        [("B", 2015, 1.0, 1.0, 1.0, 1.0, 1.0, 6.0, 0, 1, 6.2),
         ("C", 2016, 1.0, 1.0, 1.0, 1.0, 1.0, 7.0, 1, 0, 6.8)], cols
    ).repartition(4)

    db = str(tmp_path / "m.sqlite")
    staged_merge_batch(db, b1)
    staged_merge_batch(db, b2)
    staged_merge_batch(db, b2)  # replay

    con = sqlite3.connect(db)
    assert con.execute("SELECT COUNT(*) FROM predictions").fetchone()[0] == 3
    assert con.execute(
        "SELECT y_pred FROM predictions WHERE country='B'"
    ).fetchone()[0] == pytest.approx(6.2)
    assert con.execute(
        "SELECT COUNT(*) FROM predictions_staging"
    ).fetchone()[0] == 0
    con.close()


def test_merge_into_sql_shape():
    """The real-lakehouse MERGE text carries the reference's key and
    update-set columns (kafka/consumer.py:77-106 semantics)."""
    from workshop3_etl_spark.streaming.upsert import merge_into_sql

    sql = merge_into_sql("wh.predictions", "updates")
    assert "MERGE INTO wh.predictions t" in sql
    assert "USING updates s" in sql
    for key in ("country", "year", "is_train", "is_test"):
        assert f"t.{key} = s.{key}" in sql
    assert "WHEN MATCHED THEN UPDATE" in sql
    assert "WHEN NOT MATCHED THEN INSERT" in sql


def test_peek_tool_reads_warehouse(spark, tmp_path, capsys):
    """tools/peek.py (the reference's scripts/peek_sqlite.py twin)
    reports count, test KPIs, per-year KPIs and top-k errors from a
    warehouse produced by the upsert sink."""
    import sys as _sys

    _sys.path.insert(0, "tools")
    try:
        from peek import peek
    finally:
        _sys.path.pop(0)

    cols = (
        "country string, year int, gdp double, social double, health double,"
        " freedom double, corrupt double, y_true double, is_train int,"
        " is_test int, y_pred double"
    )
    rows = [
        ("A", 2015, 1.0, 1.0, 1.0, 1.0, 1.0, 5.0, 0, 1, 5.5),
        ("B", 2015, 1.0, 1.0, 1.0, 1.0, 1.0, 6.0, 0, 1, 5.0),
        ("C", 2016, 1.0, 1.0, 1.0, 1.0, 1.0, 7.0, 1, 0, 6.9),
    ]
    db = str(tmp_path / "peek.sqlite")
    sqlite_upsert_batch(db, spark.createDataFrame(rows, cols))
    peek(db, k=1)
    out = capsys.readouterr().out
    assert "rows: 3" in out
    # test rows: |5.0-5.5|=0.5, |6.0-5.0|=1.0 → mae 0.75
    assert "n=2 mae=0.750000" in out
    assert "2015: n=2" in out
    assert "top-1 errors:" in out
    assert "B 2015" in out  # largest abs error first


def test_tumbling_agg_matches_under_rocksdb_state_store(spark):
    """The watermarked tumbling aggregate must produce identical
    results under the RocksDB state-store provider (the off-heap,
    disk-backed scale choice for state larger than executor heap) as
    under the default HDFS-backed in-heap provider."""
    from workshop3_etl_spark.streaming.batch_equivalent import (
        ROCKSDB_PROVIDER,
        state_store_provider,
        stream_tumbling_hourly_counts,
    )

    default_rows = stream_tumbling_hourly_counts(spark, SF_SMOKE).collect()
    with state_store_provider(spark, ROCKSDB_PROVIDER):
        rocks_rows = stream_tumbling_hourly_counts(spark, SF_SMOKE).collect()
    assert rocks_rows == default_rows
    assert len(rocks_rows) > 0


def test_tws_user_metrics_matches_batch(spark):
    """transformWithStateInPandas running per-user metrics must equal
    the batch aggregate exactly (integer-cents state design). Skips
    where the TWS Python runner's protobuf dependency is absent —
    the operator itself is env-gated, not stubbed."""
    from workshop3_etl_spark.streaming.tws import (
        stream_tws_user_metrics,
        tws_available,
    )

    if not tws_available():
        pytest.skip("google.protobuf absent: transformWithState runner "
                    "cannot start in this environment")
    got = stream_tws_user_metrics(spark, SF_SMOKE).collect()
    want = (
        load_table(spark, SF_SMOKE, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(27,2)")).cast("double")
            .alias("total_value"),
        )
        .orderBy("user_id")
        .collect()
    )
    assert [(r["user_id"], r["n_events"], r["total_value"]) for r in got] == [
        (r["user_id"], r["n_events"], r["total_value"]) for r in want
    ]


def test_stump_histogram_state_equals_batch(spark, tmp_path):
    """The maintained per-bin label-moment state merged over epochs
    must equal the one-shot batch histogram bit-for-bit (per-bin
    sums are associative under any micro-batch split)."""
    from workshop3_etl_spark.ml import _STUMP_BIN_W, _STUMP_CENTS
    from workshop3_etl_spark.sources.tables import load_table, table_stream
    from workshop3_etl_spark.streaming.batch_equivalent import (
        _few_state_partitions,
    )
    from workshop3_etl_spark.streaming.rollup import (
        maintain_stump_hist,
        read_stump_hist,
    )
    from tests.conftest import SF_SMOKE

    state = str(tmp_path / "stump_hist")
    with _few_state_partitions(spark):
        maintain_stump_hist(
            spark,
            table_stream(spark, SF_SMOKE, "lineitem"),
            state,
            str(tmp_path / "ck"),
        )
    got = {
        r["bin_id"]: (r["n"], r["sy"])
        for r in read_stump_hist(spark, state).collect()
    }
    batch = {
        r["bin_id"]: (r["n"], r["sy"])
        for r in load_table(spark, SF_SMOKE, "lineitem")
        .selectExpr(
            f"({_STUMP_CENTS}) div {_STUMP_BIN_W} as bin_id",
            "cast(l_quantity as bigint) as y",
        )
        .groupBy("bin_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("y").cast("long").alias("sy"),
        )
        .collect()
    }
    assert got == batch
