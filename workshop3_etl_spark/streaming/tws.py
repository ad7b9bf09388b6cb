"""transformWithStateInPandas per-key operator (Spark 4.x arbitrary
stateful processing v2).

The modern successor to ``streaming/stateful.py``'s
applyInPandasWithState operator: typed state variables (ValueState /
ListState / MapState), timers, and TTL support, required to run on the
RocksDB state-store provider (``batch_equivalent.state_store_provider``).

ENV-GATED like Kafka (sources/kafka_io.py): the TWS Python runner
needs ``google.protobuf``, absent from this container, so
tests/test_streaming.py skips unless it imports — the operator runs
unchanged where protobuf exists (verified: the skip is the ONLY gate;
the query plan builds and starts, failing today exactly at the
runner's protobuf import).

Exactness design: the streamed column is pre-converted JVM-side with
``cast(value as decimal(18,2)) * 100 -> long`` cents, so the Python
state transition sums INTEGERS (associative, order-independent) and
the surfaced ``total_value = cents / 100.0`` double is bit-identical
to the batch/DuckDB ``sum(cast(value as decimal))::double`` — the
same decimal-boundary rule every oracled aggregate here follows.
"""

from __future__ import annotations

import importlib.util
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def tws_available() -> bool:
    """The transformWithState Python runner imports google.protobuf."""
    try:
        return importlib.util.find_spec("google.protobuf") is not None
    except ModuleNotFoundError:  # parent package "google" absent
        return False


def _make_processor():
    """Build the StatefulProcessor lazily (class body is import-safe
    everywhere; instantiation happens only behind the gate)."""
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class RunningUserMetrics(StatefulProcessor):
        """Per-user running (count, integer-cents total) in a
        ValueState; emits the post-update running metrics per key per
        micro-batch (update semantics)."""

        def init(self, handle: StatefulProcessorHandle) -> None:
            self._agg = handle.getValueState("agg", "n BIGINT, cents BIGINT")

        def handleInputRows(self, key, rows, timer_values):
            n, cents = self._agg.get() if self._agg.exists() else (0, 0)
            for pdf in rows:
                n += len(pdf)
                cents += int(pdf["cents"].sum())
            self._agg.update((n, cents))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "total_value": [cents / 100.0],
                }
            )

        def close(self) -> None:
            pass

    return RunningUserMetrics()


def stream_tws_user_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event count + exact value total via
    transformWithStateInPandas over the events file stream
    (availableNow -> memory sink), returned as the final per-user
    DataFrame.

    Equivalent batch query: ``groupBy(user_id).agg(count, sum(cast
    (value as decimal(27,2)))::double)`` — asserted exactly in
    tests/test_streaming.py when the runner's protobuf dependency is
    present.
    """
    from workshop3_etl_spark.sources.tables import table_stream
    from workshop3_etl_spark.streaming.batch_equivalent import (
        ROCKSDB_PROVIDER,
        _few_state_partitions,
        state_store_provider,
    )

    stream = (
        table_stream(spark, sf_dir, "events")
        .select(
            "user_id",
            (F.col("value").cast("decimal(18,2)") * 100)
            .cast("long")
            .alias("cents"),
        )
    )
    out = stream.groupBy("user_id").transformWithStateInPandas(
        _make_processor(),
        "user_id BIGINT, n_events BIGINT, total_value DOUBLE",
        "Update",
        "None",
    )
    sink = f"stream_tws_{abs(hash(sf_dir)) % 10_000_000}"
    with tempfile.TemporaryDirectory() as ckpt:
        # TWS requires the RocksDB state-store provider.
        with state_store_provider(spark, ROCKSDB_PROVIDER):
            with _few_state_partitions(spark):
                (
                    out.writeStream.format("memory")
                    .queryName(sink)
                    .outputMode("update")
                    .option("checkpointLocation", ckpt)
                    .trigger(availableNow=True)
                    .start()
                    .awaitTermination()
                )
        # Update mode re-emits a key whenever a later micro-batch
        # touches it; the running totals grow monotonically, so the
        # final state per key is its max-n_events row.
        from pyspark.sql import Window

        w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
        return (
            spark.table(sink)
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
            .orderBy("user_id")
            .localCheckpoint(eager=True)
        )
