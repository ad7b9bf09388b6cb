"""The one runner for every finite (availableNow) stream in the engine.

Each streaming job here drains the input that is available when it
starts and then stops: ``run_available_now`` is that drain, for a
foreachBatch job or a memory sink alike. ``memory_sink`` adds what the
memory-sink queries share: it names the sink, drains into it, hands the
sink table to the caller and drops the table's temp view when the
caller is done, so a finished query keeps no rows on the driver.
The one stream outside this runner is the stream-scoring topology in
streaming/pipeline.py, which returns its query still running so the
caller decides when to wait.
"""

from __future__ import annotations

import uuid
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

# Streaming state-store instances scale with shuffle partitions, and
# each is opened and committed per micro-batch, so these bounded
# streams pin a small fixed count instead of the session's (32 by
# default). A real deployment sizes this to key cardinality x
# executor count.
STATE_PARTITIONS = 8


def run_available_now(
    writer: DataStreamWriter, checkpoint_dir: str
) -> StreamingQuery:
    """Start ``writer`` with ``checkpoint_dir``, drain everything
    available now under ``STATE_PARTITIONS`` shuffle partitions, and
    return the terminated query (its ``recentProgress`` stays
    readable)."""
    # PySpark keeps no public handle on the writer's session; it is
    # the session of the frame the writer was made from.
    spark = writer._spark
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, str(STATE_PARTITIONS))
    try:
        query = (
            writer.option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    finally:
        spark.conf.set(key, old)
    return query


@contextmanager
def memory_sink(
    frame: DataFrame, name: str, output_mode: str, checkpoint_dir: str
) -> Iterator[tuple[DataFrame, StreamingQuery]]:
    """Drain the streaming ``frame`` into a memory sink named after
    ``name`` and yield (sink table, terminated query). The sink's temp
    view is dropped on exit, so the caller must materialize what it
    returns (``localCheckpoint(eager=True)``) inside the block."""
    spark = frame.sparkSession
    sink = f"{name}_{uuid.uuid4().hex}"
    try:
        query = run_available_now(
            frame.writeStream.format("memory")
            .queryName(sink)
            .outputMode(output_mode),
            checkpoint_dir,
        )
        yield spark.table(sink), query
    finally:
        spark.catalog.dropTempView(sink)
