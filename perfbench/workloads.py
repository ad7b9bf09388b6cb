"""The benchmark's workloads and the operations they run.

Every operation goes through a public entry point of the engine: a
registered query from ``plans.registry.queries()``, or the stream
scoring topology ``streaming.pipeline.score_and_upsert_stream`` fed by
``sources.kafka_io.parse_json_messages`` and scored by a model from
``ml.build_linreg_pipeline`` trained on ``sources.happiness`` data.
"""

from __future__ import annotations

import os

# The SQL-analytics tier: scans, joins, exchanges and codegen; almost no
# Python workers or eager checkpoints.
RELATIONAL = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q6_forecast_revenue",
    "range_join_orders_events_7d",
)

# An LLM-data curation operator: Arrow kernels in Python workers and a
# persist / eager checkpoint inside the query function.
CURATION = ("multimodal_bmp_dhash_neardup",)

# A maintained-state streaming row, run beside the stream-scoring drain.
STREAM_ROWS = ("stream_stateful_user_metrics",)

DRAIN = "score_and_upsert_stream"

WORKLOADS = {
    "relational": RELATIONAL,
    "curation_stream": (*CURATION, DRAIN, *STREAM_ROWS),
}

# Stream-scoring message log: every key is sent at least once, the rest
# of the messages repeat keys so the sink takes its UPDATE path too.
MESSAGES = 6_000
MESSAGE_KEYS = 1_500
MICROBATCHES = 2


class StreamLeg:
    """The paper's stream-scoring topology over a file-backed topic."""

    def __init__(self, spark, root: str, topic_dir: str):
        from workshop3_etl_spark.ml import build_linreg_pipeline, with_split_flags
        from workshop3_etl_spark.schema import FEATURES, TARGET
        from workshop3_etl_spark.sources.happiness import clean, load_unified

        fixtures = os.path.join(root, "tests", "fixtures", "happiness")
        paths = {y: os.path.join(fixtures, f"{y}.csv") for y in range(2015, 2020)}
        data = with_split_flags(clean(load_unified(spark, paths)), ["Country", "Year"])
        self.model = build_linreg_pipeline(FEATURES, TARGET).fit(
            data.filter("is_train = 1"))
        self.spark = spark
        self.topic_dir = topic_dir

    def drain(self, db_path: str, checkpoint_dir: str) -> None:
        """Score and upsert the whole topic, one file per micro-batch,
        from the given (fresh) offsets; returns when it is drained."""
        from workshop3_etl_spark.schema import MESSAGE_SCHEMA
        from workshop3_etl_spark.sources.kafka_io import parse_json_messages
        from workshop3_etl_spark.streaming.pipeline import score_and_upsert_stream

        raw = (
            self.spark.readStream.schema("value string")
            .option("maxFilesPerTrigger", 1)
            .text(self.topic_dir)
        )
        query = score_and_upsert_stream(
            parse_json_messages(raw, MESSAGE_SCHEMA), self.model, db_path,
            checkpoint_dir)
        query.awaitTermination()
