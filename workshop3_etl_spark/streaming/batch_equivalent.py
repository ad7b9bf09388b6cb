"""Streaming queries with batch-verifiable semantics.

The reference's streaming leg (SURVEY §2.9, §3.2-3.3) is a Kafka
producer/consumer pair with at-least-once delivery made effectively-
once by an idempotent upsert. Here the same semantics run as
Structured Streaming micro-batches; these registry entries execute a
REAL streaming query (file source, availableNow trigger, in-memory
sink) whose final state is deterministic and therefore DuckDB-
oracle-checkable — the strongest correctness statement a stream can
make: stream(finite input) == batch(same input).

Kafka itself isn't reachable in this environment; sources/kafka_io.py
builds the identical pipeline against a broker when one exists.

Scale notes: tumbling-window counts with a watermark are the
canonical bounded-state streaming aggregate — state is
O(windows x keys), late data beyond the watermark is dropped, and the
shuffle key is (window, key) so partial aggregation happens before
the exchange, exactly as in batch.
"""

from __future__ import annotations

import tempfile
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from workshop3_etl_spark.plans.registry import register
from workshop3_etl_spark.sources.tables import normalize_event_ts, table_stream
from workshop3_etl_spark.streaming.runner import memory_sink

ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


@contextmanager
def state_store_provider(spark: SparkSession, provider_class: str):
    """Run streaming queries under a specific state-store provider.

    The default HDFSBackedStateStoreProvider holds every store's map
    in JVM heap — fine while state fits in executor memory. At large
    keyspaces / long windows the scale choice is RocksDB
    (``ROCKSDB_PROVIDER``, bundled with Spark): off-heap, disk-backed,
    incremental-checkpointing. The conf is read at query START, so a
    context manager around ``writeStream.start()`` is sufficient;
    tests/test_streaming.py asserts result equivalence across
    providers for the tumbling aggregate.
    """
    key = "spark.sql.streaming.stateStore.providerClass"
    try:
        old = spark.conf.get(key)
    except Exception:
        old = None
    spark.conf.set(key, provider_class)
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


_TUMBLING_ORACLE = """
SELECT
  date_trunc('hour', ts) AS window_start,
  event_type,
  CAST(COUNT(*) AS BIGINT) AS n_events,
  CAST(SUM(CAST(value AS decimal(27,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
ORDER BY window_start, event_type
"""


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events table (nanos ts normalized
    to micros exactly as sources.tables.load_table does)."""
    return normalize_event_ts(table_stream(spark, sf_dir, "events"))


@register("stream_tumbling_hourly_counts", oracle=_TUMBLING_ORACLE)
def stream_tumbling_hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked 1-hour tumbling-window counts, executed as a real
    Structured Streaming query (availableNow → memory sink), then
    returned as the equivalent batch DataFrame.

    With a finite input the watermark closes every window, so the
    result equals the batch GROUP BY date_trunc('hour') — which is
    exactly what the oracle asserts.
    """
    agg = (
        _events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(27,2)")).cast("double")
            .alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    with tempfile.TemporaryDirectory() as ckpt, memory_sink(
        agg, "stream_tumbling", "complete", ckpt
    ) as (rows, _):
        return (
            rows
            .orderBy("window_start", "event_type")
            # materialize before the checkpoint dir vanishes
            .localCheckpoint(eager=True)
        )


_STATEFUL_ORACLE = """
SELECT
  user_id,
  CAST(COUNT(*) AS BIGINT) AS n_events,
  CAST(SUM(CAST(value AS decimal(27,2))) AS DOUBLE) AS total_value,
  CAST(SUM(CAST(value AS decimal(27,2))) AS DOUBLE)
    / CAST(COUNT(*) AS DOUBLE) AS mean_value
FROM events
GROUP BY user_id
ORDER BY user_id
"""


@register("stream_stateful_user_metrics", oracle=_STATEFUL_ORACLE)
def stream_stateful_user_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key running metrics as a streaming stateful aggregate —
    the reference's per-country Welford dict (`kafka/consumer.py:
    123-151,249-255`) re-expressed as an unbounded groupBy in update
    mode. Spark's partial sums reproduce Welford's result exactly
    (SURVEY A12); unlike the reference's process-local dict, state
    here is checkpointed and sharded across executors.
    """
    agg = (
        _events_stream(spark, sf_dir)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(27,2)")).cast("double")
            .alias("total_value"),
            (
                F.sum(F.col("value").cast("decimal(27,2)")).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("mean_value"),
        )
    )
    with tempfile.TemporaryDirectory() as ckpt, memory_sink(
        agg, "stream_stateful", "complete", ckpt
    ) as (rows, _):
        return rows.orderBy("user_id").localCheckpoint(eager=True)


_STREAM_JOIN_ORACLE = """
SELECT
  v.user_id,
  CAST(COUNT(*) AS BIGINT) AS n_view_purchase_pairs
FROM events v
JOIN events p
  ON v.user_id = p.user_id
 AND v.event_type = 'view'
 AND p.event_type = 'purchase'
 AND p.ts >= v.ts
 AND p.ts <= v.ts + INTERVAL 1 HOUR
GROUP BY v.user_id
ORDER BY v.user_id
"""


@register("stream_stream_join_view_purchase", oracle=_STREAM_JOIN_ORACLE)
def stream_stream_join_view_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join: views joined to purchases of the
    same user within the following hour — both sides REAL streams
    with watermarks and a time-range join condition (the state-
    cleanup contract), drained with availableNow and aggregated.

    Scale notes: the join keys on (user_id + time range); each side's
    watermark bounds how long unmatched rows stay in state — without
    the range condition + watermarks a stream-stream join's state is
    unbounded. Batch equivalence on finite input is what the oracle
    asserts.
    """
    views = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
            F.col("event_id").alias("v_id"),
        )
        .withWatermark("v_ts", "2 hours")
    )
    purchases = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("event_id").alias("p_id"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    joined = views.join(
        purchases,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("v_ts"))
        & (F.col("p_ts") <= F.col("v_ts") + F.expr("INTERVAL 1 HOUR")),
        "inner",
    ).select(F.col("v_user").alias("user_id"))

    with tempfile.TemporaryDirectory() as ckpt, memory_sink(
        joined, "stream_join", "append", ckpt
    ) as (rows, _):
        return (
            rows
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_view_purchase_pairs"))
            .orderBy("user_id")
            .localCheckpoint(eager=True)
        )


_SESSION_WINDOW_ORACLE = """
WITH flagged AS (
  SELECT user_id, event_id, ts,
    CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) > 1800000000
         OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
    THEN 1 ELSE 0 END AS new_session
  FROM events
),
sessions AS (
  SELECT user_id, ts,
    SUM(new_session) OVER (
      PARTITION BY user_id ORDER BY ts, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
    ) AS session_id
  FROM flagged
)
SELECT
  user_id,
  MIN(ts) AS session_start,
  CAST(COUNT(*) AS BIGINT) AS n_events
FROM sessions
GROUP BY user_id, session_id
ORDER BY user_id, session_start
"""


@register("stream_session_window_counts", oracle=_SESSION_WINDOW_ORACLE)
def stream_session_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session windows (F.session_window, 30-min gap) as a
    REAL streaming aggregation — the built-in stateful form of the
    batch lag+cumsum sessionizer (operators/windows.
    sessionize_events_30min), whose SQL is exactly the oracle: on
    finite input, merged session windows == gap-based sessions.

    Scale: session-window state merges adjacent windows per key and
    the watermark closes sessions whose gap has provably expired —
    bounded state without a TTL hack.
    """
    agg = (
        _events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(
            F.col("user_id"),
            F.session_window(F.col("ts"), "30 minutes").alias("w"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
        )
    )
    with tempfile.TemporaryDirectory() as ckpt, memory_sink(
        agg, "stream_session", "complete", ckpt
    ) as (rows, _):
        return (
            rows
            .orderBy("user_id", "session_start")
            .localCheckpoint(eager=True)
        )


# --------------------------------------------------------------------
# Streaming exact dedup: dropDuplicates over a keyed state store —
# the streaming leg of the dedup family (a training-data ingest
# pipeline dedups IN FLIGHT, not in a nightly batch).
# --------------------------------------------------------------------

_STREAM_DEDUP_ORACLE = """
SELECT lang, CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
FROM documents
GROUP BY lang
ORDER BY lang
"""


@register("stream_dedup_documents", oracle=_STREAM_DEDUP_ORACLE)
def stream_dedup_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dropDuplicates on (lang, source), then per-lang
    counts of the deduped stream.

    The dedup is a real keyed state-store operator (first-seen wins —
    WHICH row survives is arrival-order-dependent, so only the
    deduplicated KEY SET is surfaced, which is deterministic and
    equals batch COUNT(DISTINCT source) per lang). Unbounded key
    state here; production bounds it with
    ``dropDuplicatesWithinWatermark`` once keys carry event time.
    """
    stream = (
        table_stream(spark, sf_dir, "documents")
        .select("lang", "source")
        .dropDuplicates(["lang", "source"])
    )
    with tempfile.TemporaryDirectory() as ckpt, memory_sink(
        stream, "stream_dedup", "append", ckpt
    ) as (rows, _):
        return (
            rows
            .groupBy("lang")
            .agg(F.count(F.lit(1)).cast("long").alias("n_sources"))
            .orderBy("lang")
            .localCheckpoint(eager=True)
        )


# --------------------------------------------------------------------
# Sliding (hopping) windows: 1-hour windows every 30 minutes — each
# event lands in exactly two windows. The overlap is what tumbling
# can't express; state doubles (O(windows/slide) per key) and the
# watermark still closes windows, so finite input == batch.
# --------------------------------------------------------------------

_US_30MIN = 1_800_000_000

_SLIDING_ORACLE = f"""
WITH x AS (
  SELECT CAST(epoch_us(ts) AS BIGINT)
           - CAST(epoch_us(ts) AS BIGINT) % {_US_30MIN} AS b,
         event_type, value
  FROM events
),
u AS (
  SELECT unnest([b, b - {_US_30MIN}]) AS ws, event_type, value FROM x
)
SELECT
  make_timestamp(ws) AS window_start,
  event_type,
  CAST(COUNT(*) AS BIGINT) AS n_events,
  CAST(SUM(CAST(value AS decimal(27,2))) AS DOUBLE) AS total_value
FROM u
GROUP BY ws, event_type
ORDER BY window_start, event_type
"""


@register("stream_sliding_hourly_30m_counts", oracle=_SLIDING_ORACLE)
def stream_sliding_hourly_30m_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked sliding-window (1h size, 30m slide) counts as a real
    streaming query; every event contributes to exactly two windows.

    The oracle replays the window-assignment arithmetic in integer
    microseconds (each event's 30-minute bucket and the one before
    it), so the equality proven is stream(finite) == batch == explicit
    window algebra — all three agree bit-identically.
    """
    agg = (
        _events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("w"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(27,2)")).cast("double")
            .alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    with tempfile.TemporaryDirectory() as ckpt, memory_sink(
        agg, "stream_sliding", "complete", ckpt
    ) as (rows, _):
        return (
            rows
            .orderBy("window_start", "event_type")
            .localCheckpoint(eager=True)
        )


# --------------------------------------------------------------------
# APPEND output mode: the production sink mode (complete mode re-emits
# the whole result every trigger — a driver/sink memory bound at
# scale). Append emits each window exactly once, when the watermark
# passes its end; with finite input the emitted set is exactly the
# windows whose end <= max(event_time) - delay — which the oracle
# states in SQL. The trailing (still-open) windows are the
# DELIBERATE difference from the complete-mode query above.
# --------------------------------------------------------------------

_APPEND_ORACLE = """
WITH mx AS (SELECT MAX(ts) AS m FROM events)
SELECT
  date_trunc('hour', ts) AS window_start,
  event_type,
  CAST(COUNT(*) AS BIGINT) AS n_events,
  CAST(SUM(CAST(value AS decimal(27,2))) AS DOUBLE) AS total_value
FROM events CROSS JOIN mx
WHERE date_trunc('hour', ts) + INTERVAL 2 HOUR <= mx.m
GROUP BY 1, 2
ORDER BY window_start, event_type
"""


@register("stream_append_closed_windows", oracle=_APPEND_ORACLE)
def stream_append_closed_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling aggregate in APPEND mode: only windows the
    1-hour watermark has closed are emitted (exactly once each).

    The oracle encodes the close rule — window_end (= start + 1h)
    <= max event time - 1h delay — so the check verifies Spark's
    watermark/finalization semantics themselves, not just the
    arithmetic. State for emitted windows is evicted, which is why
    append + watermark is the unbounded-runtime configuration.
    """
    agg = (
        _events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(27,2)")).cast("double")
            .alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    with tempfile.TemporaryDirectory() as ckpt, memory_sink(
        agg, "stream_append", "append", ckpt
    ) as (rows, _):
        return (
            rows
            .orderBy("window_start", "event_type")
            .localCheckpoint(eager=True)
        )


# --------------------------------------------------------------------
# foreachBatch decayed counters, run as a REAL streaming job and
# hash-compared against the closed-form batch SQL. The state is the
# rollup's day-granular integer counts (streaming/rollup.py); the
# decay is applied at read time with the batch query's own per-day
# dyadic weights, so the streaming answer equals the batch query
# bit-for-bit at any state age — a stronger claim than
# "approximately converges". The multi-micro-batch aging path is
# separately pinned by tests/test_incremental_rollup.py.
# --------------------------------------------------------------------


from workshop3_etl_spark.operators.timeseries import _POP_ORACLE


@register("stream_decayed_counters", oracle=_POP_ORACLE)
def stream_decayed_counters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decayed per-event-type popularity counters read from the
    day-granular state the rollup's foreachBatch job maintains
    (streaming/rollup.ROLLUP, decayed by read_decayed_counters).

    Same oracle as ts_decayed_popularity: the streaming maintenance
    must land on the batch answer exactly.
    """
    from workshop3_etl_spark.streaming.rollup import (
        ROLLUP,
        read_decayed_counters,
    )

    with tempfile.TemporaryDirectory() as workdir:
        state = f"{workdir}/counters"
        ROLLUP.maintain(_events_stream(spark, sf_dir), state, f"{workdir}/ck")
        # materialize before the state dir vanishes
        return read_decayed_counters(spark, state).localCheckpoint(
            eager=True
        )


# --------------------------------------------------------------------
# Ingest-time dedup (streaming/ingest_dedup.py) run as a real
# foreachBatch job and hash-compared against the batch semantics:
# admitted = exact-fingerprint keepers, flagged = LSH candidate pairs
# among keepers. The multi-batch arrival-order story (re-ingestion
# rejection, index probing, replay idempotence) is pinned by
# tests/test_streaming_ingest_dedup.py; this query proves the
# composed job lands on the batch answer inside the driver's gate.
# --------------------------------------------------------------------


def _ingest_dedup_oracle() -> str:
    from workshop3_etl_spark.operators.dedup import _minhash_pairs_cte

    return f"""
WITH fp AS (
  SELECT doc_id,
         md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS f
  FROM documents
),
keepers AS (
  SELECT MIN(doc_id) AS doc_id FROM fp GROUP BY f
),
kept AS (
  SELECT d.doc_id, d.text
  FROM documents d JOIN keepers k ON d.doc_id = k.doc_id
),
{_minhash_pairs_cte(src="kept")}
SELECT
  (SELECT CAST(COUNT(*) AS BIGINT) FROM documents) AS n_docs_seen,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM keepers) AS n_admitted,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM documents)
    - (SELECT CAST(COUNT(*) AS BIGINT) FROM keepers) AS n_rejected_exact,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM pairs) AS n_flagged_pairs
"""


@register("stream_ingest_dedup", oracle=_ingest_dedup_oracle())
def stream_ingest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Admission/rejection/flag summary after streaming the document
    corpus through the ingest-dedup foreachBatch job."""
    from workshop3_etl_spark.sources.tables import load_table
    from workshop3_etl_spark.streaming.ingest_dedup import (
        maintain_ingest_dedup,
        read_admitted_ids,
        read_audit_pairs,
    )

    stream = table_stream(spark, sf_dir, "documents")
    n_seen = load_table(spark, sf_dir, "documents").count()
    with tempfile.TemporaryDirectory() as workdir:
        maintain_ingest_dedup(
            spark,
            stream,
            f"{workdir}/index",
            f"{workdir}/audit",
            f"{workdir}/ck",
        )
        n_admitted = read_admitted_ids(spark, f"{workdir}/index").count()
        n_pairs = read_audit_pairs(spark, f"{workdir}/audit").count()
    return spark.createDataFrame(
        [(n_seen, n_admitted, n_seen - n_admitted, n_pairs)],
        "n_docs_seen long, n_admitted long, n_rejected_exact long,"
        " n_flagged_pairs long",
    )


# --------------------------------------------------------------------
# Watermark-bounded streaming dedup: dropDuplicatesWithinWatermark.
# The production form of streaming dedup — plain dropDuplicates keeps
# EVERY key in the state store forever (unbounded at 100 TB/day);
# the within-watermark variant evicts a key's state once the
# watermark passes its event time, so state is bounded by the
# watermark horizon's key arrival rate. The trade: a duplicate
# arriving later than the horizon is re-admitted — the documented
# contract, not a bug (exact-forever dedup at scale is the
# fingerprint-index job, streaming/ingest_dedup.py).
# --------------------------------------------------------------------

_DEDUP_WW_ORACLE = """
SELECT event_type,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_distinct_users
FROM events
GROUP BY event_type
ORDER BY event_type
"""


@register("stream_dedup_within_watermark", oracle=_DEDUP_WW_ORACLE)
def stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup on (user_id, event_type) with watermark-bounded
    state (dropDuplicatesWithinWatermark), then per-type distinct-user
    counts of the deduped stream.

    WHICH duplicate row survives is arrival-order-dependent, so only
    the deduplicated KEY SET is surfaced (deterministic). The finite
    availableNow input arrives inside one watermark horizon, so no
    key is evicted mid-stream and the key set equals batch
    COUNT(DISTINCT user_id) per event_type — what the oracle asserts.
    """
    deduped = (
        _events_stream(spark, sf_dir)
        .select("ts", "user_id", "event_type")
        # Horizon must cover the full finite input span (30 days of
        # events) so no key state is evicted mid-stream and the key
        # set provably equals batch DISTINCT even if the source ever
        # delivers multiple micro-batches. In production the horizon
        # IS the dedup window (state bound), chosen by SLA not span.
        .withWatermark("ts", "31 days")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
    )
    with tempfile.TemporaryDirectory() as ckpt, memory_sink(
        deduped, "stream_dedup_ww", "append", ckpt
    ) as (rows, _):
        return (
            rows
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).cast("long").alias("n_distinct_users"))
            .orderBy("event_type")
            .localCheckpoint(eager=True)
        )


# --------------------------------------------------------------------
# Incrementally-maintained count-min sketch (streaming/rollup.py
# CMS) probed for heavy-hitter users and hash-compared
# against the batch-built sketch: CMS partials merge by elementwise
# sum, so the streaming state must equal the batch grid EXACTLY for
# any micro-batch split — an integer-additive claim, not an
# approximation claim. The exact counts ride along purely as
# verification columns (the sketch path never needs them; at 100 TB
# the candidate set comes from a sample or the previous window).
# --------------------------------------------------------------------


def _stream_cms_oracle() -> str:
    from workshop3_etl_spark.operators.sketches import (
        CMS_D,
        cms_bucket_sql,
    )

    pairs = "\nUNION ALL\n".join(
        f"  SELECT {i} AS i, {cms_bucket_sql('user_id', i)} AS bucket"
        " FROM events"
        for i in range(CMS_D)
    )
    cand_pairs = "\nUNION ALL\n".join(
        f"  SELECT user_id, exact_cnt, {i} AS i,"
        f" {cms_bucket_sql('user_id', i)} AS bucket FROM cand"
        for i in range(CMS_D)
    )
    return f"""
WITH pairs AS (
{pairs}
),
sketch AS (
  SELECT i, bucket, CAST(COUNT(*) AS BIGINT) AS c
  FROM pairs GROUP BY 1, 2
),
cand AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS exact_cnt
  FROM events GROUP BY 1
  ORDER BY exact_cnt DESC, user_id
  LIMIT 10
),
cp AS (
{cand_pairs}
)
SELECT
  cp.user_id,
  cp.exact_cnt,
  CAST(MIN(s.c) AS BIGINT) AS cms_estimate,
  MIN(s.c) >= cp.exact_cnt AS overestimate_ok
FROM cp JOIN sketch s ON s.i = cp.i AND s.bucket = cp.bucket
GROUP BY cp.user_id, cp.exact_cnt
ORDER BY exact_cnt DESC, user_id
"""


@register("stream_cms_heavy_hitters", oracle=_stream_cms_oracle())
def stream_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter users probed from the CMS state maintained by the
    foreachBatch job (streaming/rollup.CMS), verified against
    exact ride-along counts. The multi-epoch merge, replay, and
    compaction story is pinned by tests/test_incremental_rollup.py;
    this query proves the composed job lands on the batch-built
    sketch inside the driver's gate."""
    from workshop3_etl_spark.operators.sketches import (
        CMS_D,
        cms_bucket_sql,
    )
    from workshop3_etl_spark.sources.tables import load_table
    from workshop3_etl_spark.streaming.rollup import CMS

    with tempfile.TemporaryDirectory() as workdir:
        state = f"{workdir}/cms"
        CMS.maintain(_events_stream(spark, sf_dir), state, f"{workdir}/ck")
        sketch = CMS.read(spark, state)
        stack_args = ", ".join(
            f"{i}, {cms_bucket_sql('user_id', i)}" for i in range(CMS_D)
        )
        cand = (
            load_table(spark, sf_dir, "events")
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).cast("long").alias("exact_cnt"))
            .orderBy(F.desc("exact_cnt"), "user_id")
            .limit(10)
        )
        cp = cand.select(
            "user_id",
            "exact_cnt",
            F.expr(f"stack({CMS_D}, {stack_args}) AS (i, bucket)"),
        ).select("user_id", "exact_cnt", "i", "bucket")
        result = (
            cp.join(F.broadcast(sketch), ["i", "bucket"])
            .groupBy("user_id", "exact_cnt")
            .agg(F.min("c").cast("long").alias("cms_estimate"))
            .select(
                "user_id",
                "exact_cnt",
                "cms_estimate",
                (F.col("cms_estimate") >= F.col("exact_cnt")).alias(
                    "overestimate_ok"
                ),
            )
            .orderBy(F.desc("exact_cnt"), "user_id")
        )
        # materialize before the state dir vanishes
        return result.localCheckpoint(eager=True)


# --------------------------------------------------------------------
# Incrementally-maintained HyperLogLog (streaming/rollup.py
# HLL) summarized as the one-row register report and
# hash-compared against the batch-built registers. The merge identity
# here is per-bucket MAX — associative like the CMS sum but also
# IDEMPOTENT, so the streaming state equals the batch registers for
# any micro-batch split AND under duplicated delivery; the oracle
# claim is bit-exact equality of every integer (and of the estimate,
# which divides exact integers under one literal expression tree).
# --------------------------------------------------------------------


def _stream_hll_oracle() -> str:
    from workshop3_etl_spark.operators.sketches import hll_register_oracle

    return hll_register_oracle("events", "user_id")


@register("stream_hll_distinct_users", oracle=_stream_hll_oracle())
def stream_hll_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-user HLL summary probed from the register state
    maintained by the foreachBatch job (streaming/rollup.HLL),
    next to the exact count: the streaming counterpart of
    sketch_hll_registers_custkeys, sharing its register arithmetic
    (operators/sketches.hll_register_partial) and oracle verbatim.

    The multi-epoch merge, duplicated-delivery idempotence, and
    compaction story is pinned by tests/test_incremental_rollup.py;
    this query proves the composed job lands on the batch registers
    inside the driver's gate. State is <=256 rows per epoch at ANY
    key cardinality — the reason registers beat exact distinct at
    100 TB (exact COUNT(DISTINCT) shuffles every key; this shuffles
    256 integers per partition)."""
    from workshop3_etl_spark.operators.sketches import hll_summary
    from workshop3_etl_spark.sources.tables import load_table
    from workshop3_etl_spark.streaming.rollup import HLL

    with tempfile.TemporaryDirectory() as workdir:
        state = f"{workdir}/hll"
        HLL.maintain(_events_stream(spark, sf_dir), state, f"{workdir}/ck")
        regs = HLL.read(spark, state)
        ex = load_table(spark, sf_dir, "events").agg(
            F.countDistinct("user_id").cast("long").alias("exact_distinct")
        )
        # materialize before the state dir vanishes
        return hll_summary(regs, ex).localCheckpoint(eager=True)


# --------------------------------------------------------------------
# Incrementally-trained OLS (streaming/rollup.py OLS): the
# model's 6-integer sufficient statistic maintained per micro-batch
# and solved in closed form from the merged sums — "retrain after new
# data" without rescanning the stream. The integer sums are the
# bit-exact claim; slope/intercept are one literal IEEE expression
# tree over them (exact doubles at validation SFs: every sum < 2^53).
# --------------------------------------------------------------------


def _stream_ols_oracle() -> str:
    from workshop3_etl_spark.operators.stats import _cents
    from workshop3_etl_spark.streaming.rollup import OLS_BASE_HOUR

    return f"""
WITH xy AS (
  SELECT epoch_us(ts) // 3600000000 - {OLS_BASE_HOUR} AS x,
         {_cents('value')} AS y
  FROM events
),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(y * y) AS BIGINT) AS syy
  FROM xy
)
SELECT n, sx, sy, sxx, sxy, syy,
       (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS slope_cents_per_hour,
       (CAST(sy AS DOUBLE)
        - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
           - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
          / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
          * CAST(sx AS DOUBLE))
       / CAST(n AS DOUBLE) AS intercept_cents
FROM s
"""


@register("stream_ols_incremental", oracle=_stream_ols_oracle())
def stream_ols_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly value-trend OLS (value cents ~ hour index) solved from
    the sufficient statistics maintained by the foreachBatch job
    (streaming/rollup.OLS), verified against the batch
    closed form: the streaming-model-training shape — each new
    micro-batch adds one 6-integer partial row, and refreshing the
    model is a sum over O(#epochs) rows plus literal arithmetic,
    never a rescan of the fact stream. The multi-epoch merge, replay
    and compaction story is pinned by tests/test_incremental_rollup;
    this query proves the composed job lands on the batch statistics
    inside the driver's gate."""
    from workshop3_etl_spark.streaming.rollup import OLS

    with tempfile.TemporaryDirectory() as workdir:
        state = f"{workdir}/ols"
        OLS.maintain(_events_stream(spark, sf_dir), state, f"{workdir}/ck")
        s = OLS.read(spark, state)
        nd = F.col("n").cast("double")
        sxd, syd = F.col("sx").cast("double"), F.col("sy").cast("double")
        sxxd, sxyd = F.col("sxx").cast("double"), F.col("sxy").cast("double")
        slope = (nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd)
        result = s.select(
            "n",
            "sx",
            "sy",
            "sxx",
            "sxy",
            "syy",
            slope.alias("slope_cents_per_hour"),
            ((syd - slope * sxd) / nd).alias("intercept_cents"),
        )
        # materialize before the state dir vanishes
        return result.localCheckpoint(eager=True)


# --------------------------------------------------------------------
# Late-data accounting under a real watermark: a three-batch feed
# (bulk, on-time continuation, late REPLAY of old rows) driven
# through an append-mode windowed aggregation, with the outcome
# reconciled against the closed-form event-time arithmetic.
# --------------------------------------------------------------------


_LATE_METRICS_ORACLE = """
WITH b AS (SELECT MAX(ts) - INTERVAL 1 HOUR AS wm FROM events),
m AS (SELECT ts, date_trunc('hour', ts) + INTERVAL 1 HOUR AS wend,
             dayofmonth(date_trunc('day', ts)) AS d
      FROM events)
SELECT
  (SELECT CAST(COUNT(*) FILTER (d <= 20) + COUNT(*) FILTER (d > 20 AND d <= 25)
       + COUNT(*) FILTER (d > 25 OR d = 2) AS BIGINT) FROM m) AS n_input,
  (SELECT CAST(COUNT(DISTINCT wend) AS BIGINT) FROM m, b WHERE wend <= wm)
    AS n_sink_windows,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM m, b WHERE wend <= wm)
    AS n_sink_events,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM m, b WHERE wend > wm)
    AS n_open_events,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM m WHERE d = 2) AS n_late_replayed,
  TRUE AS late_drops_observed
"""


@register("stream_late_data_metrics", oracle=_LATE_METRICS_ORACLE)
def stream_late_data_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark late-data accounting, proven against closed-form
    event-time arithmetic: the feed replays day-2 events two batches
    after their windows closed (an at-least-once upstream), and the
    append-mode hourly aggregation must (a) emit every window whose
    end <= final watermark exactly once, (b) admit each original
    event exactly once, (c) DROP every replayed late row, and (d)
    record the drops in numRowsDroppedByWatermark.

    Drop-metric semantics pinned by experiment (and why the oracle
    treats it as a boolean): eviction of a window's state happens at
    the end of the first batch RUNNING with watermark > window end
    (watermark visibility lags one batch), so late rows are
    state-dropped only when they arrive >= 2 batches after close —
    the three-batch layout guarantees it. The counter counts
    POST-partial-aggregation state rows, not raw events, so its
    magnitude depends on scan partitioning — an environment-sensitive
    value that must NOT be hash-gated (the dq_table_checksums
    lesson); the deterministic row counts are reconciled exactly
    instead, which together pin the same contract.

    File order is pinned with explicit mtimes — the file stream
    source lists by modification time, and same-tick writes would
    otherwise make batch composition racy."""
    import os

    from workshop3_etl_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type"
    )
    day = F.dayofmonth(F.date_trunc("day", "ts"))
    with tempfile.TemporaryDirectory() as root:
        src = f"{root}/src"
        ev.filter(day <= 20).repartition(1).write.parquet(f"{src}/p1")
        ev.filter((day > 20) & (day <= 25)).repartition(1).write.parquet(
            f"{src}/p2"
        )
        ev.filter((day > 25) | (day == 2)).repartition(1).write.parquet(
            f"{src}/p3"
        )
        for i, p in enumerate(("p1", "p2", "p3")):
            d = f"{src}/{p}"
            for name in os.listdir(d):
                os.utime(f"{d}/{name}", (1000 + i * 100, 1000 + i * 100))
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", "1")
            .option("recursiveFileLookup", "true")
            .parquet(src)
        )
        agg = (
            stream.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
        )
        with memory_sink(agg, "stream_late", "append", f"{root}/ck") as (
            rows,
            q,
        ):
            s = rows.agg(
                F.count(F.lit(1)).cast("long").alias("w"),
                F.sum("n").cast("long").alias("e"),
            ).collect()[0]
        import json

        n_dropped = 0
        for p in q.recentProgress:
            d = json.loads(p) if isinstance(p, str) else json.loads(p.json)
            for so in d.get("stateOperators", []):
                n_dropped += so.get("numRowsDroppedByWatermark", 0) or 0
        n_input = ev.filter(day <= 20).count() + ev.filter(
            (day > 20) & (day <= 25)
        ).count() + ev.filter((day > 25) | (day == 2)).count()
        n_total = ev.count()
        n_late = ev.filter(day == 2).count()
        return spark.createDataFrame(
            [
                (
                    int(n_input),
                    int(s["w"]),
                    int(s["e"]),
                    int(n_total - s["e"]),
                    int(n_late),
                    bool(n_dropped > 0),
                )
            ],
            "n_input long, n_sink_windows long, n_sink_events long,"
            " n_open_events long, n_late_replayed long,"
            " late_drops_observed boolean",
        )


# --------------------------------------------------------------------
# Incrementally-maintained quantile service (streaming/rollup.py
# HISTOGRAM): the fixed-grid histogram is the mergeable
# quantile state — per-bin integer sums, so the streaming state
# equals the batch-built histogram EXACTLY for any micro-batch split,
# and a probe needs only the domain-bounded bin frame. The p-quantile
# bracket is the first bin whose running count reaches ceil(p*n/100);
# every step is integer arithmetic shared with the oracle, so the
# whole service — state AND probe — is hash-checked, with the bracket
# width (HIST_BIN_CENTS) as the explicit error bound.
# --------------------------------------------------------------------

_HIST_PCTS = (50, 90, 99)


def _stream_hist_oracle() -> str:
    from workshop3_etl_spark.streaming.rollup import (
        HIST_BIN_CENTS,
        hist_bin_sql,
    )

    w = HIST_BIN_CENTS
    pcts = ", ".join(f"({p})" for p in _HIST_PCTS)
    return f"""
WITH h AS (
  SELECT {hist_bin_sql("value")} AS bin,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1
),
c AS (
  SELECT bin, CAST(SUM(cnt) OVER (ORDER BY bin) AS BIGINT) AS cum FROM h
),
n AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM h),
p AS (SELECT pct FROM (VALUES {pcts}) t(pct)),
t AS (SELECT p.pct, (p.pct * n.n + 99) // 100 AS target, n.n FROM p, n),
b AS (
  SELECT t.pct, t.n, t.target, MIN(c.bin) AS bin
  FROM t JOIN c ON c.cum >= t.target
  GROUP BY 1, 2, 3
)
SELECT CAST(pct AS INTEGER) AS pct,
       CAST(n AS BIGINT) AS n_rows,
       CAST(target AS BIGINT) AS target_rank,
       CAST(bin AS BIGINT) AS bin,
       CAST(bin * {w} AS BIGINT) AS lo_cents,
       CAST((bin + 1) * {w} AS BIGINT) AS hi_cents
FROM b
ORDER BY pct
"""


@register("stream_histogram_quantiles", oracle=_stream_hist_oracle())
def stream_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p50/p90/p99 brackets of the event value served from the
    histogram state maintained by the foreachBatch job
    (streaming/rollup.HISTOGRAM): per percentile the rank
    target, the bracketing bin, and its [lo, hi) cents bounds. The
    multi-epoch merge, replay, and compaction story is pinned by
    tests/test_incremental_rollup.py; this query proves the composed
    job lands on the batch histogram inside the driver's gate.

    The probe touches only the merged bin frame (domain-bounded, here
    ~200 rows): its running count rides the bin spine — the one
    global-ordered state, scale-independent — and the 3-row percent
    frame joins against it broadcast."""
    from pyspark.sql import Window

    from workshop3_etl_spark.streaming.rollup import (
        HISTOGRAM,
        HIST_BIN_CENTS,
    )

    with tempfile.TemporaryDirectory() as workdir:
        state = f"{workdir}/hist"
        HISTOGRAM.maintain(
            _events_stream(spark, sf_dir), state, f"{workdir}/ck"
        )
        bins = HISTOGRAM.read(spark, state)
        spine = Window.orderBy("bin").rowsBetween(
            Window.unboundedPreceding, 0
        )
        cum = bins.select(
            "bin", F.sum("cnt").over(spine).cast("long").alias("cum")
        )
        n1 = bins.agg(F.sum("cnt").cast("long").alias("n"))
        targets = (
            spark.createDataFrame(
                [(p,) for p in _HIST_PCTS], "pct int"
            )
            .crossJoin(F.broadcast(n1))
            .selectExpr(
                "pct", "n", f"(pct * n + 99) div 100 as target"
            )
        )
        from workshop3_etl_spark.functions.ranks import cum_crossing

        result = (
            cum_crossing(
                cum, targets, "bin", "cum", ("pct", "n", "target")
            )
            .select(
                "pct",
                F.col("n").alias("n_rows"),
                F.col("target").alias("target_rank"),
                F.col("bin").cast("long").alias("bin"),
                (F.col("bin") * F.lit(HIST_BIN_CENTS))
                .cast("long")
                .alias("lo_cents"),
                ((F.col("bin") + F.lit(1)) * F.lit(HIST_BIN_CENTS))
                .cast("long")
                .alias("hi_cents"),
            )
            .orderBy("pct")
        )
        # materialize before the state dir vanishes
        return result.localCheckpoint(eager=True)


# --------------------------------------------------------------------
# Materialized-view rewrite consistency: a MONTHLY revenue question
# answered FROM the incrementally-maintained DAILY rollup (the MV),
# hash-compared against computing the month directly from raw events.
# This is the contract that makes MV query rewrite legal at all —
# re-aggregating a coarser grain from the maintained finer grain must
# equal the direct aggregate — and it holds here by integer-sum
# re-association: the rollup's day cells are exact bigint
# (count, cents) pairs, so summing days into months loses nothing.
# At 100 TB the rewrite reads days x types rows instead of the event
# stream — the whole point of maintaining the rollup.
# --------------------------------------------------------------------

_MV_MONTHLY_ORACLE = """
SELECT CAST(date_trunc('month', ts) AS DATE) AS month,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(CAST(value AS DECIMAL(18, 2)) * 100 AS BIGINT))
            AS BIGINT) AS value_cents
FROM events
GROUP BY 1, 2
ORDER BY month, event_type
"""


@register("mv_monthly_from_daily_rollup", oracle=_MV_MONTHLY_ORACLE)
def mv_monthly_from_daily_rollup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Monthly event counts and value cents per type, answered from
    the DAILY rollup maintained by the foreachBatch job
    (streaming/rollup.ROLLUP) — the materialized-view
    rewrite, proven against the direct monthly aggregate over raw
    events. The probe touches only the day x type rollup frame; the
    maintenance job's replay/compaction story is pinned by
    tests/test_incremental_rollup.py."""
    from workshop3_etl_spark.streaming.rollup import ROLLUP

    with tempfile.TemporaryDirectory() as workdir:
        state = f"{workdir}/rollup"
        ROLLUP.maintain(_events_stream(spark, sf_dir), state, f"{workdir}/ck")
        mv = ROLLUP.read(spark, state)
        result = (
            mv.groupBy(
                F.trunc("day", "month").alias("month"), "event_type"
            )
            .agg(
                F.sum("n_events").cast("long").alias("n_events"),
                F.sum("value_cents").cast("long").alias("value_cents"),
            )
            .orderBy("month", "event_type")
        )
        # materialize before the state dir vanishes
        return result.localCheckpoint(eager=True)


# --------------------------------------------------------------------
# State Data Source (Spark 4): the streaming state store read
# OFFLINE as a DataFrame — the debugging/auditing surface for
# production streams ("what exactly is this job holding?"). The
# query below proves the surface end-to-end: run the tumbling-count
# aggregate, then read its checkpoint's state store with
# spark.read.format("statestore") and show the state IS the answer —
# hash-equal to the batch GROUP BY the stream is equivalent to. At
# scale this is how an operator inspects skewed/leaking state
# without touching the running query.
# --------------------------------------------------------------------

_STATE_INSPECT_ORACLE = """
SELECT
  date_trunc('hour', ts) AS window_start,
  event_type,
  CAST(COUNT(*) AS BIGINT) AS n_events
FROM events
GROUP BY 1, 2
ORDER BY window_start, event_type
"""


@register("stream_state_store_inspect", oracle=_STATE_INSPECT_ORACLE)
def stream_state_store_inspect(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The tumbling-count job's state store, read offline through the
    Spark 4 State Data Source and projected to (window_start,
    event_type, n_events) — proven hash-equal to the batch aggregate.
    With a finite input and complete mode, every window's state row
    is the final count, so the offline state read IS the query
    answer; on a live stream the same read diagnoses state size and
    skew per key without stopping the job.
    """
    agg = (
        _events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    with tempfile.TemporaryDirectory() as ckpt, memory_sink(
        agg, "state_inspect", "complete", ckpt
    ) as (rows, _):
        state = spark.read.format("statestore").load(ckpt)
        result = (
            state.select(
                F.col("key.window.start").alias("window_start"),
                F.col("key.event_type").alias("event_type"),
                F.col("value.count").cast("long").alias("n_events"),
            )
            .orderBy("window_start", "event_type")
        )
        # materialize before the checkpoint dir vanishes
        return result.localCheckpoint(eager=True)


# --------------------------------------------------------------------
# Stream-stream LEFT OUTER join — the semantics the inner interval
# join above cannot give: views with NO purchase in the following
# hour must still surface, null-extended, which in a stream requires
# state EXPIRY (the null row can only be emitted once the watermark
# proves no match can arrive). Oracle-ability design: null emission
# happens at watermark-driven eviction, whose exact boundary batch
# SQL should not have to reproduce — so the query surfaces only
# PROVABLY-CLOSED views (v_ts a full hour below the final watermark's
# join-window cutoff: v_ts < max(ts) - 2h delay - 1h window - 1h
# slack). Inside that region every unmatched view is guaranteed
# emitted (its state expired at the latest by the final no-data
# batch) regardless of the engine's strict-vs-non-strict eviction
# boundary; the boundary rows the engines could disagree on are
# filtered out by restricting the VIEW leg to the closed region
# (purchases need no filter of their own: a kept view only ever
# joins purchases within its 1h window, which the closed region
# bounds). The stream_append_closed_windows closed-region
# contract, applied to outer-join state.
# --------------------------------------------------------------------

_LOJ_ORACLE = """
WITH mx AS (SELECT MAX(ts) AS mts FROM events),
v AS (
  SELECT user_id, ts, event_id FROM events, mx
  WHERE event_type = 'view' AND ts < mts - INTERVAL 4 HOUR
),
p AS (
  SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'
),
lj AS (
  SELECT v.user_id, v.event_id AS v_id, p.event_id AS p_id
  FROM v LEFT JOIN p
    ON v.user_id = p.user_id
   AND p.ts >= v.ts
   AND p.ts <= v.ts + INTERVAL 1 HOUR
)
SELECT user_id,
       CAST(COUNT(p_id) AS BIGINT) AS n_matched_pairs,
       CAST(COUNT(DISTINCT CASE WHEN p_id IS NULL THEN v_id END)
            AS BIGINT) AS n_unmatched_views,
       CAST(COUNT(DISTINCT v_id) AS BIGINT) AS n_closed_views
FROM lj
GROUP BY user_id
ORDER BY user_id
"""


@register("stream_stream_left_outer_join_closed", oracle=_LOJ_ORACLE)
def stream_stream_left_outer_join_closed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER interval join (views
    null-extended when no purchase follows within the hour), drained
    with availableNow and aggregated per user over the provably-
    closed region. See the design comment above for why the closed-
    region filter (v_ts < max(ts) - 4h, applied to the VIEW leg only
    — purchases are implicitly bounded by the 1h join window off
    each kept view) makes watermark-expiry null emission
    batch-oracle-able.

    Scale notes: identical state story to the inner variant — the
    range condition + watermarks bound each side's state; the outer
    semantics add only the expiry-time null emission, no extra state.
    """
    views = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
            F.col("event_id").alias("v_id"),
        )
        .withWatermark("v_ts", "2 hours")
    )
    purchases = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("event_id").alias("p_id"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    joined = views.join(
        purchases,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("v_ts"))
        & (F.col("p_ts") <= F.col("v_ts") + F.expr("INTERVAL 1 HOUR")),
        "left_outer",
    ).select("v_user", "v_ts", "v_id", "p_id")

    with tempfile.TemporaryDirectory() as ckpt, memory_sink(
        joined, "stream_loj", "append", ckpt
    ) as (rows, _):
        # closed-region cutoff from the STATIC table (deterministic)
        from workshop3_etl_spark.sources.tables import load_table

        max_ts = (
            load_table(spark, sf_dir, "events")
            .agg(F.max("ts").alias("m"))
            .first()["m"]
        )
        result = (
            rows
            .filter(
                F.col("v_ts")
                < F.lit(max_ts) - F.expr("INTERVAL 4 HOUR")
            )
            .groupBy(F.col("v_user").alias("user_id"))
            .agg(
                F.count("p_id").cast("long").alias("n_matched_pairs"),
                F.count_distinct(
                    F.when(F.col("p_id").isNull(), F.col("v_id"))
                ).cast("long").alias("n_unmatched_views"),
                F.count_distinct("v_id").cast("long")
                .alias("n_closed_views"),
            )
            .orderBy("user_id")
        )
        return result.localCheckpoint(eager=True)


# --------------------------------------------------------------------
# Streaming quantizer refresh (streaming/rollup.QUANTIZER):
# the k-means UPDATE step's per-(cell, dim) grid sums maintained per
# micro-batch under the FROZEN production quantizer, then one
# floor-div pass over the K*D state rows refreshes the centroids —
# one Lloyd step over everything the stream has seen, without
# rescanning it. See rollup.py for why THIS (and not mini-batch
# k-means, which is batch-split-dependent) is the associatively-
# maintainable form.
# --------------------------------------------------------------------


def _quantizer_refresh_oracle() -> str:
    from workshop3_etl_spark.operators.similarity import (
        _dot_duck,
        _ivf_cells_values_sql,
    )
    from workshop3_etl_spark.streaming.rollup import _QUANT_GRID

    return f"""
WITH cells AS (
  SELECT * FROM (VALUES
    {_ivf_cells_values_sql()}
  ) AS t(cell, centroid, cc)
),
v AS (
  SELECT vec_id, embedding AS ev FROM embeddings
  WHERE len(embedding) = 64
),
asg AS (
  SELECT vec_id, ev, cell FROM (
    SELECT v.vec_id, v.ev, cells.cell,
           ROW_NUMBER() OVER (
             PARTITION BY v.vec_id
             ORDER BY cells.cc - 2 * {_dot_duck('v.ev', 'cells.centroid')},
                      cells.cell) AS rn
    FROM v CROSS JOIN cells
  ) WHERE rn = 1
),
dims AS (SELECT CAST(unnest(range(1, 65)) AS INT) AS dim),
gl AS (
  SELECT a.cell, d.dim,
         CAST(FLOOR(CAST(a.ev[d.dim] AS DOUBLE) * {_QUANT_GRID}.0)
              AS BIGINT) AS val
  FROM asg a, dims d
),
u AS (
  SELECT cell, dim, CAST(SUM(val) AS BIGINT) AS sg,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM gl GROUP BY cell, dim
),
spine AS (
  SELECT c.cell, d.dim,
         CAST(FLOOR(CAST(c.centroid[d.dim] AS DOUBLE) * {_QUANT_GRID}.0)
              AS BIGINT) AS fg
  FROM cells c, dims d
)
SELECT s.cell, s.dim,
       COALESCE(CAST(FLOOR(CAST(u.sg AS DOUBLE) / CAST(u.n AS DOUBLE))
                     AS BIGINT), s.fg) AS centroid_grid,
       CAST(COALESCE(u.n, 0) AS BIGINT) AS n_members
FROM spine s LEFT JOIN u USING (cell, dim)
ORDER BY cell, dim
"""


@register(
    "stream_kmeans_quantizer_refresh", oracle=_quantizer_refresh_oracle()
)
def stream_kmeans_quantizer_refresh(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Refreshed quantizer centroids from the streaming-maintained
    grid sums: (cell, dim, centroid_grid, n_members) — empty cells
    keep the frozen centroid's grid coordinates at n_members = 0.
    Batch equivalence (what the oracle asserts): the maintained state
    is a per-(cell, dim) integer sum, associative under ANY
    micro-batch split, so the refreshed centroids equal the one-shot
    batch Lloyd update over the full corpus."""
    import math

    from workshop3_etl_spark.operators.ivf_centroids import IVF_CENTROIDS
    from workshop3_etl_spark.streaming.rollup import (
        QUANTIZER,
        _QUANT_GRID,
    )

    with tempfile.TemporaryDirectory() as workdir:
        state = f"{workdir}/quant"
        QUANTIZER.maintain(
            table_stream(spark, sf_dir, "embeddings"), state, f"{workdir}/ck"
        )
        spine = spark.createDataFrame(
            [
                (k, d + 1, math.floor(c[d] * float(_QUANT_GRID)))
                for k, c in enumerate(IVF_CENTROIDS)
                for d in range(64)
            ],
            "cell int, dim int, fg long",
        )
        merged = QUANTIZER.read(spark, state)
        result = (
            spine.join(F.broadcast(merged), ["cell", "dim"], "left")
            .selectExpr(
                "cell",
                "dim",
                "coalesce(cast(floor(cast(sg as double)"
                " / cast(n as double)) as bigint), fg) as centroid_grid",
                "coalesce(n, 0L) as n_members",
            )
            .orderBy("cell", "dim")
        )
        # materialize before the state dir vanishes
        return result.localCheckpoint(eager=True)


# Drift monitor on top of the refresh: per-cell squared grid distance
# between the refreshed centroid and the shipped (frozen) one — the
# "when to retrain the quantizer" signal. Exact bigint per cell
# (<= 64 * (2^22)^2 = 2^50 regardless of corpus size). Uses the
# batch form of the update (proven equal to the streamed state by
# the associativity test + the refresh oracle).
_QUANT_DRIFT_ORACLE = f"""
WITH cells AS (
  SELECT * FROM (VALUES
    {{cells}}
  ) AS t(cell, centroid, cc)
),
v AS (
  SELECT vec_id, embedding AS ev FROM embeddings
  WHERE len(embedding) = 64
),
asg AS (
  SELECT vec_id, ev, cell FROM (
    SELECT v.vec_id, v.ev, cells.cell,
           ROW_NUMBER() OVER (
             PARTITION BY v.vec_id
             ORDER BY cells.cc - 2 * {{dot}},
                      cells.cell) AS rn
    FROM v CROSS JOIN cells
  ) WHERE rn = 1
),
dims AS (SELECT CAST(unnest(range(1, 65)) AS INT) AS dim),
gl AS (
  SELECT a.cell, d.dim,
         CAST(FLOOR(CAST(a.ev[d.dim] AS DOUBLE) * {{grid}}.0)
              AS BIGINT) AS val
  FROM asg a, dims d
),
u AS (
  SELECT cell, dim, CAST(SUM(val) AS BIGINT) AS sg,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM gl GROUP BY cell, dim
),
spine AS (
  SELECT c.cell, d.dim,
         CAST(FLOOR(CAST(c.centroid[d.dim] AS DOUBLE) * {{grid}}.0)
              AS BIGINT) AS fg
  FROM cells c, dims d
),
ref AS (
  SELECT s.cell, s.dim, s.fg,
         COALESCE(CAST(FLOOR(CAST(u.sg AS DOUBLE) / CAST(u.n AS DOUBLE))
                       AS BIGINT), s.fg) AS rg,
         COALESCE(u.n, 0) AS n
  FROM spine s LEFT JOIN u USING (cell, dim)
)
SELECT cell,
       CAST(MAX(n) AS BIGINT) AS n_members,
       CAST(SUM((rg - fg) * (rg - fg)) AS BIGINT) AS drift2_grid
FROM ref
GROUP BY cell
ORDER BY drift2_grid DESC, cell
"""


def _quant_drift_oracle() -> str:
    from workshop3_etl_spark.operators.similarity import (
        _dot_duck,
        _ivf_cells_values_sql,
    )
    from workshop3_etl_spark.streaming.rollup import _QUANT_GRID

    return _QUANT_DRIFT_ORACLE.format(
        cells=_ivf_cells_values_sql(),
        dot=_dot_duck("v.ev", "cells.centroid"),
        grid=_QUANT_GRID,
    )


@register("embedding_quantizer_drift", oracle=_quant_drift_oracle())
def embedding_quantizer_drift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-cell quantizer drift: squared grid distance between each
    refreshed centroid (one Lloyd update over the corpus, the batch
    twin of stream_kmeans_quantizer_refresh's state) and the frozen
    production centroid, with the cell's member count — the retrain
    trigger signal (big drift2_grid + big n_members = the shipped
    quantizer no longer represents its cell). Empty cells drift 0 by
    definition."""
    import math

    from workshop3_etl_spark.operators.ivf_centroids import IVF_CENTROIDS
    from workshop3_etl_spark.sources.tables import load_table
    from workshop3_etl_spark.streaming.rollup import (
        _QUANT_GRID,
        _batch_quantizer_partial,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    spine = spark.createDataFrame(
        [
            (k, d + 1, math.floor(c[d] * float(_QUANT_GRID)))
            for k, c in enumerate(IVF_CENTROIDS)
            for d in range(64)
        ],
        "cell int, dim int, fg long",
    )
    u = _batch_quantizer_partial(emb)
    ref = spine.join(F.broadcast(u), ["cell", "dim"], "left").selectExpr(
        "cell",
        "fg",
        "coalesce(cast(floor(cast(sg as double) / cast(n as double))"
        " as bigint), fg) as rg",
        "coalesce(n, 0L) as n",
    )
    return (
        ref.groupBy("cell")
        .agg(
            F.max("n").cast("long").alias("n_members"),
            F.sum((F.col("rg") - F.col("fg")) * (F.col("rg") - F.col("fg")))
            .cast("long")
            .alias("drift2_grid"),
        )
        .orderBy(F.desc("drift2_grid"), "cell")
    )


# --------------------------------------------------------------------
# Streaming bigram-LM refresh (streaming/rollup.BIGRAM_LM): the
# CCNet-style quality model's (lang, w1, w2) counts maintained per
# micro-batch over the documents stream, then one rollup over the
# live partials refreshes the model — counts are associative under
# any batch split, so the refreshed state equals the one-shot batch
# training pass text_lm_perplexity_buckets runs in-plan. Completes
# the LM lifecycle: train (text.py) -> score (text.py) -> maintain
# (here), mirroring the quantizer family's r8/r9 arc.
# --------------------------------------------------------------------


def _lm_refresh_oracle() -> str:
    from workshop3_etl_spark.operators.text import (
        _LM_TRAIN_GATE_DUCK,
        _TOKENS_DUCK,
    )

    return f"""
WITH tk AS (
  SELECT lang, {_TOKENS_DUCK} AS toks FROM documents
),
bi AS (
  SELECT lang, toks[i] AS w1, toks[i + 1] AS w2
  FROM tk, unnest(generate_series(1, len(toks) - 1)) AS u(i)
  WHERE {_LM_TRAIN_GATE_DUCK}
),
c2 AS (
  SELECT lang, w1, w2, CAST(COUNT(*) AS BIGINT) AS c2
  FROM bi GROUP BY lang, w1, w2
),
top AS (
  SELECT lang, w1 AS top_w1, w2 AS top_w2, c2 AS top_c2 FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY lang ORDER BY c2 DESC, w1, w2) AS rn
    FROM c2
  ) WHERE rn = 1
)
SELECT c.lang,
       CAST(COUNT(*) AS BIGINT) AS n_bigram_types,
       CAST(COUNT(DISTINCT c.w1) AS BIGINT) AS n_left_contexts,
       CAST(SUM(c.c2) AS BIGINT) AS n_bigram_occ,
       t.top_w1, t.top_w2, t.top_c2
FROM c2 c JOIN top t USING (lang)
GROUP BY c.lang, t.top_w1, t.top_w2, t.top_c2
ORDER BY c.lang
"""


@register("stream_lm_bigram_refresh", oracle=_lm_refresh_oracle())
def stream_lm_bigram_refresh(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Refreshed bigram-LM model summary from the streaming-maintained
    counts: per lang, (n_bigram_types, n_left_contexts, n_bigram_occ,
    top_w1, top_w2, top_c2) with the top bigram tie-broken (count
    DESC, w1, w2). Batch equivalence (what the oracle asserts): the
    maintained state is a per-(lang, w1, w2) integer count,
    associative under any micro-batch split, so the refreshed model
    equals the one-shot batch training pass."""
    from pyspark.sql import Window

    from workshop3_etl_spark.streaming.rollup import BIGRAM_LM

    with tempfile.TemporaryDirectory() as workdir:
        state = f"{workdir}/lm"
        BIGRAM_LM.maintain(
            table_stream(spark, sf_dir, "documents"), state, f"{workdir}/ck"
        )
        c2 = BIGRAM_LM.read(spark, state)
        wt = Window.partitionBy("lang").orderBy(
            F.desc("c2"), "w1", "w2"
        )
        top = (
            c2.withColumn("rn", F.row_number().over(wt))
            .filter(F.col("rn") == 1)
            .select(
                "lang",
                F.col("w1").alias("top_w1"),
                F.col("w2").alias("top_w2"),
                F.col("c2").alias("top_c2"),
            )
        )
        result = (
            c2.groupBy("lang")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_bigram_types"),
                F.count_distinct("w1").cast("long")
                .alias("n_left_contexts"),
                F.sum("c2").cast("long").alias("n_bigram_occ"),
            )
            .join(F.broadcast(top), "lang")
            .select(
                "lang", "n_bigram_types", "n_left_contexts",
                "n_bigram_occ", "top_w1", "top_w2", "top_c2",
            )
            .orderBy("lang")
        )
        # materialize before the state dir vanishes
        return result.localCheckpoint(eager=True)


# --------------------------------------------------------------------
# Streaming BM25-index refresh (streaming/rollup.BM25): the
# search family's maintenance leg — per-term (df, cf) plus the corpus
# (n_docs, n_tokens) row maintained as epoch partials over the
# documents stream (each doc arrives in exactly one batch, so the
# integer counts are associative under any micro-batch split), then
# one rollup refreshes the index. The refreshed artifact is exactly
# what search_bm25_topk's scoring needs (df head + corpus stats), so
# the summary surfaces the query-term head (df ranks 10-13), which
# the oracle recomputes from the one-shot batch build. Completes the
# search lifecycle: build (text.py postings) -> serve (BM25 top-k)
# -> maintain (here).
# --------------------------------------------------------------------


def _bm25_refresh_oracle() -> str:
    from workshop3_etl_spark.operators.text import (
        _BM25_RANK_HI,
        _BM25_RANK_LO,
        _TOKENS_DUCK,
    )

    return f"""
WITH tk AS (
  SELECT doc_id, {_TOKENS_DUCK} AS toks FROM documents
),
pos AS (SELECT doc_id, unnest(toks) AS w FROM tk),
termdf AS (
  SELECT w AS term,
         CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df,
         CAST(COUNT(*) AS BIGINT) AS cf
  FROM pos GROUP BY w
),
head AS (
  SELECT term, df, cf FROM termdf
  ORDER BY df DESC, term LIMIT {_BM25_RANK_HI}
),
qterms AS (
  SELECT term, df, cf, rn FROM (
    SELECT term, df, cf,
           ROW_NUMBER() OVER (ORDER BY df DESC, term) AS rn
    FROM head
  ) WHERE rn BETWEEN {_BM25_RANK_LO} AND {_BM25_RANK_HI}
),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(len(toks)) AS BIGINT) AS n_tokens
  FROM tk
)
SELECT CAST(q.rn AS INT) AS rank, q.term, q.df, q.cf,
       s.n_docs, s.n_tokens
FROM qterms q CROSS JOIN stats s
ORDER BY rank
"""


@register("stream_bm25_index_refresh", oracle=_bm25_refresh_oracle())
def stream_bm25_index_refresh(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Refreshed BM25 index summary from the streaming-maintained
    state: the query-term head (df ranks 10-13) with per-term df/cf
    and the corpus (n_docs, n_tokens) — (rank, term, df, cf, n_docs,
    n_tokens). Batch equivalence (the oracle's assertion): the
    maintained counts are associative under any micro-batch split, so
    the refreshed index equals the one-shot batch build."""
    from pyspark.sql import Window

    from workshop3_etl_spark.operators.text import (
        _BM25_RANK_HI,
        _BM25_RANK_LO,
    )
    from workshop3_etl_spark.streaming.rollup import BM25

    with tempfile.TemporaryDirectory() as workdir:
        state = f"{workdir}/bm25"
        BM25.maintain(
            table_stream(spark, sf_dir, "documents"), state, f"{workdir}/ck"
        )
        idx = BM25.read(spark, state)
        stats = idx.filter(F.col("term").isNull()).selectExpr(
            "df as n_docs", "cf as n_tokens"
        )
        head = (
            idx.filter(F.col("term").isNotNull())
            .orderBy(F.desc("df"), "term")
            .limit(_BM25_RANK_HI)
        )
        wq = Window.orderBy(F.desc("df"), "term")
        result = (
            head.withColumn("rn", F.row_number().over(wq))
            .filter(F.col("rn").between(_BM25_RANK_LO, _BM25_RANK_HI))
            .crossJoin(F.broadcast(stats))
            .selectExpr(
                "cast(rn as int) as rank", "term", "df", "cf",
                "n_docs", "n_tokens",
            )
            .orderBy("rank")
        )
        return result.localCheckpoint(eager=True)


# --------------------------------------------------------------------
# Streaming covariance-moment refresh (streaming/rollup.
# MOMENTS): the spectral family's maintenance leg —
# embedding_spectral_norm_power trains on a D x D moment artifact;
# this operator maintains those integer moment sums as epoch partials
# over the embeddings stream and surfaces the refreshed per-dimension
# diagonal (count, marginal, raw second moment, scaled covariance
# diagonal n*m_dd - s_d^2 — the drift signal that triggers a
# spectral-norm re-estimate). Plain integer sums over disjoint row
# sets => associative under any micro-batch split, which is exactly
# what the batch-recompute oracle asserts. Completes the family arc:
# estimate (similarity.py) -> maintain (here), like the
# quantizer/LM/BM25 families.
# --------------------------------------------------------------------


def _moment_refresh_oracle() -> str:
    from workshop3_etl_spark.operators.similarity import (
        _PCA_DIM,
        _PCA_GRID,
    )

    return f"""
WITH gv AS (
  SELECT list_transform(embedding, x ->
           CAST(FLOOR(CAST(x AS DOUBLE) * {_PCA_GRID}.0) AS BIGINT))
         AS xg
  FROM embeddings WHERE len(embedding) = {_PCA_DIM}
),
dims AS (SELECT CAST(unnest(range(1, {_PCA_DIM} + 1)) AS INT) AS dim),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM gv),
sv AS (
  SELECT d.dim, CAST(SUM(xg[d.dim]) AS BIGINT) AS s,
         CAST(SUM(xg[d.dim] * xg[d.dim]) AS BIGINT) AS m
  FROM gv, dims d GROUP BY d.dim
)
SELECT sv.dim, nn.n AS n_vecs, sv.s AS sum_x, sv.m AS moment_dd,
       CAST(nn.n * sv.m - sv.s * sv.s AS BIGINT) AS cov_scaled_dd
FROM sv CROSS JOIN nn
ORDER BY sv.dim
"""


@register(
    "stream_covariance_moment_refresh", oracle=_moment_refresh_oracle()
)
def stream_covariance_moment_refresh(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Refreshed covariance-moment diagonal from the
    streaming-maintained D x D moment state: (dim, n_vecs, sum_x,
    moment_dd, cov_scaled_dd). Batch equivalence (the oracle's
    assertion): the maintained integer moment sums are associative
    under any micro-batch split, so the refreshed state equals the
    one-shot batch moment pass the spectral-norm trainer runs."""
    from workshop3_etl_spark.streaming.rollup import MOMENTS

    with tempfile.TemporaryDirectory() as workdir:
        state = f"{workdir}/moments"
        MOMENTS.maintain(
            table_stream(spark, sf_dir, "embeddings"), state, f"{workdir}/ck"
        )
        mom = MOMENTS.read(spark, state).persist()
        mom.count()
        n = mom.filter("da = 0 and db = 0").selectExpr("v as n_vecs")
        marg = mom.filter("da >= 1 and db = 0").selectExpr(
            "da as dim", "v as sum_x"
        )
        diag = mom.filter("da >= 1 and da = db").selectExpr(
            "da as dim", "v as moment_dd"
        )
        result = (
            marg.join(diag, "dim")
            .crossJoin(F.broadcast(n))
            .selectExpr(
                "dim",
                "n_vecs",
                "sum_x",
                "moment_dd",
                "cast(n_vecs * moment_dd - sum_x * sum_x as bigint)"
                " as cov_scaled_dd",
            )
            .select(
                "dim", "n_vecs", "sum_x", "moment_dd", "cov_scaled_dd"
            )
            .orderBy("dim")
        )
        out = result.localCheckpoint(eager=True)
        mom.unpersist()
        return out


# --------------------------------------------------------------------
# Streaming n-gram novelty refresh (streaming/rollup.
# NOVELTY): the maintenance leg of corpus_ngram_novelty_
# curve — per-gram first-shard attribution kept as MIN-mergeable
# epoch partials (idempotent even under partial replay), per-shard
# doc/instance counters as disjoint sums. Batch equivalence (the
# oracle's assertion): MIN and SUM are associative under any
# micro-batch split, so the refreshed curve equals the one-shot
# batch recompute. Completes the family arc: estimate (corpus.py)
# -> maintain (here), like the quantizer/LM/BM25/moment families.
# --------------------------------------------------------------------


def _novelty_refresh_oracle() -> str:
    from workshop3_etl_spark.operators.corpus import _NOVELTY_ORACLE

    return _NOVELTY_ORACLE


@register(
    "stream_ngram_novelty_refresh", oracle=_novelty_refresh_oracle()
)
def stream_ngram_novelty_refresh(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Refreshed 3-gram novelty curve from the streaming-maintained
    state: identical output contract to corpus_ngram_novelty_curve
    (shard, n_docs, n_gram_instances, n_new_gram_types,
    cum_gram_types, novelty_rate) — the batch-recompute oracle IS the
    batch operator's, which is the equivalence assertion."""
    from workshop3_etl_spark.operators.corpus import (
        assemble_novelty_curve,
    )
    from workshop3_etl_spark.streaming.rollup import (
        NOVELTY,
        read_novelty_state,
    )

    with tempfile.TemporaryDirectory() as workdir:
        state = f"{workdir}/novelty"
        NOVELTY.maintain(
            table_stream(spark, sf_dir, "documents"), state, f"{workdir}/ck"
        )
        firsts, per_shard = read_novelty_state(spark, state)
        novel = firsts.groupBy(
            F.col("first_shard").alias("shard")
        ).agg(F.count(F.lit(1)).cast("long").alias("n_new_gram_types"))
        result = assemble_novelty_curve(
            per_shard.select(
                "shard", "n_docs",
                F.col("n_inst").alias("n_gram_instances"),
            ),
            novel,
        )
        return result.localCheckpoint(eager=True)


# --------------------------------------------------------------------
# Streaming decision-stump histogram refresh (streaming/rollup.
# STUMP): the maintenance leg of
# ml_decision_stump_price_qty — per-price-bin label moments (n,
# sum_y) kept as epoch partials, the served split recomputed from
# the merged state through ml.stump_best_from_bins (the SAME scorer
# the batch stump uses, so the served split cannot drift from the
# batch definition). Batch equivalence (the oracle's assertion):
# per-bin sums are associative under any micro-batch split, so the
# refreshed best split equals the one-shot batch stump. Completes
# the family arc: estimate (ml.py stump/GBT) -> maintain (here),
# like the quantizer/LM/BM25/moment/novelty families.
# --------------------------------------------------------------------


def _stump_refresh_oracle() -> str:
    from workshop3_etl_spark.ml import _STUMP_ORACLE

    return _STUMP_ORACLE


@register(
    "stream_stump_histogram_refresh", oracle=_stump_refresh_oracle()
)
def stream_stump_histogram_refresh(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Best depth-1 split served from the streaming-maintained
    per-bin label-moment state — identical output contract to
    ml_decision_stump_price_qty (the oracle IS the batch stump's),
    proving the maintained histogram is batch-equivalent under the
    file stream's micro-batching."""
    from workshop3_etl_spark.ml import stump_best_from_bins
    from workshop3_etl_spark.streaming.rollup import STUMP

    with tempfile.TemporaryDirectory() as workdir:
        state = f"{workdir}/stump_hist"
        STUMP.maintain(
            table_stream(spark, sf_dir, "lineitem"), state, f"{workdir}/ck"
        )
        bins = STUMP.read(spark, state).persist()
        bins.count()
        out = stump_best_from_bins(bins).localCheckpoint(eager=True)
        bins.unpersist()
        return out
