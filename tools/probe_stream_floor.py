#!/usr/bin/env python
"""VERDICT r10 #5: quantify the availableNow drain-harness floor and
each streaming operator's delta above it, in ONE session.

Floor A = rate-source trivial count (engine startup + one micro-batch
+ checkpoint/state commits, no real input).
Floor B = events file-source trivial count (adds the real input scan
+ file-source listing, still a trivial aggregate, run through the
same streaming/runner.memory_sink as the operators).

Each is timed with the bench protocol (1 warmup + median of N); every
stream_* headline operator is timed the same way right after, so
operator delta = median(op) - median(floor B).
"""

from __future__ import annotations

import os
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
N = int(os.environ.get("FLOOR_SAMPLES", "5"))


def floor_rate(spark, sf_dir):
    from workshop3_etl_spark.streaming.runner import memory_sink

    agg = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", "1").load()
        .groupBy().count()
    )
    with tempfile.TemporaryDirectory() as ckpt, memory_sink(
        agg, "floor_rate", "complete", ckpt
    ) as (rows, _):
        return rows.localCheckpoint(eager=True)


def floor_events(spark, sf_dir):
    from pyspark.sql import functions as F

    from workshop3_etl_spark.streaming.batch_equivalent import _events_stream
    from workshop3_etl_spark.streaming.runner import memory_sink

    agg = _events_stream(spark, sf_dir).groupBy().agg(
        F.count(F.lit(1)).alias("n")
    )
    with tempfile.TemporaryDirectory() as ckpt, memory_sink(
        agg, "floor_events", "complete", ckpt
    ) as (rows, _):
        return rows.localCheckpoint(eager=True)


def main() -> int:
    from workshop3_etl_spark.plans import registry
    from workshop3_etl_spark.session import get_spark

    spark = get_spark(app_name="probe_stream_floor")
    q = registry.queries()
    ops = [
        "stream_tumbling_hourly_counts",
        "stream_append_closed_windows",
        "stream_decayed_counters",
        "stream_hll_distinct_users",
        "stream_ols_incremental",
        "stream_histogram_quantiles",
        "stream_ngram_novelty_refresh",
        "stream_stump_histogram_refresh",
    ]
    targets = [("FLOOR_A rate-source", floor_rate),
               ("FLOOR_B events-file", floor_events)]
    targets += [(n, q[n]) for n in ops if n in q]
    results = {}
    for name, fn in targets:
        fn(spark, SF).write.format("noop").mode("overwrite").save()  # warmup
        runs = []
        for _ in range(N):
            t0 = time.perf_counter()
            fn(spark, SF).write.format("noop").mode("overwrite").save()
            runs.append(time.perf_counter() - t0)
        results[name] = statistics.median(runs)
        print(f"  {name}: median={results[name]:.3f}  "
              + "/".join(f"{r:.2f}" for r in runs), flush=True)
    floor = results.get("FLOOR_B events-file", 0.0)
    print(f"\nfloor B = {floor:.3f}s; deltas above floor:", flush=True)
    for name in ops:
        if name in results:
            print(f"  {name}: +{results[name] - floor:.3f}s", flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
