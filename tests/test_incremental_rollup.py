"""Incremental rollup maintenance: multi-micro-batch streaming merge
must equal the batch recompute, and untouched partitions must not be
rewritten."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from workshop3_etl_spark.sources.tables import load_table
from workshop3_etl_spark.streaming.rollup import ROLLUP


def test_incremental_rollup_equals_batch(spark, tmp_path):
    ev = load_table(spark, SF_SMOKE, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    # two files -> two micro-batches (maxFilesPerTrigger=1), with
    # overlapping days so the merge path (read-modify-write) runs
    src = str(tmp_path / "src")
    ev.filter(F.col("event_id") % 2 == 0).repartition(1).write.parquet(
        f"{src}/part_a"
    )
    ev.filter(F.col("event_id") % 2 == 1).repartition(1).write.parquet(
        f"{src}/part_b"
    )

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    rollup = str(tmp_path / "rollup")
    ROLLUP.maintain(stream, rollup, str(tmp_path / "ckpt"))

    got = (
        ROLLUP.read(spark, rollup)
        .select("day", "event_type", "n_events", "value_cents")
        .orderBy("day", "event_type")
        .collect()
    )
    exp = (
        ev.select(
            F.to_date("ts").alias("day"),
            "event_type",
            (F.col("value").cast("decimal(18,2)") * 100)
            .cast("long")
            .alias("cents"),
        )
        .groupBy("day", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("cents").cast("long").alias("value_cents"),
        )
        .orderBy("day", "event_type")
        .collect()
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in exp]
    # epoch/day-partitioned layout on disk: day-level pruning still
    # works through epoch=*/day=d, and replayed epochs overwrite only
    # their own partition (idempotence)
    epochs = [n for n in os.listdir(rollup) if n.startswith("epoch=")]
    assert len(epochs) >= 2  # one per micro-batch
    assert any(
        name.startswith("day=")
        for name in os.listdir(os.path.join(rollup, epochs[0]))
    )


def test_decayed_counters_incremental_equivalence(spark):
    """The ts_decayed_popularity docstring claims a streaming job can
    maintain the same counter by halving yesterday's score and adding
    today's count. Prove it: a sequential day-by-day halve-and-add
    over the per-day counts reproduces the batch query EXACTLY (all
    quantities are dyadic rationals well inside the double mantissa,
    so the recurrence is float-exact, not approximately equal)."""
    from collections import defaultdict

    from pyspark.sql import functions as F

    from tests.conftest import SF_CORRECT
    from workshop3_etl_spark.plans import registry
    from workshop3_etl_spark.sources.tables import load_table

    ev = load_table(spark, SF_CORRECT, "events")
    per_day = (
        ev.groupBy(
            "event_type", F.date_trunc("day", "ts").cast("date").alias("d")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    import datetime

    observed = sorted({r["d"] for r in per_day})
    counts = {(r["event_type"], r["d"]): r["n"] for r in per_day}
    types = sorted({r["event_type"] for r in per_day})
    # iterate EVERY calendar day in the span (not just observed days):
    # the batch query ages by calendar distance, so an empty day must
    # still halve the state.
    days = [
        observed[0] + datetime.timedelta(days=i)
        for i in range((observed[-1] - observed[0]).days + 1)
    ]

    state: dict[str, float] = defaultdict(float)
    for d in days:  # one "micro-batch" per day, in event-time order
        for t in types:
            state[t] = state[t] / 2.0 + counts.get((t, d), 0)

    got = {
        r["event_type"]: (r["n_events"], r["decayed_count"])
        for r in registry.get("ts_decayed_popularity")
        .fn(spark, SF_CORRECT)
        .collect()
    }
    # horizon guard: the closed recurrence has no 30-day cutoff, so
    # the fixture must fit inside the query's horizon for exactness
    assert (days[-1] - days[0]).days <= 30
    for t in types:
        n_events, decayed = got[t]
        assert decayed == state[t], (t, decayed, state[t])
        assert n_events == sum(
            counts.get((t, d), 0) for d in days
        )


def test_streaming_decayed_counters_equal_batch_query(spark, tmp_path):
    """The REAL foreachBatch decayed-counter job (shift-and-add over
    integer-scaled scores) must reproduce ts_decayed_popularity
    bit-for-bit, across micro-batches that split the calendar into
    ranges (so the state genuinely ages between batches)."""
    from workshop3_etl_spark.plans import registry
    from workshop3_etl_spark.streaming.rollup import (
        ROLLUP,
        read_decayed_counters,
    )

    ev = load_table(spark, SF_SMOKE, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    day = F.dayofmonth(F.date_trunc("day", "ts"))
    src = str(tmp_path / "src")
    # three time slices -> the merge must age earlier state forward;
    # file-discovery order is not guaranteed, and the algorithm must
    # not care (max-day handling is symmetric).
    ev.filter(day <= 10).repartition(1).write.parquet(f"{src}/p1")
    ev.filter((day > 10) & (day <= 20)).repartition(1).write.parquet(
        f"{src}/p2"
    )
    ev.filter(day > 20).repartition(1).write.parquet(f"{src}/p3")

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    state = str(tmp_path / "counters")
    ROLLUP.maintain(stream, state, str(tmp_path / "ck"))

    got = [tuple(r) for r in read_decayed_counters(spark, state).collect()]
    exp = [
        (r["event_type"], r["n_events"], r["decayed_count"])
        for r in registry.get("ts_decayed_popularity")
        .fn(spark, SF_SMOKE)
        .collect()
    ]
    assert got == exp


def test_decayed_counters_resume_from_checkpoint(spark, tmp_path):
    """Kill-and-restart durability: run the counter job over the first
    file only, then land two more files and re-run with the SAME
    checkpoint — the file source must process only the new files (no
    double counting) and the final state must equal the batch query."""
    from workshop3_etl_spark.plans import registry
    from workshop3_etl_spark.streaming.rollup import (
        ROLLUP,
        read_decayed_counters,
    )

    ev = load_table(spark, SF_SMOKE, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    day = F.dayofmonth(F.date_trunc("day", "ts"))
    src = str(tmp_path / "src")
    state = str(tmp_path / "counters")
    ck = str(tmp_path / "ck")

    def stream():
        return (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", "1")
            .option("recursiveFileLookup", "true")
            .parquet(src)
        )

    # run 1: only the early slice exists
    ev.filter(day <= 10).repartition(1).write.parquet(f"{src}/p1")
    ROLLUP.maintain(stream(), state, ck)
    partial = {
        r["event_type"]: r["n_events"]
        for r in read_decayed_counters(spark, state).collect()
    }
    # run 2 ("restart"): two more slices landed; same checkpoint
    ev.filter((day > 10) & (day <= 20)).repartition(1).write.parquet(
        f"{src}/p2"
    )
    ev.filter(day > 20).repartition(1).write.parquet(f"{src}/p3")
    ROLLUP.maintain(stream(), state, ck)

    got = [tuple(r) for r in read_decayed_counters(spark, state).collect()]
    exp = [
        (r["event_type"], r["n_events"], r["decayed_count"])
        for r in registry.get("ts_decayed_popularity")
        .fn(spark, SF_SMOKE)
        .collect()
    ]
    assert got == exp
    # and run 1 genuinely processed only the first slice
    assert sum(partial.values()) < sum(n for _, n, _ in exp)


def test_decayed_counters_exact_past_horizon(spark, tmp_path):
    """Aging far past the 30-day horizon must zero old contributions
    EXACTLY (per-event truncation). This is the case an aggregated
    halve-and-add state gets wrong — collectively shifting a summed
    score leaks residue (e.g. 4 events x 2^30 = 2^32; 2^32 >> 31 = 2,
    not 0) — and the day-granular state must not."""
    from pyspark.sql import functions as F

    from workshop3_etl_spark.operators.timeseries import (
        _DECAY_HORIZON_DAYS,
    )
    from workshop3_etl_spark.streaming.rollup import (
        ROLLUP,
        read_decayed_counters,
    )

    ev = load_table(spark, SF_SMOKE, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    # second wave: the same events re-stamped 60 days later, so the
    # first wave ends up entirely past the horizon
    late = ev.withColumn("ts", F.col("ts") + F.expr("INTERVAL 60 DAYS"))
    src = str(tmp_path / "src")
    ev.repartition(1).write.parquet(f"{src}/p1")
    late.repartition(1).write.parquet(f"{src}/p2")

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    state = str(tmp_path / "counters")
    ROLLUP.maintain(stream, state, str(tmp_path / "ck"))

    got = {
        r["event_type"]: (r["n_events"], r["decayed_count"])
        for r in read_decayed_counters(spark, state).collect()
    }
    # expected: the batch formula over the union, computed directly
    u = ev.unionByName(late)
    md = u.agg(F.max(F.date_trunc("day", "ts")).cast("date").alias("md"))
    aged = u.crossJoin(F.broadcast(md)).select(
        "event_type",
        F.datediff(
            F.col("md"), F.date_trunc("day", "ts").cast("date")
        ).alias("age"),
    )
    w = F.when(
        F.col("age") <= _DECAY_HORIZON_DAYS,
        F.expr(
            f"shiftleft(cast(1 as bigint), {_DECAY_HORIZON_DAYS} - age)"
        ),
    ).otherwise(F.lit(0).cast("long"))
    exp = {
        r["event_type"]: (r["n"], r["dc"])
        for r in aged.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (
                F.sum(w).cast("double")
                / F.lit(2.0 ** _DECAY_HORIZON_DAYS)
            ).alias("dc"),
        )
        .collect()
    }
    assert got == exp


def test_compaction_preserves_rollup_and_counters(spark, tmp_path):
    """Folding committed epochs into the base partition must not
    change read_rollup or read_decayed_counters, must shrink the
    epoch-directory count, and must stay correct when more batches
    land after compaction."""
    import os

    from workshop3_etl_spark.streaming.rollup import (
        ROLLUP,
        read_decayed_counters,
    )

    ev = load_table(spark, SF_SMOKE, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    day = F.dayofmonth(F.date_trunc("day", "ts"))
    src = str(tmp_path / "src")
    rollup = str(tmp_path / "rollup")
    ck = str(tmp_path / "ck")
    ev.filter(day <= 10).repartition(1).write.parquet(f"{src}/p1")
    ev.filter((day > 10) & (day <= 20)).repartition(1).write.parquet(
        f"{src}/p2"
    )

    def stream():
        return (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", "1")
            .option("recursiveFileLookup", "true")
            .parquet(src)
        )

    ROLLUP.maintain(stream(), rollup, ck)
    before_rollup = sorted(
        tuple(r) for r in ROLLUP.read(spark, rollup).collect()
    )
    before_counters = sorted(
        tuple(r) for r in read_decayed_counters(spark, rollup).collect()
    )
    n_epochs_before = sum(
        1 for n in os.listdir(rollup) if n.startswith("epoch=")
    )
    assert n_epochs_before >= 2

    # both batches are committed (availableNow completed) — fold them.
    # Cleanup of the folded partials is deferred to the NEXT run
    # (reader grace window), so the second compact reclaims the space.
    ROLLUP.compact(spark, rollup, through_epoch=10_000)
    epochs = sorted(n for n in os.listdir(rollup) if n.startswith("epoch="))
    assert "epoch=-2" in epochs and len(epochs) == n_epochs_before + 1
    ROLLUP.compact(spark, rollup, through_epoch=10_000)
    epochs = [n for n in os.listdir(rollup) if n.startswith("epoch=")]
    assert epochs == ["epoch=-2"]
    assert sorted(
        tuple(r) for r in ROLLUP.read(spark, rollup).collect()
    ) == before_rollup
    assert sorted(
        tuple(r) for r in read_decayed_counters(spark, rollup).collect()
    ) == before_counters

    # a post-compaction batch lands next to the base and still sums
    ev.filter(day > 20).repartition(1).write.parquet(f"{src}/p3")
    ROLLUP.maintain(stream(), rollup, ck)
    exp = sorted(
        tuple(r)
        for r in ev.select(
            F.to_date("ts").alias("day"),
            "event_type",
            (F.col("value").cast("decimal(18,2)") * 100)
            .cast("long")
            .alias("cents"),
        )
        .groupBy("day", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("cents").cast("long").alias("value_cents"),
        )
        .collect()
    )
    assert sorted(
        tuple(r) for r in ROLLUP.read(spark, rollup).collect()
    ) == exp


def test_compaction_crash_windows_never_double_count(
    spark, tmp_path, monkeypatch
):
    """The two compaction crash windows must both leave reads exact:
    (a) base written but manifest not committed -> the orphan base
    generation is invisible; (b) manifest committed but cleanup not
    run -> the old base and folded epochs are invisible. A subsequent
    compact_rollup run garbage-collects either leftover and re-folds
    correctly (no permanent corruption)."""
    import shutil

    from workshop3_etl_spark.streaming.compaction import read_base_manifest
    from workshop3_etl_spark.streaming.rollup import ROLLUP

    ev = load_table(spark, SF_SMOKE, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    src = str(tmp_path / "src")
    rollup = str(tmp_path / "rollup")
    ck = str(tmp_path / "ck")
    ev.filter(F.col("event_id") % 2 == 0).repartition(1).write.parquet(
        f"{src}/p1"
    )
    ev.filter(F.col("event_id") % 2 == 1).repartition(1).write.parquet(
        f"{src}/p2"
    )
    def stream():
        return (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", "1")
            .option("recursiveFileLookup", "true")
            .parquet(src)
        )

    ROLLUP.maintain(stream(), rollup, ck)
    expected = sorted(tuple(r) for r in ROLLUP.read(spark, rollup).collect())

    # Crash window (b): fold commits, cleanup never runs (rmtree
    # disabled). Old base/folded epochs remain on disk alongside the
    # new generation.
    real_rmtree = shutil.rmtree
    monkeypatch.setattr(shutil, "rmtree", lambda *a, **k: None)
    ROLLUP.compact(spark, rollup, through_epoch=10_000)
    monkeypatch.setattr(shutil, "rmtree", real_rmtree)
    leftover = [n for n in os.listdir(rollup) if n.startswith("epoch=")]
    assert len(leftover) > 1, "cleanup was supposed to be suppressed"
    assert (
        sorted(tuple(r) for r in ROLLUP.read(spark, rollup).collect())
        == expected
    ), "stale dirs after a cleanup crash must not double-count"

    # Crash window (a): a later fold (with a fresh batch to fold)
    # writes its base generation but dies AT the manifest replace
    # (simulated by making it raise — execution stops there, exactly
    # like a crash, so cleanup never runs either).
    import pytest

    ev.limit(500).repartition(1).write.parquet(f"{src}/p3")
    ROLLUP.maintain(stream(), rollup, ck)
    expected = sorted(tuple(r) for r in ROLLUP.read(spark, rollup).collect())
    manifest_before = read_base_manifest(rollup)

    def _boom(*a, **k):
        raise RuntimeError("simulated crash at manifest commit")

    monkeypatch.setattr(os, "replace", _boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        ROLLUP.compact(spark, rollup, through_epoch=10_000)
    monkeypatch.undo()
    assert read_base_manifest(rollup) == manifest_before
    assert (
        sorted(tuple(r) for r in ROLLUP.read(spark, rollup).collect())
        == expected
    ), "an uncommitted base generation must be invisible to readers"

    # Recovery: a clean compaction run GCs both kinds of leftovers and
    # re-folds; one more run reclaims the generation it superseded
    # (cleanup is deferred one run for the reader grace window),
    # converging the layout to exactly one committed base.
    ROLLUP.compact(spark, rollup, through_epoch=10_000)
    ROLLUP.compact(spark, rollup, through_epoch=10_000)
    manifest = read_base_manifest(rollup)
    dirs = sorted(n for n in os.listdir(rollup) if n.startswith("epoch="))
    assert dirs == [f"epoch={manifest['base_epoch']}"]
    assert (
        sorted(tuple(r) for r in ROLLUP.read(spark, rollup).collect())
        == expected
    )


def test_first_generation_fold_crash_never_double_counts(
    spark, tmp_path, monkeypatch
):
    """The FIRST fold on a manifest-less table is the crash window the
    r4 ADVICE flagged: if the new base were written to epoch=-1 and
    the process died before the manifest commit, the orphan would be
    indistinguishable from a committed legacy base and every folded
    epoch would double-count. Base generations therefore start at -2;
    a crashed first fold must leave reads exactly as before, and a
    clean re-run must converge."""
    import pytest

    from workshop3_etl_spark.streaming.compaction import read_base_manifest
    from workshop3_etl_spark.streaming.rollup import ROLLUP

    ev = load_table(spark, SF_SMOKE, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    src = str(tmp_path / "src")
    rollup = str(tmp_path / "rollup")
    ck = str(tmp_path / "ck")
    ev.filter(F.col("event_id") % 2 == 0).repartition(1).write.parquet(
        f"{src}/p1"
    )
    ev.filter(F.col("event_id") % 2 == 1).repartition(1).write.parquet(
        f"{src}/p2"
    )
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    ROLLUP.maintain(stream, rollup, ck)
    expected = sorted(tuple(r) for r in ROLLUP.read(spark, rollup).collect())
    assert read_base_manifest(rollup) is None

    def _boom(*a, **k):
        raise RuntimeError("simulated crash at manifest commit")

    monkeypatch.setattr(os, "replace", _boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        ROLLUP.compact(spark, rollup, through_epoch=10_000)
    monkeypatch.undo()

    # The orphan first-generation base must NOT be adopted as a legacy
    # manifest-less base — no manifest, and reads unchanged.
    assert read_base_manifest(rollup) is None
    dirs = sorted(n for n in os.listdir(rollup) if n.startswith("epoch="))
    assert "epoch=-2" in dirs and "epoch=-1" not in dirs
    assert (
        sorted(tuple(r) for r in ROLLUP.read(spark, rollup).collect())
        == expected
    ), "a crashed first fold must be invisible to readers"

    # Clean re-run: GCs the orphan, folds, commits; one more run
    # reclaims the folded partials (deferred cleanup grace window).
    ROLLUP.compact(spark, rollup, through_epoch=10_000)
    ROLLUP.compact(spark, rollup, through_epoch=10_000)
    manifest = read_base_manifest(rollup)
    assert manifest["base_epoch"] == -2
    dirs = sorted(n for n in os.listdir(rollup) if n.startswith("epoch="))
    assert dirs == ["epoch=-2"]
    assert (
        sorted(tuple(r) for r in ROLLUP.read(spark, rollup).collect())
        == expected
    )


def test_maintain_compact_maintain_replay_exact(spark, tmp_path):
    """maintain -> compact -> maintain -> compact -> read equals the
    never-compacted batch recompute, including when the second
    maintain REPLAYS a batch across the compaction boundary (its
    epoch partition was already written but the checkpoint commit was
    lost): the replayed epoch overwrites itself above the fold
    horizon, never double-landing next to folded state."""
    import glob

    from workshop3_etl_spark.streaming.rollup import (
        ROLLUP,
        read_decayed_counters,
    )

    ev = load_table(spark, SF_SMOKE, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    src = str(tmp_path / "src")
    rollup = str(tmp_path / "rollup")
    ck = str(tmp_path / "ck")
    thirds = [
        ev.filter(F.col("event_id") % 3 == i) for i in range(3)
    ]
    thirds[0].repartition(1).write.parquet(f"{src}/p0")

    def stream():
        return (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", "1")
            .option("recursiveFileLookup", "true")
            .parquet(src)
        )

    ROLLUP.maintain(stream(), rollup, ck)
    # fold batch 0; horizon = its committed epoch
    ROLLUP.compact(spark, rollup, through_epoch=0)

    # batch 1 lands; then its checkpoint commit is "lost" (crash after
    # the sink write, before the offset commit) -> replay
    thirds[1].repartition(1).write.parquet(f"{src}/p1")
    ROLLUP.maintain(stream(), rollup, ck)
    commits = sorted(glob.glob(f"{ck}/commits/[0-9]*"))
    last = commits[-1]
    os.remove(last)
    crc = os.path.join(
        os.path.dirname(last), f".{os.path.basename(last)}.crc"
    )
    if os.path.exists(crc):
        os.remove(crc)
    # replay: the same file re-runs as the same batch id and
    # overwrites its own epoch partition
    ROLLUP.maintain(stream(), rollup, ck)

    # third batch + second compaction generation
    thirds[2].repartition(1).write.parquet(f"{src}/p2")
    ROLLUP.maintain(stream(), rollup, ck)
    ROLLUP.compact(spark, rollup, through_epoch=10_000)

    exp_rollup = sorted(
        tuple(r)
        for r in ev.select(
            F.to_date("ts").alias("day"),
            "event_type",
            (F.col("value").cast("decimal(18,2)") * 100)
            .cast("long")
            .alias("cents"),
        )
        .groupBy("day", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("cents").cast("long").alias("value_cents"),
        )
        .collect()
    )
    assert (
        sorted(tuple(r) for r in ROLLUP.read(spark, rollup).collect())
        == exp_rollup
    )
    # decayed-counter read surface rides the same state
    assert read_decayed_counters(spark, rollup).count() > 0
    # second generation: base epoch advanced past the first (-2)
    from workshop3_etl_spark.streaming.compaction import read_base_manifest

    assert read_base_manifest(rollup)["base_epoch"] == -3


def test_legacy_manifestless_base_is_adopted_not_deleted(spark, tmp_path):
    """A pre-protocol compactor wrote its base to epoch=-1 with no
    manifest. Readers must keep that base, and the next compaction
    must FOLD it (adopting it as the committed generation) rather
    than garbage-collect it as an orphan."""
    import os

    from workshop3_etl_spark.streaming.compaction import read_base_manifest
    from workshop3_etl_spark.streaming.rollup import ROLLUP

    rollup = str(tmp_path / "rollup")
    base = spark.createDataFrame(
        [("2024-01-01", "click", 5, 500)],
        "day string, event_type string, n_events long, value_cents long",
    ).select(
        F.to_date("day").alias("day"), "event_type", "n_events",
        "value_cents", F.lit(-1).alias("epoch"),
    )
    newer = spark.createDataFrame(
        [("2024-01-01", "click", 2, 200)],
        "day string, event_type string, n_events long, value_cents long",
    ).select(
        F.to_date("day").alias("day"), "event_type", "n_events",
        "value_cents", F.lit(0).alias("epoch"),
    )
    base.unionByName(newer).write.partitionBy("epoch", "day").parquet(rollup)
    assert read_base_manifest(rollup) == {
        "base_epoch": -1, "folded_through": -1,
    }
    rows = ROLLUP.read(spark, rollup).collect()
    assert [(r["n_events"], r["value_cents"]) for r in rows] == [(7, 700)]

    ROLLUP.compact(spark, rollup, through_epoch=10_000)
    # fold adopted the legacy base into generation -2; the legacy dir
    # itself is reclaimed by the next run (deferred cleanup)
    ROLLUP.compact(spark, rollup, through_epoch=10_000)
    dirs = sorted(n for n in os.listdir(rollup) if n.startswith("epoch="))
    assert dirs == ["epoch=-2"], dirs
    rows = ROLLUP.read(spark, rollup).collect()
    assert [(r["n_events"], r["value_cents"]) for r in rows] == [(7, 700)]


def test_epoch_partition_writers_use_shared_compaction_protocol():
    """Architecture guard (r4 verdict task): the epoch-partial layout
    has exactly one writer, streaming/compaction.py, so every
    maintained state rides its replay-safe write, its live read and
    its crash-safe fold — never a private reinvention. Likewise every
    availableNow stream in the engine runs through the one runner
    (streaming/runner.py); the stream-scoring topology
    (streaming/pipeline.py) alone starts its own query, which it
    returns still running."""
    import pathlib
    import re

    pkg = pathlib.Path("workshop3_etl_spark")

    def files_with(pattern: str) -> set[str]:
        return {
            py.relative_to(pkg).as_posix()
            for py in pkg.rglob("*.py")
            if re.search(pattern, py.read_text())
        }

    assert files_with(r"partitionBy\(\s*['\"]epoch['\"]") <= {
        "streaming/compaction.py"
    }
    # the guard must not go vacuous: the one writer is where the
    # epoch column is stamped
    assert files_with(r"withColumn\(\s*['\"]epoch['\"]") == {
        "streaming/compaction.py"
    }
    assert files_with(r"trigger\(\s*availableNow\s*=\s*True\s*\)") == {
        "streaming/runner.py",
        "streaming/pipeline.py",
    }


def test_partial_orphan_base_dir_is_invisible_and_collected(
    spark, tmp_path
):
    """The dynamic-partition-overwrite rename window: a fold that dies
    MID-RENAME can leave a partially-populated base generation dir
    (some files moved, no manifest). Readers must ignore it entirely
    (even though it contains readable parquet) and the next compaction
    must GC it before folding."""
    import os
    import shutil

    from workshop3_etl_spark.streaming.compaction import read_base_manifest
    from workshop3_etl_spark.streaming.rollup import ROLLUP

    ev = load_table(spark, SF_SMOKE, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    src = str(tmp_path / "src")
    rollup = str(tmp_path / "rollup")
    ck = str(tmp_path / "ck")
    ev.repartition(1).write.parquet(f"{src}/p1")
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    ROLLUP.maintain(stream, rollup, ck)
    expected = sorted(tuple(r) for r in ROLLUP.read(spark, rollup).collect())

    # forge the partial orphan: copy HALF of epoch=0's content into an
    # uncommitted epoch=-2 generation (readable parquet, wrong totals)
    src_dir = next(
        os.path.join(rollup, n)
        for n in os.listdir(rollup)
        if n.startswith("epoch=")
    )
    orphan = os.path.join(rollup, "epoch=-2")
    for day in sorted(os.listdir(src_dir))[:1]:  # one day only = partial
        if day.startswith("day="):
            shutil.copytree(
                os.path.join(src_dir, day), os.path.join(orphan, day)
            )
    assert read_base_manifest(rollup) is None  # still uncommitted

    # readers: the partial generation must not leak into results
    assert (
        sorted(tuple(r) for r in ROLLUP.read(spark, rollup).collect())
        == expected
    ), "a partially-renamed uncommitted base must be invisible"

    # recovery: compaction GCs the orphan, folds, converges
    ROLLUP.compact(spark, rollup, through_epoch=10_000)
    ROLLUP.compact(spark, rollup, through_epoch=10_000)
    dirs = sorted(n for n in os.listdir(rollup) if n.startswith("epoch="))
    assert dirs == ["epoch=-2"]
    assert (
        sorted(tuple(r) for r in ROLLUP.read(spark, rollup).collect())
        == expected
    )


def test_streaming_cms_merge_replay_and_compaction(spark, tmp_path):
    """The incrementally-maintained CMS must equal the batch-built
    sketch EXACTLY for any micro-batch split (mergeability is an
    integer-additive identity, not an approximation), a replayed
    batch must overwrite its own epoch (no double counting), and
    compaction must preserve the merged grid."""
    import os

    from workshop3_etl_spark.streaming.rollup import CMS, _batch_cms_partial

    ev = load_table(spark, SF_SMOKE, "events").select("event_id", "user_id")
    src = str(tmp_path / "src")
    state = str(tmp_path / "cms")
    ck = str(tmp_path / "ck")
    ev.filter(F.col("event_id") % 2 == 0).repartition(1).write.parquet(
        f"{src}/p1"
    )
    ev.filter(F.col("event_id") % 2 == 1).repartition(1).write.parquet(
        f"{src}/p2"
    )

    def stream():
        return (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", "1")
            .option("recursiveFileLookup", "true")
            .parquet(src)
        )

    CMS.maintain(stream(), state, ck)
    n_epochs = sum(1 for n in os.listdir(state) if n.startswith("epoch="))
    assert n_epochs >= 2  # the merge below spans real partials

    batch_grid = sorted(
        tuple(r) for r in _batch_cms_partial(ev, "user_id").collect()
    )
    merged = sorted(
        tuple(r) for r in CMS.read(spark, state).collect()
    )
    assert merged == batch_grid

    # crash-replay: batch 0 rewrites its own epoch — state unchanged.
    # Which half WAS batch 0 is a file-listing-order detail; identify
    # it from the committed epoch instead of assuming, then replay
    # exactly that input.
    epoch0 = sorted(
        tuple(r)
        for r in spark.read.parquet(f"{state}/epoch=0")
        .select("i", "bucket", "c")
        .collect()
    )
    halves = {
        par: ev.filter(F.col("event_id") % 2 == par) for par in (0, 1)
    }
    batch0 = next(
        h
        for h in halves.values()
        if sorted(
            tuple(r) for r in _batch_cms_partial(h, "user_id").collect()
        )
        == epoch0
    )
    CMS.write(batch0, 0, state)
    assert (
        sorted(tuple(r) for r in CMS.read(spark, state).collect())
        == batch_grid
    )

    # compaction folds epochs without changing the merged grid
    CMS.compact(spark, state, through_epoch=10_000)
    CMS.compact(spark, state, through_epoch=10_000)  # deferred GC run
    assert [n for n in os.listdir(state) if n.startswith("epoch=")] == [
        "epoch=-2"
    ]
    assert (
        sorted(tuple(r) for r in CMS.read(spark, state).collect())
        == batch_grid
    )


def test_streaming_hll_merge_duplication_and_compaction(spark, tmp_path):
    """The incrementally-maintained HLL registers must equal the
    batch-built registers for any micro-batch split (per-bucket max
    is associative), AND — unlike the CMS counter sum — must survive
    DUPLICATED delivery: feeding the same rows again under a brand-new
    epoch leaves the merged state unchanged (max is idempotent), so
    correctness does not depend on the replay protocol. Compaction
    must preserve the merged registers."""
    import os

    from workshop3_etl_spark.operators.sketches import hll_register_partial
    from workshop3_etl_spark.streaming.rollup import HLL

    ev = load_table(spark, SF_SMOKE, "events").select("event_id", "user_id")
    src = str(tmp_path / "src")
    state = str(tmp_path / "hll")
    ck = str(tmp_path / "ck")
    ev.filter(F.col("event_id") % 2 == 0).repartition(1).write.parquet(
        f"{src}/p1"
    )
    ev.filter(F.col("event_id") % 2 == 1).repartition(1).write.parquet(
        f"{src}/p2"
    )

    def stream():
        return (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", "1")
            .option("recursiveFileLookup", "true")
            .parquet(src)
        )

    HLL.maintain(stream(), state, ck)
    n_epochs = sum(1 for n in os.listdir(state) if n.startswith("epoch="))
    assert n_epochs >= 2  # the merge below spans real partials

    batch_regs = sorted(
        tuple(r) for r in hll_register_partial(ev, "user_id").collect()
    )
    merged = sorted(
        tuple(r) for r in HLL.read(spark, state).collect()
    )
    assert merged == batch_regs

    # duplicated delivery: the WHOLE input lands again under a fresh
    # epoch (not a replay of an existing one — a genuinely duplicated
    # at-least-once feed). A CMS would double every counter; the
    # register max must not move.
    HLL.write(ev, 99, state)
    assert (
        sorted(tuple(r) for r in HLL.read(spark, state).collect())
        == batch_regs
    )

    # compaction folds epochs without changing the merged registers
    HLL.compact(spark, state, through_epoch=10_000)
    HLL.compact(spark, state, through_epoch=10_000)  # deferred GC run
    assert [n for n in os.listdir(state) if n.startswith("epoch=")] == [
        "epoch=-2"
    ]
    assert (
        sorted(tuple(r) for r in HLL.read(spark, state).collect())
        == batch_regs
    )


def test_streaming_ols_merge_replay_and_compaction(spark, tmp_path):
    """The incrementally-maintained OLS sufficient statistics must
    equal the batch-computed sums EXACTLY for any micro-batch split
    (integer additivity), a replayed batch must overwrite its own
    epoch (no double counting), and compaction must preserve the
    merged statistics."""
    import os

    from workshop3_etl_spark.streaming.rollup import OLS, _batch_ols_partial

    ev = load_table(spark, SF_SMOKE, "events").select(
        "event_id", "ts", "value"
    )
    src = str(tmp_path / "src")
    state = str(tmp_path / "ols")
    ck = str(tmp_path / "ck")
    ev.filter(F.col("event_id") % 2 == 0).repartition(1).write.parquet(
        f"{src}/p1"
    )
    ev.filter(F.col("event_id") % 2 == 1).repartition(1).write.parquet(
        f"{src}/p2"
    )

    def stream():
        return (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", "1")
            .option("recursiveFileLookup", "true")
            .parquet(src)
        )

    OLS.maintain(stream(), state, ck)
    n_epochs = sum(1 for n in os.listdir(state) if n.startswith("epoch="))
    assert n_epochs >= 2  # the merge below spans real partials

    batch_stats = tuple(_batch_ols_partial(ev).collect()[0])
    merged = tuple(OLS.read(spark, state).collect()[0])
    assert merged == batch_stats

    # crash-replay: a batch rewrites its own epoch — state unchanged.
    # Identify batch 0's input from its committed partial row.
    epoch0 = tuple(
        spark.read.parquet(f"{state}/epoch=0")
        .select("n", "sx", "sy", "sxx", "sxy", "syy")
        .collect()[0]
    )
    halves = {
        par: ev.filter(F.col("event_id") % 2 == par) for par in (0, 1)
    }
    batch0 = next(
        h
        for h in halves.values()
        if tuple(_batch_ols_partial(h).collect()[0]) == epoch0
    )
    OLS.write(batch0, 0, state)
    assert tuple(OLS.read(spark, state).collect()[0]) == batch_stats

    # compaction folds epochs without changing the merged statistics
    OLS.compact(spark, state, through_epoch=10_000)
    OLS.compact(spark, state, through_epoch=10_000)  # deferred GC run
    assert [n for n in os.listdir(state) if n.startswith("epoch=")] == [
        "epoch=-2"
    ]
    assert tuple(OLS.read(spark, state).collect()[0]) == batch_stats


def test_streaming_histogram_merge_replay_and_compaction(spark, tmp_path):
    """The incrementally-maintained histogram must equal the
    batch-built bin frame EXACTLY for any micro-batch split (per-bin
    sums are an integer-additive identity), a replayed batch must
    overwrite its own epoch (no double counting), and compaction must
    preserve the merged frame."""
    import os

    from workshop3_etl_spark.streaming.rollup import (
        HISTOGRAM,
        _batch_hist_partial,
    )

    ev = load_table(spark, SF_SMOKE, "events").select("event_id", "value")
    src = str(tmp_path / "src")
    state = str(tmp_path / "hist")
    ck = str(tmp_path / "ck")
    ev.filter(F.col("event_id") % 2 == 0).repartition(1).write.parquet(
        f"{src}/p1"
    )
    ev.filter(F.col("event_id") % 2 == 1).repartition(1).write.parquet(
        f"{src}/p2"
    )

    def stream():
        return (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", "1")
            .option("recursiveFileLookup", "true")
            .parquet(src)
        )

    HISTOGRAM.maintain(stream(), state, ck)
    n_epochs = sum(1 for n in os.listdir(state) if n.startswith("epoch="))
    assert n_epochs >= 2  # the merge below spans real partials

    batch_bins = sorted(
        tuple(r) for r in _batch_hist_partial(ev).collect()
    )
    merged = sorted(tuple(r) for r in HISTOGRAM.read(spark, state).collect())
    assert merged == batch_bins

    # crash-replay: batch 0 rewrites its own epoch — state unchanged.
    epoch0 = sorted(
        tuple(r)
        for r in spark.read.parquet(f"{state}/epoch=0")
        .select("bin", "cnt")
        .collect()
    )
    halves = {
        par: ev.filter(F.col("event_id") % 2 == par) for par in (0, 1)
    }
    batch0 = next(
        h
        for h in halves.values()
        if sorted(tuple(r) for r in _batch_hist_partial(h).collect())
        == epoch0
    )
    HISTOGRAM.write(batch0, 0, state)
    assert (
        sorted(tuple(r) for r in HISTOGRAM.read(spark, state).collect())
        == batch_bins
    )

    # compaction folds epochs without changing the merged frame
    HISTOGRAM.compact(spark, state, through_epoch=10_000)
    HISTOGRAM.compact(spark, state, through_epoch=10_000)  # deferred GC
    assert [n for n in os.listdir(state) if n.startswith("epoch=")] == [
        "epoch=-2"
    ]
    assert (
        sorted(tuple(r) for r in HISTOGRAM.read(spark, state).collect())
        == batch_bins
    )


def test_quantizer_sums_merge_is_batch_split_invariant(spark, tmp_path):
    """The quantizer refresh state must be associative: writing the
    corpus as two epoch partials and merging == the one-shot partial
    over the full frame (the property that makes the streaming
    refresh equal the batch Lloyd update under ANY micro-batch
    split)."""
    from tests.conftest import SF_SMOKE
    from workshop3_etl_spark.streaming.rollup import (
        QUANTIZER,
        _batch_quantizer_partial,
    )

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    state = str(tmp_path / "quant")
    QUANTIZER.write(emb.where("vec_id % 2 = 0"), 0, state)
    QUANTIZER.write(emb.where("vec_id % 2 = 1"), 1, state)
    merged = {
        (r["cell"], r["dim"]): (r["sg"], r["n"])
        for r in QUANTIZER.read(spark, state).collect()
    }
    oneshot = {
        (r["cell"], r["dim"]): (r["sg"], r["n"])
        for r in _batch_quantizer_partial(emb).collect()
    }
    assert merged == oneshot
    # replay idempotence: rewriting epoch 1 must not double-count
    QUANTIZER.write(emb.where("vec_id % 2 = 1"), 1, state)
    merged2 = {
        (r["cell"], r["dim"]): (r["sg"], r["n"])
        for r in QUANTIZER.read(spark, state).collect()
    }
    assert merged2 == oneshot


def test_lm_counts_merge_is_batch_split_invariant(spark, tmp_path):
    """The bigram-LM refresh state must be associative: writing the
    corpus as two epoch partials and merging == the one-shot partial
    over the full frame, and replaying an epoch must not
    double-count — the properties that make the streamed model equal
    the batch training pass under ANY micro-batch split."""
    from tests.conftest import SF_SMOKE
    from workshop3_etl_spark.streaming.rollup import (
        BIGRAM_LM,
        _batch_lm_partial,
    )

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    state = str(tmp_path / "lm")
    BIGRAM_LM.write(docs.where("doc_id % 2 = 0"), 0, state)
    BIGRAM_LM.write(docs.where("doc_id % 2 = 1"), 1, state)
    merged = {
        (r["lang"], r["w1"], r["w2"]): r["c2"]
        for r in BIGRAM_LM.read(spark, state).collect()
    }
    oneshot = {
        (r["lang"], r["w1"], r["w2"]): r["c2"]
        for r in _batch_lm_partial(docs).collect()
    }
    assert merged == oneshot
    # replay idempotence: rewriting epoch 1 must not double-count
    BIGRAM_LM.write(docs.where("doc_id % 2 = 1"), 1, state)
    merged2 = {
        (r["lang"], r["w1"], r["w2"]): r["c2"]
        for r in BIGRAM_LM.read(spark, state).collect()
    }
    assert merged2 == oneshot


def test_bm25_index_merge_is_batch_split_invariant(spark, tmp_path):
    """The BM25 index state must be associative: two epoch partials
    merged == the one-shot partial over the full frame (docs arrive
    in exactly one batch, so df/cf/corpus counts sum correctly), and
    replaying an epoch must not double-count."""
    from tests.conftest import SF_SMOKE
    from workshop3_etl_spark.streaming.rollup import BM25, _batch_bm25_partial

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    state = str(tmp_path / "bm25")
    BM25.write(docs.where("doc_id % 2 = 0"), 0, state)
    BM25.write(docs.where("doc_id % 2 = 1"), 1, state)
    merged = {
        r["term"]: (r["df"], r["cf"])
        for r in BM25.read(spark, state).collect()
    }
    oneshot = {
        r["term"]: (r["df"], r["cf"])
        for r in _batch_bm25_partial(docs).collect()
    }
    assert merged == oneshot
    assert None in merged  # the corpus-stats row
    assert merged[None] == (docs.count(), oneshot[None][1])
    BM25.write(docs.where("doc_id % 2 = 1"), 1, state)
    merged2 = {
        r["term"]: (r["df"], r["cf"])
        for r in BM25.read(spark, state).collect()
    }
    assert merged2 == oneshot


def test_moment_state_merge_is_batch_split_invariant(spark, tmp_path):
    """The covariance-moment state must be associative: two epoch
    partials merged == the one-shot partial over the full frame, and
    replaying an epoch must not double-count — plus the merged state
    must reproduce the exact moment matrix the spectral-norm trainer
    computes in batch."""
    from tests.conftest import SF_SMOKE
    from workshop3_etl_spark.streaming.rollup import (
        MOMENTS,
        _batch_moment_partial,
    )

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    state = str(tmp_path / "mom")
    MOMENTS.write(emb.where("vec_id % 2 = 0"), 0, state)
    MOMENTS.write(emb.where("vec_id % 2 = 1"), 1, state)
    merged = {
        (r["da"], r["db"]): r["v"]
        for r in MOMENTS.read(spark, state).collect()
    }
    oneshot = {
        (r["da"], r["db"]): r["v"]
        for r in _batch_moment_partial(emb).collect()
    }
    assert merged == oneshot
    assert merged[(0, 0)] == emb.count()
    # replay idempotence
    MOMENTS.write(emb.where("vec_id % 2 = 1"), 1, state)
    merged2 = {
        (r["da"], r["db"]): r["v"]
        for r in MOMENTS.read(spark, state).collect()
    }
    assert merged2 == oneshot


def test_novelty_state_merge_is_batch_split_invariant(spark, tmp_path):
    """The novelty state's two merge laws must both hold: per-gram
    first-shard by MIN (associative AND idempotent — merging a
    replayed epoch cannot move a minimum), per-shard counters by SUM
    over disjoint row sets. Two epoch partials merged == the one-shot
    state, replay changes nothing, and a doc_id-split (which CROSSES
    shards) still attributes every gram to its smallest shard."""
    from tests.conftest import SF_SMOKE
    from workshop3_etl_spark.streaming.rollup import (
        NOVELTY,
        _batch_novelty_partial,
        read_novelty_state,
    )

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    state = str(tmp_path / "nov")
    NOVELTY.write(docs.where("doc_id % 2 = 0"), 0, state)
    NOVELTY.write(docs.where("doc_id % 2 = 1"), 1, state)
    firsts, per_shard = read_novelty_state(spark, state)
    merged_f = {r["g"]: r["first_shard"] for r in firsts.collect()}
    merged_s = {
        r["shard"]: (r["n_docs"], r["n_inst"])
        for r in per_shard.collect()
    }
    one = _batch_novelty_partial(docs).collect()
    one_f = {}
    one_s = {}
    for r in one:
        if r["g"] is not None:
            one_f[r["g"]] = min(one_f.get(r["g"], 99), r["shard"])
        else:
            one_s[r["shard"]] = (r["n_docs"], r["n_inst"])
    assert merged_f == one_f
    assert merged_s == one_s
    # replay idempotence (MIN rows truly idempotent, SUM rows via the
    # epoch-partition overwrite)
    NOVELTY.write(docs.where("doc_id % 2 = 1"), 1, state)
    firsts2, per_shard2 = read_novelty_state(spark, state)
    assert {r["g"]: r["first_shard"] for r in firsts2.collect()} == one_f
    assert {
        r["shard"]: (r["n_docs"], r["n_inst"])
        for r in per_shard2.collect()
    } == one_s
    assert sum(v[0] for v in merged_s.values()) == docs.count()
