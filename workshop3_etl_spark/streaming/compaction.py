"""The epoch-partial state protocol: write, read and crash-safe fold.

Every incremental job in this engine writes its micro-batch output
under ``epoch=<batch id>/...`` partitions through ``write_epoch``: each
micro-batch overwrites only its own epoch, so a batch replayed after
its write committed but before the streaming checkpoint did rewrites
the same partition from the same input (no read-modify-write, no
double count). A maintained-state family (streaming/rollup.py) is an
``EpochState``: its per-batch partial and its merge, nothing else.
Partial-state tables grow one partition per batch; ``compact_partials``
folds old epochs into a base partition WITHOUT ever changing what
readers see, even across crashes:

- Each fold writes its output to a FRESH base generation
  (epoch = -2, -3, -4, ...; epoch = -1 is reserved exclusively for
  the pre-protocol legacy layout, so a crashed FIRST fold can never
  be mistaken for a committed legacy base) and then commits by
  atomically ``os.replace()``-ing a manifest recording the committed
  base epoch and the fold horizon.
- Readers consult the manifest and keep only (committed base) +
  (epochs above the horizon), so a crash at ANY point leaves reads
  exact: an uncommitted new base is an orphan generation readers
  ignore; a committed-but-uncleaned fold leaves stale partitions
  readers ignore.
- The next fold garbage-collects whichever orphans exist before
  folding again. Cleanup of the just-superseded generation is
  DEFERRED to that next run (not done at commit time): readers that
  loaded the previous manifest may still be scanning the old
  partitions, and deleting them mid-scan would fail those queries.
  One compaction interval is the grace window.

The fold itself is pluggable: additive tables (the rollup) fold by
re-aggregating; row tables (the dedup index, audit pairs) fold by
re-partitioning the rows unchanged. Spark ignores the
underscore-prefixed manifest during parquet discovery. (Manifest IO
uses local-path os calls, matching the local-FS layout these jobs
manage; an object-store deployment swaps in its conditional-put
equivalent.)
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from workshop3_etl_spark.sources.lakehouse import dynamic_partition_overwrite
from workshop3_etl_spark.streaming.runner import run_available_now

BASE_MANIFEST = "_state_base.json"


def read_base_manifest(path: str) -> dict | None:
    import json
    import os

    try:
        with open(os.path.join(path, BASE_MANIFEST)) as fh:
            return json.load(fh)
    except FileNotFoundError:
        pass
    # Legacy layout: a pre-protocol compactor wrote its base to
    # epoch=-1 WITHOUT a manifest. Synthesize the manifest it implies
    # (folded_through=-1: nothing above the base is hidden) so readers
    # keep the legacy base and the next fold adopts it instead of
    # garbage-collecting it as an orphan generation.
    try:
        if os.path.isdir(os.path.join(path, "epoch=-1")):
            return {"base_epoch": -1, "folded_through": -1}
    except OSError:
        pass
    return None


def live_filter(manifest: dict | None) -> Column:
    """Partition-pruning predicate selecting only committed state:
    the committed base generation plus epochs newer than the fold
    horizon. With no manifest, nothing was ever folded and every
    epoch >= 0 partial is live (negative = orphan base write)."""
    if manifest is None:
        return F.col("epoch") >= 0
    return (F.col("epoch") == manifest["base_epoch"]) | (
        F.col("epoch") > manifest["folded_through"]
    )


def read_live(spark: SparkSession, path: str) -> DataFrame:
    """Read a partial-state table, pruned to committed state."""
    return spark.read.parquet(path).where(
        live_filter(read_base_manifest(path))
    )


def write_epoch(
    batch: DataFrame,
    epoch_id: int,
    path: str,
    partial: Callable[[DataFrame], DataFrame] = lambda rows: rows,
    partition_cols: Sequence[str] = ("epoch",),
) -> None:
    """foreachBatch body: write ``partial(batch)`` under the batch's
    own ``epoch=`` partition (idempotent under replay). An empty batch
    writes nothing; its partial would be empty too, so the probe runs
    on the raw batch and the partial is computed once, in the write."""
    if batch.isEmpty():
        return
    rows = partial(batch).withColumn("epoch", F.lit(int(epoch_id)))
    # foreachBatch hands over a frame bound to a CLONED SparkSession
    # with its own conf — session-scoped settings (the dynamic
    # partition-overwrite mode below) must be applied to THAT session
    # or the write silently runs in static mode and deletes sibling
    # partitions.
    with dynamic_partition_overwrite(batch.sparkSession):
        rows.write.mode("overwrite").partitionBy(*partition_cols).parquet(
            path
        )


def compact_partials(
    spark: SparkSession,
    path: str,
    through_epoch: int,
    fold: Callable[[DataFrame], DataFrame],
    partition_cols: Sequence[str] = ("epoch",),
) -> None:
    """Fold every committed epoch partition <= ``through_epoch`` (plus
    the current base) into a fresh base generation.

    ``fold`` receives the live rows at or below the horizon and must
    return the folded rows WITHOUT an epoch column; results of
    ``read_live`` are identical before and after (``fold`` must be a
    pure re-layout: re-aggregation of additive state, or identity for
    row state). ``through_epoch`` must be at or below the streaming
    checkpoint's committed batch id — epochs the source could still
    replay must keep their own partitions so a replayed batch
    overwrites itself rather than double-landing next to folded
    state.
    """
    import json
    import os
    import shutil

    manifest = read_base_manifest(path)
    base = manifest["base_epoch"] if manifest else None
    horizon = manifest["folded_through"] if manifest else None

    # 1. Recover from any half-completed prior fold: delete base
    # generations other than the committed one and epoch partials at
    # or below the committed horizon. Readers already exclude these;
    # this reclaims the space and restores the layout invariant.
    survivors: list[int] = []
    for name in os.listdir(path):
        if not name.startswith("epoch="):
            continue
        v = int(name.split("=", 1)[1])
        orphan_base = v < 0 and v != (base if base is not None else 0)
        folded_leftover = horizon is not None and 0 <= v <= horizon
        if orphan_base or folded_leftover:
            shutil.rmtree(os.path.join(path, name))
        else:
            survivors.append(v)

    # 2. Fold committed state at or below through_epoch (the current
    # base's negative epoch always qualifies) into a fresh generation.
    # The recorded horizon is clamped to the max epoch ACTUALLY folded
    # — recording through_epoch itself would hide future batches whose
    # ids land at or below it.
    folding = [v for v in survivors if 0 <= v <= through_epoch]
    if not folding:
        return  # nothing new to fold; keep the current generation
    fold_horizon = max(folding)
    live = spark.read.parquet(path).where(live_filter(manifest))
    old = live.filter(F.col("epoch") <= fold_horizon)
    # -1 is reserved for the legacy manifest-less layout: if a first
    # fold wrote epoch=-1 and crashed before the manifest commit,
    # read_base_manifest would adopt the UNCOMMITTED base as a
    # committed legacy one (folded_through=-1 keeps every epoch >= 0
    # live too — double-counting each folded epoch). Starting at -2
    # makes a crashed first fold an unambiguous orphan that step 1
    # garbage-collects.
    new_base = -2 if base is None else base - 1
    folded = (
        fold(old)
        .withColumn("epoch", F.lit(new_base))
        # materialize BEFORE deleting the partitions it was read from
        .localCheckpoint(eager=True)
    )
    if not folded.take(1):
        return
    with dynamic_partition_overwrite(spark):
        folded.write.mode("overwrite").partitionBy(
            *partition_cols
        ).parquet(path)

    # 3. Commit: atomic manifest replace flips readers to the new
    # generation in one step.
    tmp = os.path.join(path, BASE_MANIFEST + ".tmp")
    with open(tmp, "w") as fh:
        json.dump(
            {"base_epoch": new_base, "folded_through": int(fold_horizon)},
            fh,
        )
    os.replace(tmp, os.path.join(path, BASE_MANIFEST))

    # 4. NO eager cleanup. The superseded base and folded epoch dirs
    # are left for step 1 of the NEXT run: a reader that loaded the
    # previous manifest before this commit may still be mid-scan over
    # them, and deleting files under a running query fails it. Readers
    # that load the new manifest already exclude the stale dirs, so
    # correctness is unaffected either way; the next compaction
    # reclaims the space after a full interval's grace window.


@dataclass(frozen=True)
class EpochState:
    """A maintained-state family, declared by two functions: ``partial``
    turns one micro-batch into state rows, and ``merge`` folds any set
    of state rows (the live partials at read, the old epochs at
    compaction) into the same columns, minus ``epoch``. The merge must
    be associative (integer sums, maxes, mins), so a read after any
    micro-batch split or any compaction is the same."""

    partial: Callable[[DataFrame], DataFrame]
    merge: Callable[[DataFrame], DataFrame]
    partition_cols: tuple[str, ...] = ("epoch",)

    def write(self, batch: DataFrame, epoch_id: int, path: str) -> None:
        """One micro-batch's partial under its epoch partition."""
        write_epoch(batch, epoch_id, path, self.partial, self.partition_cols)

    def maintain(
        self, stream: DataFrame, path: str, checkpoint_dir: str
    ) -> None:
        """Run the maintenance job over everything available now."""
        run_available_now(
            stream.writeStream.foreachBatch(
                lambda batch, epoch_id: self.write(batch, epoch_id, path)
            ),
            checkpoint_dir,
        )

    def read(self, spark: SparkSession, path: str) -> DataFrame:
        """The merged state over the live partials."""
        return self.merge(read_live(spark, path))

    def compact(
        self, spark: SparkSession, path: str, through_epoch: int
    ) -> None:
        """Fold committed epochs <= ``through_epoch`` into a new base
        generation (see ``compact_partials`` for the horizon rule)."""
        compact_partials(
            spark, path, through_epoch, self.merge, self.partition_cols
        )
