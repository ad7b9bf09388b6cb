"""Ingest-time deduplication: a foreachBatch job that maintains a
document index (exact fingerprints + MinHash/LSH band keys) and, per
incoming micro-batch,

1. REJECTS exact duplicates — a doc whose normalized-md5 fingerprint
   already exists in the index (or belongs to a smaller doc_id in the
   same batch) is not admitted;
2. FLAGS near-duplicates — admitted docs whose LSH band keys collide
   with the index (or with each other) are recorded as candidate
   pairs in an audit table, but still admitted.

Flag-don't-reject for near-dups is deliberate: rejecting on a fuzzy
match at ingest time creates CHAIN dependence (whether C survives
depends on whether B was rejected for resembling A). With this split,
exactly one doc per fingerprint group survives and the audit holds
the LSH candidate pairs among survivors — no rejection cascades.
WHICH doc represents a duplicate group is first-arrival (ingest order
is dedup priority — the production contract for re-crawls); when
ingestion follows doc_id order, first-arrival coincides with the
batch operators' min-doc_id keepers, and admitted == batch exact
keepers, audit == batch LSH pairs among keepers, which is what
tests/test_streaming_ingest_dedup.py asserts (its slices deliberately
send originals before re-ingested copies) and what the
stream_ingest_dedup oracle relies on (a single driver batch resolves
within-batch groups by min doc_id).

Scale shape: per batch, only (doc_id, fingerprint, band_id, band_key)
rows move — never text. The index probe is an equi-join on fingerprint
/ (band_id, band_key); at corpus scale the index is a bucketed table
on those keys so the probe co-locates without a full index shuffle.
Both tables are written through the shared epoch writer
(streaming/compaction.write_epoch), and the index probe EXCLUDES the
current epoch's partition — so a batch replayed after its write
committed but before the streaming checkpoint did (the crash window)
does not reject its own documents against the half-written index; it
rewrites its epoch partitions from the same inputs (the replay
contract of every maintained state, streaming/compaction.py).

Reference parity: the reference has no streaming dedup; this composes
the brief's dedup family (operators/dedup.py) with the S2-S4
streaming topology.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from workshop3_etl_spark.operators.dedup import (
    doc_fingerprints,
    minhash_band_frame,
)
from workshop3_etl_spark.streaming.compaction import (
    compact_partials,
    read_live,
    write_epoch,
)
from workshop3_etl_spark.streaming.runner import run_available_now

INDEX_COLS = ("doc_id", "fingerprint", "band_id", "band_key")
AUDIT_COLS = ("doc_a", "doc_b")


def _read_or_none(spark: SparkSession, path: str) -> DataFrame | None:
    """Read a table, or None ONLY when it does not exist yet.

    Any other read failure (corrupt footer, transient FS error,
    permissions) must propagate and fail the micro-batch so the
    streaming query replays it — treating those as "empty index"
    would silently re-admit duplicates and write them INTO the index.
    """
    from pyspark.errors import AnalysisException

    try:
        df = read_live(spark, path)
        df.schema  # force resolution
        return df
    except AnalysisException as exc:
        condition = (
            exc.getCondition() if hasattr(exc, "getCondition") else None
        )
        # UNABLE_TO_INFER_SCHEMA covers the directory-exists-but-holds-
        # no-parquet state (e.g. an empty first micro-batch wrote only
        # _SUCCESS) — a deterministic "no index yet", NOT a transient
        # fault; re-raising it would crash-loop the stream, since every
        # replay hits the identical error.
        msg = str(exc)
        for empty_cond in ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"):
            if condition == empty_cond or empty_cond in msg:
                return None
        raise


def ingest_dedup_batch(
    batch: DataFrame,
    epoch_id: int,
    index_path: str,
    audit_path: str,
) -> None:
    """foreachBatch body: admit/reject/flag one micro-batch."""
    spark = batch.sparkSession
    docs = batch.select("doc_id", "text")
    fp = doc_fingerprints(docs)
    index = _read_or_none(spark, index_path)
    if index is not None:
        # replay safety: a crashed-then-replayed batch must not see
        # its own half-committed epoch in the index
        index = index.filter(F.col("epoch") != int(epoch_id))

    # exact-dup rejection: smallest doc_id per fingerprint within the
    # batch wins; anything matching an indexed fingerprint loses.
    keep = (
        fp.withColumn(
            "keeper", F.min("doc_id").over(Window.partitionBy("fingerprint"))
        )
        .filter(F.col("doc_id") == F.col("keeper"))
        .select("doc_id", "fingerprint")
    )
    if index is not None:
        keep = keep.join(
            index.select("fingerprint").distinct(), "fingerprint", "left_anti"
        )

    admitted = docs.join(keep.select("doc_id"), "doc_id")
    # the admitted docs' index rows (fingerprint rides every band row)
    sigs = (
        minhash_band_frame(admitted)
        .join(keep, "doc_id")
        .select(*INDEX_COLS)
        .localCheckpoint(eager=True)  # reused 3x below; cut the lineage
    )

    # near-dup candidate pairs: admitted-vs-index and admitted-vs-
    # admitted, canonically oriented (small id first) so the audit set
    # is arrival-order-independent.
    a, b = sigs.alias("a"), sigs.alias("b")
    pairs = a.join(
        b,
        (F.col("a.band_id") == F.col("b.band_id"))
        & (F.col("a.band_key") == F.col("b.band_key"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
    if index is not None:
        i = index.alias("i")
        n = sigs.alias("n")
        cross = n.join(
            i,
            (F.col("n.band_id") == F.col("i.band_id"))
            & (F.col("n.band_key") == F.col("i.band_key")),
        ).select(
            F.least(F.col("n.doc_id"), F.col("i.doc_id")).alias("doc_a"),
            F.greatest(F.col("n.doc_id"), F.col("i.doc_id")).alias("doc_b"),
        )
        pairs = pairs.unionByName(cross)
    # materialize BEFORE the index write: the audit plan reads the
    # index partitions the epoch write is about to touch
    audit = pairs.distinct().select(*AUDIT_COLS).localCheckpoint(eager=True)
    write_epoch(sigs, epoch_id, index_path)
    write_epoch(audit, epoch_id, audit_path)


def maintain_ingest_dedup(
    spark: SparkSession,
    docs_stream: DataFrame,
    index_path: str,
    audit_path: str,
    checkpoint_dir: str,
) -> None:
    """Run ingest dedup to completion over available files."""
    run_available_now(
        docs_stream.writeStream.foreachBatch(
            lambda b, epoch: ingest_dedup_batch(
                b, epoch, index_path, audit_path
            )
        ),
        checkpoint_dir,
    )


def _read_distinct(
    spark: SparkSession, path: str, cols: tuple[str, ...]
) -> DataFrame:
    """Distinct ``cols`` of a table; no rows when nothing was written
    (an empty epoch writes no partition)."""
    df = _read_or_none(spark, path)
    if df is None:
        return spark.createDataFrame([], ", ".join(f"{c} BIGINT" for c in cols))
    return df.select(*cols).distinct()


def read_admitted_ids(spark: SparkSession, index_path: str) -> DataFrame:
    """Distinct admitted doc_ids from the index (one row per doc)."""
    return _read_distinct(spark, index_path, ("doc_id",))


def read_audit_pairs(spark: SparkSession, audit_path: str) -> DataFrame:
    """Distinct flagged near-dup pairs across all epochs."""
    return _read_distinct(spark, audit_path, AUDIT_COLS)


def compact_index(
    spark: SparkSession, index_path: str, through_epoch: int
) -> None:
    """Fold old index epochs into a base generation via the shared
    crash-safe protocol (streaming/compaction.py). Index rows are row
    state, not additive state — the fold re-partitions them unchanged
    (each doc was admitted in exactly one epoch, so no dedup is
    needed). ``through_epoch`` must be at or below the checkpoint's
    committed batch id: a replayed batch probes ``epoch != its own``
    and re-overwrites its own epoch partition, which only stays
    idempotent while replayable epochs keep their own partitions.
    Probe behavior is unchanged: base epochs are negative, so the
    current-epoch exclusion (always >= 0) never filters folded rows.
    """
    compact_partials(
        spark,
        index_path,
        through_epoch,
        lambda old: old.select(*INDEX_COLS),
    )


def compact_audit(
    spark: SparkSession, audit_path: str, through_epoch: int
) -> None:
    """Same fold for the audit-pair log, with a DISTINCT: the same
    canonical pair can be flagged in several epochs (new doc colliding
    with an indexed one, later another collision in the same pair's
    bucket), and read_audit_pairs reads through a distinct anyway."""
    compact_partials(
        spark,
        audit_path,
        through_epoch,
        lambda old: old.select(*AUDIT_COLS).distinct(),
    )
