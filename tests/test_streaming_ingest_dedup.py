"""Ingest-time dedup: the streaming job's final state must equal the
batch operators — admitted = exact-dedup keepers, audit = LSH
candidate pairs among keepers — regardless of how the corpus was
sliced into micro-batches."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from workshop3_etl_spark.operators.dedup import (
    doc_fingerprints,
    minhash_band_frame,
)
from workshop3_etl_spark.sources.tables import load_table
from workshop3_etl_spark.streaming.ingest_dedup import (
    maintain_ingest_dedup,
    read_admitted_ids,
    read_audit_pairs,
)


def _corpus_with_reingested_copies(spark):
    """The testdata corpus plus re-ingested copies of 20 docs under
    new doc_ids (the classic crawl-refetch shape) — the smoke corpus
    has no native exact dups, so the rejection leg needs real prey."""
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    copies = docs.filter(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + 100_000).alias("doc_id"), "text"
    )
    return docs.unionByName(copies)


def _expected(spark, corpus):
    fp = doc_fingerprints(corpus)
    keepers = (
        fp.groupBy("fingerprint")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    kept_docs = corpus.join(keepers, "doc_id")
    sigs = minhash_band_frame(kept_docs).localCheckpoint(eager=True)
    a, b = sigs.alias("a"), sigs.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    return (
        {r["doc_id"] for r in keepers.collect()},
        {(r["doc_a"], r["doc_b"]) for r in pairs.collect()},
    )


def test_ingest_dedup_matches_batch_and_replays_clean(spark, tmp_path):
    corpus = _corpus_with_reingested_copies(spark)
    exp_admitted, exp_pairs = _expected(spark, corpus)
    n_total = corpus.count()
    assert len(exp_admitted) < n_total, "no exact dups — rejection leg vacuous"
    assert exp_pairs, "no LSH candidates — flagging leg vacuous"

    # slice into 3 ingest batches: originals by thirds, copies last
    # (so re-ingestion probes the INDEX, not just the batch)
    src = str(tmp_path / "src")
    corpus.filter(F.col("doc_id") % 3 == 0).where(
        F.col("doc_id") < 100_000
    ).repartition(1).write.parquet(f"{src}/p1")
    corpus.filter(F.col("doc_id") % 3 != 0).where(
        F.col("doc_id") < 100_000
    ).repartition(1).write.parquet(f"{src}/p2")
    corpus.where(F.col("doc_id") >= 100_000).repartition(1).write.parquet(
        f"{src}/p3"
    )

    def stream():
        return (
            spark.readStream.schema(corpus.schema)
            .option("maxFilesPerTrigger", "1")
            .option("recursiveFileLookup", "true")
            .parquet(src)
        )

    index = str(tmp_path / "index")
    audit = str(tmp_path / "audit")
    ck = str(tmp_path / "ck")
    maintain_ingest_dedup(spark, stream(), index, audit, ck)

    got_admitted = {
        r["doc_id"] for r in read_admitted_ids(spark, index).collect()
    }
    got_pairs = {
        (r["doc_a"], r["doc_b"])
        for r in read_audit_pairs(spark, audit).collect()
    }
    # NOTE: batch keepers are min-doc_id per fingerprint; the stream
    # admits the FIRST-ARRIVED doc per fingerprint. The slicing above
    # sends originals before their +100000 copies, so the two rules
    # agree — which is exactly the production contract (ingest order
    # is dedup priority).
    assert got_admitted == exp_admitted
    assert got_pairs == exp_pairs

    # replay with the same checkpoint and no new files: a no-op
    maintain_ingest_dedup(spark, stream(), index, audit, ck)
    assert {
        r["doc_id"] for r in read_admitted_ids(spark, index).collect()
    } == exp_admitted
    assert {
        (r["doc_a"], r["doc_b"])
        for r in read_audit_pairs(spark, audit).collect()
    } == exp_pairs


def test_index_compaction_preserves_dedup_decisions(spark, tmp_path):
    """maintain -> compact_index/compact_audit -> maintain more: reads
    and admit/reject decisions must be identical to a never-compacted
    run, and the current-epoch probe exclusion must never filter the
    (negative-epoch) base."""
    import os

    from workshop3_etl_spark.streaming.ingest_dedup import (
        compact_audit,
        compact_index,
    )

    corpus = _corpus_with_reingested_copies(spark)
    exp_admitted, exp_pairs = _expected(spark, corpus)

    src = str(tmp_path / "src")
    corpus.filter(F.col("doc_id") % 3 == 0).where(
        F.col("doc_id") < 100_000
    ).repartition(1).write.parquet(f"{src}/p1")
    corpus.filter(F.col("doc_id") % 3 != 0).where(
        F.col("doc_id") < 100_000
    ).repartition(1).write.parquet(f"{src}/p2")

    def stream():
        return (
            spark.readStream.schema(corpus.schema)
            .option("maxFilesPerTrigger", "1")
            .option("recursiveFileLookup", "true")
            .parquet(src)
        )

    index = str(tmp_path / "index")
    audit = str(tmp_path / "audit")
    ck = str(tmp_path / "ck")
    # ingest the originals (2 batches), then fold both epochs
    maintain_ingest_dedup(spark, stream(), index, audit, ck)
    admitted_before = {
        r["doc_id"] for r in read_admitted_ids(spark, index).collect()
    }
    pairs_before = {
        (r["doc_a"], r["doc_b"])
        for r in read_audit_pairs(spark, audit).collect()
    }
    compact_index(spark, index, through_epoch=10_000)
    compact_audit(spark, audit, through_epoch=10_000)
    # cleanup of superseded partials is deferred one run (reader grace
    # window); a second compact garbage-collects them
    compact_index(spark, index, through_epoch=10_000)
    compact_audit(spark, audit, through_epoch=10_000)
    assert sorted(
        n for n in os.listdir(index) if n.startswith("epoch=")
    ) == ["epoch=-2"]
    assert {
        r["doc_id"] for r in read_admitted_ids(spark, index).collect()
    } == admitted_before
    assert {
        (r["doc_a"], r["doc_b"])
        for r in read_audit_pairs(spark, audit).collect()
    } == pairs_before

    # the re-ingested copies arrive AFTER compaction: their exact-dup
    # rejection must probe the folded base successfully
    corpus.where(F.col("doc_id") >= 100_000).repartition(1).write.parquet(
        f"{src}/p3"
    )
    maintain_ingest_dedup(spark, stream(), index, audit, ck)
    assert {
        r["doc_id"] for r in read_admitted_ids(spark, index).collect()
    } == exp_admitted
    assert {
        (r["doc_a"], r["doc_b"])
        for r in read_audit_pairs(spark, audit).collect()
    } == exp_pairs


def test_empty_index_dir_reads_as_no_index(spark, tmp_path):
    """An index directory that exists but holds no parquet (the state
    an empty first micro-batch leaves behind: _SUCCESS only) must read
    as 'no index yet' — re-raising UNABLE_TO_INFER_SCHEMA would
    crash-loop the stream, since a replay deterministically hits the
    same error."""
    import os

    from workshop3_etl_spark.streaming.ingest_dedup import (
        ingest_dedup_batch,
        read_admitted_ids,
    )

    corpus = load_table(spark, SF_SMOKE, "documents").select(
        "doc_id", "text"
    )
    index = str(tmp_path / "index")
    audit = str(tmp_path / "audit")
    # batch 0 is empty; whatever it leaves (possibly nothing), force
    # the worst case: directory exists, no parquet inside
    ingest_dedup_batch(corpus.filter(F.lit(False)), 0, index, audit)
    os.makedirs(index, exist_ok=True)
    open(os.path.join(index, "_SUCCESS"), "w").close()
    # batch 1 must ingest cleanly against the "empty" index
    ingest_dedup_batch(corpus.limit(50), 1, index, audit)
    assert read_admitted_ids(spark, index).count() == 50


def test_audit_reads_empty_when_no_pair_was_ever_flagged(spark, tmp_path):
    """Two unrelated documents flag no near-duplicate pair, so no audit
    partition is ever written; the audit and index reads still return
    frames with their declared columns. The registered stream query
    still equals its DuckDB oracle."""
    import duckdb

    from tests.test_oracle_parity import _canon, _normalize
    from workshop3_etl_spark.plans import registry
    from workshop3_etl_spark.streaming.ingest_dedup import ingest_dedup_batch

    batch = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog near the river bank"),
            (2, "stock markets closed higher on tuesday after the central bank report"),
        ],
        "doc_id BIGINT, text STRING",
    )
    index, audit = str(tmp_path / "index"), str(tmp_path / "audit")
    ingest_dedup_batch(batch, 0, index, audit)
    pairs = read_audit_pairs(spark, audit)
    assert pairs.columns == ["doc_a", "doc_b"] and pairs.count() == 0
    assert read_admitted_ids(spark, str(tmp_path / "none")).count() == 0
    assert {r["doc_id"] for r in read_admitted_ids(spark, index).collect()} == {1, 2}

    q = registry.get("stream_ingest_dedup")
    got = q.fn(spark, SF_SMOKE)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_SMOKE}/documents.parquet'"
    )
    res = con.execute(q.oracle)
    d_norm, _ = _normalize(res.fetchall(), [c[0] for c in res.description])
    con.close()
    s_norm, _ = _normalize([tuple(r) for r in got.collect()], got.columns)
    assert [[_canon(v) for v in r] for r in s_norm] == [
        [_canon(v) for v in r] for r in d_norm
    ]
