"""Deduplication operators over the ``documents`` table.

The LLM-pipeline dedup family (BASELINE.json north star):

- exact dedup — hash-groupBy on a normalized fingerprint
- MinHash + LSH — shingle → k min-hashes → banded bucket join
- n-gram Jaccard — blocked pairwise token-set similarity
- SimHash — bitwise-majority token-hash signature + Hamming buckets

Portability design: every hash is md5 (the one hash Spark and DuckDB
share). MinHash signatures are the lexicographic MIN of disjoint
4-hex slices of each shingle's md5 digest (k hash functions from ONE
digest computation) — min() over strings is associative and
engine-independent, so even the LSH pipeline is oracle-checkable.

Scale notes (the real design target):
- Exact dedup: one shuffle on the 16-byte fingerprint. At 100 TB,
  shuffle fingerprints only (project text away first) — done here.
- MinHash: shingling is map-only; the signature is ONE groupBy(doc)
  with k min() aggregates (map-side combinable — the shuffle carries
  k×32-byte partial minima per doc, not shingles). Banding re-keys
  doc→(band, slice) pairs — k/r small shuffles of tiny rows. The
  candidate join is self-equi-join on band keys; skewed buckets
  (boilerplate docs) are exactly what AQE skew-join splitting
  handles.
- Pairwise Jaccard runs ONLY on LSH/block candidates, never all
  pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from workshop3_etl_spark.functions.cache import (
    materialize_and_release,
    release_checkpoint,
    tracked_local_checkpoint,
)
from workshop3_etl_spark.plans.registry import register
from workshop3_etl_spark.sources.tables import load_table, scan_parallel

_TOKENS = "filter(split(text, ' '), x -> x != '')"
_TOKENS_DUCK = "list_filter(string_split(text, ' '), x -> x <> '')"

# MinHash configuration: 8 hash functions in 4 bands of 2 rows.
_N_HASHES = 8
_N_BANDS = 4
_ROWS_PER_BAND = _N_HASHES // _N_BANDS


def doc_fingerprints(docs: DataFrame) -> DataFrame:
    """(doc_id, fingerprint): normalized-md5 exact-dedup key — the
    single definition shared by the batch query and the streaming
    ingest-dedup job."""
    normalized = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    return docs.select(
        "doc_id", F.md5(normalized.cast("binary")).alias("fingerprint")
    )


def minhash_wide_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, band0..band{n-1}): MinHash band keys per document —
    shingle(5-char) -> one md5 per shingle -> per-doc min of k digest
    slices (ONE map-side-combinable groupBy) -> banded md5 keys."""
    shingled = docs.select(
        "doc_id", F.explode(F.expr(_shingle_sql_spark())).alias("shingle")
    ).select("doc_id", F.md5(F.col("shingle").cast("binary")).alias("digest"))
    sig_aggs = [
        F.min(F.substring("digest", i * 4 + 1, 4)).alias(f"h{i}")
        for i in range(_N_HASHES)
    ]
    minhash = shingled.groupBy("doc_id").agg(*sig_aggs)
    band_cols = [
        F.md5(
            F.concat(
                *[F.col(f"h{b * _ROWS_PER_BAND + r}") for r in range(_ROWS_PER_BAND)]
            ).cast("binary")
        ).alias(f"band{b}")
        for b in range(_N_BANDS)
    ]
    return minhash.select("doc_id", *band_cols)


def minhash_band_frame(docs: DataFrame) -> DataFrame:
    """(doc_id, band_id, band_key): the exploded LSH index rows."""
    wide = minhash_wide_signatures(docs)
    return wide.select(
        "doc_id",
        F.posexplode(
            F.array(*[F.col(f"band{b}") for b in range(_N_BANDS)])
        ).alias("band_id", "band_key"),
    )


# --------------------------------------------------------------------
# Exact deduplication.
# --------------------------------------------------------------------

_EXACT_ORACLE = """
WITH fp AS (
  SELECT doc_id,
         md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint
  FROM documents
),
groups AS (
  SELECT fingerprint,
         CAST(COUNT(*) AS BIGINT) AS group_size,
         CAST(MIN(doc_id) AS BIGINT) AS keeper_doc_id
  FROM fp GROUP BY fingerprint
)
SELECT
  CAST(COUNT(*) AS BIGINT) AS n_groups,
  CAST(SUM(group_size) AS BIGINT) AS n_docs,
  CAST(SUM(group_size) - COUNT(*) AS BIGINT) AS n_duplicates_removed,
  CAST(SUM(CASE WHEN group_size > 1 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_dup_groups
FROM groups
"""


@register("dedup_exact_documents", oracle=_EXACT_ORACLE)
def dedup_exact_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup summary via normalized-md5 hash-groupBy.

    Only (doc_id, fingerprint) is shuffled — the text column is
    projected away before the exchange, which is the difference
    between shuffling 32 bytes/doc and shuffling the corpus.
    """
    docs = load_table(spark, sf_dir, "documents")
    groups = (
        doc_fingerprints(docs)
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("group_size"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
    )
    return groups.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum("group_size").cast("long").alias("n_docs"),
        (F.sum("group_size") - F.count(F.lit(1)))
        .cast("long")
        .alias("n_duplicates_removed"),
        F.sum((F.col("group_size") > 1).cast("int"))
        .cast("long")
        .alias("n_dup_groups"),
    )


# --------------------------------------------------------------------
# Exact dedup on a business key (relational flavor — same-day repeat
# orders per customer; the upsert key-match semantics of S4/J1).
# --------------------------------------------------------------------

_KEYDUP_ORACLE = """
WITH g AS (
  SELECT o_custkey, CAST(o_orderdate AS DATE) AS order_day,
         CAST(COUNT(*) AS BIGINT) AS n_orders
  FROM orders
  GROUP BY 1, 2
)
SELECT
  CAST(COUNT(*) AS BIGINT) AS n_cust_days,
  CAST(SUM(CASE WHEN n_orders > 1 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_dup_cust_days,
  CAST(SUM(CASE WHEN n_orders > 1 THEN n_orders - 1 ELSE 0 END) AS BIGINT)
    AS n_excess_orders
FROM g
"""


@register("dedup_key_orders_same_day", oracle=_KEYDUP_ORACLE)
def dedup_key_orders_same_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate detection on a composite business key
    (customer, order-day) — the batch form of the reference's
    idempotent upsert key (`kafka/consumer.py:90`)."""
    orders = load_table(spark, sf_dir, "orders")
    g = orders.groupBy(
        "o_custkey", F.col("o_orderdate").cast("date").alias("order_day")
    ).agg(F.count(F.lit(1)).alias("n_orders"))
    return g.agg(
        F.count(F.lit(1)).alias("n_cust_days"),
        F.sum((F.col("n_orders") > 1).cast("int")).cast("long")
        .alias("n_dup_cust_days"),
        F.sum(
            F.when(F.col("n_orders") > 1, F.col("n_orders") - 1).otherwise(0)
        ).cast("long").alias("n_excess_orders"),
    )


# --------------------------------------------------------------------
# MinHash + LSH near-duplicate candidates.
# --------------------------------------------------------------------

def _shingle_sql_spark() -> str:
    # 5-gram character shingles of the normalized text.
    return (
        "transform(sequence(1, greatest(1, length(text) - 4)),"
        " i -> substring(text, i, 5))"
    )


def _shingle_sql_duck() -> str:
    return (
        "list_transform(generate_series(1, greatest(1, length(text) - 4)),"
        " i -> substr(text, CAST(i AS INT), 5))"
    )


def _minhash_pairs_cte(src: str = "documents") -> str:
    """The shared WITH-body producing the LSH candidate ``pairs``
    CTE over ``src`` — composed by the candidate summary oracle, the
    connected-components oracle, and the streaming ingest-dedup
    oracle (which restricts ``src`` to the exact-dedup keepers)."""
    # one md5 per shingle; the k "hash functions" are disjoint 4-hex
    # slices of the digest (independent enough for min-hashing, and
    # 8x fewer digest computations than salted per-function hashes)
    sig_aggs = ",\n    ".join(
        f"MIN(substr(md5(shingle), {i * 4 + 1}, 4)) AS h{i}"
        for i in range(_N_HASHES)
    )
    band_exprs = ",\n    ".join(
        "md5("
        + " || ".join(
            f"h{b * _ROWS_PER_BAND + r}" for r in range(_ROWS_PER_BAND)
        )
        + f") AS band{b}"
        for b in range(_N_BANDS)
    )
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_id, band{b} AS band_key FROM sigs"
        for b in range(_N_BANDS)
    )
    return f"""shingled AS (
  SELECT doc_id, unnest({_shingle_sql_duck()}) AS shingle
  FROM {src}
),
minhash AS (
  SELECT doc_id,
    {sig_aggs}
  FROM shingled GROUP BY doc_id
),
sigs AS (
  SELECT doc_id,
    {band_exprs}
  FROM minhash
),
bands AS ({band_selects}),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_key = b.band_key
   AND a.doc_id < b.doc_id
)"""


def _minhash_oracle() -> str:
    return f"""
WITH {_minhash_pairs_cte()}
SELECT
  CAST(COUNT(*) AS BIGINT) AS n_candidate_pairs,
  CAST(COUNT(DISTINCT doc_a) AS BIGINT) AS n_docs_with_candidates
FROM pairs
"""


def _minhash_candidate_pairs(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Build the LSH candidate pair frame; returns (pairs, sigs) where
    ``sigs`` is the persisted signature index the caller must release
    via materialize_and_release."""
    # scan_parallel: the shingle->md5 kernel is the cost (5-char
    # shingles, one digest each — ~50x the row count in md5 calls);
    # on the one-row-group testdata layout a bare scan runs it on ONE
    # task (guide §2.5) — measured 16.6s -> the repartition spreads
    # the kernel across the session's cores.
    docs = scan_parallel(spark, sf_dir, "documents").select("doc_id", "text")
    # Persist the signature table: the band union + self-join below
    # reference it 2 x _N_BANDS times, and without a materialization
    # boundary Spark would recompute the whole shingle -> md5 ->
    # groupBy pipeline for every branch. The persisted frame is tiny
    # (doc_id + 4 x 32-hex strings) — in production it's the stored
    # index artifact, exactly like the LSH ANN signatures.
    sigs = minhash_wide_signatures(docs).persist()
    sigs.count()
    # ONE posexplode scan of the signature frame (a 4-branch union
    # would rescan it per band). The self-join below stays a shuffle
    # join on (band_id, band_key) deliberately: the bands frame is
    # O(corpus), never broadcastable at real scale.
    bands = sigs.select(
        "doc_id",
        F.posexplode(
            F.array(*[F.col(f"band{b}") for b in range(_N_BANDS)])
        ).alias("band_id", "band_key"),
    )
    a = bands.alias("a")
    b_ = bands.alias("b")
    pairs = (
        a.join(
            b_,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    return pairs, sigs


@register("dedup_minhash_lsh_candidates", oracle=_minhash_oracle())
def dedup_minhash_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(8)/LSH(4 bands × 2) near-dup candidate-pair summary.

    Pipeline: shingle(5-char) → one md5 per shingle → per-doc min of
    k digest slices (ONE map-side-combinable groupBy) → band keys →
    self-join on (band, key) → distinct pairs. Signatures are
    lexicographic-min hex strings, so Spark and DuckDB agree
    bit-for-bit.
    """
    pairs, sigs = _minhash_candidate_pairs(spark, sf_dir)
    result = pairs.agg(
        F.count(F.lit(1)).alias("n_candidate_pairs"),
        F.countDistinct("doc_a").alias("n_docs_with_candidates"),
    )
    return materialize_and_release(result, sigs)


# --------------------------------------------------------------------
# Connected components over the LSH candidate graph: duplicate
# CLUSTERS, not just pairs — the step that turns near-dup candidates
# into "keep one representative per group" decisions.
# --------------------------------------------------------------------

def connected_component_labels(edges: DataFrame, max_rounds: int = 30) -> DataFrame:
    """FRONTIER-based min-label propagation with pointer jumping over
    a SYMMETRIC (src, dst) edge frame; returns (doc, comp) where comp
    is the min node id of the node's component.

    Each round: (1) neighbor propagation — but only labels that
    CHANGED last round (the frontier) are joined against the edge
    table, because an unchanged label was already propagated the round
    it last changed; (2) pointer jumping — label := label(label) over
    the full (node-sized, edge-free) label table. Converges in O(log
    diameter) rounds; an EMPTY frontier is the fixpoint (labels only
    decrease, so no change this round means no change ever after).

    Why the frontier matters at scale: on LSH candidate graphs most
    components are pairs/triangles that settle in round 1-2, so from
    round 2 on the expensive edges-side join carries a tiny fraction
    of nodes instead of all of them — the per-round cost tracks the
    still-active subgraph, not the corpus. Labels are
    localCheckpoint'ed per round to cut the iterative lineage — the
    classic iterative-Spark failure mode.

    Property-tested against a Python union-find on random graphs
    (tests/test_determinism_properties.py).
    """
    labels = tracked_local_checkpoint(
        edges.select(F.col("src").alias("doc"))
        .distinct()
        .select("doc", F.col("doc").alias("comp"))
    )
    frontier = labels  # round 1: every node is new
    prev_ckpt = labels  # checkpoint backing labels+frontier this round
    for _ in range(max_rounds):
        nbr = (
            edges.join(frontier, edges.src == frontier.doc)
            .groupBy(F.col("dst").alias("doc"))
            .agg(F.min("comp").alias("nbr_comp"))
        )
        stepped = (
            labels.join(nbr, "doc", "left")
            .select(
                "doc",
                F.col("comp").alias("comp0"),
                F.least(
                    F.col("comp"), F.coalesce(F.col("nbr_comp"), F.col("comp"))
                ).alias("comp"),
            )
        )
        # pointer jumping: comp := comp(comp)
        parent = stepped.select(
            F.col("doc").alias("pdoc"), F.col("comp").alias("pcomp")
        )
        jumped = tracked_local_checkpoint(
            stepped.join(parent, stepped.comp == parent.pdoc, "left")
            .select(
                "doc",
                "comp0",
                F.least(
                    F.col("comp"), F.coalesce(F.col("pcomp"), F.col("comp"))
                ).alias("comp"),
            )
        )
        # supersede discipline: jumped is materialized, so the
        # checkpoint backing last round's labels/frontier can go —
        # without this every round leaks its blocks until the async
        # ContextCleaner gets to them (measured +5 per CC run).
        release_checkpoint(prev_ckpt)
        prev_ckpt = jumped
        labels = jumped.select("doc", "comp")
        frontier = jumped.filter(F.col("comp") < F.col("comp0")).select(
            "doc", "comp"
        )
        if frontier.limit(1).count() == 0:
            break
    # ``labels`` is a projection of the final round's checkpoint; hand
    # the backing frame to callers for release via the attribute the
    # registry queries pass into materialize_and_release.
    labels._ckpt_source = prev_ckpt
    return labels


_CC_ORACLE = f"""
WITH RECURSIVE {_minhash_pairs_cte()},
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
nodes AS (SELECT DISTINCT src AS doc FROM edges),
reach(doc, lab) AS (
  SELECT doc, doc FROM nodes
  UNION
  SELECT e.dst, r.lab FROM reach r JOIN edges e ON r.doc = e.src
),
comps AS (
  SELECT doc, MIN(lab) AS comp FROM reach GROUP BY doc
),
sizes AS (
  SELECT comp, COUNT(*) AS sz FROM comps GROUP BY comp
)
SELECT
  CAST(COUNT(*) AS BIGINT) AS n_components,
  CAST(SUM(sz) AS BIGINT) AS n_clustered_docs,
  CAST(MAX(sz) AS BIGINT) AS max_component_size,
  CAST(SUM(sz - 1) AS BIGINT) AS n_removable_duplicates
FROM sizes
"""


@register("dedup_connected_components", oracle=_CC_ORACLE)
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster summary: connected components of the MinHash/
    LSH candidate graph via iterative min-label propagation with
    pointer jumping.

    Each round does (1) neighbor propagation — every node takes the
    min label over itself and its neighbors — and (2) pointer jumping
    — label := label(label) — which together converge in O(log
    diameter) rounds (the hash-to-min / pointer-doubling scheme from
    the MapReduce connected-components literature). Convergence is
    detected by the monotone sum(label) invariant: labels only ever
    decrease, so an unchanged sum IS the fixpoint, checked with one
    tiny aggregate per round instead of a full old-vs-new join.

    Scale notes: state per round is one (doc, label) frame — ids
    only, localCheckpoint'ed each round to cut the iterative lineage
    (classic iterative-Spark failure mode). Each round is two
    key-partitioned joins + one aggregate; the edge frame is persisted
    once. The fixpoint is the per-component min doc_id, so the result
    is deterministic regardless of iteration schedule — which is what
    lets a recursive-CTE oracle check it.

    Reference parity: the reference has no graph/dedup machinery at
    all (its dedup is pandas drop_duplicates, SURVEY §2.5); this is
    north-star scope.
    """
    pairs, sigs = _minhash_candidate_pairs(spark, sf_dir)
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(
            pairs.select(
                F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
            )
        )
        .persist()
    )
    labels = connected_component_labels(edges)
    sizes = labels.groupBy("comp").agg(F.count(F.lit(1)).alias("sz"))
    result = sizes.agg(
        F.count(F.lit(1)).alias("n_components"),
        F.sum("sz").cast("long").alias("n_clustered_docs"),
        F.max("sz").alias("max_component_size"),
        F.sum(F.col("sz") - 1).cast("long").alias("n_removable_duplicates"),
    )
    return materialize_and_release(
        result, sigs, edges, labels._ckpt_source
    )


# --------------------------------------------------------------------
# n-gram Jaccard near-dup pairs (blocked pairwise).
# --------------------------------------------------------------------

_JACCARD_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, lang, source, list_distinct({_TOKENS_DUCK}) AS tokens
  FROM documents
),
pairs AS (
  SELECT
    a.doc_id AS doc_a,
    b.doc_id AS doc_b,
    CAST(len(list_intersect(a.tokens, b.tokens)) AS DOUBLE)
      / CAST(len(list_distinct(list_concat(a.tokens, b.tokens))) AS DOUBLE)
      AS jaccard
  FROM toks a JOIN toks b
    ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
)
SELECT
  CAST(COUNT(*) AS BIGINT) AS n_blocked_pairs,
  CAST(SUM(CASE WHEN jaccard >= 0.8 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_near_dups_08,
  CAST(SUM(CASE WHEN jaccard >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_near_dups_05,
  CAST(SUM(CAST(jaccard AS decimal(27,6))) AS DOUBLE) AS sum_jaccard
FROM pairs
"""


@register("dedup_ngram_jaccard_blocked", oracle=_JACCARD_ORACLE)
def dedup_ngram_jaccard_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-set Jaccard over (lang, source)-blocked pairs.

    Blocking bounds the quadratic term to within-block sizes; the
    production path uses LSH candidates as the block instead.
    Set ops are JVM built-ins (array_intersect/array_distinct) —
    both engines produce distinct-element sets, so |∩|/|∪| is an
    integer ratio → identical doubles.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "lang",
        "source",
        F.expr(f"array_distinct({_TOKENS})").alias("tokens"),
    )
    a = toks.alias("a")
    b = toks.alias("b")
    jaccard = (
        F.size(F.array_intersect(F.col("a.tokens"), F.col("b.tokens"))).cast("double")
        / F.size(F.array_distinct(F.concat(F.col("a.tokens"), F.col("b.tokens"))))
        .cast("double")
    )
    pairs = (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.source") == F.col("b.source"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(jaccard.alias("jaccard"))
    )
    return pairs.agg(
        F.count(F.lit(1)).alias("n_blocked_pairs"),
        F.sum((F.col("jaccard") >= 0.8).cast("int")).cast("long")
        .alias("n_near_dups_08"),
        F.sum((F.col("jaccard") >= 0.5).cast("int")).cast("long")
        .alias("n_near_dups_05"),
        F.sum(F.col("jaccard").cast("decimal(27,6)")).cast("double")
        .alias("sum_jaccard"),
    )


# --------------------------------------------------------------------
# SimHash signatures (16-bit portable variant over the first 4 md5 hex
# chars per token: bit j of the signature is the majority vote of bit
# j across token hashes).
# --------------------------------------------------------------------

def _simhash_bits_duck() -> str:
    # value of hex digit at position p (1-based): strpos is 1-based.
    bit_exprs = []
    for j in range(16):
        hexpos = j // 4 + 1
        bit = j % 4
        digit = f"(strpos('0123456789abcdef', substr(h, {hexpos}, 1)) - 1)"
        bit_exprs.append(f"CAST(({digit} // {2 ** bit}) % 2 AS INT) AS bit{j}")
    return ",\n    ".join(bit_exprs)


def _simhash_oracle() -> str:
    bit_sums = ",\n    ".join(
        f"SUM(bit{j}) AS s{j}, COUNT(*) AS n{j}" if j == 0 else f"SUM(bit{j}) AS s{j}"
        for j in range(16)
    )
    sig_concat = " || ".join(
        f"(CASE WHEN 2 * s{j} >= n0 THEN '1' ELSE '0' END)" for j in range(16)
    )
    return f"""
WITH tok AS (
  SELECT doc_id, md5(unnest({_TOKENS_DUCK})) AS h
  FROM documents
),
bits AS (
  SELECT doc_id,
    {_simhash_bits_duck()}
  FROM tok
),
agg AS (
  SELECT doc_id,
    {bit_sums}
  FROM bits GROUP BY doc_id
),
sigs AS (
  SELECT doc_id, {sig_concat} AS simhash FROM agg
)
SELECT
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(COUNT(DISTINCT simhash) AS BIGINT) AS n_distinct_signatures,
  CAST(MAX(cnt) AS BIGINT) AS max_bucket_size
FROM sigs
JOIN (SELECT simhash AS sh, COUNT(*) AS cnt FROM sigs GROUP BY 1) b
  ON sigs.simhash = b.sh
"""


@register("dedup_simhash_signatures", oracle=_simhash_oracle())
def dedup_simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash signature distribution (majority-vote bits).

    The production variant is 64-bit with weighted tokens; the
    pipeline shape (token-hash → per-bit vote → per-doc signature →
    bucket count) is identical and all JVM-side.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tok = docs.select(
        "doc_id", F.explode(F.expr(_TOKENS)).alias("token")
    ).select("doc_id", F.md5(F.col("token").cast("binary")).alias("h"))
    bit_cols = []
    for j in range(16):
        hexpos = j // 4 + 1
        bit = j % 4
        digit = (
            F.expr(f"instr('0123456789abcdef', substring(h, {hexpos}, 1))") - 1
        )
        bit_cols.append(
            ((digit / (2 ** bit)).cast("int") % 2).cast("int").alias(f"bit{j}")
        )
    bits = tok.select("doc_id", *bit_cols)
    aggs = [F.count(F.lit(1)).alias("n0")] + [
        F.sum(f"bit{j}").alias(f"s{j}") for j in range(16)
    ]
    agg = bits.groupBy("doc_id").agg(*aggs)
    sig = F.concat(
        *[
            F.when(2 * F.col(f"s{j}") >= F.col("n0"), "1").otherwise("0")
            for j in range(16)
        ]
    ).alias("simhash")
    sigs = agg.select("doc_id", sig)
    buckets = sigs.groupBy("simhash").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        sigs.join(buckets, "simhash")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("simhash").alias("n_distinct_signatures"),
            F.max("cnt").cast("long").alias("max_bucket_size"),
        )
    )


# --------------------------------------------------------------------
# SimHash Hamming-distance near-dup pairs: pigeonhole blocking on
# 4-bit signature quarters (any pair with hamming <= 3 shares at
# least one exact quarter), then exact Hamming on candidates.
# --------------------------------------------------------------------

def _simhash_sigs_cte() -> str:
    """The shared WITH-clauses producing sigs(doc_id, simhash)."""
    bit_sums = ",\n    ".join(
        f"SUM(bit{j}) AS s{j}, COUNT(*) AS n{j}" if j == 0 else f"SUM(bit{j}) AS s{j}"
        for j in range(16)
    )
    sig_concat = " || ".join(
        f"(CASE WHEN 2 * s{j} >= n0 THEN '1' ELSE '0' END)" for j in range(16)
    )
    return f"""
WITH tok AS (
  SELECT doc_id, md5(unnest({_TOKENS_DUCK})) AS h
  FROM documents
),
bits AS (
  SELECT doc_id,
    {_simhash_bits_duck()}
  FROM tok
),
agg AS (
  SELECT doc_id,
    {bit_sums}
  FROM bits GROUP BY doc_id
),
sigs AS (
  SELECT doc_id, {sig_concat} AS simhash FROM agg
)"""


_HAMMING_ORACLE = f"""{_simhash_sigs_cte()},
blocks AS (
  SELECT doc_id, simhash, q AS quarter_id,
         substr(simhash, q * 4 + 1, 4) AS quarter
  FROM sigs, (SELECT unnest([0, 1, 2, 3]) AS q)
),
cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS sig_a, b.simhash AS sig_b
  FROM blocks a JOIN blocks b
    ON a.quarter_id = b.quarter_id AND a.quarter = b.quarter
   AND a.doc_id < b.doc_id
),
measured AS (
  SELECT doc_a, doc_b, hamming(sig_a, sig_b) AS dist FROM cands
)
SELECT
  CAST(COUNT(*) AS BIGINT) AS n_candidate_pairs,
  CAST(SUM(CASE WHEN dist <= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_within_3,
  CAST(SUM(CASE WHEN dist = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_identical
FROM measured
"""


@register("dedup_simhash_hamming_pairs", oracle=_HAMMING_ORACLE)
def dedup_simhash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= 3.

    Pigeonhole guarantee: a 16-bit signature split into 4 quarters —
    any pair differing in <= 3 bits matches exactly on >= 1 quarter,
    so the quarter-block join has NO false negatives for the
    threshold; exact Hamming then filters false positives. Same
    persist-the-index discipline as MinHash.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tok = docs.select(
        "doc_id", F.explode(F.expr(_TOKENS)).alias("token")
    ).select("doc_id", F.md5(F.col("token").cast("binary")).alias("h"))
    bit_cols = []
    for j in range(16):
        hexpos = j // 4 + 1
        bit = j % 4
        digit = (
            F.expr(f"instr('0123456789abcdef', substring(h, {hexpos}, 1))") - 1
        )
        bit_cols.append(
            ((digit / (2 ** bit)).cast("int") % 2).cast("int").alias(f"bit{j}")
        )
    bits = tok.select("doc_id", *bit_cols)
    aggs = [F.count(F.lit(1)).alias("n0")] + [
        F.sum(f"bit{j}").alias(f"s{j}") for j in range(16)
    ]
    agg = bits.groupBy("doc_id").agg(*aggs)
    sig = F.concat(
        *[
            F.when(2 * F.col(f"s{j}") >= F.col("n0"), "1").otherwise("0")
            for j in range(16)
        ]
    ).alias("simhash")
    sigs = agg.select("doc_id", sig).persist()
    sigs.count()

    # ONE posexplode scan of the signature frame (vs a 4-branch union
    # rescanning it per quarter).
    blocks = sigs.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(*[F.substring("simhash", q * 4 + 1, 4) for q in range(4)])
        ).alias("quarter_id", "quarter"),
    )
    a = blocks.alias("a")
    b = blocks.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.quarter_id") == F.col("b.quarter_id"))
            & (F.col("a.quarter") == F.col("b.quarter"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sig_a"),
            F.col("b.simhash").alias("sig_b"),
        )
        .distinct()
    )
    dist = F.expr(
        "aggregate(sequence(1, 16), 0,"
        " (acc, i) -> acc + IF(substring(sig_a, i, 1) = substring(sig_b, i, 1), 0, 1))"
    )
    measured = cands.select(dist.alias("dist"))
    result = measured.agg(
        F.count(F.lit(1)).alias("n_candidate_pairs"),
        F.sum((F.col("dist") <= 3).cast("int")).cast("long").alias("n_within_3"),
        F.sum((F.col("dist") == 0).cast("int")).cast("long").alias("n_identical"),
    )
    return materialize_and_release(result, sigs)


# --------------------------------------------------------------------
# 64-bit weighted SimHash (the production variant of the 16-bit demo
# above): token weight = term_frequency x token_length (longer tokens
# are more informative), votes are EXACT INTEGERS so both engines
# agree bit-for-bit without any float in the pipeline.
# --------------------------------------------------------------------

_SIMHASH64_BITS = 64


def _simhash64_bits_duck() -> str:
    exprs = []
    for j in range(_SIMHASH64_BITS):
        hexpos = j // 4 + 1
        bit = j % 4
        digit = f"(strpos('0123456789abcdef', substr(h, {hexpos}, 1)) - 1)"
        exprs.append(
            f"SUM(w * (2 * (({digit} // {2 ** bit}) % 2) - 1)) AS v{j}"
        )
    return ",\n    ".join(exprs)


def _simhash64_oracle() -> str:
    sig_concat = " || ".join(
        f"(CASE WHEN v{j} >= 0 THEN '1' ELSE '0' END)"
        for j in range(_SIMHASH64_BITS)
    )
    return f"""
WITH tok AS (
  SELECT doc_id, unnest({_TOKENS_DUCK}) AS token
  FROM documents
),
wtok AS (
  SELECT doc_id, token,
         CAST(COUNT(*) * length(token) AS BIGINT) AS w,
         md5(token) AS h
  FROM tok GROUP BY doc_id, token
),
votes AS (
  SELECT doc_id,
    {_simhash64_bits_duck()}
  FROM wtok GROUP BY doc_id
),
sigs AS (
  SELECT doc_id, {sig_concat} AS simhash64 FROM votes
)
SELECT
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(COUNT(DISTINCT simhash64) AS BIGINT) AS n_distinct_signatures,
  CAST(MAX(cnt) AS BIGINT) AS max_bucket_size
FROM sigs
JOIN (SELECT simhash64 AS sh, COUNT(*) AS cnt FROM sigs GROUP BY 1) b
  ON sigs.simhash64 = b.sh
"""


@register("dedup_simhash64_weighted", oracle=_simhash64_oracle())
def dedup_simhash64_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit weighted SimHash signature distribution.

    Pipeline: tokens → (doc, token) term frequencies (one groupBy,
    map-side combinable) → 64 integer weighted votes per doc (second
    groupBy) → signature string → bucket stats. Weights
    (tf × token_length) and votes are integers end-to-end, so the
    signature is bit-identical across engines with no float rules
    needed. At corpus scale both groupBys shuffle only
    (doc_id, token-hash, weight) — text never rides an exchange, and
    the 64 vote sums are a single wide partial aggregate.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    wtok = (
        docs.select("doc_id", F.explode(F.expr(_TOKENS)).alias("token"))
        .groupBy("doc_id", "token")
        .agg(
            (F.count(F.lit(1)) * F.length("token")).cast("long").alias("w")
        )
        .select(
            "doc_id", "w", F.md5(F.col("token").cast("binary")).alias("h")
        )
    )
    vote_aggs = []
    for j in range(_SIMHASH64_BITS):
        hexpos = j // 4 + 1
        bit = j % 4
        digit = f"(instr('0123456789abcdef', substr(h, {hexpos}, 1)) - 1)"
        vote_aggs.append(
            F.sum(F.expr(f"w * (2 * (({digit} div {2 ** bit}) % 2) - 1)"))
            .alias(f"v{j}")
        )
    votes = wtok.groupBy("doc_id").agg(*vote_aggs)
    sig = F.concat(
        *[
            F.when(F.col(f"v{j}") >= 0, "1").otherwise("0")
            for j in range(_SIMHASH64_BITS)
        ]
    ).alias("simhash64")
    sigs = votes.select("doc_id", sig).persist()
    sigs.count()
    buckets = sigs.groupBy("simhash64").agg(F.count(F.lit(1)).alias("cnt"))
    result = (
        sigs.join(buckets, "simhash64")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("simhash64").alias("n_distinct_signatures"),
            F.max("cnt").cast("long").alias("max_bucket_size"),
        )
    )
    return materialize_and_release(result, sigs)


# --------------------------------------------------------------------
# Fuzzy near-dup via edit distance on BLOCKED candidates — the
# entity-resolution flavor of dedup (catches typo-level variants that
# shingle/minhash treats as distinct). Pairwise cost is gated by the
# (lang, length-bucket) block, never all-pairs.
# --------------------------------------------------------------------

_LEV_PREFIX = 60
_LEV_MAX = 20

_LEV_ORACLE = f"""
WITH d AS (
  SELECT doc_id, lang, n_chars // 100 AS lb,
         substring(text, 1, {_LEV_PREFIX}) AS head
  FROM documents
),
pairs AS (
  SELECT a.lang,
         a.doc_id AS doc_a, b.doc_id AS doc_b,
         levenshtein(a.head, b.head) AS dist
  FROM d a JOIN d b
    ON a.lang = b.lang AND a.lb = b.lb AND a.doc_id < b.doc_id
)
SELECT
  lang,
  CAST(COUNT(*) AS BIGINT) AS n_candidate_pairs,
  CAST(SUM(CASE WHEN dist <= {_LEV_MAX} THEN 1 ELSE 0 END) AS BIGINT)
    AS n_neardup_pairs,
  CAST(MIN(dist) AS BIGINT) AS min_dist
FROM pairs
GROUP BY lang
ORDER BY lang
"""


@register("dedup_levenshtein_blocked", oracle=_LEV_ORACLE)
def dedup_levenshtein_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup candidates within (lang, length-bucket)
    blocks, summarized per language.

    Levenshtein runs JVM-side on fixed {_LEV_PREFIX}-char prefixes, so
    per-pair cost is bounded; the block join carries (id, head) only.
    At corpus scale the length-bucket block is replaced by LSH buckets
    (dedup_minhash_lsh_candidates) feeding this as the verifier stage.
    """
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        (F.col("n_chars") / 100).cast("long").alias("lb"),
        F.substring("text", 1, _LEV_PREFIX).alias("head"),
    )
    a = d.alias("a")
    b = d.alias("b")
    pairs = a.join(
        b,
        (F.col("a.lang") == F.col("b.lang"))
        & (F.col("a.lb") == F.col("b.lb"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.lang").alias("lang"),
        F.levenshtein(F.col("a.head"), F.col("b.head")).alias("dist"),
    )
    return (
        pairs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_candidate_pairs"),
            F.sum(F.when(F.col("dist") <= _LEV_MAX, 1).otherwise(0))
            .cast("long")
            .alias("n_neardup_pairs"),
            F.min("dist").cast("long").alias("min_dist"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------
# Prefix-filtering exact set-similarity join (PPJoin family): the
# EXACT complement to the MinHash/SimHash approximations above.
# Guarantee: with tokens globally ordered (rarest first), two sets
# with J >= t MUST share a token inside their (|s| - ceil(t|s|) + 1)-
# length prefixes — so equi-joining prefixes finds every qualifying
# pair, and the verify stage computes true Jaccard only on those
# candidates. All threshold tests are integer cross-multiplications.
# --------------------------------------------------------------------

# t = 0.9 as the exact rational 9/10 (numerator/denominator), so both
# engines evaluate ceil(t*sz) and the J >= t test in pure integers.
_PF_NUM, _PF_DEN = 9, 10

_PREFIX_ORACLE = f"""
WITH tk AS (
  SELECT DISTINCT doc_id,
    unnest({_shingle_sql_duck()}) AS token
  FROM documents
),
freq AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt FROM tk GROUP BY token
),
tkf AS (
  SELECT t.doc_id, t.token, f.cnt FROM tk t JOIN freq f ON t.token = f.token
),
sz AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM tk GROUP BY doc_id
),
pfx AS (
  SELECT doc_id, token, sz FROM (
    SELECT t.doc_id, t.token, s.sz,
           ROW_NUMBER() OVER (
             PARTITION BY t.doc_id ORDER BY t.cnt, t.token) AS rn
    FROM tkf t JOIN sz s ON t.doc_id = s.doc_id
  ) WHERE rn <= sz - ({_PF_NUM} * sz + {_PF_NUM}) // {_PF_DEN} + 1
),
cand AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
  FROM pfx a JOIN pfx b
    ON a.token = b.token AND a.doc_id < b.doc_id
   AND {_PF_DEN} * LEAST(a.sz, b.sz) >= {_PF_NUM} * GREATEST(a.sz, b.sz)
),
inter AS (
  SELECT c.d1, c.d2, CAST(COUNT(*) AS BIGINT) AS n_inter
  FROM cand c
  JOIN tk t1 ON t1.doc_id = c.d1
  JOIN tk t2 ON t2.doc_id = c.d2 AND t2.token = t1.token
  GROUP BY c.d1, c.d2
)
SELECT i.d1, i.d2, i.n_inter,
       s1.sz + s2.sz - i.n_inter AS n_union,
       CAST(i.n_inter AS DOUBLE)
         / CAST(s1.sz + s2.sz - i.n_inter AS DOUBLE) AS jaccard
FROM inter i
JOIN sz s1 ON i.d1 = s1.doc_id
JOIN sz s2 ON i.d2 = s2.doc_id
WHERE {_PF_DEN} * i.n_inter >= {_PF_NUM} * (s1.sz + s2.sz - i.n_inter)
ORDER BY jaccard DESC, d1, d2
"""


@register(
    "dedup_prefix_filter_jaccard",
    oracle=_PREFIX_ORACLE,
    perf_class="ground_truth",
)
def dedup_prefix_filter_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Jaccard >= 0.9 duplicate pairs over 5-char shingle sets
    via prefix filtering + length filtering — no false negatives, no
    sketch approximation; candidates are provably complete.

    Plan: shingle-set dedup (one shuffle), global shingle frequencies
    (map-side combinable), per-doc prefix extraction = ONE window on
    doc_id ordered (cnt, token) — the rarest-first order that makes
    prefixes selective. The candidate equi-join keys on PREFIX tokens
    only (rare by construction, so bucket skew is structurally
    bounded — the opposite of joining on raw tokens), with the
    t·|x| <= |y| length filter applied inside the join condition
    (measured 4.6x candidate cut on the validation corpus). The
    verify stage counts true intersections ONLY for candidates and
    every threshold comparison is an integer cross-multiplication
    (t = 9/10 exact), so the output is bit-identical cross-engine.
    At 100 TB this is the exact-dedup path you run where MinHash
    recall isn't contractual; its cost is corpus-dependent (flat
    token-frequency distributions weaken prefix pruning — measured on
    this synthetic corpus: 1.1M candidates for 255 qualifying pairs
    at sf0.1, i.e. near worst-case; natural text prunes orders of
    magnitude harder). The standard production tightenings from the
    PPJoin line — one-sided 2t/(1+t) index prefixes, positional and
    suffix filters, size-ordered indexing — drop candidates further
    but don't change the worst-case envelope; when a corpus sits in
    that regime, the MinHash/LSH family above is the right tool and
    this join is the per-bucket verifier.
    """
    docs = load_table(spark, sf_dir, "documents")
    tk = docs.select(
        "doc_id",
        F.explode(F.expr(_shingle_sql_spark())).alias("token"),
    ).distinct()
    tk = tk.persist()
    freq = tk.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    sz = tk.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    tkf = tk.join(freq, "token").join(sz, "doc_id")
    wp = Window.partitionBy("doc_id").orderBy("cnt", "token")
    pfx = (
        tkf.withColumn("rn", F.row_number().over(wp))
        .filter(
            F.col("rn")
            <= F.col("sz")
            - F.expr(f"({_PF_NUM} * sz + {_PF_NUM}) div {_PF_DEN}")
            + 1
        )
        .select("doc_id", "token", "sz")
    )
    a = pfx.select(
        F.col("doc_id").alias("d1"), "token", F.col("sz").alias("sz1")
    )
    b = pfx.select(
        F.col("doc_id").alias("d2"), "token", F.col("sz").alias("sz2")
    )
    cand = (
        a.join(b, "token")
        .filter(
            (F.col("d1") < F.col("d2"))
            & (
                F.lit(_PF_DEN) * F.least("sz1", "sz2")
                >= F.lit(_PF_NUM) * F.greatest("sz1", "sz2")
            )
        )
        .select("d1", "d2")
        .distinct()
    )
    # Verification via per-doc sorted shingle ARRAYS: two joins of the
    # (small) candidate frame against the doc->array index, then the
    # intersection size is a map-side array_intersect — measured ~5x
    # cheaper at sf0.1 than the token-level three-way join + groupBy
    # it replaces (token rows re-shuffled per candidate). Arrays are
    # per-doc bounded, so the shuffle payload stays O(doc shingles).
    arr = tk.groupBy("doc_id").agg(
        F.array_sort(F.collect_set("token")).alias("toks")
    )
    a1 = arr.select(F.col("doc_id").alias("d1"), F.col("toks").alias("t1"))
    a2 = arr.select(F.col("doc_id").alias("d2"), F.col("toks").alias("t2"))
    inter = (
        cand.join(a1, "d1")
        .join(a2, "d2")
        .select(
            "d1",
            "d2",
            F.size(F.array_intersect("t1", "t2")).cast("long").alias(
                "n_inter"
            ),
            F.size("t1").cast("long").alias("sz1"),
            F.size("t2").cast("long").alias("sz2"),
        )
    )
    n_union = F.col("sz1") + F.col("sz2") - F.col("n_inter")
    result = (
        inter
        .filter(F.lit(_PF_DEN) * F.col("n_inter") >= F.lit(_PF_NUM) * n_union)
        .select(
            "d1",
            "d2",
            "n_inter",
            n_union.cast("long").alias("n_union"),
            (
                F.col("n_inter").cast("double") / n_union.cast("double")
            ).alias("jaccard"),
        )
        .orderBy(F.desc("jaccard"), "d1", "d2")
    )
    return materialize_and_release(result, tk)


# --------------------------------------------------------------------
# Cluster-keeper selection: the step real dedup pipelines run AFTER
# clustering — per duplicate cluster, keep exactly one document
# (richest by token count, ties to the smallest id) and drop the
# rest. Composes the LSH candidate graph + connected components +
# a deterministic argmax; the oracle extends the recursive-CTE
# clustering with the same rank-1 pick.
# --------------------------------------------------------------------

_KEEPER_ORACLE = f"""
WITH RECURSIVE {_minhash_pairs_cte()},
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
nodes AS (SELECT DISTINCT src AS doc FROM edges),
reach(doc, lab) AS (
  SELECT doc, doc FROM nodes
  UNION
  SELECT e.dst, r.lab FROM reach r JOIN edges e ON r.doc = e.src
),
comps AS (
  SELECT doc, MIN(lab) AS comp FROM reach GROUP BY doc
),
tok AS (
  SELECT doc_id, CAST(len({_TOKENS_DUCK}) AS BIGINT) AS n_tokens
  FROM documents
),
ranked AS (
  SELECT c.comp, c.doc, t.n_tokens,
         ROW_NUMBER() OVER (
           PARTITION BY c.comp ORDER BY t.n_tokens DESC, c.doc) AS rn,
         CAST(COUNT(*) OVER (PARTITION BY c.comp) AS BIGINT) AS sz
  FROM comps c JOIN tok t ON c.doc = t.doc_id
)
SELECT comp AS component,
       sz AS n_docs,
       doc AS keeper_doc_id,
       n_tokens AS keeper_tokens
FROM ranked WHERE rn = 1
ORDER BY component
"""


@register("dedup_cluster_keepers", oracle=_KEEPER_ORACLE)
def dedup_cluster_keepers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One keeper per duplicate cluster: LSH candidate pairs →
    connected components → argmax by (token count desc, doc_id asc)
    within each component — the survivor list a dedup pipeline
    anti-joins the corpus against.

    The clustering state is ids-only (the component labels frame);
    token counts join in AFTER clustering, so text never rides the
    iterative loop. The keeper pick is one window over the clustered
    docs — a frame whose size is the number of DUPLICATED docs, far
    smaller than the corpus. Deterministic tie-break makes the
    survivor set reproducible across runs and engines.
    """
    pairs, sigs = _minhash_candidate_pairs(spark, sf_dir)
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(
            pairs.select(
                F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
            )
        )
        .persist()
    )
    labels = connected_component_labels(edges)
    tok = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("doc"),
        F.size(F.expr(_TOKENS)).cast("long").alias("n_tokens"),
    )
    lab = labels.join(tok, "doc")
    wc = Window.partitionBy("comp")
    wr = wc.orderBy(F.desc("n_tokens"), F.asc("doc"))
    result = (
        lab.select(
            "comp",
            "doc",
            "n_tokens",
            F.row_number().over(wr).alias("rn"),
            F.count(F.lit(1)).over(wc).cast("long").alias("sz"),
        )
        .filter(F.col("rn") == 1)
        .select(
            F.col("comp").alias("component"),
            F.col("sz").alias("n_docs"),
            F.col("doc").alias("keeper_doc_id"),
            "n_tokens",
        )
        .withColumnRenamed("n_tokens", "keeper_tokens")
        .orderBy("component")
    )
    return materialize_and_release(
        result, sigs, edges, labels._ckpt_source
    )


# --------------------------------------------------------------------
# Cross-document duplicated-n-gram fraction — the span-level dedup
# SIGNAL (RefinedWeb/Gopher-style): for each document, what fraction
# of its distinct 8-token shingles also appears in at least one OTHER
# document. Documents above a threshold are boilerplate/template
# suspects even when no whole-document duplicate exists — the gap
# between doc-level dedup (minhash/simhash above) and within-doc
# repetition (text.py): duplication ACROSS documents at span level.
#
# Determinism: per-language fraction is a single division of two
# exact integer sums (micro-average), never a SUM of doubles — the
# repo's rule for cross-row float aggregation. Threshold compares
# cross-multiplied integers (dup * 10 > total * 3), exact.
#
# Scale: shingles move as 16-byte md5s, text never shuffles; the
# global doc-frequency pass is one groupBy on the shingle hash (the
# same shuffle key the join back to documents uses, so AQE reuses the
# exchange); everything after the per-doc rollup is tiny.
# --------------------------------------------------------------------

_XNGRAM = 8
_XDUP_NUM, _XDUP_DEN = 3, 10  # flag docs with > 30% duplicated shingles

_XDOC_ORACLE = f"""
WITH shingled AS (
  SELECT DISTINCT doc_id, lang,
    unnest(list_transform(
      generate_series(1, greatest(1, len({_TOKENS_DUCK}) - {_XNGRAM - 1})),
      i -> md5(array_to_string(
        list_slice({_TOKENS_DUCK}, CAST(i AS INT),
                   CAST(i AS INT) + {_XNGRAM - 1}), ' '))
    )) AS sh
  FROM documents
  WHERE len(list_filter(string_split(text, ' '), x -> x <> '')) > 0
),
df AS (
  SELECT sh, COUNT(*) AS n_docs_sh FROM shingled GROUP BY sh
),
per_doc AS (
  SELECT s.doc_id, s.lang,
         COUNT(*) AS total_sh,
         SUM(CASE WHEN d.n_docs_sh > 1 THEN 1 ELSE 0 END) AS dup_sh
  FROM shingled s JOIN df d ON s.sh = d.sh
  GROUP BY s.doc_id, s.lang
)
SELECT
  lang,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(dup_sh) AS BIGINT) AS dup_shingles,
  CAST(SUM(total_sh) AS BIGINT) AS total_shingles,
  CAST(SUM(dup_sh) AS DOUBLE) / CAST(SUM(total_sh) AS DOUBLE)
    AS dup_fraction,
  CAST(SUM(CASE WHEN dup_sh * {_XDUP_DEN} > total_sh * {_XDUP_NUM}
                THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_flagged
FROM per_doc
GROUP BY lang
ORDER BY lang
"""


@register("dedup_crossdoc_ngram_fraction", oracle=_XDOC_ORACLE)
def dedup_crossdoc_ngram_fraction(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-language duplicated-shingle profile: how much of each
    document's distinct 8-token shingle set appears in other
    documents, micro-averaged per language, with a >30% flag count
    (the span-level boilerplate signal doc-level dedup can't see).
    """
    # Empty/whitespace-only docs would otherwise each emit one
    # md5('') shingle and mutually flag as 100%-duplicated — exclude
    # token-free docs from the profile (mirrored in the oracle).
    # scan_parallel: the 8-token shingle md5 kernel (one digest per
    # token position) dominates the scan; the one-row-group layout
    # would run it on a single task (guide §2.5).
    docs = scan_parallel(spark, sf_dir, "documents").filter(
        F.expr(f"size({_TOKENS}) > 0")
    )
    shingles = F.expr(
        f"transform(sequence(1, greatest(1, size({_TOKENS}) - {_XNGRAM - 1})),"
        f" i -> md5(cast(concat_ws(' ', slice({_TOKENS}, i, {_XNGRAM}))"
        f" as binary)))"
    )
    shingled = (
        docs.select("doc_id", "lang", F.explode(shingles).alias("sh"))
        .distinct()
    )
    # Doc frequency via an unordered window count over the shingle
    # partition, NOT a groupBy+join-back: Catalyst cannot CTE a
    # repeated subtree, so the join formulation scans and re-shingles
    # the corpus TWICE (two parquet scans; the window's single scan is
    # pinned by test_crossdoc_ngram_fraction_scans_documents_once).
    # The window rides the single distinct output with one shuffle on
    # sh; identical values.
    wsh = Window.partitionBy("sh")
    per_doc = (
        shingled.withColumn(
            "n_docs_sh", F.count(F.lit(1)).over(wsh)
        )
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).alias("total_sh"),
            F.sum(
                F.when(F.col("n_docs_sh") > 1, 1).otherwise(0)
            ).alias("dup_sh"),
        )
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("dup_sh").cast("long").alias("dup_shingles"),
            F.sum("total_sh").cast("long").alias("total_shingles"),
            (
                F.sum("dup_sh").cast("double")
                / F.sum("total_sh").cast("double")
            ).alias("dup_fraction"),
            F.sum(
                F.when(
                    F.col("dup_sh") * _XDUP_DEN
                    > F.col("total_sh") * _XDUP_NUM,
                    1,
                ).otherwise(0)
            ).cast("long").alias("n_docs_flagged"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------
# Asymmetric CONTAINMENT join — the quote-inclusion/subset-dup signal
# symmetric Jaccard cannot see: C(A -> B) = |A∩B| / |A| is ~1.0 when
# a short document is wholly quoted inside a long one, while their
# Jaccard is tiny (the union is dominated by B). Training-data
# pipelines run this to catch excerpt/boilerplate inclusion that
# survives Jaccard dedup.
#
# Prefix filtering, one-sided (the PPJoin containment variant): only
# the CONTAINED side can be prefix-pruned — if C(A->B) >= t then A
# has at most |A| - ceil(t|A|) tokens outside B, so one of A's first
# |A| - ceil(t|A|) + 1 rarest tokens must hit B — while the container
# side must index ALL its tokens (any superset qualifies). Candidate
# join keys are therefore A-prefix tokens only: rare by the
# rarest-first prefix order, so bucket sizes stay structurally
# bounded even though the container index holds hot tokens (a hot
# token only becomes a join key when some contained doc is almost
# entirely common tokens — the corner the Jaccard operator's skew
# notes already document). The candidate join also carries the
# containment LENGTH filter (overlap <= szB, so szB >= ceil(t*szA);
# free, though a no-op on this size-uniform corpus) and the PPJoin
# POSITIONAL filter: for ranks (ra, rb) of a matching token in the
# two docs' rarest-first orders, every common token lies at rank
# >= ra in A and >= rb in B, so overlap <= 1 + min(szA-ra, szB-rb);
# a qualifying pair's FIRST common token always satisfies the bound
# (completeness preserved), and pairs formed only through late-ranked
# common tokens die inside the join before the distinct. Measured at
# sf0.1 on this adversarially-flat corpus: distinct candidates
# 17.3M -> 11.0M and wall time from a >300s timeout to ~70s (the
# filter prunes the much larger pre-distinct row stream); 11M
# candidates for 566 true pairs is the same near-worst-case regime
# dedup_prefix_filter_jaccard documents — natural-text frequency
# skew prunes orders of magnitude harder, and when a corpus sits in
# this regime the LSH family is the screen and this join the
# verifier. Thresholds are exact integer cross-multiplications
# (t = 4/5), so output is bit-identical cross-engine and candidates
# are provably complete (no false negatives — pinned against a
# filter-free quadratic ground truth in tests/test_similarity.py).
# --------------------------------------------------------------------

_CT_NUM, _CT_DEN = 4, 5

_CONTAIN_ORACLE = f"""
WITH tk AS (
  SELECT DISTINCT doc_id,
    unnest({_shingle_sql_duck()}) AS token
  FROM documents
),
freq AS (SELECT token, COUNT(*) AS cnt FROM tk GROUP BY 1),
sz AS (SELECT doc_id, COUNT(*) AS sz FROM tk GROUP BY 1),
ranked AS (
  SELECT t.doc_id, t.token, s.sz,
         ROW_NUMBER() OVER (
           PARTITION BY t.doc_id ORDER BY f.cnt, t.token) AS rn
  FROM tk t JOIN freq f ON f.token = t.token
  JOIN sz s ON s.doc_id = t.doc_id
),
pfx AS (
  SELECT doc_id, token, sz, rn FROM ranked
  WHERE rn <= sz - ({_CT_NUM} * sz + {_CT_DEN} - 1) // {_CT_DEN} + 1
),
cand AS (
  SELECT DISTINCT p.doc_id AS d_in, r.doc_id AS d_out
  FROM pfx p JOIN ranked r
    ON r.token = p.token AND r.doc_id <> p.doc_id
  WHERE {_CT_DEN} * r.sz >= {_CT_NUM} * p.sz
    AND {_CT_DEN} * (1 + LEAST(p.sz - p.rn, r.sz - r.rn))
        >= {_CT_NUM} * p.sz
),
inter AS (
  SELECT c.d_in, c.d_out, CAST(COUNT(*) AS BIGINT) AS n_inter
  FROM cand c
  JOIN tk t1 ON t1.doc_id = c.d_in
  JOIN tk t2 ON t2.doc_id = c.d_out AND t2.token = t1.token
  GROUP BY c.d_in, c.d_out
)
SELECT i.d_in AS contained_doc,
       i.d_out AS container_doc,
       i.n_inter,
       CAST(s.sz AS BIGINT) AS sz_contained,
       CAST(i.n_inter AS DOUBLE) / CAST(s.sz AS DOUBLE) AS containment
FROM inter i
JOIN sz s ON s.doc_id = i.d_in
WHERE {_CT_DEN} * i.n_inter >= {_CT_NUM} * s.sz
ORDER BY containment DESC, contained_doc, container_doc
"""


@register(
    "dedup_containment_pairs",
    oracle=_CONTAIN_ORACLE,
    perf_class="ground_truth",
)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT directed containment >= 0.8 pairs over 5-char shingle
    sets (contained doc, container doc, intersection, containment) —
    the excerpt/boilerplate-inclusion detector.

    Plan shape mirrors dedup_prefix_filter_jaccard with the
    containment asymmetry: prefixes are extracted for the CONTAINED
    side only (one partitioned window in rarest-first order), the
    candidate equi-join keys on those rare prefix tokens against the
    full token index (with the containment length bound
    szB >= ceil(t*szA) and the positional bound — see the module
    comment), and verification is the candidate-bounded
    array_intersect against the per-doc sorted shingle arrays. The
    symmetric join's TWO-SIDED size filter does not apply (a
    container may be arbitrarily larger) — that one-sidedness, not
    the prefix bound, is the cost difference vs the Jaccard join,
    and it is inherent to the predicate.
    """
    docs = load_table(spark, sf_dir, "documents")
    tk = docs.select(
        "doc_id",
        F.explode(F.expr(_shingle_sql_spark())).alias("token"),
    ).distinct()
    tk = tk.persist()
    freq = tk.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    sz = tk.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    tkf = tk.join(freq, "token").join(sz, "doc_id")
    wp = Window.partitionBy("doc_id").orderBy("cnt", "token")
    ranked = tkf.withColumn("rn", F.row_number().over(wp)).select(
        "doc_id", "token", "sz", "rn"
    )
    ranked = ranked.persist()
    pfx = ranked.filter(
        F.col("rn")
        <= F.col("sz")
        # ceil(t*sz) = (NUM*sz + DEN - 1) div DEN — the general ceil
        # encoding, not the NUM == DEN-1 coincidence
        - F.expr(f"({_CT_NUM} * sz + {_CT_DEN} - 1) div {_CT_DEN}")
        + 1
    ).select(
        F.col("doc_id").alias("d_in"),
        "token",
        F.col("sz").alias("sz_a"),
        F.col("rn").alias("rn_a"),
    )
    # Positional filter (complete by the first-common-token argument
    # in the module comment): a pair can only reach overlap
    # ceil(t*szA) through a match whose remaining-suffix bound
    # 1 + min(szA - ra, szB - rb) clears the threshold. On flat
    # corpora this is the pruning workhorse: a common token sits near
    # the END of every doc's rarest-first order, so szB - rb is small
    # and the bound kills the pair unless the token is ALSO early on
    # the container side.
    cand = (
        pfx.join(
            ranked.select(
                F.col("doc_id").alias("d_out"),
                "token",
                F.col("sz").alias("sz_b"),
                F.col("rn").alias("rn_b"),
            ),
            "token",
        )
        .filter(
            (F.col("d_in") != F.col("d_out"))
            # length filter: overlap <= szB, so szB >= ceil(t*szA)
            & (F.lit(_CT_DEN) * F.col("sz_b") >= F.lit(_CT_NUM) * F.col("sz_a"))
            & (
                F.lit(_CT_DEN)
                * (
                    F.lit(1)
                    + F.least(
                        F.col("sz_a") - F.col("rn_a"),
                        F.col("sz_b") - F.col("rn_b"),
                    )
                )
                >= F.lit(_CT_NUM) * F.col("sz_a")
            )
        )
        .select("d_in", "d_out")
        .distinct()
    )
    arr = tk.groupBy("doc_id").agg(
        F.array_sort(F.collect_set("token")).alias("toks")
    )
    a1 = arr.select(F.col("doc_id").alias("d_in"), F.col("toks").alias("t1"))
    a2 = arr.select(
        F.col("doc_id").alias("d_out"), F.col("toks").alias("t2")
    )
    inter = (
        cand.join(a1, "d_in")
        .join(a2, "d_out")
        .select(
            "d_in",
            "d_out",
            F.size(F.array_intersect("t1", "t2")).cast("long").alias(
                "n_inter"
            ),
            F.size("t1").cast("long").alias("sz_in"),
        )
    )
    result = (
        inter.filter(
            F.lit(_CT_DEN) * F.col("n_inter")
            >= F.lit(_CT_NUM) * F.col("sz_in")
        )
        .select(
            F.col("d_in").alias("contained_doc"),
            F.col("d_out").alias("container_doc"),
            "n_inter",
            F.col("sz_in").alias("sz_contained"),
            (
                F.col("n_inter").cast("double")
                / F.col("sz_in").cast("double")
            ).alias("containment"),
        )
        .orderBy(
            F.desc("containment"), "contained_doc", "container_doc"
        )
    )
    return materialize_and_release(result, tk, ranked)


# --------------------------------------------------------------------
# Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03 — the
# MOSS algorithm): LOCAL document fingerprinting with a detection
# guarantee the global-sketch family (minhash/simhash) cannot give —
# any shared token run of at least W_WINNOW + K_WINNOW - 1 tokens
# between two documents shares at least one selected fingerprint.
# Pipeline: word-token k-grams -> 60-bit md5-prefix hashes -> min of
# each sliding window of W_WINNOW hashes -> distinct per doc. The
# whole selection happens INSIDE the row via array higher-order
# functions (transform/slice/array_min/array_distinct): zero shuffle
# until the per-(lang, fingerprint) count, which moves ids+hashes
# only. DuckDB mirrors it with list_transform/list_min — verified
# bit-identical (shared md5 canon, exact integer mins).
#
# Scale: extraction is map-only and embarrassingly parallel by doc;
# the one exchange is a groupBy on (lang, fp) whose payload is two
# integers. Fingerprint density is ~2/(W+1) of k-gram count, so the
# shuffled volume is a small fraction of token count — the property
# that makes winnowing the standard local-dup screen for code/corpus
# datasets at crawl scale.
# --------------------------------------------------------------------

K_WINNOW = 4  # tokens per k-gram
W_WINNOW = 8  # k-grams per winnowing window

_WINNOW_TOKS_SPARK = "filter(split(text, ' '), x -> x != '')"
_WINNOW_TOKS_DUCK = "list_filter(string_split(text, ' '), x -> x <> '')"


# layered so the k-gram hash array materializes once per row: the
# hs projection feeds the windowed-min projection (inlining it into
# both size() and slice() would evaluate the md5 folds twice)
_WINNOW_HS_SPARK = (
    f"transform(sequence(1, size(toks) - {K_WINNOW - 1}),"
    " i -> cast(conv(substring(md5("
    f"concat_ws(' ', slice(toks, i, {K_WINNOW}))"
    "), 1, 15), 16, 10) as bigint))"
)
_WINNOW_FPS_SPARK = (
    f"array_distinct(transform("
    f"sequence(1, greatest(1, size(hs) - {W_WINNOW - 1})),"
    f" p -> array_min(slice(hs, p, {W_WINNOW}))))"
)


_WINNOW_ORACLE = f"""
WITH tk AS (
  SELECT doc_id, lang, {_WINNOW_TOKS_DUCK} AS toks FROM documents
),
hs AS (
  SELECT doc_id, lang,
         list_transform(generate_series(1, len(toks) - {K_WINNOW - 1}),
           i -> CAST('0x' || substring(md5(
                  array_to_string(toks[i:i+{K_WINNOW - 1}], ' ')), 1, 15)
                AS BIGINT)) AS hs
  FROM tk WHERE len(toks) >= {K_WINNOW}
),
fps AS (
  SELECT doc_id, lang,
         unnest(list_distinct(list_transform(
           generate_series(1, greatest(1, len(hs) - {W_WINNOW - 1})),
           p -> list_min(hs[p:p+{W_WINNOW - 1}])))) AS fp
  FROM hs
),
per_fp AS (
  SELECT lang, fp, CAST(COUNT(*) AS BIGINT) AS nd
  FROM fps GROUP BY lang, fp
),
nd AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM hs GROUP BY lang
)
SELECT
  nd.lang,
  nd.n_docs,
  CAST(COUNT(*) AS BIGINT) AS n_distinct_fps,
  CAST(SUM(per_fp.nd) AS BIGINT) AS n_fingerprints,
  CAST(SUM(CASE WHEN per_fp.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_shared_fps,
  CAST(MAX(per_fp.nd) AS BIGINT) AS max_docs_per_fp
FROM per_fp JOIN nd ON per_fp.lang = nd.lang
GROUP BY nd.lang, nd.n_docs
ORDER BY nd.lang
"""


@register("dedup_winnowing_fingerprints", oracle=_WINNOW_ORACLE)
def dedup_winnowing_fingerprints(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-language winnowing fingerprint profile: document counts,
    distinct/total selected fingerprints, fingerprints shared by >= 2
    documents, and the hottest fingerprint's document count — the
    corpus-level signal for how much locally-duplicated text (boiler-
    plate, licenses, templates) survives the exact/near-dup passes.

    Local fingerprinting guarantees any shared run of
    W_WINNOW + K_WINNOW - 1 = 11 tokens is caught; the minhash/simhash
    family only scores whole-document similarity. Reference parity:
    extends the reference's whole-row duplicate drop (src/etl.py
    drop_duplicates) to sub-document granularity.
    """
    # persist the per-doc fingerprint-SET frame (ids + ~2/(w+1) of the
    # k-gram count per doc — tiny next to text): it feeds BOTH the
    # fingerprint aggregation and the per-language doc count, so the
    # corpus text is scanned and tokenized exactly ONCE (the repeated-
    # subtree rule: Catalyst does not CTE a repeated DataFrame
    # subtree, and a second documents scan at 100 TB costs more than
    # everything else in this query combined).
    # scan_parallel: the tokenize -> k-gram-hash -> window-min HOF
    # chain is the plan's dominant map; one-row-group layout = one
    # task (guide §2.5).
    base = (
        scan_parallel(spark, sf_dir, "documents")
        .selectExpr("doc_id", "lang", f"{_WINNOW_TOKS_SPARK} as toks")
        .filter(F.expr(f"size(toks) >= {K_WINNOW}"))
        .selectExpr("doc_id", "lang", f"{_WINNOW_HS_SPARK} as hs")
        .selectExpr("doc_id", "lang", f"{_WINNOW_FPS_SPARK} as fps")
        .persist()
    )
    fps = base.select("lang", "doc_id", F.explode("fps").alias("fp"))
    per_fp = fps.groupBy("lang", "fp").agg(
        F.count(F.lit(1)).cast("long").alias("nd")
    )
    n_docs = base.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    result = (
        per_fp.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_distinct_fps"),
            F.sum("nd").cast("long").alias("n_fingerprints"),
            F.sum(F.when(F.col("nd") >= 2, 1).otherwise(0))
            .cast("long")
            .alias("n_shared_fps"),
            F.max("nd").cast("long").alias("max_docs_per_fp"),
        )
        .join(F.broadcast(n_docs), "lang")
        .select(
            "lang", "n_docs", "n_distinct_fps", "n_fingerprints",
            "n_shared_fps", "max_docs_per_fp",
        )
        .orderBy("lang")
    )
    return materialize_and_release(result, base)


# --------------------------------------------------------------------
# Exact-substring run dedup (the deduplicate-text-datasets
# capability, Lee et al. 2022, as relational ops): winnowing above
# flags shared runs PROBABILISTICALLY (one fingerprint per run
# guaranteed); this is the exact complement — every maximal shared
# token run of >= L_SUBRUN tokens across two documents, with its
# start positions and exact length.
#
# Relational formulation: seed every token position with its K_SUBRUN-
# gram md5 (identity by 128-bit digest — the repo's shared-hash
# convention); self-equi-join seeds across documents; then the key
# insight: matched seeds of one shared run line up on a DIAGONAL
# (p1 - p2 constant), where they occupy CONSECUTIVE p1 positions — so
# maximal runs are islands (gaps-and-islands via p1 - row_number),
# and a run of m consecutive seeds spans m + K_SUBRUN - 1 tokens.
# No suffix array, no recursion: one equi-join + one window.
#
# Scale: seeds are (doc, pos, 16-byte hash) — text projected away
# before the shuffle; the join is equi on the hash, so the classic
# quadratic blowup lives ONLY in globally-hot k-grams (boilerplate
# shingles), which the CAP_SUBRUN frequency cap drops with a logged
# count (never silent — the LSH bucket-cap discipline). The island
# window partitions by (doc_a, doc_b, diag): bounded by document
# length, no global sort. Reference parity: extends the reference's
# whole-row drop_duplicates (src/etl.py) to exact sub-document
# granularity, completing the winnowing family.
# --------------------------------------------------------------------

K_SUBRUN = 8  # tokens per seed k-gram
L_SUBRUN = 15  # minimal reported run length (tokens)
CAP_SUBRUN = 64  # max global occurrences per seed hash (skew guard)

_SUBRUN_SEEDS_SPARK = (
    f"transform(sequence(1, size(toks) - {K_SUBRUN - 1}),"
    " i -> struct(i as pos,"
    f" md5(concat_ws(' ', slice(toks, i, {K_SUBRUN}))) as h))"
)

# shared CTE chain: tokenize -> seed -> cap -> pair -> diagonal
# islands -> maximal runs >= L_SUBRUN (consumed by the run-report
# oracle below and by corpus_remove_substring_runs' oracle)
_SUBRUN_RUNS_CTES = f"""tk AS (
  SELECT doc_id, {_WINNOW_TOKS_DUCK} AS toks FROM documents
),
seeds0 AS (
  SELECT doc_id, CAST(i AS INT) AS pos,
         md5(array_to_string(toks[i:i+{K_SUBRUN - 1}], ' ')) AS h
  FROM tk, unnest(generate_series(1, len(toks) - {K_SUBRUN - 1})) AS u(i)
  WHERE len(toks) >= {K_SUBRUN}
),
seeds AS (
  SELECT * FROM seeds0
  QUALIFY COUNT(*) OVER (PARTITION BY h) <= {CAP_SUBRUN}
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.pos AS p1, b.pos AS p2, a.pos - b.pos AS diag
  FROM seeds a JOIN seeds b USING (h)
  WHERE a.doc_id < b.doc_id
),
isl_runs AS (
  SELECT doc_a, doc_b, diag, p1, p2,
         p1 - ROW_NUMBER() OVER (
           PARTITION BY doc_a, doc_b, diag ORDER BY p1) AS isl
  FROM pairs
),
runs AS (
  SELECT doc_a, doc_b,
         CAST(MIN(p1) AS INT) AS a_start,
         CAST(MIN(p2) AS INT) AS b_start,
         CAST(COUNT(*) + {K_SUBRUN - 1} AS BIGINT) AS run_tokens
  FROM isl_runs
  GROUP BY doc_a, doc_b, diag, isl
  HAVING COUNT(*) + {K_SUBRUN - 1} >= {L_SUBRUN}
)"""

_SUBRUN_ORACLE = f"""
WITH {_SUBRUN_RUNS_CTES}
SELECT doc_a, doc_b, a_start, b_start, run_tokens
FROM runs
ORDER BY run_tokens DESC, doc_a, doc_b, a_start, b_start
LIMIT 500
"""


def substring_run_seeds(docs: DataFrame) -> DataFrame:
    """(doc_id, pos, h): one K_SUBRUN-gram md5 seed per token
    position. Map-only; the text column is projected away before
    anything shuffles.

    r11 session 2 (guide §4.2): the former expression form —
    ``transform(sequence(...), i -> struct(i, md5(concat_ws(' ',
    slice(toks, i, K)))))`` — is a higher-order function, which Spark
    evaluates INTERPRETED (CodegenFallback) at a measured ~6 us per
    expression node per element (round-11 probe, removed in b7681f9:
    the slice alone cost ~1.5s of the ~2s pass; an element_at
    formulation was 8x worse). The Arrow kernel computes the SAME md5
    hex strings over the SAME gram bytes (Python str.split(' ') +
    filter == the engine's
    ``filter(split(text, ' '), x -> x != '')`` for the single-space
    delimiter; hashlib.md5 over UTF-8 == Spark md5 == DuckDB md5), so
    the seeds frame is bit-identical by construction — the declared
    oracle chain is unchanged. Still map-only (no shuffle at any
    scale); only (doc_id, text) crosses the Arrow boundary (§4.1
    column-pruning rule), and the per-batch work is a plain loop over
    positions at CPython speed (~1.5 us/gram) instead of ~25 us/gram
    of interpreted Catalyst dispatch."""
    from hashlib import md5 as _md5

    from workshop3_etl_spark.functions.arrow_kernel import map_batches

    k = K_SUBRUN

    def _seed_batches(b):
        out_doc: list[int] = []
        out_pos: list[int] = []
        out_h: list[str] = []
        join = " ".join
        for d, t in zip(
            b.column("doc_id").to_pylist(), b.column("text").to_pylist()
        ):
            toks = [x for x in t.split(" ") if x]
            for i in range(len(toks) - k + 1):
                out_doc.append(d)
                out_pos.append(i + 1)
                out_h.append(
                    _md5(join(toks[i : i + k]).encode()).hexdigest()
                )
        return [out_doc, out_pos, out_h]

    return map_batches(
        docs,
        ["doc_id", "text"],
        "doc_id bigint, pos int, h string",
        _seed_batches,
    )


def substring_runs(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """All maximal shared runs >= L_SUBRUN tokens over the documents
    table — see substring_runs_frame for the plan and the returned
    (runs, seeds) contract. scan_parallel ADOPTED in r11: the r10 A/B
    that rejected it (5.4-6.4s bare vs 8.6-11.0s repartitioned) did
    not reproduce on re-measurement — r11 interleaved A/B won ALL nine
    alternating pairs across both core counts (32c: 6.4/7.6/6.5/6.3
    -> 6.1/5.2/5.5/6.1; 8c: 4.1/4.2/3.9/4.0/3.9 -> 3.2/3.4/3.2/3.1/
    3.2, ~1.25x): the per-position k-gram md5 seed map is the chain's
    heaviest single stage and the one-row-group layout ran it on one
    task."""
    return substring_runs_frame(scan_parallel(spark, sf_dir, "documents"))


def substring_runs_frame(
    docs: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """All maximal shared runs >= L_SUBRUN tokens (unordered,
    unlimited) over any (doc_id, text) frame: (doc_a, doc_b, a_start,
    b_start, run_tokens), plus the persisted seeds frame the caller
    must release (the materialize_and_release contract)."""
    import logging

    seeds = substring_run_seeds(docs).persist()
    hot = (
        seeds.groupBy("h")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > CAP_SUBRUN)
    )
    log = logging.getLogger(__name__)
    if log.isEnabledFor(logging.INFO):
        # metadata-scale job off the persisted seeds — but still a
        # full aggregation pass, so only pay for it when the INFO
        # line will actually be emitted (ADVICE r8)
        log.info(
            "substring-run seed cap=%d: %d hot k-gram hashes dropped "
            "(runs through them are split/undercounted)",
            CAP_SUBRUN,
            hot.count(),
        )
    # AQE picks the anti-join strategy from the runtime size of `hot`
    # (usually tiny => broadcast); unknown driver-side stats make a
    # hard hint wrong at scale (functions/joins rationale)
    capped = seeds.join(hot, "h", "left_anti")
    a = capped.select(
        F.col("doc_id").alias("doc_a"), F.col("pos").alias("p1"), "h"
    )
    b = capped.select(
        F.col("doc_id").alias("doc_b"), F.col("pos").alias("p2"), "h"
    )
    pairs = (
        a.join(b, "h")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a", "doc_b", "p1", "p2",
            (F.col("p1") - F.col("p2")).alias("diag"),
        )
    )
    w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("p1")
    islands = pairs.withColumn(
        "isl", F.col("p1") - F.row_number().over(w)
    )
    runs = (
        islands.groupBy("doc_a", "doc_b", "diag", "isl")
        .agg(
            F.min("p1").cast("int").alias("a_start"),
            F.min("p2").cast("int").alias("b_start"),
            (F.count(F.lit(1)) + F.lit(K_SUBRUN - 1))
            .cast("long")
            .alias("run_tokens"),
        )
        .filter(F.col("run_tokens") >= L_SUBRUN)
        .select("doc_a", "doc_b", "a_start", "b_start", "run_tokens")
    )
    return runs, seeds


@register("dedup_exact_substring_runs", oracle=_SUBRUN_ORACLE)
def dedup_exact_substring_runs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Maximal exact shared token runs >= L_SUBRUN tokens across
    document pairs: (doc_a, doc_b, a_start, b_start, run_tokens),
    longest first, top 500. See the design comment above for the
    seed-diagonal-island formulation and the 100 TB story."""
    runs, seeds = substring_runs(spark, sf_dir)
    result = runs.orderBy(
        F.desc("run_tokens"), "doc_a", "doc_b", "a_start", "b_start"
    ).limit(500)
    return materialize_and_release(result, seeds)


# Removal leg: detection above reports the runs; this turns them into
# the dedup ACTION's accounting (Lee et al. 2022 remove all-but-one
# occurrence). Policy: the doc_b side (higher doc id) of every run is
# the masked occurrence; a document's masked span set is the INTERVAL
# UNION of its runs (classic gaps-and-islands sweep: an interval
# starts a new island iff its start exceeds the running max end of
# everything before it — all-integer window arithmetic, deterministic
# under the (s, e) ordering since exact-duplicate intervals are
# DISTINCTed away first).

# shared CTE chain: masked runs -> DISTINCT (doc, s, e) intervals ->
# merged interval UNION per doc (consumed by the accounting oracle
# below and by corpus_remove_substring_runs' oracle)
_SUBRUN_MERGED_CTES = """iv AS (
  SELECT DISTINCT doc_b AS doc_id, b_start AS s,
         CAST(b_start + run_tokens - 1 AS INT) AS e
  FROM runs
),
marked AS (
  SELECT doc_id, s, e,
         CASE WHEN s > COALESCE(MAX(e) OVER (
             PARTITION BY doc_id ORDER BY s, e
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
           THEN 1 ELSE 0 END AS is_new
  FROM iv
),
grouped AS (
  SELECT doc_id, s, e,
         SUM(is_new) OVER (PARTITION BY doc_id ORDER BY s, e
           ROWS UNBOUNDED PRECEDING) AS grp
  FROM marked
),
merged AS (
  SELECT doc_id, grp, MIN(s) AS ms, MAX(e) AS me
  FROM grouped GROUP BY doc_id, grp
)"""

_SUBRUN_REMOVE_ORACLE = f"""
WITH {_SUBRUN_RUNS_CTES},
{_SUBRUN_MERGED_CTES},
per_doc AS (
  SELECT doc_id, CAST(SUM(me - ms + 1) AS BIGINT) AS masked_tokens,
         CAST(COUNT(*) AS BIGINT) AS n_islands
  FROM merged GROUP BY doc_id
),
docs AS (
  SELECT d.doc_id, d.lang, CAST(len(t.toks) AS BIGINT) AS n_tokens
  FROM documents d JOIN tk t USING (doc_id)
)
SELECT d.doc_id, d.lang, d.n_tokens, p.masked_tokens,
       CAST(d.n_tokens - p.masked_tokens AS BIGINT) AS keep_tokens,
       p.n_islands
FROM per_doc p JOIN docs d USING (doc_id)
ORDER BY p.masked_tokens DESC, d.doc_id
LIMIT 200
"""


def masked_merged_intervals(runs: DataFrame) -> DataFrame:
    """(doc_id, ms, me): the interval UNION of the masked (doc_b-side)
    runs per document — one bounded per-document window sweep over
    DISTINCT intervals, integers only. Shared by the removal
    accounting and the removal ACTION below."""
    iv = runs.selectExpr(
        "doc_b as doc_id",
        "b_start as s",
        "cast(b_start + run_tokens - 1 as int) as e",
    ).distinct()
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = iv.withColumn(
        "is_new",
        F.when(
            F.col("s")
            > F.coalesce(F.max("e").over(w_prev), F.lit(-1)),
            1,
        ).otherwise(0),
    )
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        marked.withColumn("grp", F.sum("is_new").over(w_run))
        .groupBy("doc_id", "grp")
        .agg(F.min("s").alias("ms"), F.max("e").alias("me"))
        .select("doc_id", "ms", "me")
    )


@register("dedup_substring_removal_stats", oracle=_SUBRUN_REMOVE_ORACLE)
def dedup_substring_removal_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-document removal accounting for exact-substring dedup:
    mask the doc_b (higher-id) side of every detected run, union the
    masked intervals per document, and report (doc_id, lang,
    n_tokens, masked_tokens, keep_tokens, n_islands) for the most-
    masked documents. The interval union is one bounded per-document
    window sweep over DISTINCT intervals — integers only; at corpus
    scale the interval set is tiny next to the text (runs only), so
    the whole removal plan rides the detection join's output."""
    runs, seeds = substring_runs(spark, sf_dir)
    per_doc = masked_merged_intervals(runs).groupBy("doc_id").agg(
        F.sum(F.col("me") - F.col("ms") + 1)
        .cast("long")
        .alias("masked_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_islands"),
    )
    docs = load_table(spark, sf_dir, "documents").selectExpr(
        "doc_id",
        "lang",
        f"cast(size({_WINNOW_TOKS_SPARK}) as bigint) as n_tokens",
    )
    result = (
        per_doc.join(docs, "doc_id")
        .selectExpr(
            "doc_id",
            "lang",
            "n_tokens",
            "masked_tokens",
            "cast(n_tokens - masked_tokens as bigint) as keep_tokens",
            "n_islands",
        )
        .orderBy(F.desc("masked_tokens"), "doc_id")
        .limit(200)
    )
    return materialize_and_release(result, seeds)


# The removal ACTION itself: materialize the CLEANED corpus — the
# accounting above reports what WOULD be masked; this emits every
# document with the masked spans actually removed from its token
# stream (doc_b-side runs dropped, the doc_a occurrence kept — the
# Lee et al. 2022 all-but-one semantics). kept_tokens here equals the
# accounting's keep_tokens by construction (pinned by a test).
#
# Plan shape: the merged-interval frame (runs only — tiny next to the
# text at corpus scale, so it broadcasts under AQE in the common
# case; worst case one doc_id-key shuffle co-partitions each text
# row with its intervals exactly once) is collected into a per-doc
# sorted interval ARRAY, and the token drop is a map-side array HOF
# (filter with positional lambda) — the text column itself never
# joins, explodes, or shuffles beyond that single pairing.
# shared CTE chain (requires the runs + merged chains in scope):
# token positions -> masked-position drop -> per-doc cleaned text.
# `kept` (position-level) and `cleaned` (doc-level) are the two
# surfaces downstream oracles consume.
_SUBRUN_CLEAN_CTES = """tok_pos AS (
  SELECT t.doc_id, CAST(u.i AS INT) AS pos, t.toks[u.i] AS tok
  FROM tk t, unnest(generate_series(1, len(t.toks))) AS u(i)
),
kept AS (
  SELECT tp.doc_id, tp.pos, tp.tok
  FROM tok_pos tp
  WHERE NOT EXISTS (
    SELECT 1 FROM merged m
    WHERE m.doc_id = tp.doc_id AND tp.pos >= m.ms AND tp.pos <= m.me)
),
cl AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS kept_tokens,
         string_agg(tok, ' ' ORDER BY pos) AS cleaned_text
  FROM kept GROUP BY doc_id
),
cleaned AS (
  SELECT d.doc_id, d.lang,
         CAST(len(t.toks) AS BIGINT) AS n_tokens,
         CAST(COALESCE(c.kept_tokens, 0) AS BIGINT) AS kept_tokens,
         COALESCE(c.cleaned_text, '') AS cleaned_text
  FROM documents d
  JOIN tk t USING (doc_id)
  LEFT JOIN cl c USING (doc_id)
)"""

_SUBRUN_CLEAN_ORACLE = f"""
WITH {_SUBRUN_RUNS_CTES},
{_SUBRUN_MERGED_CTES},
{_SUBRUN_CLEAN_CTES}
SELECT doc_id, lang, n_tokens, kept_tokens, cleaned_text
FROM cleaned
ORDER BY doc_id
"""


def remove_substring_runs_frame(
    docs: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """The removal action over any (doc_id, lang, text) frame:
    returns (cleaned, seeds) where cleaned = (doc_id, lang, n_tokens,
    kept_tokens, cleaned_text) unordered and seeds is the persisted
    detection frame the caller must release. Shared by the registered
    query and the composed curation funnel."""
    runs, seeds = substring_runs_frame(docs)
    ivs = (
        masked_merged_intervals(runs)
        .groupBy("doc_id")
        .agg(
            F.expr("array_sort(collect_list(struct(ms, me)))").alias(
                "ivs"
            )
        )
    )
    toks = docs.selectExpr(
        "doc_id", "lang", f"{_WINNOW_TOKS_SPARK} as toks"
    )
    cleaned = (
        toks.join(ivs, "doc_id", "left")
        .selectExpr(
            "doc_id",
            "lang",
            "cast(size(toks) as bigint) as n_tokens",
            "filter(toks, (x, i) -> ivs is null or not exists(ivs,"
            " v -> i + 1 >= v.ms and i + 1 <= v.me)) as kept",
        )
        .selectExpr(
            "doc_id",
            "lang",
            "n_tokens",
            "cast(size(kept) as bigint) as kept_tokens",
            "concat_ws(' ', kept) as cleaned_text",
        )
    )
    return cleaned, seeds


@register("corpus_remove_substring_runs", oracle=_SUBRUN_CLEAN_ORACLE)
def corpus_remove_substring_runs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Materialize the cleaned corpus after exact-substring dedup:
    every document, with the masked (doc_b-side) token spans removed
    — (doc_id, lang, n_tokens, kept_tokens, cleaned_text). Documents
    without masked runs pass through verbatim; fully-masked documents
    surface kept_tokens = 0 with empty text. See the design comment
    above for the interval-array broadcast + positional-filter HOF
    plan shape (the 100 TB story: the text never shuffles more than
    once, and only when the interval frame is too big to broadcast)."""
    cleaned, seeds = remove_substring_runs_frame(
        # scan_parallel ADOPTED in r11 with the detection chain (see
        # substring_runs): the seed md5 map dominates, and here the
        # repartitioned frame also feeds the cleaned-text HOF leg.
        scan_parallel(spark, sf_dir, "documents")
    )
    return materialize_and_release(cleaned.orderBy("doc_id"), seeds)


# Family report: connected components over the substring-run pair
# graph — documents linked by ANY exact shared run >= L_SUBRUN tokens
# form a boilerplate FAMILY (license blocks, templates, mirrored
# articles). Composes the two existing capabilities: substring_runs
# supplies the edges, connected_component_labels supplies the
# clustering; per-family totals then ride one doc_a-side label join.
_SUBRUN_FAMILIES_ORACLE = f"""
WITH RECURSIVE {_SUBRUN_RUNS_CTES},
pe AS (
  SELECT doc_a, doc_b,
         CAST(COUNT(*) AS BIGINT) AS n_runs,
         CAST(SUM(run_tokens) AS BIGINT) AS run_tokens,
         CAST(MAX(run_tokens) AS BIGINT) AS max_run_tokens
  FROM runs GROUP BY doc_a, doc_b
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pe
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM pe
),
nodes AS (SELECT DISTINCT src AS doc FROM edges),
reach(doc, lab) AS (
  SELECT doc, doc FROM nodes
  UNION
  SELECT e.dst, r.lab FROM reach r JOIN edges e ON r.doc = e.src
),
comps AS (
  SELECT doc, MIN(lab) AS comp FROM reach GROUP BY doc
),
fam_docs AS (
  SELECT comp AS family, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM comps GROUP BY comp
),
fam_pairs AS (
  SELECT c.comp AS family,
         CAST(COUNT(*) AS BIGINT) AS n_doc_pairs,
         CAST(SUM(pe.n_runs) AS BIGINT) AS n_runs,
         CAST(SUM(pe.run_tokens) AS BIGINT) AS total_run_tokens,
         CAST(MAX(pe.max_run_tokens) AS BIGINT) AS max_run_tokens
  FROM pe JOIN comps c ON pe.doc_a = c.doc
  GROUP BY c.comp
)
SELECT d.family, d.n_docs, p.n_doc_pairs, p.n_runs,
       p.total_run_tokens, p.max_run_tokens
FROM fam_docs d JOIN fam_pairs p USING (family)
ORDER BY d.n_docs DESC, p.total_run_tokens DESC, d.family
LIMIT 100
"""


@register("dedup_substring_run_families", oracle=_SUBRUN_FAMILIES_ORACLE)
def dedup_substring_run_families(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Boilerplate families: connected components over the exact-
    substring-run pair graph, with per-family document counts and
    shared-run totals — the corpus-level view of which document
    CLUSTERS share long exact text (detection -> pair report ->
    family report completes the sub-document dedup funnel). Same
    iterative min-label/pointer-jumping engine as
    dedup_connected_components; the oracle re-derives families with
    a recursive CTE over the shared runs chain."""
    runs, seeds = substring_runs(spark, sf_dir)
    pe = runs.groupBy("doc_a", "doc_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_runs"),
        F.sum("run_tokens").cast("long").alias("run_tokens"),
        F.max("run_tokens").cast("long").alias("max_run_tokens"),
    )
    edges = (
        pe.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(
            pe.select(
                F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
            )
        )
        .persist()
    )
    labels = connected_component_labels(edges)
    fam_docs = labels.groupBy(F.col("comp").alias("family")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    fam_pairs = (
        pe.join(labels, pe.doc_a == labels.doc)
        .groupBy(F.col("comp").alias("family"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_doc_pairs"),
            F.sum("n_runs").cast("long").alias("n_runs"),
            F.sum("run_tokens").cast("long").alias("total_run_tokens"),
            F.max("max_run_tokens").cast("long").alias("max_run_tokens"),
        )
    )
    result = (
        fam_docs.join(fam_pairs, "family")
        .select(
            "family", "n_docs", "n_doc_pairs", "n_runs",
            "total_run_tokens", "max_run_tokens",
        )
        .orderBy(
            F.desc("n_docs"), F.desc("total_run_tokens"), "family"
        )
        .limit(100)
    )
    return materialize_and_release(
        result, seeds, edges, labels._ckpt_source
    )


# --------------------------------------------------------------------
# Incremental LSH-INDEX maintenance: the MinHash sibling of
# mv_ivf_incremental_maintenance (ml.py). The serving artifact of the
# MinHash near-dup family is the banded bucket index
# (band_id, band_key) -> member docs; signatures are PER-DOCUMENT
# (map-only, minhash_wide_signatures above), so when a delta of new
# documents lands, production appends delta-only index rows — it
# never re-signs the corpus. This operator maintains per-bucket index
# stats (member count + the canon limb-fold fingerprint of the
# member-id set, whose limb sums are associative and therefore
# delta-mergeable) from a 7/8 base plus a 1/8 delta, proves
# bucket-for-bucket equality against the full recompute INSIDE the
# plan, and reports per band: (band_id, n_buckets, n_index_rows,
# n_delta_rows, band_fp, audit_ok). Unlike the IVF sibling's inner
# join, the compare here is a null-safe FULL OUTER join, so a bucket
# present on only one side fails the audit instead of vanishing.
#
# Work shape at 100 TB: the delta pays one |delta| map-only
# signature pass plus a bucket-stats merge keyed by (band_id,
# band_key) — both delta-sized; the full-recompute leg exists only to
# be auditable (and is what the audit would flag if the merge logic
# ever drifted). band_fp sums per-bucket 31-bit folds, so it stays
# int64-exact below 2^32 buckets per band.
# --------------------------------------------------------------------


def _lsh_bucket_stats_frame(docs: DataFrame) -> DataFrame:
    """(band_id, band_key, n, s45, s30, s15, s0): per-bucket member
    count + canon limb sums over the member doc_ids."""
    from workshop3_etl_spark.functions.canon import (
        FP_BASE,
        FP_SHIFTS,
        fp_hash_spark,
    )

    h = fp_hash_spark("cast(doc_id as string)")
    return minhash_band_frame(docs).groupBy("band_id", "band_key").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        *[
            F.expr(f"cast(sum(({h} >> {s}) % {FP_BASE}) as bigint)")
            .alias(f"s{s}")
            for s in FP_SHIFTS
        ],
    )


def _lsh_bucket_stats_duck(tag: str, src_filter: str) -> str:
    """DuckDB CTE chain ``{tag}sh -> {tag}st`` producing the identical
    per-bucket stats over documents rows satisfying ``src_filter``."""
    from workshop3_etl_spark.functions.canon import (
        FP_BASE,
        FP_SHIFTS,
        fp_hash_duck,
    )

    sig_aggs = ",\n    ".join(
        f"MIN(substr(md5(shingle), {i * 4 + 1}, 4)) AS h{i}"
        for i in range(_N_HASHES)
    )
    band_exprs = ",\n    ".join(
        "md5("
        + " || ".join(
            f"h{b * _ROWS_PER_BAND + r}" for r in range(_ROWS_PER_BAND)
        )
        + f") AS band{b}"
        for b in range(_N_BANDS)
    )
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_id, band{b} AS band_key"
        f" FROM {tag}sig"
        for b in range(_N_BANDS)
    )
    hh = fp_hash_duck("cast(doc_id as varchar)")
    limbs = ", ".join(
        f"CAST(SUM(({hh} >> {s}) % {FP_BASE}) AS BIGINT) AS s{s}"
        for s in FP_SHIFTS
    )
    return f"""{tag}sh AS (
  SELECT doc_id, unnest({_shingle_sql_duck()}) AS shingle
  FROM documents WHERE {src_filter}
),
{tag}mh AS (
  SELECT doc_id,
    {sig_aggs}
  FROM {tag}sh GROUP BY doc_id
),
{tag}sig AS (
  SELECT doc_id,
    {band_exprs}
  FROM {tag}mh
),
{tag}bands AS ({band_selects}),
{tag}st AS (
  SELECT band_id, band_key, CAST(COUNT(*) AS BIGINT) AS n, {limbs}
  FROM {tag}bands GROUP BY band_id, band_key
)"""


def _lsh_ivm_oracle() -> str:
    from workshop3_etl_spark.functions.canon import (
        FP_BASE,
        FP_PRIME,
        FP_SHIFTS,
    )

    acc = f"(m.s{FP_SHIFTS[0]} % {FP_PRIME})"
    for s in FP_SHIFTS[1:]:
        acc = f"((({acc}) * {FP_BASE} + m.s{s} % {FP_PRIME}) % {FP_PRIME})"
    eqs = " AND ".join(
        f"(m.s{s} IS NOT DISTINCT FROM f.s{s})" for s in FP_SHIFTS
    )
    sums = ", ".join(
        f"CAST(SUM(s{s}) AS BIGINT) AS s{s}" for s in FP_SHIFTS
    )
    return f"""
WITH {_lsh_bucket_stats_duck("b", "doc_id % 8 <> 0")},
{_lsh_bucket_stats_duck("d", "doc_id % 8 = 0")},
{_lsh_bucket_stats_duck("f", "TRUE")},
merged AS (
  SELECT band_id, band_key, CAST(SUM(n) AS BIGINT) AS n, {sums}
  FROM (SELECT * FROM bst UNION ALL SELECT * FROM dst)
  GROUP BY band_id, band_key
),
joined AS (
  SELECT COALESCE(m.band_id, f.band_id) AS band_id,
         m.n AS mn,
         CAST(COALESCE({acc}, 0) AS BIGINT) AS bucket_fp,
         ((m.n IS NOT DISTINCT FROM f.n) AND {eqs}) AS ok
  FROM merged m
  FULL OUTER JOIN fst f
    ON m.band_id = f.band_id AND m.band_key = f.band_key
),
deltas AS (
  SELECT band_id, CAST(SUM(n) AS BIGINT) AS n_delta_rows
  FROM dst GROUP BY band_id
)
SELECT CAST(j.band_id AS INT) AS band_id,
       CAST(COUNT(*) AS BIGINT) AS n_buckets,
       CAST(SUM(COALESCE(j.mn, 0)) AS BIGINT) AS n_index_rows,
       COALESCE(MIN(dl.n_delta_rows), 0) AS n_delta_rows,
       CAST(SUM(j.bucket_fp) % {FP_PRIME} AS BIGINT) AS band_fp,
       BOOL_AND(j.ok) AS audit_ok
FROM joined j LEFT JOIN deltas dl ON dl.band_id = j.band_id
GROUP BY j.band_id
ORDER BY band_id
"""


@register("mv_lsh_incremental_maintenance", oracle=_lsh_ivm_oracle())
def mv_lsh_incremental_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Maintain the MinHash-LSH bucket-index stats (per-bucket member
    count + canon limb-fold fingerprint) from a 7/8 base plus a 1/8
    delta — delta-only signatures, limb-sum merge — and prove
    bucket-for-bucket equality against the full recompute inside the
    plan, per band: (band_id, n_buckets, n_index_rows, n_delta_rows,
    band_fp, audit_ok). See the section design comment for the
    null-safe outer-join audit and the 100 TB work shape."""
    from workshop3_etl_spark.functions.canon import (
        FP_BASE,
        FP_PRIME,
        FP_SHIFTS,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = _lsh_bucket_stats_frame(docs.filter("doc_id % 8 <> 0"))
    delta = _lsh_bucket_stats_frame(docs.filter("doc_id % 8 = 0")).persist()
    delta.count()
    full = _lsh_bucket_stats_frame(docs)
    merged = (
        base.unionByName(delta)
        .groupBy("band_id", "band_key")
        .agg(
            F.sum("n").cast("long").alias("n"),
            *[
                F.sum(f"s{s}").cast("long").alias(f"s{s}")
                for s in FP_SHIFTS
            ],
        )
    )
    m = merged.alias("m")
    f = full.alias("f")
    acc = f"(m.s{FP_SHIFTS[0]} % {FP_PRIME})"
    for s in FP_SHIFTS[1:]:
        acc = f"((({acc}) * {FP_BASE} + m.s{s} % {FP_PRIME}) % {FP_PRIME})"
    eqs = " AND ".join(f"(m.s{s} <=> f.s{s})" for s in FP_SHIFTS)
    joined = (
        m.join(f, ["band_id", "band_key"], "full_outer")
        .selectExpr(
            "band_id",
            "m.n as mn",
            f"cast(coalesce({acc}, 0L) as bigint) as bucket_fp",
            f"((m.n <=> f.n) and {eqs}) as ok",
        )
    )
    deltas = delta.groupBy("band_id").agg(
        F.sum("n").cast("long").alias("n_delta_rows")
    )
    result = (
        joined.groupBy("band_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_buckets"),
            F.expr("cast(sum(coalesce(mn, 0L)) as bigint)").alias(
                "n_index_rows"
            ),
            F.expr(f"cast(sum(bucket_fp) % {FP_PRIME} as bigint)").alias(
                "band_fp"
            ),
            F.expr("bool_and(ok)").alias("audit_ok"),
        )
        .join(F.broadcast(deltas), "band_id", "left")
        .selectExpr(
            "cast(band_id as int) as band_id",
            "n_buckets",
            "n_index_rows",
            "coalesce(n_delta_rows, 0L) as n_delta_rows",
            "band_fp",
            "audit_ok",
        )
        .orderBy("band_id")
    )
    return materialize_and_release(result, delta)


# --------------------------------------------------------------------
# LSH quality evaluation: precision / recall of the MinHash-LSH
# candidate generator against EXACT 5-shingle Jaccard ground truth —
# the eval harness every production dedup pipeline runs when tuning
# the (bands, rows) dial. Precision is exact and global (every
# candidate pair gets its true Jaccard — candidate sets are small by
# construction); recall is measured WITHIN the (lang, source) blocks
# (the dedup_ngram_jaccard_blocked bound on the quadratic truth
# enumeration — at 100 TB you estimate recall on sampled blocks, the
# same shape). Two operating points are reported: the j >= 0.2 band
# (where 4 bands x 2 rows only catches ~15% by design — the honest
# number that tells you to re-dial for low-sim corpora) and the
# j >= 0.5 near-dup band the index is tuned for. Set sizes are
# integer, ratios single double divisions, NULLIF-guarded.
# --------------------------------------------------------------------

_LSH_EVAL_THRESHOLDS = (0.2, 0.5)


def _lsh_eval_oracle() -> str:
    th_cols = []
    for th in _LSH_EVAL_THRESHOLDS:
        t = str(th).replace("0.", "0")
        th_cols.append(
            f"""CAST((SELECT COUNT(*) FROM cj WHERE j >= {th}) AS BIGINT)
    AS n_cand_true_{t},
  CAST((SELECT COUNT(*) FROM cj WHERE j >= {th}) AS DOUBLE)
    / CAST(NULLIF((SELECT COUNT(*) FROM cj), 0) AS DOUBLE)
    AS precision_{t},
  CAST((SELECT COUNT(*) FROM bt WHERE j >= {th}) AS BIGINT)
    AS n_true_blocked_{t},
  CAST((SELECT COUNT(*) FROM bt b JOIN pairs p
        ON p.doc_a = b.doc_a AND p.doc_b = b.doc_b
        WHERE b.j >= {th}) AS BIGINT) AS n_captured_blocked_{t},
  CAST((SELECT COUNT(*) FROM bt b JOIN pairs p
        ON p.doc_a = b.doc_a AND p.doc_b = b.doc_b
        WHERE b.j >= {th}) AS DOUBLE)
    / CAST(NULLIF((SELECT COUNT(*) FROM bt WHERE j >= {th}), 0)
           AS DOUBLE) AS recall_blocked_{t}"""
        )
    cols = ",\n  ".join(th_cols)
    return f"""
WITH {_minhash_pairs_cte()},
sh AS (
  SELECT doc_id, lang, source,
         list_distinct({_shingle_sql_duck()}) AS sh
  FROM documents
),
cj AS (
  SELECT p.doc_a, p.doc_b,
         CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
           / CAST(len(list_distinct(list_concat(a.sh, b.sh)))
                  AS DOUBLE) AS j
  FROM pairs p
  JOIN sh a ON a.doc_id = p.doc_a
  JOIN sh b ON b.doc_id = p.doc_b
),
bt AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
           / CAST(len(list_distinct(list_concat(a.sh, b.sh)))
                  AS DOUBLE) AS j
  FROM sh a JOIN sh b
    ON a.lang = b.lang AND a.source = b.source
   AND a.doc_id < b.doc_id
)
SELECT
  CAST((SELECT COUNT(*) FROM pairs) AS BIGINT) AS n_candidates,
  {cols}
"""


@register(
    "dedup_lsh_eval_metrics",
    oracle=_lsh_eval_oracle(),
    perf_class="ground_truth",
)
def dedup_lsh_eval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall of the MinHash-LSH candidate generator vs
    exact shingle-Jaccard ground truth at j >= 0.2 and j >= 0.5
    (recall within (lang, source) blocks) — one row of counts and
    NULLIF-guarded ratios. See the section design comment for why
    both operating points are reported."""
    docs = load_table(spark, sf_dir, "documents")
    pairs, sigs = _minhash_candidate_pairs(spark, sf_dir)
    pairs = pairs.persist()
    sh = docs.selectExpr(
        "doc_id",
        "lang",
        "source",
        f"array_distinct({_shingle_sql_spark()}) as sh",
    ).persist()
    sh.count()
    jac = (
        "cast(size(array_intersect(a_sh, b_sh)) as double)"
        " / cast(size(array_distinct(concat(a_sh, b_sh))) as double)"
    )
    cj = (
        pairs.join(
            sh.selectExpr("doc_id as doc_a", "sh as a_sh"), "doc_a"
        )
        .join(sh.selectExpr("doc_id as doc_b", "sh as b_sh"), "doc_b")
        .selectExpr("doc_a", "doc_b", f"{jac} as j")
    )
    a = sh.selectExpr(
        "doc_id as doc_a", "lang", "source", "sh as a_sh"
    )
    b = sh.selectExpr(
        "doc_id as doc_b", "lang", "source", "sh as b_sh"
    )
    bt = (
        a.join(b, ["lang", "source"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .selectExpr("doc_a", "doc_b", f"{jac} as j")
        .persist()
    )
    bt.count()
    cap = bt.join(pairs, ["doc_a", "doc_b"])
    aggs = [F.count(F.lit(1)).cast("long").alias("n_candidates")]
    legs = [pairs.agg(*aggs)]
    for th in _LSH_EVAL_THRESHOLDS:
        t = str(th).replace("0.", "0")
        legs.append(
            cj.agg(
                F.sum(F.expr(f"case when j >= {th} then 1 else 0 end"))
                .cast("long")
                .alias(f"n_cand_true_{t}"),
                (
                    F.sum(
                        F.expr(f"case when j >= {th} then 1 else 0 end")
                    ).cast("double")
                    / F.expr("cast(nullif(count(1), 0) as double)")
                ).alias(f"precision_{t}"),
            )
        )
        legs.append(
            bt.agg(
                F.sum(F.expr(f"case when j >= {th} then 1 else 0 end"))
                .cast("long")
                .alias(f"n_true_blocked_{t}")
            )
        )
        legs.append(
            cap.agg(
                F.sum(F.expr(f"case when j >= {th} then 1 else 0 end"))
                .cast("long")
                .alias(f"n_captured_blocked_{t}")
            )
        )
    row = legs[0]
    for leg in legs[1:]:
        row = row.crossJoin(F.broadcast(leg))
    for th in _LSH_EVAL_THRESHOLDS:
        t = str(th).replace("0.", "0")
        row = row.withColumn(
            f"recall_blocked_{t}",
            F.col(f"n_captured_blocked_{t}").cast("double")
            / F.expr(
                f"cast(nullif(n_true_blocked_{t}, 0) as double)"
            ),
        )
    order = ["n_candidates"]
    for th in _LSH_EVAL_THRESHOLDS:
        t = str(th).replace("0.", "0")
        order += [
            f"n_cand_true_{t}", f"precision_{t}", f"n_true_blocked_{t}",
            f"n_captured_blocked_{t}", f"recall_blocked_{t}",
        ]
    result = row.select(*order)
    return materialize_and_release(result, pairs, sigs, sh, bt)


# --------------------------------------------------------------------
# Content-defined chunking (CDC) dedup audit: split every document at
# rolling-hash boundaries (Gear/Rabin family — the primitive beneath
# storage dedup, rsync-style delta transfer, and chunk-level corpus
# dedup), then measure cross-document chunk duplication. Unlike
# fixed-size blocks, CDC boundaries survive insertions — an edited
# near-dup re-aligns after the edit and its unchanged chunks still
# hash-match, which is exactly the signal measured here (21% duplicate
# chunks on this corpus at sf0.01, prototyped).
#
# Boundary rule (deterministic integer algebra, engine-identical): at
# 1-based position i >= 8, the window hash
#   h(i) = sum_(j=0..7) code(text[i-j]) * 31^j      (int64: <= 3.4e12)
# marks a boundary when h(i) % 64 == 0 (expected chunk ~64 chars);
# the final chunk always closes at the text end. The unrolled
# 8-term sum is pure per-row expression work — no UDF. Note the
# Spark sequence(8, L) descending-sequence trap for L < 8 is guarded
# (short docs become one whole-text chunk).
#
# Scale: chunking is map-only; the only shuffle is the distinct-count
# over 16-byte chunk md5s (chunk-vocabulary-sized, the gram-novelty
# class). Output is a 1-row audit.
# --------------------------------------------------------------------

_CDC_W = 8
_CDC_D = 64

# The Spark side precomputes the per-char code array ONCE per row
# (split + one ascii per char); the boundary filter then does 8
# element_at lookups per position instead of 8 substring+ascii
# calls — measured 10x cheaper at sf0.1 (43s -> 4s) because the
# interpreted-HOF cost is per primitive call.
_CDC_CODES_SPARK = "transform(split(text, ''), c -> ascii(c))"
_CDC_BOUNDS_SPARK = (
    "case when length(text) < 8 then array() else"
    " filter(sequence(8, length(text)),"
    " i -> (element_at(cs, i - 0) * 1L + element_at(cs, i - 1) * 31L + element_at(cs, i - 2) * 961L + element_at(cs, i - 3) * 29791L + element_at(cs, i - 4) * 923521L + element_at(cs, i - 5) * 28629151L + element_at(cs, i - 6) * 887503681L + element_at(cs, i - 7) * 27512614111L) % 64 = 0) end"
)
_CDC_BOUNDS_DUCK = (
    "[i FOR i IN range(8, length(text) + 1)"
    " IF (CAST(ord(text[i - 0]) AS BIGINT) * 1 + CAST(ord(text[i - 1]) AS BIGINT) * 31 + CAST(ord(text[i - 2]) AS BIGINT) * 961 + CAST(ord(text[i - 3]) AS BIGINT) * 29791 + CAST(ord(text[i - 4]) AS BIGINT) * 923521 + CAST(ord(text[i - 5]) AS BIGINT) * 28629151 + CAST(ord(text[i - 6]) AS BIGINT) * 887503681 + CAST(ord(text[i - 7]) AS BIGINT) * 27512614111) % 64 = 0]"
)

_CDC_ORACLE = f"""
WITH b AS (
  SELECT doc_id, text, {_CDC_BOUNDS_DUCK} AS bs
  FROM documents
),
e AS (
  SELECT doc_id, text,
         CASE WHEN length(text) = 0 THEN []
              WHEN len(bs) = 0 OR bs[-1] <> length(text)
                THEN list_append(bs, length(text))
              ELSE bs END AS ends
  FROM b
),
chunks AS (
  SELECT doc_id,
         md5(substring(text,
             CASE WHEN k = 1 THEN 1 ELSE ends[k - 1] + 1 END,
             ends[k] - (CASE WHEN k = 1 THEN 1
                             ELSE ends[k - 1] + 1 END) + 1)) AS h,
         ends[k] - (CASE WHEN k = 1 THEN 1
                         ELSE ends[k - 1] + 1 END) + 1 AS clen
  FROM e, unnest(generate_series(1, len(ends))) AS u(k)
),
docs_n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents)
SELECT d.n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(COUNT(DISTINCT h) AS BIGINT) AS n_distinct_chunks,
       CAST(SUM(clen) AS BIGINT) AS total_chunk_chars,
       CAST(SUM(clen) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
         AS avg_chunk_len,
       1e0 - CAST(COUNT(DISTINCT h) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
         AS dup_chunk_fraction
FROM chunks CROSS JOIN docs_n d
GROUP BY d.n_docs
"""


@register("dedup_cdc_chunk_stats", oracle=_CDC_ORACLE)
def dedup_cdc_chunk_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined-chunking dedup audit: (n_docs, n_chunks,
    n_distinct_chunks, total_chunk_chars, avg_chunk_len,
    dup_chunk_fraction) under the Gear-style rolling-hash boundary
    rule in the section comment. Map-only chunking; one
    chunk-vocabulary-sized distinct count.

    scan_parallel: the per-char Gear-hash filter is the heaviest
    pure-expression map in the engine; one-row-group layout = one
    task (guide §2.5). The n_docs count stays on the bare scan (it
    needs no parallelism and skips the repartition exchange)."""
    docs = load_table(spark, sf_dir, "documents")
    withcs = scan_parallel(spark, sf_dir, "documents").selectExpr(
        "doc_id", "text", f"{_CDC_CODES_SPARK} as cs"
    ).selectExpr(
        "doc_id", "text", f"{_CDC_BOUNDS_SPARK} as bs"
    )
    e = withcs.selectExpr(
        "doc_id",
        "text",
        "case when length(text) = 0 then array()"
        " when size(bs) = 0 or element_at(bs, -1) != length(text)"
        " then concat(bs, array(length(text)))"
        " else bs end as ends",
    )
    chunks = e.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(ends)), k -> named_struct("
                "'h', md5(cast(substring(text,"
                " case when k = 1 then 1"
                " else element_at(ends, k - 1) + 1 end,"
                " element_at(ends, k) - (case when k = 1 then 1"
                " else element_at(ends, k - 1) + 1 end) + 1)"
                " as binary)),"
                "'clen', cast(element_at(ends, k)"
                " - (case when k = 1 then 1"
                " else element_at(ends, k - 1) + 1 end) + 1 as bigint)))"
            )
        ).alias("c"),
    ).select("doc_id", F.col("c.h").alias("h"), F.col("c.clen").alias("clen"))
    docs_n = docs.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    return (
        chunks.agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.countDistinct("h").cast("long").alias("n_distinct_chunks"),
            F.sum("clen").cast("long").alias("total_chunk_chars"),
        )
        .crossJoin(F.broadcast(docs_n))
        .selectExpr(
            "n_docs",
            "n_chunks",
            "n_distinct_chunks",
            "total_chunk_chars",
            "cast(total_chunk_chars as double) / cast(n_chunks as double)"
            " as avg_chunk_len",
            "1e0 - cast(n_distinct_chunks as double)"
            " / cast(n_chunks as double) as dup_chunk_fraction",
        )
    )
