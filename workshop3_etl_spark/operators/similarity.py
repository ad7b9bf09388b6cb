"""Similarity search over the ``embeddings`` table (array<float>, 64-d).

The LLM-pipeline ANN family (BASELINE.json north star):

- brute-force cosine top-k — the exactness baseline
- all-pairs near-duplicate detection above a cosine threshold
- LSH-bucketed ANN (random hyperplanes) — the scale path, validated
  against brute force in tests/test_similarity.py

Determinism: dot products are sequential left-folds over the zipped
element products in IEEE doubles. A left fold with a 0.0 seed adds
elements in index order — the identical sequence DuckDB's
``list_reduce`` performs — so cosines, and therefore rankings, are
bit-identical across engines (verified empirically; note 0.0+x1 == x1
exactly, so the differing seed conventions don't matter).

Scale notes:
- Norms are computed per-vector BEFORE any join (map-only), so the
  pairwise stage is pure per-row expression work: no explode, no
  shuffle of element products. The only exchange in the whole
  brute-force plan is the final per-query ranking window.
- Brute force is O(Q x N x d): fine for reranking candidate sets,
  never the full corpus. The broadcast side is the query set.
- LSH hyperplane signatures are map-only (one pass over vectors);
  bucket join + within-bucket rerank is the standard recall/latency
  dial (more tables/bits). An IVF variant would k-means the corpus
  and probe nearest centroids — same join shape.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from workshop3_etl_spark.functions.cache import materialize_and_release
from workshop3_etl_spark.plans.registry import register
from workshop3_etl_spark.sources.tables import load_table, scan_parallel

_N_QUERIES = 5  # vec_id < 5 are the query vectors
_TOP_K = 10
# 4 bits x 8 tables: tuned for the testdata's weak similarity
# structure (true top-10 neighbors sit at cosine ~0.25-0.4, where the
# per-bit sign-agreement probability is only ~0.6, so short band
# signatures + many tables is the recall-preserving configuration;
# tight-duplicate corpora would invert the dial to more bits, fewer
# tables).
_N_HYPERPLANES = 4  # LSH signature bits per table
_N_TABLES = 8  # independent hash tables (OR-amplification)


def dot_fold(a: str, b: str) -> Column:
    """Deterministic double dot product: sequential left-fold over
    zipped element products (bit-identical to DuckDB list_reduce)."""
    return F.expr(
        f"aggregate(zip_with({a}, {b},"
        f" (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
        f" CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def _dot_duck(a: str, b: str) -> str:
    return (
        f"list_reduce(list_transform(list_zip({a}, {b}),"
        f" p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (x, y) -> x + y)"
    )


def _norm2_duck(a: str) -> str:
    return (
        f"list_reduce(list_transform({a},"
        f" x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x, y) -> x + y)"
    )


def _cosine_topk_ctes(p: str) -> str:
    """The exact brute-force cosine top-K chain as prefixable CTEs,
    ending in ``{p}exact`` (query_id, rank, candidate_id,
    candidate_label, cosine_sim; rank <= TOP_K). Single source of
    truth for the standalone oracle and the retrieval-eval oracles
    that grade an index against this ground truth."""
    return f"""{p}q AS (
  SELECT vec_id AS query_id, embedding AS qv,
         {_norm2_duck('embedding')} AS qn
  FROM embeddings WHERE vec_id < {_N_QUERIES}
),
{p}c AS (
  SELECT vec_id AS candidate_id, label AS candidate_label, embedding AS cv,
         {_norm2_duck('embedding')} AS cn
  FROM embeddings
),
{p}exact AS (
  SELECT query_id, rank, candidate_id, candidate_label, cosine_sim
  FROM (
    SELECT
      q.query_id,
      c.candidate_id,
      c.candidate_label,
      {_dot_duck('q.qv', 'c.cv')} / (SQRT(q.qn) * SQRT(c.cn)) AS cosine_sim,
      ROW_NUMBER() OVER (
        PARTITION BY q.query_id
        ORDER BY {_dot_duck('q.qv', 'c.cv')} / (SQRT(q.qn) * SQRT(c.cn)) DESC,
                 c.candidate_id
      ) AS rank
    FROM {p}q q, {p}c c
    WHERE q.query_id <> c.candidate_id
  ) WHERE rank <= {_TOP_K}
)"""


_TOPK_ORACLE = f"""
WITH {_cosine_topk_ctes('')}
SELECT query_id, CAST(rank AS INT) AS rank, candidate_id, candidate_label,
       cosine_sim
FROM exact
ORDER BY query_id, rank
"""


@register("sim_cosine_topk_bruteforce", oracle=_TOPK_ORACLE)
def sim_cosine_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 for the first 5 query vectors.

    Norms precomputed per side (map-only), dot as an in-expression
    fold — the pairwise stage is shuffle-free; only the ranking
    window exchanges (keyed by query)."""
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        dot_fold("embedding", "embedding").alias("qn"),
    )
    c = emb.select(
        F.col("vec_id").alias("candidate_id"),
        F.col("label").alias("candidate_label"),
        F.col("embedding").alias("cv"),
        dot_fold("embedding", "embedding").alias("cn"),
    )
    sim = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("candidate_id"))
        .select(
            "query_id",
            "candidate_id",
            "candidate_label",
            (dot_fold("qv", "cv") / (F.sqrt("qn") * F.sqrt("cn")))
            .alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("candidate_id")
    )
    return (
        sim.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOP_K)
        .select("query_id", "rank", "candidate_id", "candidate_label", "cosine_sim")
        .orderBy("query_id", "rank")
    )


# --------------------------------------------------------------------
# Label-blocked near-duplicate pairs above a cosine threshold
# (embedding-cosine near-dup — the dedup-by-embedding operator).
# --------------------------------------------------------------------

_NEARDUP_ORACLE = f"""
WITH v AS (
  SELECT vec_id, label, embedding AS ev,
         {_norm2_duck('embedding')} AS nrm
  FROM embeddings
),
pairs AS (
  SELECT
    a.label,
    {_dot_duck('a.ev', 'b.ev')} / (SQRT(a.nrm) * SQRT(b.nrm)) AS cosine_sim
  FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
)
SELECT
  label,
  CAST(COUNT(*) AS BIGINT) AS n_pairs,
  CAST(SUM(CASE WHEN cosine_sim >= 0.9 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_above_090,
  CAST(SUM(CASE WHEN cosine_sim >= 0.99 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_above_099
FROM pairs
GROUP BY label
ORDER BY label
"""


@register("sim_embedding_neardup_blocked", oracle=_NEARDUP_ORACLE)
def sim_embedding_neardup_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-label cosine near-dup counts (label as blocking key —
    production swaps in LSH buckets for the block)."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.col("embedding").alias("ev"),
        dot_fold("embedding", "embedding").alias("nrm"),
    )
    a = emb.alias("a")
    b = emb.alias("b")
    cos = (
        F.expr(
            "aggregate(zip_with(a.ev, b.ev,"
            " (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
            " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        )
        / (F.sqrt(F.col("a.nrm")) * F.sqrt(F.col("b.nrm")))
    )
    pairs = (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.label").alias("label"), cos.alias("cosine_sim"))
    )
    return (
        pairs.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum((F.col("cosine_sim") >= 0.9).cast("int")).cast("long")
            .alias("n_above_090"),
            F.sum((F.col("cosine_sim") >= 0.99).cast("int")).cast("long")
            .alias("n_above_099"),
        )
        .orderBy("label")
    )


# --------------------------------------------------------------------
# LSH-bucketed ANN (random hyperplanes) — the scale path.
# --------------------------------------------------------------------

def _hyperplanes(dim: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (hash-derived, no RNG
    state — reproducible across drivers/executors/runs)."""
    import hashlib
    import struct

    planes = []
    for t in range(_N_TABLES):
        for h in range(_N_HYPERPLANES):
            vals = []
            for d in range(dim):
                digest = hashlib.md5(f"{seed}:{t}:{h}:{d}".encode()).digest()
                # uniform in [-0.5, 0.5)
                vals.append(struct.unpack("<Q", digest[:8])[0] / 2**64 - 0.5)
            planes.append(vals)
    return planes


def lsh_signatures(df: DataFrame, vec_col: str, dim: int = 64) -> DataFrame:
    """Add (table_id, bucket) signature rows per vector: sign pattern
    of _N_HYPERPLANES dot products per table. Map-only — one pass, no
    shuffle; the bucket string is the join key downstream."""
    planes = _hyperplanes(dim)
    out = df
    bits = []
    for i, plane in enumerate(planes):
        arr = "array(" + ", ".join(repr(v) for v in plane) + ")"
        dot = F.expr(
            f"aggregate(zip_with({vec_col}, {arr}, (x, y) -> CAST(x AS DOUBLE) * y),"
            f" CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        )
        bits.append(F.when(dot >= 0, "1").otherwise("0").alias(f"bit{i}"))
    out = out.select("*", *bits)
    # ONE posexplode scan over the per-table bucket strings (a
    # _N_TABLES-branch union would re-evaluate the 32 hyperplane
    # folds once per branch).
    buckets = F.array(
        *[
            F.concat(
                *[
                    F.col(f"bit{t * _N_HYPERPLANES + h}")
                    for h in range(_N_HYPERPLANES)
                ]
            )
            for t in range(_N_TABLES)
        ]
    )
    return out.select(
        *df.columns, F.posexplode(buckets).alias("table_id", "bucket")
    )


def _lsh_bucket_duck(t: int, planes: list[list[float]]) -> str:
    """One table's bucket string in DuckDB from the SAME literal
    hyperplanes the Spark plan embeds (repr round-trips doubles, and
    the sequential fold matches dot_fold bit-for-bit)."""
    bits = []
    for h in range(_N_HYPERPLANES):
        plane = planes[t * _N_HYPERPLANES + h]
        arr = "[" + ", ".join(repr(v) for v in plane) + "]"
        dot = (
            f"list_reduce(list_transform(list_zip(ev, {arr}),"
            f" p -> CAST(p[1] AS DOUBLE) * p[2]), (x, y) -> x + y)"
        )
        bits.append(f"(CASE WHEN {dot} >= 0 THEN '1' ELSE '0' END)")
    return " || ".join(bits)


def _lsh_topk_oracle() -> str:
    planes = _hyperplanes(64)
    sig_sql = "\nUNION ALL\n".join(
        f"  SELECT vec_id, {t} AS table_id,"
        f" {_lsh_bucket_duck(t, planes)} AS bucket FROM v"
        for t in range(_N_TABLES)
    )
    return f"""
WITH v AS (
  SELECT vec_id, embedding AS ev, {_norm2_duck('embedding')} AS nrm
  FROM embeddings
),
sig AS (
{sig_sql}
),
cand AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS candidate_id
  FROM sig q
  JOIN sig c ON q.table_id = c.table_id AND q.bucket = c.bucket
  WHERE q.vec_id < {_N_QUERIES} AND q.vec_id <> c.vec_id
)
SELECT query_id, CAST(rank AS INT) AS rank, candidate_id, cosine_sim
FROM (
  SELECT cand.query_id, cand.candidate_id,
         {_dot_duck('x.ev', 'y.ev')} / (SQRT(x.nrm) * SQRT(y.nrm))
           AS cosine_sim,
         ROW_NUMBER() OVER (
           PARTITION BY cand.query_id
           ORDER BY {_dot_duck('x.ev', 'y.ev')}
                      / (SQRT(x.nrm) * SQRT(y.nrm)) DESC,
                    cand.candidate_id
         ) AS rank
  FROM cand
  JOIN v x ON x.vec_id = cand.query_id
  JOIN v y ON y.vec_id = cand.candidate_id
)
WHERE rank <= {_TOP_K}
ORDER BY query_id, rank
"""


@register("sim_ann_lsh_topk", oracle=_lsh_topk_oracle())
def sim_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate cosine top-k: LSH candidate generation (8 tables x
    4 hyperplane bits) + exact rerank within candidates.

    Fully oracled: the hyperplanes are deterministic hash-derived
    literals shared with the DuckDB oracle (the same shared-literal
    trick as sim_neardup_lsh_buckets/sim_ann_ivf_topk), so bucketing,
    candidate generation, and rerank hash-match end-to-end.
    tests/test_similarity.py separately measures recall vs the
    brute-force baseline. At corpus scale the bucket join touches
    only colliding candidates — the classic sublinear ANN trade: more
    tables = more recall, longer buckets = more rerank cost.
    """
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    # Materialize the signature table (vec_id, table_id, bucket) —
    # in production this IS a persisted index artifact; here it also
    # keeps the 32 hyperplane fold-expressions from being re-inlined
    # into every branch of the self-join plan.
    sigs = (
        lsh_signatures(emb.select("vec_id", F.col("embedding").alias("v")), "v")
        .select("vec_id", "table_id", "bucket")
        .persist()
    )
    sigs.count()  # force the index build
    q = sigs.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "table_id", "bucket"
    )
    c = sigs.select(F.col("vec_id").alias("candidate_id"), "table_id", "bucket")
    # bucket join carries only ids — vectors re-attach for the rerank
    cand_ids = (
        q.join(c, ["table_id", "bucket"])
        .filter(F.col("query_id") != F.col("candidate_id"))
        .select("query_id", "candidate_id")
        .distinct()
    )
    qvec = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        dot_fold("embedding", "embedding").alias("qn"),
    )
    cvec = emb.select(
        F.col("vec_id").alias("candidate_id"),
        F.col("embedding").alias("cv"),
        dot_fold("embedding", "embedding").alias("cn"),
    )
    sim = (
        cand_ids.join(F.broadcast(qvec), "query_id")
        .join(cvec, "candidate_id")
        .select(
            "query_id",
            "candidate_id",
            (dot_fold("qv", "cv") / (F.sqrt("qn") * F.sqrt("cn")))
            .alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("candidate_id")
    )
    result = (
        sim.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOP_K)
        .select("query_id", "rank", "candidate_id", "cosine_sim")
        .orderBy("query_id", "rank")
    )
    return materialize_and_release(result, sigs)


# --------------------------------------------------------------------
# IVF ANN: frozen k-means coarse quantizer + probe-nearest-centroids.
#
# The coarse quantizer is a FROZEN build-time artifact
# (operators/ivf_centroids.py: k-means trained once offline, literal
# coordinates) — which is how production IVF ships anyway, and it
# makes cell assignment a pure deterministic expression both engines
# evaluate identically, so the whole query is hash-checkable (the
# shared-literal trick from sim_neardup_lsh_buckets, applied to the
# quantizer).
# --------------------------------------------------------------------

_IVF_CLUSTERS = 16
_IVF_PROBES = 4


def _artifact_rows_cells() -> list[tuple]:
    from workshop3_etl_spark.operators.ivf_centroids import (
        IVF_CENTROIDS,
        centroid_norm2,
    )

    return [(t, c, centroid_norm2(c)) for t, c in enumerate(IVF_CENTROIDS)]


def _artifact_rows_books(books: list[list[list[float]]]) -> list[tuple]:
    from workshop3_etl_spark.operators.ivf_centroids import centroid_norm2

    return [
        (m, c, cvec, centroid_norm2(cvec))
        for m, book in enumerate(books)
        for c, cvec in enumerate(book)
    ]


def _artifact_df(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """A frozen literal artifact as a broadcastable frame."""
    return spark.createDataFrame(rows, schema)


def _artifact_values_sql(rows: list[tuple]) -> str:
    """The SAME artifact as a DuckDB VALUES list — identical literal
    doubles (repr round-trips), so artifact-derived expressions are
    bit-identical across engines. One emitter for every frozen
    artifact: a change to the literal convention lands everywhere."""
    out = []
    for row in rows:
        parts = []
        for x in row:
            if isinstance(x, list):
                parts.append(
                    "[" + ", ".join(repr(v) for v in x) + "]::DOUBLE[]"
                )
            elif isinstance(x, float):
                parts.append(repr(x))
            else:
                parts.append(str(int(x)))
        out.append("(" + ", ".join(parts) + ")")
    return ",\n    ".join(out)


def _ivf_cells_df(spark: SparkSession) -> DataFrame:
    """The quantizer as a 16-row broadcastable frame: (cell id,
    centroid coords, literal squared norm)."""
    return _artifact_df(
        spark,
        _artifact_rows_cells(),
        "cell int, centroid array<double>, cc double",
    )


def _ivf_cells_values_sql() -> str:
    return _artifact_values_sql(_artifact_rows_cells())


_IVF_ORACLE = f"""
WITH cells AS (
  SELECT * FROM (VALUES
    {_ivf_cells_values_sql()}
  ) AS t(cell, centroid, cc)
),
v AS (
  SELECT vec_id, embedding AS ev, {_norm2_duck('embedding')} AS nrm
  FROM embeddings
),
scored AS (
  SELECT v.vec_id, v.ev, v.nrm, cells.cell,
         cells.cc - 2 * {_dot_duck('v.ev', 'cells.centroid')} AS dist2
  FROM v CROSS JOIN cells
),
assigned AS (
  SELECT vec_id AS candidate_id, ev AS cv, nrm AS cn, cell FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY vec_id ORDER BY dist2, cell) AS rn
    FROM scored
  ) WHERE rn = 1
),
probes AS (
  SELECT vec_id AS query_id, ev AS qv, nrm AS qn, cell FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY vec_id ORDER BY dist2, cell) AS rn
    FROM scored WHERE vec_id < {_N_QUERIES}
  ) WHERE rn <= {_IVF_PROBES}
)
SELECT query_id, CAST(rank AS INT) AS rank, candidate_id, cosine_sim
FROM (
  SELECT p.query_id, a.candidate_id,
         {_dot_duck('p.qv', 'a.cv')} / (SQRT(p.qn) * SQRT(a.cn))
           AS cosine_sim,
         ROW_NUMBER() OVER (
           PARTITION BY p.query_id
           ORDER BY {_dot_duck('p.qv', 'a.cv')}
                      / (SQRT(p.qn) * SQRT(a.cn)) DESC,
                    a.candidate_id
         ) AS rank
  FROM probes p JOIN assigned a ON p.cell = a.cell
  WHERE p.query_id <> a.candidate_id
)
WHERE rank <= {_TOP_K}
ORDER BY query_id, rank
"""


@register("sim_ann_ivf_topk", oracle=_IVF_ORACLE)
def sim_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate cosine top-k via an IVF (inverted-file) index: the
    frozen coarse quantizer assigns every vector to its nearest cell
    (one map-only broadcast pass); each query probes its _IVF_PROBES
    nearest cells and exact-reranks only those members.

    Fully oracled: frozen literal centroids + sequential-fold dots
    make assignment, probing, and rerank bit-identical in DuckDB.
    tests/test_similarity.py separately measures recall vs brute
    force. At corpus scale: assignment is one broadcast map pass over
    the corpus, the inverted file is the persisted index artifact,
    and the probe join touches n_probes/n_cells of it — the
    recall/latency dial is (n_cells, n_probes).
    """
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    # persist (ev, nrm): the nrm fold would otherwise re-evaluate once
    # per broadcast cell row (16x per vector), and ranked feeds both
    # the assignment and the probe legs
    v = emb.select(
        "vec_id",
        F.col("embedding").alias("ev"),
        dot_fold("embedding", "embedding").alias("nrm"),
    ).persist()
    # map-only scoring pass: corpus x 16 broadcast cells
    scored = v.crossJoin(F.broadcast(_ivf_cells_df(spark))).select(
        "vec_id",
        "ev",
        "nrm",
        "cell",
        (F.col("cc") - 2 * dot_fold("ev", "centroid")).alias("dist2"),
    )
    wv = Window.partitionBy("vec_id").orderBy(F.asc("dist2"), F.asc("cell"))
    ranked = scored.withColumn("rn", F.row_number().over(wv))
    assigned = (
        ranked.filter(F.col("rn") == 1)
        .select(
            F.col("vec_id").alias("candidate_id"),
            F.col("ev").alias("cv"),
            F.col("nrm").alias("cn"),
            "cell",
        )
        .persist()
    )
    assigned.count()  # materialize the inverted-file index (one pass)
    probes = ranked.filter(
        (F.col("vec_id") < _N_QUERIES) & (F.col("rn") <= _IVF_PROBES)
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("ev").alias("qv"),
        F.col("nrm").alias("qn"),
        "cell",
    )
    # probe join: only members of the probed cells are reranked; a
    # candidate lives in exactly one cell, so pairs are unique by
    # construction (no distinct needed)
    cands = (
        probes.join(assigned, "cell")
        .filter(F.col("query_id") != F.col("candidate_id"))
        .select(
            "query_id",
            "candidate_id",
            (dot_fold("qv", "cv") / (F.sqrt("qn") * F.sqrt("cn")))
            .alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("candidate_id")
    )
    result = (
        cands.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOP_K)
        .select("query_id", "rank", "candidate_id", "cosine_sim")
        .orderBy("query_id", "rank")
    )
    return materialize_and_release(result, v, assigned)


# --------------------------------------------------------------------
# Product quantization + asymmetric distance computation (PQ-ADC):
# the memory-bound scale path (the roadmap's "IVF with PQ" item —
# the PQ/ADC machinery is the novel part; composing it behind the IVF
# coarse quantizer above is a straight join of the two indexes).
# --------------------------------------------------------------------

_PQ_M = 8  # subspaces (64-d -> 8 x 8-d subvectors)
_PQ_K = 16  # centroids per subspace codebook
_PQ_RERANK = 50  # ADC shortlist size handed to the exact reranker


def _pq_codebook_df(spark: SparkSession) -> DataFrame:
    """The frozen per-subspace codebooks as a 128-row broadcastable
    frame: (subspace, code, centroid coords, literal squared norm)."""
    from workshop3_etl_spark.operators.ivf_centroids import PQ_CODEBOOKS

    return _artifact_df(
        spark,
        _artifact_rows_books(PQ_CODEBOOKS),
        "m int, code int, centroid array<double>, cc double",
    )


def _pq_codebook_values_sql() -> str:
    from workshop3_etl_spark.operators.ivf_centroids import PQ_CODEBOOKS

    return _artifact_values_sql(_artifact_rows_books(PQ_CODEBOOKS))


_PQ_SUB = 8  # dims per subspace (64 / _PQ_M)


def _pq_subdot_spark(vec: str) -> Column:
    """dot(subvector m of vec, codebook centroid) — m and centroid
    come from the joined codebook row."""
    return F.expr(
        f"aggregate(zip_with(slice({vec}, m * {_PQ_SUB} + 1, {_PQ_SUB}),"
        f" centroid, (x, y) -> CAST(x AS DOUBLE) * y),"
        f" CAST(0.0 AS DOUBLE), (acc, w) -> acc + w)"
    )


def _pq_subdot_duck(vec: str) -> str:
    return (
        f"list_reduce(list_transform(list_zip("
        f"list_slice({vec}, b.m * {_PQ_SUB} + 1, b.m * {_PQ_SUB} + {_PQ_SUB}),"
        f" b.centroid), p -> CAST(p[1] AS DOUBLE) * p[2]), (x, y) -> x + y)"
    )


_PQ_ADC_ORACLE = f"""
WITH b AS (
  SELECT * FROM (VALUES
    {_pq_codebook_values_sql()}
  ) AS t(m, code, centroid, cc)
),
v AS (
  SELECT vec_id, embedding AS ev, {_norm2_duck('embedding')} AS nrm
  FROM embeddings
),
scored AS (
  SELECT v.vec_id, v.nrm, b.m, b.code,
         b.cc - 2 * {_pq_subdot_duck('v.ev')} AS dist2
  FROM v CROSS JOIN b
),
codes AS (
  SELECT vec_id AS candidate_id, nrm AS cn, m, code FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY vec_id, m ORDER BY dist2, code) AS rn
    FROM scored
  ) WHERE rn = 1
),
q AS (
  SELECT vec_id AS query_id, ev, nrm AS qn FROM v
  WHERE vec_id < {_N_QUERIES}
),
lut AS (
  SELECT q.query_id, q.qn, b.m, b.code,
         {_pq_subdot_duck('q.ev')} AS pdot
  FROM q CROSS JOIN b
),
approx AS (
  SELECT l.query_id, c.candidate_id,
         list_reduce(
           list_prepend(CAST(0.0 AS DOUBLE),
                        list(l.pdot ORDER BY l.m)),
           (x, y) -> x + y)
           / (SQRT(ANY_VALUE(l.qn)) * SQRT(ANY_VALUE(c.cn)))
           AS approx_cos
  FROM codes c JOIN lut l ON c.m = l.m AND c.code = l.code
  WHERE l.query_id <> c.candidate_id
  GROUP BY l.query_id, c.candidate_id
),
shortlist AS (
  SELECT query_id, candidate_id FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY query_id
      ORDER BY approx_cos DESC, candidate_id) AS srank
    FROM approx
  ) WHERE srank <= {_PQ_RERANK}
)
SELECT query_id, CAST(rank AS INT) AS rank, candidate_id, cosine_sim
FROM (
  SELECT s.query_id, s.candidate_id,
         {_dot_duck('x.ev', 'y.ev')} / (SQRT(x.nrm) * SQRT(y.nrm))
           AS cosine_sim,
         ROW_NUMBER() OVER (
           PARTITION BY s.query_id
           ORDER BY {_dot_duck('x.ev', 'y.ev')}
                      / (SQRT(x.nrm) * SQRT(y.nrm)) DESC,
                    s.candidate_id
         ) AS rank
  FROM shortlist s
  JOIN v x ON x.vec_id = s.query_id
  JOIN v y ON y.vec_id = s.candidate_id
)
WHERE rank <= {_TOP_K}
ORDER BY query_id, rank
"""


@register("sim_ann_pq_adc_topk", oracle=_PQ_ADC_ORACLE)
def sim_ann_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate cosine top-k via product quantization.

    Index build: each vector is split into ``_PQ_M`` subvectors and
    encoded against the FROZEN per-subspace codebooks
    (operators/ivf_centroids.py PQ_CODEBOOKS — trained once offline,
    shipped as literals, exactly how a production PQ index ships its
    codebooks). The code index is M small codes + the true norm per
    vector: ~M bytes vs 256 bytes raw — the 32x compression that lets
    the ADC scan touch ONLY the compact index at corpus scale.

    Query: an ADC lookup table (query x subspace x code -> partial
    dot, Q*M*K rows) is broadcast against the exploded code index;
    the approximate inner product folds the M partials IN SUBSPACE
    ORDER (a deterministic sequential sum, not an unordered SUM — the
    detail that makes the shortlist bit-identical across engines).
    The top ``_PQ_RERANK`` per query are exact-reranked against raw
    vectors.

    Fully oracled via the frozen-literal codebooks; recall and
    exact-rerank invariants stay covered by tests/test_similarity.py.
    """
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    # persist (ev, nrm): nrm is an interpreted 64-element fold that
    # would otherwise re-evaluate once per codebook row (128x per
    # vector) inside the encode cross join
    v = emb.select(
        "vec_id",
        F.col("embedding").alias("ev"),
        dot_fold("embedding", "embedding").alias("nrm"),
    ).persist()
    books = F.broadcast(_pq_codebook_df(spark))
    # encode: corpus x 128 codebook rows, one subspace-dot each;
    # rank-1 per (vector, subspace) is the stored code
    scored = v.crossJoin(books).select(
        "vec_id",
        "nrm",
        "m",
        "code",
        (F.col("cc") - 2 * _pq_subdot_spark("ev")).alias("dist2"),
    )
    wv = Window.partitionBy("vec_id", "m").orderBy(
        F.asc("dist2"), F.asc("code")
    )
    codes = (
        scored.withColumn("rn", F.row_number().over(wv))
        .filter(F.col("rn") == 1)
        .select(
            F.col("vec_id").alias("candidate_id"),
            F.col("nrm").alias("cn"),
            "m",
            "code",
        )
        .persist()
    )
    codes.count()  # force the index build

    q = v.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("ev").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    # ADC lookup table: partial dot of each query subvector with each
    # codebook centroid. Q*M*K rows (tiny) — always broadcast.
    lut = q.crossJoin(books).select(
        "query_id",
        "qn",
        "m",
        "code",
        F.expr(
            f"aggregate(zip_with(slice(qv, m * {_PQ_SUB} + 1, {_PQ_SUB}),"
            f" centroid, (x, y) -> CAST(x AS DOUBLE) * y),"
            f" CAST(0.0 AS DOUBLE), (acc, w) -> acc + w)"
        ).alias("pdot"),
    )
    approx = (
        codes.join(F.broadcast(lut), ["m", "code"])
        .filter(F.col("query_id") != F.col("candidate_id"))
        .groupBy("query_id", "candidate_id")
        .agg(
            F.aggregate(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("m", "pdot"))),
                    lambda s: s["pdot"],
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("adot"),
            F.first("qn").alias("qn"),
            F.first("cn").alias("cn"),
        )
        .select(
            "query_id",
            "candidate_id",
            (F.col("adot") / (F.sqrt("qn") * F.sqrt("cn"))).alias(
                "approx_cos"
            ),
        )
    )
    ws = Window.partitionBy("query_id").orderBy(
        F.desc("approx_cos"), F.asc("candidate_id")
    )
    shortlist = (
        approx.withColumn("srank", F.row_number().over(ws))
        .filter(F.col("srank") <= _PQ_RERANK)
        .select("query_id", "candidate_id")
    )
    # Exact rerank: raw vectors touched only for Q * _PQ_RERANK rows.
    # rerank candidates come straight off the persisted (ev, nrm)
    # frame — no rescan, no norm-fold re-evaluation
    cvec = v.select(
        F.col("vec_id").alias("candidate_id"),
        F.col("ev").alias("cv"),
        F.col("nrm").alias("cn"),
    )
    sim = (
        shortlist.join(F.broadcast(q), "query_id")
        .join(cvec, "candidate_id")
        .select(
            "query_id",
            "candidate_id",
            (dot_fold("qv", "cv") / (F.sqrt("qn") * F.sqrt("cn")))
            .alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("candidate_id")
    )
    result = (
        sim.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOP_K)
        .select("query_id", "rank", "candidate_id", "cosine_sim")
        .orderBy("query_id", "rank")
    )
    return materialize_and_release(result, v, codes)


# --------------------------------------------------------------------
# IVF-PQ: the composed index — coarse cells bound the scan, residual
# product quantization compresses what's scanned. This is the
# standard billion-scale ANN layout (inverted lists of PQ codes).
# Both quantizers are frozen offline artifacts (ivf_centroids.py:
# IVF_CENTROIDS + IVFPQ_RESIDUAL_CODEBOOKS, the residual books
# trained against the frozen coarse quantizer), so the whole query is
# a deterministic literal expression — fully oracled.
# --------------------------------------------------------------------


def _ivfpq_books_df(spark: SparkSession) -> DataFrame:
    from workshop3_etl_spark.operators.ivf_centroids import (
        IVFPQ_RESIDUAL_CODEBOOKS,
    )

    return _artifact_df(
        spark,
        _artifact_rows_books(IVFPQ_RESIDUAL_CODEBOOKS),
        "m int, code int, bvec array<double>, bcc double",
    )


def _ivfpq_books_values_sql() -> str:
    from workshop3_etl_spark.operators.ivf_centroids import (
        IVFPQ_RESIDUAL_CODEBOOKS,
    )

    return _artifact_values_sql(
        _artifact_rows_books(IVFPQ_RESIDUAL_CODEBOOKS)
    )


def _rsubdot_duck(vec: str) -> str:
    """Residual subvector dot (already DOUBLE, no cast — matches the
    Spark expression shape exactly)."""
    return (
        f"list_reduce(list_transform(list_zip("
        f"list_slice({vec}, b.m * {_PQ_SUB} + 1, b.m * {_PQ_SUB} + {_PQ_SUB}),"
        f" b.bvec), p -> p[1] * p[2]), (x, y) -> x + y)"
    )


_IVFPQ_ORACLE = f"""
WITH cells AS (
  SELECT * FROM (VALUES
    {_ivf_cells_values_sql()}
  ) AS t(cell, centroid, cc)
),
b AS (
  SELECT * FROM (VALUES
    {_ivfpq_books_values_sql()}
  ) AS t(m, code, bvec, bcc)
),
v AS (
  SELECT vec_id, embedding AS ev, {_norm2_duck('embedding')} AS nrm
  FROM embeddings
),
cscored AS (
  SELECT v.vec_id, v.ev, v.nrm, cells.cell, cells.centroid,
         cells.cc - 2 * {_dot_duck('v.ev', 'cells.centroid')} AS dist2
  FROM v CROSS JOIN cells
),
assigned AS (
  SELECT vec_id, ev, nrm, cell,
         list_transform(list_zip(ev, centroid),
                        p -> CAST(p[1] AS DOUBLE) - p[2]) AS resid
  FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY vec_id ORDER BY dist2, cell) AS rn
    FROM cscored
  ) WHERE rn = 1
),
codes AS (
  SELECT vec_id AS candidate_id, cell, nrm AS cn, m, code FROM (
    SELECT a.vec_id, a.cell, a.nrm, b.m, b.code,
           b.bcc - 2 * {_rsubdot_duck('a.resid')} AS rdist2,
           ROW_NUMBER() OVER (
             PARTITION BY a.vec_id, b.m
             ORDER BY b.bcc - 2 * {_rsubdot_duck('a.resid')}, b.code
           ) AS rn
    FROM assigned a CROSS JOIN b
  ) WHERE rn = 1
),
q AS (
  SELECT vec_id AS query_id, ev, nrm AS qn FROM v
  WHERE vec_id < {_N_QUERIES}
),
probes AS (
  SELECT query_id, cell, base_dot FROM (
    SELECT q.query_id, cells.cell,
           cells.cc - 2 * {_dot_duck('q.ev', 'cells.centroid')} AS dist2,
           {_dot_duck('q.ev', 'cells.centroid')} AS base_dot,
           ROW_NUMBER() OVER (
             PARTITION BY q.query_id
             ORDER BY cells.cc - 2 * {_dot_duck('q.ev', 'cells.centroid')},
                      cells.cell
           ) AS cell_rank
    FROM q CROSS JOIN cells
  ) WHERE cell_rank <= {_IVF_PROBES}
),
lut AS (
  SELECT q.query_id, q.qn, b.m, b.code,
         {_rsubdot_duck('q.ev')} AS pdot
  FROM q CROSS JOIN b
),
approx AS (
  SELECT l.query_id, c.candidate_id,
         (ANY_VALUE(p.base_dot)
          + list_reduce(
              list_prepend(CAST(0.0 AS DOUBLE),
                           list(l.pdot ORDER BY l.m)),
              (x, y) -> x + y))
           / (SQRT(ANY_VALUE(l.qn)) * SQRT(ANY_VALUE(c.cn)))
           AS approx_cos
  FROM codes c
  JOIN probes p ON p.cell = c.cell
  JOIN lut l ON l.query_id = p.query_id
            AND l.m = c.m AND l.code = c.code
  WHERE l.query_id <> c.candidate_id
  GROUP BY l.query_id, c.candidate_id
),
shortlist AS (
  SELECT query_id, candidate_id FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY query_id
      ORDER BY approx_cos DESC, candidate_id) AS srank
    FROM approx
  ) WHERE srank <= {_PQ_RERANK}
)
SELECT query_id, CAST(rank AS INT) AS rank, candidate_id, cosine_sim
FROM (
  SELECT s.query_id, s.candidate_id,
         {_dot_duck('x.ev', 'y.ev')} / (SQRT(x.nrm) * SQRT(y.nrm))
           AS cosine_sim,
         ROW_NUMBER() OVER (
           PARTITION BY s.query_id
           ORDER BY {_dot_duck('x.ev', 'y.ev')}
                      / (SQRT(x.nrm) * SQRT(y.nrm)) DESC,
                    s.candidate_id
         ) AS rank
  FROM shortlist s
  JOIN v x ON x.vec_id = s.query_id
  JOIN v y ON y.vec_id = s.candidate_id
)
WHERE rank <= {_TOP_K}
ORDER BY query_id, rank
"""


@register("sim_ann_ivfpq_topk", oracle=_IVFPQ_ORACLE)
def sim_ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate cosine top-k via IVF-PQ.

    Index build: the frozen coarse quantizer assigns each vector to
    one of ``_IVF_CLUSTERS`` cells; the frozen RESIDUAL codebooks
    (trained offline against that quantizer — residuals are what PQ
    can encode accurately) encode each vector as (cell, M codes, true
    norm): the inverted-list-of-codes layout.

    Query: probe the ``_IVF_PROBES`` nearest cells. The approximate
    inner product decomposes as dot(q, centroid_cell) + sum_m
    dot(q_m, codebook_m[code_m]) — the first term is one number per
    (query, probed cell), the second a (query, subspace, code) lookup
    table independent of the cell. Both are tiny broadcasts; the
    scored frame is the code index restricted to probed cells; the
    ADC partials fold in subspace order (deterministic). Exact rerank
    on the top ``_PQ_RERANK``.

    Fully oracled via the frozen-literal artifacts; recall +
    exact-rerank tests in tests/test_similarity.py. At corpus scale
    the ADC scan reads n_probes/n_cells of a 32x-compressed index and
    raw vectors are touched only for Q x rerank rows — the standard
    memory-bound ANN trade.
    """
    from pyspark.sql import Window

    # scan_parallel: the assignment/encode legs are interpreted
    # fold-heavy (16-cell distance folds, 128-row residual-codebook
    # ADC folds per vector); a one-row-group scan would serialize
    # them on one task (guide §2.5).
    emb = scan_parallel(spark, sf_dir, "embeddings")
    # persist (ev, nrm): the nrm fold re-evaluates per broadcast cell
    # row otherwise, and v feeds assignment + the query legs
    v = emb.select(
        "vec_id",
        F.col("embedding").alias("ev"),
        dot_fold("embedding", "embedding").alias("nrm"),
    ).persist()
    cells = F.broadcast(_ivf_cells_df(spark))
    # r11 restructure (guide §2.4, the sim_semantic_dedup_clusters
    # precedent): nearest-cell assignment is computed MAP-SIDE as a
    # lexicographic array_min over 16 (dist2, cell, centroid) structs
    # against the frozen literal quantizer — the former broadcast
    # crossJoin (16x row expansion) and per-vector row_number window
    # (a full Exchange + sort of the 16x frame CARRYING ev + centroid,
    # ~768 payload bytes/row — the operator's biggest shuffle) are
    # gone. Selection is identical: struct ordering compares dist2
    # then cell (= ROW_NUMBER OVER (PARTITION BY vec_id ORDER BY
    # dist2, cell) = 1; cell is unique so the centroid field never
    # reaches the comparator), and each dist2 is the same IEEE tree
    # (literal cc - 2 * the zip_with/aggregate fold over repr
    # round-tripped literal doubles). The 16 folds per row still run
    # once each. The 128-struct encode leg deliberately KEEPS the
    # crossJoin: the literal-argmin trick was A/B-measured ~2.5x
    # SLOWER there (~10k-node expression tree, Catalyst re-planning
    # cost — OPTIMIZATION_r11.md "TRIED AND REVERTED").
    assign_structs = ", ".join(
        "named_struct('dist2', "
        + repr(cc)
        + "D - 2 * aggregate(zip_with(ev, array("
        + ", ".join(repr(x) + "D" for x in centroid)
        + "), (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
        + " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v),"
        + f" 'cell', {int(cell)}, 'centroid', array("
        + ", ".join(repr(x) + "D" for x in centroid)
        + "))"
        for cell, centroid, cc in _artifact_rows_cells()
    )
    # materialize the residuals BEFORE the 128-row codebook cross join
    # — resid is an interpreted 64-element zip_with, and an unpersisted
    # frame would re-evaluate it once per codebook row (128x per
    # vector)
    assigned = (
        v.selectExpr(
            "vec_id",
            "nrm",
            "ev",
            f"array_min(array({assign_structs})) as mc",
        )
        .select(
            "vec_id",
            "nrm",
            F.col("mc.cell").alias("cell"),
            F.expr(
                "zip_with(cast(ev as array<double>), mc.centroid,"
                " (x, y) -> x - y)"
            ).alias("resid"),
        )
        .persist()
    )
    books = F.broadcast(_ivfpq_books_df(spark))
    rdist2 = F.col("bcc") - 2 * F.expr(
        f"aggregate(zip_with(slice(resid, m * {_PQ_SUB} + 1, {_PQ_SUB}),"
        f" bvec, (x, y) -> x * y),"
        f" CAST(0.0 AS DOUBLE), (acc, w) -> acc + w)"
    )
    wc = Window.partitionBy("vec_id", "m").orderBy(
        F.asc("rdist2"), F.asc("code")
    )
    codes = (
        assigned.crossJoin(books)
        .select(
            "vec_id", "nrm", "cell", "m", "code", rdist2.alias("rdist2")
        )
        .withColumn("rn", F.row_number().over(wc))
        .filter(F.col("rn") == 1)
        .select(
            F.col("vec_id").alias("candidate_id"),
            "cell",
            F.col("nrm").alias("cn"),
            "m",
            "code",
        )
        .persist()
    )
    codes.count()  # force the inverted-list-of-codes index build
    assigned.unpersist()  # residuals only feed the encode pass

    q = v.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("ev").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    # probe the nearest cells per query (same dist form as assignment)
    qc = q.crossJoin(cells).select(
        "query_id",
        "cell",
        (F.col("cc") - 2 * dot_fold("qv", "centroid")).alias("dist2"),
        dot_fold("qv", "centroid").alias("base_dot"),
    )
    wq = Window.partitionBy("query_id").orderBy(F.asc("dist2"), F.asc("cell"))
    probes = (
        qc.withColumn("cell_rank", F.row_number().over(wq))
        .filter(F.col("cell_rank") <= _IVF_PROBES)
        .select("query_id", "cell", "base_dot")
    )
    # (query, subspace, code) lookup table — cell-independent
    lut = q.crossJoin(books).select(
        "query_id",
        "qn",
        "m",
        "code",
        F.expr(
            f"aggregate(zip_with("
            f" slice(cast(qv as array<double>), m * {_PQ_SUB} + 1, {_PQ_SUB}),"
            f" bvec, (x, y) -> x * y),"
            f" CAST(0.0 AS DOUBLE), (acc, w) -> acc + w)"
        ).alias("pdot"),
    )
    approx = (
        codes.join(F.broadcast(probes), "cell")
        .join(F.broadcast(lut), ["query_id", "m", "code"])
        .filter(F.col("query_id") != F.col("candidate_id"))
        .groupBy("query_id", "candidate_id")
        .agg(
            (
                F.first("base_dot")
                + F.aggregate(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("m", "pdot"))
                        ),
                        lambda s: s["pdot"],
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
            ).alias("adot"),
            F.first("qn").alias("qn"),
            F.first("cn").alias("cn"),
        )
        .select(
            "query_id",
            "candidate_id",
            (F.col("adot") / (F.sqrt("qn") * F.sqrt("cn"))).alias(
                "approx_cos"
            ),
        )
    )
    ws = Window.partitionBy("query_id").orderBy(
        F.desc("approx_cos"), F.asc("candidate_id")
    )
    shortlist = (
        approx.withColumn("srank", F.row_number().over(ws))
        .filter(F.col("srank") <= _PQ_RERANK)
        .select("query_id", "candidate_id")
    )
    # rerank candidates come straight off the persisted (ev, nrm)
    # frame — no rescan, no norm-fold re-evaluation
    cvec = v.select(
        F.col("vec_id").alias("candidate_id"),
        F.col("ev").alias("cv"),
        F.col("nrm").alias("cn"),
    )
    sim = (
        shortlist.join(F.broadcast(q), "query_id")
        .join(cvec, "candidate_id")
        .select(
            "query_id",
            "candidate_id",
            (dot_fold("qv", "cv") / (F.sqrt("qn") * F.sqrt("cn")))
            .alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("candidate_id")
    )
    result = (
        sim.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOP_K)
        .select("query_id", "rank", "candidate_id", "cosine_sim")
        .orderBy("query_id", "rank")
    )
    return materialize_and_release(result, v, codes)


# --------------------------------------------------------------------
# LSH-BUCKETED near-duplicate pairs, FULLY ORACLED. This is the scale
# path that sim_embedding_neardup_blocked's docstring promises
# ("production swaps in LSH buckets for the block"): candidate pairs
# come from sign-random-projection buckets instead of a label column,
# so no metadata blocking key is needed and the pair join touches only
# bucket-colliding vectors.
#
# Cross-engine reproducibility: the hyperplanes are RADEMACHER (+/-1)
# vectors derived from the engine's public LCG constants in plain
# Python and emitted as LITERAL arrays into both the Spark plan and
# the DuckDB oracle — the bucket assignment is therefore the same
# bit pattern in both engines, and the check is a full hash compare
# (sim_ann_lsh_topk's md5-float planes now get the same treatment —
# repr round-trips the doubles into DuckDB literals). +/-1 projections
# are a standard sign-LSH choice (Achlioptas-style sparse/signed
# random projections).
#
# Dial: 4 bits x 8 tables, threshold 0.45 — tuned to THIS corpus,
# whose strongest pairs sit at cosine ~0.45-0.51 (the synthetic
# embeddings have no true duplicate clusters; a 0.9 threshold would
# be a vacuous always-empty query). At cos 0.45 the per-bit
# agreement probability is ~0.65, so a 4-bit band collides w.p.
# ~0.18 and 8 OR-ed tables reach ~79% expected recall; a
# tight-duplicate corpus would invert the dial (more bits, fewer
# tables) exactly as sim_ann_lsh_topk's comment describes. Missed
# pairs are missed IDENTICALLY in both engines (same buckets), so
# recall affects usefulness, never parity.
# --------------------------------------------------------------------

_RAD_TABLES = 8
_RAD_BITS = 4
_RAD_DIM = 64
_NEARDUP_T = 0.45
# Bucket-skew hardening: a bucket with more than _RAD_BUCKET_CAP
# members is split by _RAD_SUB_BITS extra hyperplane bits (secondary
# band), bounding rerank pair growth inside hot buckets to
# ~2^sub_bits sub-buckets of ~1/2^sub_bits the size (a ~16x pair
# reduction at the cap dial below). The split is deterministic
# (bucket sizes + literal planes), mirrored in the DuckDB oracle, and
# LOGGED — never silent (split + residual-oversize counts,
# _log_bucket_skew). The dial: raise the cap for tight-duplicate
# corpora (big buckets = real duplicate clusters you want reranked),
# lower it for flat-similarity corpora where hot buckets are chance
# collisions.
_RAD_BUCKET_CAP = 64
_RAD_SUB_BITS = 4

# Public-constant LCG (same family as sketches.py) — no RNG state, so
# every engine/run derives the identical plane set.
_RAD_P = 2_147_483_647
_RAD_A = 1_103_515_245
_RAD_B = 12_345


def _rad_coef(t: int, h: int, d: int) -> int:
    x = (d * 1_000_003 + t * 7_919 + h * 104_729) % _RAD_P
    return 1 if ((x * _RAD_A + _RAD_B) % _RAD_P) % 2 == 0 else -1


def _rad_plane(t: int, h: int) -> list[int]:
    return [_rad_coef(t, h, d) for d in range(_RAD_DIM)]


def _rad_dot_spark(vec: str, plane: list[int]) -> str:
    arr = "array(" + ", ".join(str(c) for c in plane) + ")"
    return (
        f"aggregate(zip_with({vec}, {arr},"
        f" (x, y) -> CAST(x AS DOUBLE) * y),"
        f" CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def _rad_dot_duck(vec: str, plane: list[int]) -> str:
    arr = "[" + ", ".join(str(c) for c in plane) + "]"
    return (
        f"list_reduce(list_transform(list_zip({vec}, {arr}),"
        f" p -> CAST(p[1] AS DOUBLE) * p[2]), (x, y) -> x + y)"
    )


def _rad_bucket_duck(t: int, h0: int = 0, h1: int = _RAD_BITS) -> str:
    bits = " || ".join(
        f"(CASE WHEN {_rad_dot_duck('ev', _rad_plane(t, h))} >= 0"
        " THEN '1' ELSE '0' END)"
        for h in range(h0, h1)
    )
    return bits


_RAD_SIG_SQL = "\nUNION ALL\n".join(
    f"  SELECT vec_id, {t} AS table_id, {_rad_bucket_duck(t)} AS bucket,"
    f" {_rad_bucket_duck(t, _RAD_BITS, _RAD_BITS + _RAD_SUB_BITS)} AS sub,"
    f" {_rad_dot_duck('ev', _rad_plane(t, _RAD_BITS + _RAD_SUB_BITS))}"
    " AS proj"
    " FROM v"
    for t in range(_RAD_TABLES)
)

_NEARDUP_LSH_ORACLE = f"""
WITH v AS (
  SELECT vec_id, label, embedding AS ev,
         {_norm2_duck('embedding')} AS nrm
  FROM embeddings
),
sig AS (
{_RAD_SIG_SQL}
),
keyed1 AS (
  SELECT vec_id, table_id, proj,
         CASE WHEN COUNT(*) OVER (PARTITION BY table_id, bucket)
                   > {_RAD_BUCKET_CAP}
              THEN bucket || sub ELSE bucket END AS bucket
  FROM sig
),
keyed2 AS (
  SELECT vec_id, table_id, bucket,
         COUNT(*) OVER (PARTITION BY table_id, bucket)
           > {_RAD_BUCKET_CAP} AS over,
         (ROW_NUMBER() OVER (
            PARTITION BY table_id, bucket
            ORDER BY proj, vec_id) - 1)
           // {max(1, _RAD_BUCKET_CAP // 2)} AS w0
  FROM keyed1
),
keyed AS (
  SELECT vec_id, table_id,
         CASE WHEN over THEN bucket || '#' || CAST(w0 AS VARCHAR)
              ELSE bucket END AS bucket
  FROM keyed2
  UNION ALL
  SELECT vec_id, table_id,
         bucket || '#' || CAST(w0 + 1 AS VARCHAR) AS bucket
  FROM keyed2 WHERE over
),
cand AS (
  SELECT a.vec_id AS va, b.vec_id AS vb
  FROM keyed a
  JOIN keyed b
    ON a.table_id = b.table_id AND a.bucket = b.bucket
   AND a.vec_id < b.vec_id
  GROUP BY 1, 2
)
SELECT
  c.va AS vec_id_a,
  c.vb AS vec_id_b,
  x.label = y.label AS same_label,
  {_dot_duck('x.ev', 'y.ev')} / (SQRT(x.nrm) * SQRT(y.nrm)) AS cosine_sim
FROM cand c
JOIN v x ON x.vec_id = c.va
JOIN v y ON y.vec_id = c.vb
WHERE {_dot_duck('x.ev', 'y.ev')} / (SQRT(x.nrm) * SQRT(y.nrm))
      >= {_NEARDUP_T}
ORDER BY vec_id_a, vec_id_b
"""


def _log_bucket_skew(keyed: DataFrame, cap: int) -> None:
    """Report the cap's effect — a silent cap reads as full coverage,
    so every invocation states what was split and what is STILL over
    the cap after the secondary band. ONE metadata-scale job: after
    the (table, bucket) group-by every bucket appears once, so the
    split/chunked tallies are plain conditional counts over the
    grouped frame — no second pass, no count-distinct shuffle of
    structs (was two jobs; the logging pass showed up at ~15% of the
    query's steady-state wall). Guarded on the effective log level
    (the substring-run cap logger's ADVICE-r8 discipline): the stats
    job only runs when the INFO line will actually be emitted."""
    import logging

    if not logging.getLogger(__name__).isEnabledFor(logging.INFO):
        return
    stats = (
        keyed.groupBy("table_id", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(
            F.count_distinct(
                F.when(
                    F.length("bucket") > _RAD_BITS,
                    F.struct(
                        "table_id", F.substring("bucket", 1, _RAD_BITS)
                    ),
                )
            ).alias("n_split"),
            F.count_distinct(
                F.when(
                    F.col("bucket").contains("#"),
                    F.struct(
                        "table_id", F.substring_index("bucket", "#", 1)
                    ),
                )
            ).alias("n_chunked"),
            F.max("n").alias("max_bucket"),
        )
        .first()
    )
    logging.getLogger(__name__).info(
        "neardup LSH bucket cap=%d: %d oversized buckets split by the "
        "%d-bit secondary band, %d sub-buckets projection-windowed to "
        "the hard bound; max final bucket=%d",
        cap,
        stats["n_split"],
        _RAD_SUB_BITS,
        stats["n_chunked"],
        stats["max_bucket"],
    )


def _rad_signatures_arrow(emb: DataFrame) -> DataFrame:
    """(vec_id, table_id, b, s, proj): the full sign-LSH signature
    frame — all 72 Rademacher folds per vector — as ONE Arrow batch
    pass (guide §4.2).

    r11 session 2: the fold expressions are higher-order functions,
    which Spark evaluates interpreted at a measured ~6 us per
    expression node per element (round-11 probe, removed in
    b7681f9); the 72 folds x 64 elements were the operator's
    heaviest stage even after scan_parallel. Here each batch
    computes every fold with numpy in EXACTLY the engine's IEEE
    order: products are
    double(x) * double(+/-1) (a sign flip — exact), and the
    accumulator adds column j in ascending j via one vectorized add
    per dimension, which is bit-identical to the sequential
    ``aggregate(zip_with(...), 0.0D, acc + v)`` left fold (and to
    DuckDB's list_reduce in the oracle). Sign bits mirror the
    engine's ``>= 0`` comparator, including NaN-compares-greatest.
    Map-only at any scale; only (vec_id, embedding) crosses the
    boundary."""
    import numpy as np

    from workshop3_etl_spark.functions.arrow_kernel import (
        map_batches,
        vectors,
    )

    planes = np.array(
        [
            _rad_plane(t, h)
            for t in range(_RAD_TABLES)
            for h in range(_RAD_BITS + _RAD_SUB_BITS + 1)
        ],
        dtype=np.float64,
    ).T  # (dim, tables * 9)
    n_per_table = _RAD_BITS + _RAD_SUB_BITS + 1

    def _sig_batches(batch):
        E = vectors(batch, "embedding", np.float64)
        n, dim = E.shape
        # sequential left fold over j, vectorized over rows/planes
        acc = np.zeros((n, planes.shape[1]), dtype=np.float64)
        for j in range(dim):
            acc += E[:, j : j + 1] * planes[j]
        # '1' iff fold >= 0 OR fold is NaN (Spark/DuckDB compare
        # NaN as greatest; numpy NaN >= 0 is False, so OR it in)
        ones = (acc >= 0.0) | np.isnan(acc)
        out_b: list[str] = []
        out_s: list[str] = []
        out_proj: list[np.ndarray] = []
        bits = np.where(ones, "1", "0")
        for t in range(_RAD_TABLES):
            base = t * n_per_table
            bcols = bits[:, base : base + _RAD_BITS]
            scols = bits[
                :, base + _RAD_BITS : base + _RAD_BITS + _RAD_SUB_BITS
            ]
            out_b.extend("".join(r) for r in bcols)
            out_s.extend("".join(r) for r in scols)
            out_proj.append(acc[:, base + _RAD_BITS + _RAD_SUB_BITS])
        vec_ids = batch.column("vec_id").to_numpy(zero_copy_only=False)
        return [
            np.tile(vec_ids, _RAD_TABLES),
            np.repeat(np.arange(_RAD_TABLES), n),
            out_b,
            out_s,
            np.concatenate(out_proj),
        ]

    return map_batches(
        emb,
        ["vec_id", "embedding"],
        "vec_id bigint, table_id int, b string, s string, proj double",
        _sig_batches,
    )


def _neardup_lsh_plan(
    spark: SparkSession, sf_dir: str, cap: int = _RAD_BUCKET_CAP
) -> tuple[DataFrame, DataFrame]:
    """Build the (result, signature-index) pair — split out so the
    plan tests can inspect the pre-checkpoint pipeline."""
    from pyspark.sql import Window

    # scan_parallel ADOPTED in r11 (reverses the r10 wash, which did
    # not reproduce): the 72-hyperplane fold pass alone measured 4.2x
    # faster parallelized (1.32/1.06s bare -> 0.31/0.32s), and the
    # rerank's two v legs (norm fold + per-pair cosine inputs) ride
    # the same repartitioned frame. Full-operator interleaved A/B at
    # 8c (calm tail): 6.0/5.3/5.4 -> 4.9/4.2/4.0 (~1.3x); 32c a wash
    # inside host noise. Numbers in OPTIMIZATION_r11.md.
    emb = scan_parallel(spark, sf_dir, "embeddings")
    v = emb.select(
        "vec_id",
        "label",
        F.col("embedding").alias("ev"),
        dot_fold("embedding", "embedding").alias("nrm"),
    )

    # The 72 hyperplane folds were higher-order-function expressions
    # (interpreted, not codegen'd) — the single most expensive map in
    # the plan; r11 session 2 moved them into ONE Arrow batch pass
    # with bit-identical IEEE fold order (_rad_signatures_arrow,
    # guide §4.2). Persist its output once; the stats aggregate AND
    # the keying join below both read the cache, so the folds run
    # exactly one pass regardless of plan shape (released after the
    # keyed index materializes).
    sig_raw = _rad_signatures_arrow(emb).persist()
    # Skew-hardening key decisions come from a BOUNDED bucket-stats
    # aggregate, not corpus-wide windows: per-(table, primary,
    # secondary) counts are map-side combinable down to at most
    # tables * 2^(bits+sub_bits) rows (= 2048 at the current dials,
    # at ANY corpus size), so tier-1 ("split this bucket?") and
    # tier-2 ("window this sub-bucket?") both ride a broadcast join —
    # zero full-corpus shuffles for the decisions themselves.
    sizes = (
        sig_raw.groupBy(
            "table_id",
            F.col("b").alias("sb"),
            F.col("s").alias("ss"),
        )
        .agg(F.count(F.lit(1)).alias("n_bs"))
        .withColumn(
            "n_b",
            F.sum("n_bs").over(Window.partitionBy("table_id", "sb")),
        )
        .select(
            F.col("table_id").alias("st"),
            "sb",
            "ss",
            (F.col("n_b") > cap).alias("split"),
            ((F.col("n_b") > cap) & (F.col("n_bs") > cap)).alias(
                "windowed"
            ),
        )
    )
    keyed = (
        sig_raw.join(
            F.broadcast(sizes),
            (F.col("table_id") == F.col("st"))
            & (F.col("b") == F.col("sb"))
            & (F.col("s") == F.col("ss")),
        )
        .select(
            "vec_id",
            "table_id",
            "proj",
            # tier 1: oversized primary buckets re-key on the extended
            # (primary || secondary) signature
            F.when(F.col("split"), F.concat(F.col("b"), F.col("s")))
            .otherwise(F.col("b"))
            .alias("bucket"),
            "windowed",
        )
    )
    # tier 2 (hard bound): sub-buckets STILL over the cap — correlated
    # corpora where extra hyperplanes don't discriminate — fall back
    # to PROJECTION-SORTED OVERLAPPING WINDOWS: members sort by their
    # dot with one more literal plane (near-dups have close
    # projections, so they land in the same or adjacent window — a
    # geometry-aware order, unlike id-chunking which is random), and
    # each member joins its window AND the next (stride = cap/2), so
    # boundary pairs aren't lost. Hard bound intact: every window
    # holds <= cap members (<= cap/2 originals + <= cap/2 shifted), so
    # per-element comparisons stay O(cap) whatever the skew. Measured
    # at sf0.1: 64 of 120 uncapped above-threshold pairs survive vs 28
    # with id-rank chunking at the same budget. Cross-window pairs
    # are the (logged) residual recall loss; the cap is the dial.
    # Multi-probe LSH (flip one primary-band bit) was measured and
    # rejected (round-11 probe, removed in b7681f9): of the lost pairs,
    # ~2/3 already share a windowed bucket (probing can't help) and
    # only 4/144 are Hamming-1 in any table — +4 pairs for a 5x
    # probe-side join multiplier. On flat corpora the principled
    # recall dial remains the cap itself (recall scales ~linearly
    # with it, every truncation logged).
    # One ids-only ranking shuffle + ONE pass over the fold
    # expressions: window membership is exploded in place (1 entry for
    # cold rows, 2 overlapping windows for hot rows) instead of a
    # union of branches — a branch here would re-evaluate all 72
    # hyperplane folds per leg.
    half = F.greatest(F.lit(1), F.lit(cap // 2))
    wrk = Window.partitionBy("table_id", "bucket").orderBy(
        F.col("proj").asc(), F.col("vec_id").asc()
    )
    ranked = keyed.withColumn(
        "w0", F.floor((F.row_number().over(wrk) - 1) / half).cast("long")
    )
    # persist the signature frame: it feeds BOTH sides of the bucket
    # self-join (and is the persisted index artifact at corpus scale)
    sig = (
        ranked.select(
            "vec_id",
            "table_id",
            F.explode(
                F.when(
                    F.col("windowed"),
                    F.array(
                        F.concat(
                            F.col("bucket"),
                            F.lit("#"),
                            F.col("w0").cast("string"),
                        ),
                        F.concat(
                            F.col("bucket"),
                            F.lit("#"),
                            (F.col("w0") + 1).cast("string"),
                        ),
                    ),
                ).otherwise(F.array(F.col("bucket")))
            ).alias("bucket"),
        )
    ).persist()
    sig.count()  # materialize the keyed index off the raw-fold cache
    sig_raw.unpersist()
    _log_bucket_skew(sig, cap)
    a, b = sig.alias("a"), sig.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.table_id") == F.col("b.table_id"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("va"), F.col("b.vec_id").alias("vb"))
        .distinct()
    )
    x, y = v.alias("x"), v.alias("y")
    cos = (
        F.expr(
            "aggregate(zip_with(x.ev, y.ev,"
            " (p, q) -> CAST(p AS DOUBLE) * CAST(q AS DOUBLE)),"
            " CAST(0.0 AS DOUBLE), (acc, w) -> acc + w)"
        )
        / (F.sqrt(F.col("x.nrm")) * F.sqrt(F.col("y.nrm")))
    )
    result = (
        cand.join(x, F.col("va") == F.col("x.vec_id"))
        .join(y, F.col("vb") == F.col("y.vec_id"))
        .select(
            F.col("va").alias("vec_id_a"),
            F.col("vb").alias("vec_id_b"),
            (F.col("x.label") == F.col("y.label")).alias("same_label"),
            cos.alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= _NEARDUP_T)
        .orderBy("vec_id_a", "vec_id_b")
    )
    return result, sig


@register("sim_neardup_lsh_buckets", oracle=_NEARDUP_LSH_ORACLE)
def sim_neardup_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine near-duplicate pairs (>= 0.45, this corpus's duplicate
    level) from sign-LSH bucket collisions — metadata-free blocking,
    fully hash-compared.

    Plan: the signature build is ONE map-only pass (all 64 Rademacher
    folds — primary + secondary band — computed per row, buckets
    unfolded via posexplode); the bucket self-equi-join carries
    (vec_id, table_id, bucket) ONLY — no payload rides the shuffle —
    and the candidate pairs dedupe before the vectors are joined back
    for the exact rerank. At corpus scale the signature frame is the
    persisted index artifact and the rerank join partitions by vec_id.

    Skew guard (three keying tiers, all deterministic and mirrored in
    the oracle): buckets over _RAD_BUCKET_CAP re-key on the extended
    primary||secondary signature; sub-buckets still over the cap
    (correlated corpora) are rank-chunked to a HARD <= cap bound, so
    rerank pair count stays linear in corpus size no matter how the
    signature distribution skews. Both interventions are logged per
    run (_log_bucket_skew) — never silent; cross-chunk pairs inside
    pathological buckets are the knowing recall loss, and the cap is
    the dial (raise it on tight-duplicate corpora where hot buckets
    are real duplicate clusters).
    """
    result, sig = _neardup_lsh_plan(spark, sf_dir)
    return materialize_and_release(result, sig)


# --------------------------------------------------------------------
# Embedding-column health profile: per-dimension min/max/extreme
# counts. The monitoring pass an embedding pipeline runs per batch —
# dead dimensions (min == max == ~0) mean a collapsed projection;
# dominant dimensions (|x| far above 1/sqrt(d)) distort cosine
# neighborhoods. All surfaced stats are order-independent (MIN / MAX
# / comparison counts over exact float->double casts) so the result
# is bit-stable under any partitioning — deliberately NOT mean/std,
# which would sum doubles in shuffle order.
#
# Scale: posexplode multiplies rows x64 INSIDE the stage, then
# partial aggregation collapses to 64 rows per partition before the
# shuffle — the exchange moves 64 x n_partitions tiny rows. No
# corpus-sized shuffle at any SF.
# --------------------------------------------------------------------

_DIM_PROFILE_ORACLE = """
WITH dims AS (SELECT UNNEST(range(1, 65)) AS dim),
x AS (
  SELECT d.dim AS dim, CAST(e.embedding[d.dim] AS DOUBLE) AS v
  FROM embeddings e, dims d
)
SELECT dim,
       MIN(v) AS min_val,
       MAX(v) AS max_val,
       CAST(SUM(CASE WHEN ABS(v) > 0.25 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_extreme,
       CAST(SUM(CASE WHEN ABS(v) < 0.001 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_near_zero
FROM x
GROUP BY dim
ORDER BY dim
"""


@register("embedding_dim_profile", oracle=_DIM_PROFILE_ORACLE)
def embedding_dim_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding health stats (64 rows): exact min/max
    plus extreme/near-zero counts — the dead-or-dominant-dimension
    monitor, order-independent by construction."""
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select(F.posexplode("embedding").alias("pos", "fv"))
        .select(
            (F.col("pos") + 1).cast("long").alias("dim"),
            F.col("fv").cast("double").alias("v"),
        )
        .groupBy("dim")
        .agg(
            F.min("v").alias("min_val"),
            F.max("v").alias("max_val"),
            F.sum(F.when(F.abs("v") > 0.25, 1).otherwise(0))
            .cast("long")
            .alias("n_extreme"),
            F.sum(F.when(F.abs("v") < 0.001, 1).otherwise(0))
            .cast("long")
            .alias("n_near_zero"),
        )
        .orderBy("dim")
    )


# --------------------------------------------------------------------
# Semantic dedup over frozen quantizer clusters (SemDeDup-style).
# --------------------------------------------------------------------

# Within-cluster similarity threshold. This corpus's true near-dups
# sit at cosine 0.40-0.60 (see sim_neardup_lsh_buckets dial notes);
# 0.4e0 yields non-vacuous prune counts at both validation SFs
# (29 dominance edges at sf0.01, 209 at sf0.1). Web-scale corpora with
# genuine duplicates run this at 0.95+.
_SEM_TAU = "0.4e0"
# Hard per-cluster comparison cap: members are chunked by
# distance-to-centroid rank, and pairs form only within a chunk, so
# the pairwise stage is O(n * cap) at ANY corpus size. Never binds at
# the validation SFs (largest cluster = 273 members at sf0.1).
_SEM_CAP = 512

_SEMDEDUP_ORACLE = f"""
WITH cells AS (
  SELECT * FROM (VALUES
    {{cells}}
  ) AS t(cell, centroid, cc)
),
v AS (
  SELECT vec_id, embedding AS ev, {_norm2_duck('embedding')} AS nrm
  FROM embeddings
),
scored AS (
  SELECT v.vec_id, v.ev, v.nrm, cells.cell,
         cells.cc - 2 * {_dot_duck('v.ev', 'cells.centroid')} AS adist
  FROM v CROSS JOIN cells
),
m AS (
  SELECT vec_id, ev, nrm, cell, nrm + adist AS pd2 FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY vec_id ORDER BY adist, cell) AS rn
    FROM scored
  ) WHERE rn = 1
),
ch AS (
  SELECT *, (rnk - 1) // {_SEM_CAP} AS chunk FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY cell ORDER BY pd2 DESC, vec_id) AS rnk
    FROM m
  )
),
dom AS (
  SELECT b.cell, b.vec_id
  FROM ch a JOIN ch b
    ON a.cell = b.cell AND a.chunk = b.chunk AND a.rnk < b.rnk
  WHERE {_dot_duck('a.ev', 'b.ev')} / (SQRT(a.nrm) * SQRT(b.nrm))
          >= {_SEM_TAU}
),
members AS (
  SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_members FROM m GROUP BY cell
),
stats AS (
  SELECT cell,
         CAST(COUNT(*) AS BIGINT) AS n_dom_edges,
         CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS n_dropped
  FROM dom GROUP BY cell
)
SELECT members.cell AS cluster,
       n_members,
       COALESCE(n_dom_edges, CAST(0 AS BIGINT)) AS n_dom_edges,
       COALESCE(n_dropped, CAST(0 AS BIGINT)) AS n_dropped,
       n_members - COALESCE(n_dropped, CAST(0 AS BIGINT)) AS n_kept
FROM members LEFT JOIN stats ON members.cell = stats.cell
ORDER BY cluster
"""


def _semdedup_oracle() -> str:
    return _SEMDEDUP_ORACLE.format(cells=_ivf_cells_values_sql())


def _semdedup_dominated_arrow(ch: DataFrame) -> DataFrame:
    """(cell, vec_id, n_edges): per dominated member, how many
    higher-priority tau-similar members dominate it — computed per
    (cell, chunk) group in one Arrow kernel with the engine's exact
    IEEE semantics (see the call-site comment). Input must carry
    (cell, chunk, vec_id, ev, nrm, rnk)."""
    import numpy as np

    from workshop3_etl_spark.functions.arrow_kernel import (
        map_groups,
        vectors,
    )

    tau = float(_SEM_TAU)

    def _dominated(tbl):
        m = tbl.num_rows
        if m < 2:
            return None
        rnk = tbl.column("rnk").to_numpy(zero_copy_only=False)
        order = np.argsort(rnk)
        vec_ids = tbl.column("vec_id").to_numpy(zero_copy_only=False)[
            order
        ]
        nrm = tbl.column("nrm").to_numpy(zero_copy_only=False)[order]
        E = vectors(tbl, "ev", np.float64)[order]
        # sequential left fold over dims, vectorized over all pairs
        acc = np.zeros((m, m), dtype=np.float64)
        for j in range(E.shape[1]):
            cj = E[:, j]
            acc += cj[:, None] * cj[None, :]
        cos = acc / (np.sqrt(nrm)[:, None] * np.sqrt(nrm)[None, :])
        sim = (cos >= tau) | np.isnan(cos)  # NaN compares greatest
        edges = np.triu(sim, k=1).sum(axis=0)  # a.rnk < b.rnk
        hit = edges > 0
        if not hit.any():
            return None
        cell = tbl.column("cell")[0].as_py()
        return [[cell] * int(hit.sum()), vec_ids[hit], edges[hit]]

    return map_groups(
        ch,
        ["cell", "chunk"],
        ["cell", "chunk", "vec_id", "ev", "nrm", "rnk"],
        "cell int, vec_id bigint, n_edges bigint",
        _dominated,
    )


@register("sim_semantic_dedup_clusters", oracle=_semdedup_oracle())
def sim_semantic_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup per frozen-quantizer cluster (the SemDeDup
    recipe — Abbas et al. 2023, arXiv:2303.09540): assign every
    embedding to its nearest frozen IVF centroid, then within each
    cluster drop any member that is tau-similar to a HIGHER-PRIORITY
    member, priority = farthest-from-centroid first (the paper's
    keeper policy), tie-broken by vec_id. Per-cluster prune report:
    members / dominance edges / dropped / kept.

    Dominance (drop if tau-similar to ANY higher-priority member) is
    the one-pass relational relaxation of the paper's greedy
    keep-set scan — identical unless similarity chains span a dropped
    middle member, and the only variant whose pair stage is a single
    self-equi-join (the greedy scan is inherently sequential per
    cluster).

    Scale contract: assignment is one broadcast map pass (16 literal
    cells); the pairwise stage joins on (cell, chunk) where chunk
    caps membership at _SEM_CAP by distance rank, so comparisons are
    O(n * cap) under any skew — near-dups have near-equal centroid
    distances, so rank-adjacent chunking is similarity-preserving.
    At 100 TB the dial is the cell-count artifact (SemDeDup runs
    k ~ n/1000) + the cap; both frozen literals here, which is what
    makes the whole report hash-checkable cross-engine.
    """
    from pyspark.sql import Window

    # r11 restructure (guide §2.4 remove-shuffles): nearest-cell
    # assignment against the 16 FROZEN literal centroids is computed
    # MAP-SIDE as a lexicographic array_min over (adist, cell) structs
    # — the former broadcast crossJoin (16x row expansion) plus the
    # per-vector row_number window (one full exchange + sort of the
    # 16x frame) are gone, and with them the need to persist (ev,
    # nrm). Selection is identical: struct ordering compares adist
    # first, then cell — exactly ROW_NUMBER() OVER (PARTITION BY
    # vec_id ORDER BY adist, cell) = 1, NaN ordering included. Each
    # adist is the SAME IEEE expression tree as before (cc literal -
    # 2 * the zip_with/aggregate dot fold over the same literal
    # doubles; repr() round-trips exactly), so every value is
    # bit-identical. The 16 folds per row still run once each — same
    # count as the old scored pass. scan_parallel on the scan: with
    # the window exchange removed the interpreted folds ARE the
    # operator's heavy stage (A/B in OPTIMIZATION_r11.md; the r10
    # wash predates this restructure).
    emb = scan_parallel(spark, sf_dir, "embeddings")
    v = emb.select(
        "vec_id",
        F.col("embedding").alias("ev"),
        dot_fold("embedding", "embedding").alias("nrm"),
    )
    adist_structs = ", ".join(
        "named_struct('adist', "
        + repr(cc)
        + "D - 2 * aggregate(zip_with(ev, array("
        + ", ".join(repr(x) + "D" for x in centroid)
        + "), (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
        + " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v),"
        + f" 'cell', {int(cell)})"
        for cell, centroid, cc in _artifact_rows_cells()
    )
    m = v.selectExpr(
        "vec_id",
        "ev",
        "nrm",
        f"array_min(array({adist_structs})) as mc",
    ).select(
        "vec_id",
        "ev",
        "nrm",
        F.col("mc.cell").alias("cell"),
        (F.col("nrm") + F.col("mc.adist")).alias("pd2"),
    )
    wc = Window.partitionBy("cell").orderBy(F.desc("pd2"), F.asc("vec_id"))
    # the cluster index: persisted once, read by the members agg and
    # both sides of the dominance join
    ch = (
        m.withColumn("rnk", F.row_number().over(wc))
        .withColumn("chunk", F.expr(f"(rnk - 1) div {_SEM_CAP}"))
        .persist()
    )
    # r11 session 2 (guide §4.2): the dominance pair stage — formerly
    # a (cell, chunk) self-equi-join whose ~O(n * cap) interpreted
    # 64-dim cosine folds were the operator's cost — is now ONE
    # grouped Arrow map over the SAME (cell, chunk) key: each group's
    # pairwise dots are accumulated in numpy in the engine's exact
    # sequential IEEE fold order (one outer-product add per dimension
    # ascending), cos = dot / (sqrt(na) * sqrt(nb)) element-wise (the
    # identical rounding sequence), and the a.rnk < b.rnk restriction
    # is the strict upper triangle after sorting the group by rnk.
    # The tau comparator mirrors Spark's NaN-compares-greatest. Each
    # vector crosses the shuffle ONCE (the self-join shuffled ch
    # twice) and no per-pair rows exist outside the kernel. Emitted:
    # one (cell, vec_id, n_edges) row per dominated member, so
    # sum(n_edges) == the old COUNT(*) over edges and the row count
    # == the old COUNT(DISTINCT vec_id) (a vector lives in exactly
    # one chunk). Pinned against the self-join form by
    # tests/test_r11_optimizations.py.
    dom_b = _semdedup_dominated_arrow(ch)
    zero = F.lit(0).cast("long")
    members = ch.groupBy("cell").agg(
        F.count(F.lit(1)).cast("long").alias("n_members")
    )
    stats = dom_b.groupBy("cell").agg(
        F.sum("n_edges").cast("long").alias("n_dom_edges"),
        F.count(F.lit(1)).cast("long").alias("n_dropped"),
    )
    result = (
        members.join(stats, "cell", "left")
        .select(
            F.col("cell").alias("cluster"),
            "n_members",
            F.coalesce(F.col("n_dom_edges"), zero).alias("n_dom_edges"),
            F.coalesce(F.col("n_dropped"), zero).alias("n_dropped"),
            (F.col("n_members") - F.coalesce(F.col("n_dropped"), zero))
            .alias("n_kept"),
        )
        .orderBy("cluster")
    )
    return materialize_and_release(result, ch)


# --------------------------------------------------------------------
# Exact cross-dimension correlation: the anisotropy monitor.
# --------------------------------------------------------------------

# Quantization scale for exact covariance sums: multiplying a float by
# 2^21 is exponent arithmetic (no mantissa rounding), and floor() is
# unambiguous in both engines — unlike round(), whose half-way rule
# differs subtly across engines. 2^21 keeps |q| < 2^22 for unit-range
# embeddings, so q_i*q_j < 2^44 and the decimal sums are exact to
# ~10^9 vectors per partition chain.
_CORR_SCALE = 2_097_152
_CORR_TOPK = 15

_CORR_PAIRS_ORACLE = f"""
WITH q AS (
  SELECT list_transform(embedding,
           x -> CAST(FLOOR(CAST(x AS DOUBLE) * {_CORR_SCALE}) AS BIGINT))
           AS ql
  FROM embeddings
),
dims AS (
  SELECT a.i, b.j
  FROM (SELECT UNNEST(range(1, 65)) AS i) a
  JOIN (SELECT UNNEST(range(1, 65)) AS j) b ON b.j >= a.i
),
x AS (
  SELECT d.i, d.j,
         CAST(q.ql[d.i] AS DECIMAL(38,0)) * q.ql[d.j] AS p
  FROM q, dims d
),
p AS (SELECT i, j, SUM(p) AS p FROM x GROUP BY i, j),
s AS (
  SELECT d.i AS dim, CAST(SUM(q.ql[d.i]) AS DECIMAL(38,0)) AS s
  FROM q, (SELECT UNNEST(range(1, 65)) AS i) d
  GROUP BY d.i
),
g AS (SELECT CAST(COUNT(*) AS DECIMAL(38,0)) AS n FROM q),
m AS (
  SELECT p.i, p.j, g.n * p.p - si.s * sj.s AS m
  FROM p, g, s si, s sj
  WHERE si.dim = p.i AND sj.dim = p.j
),
diag AS (SELECT i AS dim, m AS v FROM m WHERE i = j)
SELECT CAST(m.i AS BIGINT) AS dim_i, CAST(m.j AS BIGINT) AS dim_j,
       CAST(CAST(m.m AS VARCHAR) AS DOUBLE)
         / (SQRT(CAST(CAST(di.v AS VARCHAR) AS DOUBLE))
            * SQRT(CAST(CAST(dj.v AS VARCHAR) AS DOUBLE)))
         AS corr
FROM m, diag di, diag dj
WHERE di.dim = m.i AND dj.dim = m.j AND m.i < m.j
ORDER BY ABS(corr) DESC, dim_i, dim_j
LIMIT {_CORR_TOPK}
"""


def _corr_moment_partials_arrow(emb: DataFrame) -> DataFrame:
    """Per-batch EXACT integer moment partials for the correlation
    monitor, as one Arrow pass: rows (i, j, p) where
    (i>=1, j>=1)  -> partial sum of q_i * q_j over the batch (i<=j),
    (i>=1, j==0)  -> partial sum of q_i,
    (i==0, j==0)  -> batch row count.
    q = floor(double(x) * 2^21) per element — the exponent-shift
    quantization is exact in float64, so numpy reproduces the
    engine's bigint grid exactly; |q| < 2^22 bounds a 16k-row batch's
    pair partial below 2^58, so every partial is an exact int64 and
    the decimal sums downstream see the same integers the former
    explode -> groupBy computed."""
    import numpy as np

    from workshop3_etl_spark.functions.arrow_kernel import (
        map_batches,
        vectors,
    )

    scale = float(_CORR_SCALE)
    iu = np.triu_indices(64)
    out_i = np.concatenate([iu[0] + 1, np.arange(1, 65), [0]])
    out_j = np.concatenate([iu[1] + 1, np.zeros(64, dtype=np.int64), [0]])

    def _moment_batches(batch):
        E = vectors(batch, "embedding", np.float64)
        n, dim = E.shape
        assert dim == 64, dim  # the (i, j) triangle is 64-wide
        # chunk to bound the exact-int64 pair partial (< 2^58)
        out_p = []
        for lo in range(0, n, 16384):
            Q = np.floor(E[lo : lo + 16384] * scale).astype(np.int64)
            P = Q.T @ Q  # exact int64 matmul
            S = Q.sum(axis=0)  # exact int64
            out_p.append(np.concatenate([P[iu], S, [np.int64(Q.shape[0])]]))
        k = len(out_p)
        return [np.tile(out_i, k), np.tile(out_j, k), np.concatenate(out_p)]

    return map_batches(
        emb, ["embedding"], "i int, j int, p bigint", _moment_batches
    )


@register("embedding_corr_pairs", oracle=_CORR_PAIRS_ORACLE)
def embedding_corr_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-15 most-correlated embedding dimension pairs — the
    anisotropy monitor: strongly correlated dimensions mean the
    representation wastes capacity (a rotation would compact it) and
    cosine neighborhoods are dominated by a few directions.

    embedding_dim_profile deliberately avoids mean/std because double
    sums are shuffle-order-sensitive; this operator gets EXACT second
    moments anyway by quantizing each float onto an integer grid
    (floor(x * 2^21) — exponent-shift multiply, no rounding) so every
    covariance sum is an order-independent integer:
    N^2*cov_ij = N * sum(q_i q_j) - sum(q_i) * sum(q_j), and the
    correlation is one shared IEEE tree over exactly-represented
    decimals. Pearson correlation of the quantized grid differs from
    the float-valued correlation by O(2^-21) — far below any signal.

    Shape (r11 session 2): the 2080 (i<=j) products are accumulated
    INSIDE one Arrow map pass as exact int64 batch partials (no
    self-join, no corpus shuffle, no per-product rows at all); the
    only exchange moves ~2145 partial rows per batch, and the
    diagonal join is a broadcast of 64 rows. At 100 TB the exchange
    moves ~2145 x n_batches rows.
    """
    # r11 session 2 (guide §2.3 aggregate-before-the-shuffle + §4.2):
    # the 2080-pair in-map product expansion was an interpreted HOF
    # (~4.2M element_at products per pass at sf0.1 — the measured
    # ~6 us/node interpreted dispatch class); one Arrow batch pass now
    # computes the EXACT same integer moments with numpy int64
    # arithmetic and emits only per-batch partials (2080 pair rows +
    # 64 dim-sum rows + 1 count row per batch). Every partial is an
    # exact int64 (|q| < 2^22 so a 10k-row batch's pair sum is
    # < 2^58); Spark sums them as decimal(38,0), so p / s / n are the
    # same integers the old explode->groupBy computed and every
    # downstream IEEE expression is unchanged. The only exchange now
    # moves ~2145 rows per batch instead of 4.2M product rows.
    emb = scan_parallel(spark, sf_dir, "embeddings")
    q = _corr_moment_partials_arrow(emb).persist()
    try:
        p = (
            q.filter((F.col("i") >= 1) & (F.col("j") >= 1))
            .groupBy("i", "j")
            .agg(F.sum(F.col("p").cast("decimal(38,0)")).alias("p"))
        )
        s = (
            q.filter((F.col("i") >= 1) & (F.col("j") == 0))
            .groupBy(F.col("i").alias("dim"))
            .agg(F.sum(F.col("p").cast("decimal(38,0)")).alias("s"))
        )
        g = (
            q.filter((F.col("i") == 0) & (F.col("j") == 0))
            .agg(F.sum(F.col("p").cast("decimal(38,0)")).alias("n"))
        )
        m = (
            p.crossJoin(F.broadcast(g))
            .join(
                F.broadcast(s.select(F.col("dim").alias("i"),
                                     F.col("s").alias("si"))),
                "i",
            )
            .join(
                F.broadcast(s.select(F.col("dim").alias("j"),
                                     F.col("s").alias("sj"))),
                "j",
            )
            .select(
                "i",
                "j",
                (F.col("n") * F.col("p") - F.col("si") * F.col("sj")).alias(
                    "m"
                ),
            )
        )
        diag = m.where(F.col("i") == F.col("j")).select(
            F.col("i").alias("dim"), F.col("m").alias("v")
        )
        out = (
            m.where(F.col("i") < F.col("j"))
            .join(
                F.broadcast(diag.select(F.col("dim").alias("i"),
                                        F.col("v").alias("vi"))),
                "i",
            )
            .join(
                F.broadcast(diag.select(F.col("dim").alias("j"),
                                        F.col("v").alias("vj"))),
                "j",
            )
            .select(
                F.col("i").cast("long").alias("dim_i"),
                F.col("j").cast("long").alias("dim_j"),
                (
                    F.col("m").cast("double")
                    / (
                        F.sqrt(F.col("vi").cast("double"))
                        * F.sqrt(F.col("vj").cast("double"))
                    )
                ).alias("corr"),
            )
            .orderBy(F.abs(F.col("corr")).desc(), "dim_i", "dim_j")
            .limit(_CORR_TOPK)
        )
        out = materialize_and_release(out, q)
    except Exception:
        q.unpersist()
        raise
    return out


# --------------------------------------------------------------------
# MMR (maximal marginal relevance) diversified rerank — the curation
# step between retrieval and selection: trade relevance against
# redundancy so the picked set isn't K copies of the same document.
# --------------------------------------------------------------------

_MMR_POOL = 20  # candidate pool from the retrieval stage
_MMR_K = 8  # picks
_MMR_LAM = "0.7e0"  # relevance weight (1 - lam penalizes redundancy)


def _mmr_oracle() -> str:
    cos_qc = (
        f"{_dot_duck('q.qv', 'e.embedding')}"
        f" / (SQRT(q.qn) * SQRT({_norm2_duck('e.embedding')}))"
    )
    steps = []
    prev = "s0"
    for t in range(1, _MMR_K):
        steps.append(f"""
pick{t} AS MATERIALIZED (
  SELECT {t + 1} AS sel_rank, x.cid, x.rel, x.score FROM (
    SELECT c.cid, c.rel,
           {_MMR_LAM} * c.rel - (1.0e0 - {_MMR_LAM}) * (
             SELECT MAX(p.sim) FROM pair p
             JOIN {prev} s ON p.bid = s.cid
             WHERE p.aid = c.cid) AS score
    FROM cand c
    WHERE c.cid NOT IN (SELECT cid FROM {prev})
  ) x ORDER BY x.score DESC, x.cid LIMIT 1
),
sel{t} AS MATERIALIZED (SELECT sel_rank, cid, rel, score FROM {prev}
           UNION ALL SELECT sel_rank, cid, rel, score FROM pick{t})""")
        prev = f"sel{t}"
    return f"""
WITH q AS MATERIALIZED (
  SELECT embedding AS qv, {_norm2_duck('embedding')} AS qn
  FROM embeddings WHERE vec_id = 0
),
cand AS MATERIALIZED (
  SELECT e.vec_id AS cid, e.embedding AS cv,
         {_norm2_duck('e.embedding')} AS cn,
         {cos_qc} AS rel
  FROM embeddings e, q
  WHERE e.vec_id <> 0
  ORDER BY rel DESC, cid LIMIT {_MMR_POOL}
),
pair AS MATERIALIZED (
  SELECT a.cid AS aid, b.cid AS bid,
         {_dot_duck('a.cv', 'b.cv')} / (SQRT(a.cn) * SQRT(b.cn)) AS sim
  FROM cand a JOIN cand b ON a.cid <> b.cid
),
s0 AS MATERIALIZED (
  SELECT 1 AS sel_rank, cid, rel, {_MMR_LAM} * rel AS score
  FROM cand ORDER BY rel DESC, cid LIMIT 1
),{','.join(steps)}
SELECT CAST(sel_rank AS INT) AS sel_rank, cid AS vec_id,
       rel AS relevance, score AS mmr_score
FROM {prev} ORDER BY sel_rank
"""


@register("search_mmr_diversified_topk", oracle=_mmr_oracle())
def search_mmr_diversified_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MMR-diversified top-8 for query vector 0: greedy
    argmax of lam*rel(d) - (1-lam)*max_{s in S} sim(d, s) over a
    relevance-retrieved pool of 20.

    The greedy recurrence is unrolled into K-1 relational steps (the
    PageRank unrolling discipline): each step anti-joins the selected
    set, attaches max-similarity-to-selected from the 20x20 pairwise
    frame, and takes the deterministic argmax (score DESC, id ASC).
    Every score is the same shared IEEE expression tree over the
    deterministic dot-product fold both engines evaluate identically,
    so selection — comparisons included — is bit-stable.

    Scale shape: the ONLY corpus-scale work is the pool retrieval
    (one broadcast-query scan + TakeOrdered 20 — at 100 TB this stage
    is served by the ANN index operators instead); the pairwise sims
    are pool-bounded (400 rows), and the greedy recurrence runs over
    DRIVER-HELD state (the k-means/BPE bounded-collect protocol:
    20 rel values + 380 sims, constant in corpus size) — it was
    previously K-1 relational steps, each paying a localCheckpoint
    round-trip that dominated the operator's wall time (guide §1.2:
    fix the per-task/per-step overhead once the shape is right; ~7
    checkpoint jobs removed, bit-identical scores since the driver
    evaluates the same IEEE-double expression the plan did).
    """
    # scan_parallel: the pool stage evaluates three 64-element folds
    # per corpus row; one-row-group layout = one task (guide §2.5).
    emb = scan_parallel(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv"),
        dot_fold("embedding", "embedding").alias("qn"),
    )
    cand = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        # two-stage projection so the interpreted self-norm fold runs
        # ONCE per corpus row (inlining it into rel's denominator
        # would evaluate the 64-element fold twice per row in the
        # operator's only corpus-scale stage)
        .select(
            F.col("vec_id").alias("cid"),
            F.col("embedding").alias("cv"),
            "qv",
            "qn",
            dot_fold("embedding", "embedding").alias("cn"),
        )
        .select(
            "cid",
            "cv",
            "cn",
            (
                dot_fold("qv", "cv") / (F.sqrt("qn") * F.sqrt("cn"))
            ).alias("rel"),
        )
        .orderBy(F.desc("rel"), F.asc("cid"))
        .limit(_MMR_POOL)
        .persist()
    )
    try:
        a = cand.select(
            F.col("cid").alias("aid"), F.col("cv").alias("av"),
            F.col("cn").alias("an"),
        )
        b = cand.select(
            F.col("cid").alias("bid"), F.col("cv").alias("bv"),
            F.col("cn").alias("bn"),
        )
        pair = (
            a.crossJoin(F.broadcast(b))
            .filter(F.col("aid") != F.col("bid"))
            .select(
                "aid",
                "bid",
                (
                    dot_fold("av", "bv")
                    / (F.sqrt("an") * F.sqrt("bn"))
                ).alias("sim"),
            )
        )
        # Greedy selection over DRIVER-HELD pool state. The collected
        # rel/sim doubles round-trip bit-exactly (IEEE 64), and every
        # driver-side expression below mirrors the former in-plan
        # expression tree operation for operation — lam * rel for the
        # seed pick, lam * rel - (1.0 - lam) * maxsim for the rest —
        # so scores (and therefore ordering) are bit-identical to the
        # relational unrolling and to the DuckDB oracle.
        pool = {
            r["cid"]: float(r["rel"])
            for r in cand.select("cid", "rel").collect()
        }
        sim = {
            (r["aid"], r["bid"]): float(r["sim"])
            for r in pair.collect()
        }
        lam = 0.7

        # Spark/DuckDB ORDER BY treats NaN as the GREATEST double (a
        # zero-norm embedding yields 0/0 rel/sim); Python's `>` is
        # always False for NaN, which would make the argmax depend on
        # iteration order. Every comparison below goes through this
        # key so the driver-held greedy ranks NaN exactly like the
        # former relational plan and the oracle (ADVICE r10). NaN
        # *arithmetic* needs no shim: IEEE propagation is identical.
        def _nan_hi(v: float) -> tuple[bool, float]:
            return (v != v, v)

        picked: list[tuple[int, int, float, float]] = []
        if pool:
            # ties -> lowest cid (ORDER BY rel DESC, cid ASC)
            seed = max(pool, key=lambda c: (_nan_hi(pool[c]), -c))
            picked.append((1, seed, pool[seed], lam * pool[seed]))
        while len(picked) < _MMR_K:
            chosen = {p[1] for p in picked}
            best = None
            for c in sorted(pool):
                if c in chosen:
                    continue
                maxsim = max(
                    (sim[(c, b)] for b in chosen), key=_nan_hi
                )
                score = lam * pool[c] - (1.0 - lam) * maxsim
                if best is None or _nan_hi(score) > _nan_hi(best[0]):
                    best = (score, c)
            if best is None:
                break
            picked.append(
                (len(picked) + 1, best[1], pool[best[1]], best[0])
            )
        out = spark.createDataFrame(
            picked,
            "sel_rank int, vec_id bigint, relevance double,"
            " mmr_score double",
        ).orderBy("sel_rank")
        out = materialize_and_release(out, cand)
    except Exception:
        cand.unpersist()
        raise
    return out


# --------------------------------------------------------------------
# Scalar int8 quantization (SQ8) error audit — the OTHER standard
# vector-compression path next to the PQ codebooks above: each vector
# is stored as 64 uint8 codes plus (min, scale), a fixed 4x shrink
# with per-element reconstruction error bounded by (scale/2)^2. This
# query quantizes, dequantizes, and audits the reconstruction error
# per label group — the acceptance gate a vector store runs before
# switching its raw float tier to SQ8.
#
# Determinism discipline (the embedding_dim_profile rule): never sum
# raw doubles across rows — per-element squared errors are FLOORED
# onto a 2^40 integer grid inside the row, and everything that
# crosses rows is a bigint sum / max, order-independent under any
# partitioning. The quantizer arithmetic ((x-mn)/scale, +0.5, floor)
# is the same IEEE expression tree in both engines; a zero range
# (constant vector) quantizes exactly via the NULLIF guard.
# --------------------------------------------------------------------

_SQ8_GRID = float(1 << 40)  # squared-error grid: floor(se * 2^40)


def _sq8_err_spark() -> str:
    mn = "cast(array_min(embedding) as double)"
    mx = "cast(array_max(embedding) as double)"
    scale = f"nullif(({mx} - {mn}) / 255e0, 0e0)"
    deq = (
        f"({mn} + floor((cast(v as double) - {mn}) / {scale} + 0.5e0)"
        f" * {scale})"
    )
    se = f"(cast(v as double) - {deq}) * (cast(v as double) - {deq})"
    return (
        "aggregate(transform(embedding, v ->"
        f" coalesce(cast(floor({se} * {_SQ8_GRID:.0f}e0) as bigint), 0)),"
        " cast(0 as bigint), (a, e) -> a + e)"
    )


def _sq8_err_duck() -> str:
    mn = "CAST(list_min(embedding) AS DOUBLE)"
    mx = "CAST(list_max(embedding) AS DOUBLE)"
    scale = f"NULLIF(({mx} - {mn}) / 255e0, 0e0)"
    deq = (
        f"({mn} + floor((CAST(v AS DOUBLE) - {mn}) / {scale} + 0.5e0)"
        f" * {scale})"
    )
    se = f"(CAST(v AS DOUBLE) - {deq}) * (CAST(v AS DOUBLE) - {deq})"
    return (
        "list_aggregate(list_transform(embedding, v ->"
        f" COALESCE(CAST(floor({se} * {_SQ8_GRID:.0f}e0) AS BIGINT), 0)),"
        " 'sum')"
    )


_SQ8_ORACLE = f"""
WITH e AS (
  SELECT label, {_sq8_err_duck()} AS err_grid FROM embeddings
)
SELECT CAST(label AS INTEGER) AS label,
       CAST(COUNT(*) AS BIGINT) AS n_vectors,
       CAST(SUM(err_grid) AS BIGINT) AS err_grid_sum,
       CAST(SUM(err_grid) AS DOUBLE)
         / (CAST(COUNT(*) AS DOUBLE) * 64e0 * {_SQ8_GRID:.0f}e0)
         AS avg_mse,
       CAST(MAX(err_grid) AS BIGINT) AS max_vec_err_grid
FROM e
GROUP BY label
ORDER BY label
"""


@register("embedding_sq8_quantization_error", oracle=_SQ8_ORACLE)
def embedding_sq8_quantization_error(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-label SQ8 reconstruction-error audit: vectors quantized to
    64 uint8 codes + (min, scale), dequantized, and the squared
    error accumulated on an integer grid — vector count, total and
    worst-vector gridded error, and the derived mean squared error.

    Map-only per-row quantize/dequantize/error fold into a
    per-label integer aggregate — one scan, no shuffle beyond the
    4-row combine, bit-stable under any partitioning.
    """
    e = load_table(spark, sf_dir, "embeddings").selectExpr(
        "label", f"{_sq8_err_spark()} as err_grid"
    )
    return (
        e.groupBy(F.col("label").cast("int").alias("label"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vectors"),
            F.sum("err_grid").cast("long").alias("err_grid_sum"),
            (
                F.sum("err_grid").cast("double")
                / (
                    F.count(F.lit(1)).cast("double")
                    * F.lit(64.0)
                    * F.lit(_SQ8_GRID)
                )
            ).alias("avg_mse"),
            F.max("err_grid").cast("long").alias("max_vec_err_grid"),
        )
        .orderBy("label")
    )


# --------------------------------------------------------------------
# FILTERED vector search: ANN with a per-query metadata predicate —
# the standard production ask ("nearest neighbors WHERE label = X").
# Semantics here: each query retrieves its top-k among candidates
# sharing ITS OWN label (the self-join form of single-filter search).
# The filter is applied INSIDE the probe join, BEFORE the rerank
# fold (pre-filtering): at corpus scale the label rides the inverted
# file, so filtered search scans n_probes/n_cells of the index and
# pays the expensive distance fold only on rows that already satisfy
# the predicate — the alternative (post-filter after top-k) silently
# under-delivers k. Production layouts push this further (per-label
# inverted lists / label bitmaps per cell); the join-side filter is
# the engine-level form of the same plan.
# --------------------------------------------------------------------

_IVF_FILTERED_ORACLE = f"""
WITH cells AS (
  SELECT * FROM (VALUES
    {_ivf_cells_values_sql()}
  ) AS t(cell, centroid, cc)
),
v AS (
  SELECT vec_id, label, embedding AS ev, {_norm2_duck('embedding')} AS nrm
  FROM embeddings
),
scored AS (
  SELECT v.vec_id, v.label, v.ev, v.nrm, cells.cell,
         cells.cc - 2 * {_dot_duck('v.ev', 'cells.centroid')} AS dist2
  FROM v CROSS JOIN cells
),
assigned AS (
  SELECT vec_id AS candidate_id, label AS clabel, ev AS cv, nrm AS cn,
         cell
  FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY vec_id ORDER BY dist2, cell) AS rn
    FROM scored
  ) WHERE rn = 1
),
probes AS (
  SELECT vec_id AS query_id, label AS qlabel, ev AS qv, nrm AS qn, cell
  FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY vec_id ORDER BY dist2, cell) AS rn
    FROM scored WHERE vec_id < {_N_QUERIES}
  ) WHERE rn <= {_IVF_PROBES}
)
SELECT query_id, label, CAST(rank AS INT) AS rank, candidate_id,
       cosine_sim
FROM (
  SELECT p.query_id, p.qlabel AS label, a.candidate_id,
         {_dot_duck('p.qv', 'a.cv')} / (SQRT(p.qn) * SQRT(a.cn))
           AS cosine_sim,
         ROW_NUMBER() OVER (
           PARTITION BY p.query_id
           ORDER BY {_dot_duck('p.qv', 'a.cv')}
                      / (SQRT(p.qn) * SQRT(a.cn)) DESC,
                    a.candidate_id
         ) AS rank
  FROM probes p JOIN assigned a ON p.cell = a.cell
  WHERE p.query_id <> a.candidate_id AND p.qlabel = a.clabel
)
WHERE rank <= {_TOP_K}
ORDER BY query_id, rank
"""


@register("sim_ann_ivf_filtered_topk", oracle=_IVF_FILTERED_ORACLE)
def sim_ann_ivf_filtered_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Metadata-filtered ANN: IVF probe + exact rerank restricted to
    candidates sharing the query's label, filter applied inside the
    probe join BEFORE the distance fold (pre-filtering — the at-scale
    semantics; see the section design comment). Output adds the
    query's label column so under-delivered queries (sparse labels in
    probed cells) are auditable."""
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.select(
        "vec_id",
        "label",
        F.col("embedding").alias("ev"),
        dot_fold("embedding", "embedding").alias("nrm"),
    ).persist()
    scored = v.crossJoin(F.broadcast(_ivf_cells_df(spark))).select(
        "vec_id",
        "label",
        "ev",
        "nrm",
        "cell",
        (F.col("cc") - 2 * dot_fold("ev", "centroid")).alias("dist2"),
    )
    wv = Window.partitionBy("vec_id").orderBy(F.asc("dist2"), F.asc("cell"))
    ranked = scored.withColumn("rn", F.row_number().over(wv))
    assigned = (
        ranked.filter(F.col("rn") == 1)
        .select(
            F.col("vec_id").alias("candidate_id"),
            F.col("label").alias("clabel"),
            F.col("ev").alias("cv"),
            F.col("nrm").alias("cn"),
            "cell",
        )
        .persist()
    )
    assigned.count()  # materialize the inverted-file index (one pass)
    probes = ranked.filter(
        (F.col("vec_id") < _N_QUERIES) & (F.col("rn") <= _IVF_PROBES)
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("qlabel"),
        F.col("ev").alias("qv"),
        F.col("nrm").alias("qn"),
        "cell",
    )
    # pre-filter: the label predicate joins/filters BEFORE the rerank
    # fold, so only predicate-satisfying members pay the 64-dim dot
    cands = (
        probes.join(assigned, "cell")
        .filter(
            (F.col("query_id") != F.col("candidate_id"))
            & (F.col("qlabel") == F.col("clabel"))
        )
        .select(
            "query_id",
            F.col("qlabel").alias("label"),
            "candidate_id",
            (dot_fold("qv", "cv") / (F.sqrt("qn") * F.sqrt("cn")))
            .alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("candidate_id")
    )
    result = (
        cands.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= _TOP_K)
        .select("query_id", "label", "rank", "candidate_id", "cosine_sim")
        .orderBy("query_id", "rank")
    )
    return materialize_and_release(result, v, assigned)


# --------------------------------------------------------------------
# Hard-negative mining: the contrastive-training complement of the
# filtered search above — for each anchor, the top-k MOST SIMILAR
# candidates with a DIFFERENT label (the "hard negatives" a
# contrastive or reranker training set pairs against its positives;
# easy negatives are random, hard ones are near misses). Identical
# index and probe machinery; only the predicate flips to inequality,
# which is the point: one inverted file serves retrieval, filtered
# retrieval, AND negative mining. Same pre-filter discipline — the
# label test runs before the rerank fold.
# --------------------------------------------------------------------

_IVF_HARDNEG_ORACLE = f"""
WITH cells AS (
  SELECT * FROM (VALUES
    {_ivf_cells_values_sql()}
  ) AS t(cell, centroid, cc)
),
v AS (
  SELECT vec_id, label, embedding AS ev, {_norm2_duck('embedding')} AS nrm
  FROM embeddings
),
scored AS (
  SELECT v.vec_id, v.label, v.ev, v.nrm, cells.cell,
         cells.cc - 2 * {_dot_duck('v.ev', 'cells.centroid')} AS dist2
  FROM v CROSS JOIN cells
),
assigned AS (
  SELECT vec_id AS candidate_id, label AS clabel, ev AS cv, nrm AS cn,
         cell
  FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY vec_id ORDER BY dist2, cell) AS rn
    FROM scored
  ) WHERE rn = 1
),
probes AS (
  SELECT vec_id AS anchor_id, label AS alabel, ev AS qv, nrm AS qn, cell
  FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY vec_id ORDER BY dist2, cell) AS rn
    FROM scored WHERE vec_id < {_N_QUERIES}
  ) WHERE rn <= {_IVF_PROBES}
)
SELECT anchor_id, anchor_label, CAST(rank AS INT) AS rank,
       negative_id, negative_label, cosine_sim
FROM (
  SELECT p.anchor_id, p.alabel AS anchor_label, a.candidate_id AS negative_id,
         a.clabel AS negative_label,
         {_dot_duck('p.qv', 'a.cv')} / (SQRT(p.qn) * SQRT(a.cn))
           AS cosine_sim,
         ROW_NUMBER() OVER (
           PARTITION BY p.anchor_id
           ORDER BY {_dot_duck('p.qv', 'a.cv')}
                      / (SQRT(p.qn) * SQRT(a.cn)) DESC,
                    a.candidate_id
         ) AS rank
  FROM probes p JOIN assigned a ON p.cell = a.cell
  WHERE p.anchor_id <> a.candidate_id AND p.alabel <> a.clabel
)
WHERE rank <= {_TOP_K}
ORDER BY anchor_id, rank
"""


@register("sim_hard_negative_mining", oracle=_IVF_HARDNEG_ORACLE)
def sim_hard_negative_mining(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Mine hard negatives for contrastive training: per anchor, the
    top-k most-similar candidates carrying a DIFFERENT label, found
    through the IVF probe with the inequality predicate pre-filtered
    before the rerank fold. Output carries both labels so downstream
    pair construction is self-describing."""
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.select(
        "vec_id",
        "label",
        F.col("embedding").alias("ev"),
        dot_fold("embedding", "embedding").alias("nrm"),
    ).persist()
    scored = v.crossJoin(F.broadcast(_ivf_cells_df(spark))).select(
        "vec_id",
        "label",
        "ev",
        "nrm",
        "cell",
        (F.col("cc") - 2 * dot_fold("ev", "centroid")).alias("dist2"),
    )
    wv = Window.partitionBy("vec_id").orderBy(F.asc("dist2"), F.asc("cell"))
    ranked = scored.withColumn("rn", F.row_number().over(wv))
    assigned = (
        ranked.filter(F.col("rn") == 1)
        .select(
            F.col("vec_id").alias("negative_id"),
            F.col("label").alias("negative_label"),
            F.col("ev").alias("cv"),
            F.col("nrm").alias("cn"),
            "cell",
        )
        .persist()
    )
    assigned.count()  # materialize the inverted-file index (one pass)
    probes = ranked.filter(
        (F.col("vec_id") < _N_QUERIES) & (F.col("rn") <= _IVF_PROBES)
    ).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("anchor_label"),
        F.col("ev").alias("qv"),
        F.col("nrm").alias("qn"),
        "cell",
    )
    cands = (
        probes.join(assigned, "cell")
        .filter(
            (F.col("anchor_id") != F.col("negative_id"))
            & (F.col("anchor_label") != F.col("negative_label"))
        )
        .select(
            "anchor_id",
            "anchor_label",
            "negative_id",
            "negative_label",
            (dot_fold("qv", "cv") / (F.sqrt("qn") * F.sqrt("cn")))
            .alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.desc("cosine_sim"), F.asc("negative_id")
    )
    result = (
        cands.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= _TOP_K)
        .select(
            "anchor_id", "anchor_label", "rank", "negative_id",
            "negative_label", "cosine_sim",
        )
        .orderBy("anchor_id", "rank")
    )
    return materialize_and_release(result, v, assigned)


# --------------------------------------------------------------------
# Random-projection (Johnson-Lindenstrauss) ANN: project the 64-d
# embeddings onto P = 16 frozen +-1 sign rows (Achlioptas 2003's
# database-friendly projections — signs derived from md5 of the
# (row, dim) index, so the "random" matrix is a reproducible source
# literal like every other frozen artifact), shortlist the top-R by
# cosine in the PROJECTED space (16-d folds — 4x cheaper per pair
# than full-width scoring), then exact-rerank the shortlist at full
# width. This completes the ANN family's fourth index-free reduction
# (alongside sign-LSH bucketing, IVF cells, and PQ codes): dimension
# reduction composes with any of them — at 100 TB the projected
# vectors are what an IVF/LSH layer would ingest; standalone, the
# projection bounds the scan's arithmetic, not its row count.
#
# Determinism: projections and cosines are sequential left-folds of
# IEEE doubles against literal +-1.0 arrays (the dot_fold contract),
# so shortlists, reranks, and tie-breaks are bit-identical across
# engines.
# --------------------------------------------------------------------

_RP_P = 16  # projected dimensions
_RP_SHORTLIST = 50  # projected-space candidates per query


def _rp_sign_rows() -> list[list[float]]:
    """P x 64 frozen +-1 sign matrix from md5 of the (row, dim)
    index — reproducible, engine-neutral, no RNG state."""
    import hashlib

    return [
        [
            1.0
            if int(
                hashlib.md5(f"rp:{j}:{i}".encode()).hexdigest()[0], 16
            )
            < 8
            else -1.0
            for i in range(64)
        ]
        for j in range(_RP_P)
    ]


_RP_ROWS = _rp_sign_rows()


def _rp_arr_spark(j: int) -> str:
    return "array(" + ", ".join(f"{s!r}D" for s in _RP_ROWS[j]) + ")"


def _rp_arr_duck(j: int) -> str:
    return "[" + ", ".join(repr(s) for s in _RP_ROWS[j]) + "]::DOUBLE[]"


def _rp_proj_spark(col: str) -> str:
    folds = ", ".join(
        f"aggregate(zip_with({col}, {_rp_arr_spark(j)},"
        " (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
        " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        for j in range(_RP_P)
    )
    return f"array({folds})"


def _rp_proj_duck(col: str) -> str:
    folds = ", ".join(
        _dot_duck(col, _rp_arr_duck(j)) for j in range(_RP_P)
    )
    return f"[{folds}]"


def _rp_topk_ctes(p: str) -> str:
    """The random-projection ANN chain as prefixable CTEs, ending in
    ``{p}rptop`` (query_id, rank, candidate_id, cosine_sim;
    rank <= TOP_K)."""
    return f"""{p}v AS (
  SELECT vec_id, embedding, {_rp_proj_duck('embedding')} AS proj
  FROM embeddings
),
{p}n AS (
  SELECT vec_id, embedding, proj,
         {_norm2_duck('embedding')} AS nrm,
         {_norm2_duck('proj')} AS pn
  FROM {p}v
),
{p}qf AS (
  SELECT vec_id AS query_id, embedding AS qv, proj AS qp,
         nrm AS qn, pn AS qpn
  FROM {p}n WHERE vec_id < {_N_QUERIES}
),
{p}short AS (
  SELECT query_id, candidate_id, qv, cv, qn, cn FROM (
    SELECT q.query_id, c.vec_id AS candidate_id,
           q.qv AS qv, c.embedding AS cv, q.qn AS qn, c.nrm AS cn,
           ROW_NUMBER() OVER (
             PARTITION BY q.query_id
             ORDER BY {_dot_duck('q.qp', 'c.proj')}
                        / (SQRT(q.qpn) * SQRT(c.pn)) DESC,
                      c.vec_id
           ) AS sr
    FROM {p}qf q, {p}n c
    WHERE q.query_id <> c.vec_id
  ) WHERE sr <= {_RP_SHORTLIST}
),
{p}rptop AS (
  SELECT query_id, rank, candidate_id, cosine_sim FROM (
    SELECT query_id, candidate_id,
           {_dot_duck('qv', 'cv')} / (SQRT(qn) * SQRT(cn)) AS cosine_sim,
           ROW_NUMBER() OVER (
             PARTITION BY query_id
             ORDER BY {_dot_duck('qv', 'cv')} / (SQRT(qn) * SQRT(cn)) DESC,
                      candidate_id
           ) AS rank
    FROM {p}short
  ) WHERE rank <= {_TOP_K}
)"""


_RP_ORACLE = f"""
WITH {_rp_topk_ctes('')}
SELECT query_id, CAST(rank AS INT) AS rank, candidate_id, cosine_sim
FROM rptop
ORDER BY query_id, rank
"""


@register("sim_ann_random_projection_topk", oracle=_RP_ORACLE)
def sim_ann_random_projection_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Approximate cosine top-10 via Johnson-Lindenstrauss random
    projection: frozen 16 x 64 +-1 sign rows project every vector
    map-only, the projected 16-d cosine picks a 50-candidate
    shortlist per query, and the shortlist is exact-reranked at full
    width — (query_id, rank, candidate_id, cosine_sim). See the
    section design comment for the md5-derived sign matrix and how
    the reduction composes with the IVF/LSH layers at scale."""
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.selectExpr(
        "vec_id",
        "embedding",
        f"{_rp_proj_spark('embedding')} as proj",
    ).selectExpr(
        "vec_id",
        "embedding",
        "proj",
        "aggregate(zip_with(embedding, embedding,"
        " (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
        " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v) as nrm",
        "aggregate(zip_with(proj, proj,"
        " (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
        " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v) as pn",
    ).persist()
    n.count()
    q = n.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.col("proj").alias("qp"),
        F.col("nrm").alias("qn"),
        F.col("pn").alias("qpn"),
    )
    c = n.select(
        F.col("vec_id").alias("candidate_id"),
        F.col("embedding").alias("cv"),
        F.col("proj").alias("cp"),
        F.col("nrm").alias("cn"),
        F.col("pn").alias("cpn"),
    )
    ws = Window.partitionBy("query_id").orderBy(
        F.desc("proj_sim"), F.asc("candidate_id")
    )
    short = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("candidate_id"))
        .withColumn(
            "proj_sim",
            dot_fold("qp", "cp") / (F.sqrt("qpn") * F.sqrt("cpn")),
        )
        .withColumn("sr", F.row_number().over(ws))
        .filter(F.col("sr") <= _RP_SHORTLIST)
        .select("query_id", "candidate_id", "qv", "cv", "qn", "cn")
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("candidate_id")
    )
    result = (
        short.withColumn(
            "cosine_sim",
            dot_fold("qv", "cv") / (F.sqrt("qn") * F.sqrt("cn")),
        )
        .withColumn("rank", F.row_number().over(wr).cast("int"))
        .filter(F.col("rank") <= _TOP_K)
        .select("query_id", "rank", "candidate_id", "cosine_sim")
        .orderBy("query_id", "rank")
    )
    return materialize_and_release(result, n)


# --------------------------------------------------------------------
# Spectral-norm estimation of the embedding covariance via POWER
# ITERATION, trained in-engine: the corpus-sized work is ONE
# exact-integer moment aggregate (the D x D scaled-covariance matrix
# C = N * Sxy - Sx * Sy over the floor(x * 2^18) grid —
# map-side-combinable, output bounded at D^2 = 4096 cells however
# big the corpus), and the iteration runs on that driver-held
# corpus-independent artifact, exactly the gramian-based protocol
# MLlib's PCA/SVD uses. Twelve unrolled matvec+normalize steps from
# the v0 = [1/8]*64 start (0.125 is an exact double).
#
# What the operator GUARANTEES, honestly: ||C v_t|| is a monotone
# LOWER bound on the top eigenvalue that converges like the Rayleigh
# quotient (gap-squared rate) — the test pins it >= 0.9 * lambda_1
# against numpy at every SF. The ITERATE is the PCA loading vector
# whenever a spectral gap exists; this synthetic corpus is
# near-isotropic (lambda_2 / lambda_1 ~ 0.93-0.99, measured), so its
# "top direction" is statistically indistinguishable from its
# neighbors and no eigensolver — iterative or exact — would produce
# a stable one. The well-conditioned deliverable on such data is the
# spectral norm (condition estimation / Lipschitz bounds / drift
# monitoring of the embedding covariance), and that is what the
# quality gate asserts.
#
# Determinism: the moment matrix is exact int64 at every graded SF
# (n * Sxy <= 1.6e17 at sf0.1; at 100-TB row counts the sums widen to
# decimal(38,0), the canon recipe); the iteration is IEEE doubles
# with every reduction a FIXED-ORDER left fold (Python's seeded fold
# equals DuckDB's seedless list_reduce because 0.0 + x == x), so
# loadings and the eigenvalue estimate are bit-identical across
# engines. Sign is pinned by the iteration itself (no eigensolver's
# arbitrary sign flip).
# --------------------------------------------------------------------

_PCA_GRID = 1 << 18
_PCA_ITERS = 12
_PCA_DIM = 64


def _pca_oracle() -> str:
    parts = [
        f"""WITH gv AS (
  SELECT list_transform(embedding, x ->
           CAST(FLOOR(CAST(x AS DOUBLE) * {_PCA_GRID}.0) AS BIGINT))
         AS xg
  FROM embeddings WHERE len(embedding) = {_PCA_DIM}
),
dims AS (SELECT CAST(unnest(range(1, {_PCA_DIM} + 1)) AS INT) AS dim),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM gv),
sv AS (
  SELECT d.dim, CAST(SUM(xg[d.dim]) AS BIGINT) AS s
  FROM gv, dims d GROUP BY d.dim
),
mo AS (
  SELECT da.dim AS da, db.dim AS db,
         CAST(SUM(xg[da.dim] * xg[db.dim]) AS BIGINT) AS sab
  FROM gv, dims da, dims db
  GROUP BY da.dim, db.dim
),
crow AS MATERIALIZED (
  SELECT m.da AS dim,
         list(CAST(nn.n * m.sab - a.s * b.s AS DOUBLE)
              ORDER BY m.db) AS carr
  FROM mo m
  JOIN sv a ON a.dim = m.da
  JOIN sv b ON b.dim = m.db
  CROSS JOIN nn
  GROUP BY m.da
),
v0 AS (SELECT list_transform(generate_series(1, {_PCA_DIM}),
                             i -> 0.125) AS arr)"""
    ]
    fold = (
        "list_reduce(list_transform(list_zip(c.carr, p.arr),"
        " q -> q[1] * q[2]), (a, b) -> a + b)"
    )
    n2 = "list_reduce(list_transform(u.arr, x -> x * x), (a, b) -> a + b)"
    for t in range(1, _PCA_ITERS + 1):
        parts.append(
            f""",
u{t} AS MATERIALIZED (
  SELECT list({fold} ORDER BY c.dim) AS arr
  FROM crow c CROSS JOIN v{t - 1} p
  GROUP BY 'all'
),
v{t} AS (
  SELECT list_transform(u.arr, x -> x / SQRT({n2})) AS arr,
         SQRT({n2}) AS lam
  FROM u{t} u
)"""
        )
    return "".join(parts) + f"""
SELECT d.dim, v.arr[d.dim] AS loading, v.lam AS lambda_scaled
FROM dims d CROSS JOIN v{_PCA_ITERS} v
ORDER BY d.dim
"""


@register("embedding_spectral_norm_power", oracle=_pca_oracle())
def embedding_spectral_norm_power(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Spectral norm of the embedding covariance via in-engine power
    iteration: one exact-integer D x D moment aggregate over the
    corpus, then twelve driver-held matvec+normalize steps in
    fixed-fold IEEE doubles — (dim, loading, lambda_scaled), where
    lambda_scaled = ||C v_T|| is the pinned >= 0.9 * lambda_1
    estimate in scaled-moment units (divide by n^2 * grid^2 for
    covariance units) and the loading column is the current iterate
    (the PCA direction when a spectral gap exists — see the section
    design comment for why this corpus has none and what is
    guaranteed instead)."""
    import math

    g = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.expr(f"size(embedding) = {_PCA_DIM}"))
        .selectExpr(
            "transform(embedding, x -> cast(floor(cast(x as double)"
            f" * {_PCA_GRID}.0) as bigint)) as xg"
        )
        .persist()
    )
    n = g.count()
    sv = {
        r["dim"]: int(r["s"])
        for r in g.select(F.posexplode("xg").alias("pos", "val"))
        .groupBy((F.col("pos") + 1).alias("dim"))
        .agg(F.sum("val").cast("long").alias("s"))
        .collect()
    }
    e1 = g.select(F.posexplode("xg").alias("pa", "va"), "xg")
    mo = {
        (int(r["da"]), int(r["db"])): int(r["sab"])
        for r in e1.select(
            (F.col("pa") + 1).alias("da"),
            "va",
            F.posexplode("xg").alias("pb", "vb"),
        )
        .groupBy("da", (F.col("pb") + 1).alias("db"))
        .agg(F.sum(F.col("va") * F.col("vb")).cast("long").alias("sab"))
        .collect()
    }
    g.unpersist()
    c = [
        [
            float(n * mo[(da, db)] - sv[da] * sv[db])
            for db in range(1, _PCA_DIM + 1)
        ]
        for da in range(1, _PCA_DIM + 1)
    ]
    v = [0.125] * _PCA_DIM
    lam = 0.0
    for _ in range(_PCA_ITERS):
        u = []
        for d in range(_PCA_DIM):
            acc = 0.0
            for k in range(_PCA_DIM):
                acc += c[d][k] * v[k]
            u.append(acc)
        acc = 0.0
        for x in u:
            acc += x * x
        lam = math.sqrt(acc)
        v = [x / lam for x in u]
    return spark.createDataFrame(
        [(d + 1, v[d], lam) for d in range(_PCA_DIM)],
        "dim int, loading double, lambda_scaled double",
    ).orderBy("dim")


# --------------------------------------------------------------------
# Whitening APPLY leg (VERDICT r9 #6): the transform that applies the
# covariance-moment machinery to the embedding column, completing the
# estimate (embedding_spectral_norm_power) -> maintain
# (stream_covariance_moment_refresh) -> APPLY arc the quantizer / LM /
# BM25 families already have. Diagonal whitening: per-dimension exact
# integer-grid mean-centering and a variance scale derived in-plan
# from the same moment aggregates the estimator trains — whitened_d =
# (n * x_d - s_d) / sqrt(n * m_dd - s_d^2), which mean-centers
# without ever leaving exact integers (the division by n cancels) and
# makes the per-dim population variance EXACTLY 1 in exact
# arithmetic (a property test pins it to 1 within FP tolerance).
#
# Determinism: n, s_d, m_dd and therefore V_d = n*m_dd - s_d^2 are
# exact int64 aggregates (|V| <= n^2 * grid_span^2 ~ 5e17 at sf0.1;
# at 100 TB row counts the products outgrow int64 and internals would
# widen to decimal(38,0) exactly like the canon limb folds — Spark is
# non-ANSI here, DuckDB would error loudly first); the only doubles
# are CAST(exact int) / SQRT(CAST(exact int)), fixed-order IEEE on
# both engines. Constant dimensions (V = 0) whiten to NULL rather
# than a division blowup, mirrored by the oracle's CASE.
#
# Scale: one D-row map-side-combinable moment aggregate, broadcast
# back into a map-only transform — no corpus-scale shuffle, no
# driver-held state beyond the 64-row scale frame the broadcast
# carries.
# --------------------------------------------------------------------

def _whiten_ctes(p: str) -> str:
    """The diagonal-whitening derivation as prefixable CTEs, ending
    in ``{p}wl`` (vec_id, dim, whitened). One source of truth for the
    apply-leg oracle (prefix '') and downstream whitened-space
    consumers (collision-free prefix)."""
    return f"""{p}gv AS (
  SELECT vec_id,
         list_transform(embedding, x ->
           CAST(FLOOR(CAST(x AS DOUBLE) * {_PCA_GRID}.0) AS BIGINT))
         AS xg
  FROM embeddings WHERE len(embedding) = {_PCA_DIM}
),
{p}dims AS (
  SELECT CAST(unnest(range(1, {_PCA_DIM} + 1)) AS INT) AS dim),
{p}lng AS (
  SELECT vec_id, d.dim, xg[d.dim] AS val FROM {p}gv, {p}dims d),
{p}nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM {p}gv),
{p}diag AS (
  SELECT dim, CAST(SUM(val) AS BIGINT) AS s,
         CAST(SUM(val * val) AS BIGINT) AS m
  FROM {p}lng GROUP BY dim
),
{p}sc AS (
  SELECT dim, s, nn.n AS n,
         CAST(nn.n * m - s * s AS DOUBLE) AS v
  FROM {p}diag, {p}nn nn
),
{p}wl AS (
  SELECT l.vec_id, l.dim,
         CASE WHEN c.v > 0e0
              THEN CAST(c.n * l.val - c.s AS DOUBLE) / SQRT(c.v)
         END AS whitened
  FROM {p}lng l JOIN {p}sc c USING (dim)
)"""


_WHITEN_ORACLE = f"""
WITH {_whiten_ctes('')}
SELECT vec_id, dim, whitened
FROM wl
ORDER BY vec_id, dim
"""


def whitened_long_frame(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(vec_id, dim, whitened) — the diagonal-whitening transform in
    long form, the single Spark-side derivation shared by the apply
    leg and the whitened-space serve leg (the _whiten_ctes contract,
    mirrored). The grid frame appears three times in the plan
    (transform leg, n, diag) — left uncached on purpose: the output
    is corpus x D rows (no cheap localCheckpoint), and the re-reads
    are a pruned parquet scan + a map-only grid transform, cheaper
    than caching the corpus-scale frame."""
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.expr(f"size(embedding) = {_PCA_DIM}"))
        .selectExpr(
            "vec_id",
            "transform(embedding, x -> cast(floor(cast(x as double)"
            f" * {_PCA_GRID}.0) as bigint)) as xg",
        )
    )
    lng = emb.select(
        "vec_id", F.posexplode("xg").alias("pos", "val")
    ).selectExpr("vec_id", "cast(pos + 1 as int) as dim", "val")
    nn = emb.agg(F.count(F.lit(1)).cast("long").alias("n"))
    diag = lng.groupBy("dim").agg(
        F.sum("val").cast("long").alias("s"),
        F.expr("cast(sum(val * val) as bigint)").alias("m"),
    )
    sc = diag.crossJoin(F.broadcast(nn)).selectExpr(
        "dim", "s", "n", "cast(n * m - s * s as double) as v"
    )
    return lng.join(F.broadcast(sc), "dim").selectExpr(
        "vec_id",
        "dim",
        "case when v > 0e0"
        " then cast(n * val - s as double) / sqrt(v) end"
        " as whitened",
    )


@register("embedding_whitening_apply", oracle=_WHITEN_ORACLE)
def embedding_whitening_apply(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Apply diagonal covariance whitening to the embedding column:
    (vec_id, dim, whitened) where whitened mean-centers on the exact
    integer grid and scales by the in-plan-trained per-dim standard
    deviation, so every non-constant dimension comes out with
    population variance exactly 1 (property-tested). Completes the
    spectral family's estimate -> maintain -> apply lifecycle; see
    the section design comment for the determinism algebra and the
    broadcast map-only scale shape."""
    return whitened_long_frame(spark, sf_dir).orderBy(
        "vec_id", "dim"
    )


# --------------------------------------------------------------------
# Whitened-space retrieval: cosine top-k computed ON THE WHITENED
# embedding column — the serving CONSUMER of the whitening apply leg
# (estimate -> maintain -> apply -> serve, the full arc). Whitening
# rescales each dimension to unit variance, so high-variance
# dimensions stop dominating the dot product (the textbook reason
# retrieval stacks whiten before indexing). Honesty note: this
# corpus is near-isotropic (the spectral-norm section documents the
# missing spectral gap), so whitening barely reorders — measured
# 48/50 top-10 agreement with raw-space sim_cosine_topk_bruteforce
# at sf0.01 (pinned by a pytest). Both orderings are exactly
# oracled, so the transform's (small) effect on neighbor structure
# is itself hash-checked; on anisotropic production embeddings the
# same plan is where the reordering shows up. Brute-force by design — the exactness baseline class
# (bounded 5-query broadcast side, one corpus-scale map pass + the
# per-query top-k window), exactly like sim_cosine_topk_bruteforce;
# the index-fed path at scale is the IVF/PQ family applied to the
# whitened column, which the trained-quantizer rows already price.
#
# Determinism: whitened values are CAST(exact int)/SQRT(exact int)
# doubles (proven hash-identical by the apply-leg gate); dot and
# norm are the engine's fixed-order left folds (dot_fold /
# _dot_duck), so cosine and its ordering are engine-identical. NULL
# whitened dims (constant columns) would propagate NULL through the
# fold identically in both engines; this corpus has none (the
# apply-leg property test pins all dims non-constant).
# --------------------------------------------------------------------


def _whitened_topk_oracle() -> str:
    return f"""
WITH {_whiten_ctes('')},
wv AS (
  SELECT vec_id, list(whitened ORDER BY dim) AS w
  FROM wl GROUP BY vec_id
),
q AS (
  SELECT vec_id AS query_id, w AS qw, {_norm2_duck('w')} AS qn
  FROM wv WHERE vec_id < {_N_QUERIES}
),
c AS (
  SELECT vec_id AS candidate_id, w AS cw, {_norm2_duck('w')} AS cn
  FROM wv
),
ranked AS (
  SELECT q.query_id, c.candidate_id,
         {_dot_duck('q.qw', 'c.cw')} / (SQRT(q.qn) * SQRT(c.cn))
           AS cosine_sim,
         ROW_NUMBER() OVER (
           PARTITION BY q.query_id
           ORDER BY {_dot_duck('q.qw', 'c.cw')}
                      / (SQRT(q.qn) * SQRT(c.cn)) DESC,
                    c.candidate_id
         ) AS rank
  FROM q, c
  WHERE q.query_id <> c.candidate_id
)
SELECT query_id, CAST(rank AS INT) AS rank, candidate_id, cosine_sim
FROM ranked
WHERE rank <= {_TOP_K}
ORDER BY query_id, rank
"""


@register("sim_whitened_cosine_topk", oracle=_whitened_topk_oracle())
def sim_whitened_cosine_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cosine top-{_TOP_K} retrieval in the WHITENED embedding space
    (per-dim unit variance via the in-plan-trained diagonal scales):
    (query_id, rank, candidate_id, cosine_sim) for the first
    {_N_QUERIES} query vectors — the serving consumer completing the
    spectral family's estimate -> maintain -> apply -> serve arc.
    See the section design comment for the determinism contract and
    the brute-force-baseline rationale."""
    from pyspark.sql import Window

    wv = (
        whitened_long_frame(spark, sf_dir)
        .groupBy("vec_id")
        .agg(
            F.expr(
                "transform(array_sort(collect_list("
                "struct(dim, whitened))), t -> t.whitened)"
            ).alias("w")
        )
        .persist()
    )
    norm = (
        "aggregate(transform({0}, x -> CAST(x AS DOUBLE)"
        " * CAST(x AS DOUBLE)), CAST(0.0 AS DOUBLE),"
        " (acc, v) -> acc + v)"
    )
    q = wv.filter(F.col("vec_id") < _N_QUERIES).selectExpr(
        "vec_id as query_id", "w as qw", f"{norm.format('w')} as qn"
    )
    c = wv.selectExpr(
        "vec_id as candidate_id", "w as cw", f"{norm.format('w')} as cn"
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("candidate_id")
    )
    from workshop3_etl_spark.functions.cache import (
        materialize_and_release,
    )

    result = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("candidate_id"))
        .withColumn(
            "cosine_sim",
            dot_fold("qw", "cw") / (F.sqrt("qn") * F.sqrt("cn")),
        )
        .withColumn("rank", F.row_number().over(wr).cast("int"))
        .filter(F.col("rank") <= _TOP_K)
        .select("query_id", "rank", "candidate_id", "cosine_sim")
        .orderBy("query_id", "rank")
    )
    return materialize_and_release(result, wv)


# --------------------------------------------------------------------
# Hybrid search via Reciprocal Rank Fusion (Cormack et al. 2009, the
# fusion every modern lexical+vector stack runs): the documents table
# supplies the LEXICAL ranking (token-set Jaccard to the query doc)
# and the id-aligned embeddings table the SEMANTIC ranking (cosine),
# and the two are fused per candidate as
#
#   rrf = 1/(60 + rank_lex) + 1/(60 + rank_sem)
#
# — a fixed-order two-term double sum of exact integer ranks, so the
# fused ordering is engine-identical. Both legs here score the full
# corpus (the brute-force exactness baseline, like
# sim_cosine_topk_bruteforce); at scale each leg is fed by its index
# (BM25 posting candidates / IVF-LSH probe candidates) and the fusion
# join is unchanged. Ranks use dense row_number with candidate-id
# tiebreaks; the fusion top-10 keeps both legs' ranks visible for
# audit.
# --------------------------------------------------------------------

_RRF_K = 60


def _rrf_ctes(p: str) -> str:
    """The exact-leg RRF derivation as prefixable CTEs, ending in
    ``{p}rrf_out`` (query_id, rank, candidate_id, lex_rank, sem_rank,
    rrf_score). One source of truth for the standalone oracle
    (prefix '') and the hybrid-vs-exact eval oracle (collision-free
    prefix)."""
    from workshop3_etl_spark.operators.dedup import _TOKENS_DUCK

    return f"""{p}tk AS (
  SELECT doc_id, list_distinct({_TOKENS_DUCK}) AS tokens
  FROM documents
),
{p}lex AS (
  SELECT q.doc_id AS query_id, c.doc_id AS candidate_id,
         ROW_NUMBER() OVER (
           PARTITION BY q.doc_id
           ORDER BY CAST(len(list_intersect(q.tokens, c.tokens))
                         AS DOUBLE)
                    / CAST(len(list_distinct(
                          list_concat(q.tokens, c.tokens))) AS DOUBLE)
                      DESC,
                    c.doc_id
         ) AS lex_rank
  FROM {p}tk q JOIN {p}tk c ON q.doc_id <> c.doc_id
  WHERE q.doc_id < {_N_QUERIES}
),
{p}ev AS (
  SELECT vec_id, embedding, {_norm2_duck('embedding')} AS nrm
  FROM embeddings
),
{p}sem AS (
  SELECT q.vec_id AS query_id, c.vec_id AS candidate_id,
         ROW_NUMBER() OVER (
           PARTITION BY q.vec_id
           ORDER BY {_dot_duck('q.embedding', 'c.embedding')}
                      / (SQRT(q.nrm) * SQRT(c.nrm)) DESC,
                    c.vec_id
         ) AS sem_rank
  FROM {p}ev q JOIN {p}ev c ON q.vec_id <> c.vec_id
  WHERE q.vec_id < {_N_QUERIES}
),
{p}fused AS (
  SELECT l.query_id, l.candidate_id,
         CAST(l.lex_rank AS BIGINT) AS lex_rank,
         CAST(s.sem_rank AS BIGINT) AS sem_rank,
         1e0 / ({_RRF_K} + l.lex_rank)
           + 1e0 / ({_RRF_K} + s.sem_rank) AS rrf_score
  FROM {p}lex l JOIN {p}sem s
    ON s.query_id = l.query_id AND s.candidate_id = l.candidate_id
),
{p}rrf_out AS (
  SELECT query_id, CAST(rank AS INT) AS rank, candidate_id,
         lex_rank, sem_rank, rrf_score
  FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY query_id
      ORDER BY rrf_score DESC, candidate_id) AS rank
    FROM {p}fused
  ) WHERE rank <= {_TOP_K}
)"""


def _rrf_oracle() -> str:
    return f"""
WITH {_rrf_ctes('')}
SELECT query_id, rank, candidate_id, lex_rank, sem_rank, rrf_score
FROM rrf_out
ORDER BY query_id, rank
"""


@register("search_rrf_hybrid_topk", oracle=_rrf_oracle())
def search_rrf_hybrid_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid lexical+semantic retrieval: per query doc, token-set
    Jaccard and embedding-cosine rankings fused by Reciprocal Rank
    Fusion (k=60), top-10 — (query_id, rank, candidate_id, lex_rank,
    sem_rank, rrf_score). See the section design comment for the
    determinism contract and the index-fed shape at scale."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").selectExpr(
        "doc_id",
        "array_distinct(filter(split(text, ' '), x -> x != ''))"
        " as tokens",
    )
    q = docs.filter(F.col("doc_id") < _N_QUERIES).selectExpr(
        "doc_id as query_id", "tokens as qt"
    )
    wl = Window.partitionBy("query_id").orderBy(
        F.desc("jac"), F.asc("candidate_id")
    )
    lex = (
        docs.selectExpr("doc_id as candidate_id", "tokens as ct")
        .crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("candidate_id"))
        .selectExpr(
            "query_id",
            "candidate_id",
            "cast(size(array_intersect(qt, ct)) as double)"
            " / cast(size(array_distinct(concat(qt, ct))) as double)"
            " as jac",
        )
        .withColumn("lex_rank", F.row_number().over(wl).cast("long"))
        .select("query_id", "candidate_id", "lex_rank")
    )
    emb = load_table(spark, sf_dir, "embeddings").selectExpr(
        "vec_id",
        "embedding",
        f"{'aggregate(zip_with(embedding, embedding,'}"
        " (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
        " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v) as nrm",
    )
    eq = emb.filter(F.col("vec_id") < _N_QUERIES).selectExpr(
        "vec_id as query_id", "embedding as qv", "nrm as qn"
    )
    ws = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), F.asc("candidate_id")
    )
    sem = (
        emb.selectExpr(
            "vec_id as candidate_id", "embedding as cv", "nrm as cn"
        )
        .crossJoin(F.broadcast(eq))
        .filter(F.col("query_id") != F.col("candidate_id"))
        .withColumn(
            "cos", dot_fold("qv", "cv") / (F.sqrt("qn") * F.sqrt("cn"))
        )
        .withColumn("sem_rank", F.row_number().over(ws).cast("long"))
        .select("query_id", "candidate_id", "sem_rank")
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.desc("rrf_score"), F.asc("candidate_id")
    )
    return (
        lex.join(sem, ["query_id", "candidate_id"])
        .selectExpr(
            "query_id",
            "candidate_id",
            "lex_rank",
            "sem_rank",
            f"1e0 / ({_RRF_K} + lex_rank)"
            f" + 1e0 / ({_RRF_K} + sem_rank) as rrf_score",
        )
        .withColumn("rank", F.row_number().over(wr).cast("int"))
        .filter(F.col("rank") <= _TOP_K)
        .select(
            "query_id", "rank", "candidate_id", "lex_rank",
            "sem_rank", "rrf_score",
        )
        .orderBy("query_id", "rank")
    )


# --------------------------------------------------------------------
# Rank-aware retrieval quality: nDCG@10 / MRR of the random-
# projection ANN against the exact brute-force cosine ground truth —
# the graded upgrade of search_eval_hybrid_vs_exact's set-overlap
# metric (overlap says WHETHER the index found the neighbors; these
# say WHERE it put them).
#
# Log-free exact metrics (the libm ban): the classical 1/log2(i+1)
# DCG discount is replaced by the documented harmonic surrogate
# 1/i, scaled by lcm(1..10) = 2520 so every per-rank discount
# 2520/i is an exact integer; graded relevance is 11 - truth_rank
# (10 points for the true nearest neighbor down to 1 for the 10th).
# The per-query ideal (all ten truth docs in truth order) is then
# the constant sum_i (11-i)*(2520/i) — computed below in Python —
# and ndcg_x1e6 is one integer floor-division against it. MRR is
# 2520 / first-hit-rank, 0 when the index misses everything.
#
# Scale: both legs are the operators' own plans (shortlist + rerank
# for the index, the deliberate exact enumeration for the truth) —
# this is an EVAL-harness row (perf_class ground_truth, the
# dedup_lsh_eval_metrics precedent); the metric join itself is
# TOP_K x TOP_K = 10x10 rows per query (the 50-candidate shortlist
# never reaches it).
# --------------------------------------------------------------------

_NDCG_IDCG_X2520 = sum((11 - i) * (2520 // i) for i in range(1, 11))

_RP_EVAL_ORACLE = f"""
WITH {_cosine_topk_ctes('t_')},
{_rp_topk_ctes('r_')},
j AS (
  SELECT r.query_id, r.rank AS c_rank, t.rank AS t_rank
  FROM r_rptop r LEFT JOIN t_exact t
    ON t.query_id = r.query_id AND t.candidate_id = r.candidate_id
),
m AS (
  SELECT query_id,
         CAST(SUM(CASE WHEN t_rank IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_hits,
         CAST(MIN(CASE WHEN t_rank IS NOT NULL THEN c_rank END)
              AS INT) AS first_hit_rank,
         CAST(SUM(CASE WHEN t_rank IS NOT NULL
                  THEN (11 - t_rank) * (2520 // c_rank)
                  ELSE 0 END) AS BIGINT) AS dcg_x2520
  FROM j GROUP BY query_id
)
SELECT query_id, n_hits, first_hit_rank,
       CAST(COALESCE(2520 // first_hit_rank, 0) AS BIGINT) AS mrr_x2520,
       dcg_x2520,
       CAST((1000000 * dcg_x2520) // {_NDCG_IDCG_X2520} AS BIGINT)
         AS ndcg_x1e6
FROM m
ORDER BY query_id
"""


@register(
    "search_eval_rp_ndcg_mrr",
    oracle=_RP_EVAL_ORACLE,
    perf_class="ground_truth",
)
def search_eval_rp_ndcg_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query nDCG@10 (x1e6, harmonic-discount surrogate) and MRR
    (x2520) of the random-projection ANN vs the exact cosine truth:
    (query_id, n_hits, first_hit_rank, mrr_x2520, dcg_x2520,
    ndcg_x1e6). Composes the two registered operators' own frames so
    the eval cannot drift from what it grades; all metric arithmetic
    is exact integers (see the section comment)."""
    truth = sim_cosine_topk_bruteforce(spark, sf_dir).select(
        "query_id",
        F.col("rank").alias("t_rank"),
        "candidate_id",
    )
    cand = sim_ann_random_projection_topk(spark, sf_dir).select(
        "query_id",
        F.col("rank").alias("c_rank"),
        "candidate_id",
    )
    j = cand.join(
        F.broadcast(truth), ["query_id", "candidate_id"], "left"
    )
    m = j.groupBy("query_id").agg(
        F.sum(
            F.expr("case when t_rank is not null then 1 else 0 end")
        )
        .cast("long")
        .alias("n_hits"),
        F.min(
            F.expr("case when t_rank is not null then c_rank end")
        )
        .cast("int")
        .alias("first_hit_rank"),
        F.sum(
            F.expr(
                "case when t_rank is not null"
                " then (11 - t_rank) * (2520 div c_rank) else 0 end"
            )
        )
        .cast("long")
        .alias("dcg_x2520"),
    )
    return m.selectExpr(
        "query_id",
        "n_hits",
        "first_hit_rank",
        "cast(coalesce(2520 div first_hit_rank, 0L) as bigint)"
        " as mrr_x2520",
        "dcg_x2520",
        f"cast((1000000L * dcg_x2520) div {_NDCG_IDCG_X2520} as bigint)"
        " as ndcg_x1e6",
    ).orderBy("query_id")
