"""Training-corpus preparation operators: chunking documents into
token windows and benchmark decontamination — the last-mile ops that
turn a cleaned/deduped corpus (dedup.py, text.py) into model-ready
data.

Both are pure higher-order-function pipelines (map-only until a
small-key join/aggregate), so at 100 TB they are scan-bound:

- Chunking: per-doc token windows with stride — transform over an
  index sequence, one explode; output rows ≈ tokens/stride. No
  shuffle at all.
- Decontamination: 8-token shingles of corpus docs hash-joined
  against benchmark shingles. The benchmark side is tiny → broadcast;
  the corpus side ships only (doc_id, shingle-md5) pairs, and a
  left-semi join marks contaminated docs without duplicating them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from workshop3_etl_spark.functions.canon import (
    fp_fold_agg_sql,
    fp_hash_duck,
    fp_hash_spark,
)
from workshop3_etl_spark.plans.registry import register
from workshop3_etl_spark.sources.tables import load_table, scan_parallel

_TOKENS = "filter(split(text, ' '), x -> x != '')"
_TOKENS_DUCK = "list_filter(string_split(text, ' '), x -> x <> '')"

_CHUNK_SIZE = 64
_STRIDE = 32


_CHUNK_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, lang, {_TOKENS_DUCK} AS tokens FROM documents
),
chunks AS (
  SELECT
    doc_id,
    lang,
    CAST(s.i AS INT) AS chunk_id,
    list_slice(tokens, s.i * {_STRIDE} + 1,
               s.i * {_STRIDE} + {_CHUNK_SIZE}) AS chunk_tokens
  FROM toks,
       LATERAL (SELECT unnest(generate_series(
         0, CAST(greatest(0,
              ceil((len(tokens) - {_CHUNK_SIZE})
                   / CAST({_STRIDE} AS DOUBLE))) AS BIGINT))) AS i) s
)
SELECT
  doc_id,
  chunk_id,
  lang,
  CAST(len(chunk_tokens) AS INT) AS n_tokens,
  md5(array_to_string(chunk_tokens, ' ')) AS chunk_fingerprint
FROM chunks
WHERE len(chunk_tokens) > 0
ORDER BY doc_id, chunk_id
"""


@register("corpus_chunk_documents", oracle=_CHUNK_ORACLE)
def corpus_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking: {chunk} tokens, stride {stride} —
    the standard pretraining packing prep. transform+explode,
    map-only, no shuffle; chunk fingerprints feed chunk-level dedup.
    """
    docs = load_table(spark, sf_dir, "documents")
    n_windows = (
        f"cast(greatest(0, ceil((size({_TOKENS}) - {_CHUNK_SIZE})"
        f" / cast({_STRIDE} as double))) as int)"
    )
    windows = F.expr(
        f"transform(sequence(0, {n_windows}),"
        f" i -> slice({_TOKENS}, i * {_STRIDE} + 1, {_CHUNK_SIZE}))"
    )
    chunks = docs.select(
        "doc_id",
        "lang",
        F.posexplode(windows).alias("chunk_id", "chunk_tokens"),
    ).filter(F.size("chunk_tokens") > 0)
    return chunks.select(
        "doc_id",
        F.col("chunk_id").cast("int").alias("chunk_id"),
        "lang",
        F.size("chunk_tokens").alias("n_tokens"),
        F.md5(F.concat_ws(" ", F.col("chunk_tokens")).cast("binary"))
        .alias("chunk_fingerprint"),
    ).orderBy("doc_id", "chunk_id")


corpus_chunk_documents.__doc__ = corpus_chunk_documents.__doc__.format(
    chunk=_CHUNK_SIZE, stride=_STRIDE
)


# --------------------------------------------------------------------
# Benchmark decontamination: flag corpus docs sharing any 8-token
# shingle with the benchmark set (here: docs from source 'src0' play
# the benchmark role).
# --------------------------------------------------------------------

_NGRAM = 8

_DECONTAM_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, source, {_TOKENS_DUCK} AS tokens FROM documents
),
shingled AS (
  SELECT doc_id, source,
         unnest(list_transform(
           generate_series(1, greatest(1, len(tokens) - {_NGRAM - 1})),
           i -> md5(array_to_string(
             list_slice(tokens, CAST(i AS INT), CAST(i AS INT) + {_NGRAM - 1}),
             ' '))
         )) AS sh
  FROM toks
),
bench AS (
  SELECT DISTINCT sh FROM shingled WHERE source = 'src0'
),
contaminated AS (
  SELECT DISTINCT s.doc_id
  FROM shingled s JOIN bench b ON s.sh = b.sh
  WHERE s.source <> 'src0'
)
SELECT
  CAST((SELECT COUNT(*) FROM documents WHERE source <> 'src0') AS BIGINT)
    AS n_corpus_docs,
  CAST((SELECT COUNT(*) FROM contaminated) AS BIGINT) AS n_contaminated,
  CAST((SELECT COUNT(*) FROM bench) AS BIGINT) AS n_benchmark_shingles
"""


@register("corpus_decontaminate_vs_benchmark", oracle=_DECONTAM_ORACLE)
def corpus_decontaminate_vs_benchmark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-overlap detection: corpus docs sharing any 8-token
    shingle with the benchmark slice.

    The benchmark shingle set is broadcast; corpus docs are flagged
    via left-semi join on shingle md5 (16 bytes/shingle moves, text
    never does). The kept set would be the anti-join complement.
    """
    docs = load_table(spark, sf_dir, "documents")
    shingles = F.expr(
        f"transform(sequence(1, greatest(1, size({_TOKENS}) - {_NGRAM - 1})),"
        f" i -> md5(cast(concat_ws(' ', slice({_TOKENS}, i, {_NGRAM})) as binary)))"
    )
    shingled = docs.select(
        "doc_id", "source", F.explode(shingles).alias("sh")
    )
    bench = (
        shingled.filter(F.col("source") == "src0").select("sh").distinct()
    )
    corpus = shingled.filter(F.col("source") != "src0")
    contaminated = (
        corpus.join(F.broadcast(bench), "sh", "left_semi")
        .select("doc_id")
        .distinct()
    )
    n_corpus = docs.filter(F.col("source") != "src0").count()
    n_contam = contaminated.count()
    n_bench = bench.count()
    return spark.createDataFrame(
        [(n_corpus, n_contam, n_bench)],
        "n_corpus_docs long, n_contaminated long, n_benchmark_shingles long",
    )


# --------------------------------------------------------------------
# Stratified mixture sampling: deterministic per-language rates — the
# corpus-mixing step of a training-data pipeline (downsample dominant
# languages, keep rare ones).
# --------------------------------------------------------------------

# Per-language keep rates expressed as 4-hex-digit md5 thresholds
# (rate = int(threshold, 16) / 16^4). Hex-substring comparison is the
# repo's portable deterministic-sampling idiom (see ml.py split):
# fixed-length lowercase hex compares lexicographically == numerically
# in both engines, and md5 is the one shared hash.
_MIX_RATES: dict[str, tuple[str, float]] = {
    "en": ("4000", 0.25),  # dominant language downsampled
    "fr": ("8000", 0.50),
    "de": ("8000", 0.50),
    "es": ("c000", 0.75),
    "zh": ("e666", 0.8999938964843750),  # rare language kept ~0.9
}
_MIX_DEFAULT = ("8000", 0.50)
_MIX_SALT = "mix1"


def _mix_case_duck(col: str = "lang") -> str:
    whens = " ".join(
        f"WHEN {col} = '{lang}' THEN '{th}'" for lang, (th, _) in _MIX_RATES.items()
    )
    return f"CASE {whens} ELSE '{_MIX_DEFAULT[0]}' END"


def _mix_threshold_col(lang_col: str = "lang"):
    """Spark chained-when mapping a language column to its 4-hex keep
    threshold — the single source of truth for BOTH the standalone
    sampler and the e2e funnel."""
    expr = None
    for lang, (th, _) in _MIX_RATES.items():
        expr = (
            F.when(F.col(lang_col) == lang, F.lit(th))
            if expr is None
            else expr.when(F.col(lang_col) == lang, F.lit(th))
        )
    return expr.otherwise(F.lit(_MIX_DEFAULT[0]))


def _mix_keep_col(id_col: str = "doc_id", lang_col: str = "lang"):
    """1 iff md5(id:salt)'s 4-hex prefix falls under the language
    threshold (the portable deterministic-sampling idiom)."""
    return (
        F.substring(
            F.md5(
                F.concat(
                    F.col(id_col).cast("string"), F.lit(f":{_MIX_SALT}")
                ).cast("binary")
            ),
            1,
            4,
        )
        < _mix_threshold_col(lang_col)
    ).cast("int")


_STRATIFIED_ORACLE = f"""
WITH flagged AS (
  SELECT
    lang,
    n_chars,
    CASE WHEN substring(md5(doc_id || ':{_MIX_SALT}'), 1, 4)
              < ({_mix_case_duck()})
         THEN 1 ELSE 0 END AS keep
  FROM documents
)
SELECT
  lang,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(keep) AS BIGINT) AS n_sampled,
  CAST(SUM(keep) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS realized_rate,
  CAST(SUM(CASE WHEN keep = 1 THEN n_chars ELSE 0 END) AS BIGINT)
    AS sampled_chars
FROM flagged
GROUP BY lang
ORDER BY lang
"""


@register("corpus_stratified_sample", oracle=_STRATIFIED_ORACLE)
def corpus_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling summary: each document is
    kept iff md5(doc_id:salt)'s 4-hex prefix falls under its
    language's threshold — reproducible across runs, engines, and
    cluster layouts (no RNG state, no partition sensitivity, unlike
    ``df.sample``).

    Shape at scale: the keep decision is per-row expression work
    (map-only); the summary is one map-side-combinable aggregate over
    5 language keys. The actual sampled corpus is the same filter
    without the aggregate — zero shuffle.
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("lang", "n_chars", _mix_keep_col().alias("keep"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("keep").cast("long").alias("n_sampled"),
            (F.sum("keep").cast("double") / F.count(F.lit(1)).cast("double"))
            .alias("realized_rate"),
            F.sum(
                F.when(F.col("keep") == 1, F.col("n_chars")).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("sampled_chars"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------
# End-to-end training-data prep: dedup -> quality -> mixture sample ->
# chunk accounting, composed as ONE declarative plan. The capstone
# query tying the LLM-pipeline families together; every stage reuses
# the exact expression semantics of its standalone operator, so the
# whole funnel is DuckDB-oracle-checkable.
# --------------------------------------------------------------------

_E2E_GRAMS_DUCK = "list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])"

_E2E_ORACLE = f"""
WITH base AS (
  SELECT doc_id, lang,
         md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
         {_TOKENS_DUCK} AS t
  FROM documents
),
grams AS (
  SELECT doc_id,
    CAST(len({_E2E_GRAMS_DUCK}) - len(list_distinct({_E2E_GRAMS_DUCK}))
      AS DOUBLE)
      / CAST(NULLIF(len({_E2E_GRAMS_DUCK}), 0) AS DOUBLE) AS dup_2gram_ratio
  FROM base
),
tok_share AS (
  SELECT doc_id,
    CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS max_token_ratio
  FROM (
    SELECT doc_id, tok, COUNT(*) AS c
    FROM (SELECT doc_id, unnest(t) AS tok FROM base)
    GROUP BY doc_id, tok
  )
  GROUP BY doc_id
),
flagged AS (
  SELECT
    b.doc_id,
    b.lang,
    CAST(len(b.t) AS BIGINT) AS n_tokens,
    CASE WHEN ROW_NUMBER() OVER (PARTITION BY b.fp ORDER BY b.doc_id) = 1
         THEN 1 ELSE 0 END AS is_unique,
    CASE WHEN len(b.t) >= 5
           AND NOT (COALESCE(g.dup_2gram_ratio > 0.2, FALSE)
                    OR COALESCE(ts.max_token_ratio > 0.2, FALSE))
         THEN 1 ELSE 0 END AS is_quality,
    CASE WHEN substring(md5(b.doc_id || ':{_MIX_SALT}'), 1, 4)
              < ({_mix_case_duck("b.lang")})
         THEN 1 ELSE 0 END AS in_sample,
    CASE WHEN len(b.t) = 0 THEN 0
         ELSE 1 + CAST(greatest(0,
              ceil((len(b.t) - {_CHUNK_SIZE}) / CAST({_STRIDE} AS DOUBLE)))
              AS BIGINT) END AS n_chunks
  FROM base b
  LEFT JOIN grams g ON b.doc_id = g.doc_id
  LEFT JOIN tok_share ts ON b.doc_id = ts.doc_id
)
SELECT
  CAST(COUNT(*) AS BIGINT) AS n_input,
  CAST(SUM(is_unique) AS BIGINT) AS n_unique,
  CAST(SUM(is_unique * is_quality) AS BIGINT) AS n_quality,
  CAST(SUM(is_unique * is_quality * in_sample) AS BIGINT) AS n_sampled,
  CAST(SUM(is_unique * is_quality * in_sample * n_tokens) AS BIGINT)
    AS total_tokens_sampled,
  CAST(SUM(is_unique * is_quality * in_sample * n_chunks) AS BIGINT)
    AS n_chunks_sampled
FROM flagged
"""

_E2E_GRAMS_SPARK = (
    "case when size(t) < 2 then array()"
    " else transform(sequence(1, size(t) - 1),"
    " i -> concat(element_at(t, i), ' ', element_at(t, i + 1))) end"
)


@register("corpus_e2e_training_prep", oracle=_E2E_ORACLE)
def corpus_e2e_training_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full training-data funnel in one plan: exact dedup
    (keep-first by fingerprint) -> quality gate (token floor +
    repetition rules) -> deterministic per-language mixture sample ->
    chunk accounting. Output is the funnel summary
    (input/unique/quality/sampled counts + sampled token and chunk
    totals).

    Each stage reuses the EXACT semantics of its standalone operator
    (dedup_exact_documents' fingerprint, text_repetition_filter's
    rules, corpus_stratified_sample's thresholds,
    corpus_chunk_documents' window count), so the composition is
    fully oracle-checked.

    Shape at scale: one token-explode aggregate (max token share,
    (doc_id, token) rows only), one window shuffle on the 16-byte
    fingerprint, then a single global funnel aggregate. Every
    text-derived scalar (token count, 2-gram ratio, chunk count,
    sample hash) is computed MAP-SIDE and the token array is
    projected away before any exchange — only doc_id/fp/scalars ride
    the shuffles.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        "lang",
        F.md5(
            F.expr("cast(trim(regexp_replace(lower(text), '\\\\s+', ' ')) as binary)")
        ).alias("fp"),
        F.expr(_TOKENS).alias("t"),
    )
    # r11 restructure (guide §2.4 remove-shuffles / §1.2 algorithm
    # first). (a) max_token_ratio == max token multiplicity / total
    # tokens, so it folds MAP-SIDE over the sorted token array (longest
    # equal-run scan) — the former token explode -> (doc_id, tok)
    # groupBy -> per-doc groupBy -> join leg (a full second tokenize of
    # the corpus plus two aggregates and a join) is gone; the empty-doc
    # NULL the old left join produced is preserved via the nullif
    # denominator. (b) the 2-gram array is staged ONCE in its own
    # projection — HOFs are interpreted (no codegen subexpression
    # elimination), and the previous dup_ratio expression evaluated the
    # transform() three times per row. Values are bit-identical: the
    # same integers enter the same double casts and divisions.
    staged = base.select(
        "doc_id",
        "lang",
        "fp",
        "t",
        F.expr(_E2E_GRAMS_SPARK).alias("g2"),
    )
    max_run = (
        "aggregate(sort_array(t),"
        " named_struct('prev', cast(null as string), 'run', 0L,"
        " 'best', 0L),"
        " (a, x) -> named_struct("
        "   'prev', x,"
        "   'run', if(x <=> a.prev, a.run + 1L, 1L),"
        "   'best', greatest(a.best, if(x <=> a.prev, a.run + 1L, 1L))),"
        " a -> a.best)"
    )
    dup_ratio = F.expr(
        "cast(size(g2) - size(array_distinct(g2)) as double)"
    ) / F.expr("cast(nullif(size(g2), 0) as double)")
    # All per-row scalars computed where the row lives; `t` (the
    # tokenized document body) is projected away HERE, before the
    # fingerprint window exchange rows.
    scalars = staged.select(
        "doc_id",
        "lang",
        "fp",
        F.expr("cast(size(t) as bigint)").alias("n_tokens"),
        dup_ratio.alias("dup_2gram_ratio"),
        (
            F.expr(f"cast({max_run} as double)")
            / F.expr("cast(nullif(size(t), 0) as double)")
        ).alias("max_token_ratio"),
        _mix_keep_col().alias("in_sample"),
        F.expr(
            f"case when size(t) = 0 then 0"
            f" else 1 + cast(greatest(0, ceil((size(t) - {_CHUNK_SIZE})"
            f" / cast({_STRIDE} as double))) as bigint) end"
        ).alias("n_chunks"),
    )
    w = Window.partitionBy("fp").orderBy("doc_id")
    flagged = (
        scalars.withColumn(
            "is_unique", (F.row_number().over(w) == 1).cast("int")
        )
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            "is_unique",
            F.when(
                (F.col("n_tokens") >= 5)
                & ~(
                    F.coalesce(F.col("dup_2gram_ratio") > 0.2, F.lit(False))
                    | F.coalesce(F.col("max_token_ratio") > 0.2, F.lit(False))
                ),
                1,
            )
            .otherwise(0)
            .alias("is_quality"),
            "in_sample",
            "n_chunks",
        )
    )
    return flagged.agg(
        F.count(F.lit(1)).alias("n_input"),
        F.sum("is_unique").cast("long").alias("n_unique"),
        F.sum(F.col("is_unique") * F.col("is_quality")).cast("long")
        .alias("n_quality"),
        F.sum(F.col("is_unique") * F.col("is_quality") * F.col("in_sample"))
        .cast("long")
        .alias("n_sampled"),
        F.sum(
            F.col("is_unique")
            * F.col("is_quality")
            * F.col("in_sample")
            * F.col("n_tokens")
        )
        .cast("long")
        .alias("total_tokens_sampled"),
        F.sum(
            F.col("is_unique")
            * F.col("is_quality")
            * F.col("in_sample")
            * F.col("n_chunks")
        )
        .cast("long")
        .alias("n_chunks_sampled"),
    )


# --------------------------------------------------------------------
# Temperature-based mixture weights (the UnifiedQA / multilingual-LM
# sampling scheme: w_i ∝ n_i^α with α=0.5, upweighting low-resource
# slices). Pure arithmetic over per-slice counts — sqrt is IEEE
# correctly-rounded in both engines, and the weight denominator is an
# exact decimal sum of rounded sqrt terms, so shares are
# bit-reproducible.
# --------------------------------------------------------------------

# Shared CTE prefix: per-lang counts, the decimal(27,6)-quantized
# sqrt denominator, and the oversample frame — consumed verbatim by
# BOTH the weights query and the resampler so the load-bearing
# rounding idiom lives in exactly one place.
_MIXTURE_CTE = """
WITH c AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents GROUP BY lang
),
t AS (
  SELECT CAST(SUM(CAST(SQRT(CAST(n_docs AS DOUBLE)) AS decimal(27,6)))
              AS DOUBLE) AS denom,
         CAST(SUM(n_docs) AS BIGINT) AS total_docs
  FROM c
)"""

_MIXTURE_ORACLE = _MIXTURE_CTE + """
SELECT
  c.lang,
  c.n_docs,
  SQRT(CAST(c.n_docs AS DOUBLE)) AS sqrt_weight,
  SQRT(CAST(c.n_docs AS DOUBLE)) / t.denom AS mixture_share,
  SQRT(CAST(c.n_docs AS DOUBLE)) / t.denom
    / (CAST(c.n_docs AS DOUBLE) / CAST(t.total_docs AS DOUBLE))
    AS oversample_factor
FROM c, t
ORDER BY c.lang
"""


def _mixture_ov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The alpha=0.5 oversample frame (lang, n_docs, target_share,
    ovf) — one shared IEEE tree (incl. the decimal(27,6) denominator
    quantization) consumed by BOTH the weights query and the
    resampler, mirroring _MIXTURE_CTE."""
    docs = load_table(spark, sf_dir, "documents")
    c = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    t = c.agg(
        F.sum(F.sqrt(F.col("n_docs").cast("double")).cast("decimal(27,6)"))
        .cast("double")
        .alias("denom"),
        F.sum("n_docs").cast("long").alias("total_docs"),
    )
    sw = F.sqrt(F.col("n_docs").cast("double"))
    return c.crossJoin(F.broadcast(t)).select(
        "lang",
        "n_docs",
        sw.alias("sqrt_weight"),
        (sw / F.col("denom")).alias("target_share"),
        (
            (sw / F.col("denom"))
            / (
                F.col("n_docs").cast("double")
                / F.col("total_docs").cast("double")
            )
        ).alias("ovf"),
    )


@register("corpus_mixture_weights_sqrt", oracle=_MIXTURE_ORACLE)
def corpus_mixture_weights_sqrt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language α=0.5 temperature sampling weights and the
    oversample factor vs natural frequency."""
    return (
        _mixture_ov(spark, sf_dir)
        .select(
            "lang",
            "n_docs",
            "sqrt_weight",
            F.col("target_share").alias("mixture_share"),
            F.col("ovf").alias("oversample_factor"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------
# SEQUENCE PACKING: assign documents to fixed-capacity token bins —
# the batch-prep step that turns a deduped corpus into dense training
# sequences (padding waste is the metric). Deterministic contiguous
# fill: within each language stratum, docs are laid out in doc_id
# order and a doc belongs to the bin its START offset falls in
# (floor(prefix_tokens / capacity)) — a pure running-sum window, no
# sequential bin-state loop, so the assignment is one window pass per
# stratum. First-fit-decreasing would pack ~tighter but is inherently
# sequential; contiguous fill is the distributed-friendly layout and
# the fill_ratio column quantifies exactly what that trade costs.
#
# Scale: the window partitions by lang (stratum), so state per task is
# one stratum's docs; a skewed mega-stratum would sub-salt on a
# doc_id range prefix and carry the per-range token offsets forward —
# the same two-level prefix-sum trick window_spend_deciles uses for
# its distributed global rank.
# --------------------------------------------------------------------

_PACK_CAP = 2048  # tokens per training sequence bin

_PACK_ORACLE = f"""
WITH t AS (
  SELECT doc_id, lang,
         CAST(len({{toks}}) AS BIGINT) AS n_tokens
  FROM documents
),
o AS (
  SELECT doc_id, lang, n_tokens,
         COALESCE(SUM(n_tokens) OVER (
           PARTITION BY lang ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS start_off
  FROM t
),
b AS (
  SELECT lang, start_off // {_PACK_CAP} AS bin_id, doc_id, n_tokens
  FROM o
)
SELECT lang, CAST(bin_id AS BIGINT) AS bin_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens,
       CAST(SUM(n_tokens) AS DOUBLE) / {_PACK_CAP} AS fill_ratio
FROM b
GROUP BY lang, bin_id
ORDER BY lang, bin_id
"""


@register(
    "corpus_pack_sequences",
    oracle=_PACK_ORACLE.format(
        toks="list_filter(string_split(text, ' '), x -> x <> '')"
    ),
)
def corpus_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(lang, bin) packing stats for fixed-capacity training
    sequences via contiguous fill in doc_id order.

    One window pass per stratum computes every doc's start offset;
    bin_id is integer division — no driver loop, no sequential state.
    fill_ratio is bin_tokens / capacity (integer over 2^11: exact as
    a double in both engines).
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.expr("size(filter(split(text, ' '), x -> x != ''))")
        .cast("long")
        .alias("n_tokens"),
    )
    wo = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    o = docs.select(
        "lang",
        "n_tokens",
        F.coalesce(F.sum("n_tokens").over(wo), F.lit(0)).alias("start_off"),
    )
    return (
        o.select(
            "lang",
            # integer div — double division would lose exactness on
            # huge offsets
            F.expr(f"start_off div {_PACK_CAP}").cast("long").alias("bin_id"),
            "n_tokens",
        )
        .groupBy("lang", "bin_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("bin_tokens"),
            (F.sum("n_tokens").cast("double") / F.lit(float(_PACK_CAP)))
            .alias("fill_ratio"),
        )
        .orderBy("lang", "bin_id")
    )


# --------------------------------------------------------------------
# FIXED-SIZE stratified sample: exactly n docs per language, chosen
# by universal-hash rank — the "give me 20 per stratum" counterpart
# of the rate-based corpus_stratified_sample. Hash-rank ordering (not
# rand()) makes the sample identical across engines, runs and
# cluster sizes; the window partitions by the stratum, so the sort is
# per-language, never global.
# --------------------------------------------------------------------

_SAMPLE_N = 20

# sketches.py's universal hash over the Mersenne prime (public LCG
# constants), inlined so the SQL text is self-contained.
_SAMPLE_HASH = "(((doc_id % 2147483647) * 1103515245 + 12345) % 2147483647)"

_SAMPLE_N_ORACLE = f"""
WITH r AS (
  SELECT lang, doc_id, {_SAMPLE_HASH} AS hv,
         ROW_NUMBER() OVER (
           PARTITION BY lang ORDER BY {_SAMPLE_HASH}, doc_id
         ) AS rk
  FROM documents
)
SELECT lang, CAST(rk AS INT) AS rk, doc_id
FROM r WHERE rk <= {_SAMPLE_N}
ORDER BY lang, rk
"""


@register("corpus_sample_n_per_lang", oracle=_SAMPLE_N_ORACLE)
def corpus_sample_n_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-n-per-language deterministic sample (hash-rank order,
    doc_id tie-break)."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    hv = F.expr(_SAMPLE_HASH)
    w = Window.partitionBy("lang").orderBy(hv.asc(), F.col("doc_id").asc())
    return (
        docs.select(
            "lang", "doc_id", F.row_number().over(w).alias("rk")
        )
        .filter(F.col("rk") <= _SAMPLE_N)
        .select("lang", F.col("rk").cast("int").alias("rk"), "doc_id")
        .orderBy("lang", "rk")
    )


# --------------------------------------------------------------------
# PII scrub — the privacy stage every training-data pipeline runs
# before tokenization (C4/RefinedWeb-style): regex detection +
# redaction of emails / phone numbers / IP addresses, with a
# self-auditing residual count. The testdata corpus is word-salad
# with no real PII (a scrub over it would be vacuously green — the
# q4 lesson), so the query first INJECTS deterministic PII derived
# from doc_id — both engines synthesize identical strings — then
# scrubs it and proves residual_pii = 0.
#
# Scale: one map-only pass (inject + 3 regexp_replace + counters are
# all whole-stage-codegen JVM expressions) into a 1-row aggregate —
# no shuffle beyond the final combine at any corpus size. Patterns
# are deliberately in the common subset of Java regex and RE2 so the
# Spark plan and the DuckDB oracle run the SAME expressions.
# --------------------------------------------------------------------

_PII_EMAIL = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
_PII_PHONE = "\\d{3}-\\d{3}-\\d{4}"
_PII_IP = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

def _scrub_expr(col):
    """The production scrub expression (email -> phone -> IP, in that
    order — order matters, so tests must reuse THIS, not a copy)."""
    return F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(col, F.lit(_PII_EMAIL), F.lit("<EMAIL>")),
            F.lit(_PII_PHONE),
            F.lit("<PHONE>"),
        ),
        F.lit(_PII_IP),
        F.lit("<IP>"),
    )


_PII_ORACLE = f"""
WITH injected AS (
  SELECT doc_id,
    text
    || CASE WHEN doc_id % 5 = 0
            THEN ' contact user' || CAST(doc_id AS VARCHAR)
                 || '@example.com now' ELSE '' END
    || CASE WHEN doc_id % 7 = 0
            THEN ' call 555-010-' || lpad(CAST(doc_id % 10000 AS VARCHAR),
                                          4, '0') ELSE '' END
    || CASE WHEN doc_id % 11 = 0
            THEN ' host 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.'
                 || CAST((doc_id // 7) % 256 AS VARCHAR) ELSE '' END
      AS text
  FROM documents
),
scrubbed AS (
  SELECT doc_id,
    len(regexp_extract_all(text, '{_PII_EMAIL}')) AS n_email,
    len(regexp_extract_all(text, '{_PII_PHONE}')) AS n_phone,
    len(regexp_extract_all(text, '{_PII_IP}')) AS n_ip,
    regexp_replace(
      regexp_replace(
        regexp_replace(text, '{_PII_EMAIL}', '<EMAIL>', 'g'),
        '{_PII_PHONE}', '<PHONE>', 'g'),
      '{_PII_IP}', '<IP>', 'g') AS clean
  FROM injected
)
SELECT
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(CASE WHEN n_email + n_phone + n_ip > 0 THEN 1 ELSE 0 END)
    AS BIGINT) AS n_docs_with_pii,
  CAST(SUM(n_email) AS BIGINT) AS n_emails,
  CAST(SUM(n_phone) AS BIGINT) AS n_phones,
  CAST(SUM(n_ip) AS BIGINT) AS n_ips,
  CAST(SUM(length(clean)) AS BIGINT) AS scrubbed_chars,
  CAST(SUM(len(regexp_extract_all(clean, '{_PII_EMAIL}'))
         + len(regexp_extract_all(clean, '{_PII_PHONE}'))
         + len(regexp_extract_all(clean, '{_PII_IP}')))
    AS BIGINT) AS residual_pii
FROM scrubbed
"""


@register("corpus_pii_scrub_stats", oracle=_PII_ORACLE)
def corpus_pii_scrub_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detect and redact emails / phone numbers / IPs across the
    corpus and report per-type counts plus a residual audit (count of
    PII patterns still present AFTER scrubbing — must be zero; a
    nonzero residual means a pattern/replacement mismatch).

    Deterministic PII is injected from doc_id first so the scrub is
    verified against known ground truth on this PII-free synthetic
    corpus (same deviation-for-signal rationale as the calendar
    alignments). Map-only + 1-row aggregate; codegen throughout.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    injected = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(
                    F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com now"),
                ),
            ).otherwise(""),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(
                    F.lit(" call 555-010-"),
                    F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                ),
            ).otherwise(""),
            F.when(
                F.col("doc_id") % 11 == 0,
                F.concat(
                    F.lit(" host 10.0."),
                    (F.col("doc_id") % 256).cast("string"),
                    F.lit("."),
                    ((F.col("doc_id") / 7).cast("long") % 256).cast(
                        "string"
                    ),
                ),
            ).otherwise(""),
        ).alias("text"),
    )
    n_pat = {
        "n_email": _PII_EMAIL,
        "n_phone": _PII_PHONE,
        "n_ip": _PII_IP,
    }
    scrubbed = injected.select(
        "doc_id",
        *[
            F.size(F.regexp_extract_all("text", F.lit(p), F.lit(0))).alias(k)
            for k, p in n_pat.items()
        ],
        _scrub_expr("text").alias("clean"),
    )
    residual = sum(
        F.size(F.regexp_extract_all("clean", F.lit(p), F.lit(0)))
        for p in n_pat.values()
    )
    return scrubbed.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(
            F.when(
                F.col("n_email") + F.col("n_phone") + F.col("n_ip") > 0, 1
            ).otherwise(0)
        ).cast("long").alias("n_docs_with_pii"),
        F.sum("n_email").cast("long").alias("n_emails"),
        F.sum("n_phone").cast("long").alias("n_phones"),
        F.sum("n_ip").cast("long").alias("n_ips"),
        F.sum(F.length("clean")).cast("long").alias("scrubbed_chars"),
        F.sum(residual).cast("long").alias("residual_pii"),
    )


# --------------------------------------------------------------------
# Shard-export manifest — the delivery step of a training-data
# pipeline. At 100 TB a corpus ships as S deterministic shards, and
# the consumer verifies each shard against a manifest (doc count,
# byte size, token budget, content fingerprint) WITHOUT re-reading
# the corpus. Shard assignment is the registry's public LCG hash mod
# S (uniform, reproducible on any engine); the fingerprint is the
# dq_table_checksums idiom — an exact decimal SUM of 60-bit md5
# prefixes, associative/commutative so any partitioning/order of the
# shard files produces the same value.
#
# Scale: one scan, one groupBy on a 16-value key (map-side combine
# collapses everything before the shuffle; S rows total). Reference
# parity: the reference persists its outputs whole (src/etl.py
# to_sql/to_csv) — sharded verified delivery is the at-scale form.
# --------------------------------------------------------------------

N_SHARDS = 16


def _shard_sql(key: str) -> str:
    from workshop3_etl_spark.operators.sketches import hash_sql

    return f"({hash_sql(key)} % {N_SHARDS})"


_SHARD_CANON = (
    "concat_ws('|', cast(doc_id as string), lang, source, text)"
)

_SHARD_MANIFEST_ORACLE = f"""
WITH d AS (
  SELECT CAST({_shard_sql('doc_id')} AS BIGINT) AS shard,
         doc_id,
         octet_length(encode(text)) AS nb,
         len(list_filter(string_split(text, ' '), x -> x <> '')) AS nt,
         {fp_hash_duck(_SHARD_CANON)} AS h
  FROM documents
)
SELECT
  shard,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(nb) AS BIGINT) AS total_bytes,
  CAST(SUM(nt) AS BIGINT) AS total_tokens,
  CAST(MIN(doc_id) AS BIGINT) AS min_doc_id,
  CAST(MAX(doc_id) AS BIGINT) AS max_doc_id,
  {fp_fold_agg_sql('h')} AS content_fingerprint
FROM d
GROUP BY 1
ORDER BY 1
"""


@register("corpus_shard_manifest", oracle=_SHARD_MANIFEST_ORACLE)
def corpus_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 16-shard export manifest over documents: per
    shard, doc count, byte/token totals, doc_id range, and an
    order-independent content fingerprint — the int64-safe commutative
    limb fold of md5-prefix hashes (functions/canon.py; the old
    DECIMAL(38,0) hash sum exceeded int64 and the official driver
    cannot round-trip >64-bit decimals). One scan, one 16-key
    groupBy."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            F.expr(_shard_sql("doc_id")).cast("long").alias("shard"),
            F.expr("octet_length(text)").alias("nb"),
            F.expr("size(filter(split(text, ' '), x -> x != ''))").alias("nt"),
            F.col("doc_id"),
            F.expr(fp_hash_spark(_SHARD_CANON)).alias("h"),
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("nb").cast("long").alias("total_bytes"),
            F.sum("nt").cast("long").alias("total_tokens"),
            F.min("doc_id").cast("long").alias("min_doc_id"),
            F.max("doc_id").cast("long").alias("max_doc_id"),
            F.expr(fp_fold_agg_sql("h")).alias("content_fingerprint"),
        )
        .orderBy("shard")
    )


# --------------------------------------------------------------------
# Temperature resampling MATERIALIZED: the step between "mixture
# weights" (corpus_mixture_weights_sqrt) and an actual training
# corpus. Downsample-only acceptance: the language with the largest
# oversample factor keeps everything (acceptance 1) and every other
# language keeps the fraction that lands the ACCEPTED corpus exactly
# on the alpha=0.5 target composition — the maximal corpus achievable
# without replication.
# --------------------------------------------------------------------

_RESAMPLE_SALT = "mix42"

_RESAMPLE_ORACLE = _MIXTURE_CTE + f""",
ov AS (
  SELECT c.lang, c.n_docs,
         SQRT(CAST(c.n_docs AS DOUBLE)) / t.denom AS target_share,
         SQRT(CAST(c.n_docs AS DOUBLE)) / t.denom
           / (CAST(c.n_docs AS DOUBLE) / CAST(t.total_docs AS DOUBLE))
           AS ovf
  FROM c, t
),
mx AS (SELECT MAX(ovf) AS mx FROM ov),
thr AS (
  SELECT lang, n_docs, target_share,
         CAST(FLOOR(ovf / mx.mx * 1152921504606846976e0) AS BIGINT) AS t60
  FROM ov, mx
),
acc AS (
  SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n_accepted
  FROM documents d JOIN thr ON thr.lang = d.lang
  WHERE CAST(CAST(concat('0x', substr(md5(
          CAST(d.doc_id AS VARCHAR) || ':{_RESAMPLE_SALT}'
        ), 1, 15)) AS BIGINT) AS BIGINT) < thr.t60
  GROUP BY d.lang
),
tot AS (SELECT CAST(SUM(n_accepted) AS BIGINT) AS ta FROM acc)
SELECT thr.lang, thr.n_docs,
       COALESCE(acc.n_accepted, CAST(0 AS BIGINT)) AS n_accepted,
       thr.target_share,
       CAST(COALESCE(acc.n_accepted, CAST(0 AS BIGINT)) AS DOUBLE)
         / CAST(tot.ta AS DOUBLE) AS achieved_share
FROM thr LEFT JOIN acc ON acc.lang = thr.lang, tot
ORDER BY thr.lang
"""


@register("corpus_resample_temperature", oracle=_RESAMPLE_ORACLE)
def corpus_resample_temperature(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Materialize the alpha=0.5 temperature mixture by deterministic
    hash acceptance: per-language acceptance probability
    ovf / max(ovf) frozen into a 60-bit integer threshold, each doc
    kept iff its salted 60-bit hash lands under its language's
    threshold. Per language: corpus size, accepted size, target vs
    achieved share — achieved tracks target to sampling noise, with
    the max-oversample language kept whole (downsample-only; rows
    are never replicated, so the result is the LARGEST corpus with
    the target composition).

    Deterministic end to end: thresholds are one shared IEEE tree
    over exact counts (floor(double * 2^60) is identical in both
    engines), the hash is the split-flag idiom, and acceptance is an
    integer compare — rerunnable, partition-independent, and
    hash-checked against DuckDB. One corpus scan for the counts, one
    for the acceptance (broadcast 5-row threshold dim); at 100 TB
    the acceptance pass is map-only and writes the curated corpus.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    ov = _mixture_ov(spark, sf_dir).select(
        "lang", "n_docs", "target_share", "ovf"
    )
    mx = ov.agg(F.max("ovf").alias("mx"))
    thr = ov.crossJoin(F.broadcast(mx)).select(
        "lang",
        "n_docs",
        "target_share",
        F.floor(F.col("ovf") / F.col("mx") * F.lit(float(1 << 60)))
        .cast("long")
        .alias("t60"),
    )
    u = (
        "cast(conv(substring(md5(concat(cast(doc_id as string),"
        f" ':{_RESAMPLE_SALT}')), 1, 15), 16, 10) as bigint)"
    )
    acc = (
        docs.join(F.broadcast(thr.select("lang", "t60")), "lang")
        .filter(F.expr(u) < F.col("t60"))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n_accepted"))
    )
    tot = acc.agg(F.sum("n_accepted").cast("long").alias("ta"))
    return (
        thr.join(F.broadcast(acc), "lang", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "n_docs",
            F.coalesce(F.col("n_accepted"), F.lit(0).cast("long")).alias(
                "n_accepted"
            ),
            "target_share",
            (
                F.coalesce(F.col("n_accepted"), F.lit(0).cast("long"))
                .cast("double")
                / F.col("ta").cast("double")
            ).alias("achieved_share"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------
# Source frequency cap — the per-domain document cap every web-scale
# curation pipeline applies (RefinedWeb §3.2-style: no single domain
# may contribute more than K documents) so one over-crawled site
# cannot dominate the training mixture. Survivors are chosen by the
# deterministic hash-rank order (the engine's sampling canon), NOT by
# arrival order, so the cap is rerunnable and partition-independent.
#
# Scale contract — the hot-source problem: a naive row_number()
# window partitioned by source sorts EVERY document of the hottest
# domain on one task (a common-crawl megadomain = hundreds of
# millions of rows through one reducer). Instead the top-K membership
# is decided by the two-level bucketed prefix (functions/ranks.py):
# per-(source, hash) counts fold into a bucket spine, and only hash
# values whose strictly-before weight is < K — at most K distinct
# values per source, since every value carries weight >= 1 — reach an
# exact window. The windowed volume is therefore <= K + collision
# surplus rows PER SOURCE regardless of corpus size, and the
# candidate/keeper frames (<= sources x K rows) ride broadcast joins.
# --------------------------------------------------------------------

_SOURCE_CAP = 10
# hv range is [0, 2^31); 2^24-wide buckets => 128-row spine per source.
_SOURCE_CAP_BUCKET = 1 << 24

_SOURCE_CAP_ORACLE = f"""
WITH r AS (
  SELECT source, n_chars,
         ROW_NUMBER() OVER (
           PARTITION BY source ORDER BY {_SAMPLE_HASH}, doc_id
         ) AS rk
  FROM documents
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN rk <= {_SOURCE_CAP} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_kept,
       CAST(SUM(n_chars) AS BIGINT) AS chars_total,
       CAST(SUM(CASE WHEN rk <= {_SOURCE_CAP} THEN n_chars ELSE 0 END)
            AS BIGINT) AS chars_kept
FROM r
GROUP BY source
ORDER BY source
"""


def source_cap_keepers(docs: DataFrame, cap: int) -> DataFrame:
    """Top-``cap`` (hv, doc_id)-ranked keepers per source via the
    two-level candidate prune: returns (source, doc_id) of survivors,
    bit-identical to a full per-source row_number window but with the
    exact window confined to <= cap distinct hash values per source.
    ``docs`` must carry (source, doc_id, hv). Adversarial-equivalence
    tested (hash collisions, hot source) in
    tests/test_determinism_properties.py."""
    from pyspark.sql import Window

    from workshop3_etl_spark.functions.ranks import two_level_prefix

    per_hv = docs.groupBy("source", "hv").agg(
        F.count(F.lit(1)).cast("long").alias("w")
    )
    pre = two_level_prefix(
        per_hv, "hv", "w", _SOURCE_CAP_BUCKET, partition_cols=("source",)
    )
    # Candidate hash values form a PREFIX of the per-source hv order:
    # lt < cap admits at most cap distinct values, and every row
    # ranked <= cap lives at one of them (its value's strictly-before
    # weight is <= rank-1 < cap). row_number over candidates == the
    # true rank.
    cand_hv = pre.filter(F.col("lt") < cap).select("source", "hv")
    cand = docs.join(F.broadcast(cand_hv), ["source", "hv"])
    w = Window.partitionBy("source").orderBy(
        F.col("hv").asc(), F.col("doc_id").asc()
    )
    return (
        cand.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= cap)
        .select("source", "doc_id")
    )


@register("corpus_source_cap_sample", oracle=_SOURCE_CAP_ORACLE)
def corpus_source_cap_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cap every source at K=10 documents (deterministic hash-rank
    survivors); per source: total docs, kept docs, total chars, kept
    chars — the domain-balance report a curation run publishes.

    The exact window runs only over the two-level-prefix candidate
    rows (<= K distinct hash values per source), so no task ever
    sorts a hot domain's full document list; see the module comment
    for the scale contract.
    """
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "source", "n_chars")
        .withColumn("hv", F.expr(_SAMPLE_HASH))
    )
    kept = source_cap_keepers(docs, _SOURCE_CAP).withColumn(
        "k", F.lit(1)
    )
    flagged = docs.join(F.broadcast(kept), ["source", "doc_id"], "left")
    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.coalesce(F.col("k"), F.lit(0)))
            .cast("long")
            .alias("n_kept"),
            F.sum("n_chars").cast("long").alias("chars_total"),
            F.sum(
                F.when(F.col("k").isNotNull(), F.col("n_chars")).otherwise(
                    F.lit(0)
                )
            )
            .cast("long")
            .alias("chars_kept"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------
# Epoch / repeat-factor planning — the data-constrained step AFTER
# mixture weights: the weights say what SHARE of the training budget
# each language should get; this plan says how many PASSES (epochs)
# over each language's available tokens that implies, and where the
# budget exceeds what repetition is worth, how many tokens are
# actually served. Repetition is capped at 4 epochs (past a handful
# of passes, repeated data stops teaching — the data-constrained
# scaling result), so effective_tokens = min(desired, 4 * available)
# and the shortfall is surfaced instead of silently over-repeating.
#
# Every column is one shared arithmetic tree: shares come from the
# SAME alpha=0.5 IEEE expression as corpus_mixture_weights_sqrt
# (_mixture_ov / _MIXTURE_CTE), available tokens from the SAME
# whitespace-token canon as text_token_stats, and the epoch count is
# exact bigint ceil-division — all hash-checkable.
# --------------------------------------------------------------------

_EPOCH_BUDGET_TOKENS = 2_000_000
_EPOCH_CAP = 4

# desired_tokens is computed ONCE in a `d` CTE and every downstream
# column references it — n_epochs/effective_tokens can never drift
# from desired_tokens (or from the Spark side, which mirrors the
# same two-step shape). The whitespace-token canon is the module's
# _TOKENS/_TOKENS_DUCK, shared with chunking/decontamination (and
# textually identical to text.py's). Zero availability (a language
# whose documents all tokenize empty) is guarded with NULLIF: the
# ceil-division yields NULL instead of a division error, and the
# epoch cap applies (desired > 0 with nothing available means every
# pass is a full repeat — the cap IS the answer).
_EPOCH_PLAN_ORACLE = _MIXTURE_CTE + f""",
avail AS (
  SELECT lang, CAST(SUM(len({_TOKENS_DUCK})) AS BIGINT) AS avail_tokens
  FROM documents GROUP BY lang
),
d AS (
  SELECT c.lang, a.avail_tokens,
         SQRT(CAST(c.n_docs AS DOUBLE)) / t.denom AS target_share,
         CAST(FLOOR(SQRT(CAST(c.n_docs AS DOUBLE)) / t.denom
                    * {_EPOCH_BUDGET_TOKENS}e0) AS BIGINT)
           AS desired_tokens
  FROM c JOIN avail a ON a.lang = c.lang, t
)
SELECT
  lang,
  avail_tokens,
  target_share,
  desired_tokens,
  CAST(LEAST(COALESCE(
    (desired_tokens + avail_tokens - 1) // NULLIF(avail_tokens, 0),
    {_EPOCH_CAP}), {_EPOCH_CAP}) AS BIGINT) AS n_epochs,
  CAST(LEAST(desired_tokens, {_EPOCH_CAP} * avail_tokens) AS BIGINT)
    AS effective_tokens
FROM d
ORDER BY lang
"""


@register("corpus_epoch_repeat_plan", oracle=_EPOCH_PLAN_ORACLE)
def corpus_epoch_repeat_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language epoch/repeat plan for a 2M-token training budget
    under the alpha=0.5 mixture: available tokens, target share,
    desired tokens, epochs needed (ceil, capped at 4), and the
    effective tokens actually served under the repetition cap.

    Two map-side-combinable aggregates over documents (doc counts for
    the shares, token counts for availability) joined on the 5-row
    language frame — at 100 TB the plan costs one corpus scan and
    the planning arithmetic is free.
    """
    avail = (
        load_table(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(
            F.sum(F.expr(f"size({_TOKENS})"))
            .cast("long")
            .alias("avail_tokens")
        )
    )
    ov = _mixture_ov(spark, sf_dir).select("lang", "target_share")
    # two-step select mirrors the oracle's `d` CTE: desired_tokens is
    # computed once and referenced by name downstream
    d = avail.join(F.broadcast(ov), "lang").select(
        "lang",
        "avail_tokens",
        "target_share",
        F.expr(
            f"cast(floor(target_share * {_EPOCH_BUDGET_TOKENS}e0)"
            " as bigint)"
        ).alias("desired_tokens"),
    )
    return d.select(
        "lang",
        "avail_tokens",
        "target_share",
        "desired_tokens",
        F.least(
            F.coalesce(
                F.expr(
                    "(desired_tokens + avail_tokens - 1)"
                    " div nullif(avail_tokens, 0)"
                ),
                F.lit(_EPOCH_CAP).cast("long"),
            ),
            F.lit(_EPOCH_CAP).cast("long"),
        )
        .cast("long")
        .alias("n_epochs"),
        F.least(
            F.col("desired_tokens"),
            F.lit(_EPOCH_CAP) * F.col("avail_tokens"),
        )
        .cast("long")
        .alias("effective_tokens"),
    ).orderBy("lang")


# --------------------------------------------------------------------
# Curation funnel v2: the round-9 stages COMPOSED into one pipeline —
# exact-substring removal (the cleaned corpus), then the CCNet-style
# bigram-LM quality gate trained and applied ON THE CLEANED TEXT
# (drop the per-lang 'tail' tercile), then exact dedup of the cleaned
# text (keep-first by md5 fingerprint). Output is the survival
# funnel: (stage_id, stage, n_docs, n_tokens) for raw ->
# substring_clean -> lm_keep -> dedup_final. Each stage reuses the
# standalone operator's EXACT semantics via the shared frame helpers
# (dedup.remove_substring_runs_frame, text.lm_perplexity_frame), so
# the composition is fully oracle-checked end to end. Documents whose
# cleaned text has < 2 tokens are unscorable and drop at the LM gate
# (nothing to model). Scale shape: the cleaned frame is persisted
# once and feeds every stage; the only new shuffles the composition
# adds over its parts are the fingerprint window and the four 1-row
# stage aggregates.
# --------------------------------------------------------------------

_CURATION_V2_ORACLE = None  # assembled below (needs dedup's CTE chains)


def _curation_v2_oracle() -> str:
    from workshop3_etl_spark.operators.dedup import (
        _SUBRUN_CLEAN_CTES,
        _SUBRUN_MERGED_CTES,
        _SUBRUN_RUNS_CTES,
    )

    return f"""
WITH {_SUBRUN_RUNS_CTES},
{_SUBRUN_MERGED_CTES},
{_SUBRUN_CLEAN_CTES},
clean_m AS MATERIALIZED (SELECT * FROM cleaned),
kept_m AS MATERIALIZED (SELECT * FROM kept),
ctoks AS MATERIALIZED (
  SELECT doc_id, tok,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS rn
  FROM kept_m
),
cbi AS MATERIALIZED (
  SELECT a.doc_id, c.lang, c.kept_tokens, a.tok AS w1, b.tok AS w2
  FROM ctoks a
  JOIN ctoks b ON a.doc_id = b.doc_id AND b.rn = a.rn + 1
  JOIN clean_m c ON c.doc_id = a.doc_id
),
tc2 AS MATERIALIZED (
  SELECT lang, w1, w2, CAST(COUNT(*) AS BIGINT) AS c2
  FROM cbi WHERE kept_tokens BETWEEN 20 AND 1000
  GROUP BY lang, w1, w2
),
tc1 AS (
  SELECT lang, w1, CAST(SUM(c2) AS BIGINT) AS c1
  FROM tc2 GROUP BY lang, w1
),
tvoc AS (
  SELECT c.lang, CAST(COUNT(DISTINCT k.tok) AS BIGINT) AS v
  FROM kept_m k JOIN clean_m c USING (doc_id)
  WHERE c.kept_tokens BETWEEN 20 AND 1000
  GROUP BY c.lang
),
bits AS (
  SELECT s.doc_id, s.lang,
         CAST(length(bin(
           (COALESCE(c1.c1, 0) + COALESCE(tvoc.v, 1))
             // (COALESCE(tc2.c2, 0) + 1)
         )) - 1 AS BIGINT) AS b
  FROM cbi s
  LEFT JOIN tc2 ON s.lang = tc2.lang AND s.w1 = tc2.w1
              AND s.w2 = tc2.w2
  LEFT JOIN tc1 c1 ON s.lang = c1.lang AND s.w1 = c1.w1
  LEFT JOIN tvoc ON s.lang = tvoc.lang
),
sc AS (
  SELECT doc_id, lang,
         CAST(FLOOR(CAST(16 * SUM(b) AS DOUBLE)
                    / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS m16
  FROM bits GROUP BY doc_id, lang
),
bu AS (
  SELECT doc_id,
         NTILE(3) OVER (PARTITION BY lang ORDER BY m16, doc_id) AS nt
  FROM sc
),
keepd AS MATERIALIZED (
  SELECT c.doc_id, c.kept_tokens, c.cleaned_text
  FROM clean_m c JOIN bu ON bu.doc_id = c.doc_id AND bu.nt <> 3
),
surv AS (
  SELECT doc_id, kept_tokens FROM (
    SELECT doc_id, kept_tokens,
           ROW_NUMBER() OVER (
             PARTITION BY md5(cleaned_text) ORDER BY doc_id) AS rn
    FROM keepd
  ) WHERE rn = 1
)
SELECT * FROM (
  SELECT 1 AS stage_id, 'raw' AS stage,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_tokens) AS BIGINT) AS n_tokens FROM clean_m
  UNION ALL
  SELECT 2, 'substring_clean', CAST(COUNT(*) AS BIGINT),
         CAST(SUM(kept_tokens) AS BIGINT) FROM clean_m
  UNION ALL
  SELECT 3, 'lm_keep', CAST(COUNT(*) AS BIGINT),
         CAST(SUM(kept_tokens) AS BIGINT) FROM keepd
  UNION ALL
  SELECT 4, 'dedup_final', CAST(COUNT(*) AS BIGINT),
         CAST(SUM(kept_tokens) AS BIGINT) FROM surv
) ORDER BY stage_id
"""


@register("corpus_e2e_curation_v2", oracle=_curation_v2_oracle())
def corpus_e2e_curation_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed round-9 curation funnel: substring-clean the
    corpus, LM-gate the cleaned text (drop the per-lang tail
    tercile), exact-dedup the survivors — (stage_id, stage, n_docs,
    n_tokens) per stage. See the section design comment for the
    composition contract and plan shape."""
    from functools import reduce

    from pyspark.sql import Window

    from workshop3_etl_spark.functions.cache import (
        materialize_and_release,
    )
    from workshop3_etl_spark.operators.dedup import (
        remove_substring_runs_frame,
    )
    from workshop3_etl_spark.operators.text import lm_perplexity_frame

    cleaned, seeds = remove_substring_runs_frame(
        load_table(spark, sf_dir, "documents")
    )
    cleaned = cleaned.persist()
    scored = lm_perplexity_frame(
        cleaned.selectExpr("doc_id", "lang", "cleaned_text as text")
    )
    keepd = cleaned.join(
        scored.filter(F.col("ppl_bucket") != "tail").select("doc_id"),
        "doc_id",
    ).persist()
    wfp = Window.partitionBy("fp").orderBy("doc_id")
    surv = (
        keepd.selectExpr(
            "doc_id", "kept_tokens", "md5(cleaned_text) as fp"
        )
        .withColumn("rn", F.row_number().over(wfp))
        .filter(F.col("rn") == 1)
    )

    def _leg(df, stage_id, stage, tok_col):
        return df.agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(tok_col).cast("long").alias("n_tokens"),
        ).selectExpr(
            f"cast({stage_id} as int) as stage_id",
            f"'{stage}' as stage",
            "n_docs",
            "n_tokens",
        )

    legs = [
        _leg(cleaned, 1, "raw", "n_tokens"),
        _leg(cleaned, 2, "substring_clean", "kept_tokens"),
        _leg(keepd, 3, "lm_keep", "kept_tokens"),
        _leg(surv, 4, "dedup_final", "kept_tokens"),
    ]
    result = reduce(DataFrame.unionAll, legs).orderBy("stage_id")
    return materialize_and_release(result, seeds, cleaned, keepd)


# --------------------------------------------------------------------
# DSIR-style data selection via importance resampling (Xie et al.
# 2023, "Data Selection for Language Models via Importance
# Resampling"): score every document by the log-likelihood ratio of a
# TARGET bag-of-hashed-unigrams model (here: the English in-gate
# slice — the quality domain) against a RAW model (the whole corpus),
# then select the top quartile. DSIR proper adds Gumbel noise before
# the top-k cut to sample rather than rank; the deterministic rank
# cut is the oracle-checkable equivalent (the noise would be a frozen
# per-doc literal column at production time, exactly like the 60-bit
# sampling thresholds used by corpus_source_cap_sample).
#
# Determinism: the ratio is computed in exact INTEGER surprisal bits
# via the floor-log2 identity (see text.py's LM section):
#
#   bits_model(w) = floor(log2((T + B) / (c_bucket(w) + 1)))
#                 = length(bin((T + B) div (c_bucket(w) + 1))) - 1
#   logratio_bits(doc) = sum_w bits_raw(w) - bits_target(w)
#
# with add-one smoothing over a FIXED 2^12 feature-hash space
# (bucket = first 3 hex digits of md5(token), the canon md5-prefix
# recipe), so T + B >= c + 1 always holds and the whole score is
# integer arithmetic, bit-identical across engines.
#
# Scale: both count tables are capped at B = 4096 rows regardless of
# corpus size, so the scoring joins are broadcast map-only work; the
# corpus pays one token-explode aggregate per model plus one for
# scoring. The global quartile NTILE is the cutoff step — at 100 TB
# the cutoff would be estimated once on a sample and applied as a
# literal, as with the CCNet buckets.
# --------------------------------------------------------------------

_DSIR_B = 4096  # feature-hash buckets (2^12)
_DSIR_GATE = "size(toks) between 20 and 1000 and lang = 'en'"
_DSIR_GATE_DUCK = "len(toks) BETWEEN 20 AND 1000 AND lang = 'en'"
_DSIR_BUCKET = (
    "cast(conv(substring(md5(cast(tok as binary)), 1, 3), 16, 10)"
    " as bigint)"
)
_DSIR_BUCKET_DUCK = "CAST('0x' || substr(md5(tok), 1, 3) AS BIGINT)"

def _dsir_ctes(p: str) -> str:
    """The DSIR scoring chain as prefixable CTEs, ending in
    ``{p}dsel`` (doc_id, lang, n_tokens, target_bits, raw_bits,
    logratio_bits, selected). One source of truth: the standalone
    oracle uses prefix '' and the composed curation/attribution
    oracles a collision-free prefix."""
    return f"""{p}tk AS (
  SELECT doc_id, lang, {_TOKENS_DUCK} AS toks FROM documents
),
{p}target_tok AS (
  SELECT {_DSIR_BUCKET_DUCK} AS bucket
  FROM (SELECT lang, unnest(toks) AS tok FROM {p}tk
        WHERE {_DSIR_GATE_DUCK})
),
{p}raw_tok AS (
  SELECT {_DSIR_BUCKET_DUCK} AS bucket
  FROM (SELECT unnest(toks) AS tok FROM {p}tk)
),
{p}tc AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS c
          FROM {p}target_tok GROUP BY bucket),
{p}rc AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS c
          FROM {p}raw_tok GROUP BY bucket),
{p}tt AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM {p}target_tok),
{p}rt AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM {p}raw_tok),
{p}score_tok AS (
  SELECT doc_id, {_DSIR_BUCKET_DUCK} AS bucket
  FROM (SELECT doc_id, unnest(toks) AS tok FROM {p}tk
        WHERE len(toks) >= 1)
),
{p}per_doc AS (
  SELECT s.doc_id,
         CAST(SUM(length(bin((rt.t + {_DSIR_B}) // (COALESCE(rc.c, 0) + 1))) - 1
                - (length(bin((tt.t + {_DSIR_B}) // (COALESCE(tc.c, 0) + 1))) - 1)
              ) AS BIGINT) AS logratio_bits,
         CAST(SUM(length(bin((tt.t + {_DSIR_B}) // (COALESCE(tc.c, 0) + 1))) - 1) AS BIGINT) AS target_bits,
         CAST(SUM(length(bin((rt.t + {_DSIR_B}) // (COALESCE(rc.c, 0) + 1))) - 1) AS BIGINT) AS raw_bits
  FROM {p}score_tok s
  LEFT JOIN {p}tc tc ON tc.bucket = s.bucket
  LEFT JOIN {p}rc rc ON rc.bucket = s.bucket
  CROSS JOIN {p}tt tt CROSS JOIN {p}rt rt
  GROUP BY s.doc_id
),
{p}dsel AS (
  SELECT p.doc_id, k.lang,
         CAST(len(k.toks) AS BIGINT) AS n_tokens,
         p.target_bits, p.raw_bits, p.logratio_bits,
         (NTILE(4) OVER (ORDER BY p.logratio_bits DESC, p.doc_id) = 1)
           AS selected
  FROM {p}per_doc p JOIN {p}tk k USING (doc_id)
)"""


_DSIR_ORACLE = f"""
WITH {_dsir_ctes('')}
SELECT doc_id, lang, n_tokens, target_bits, raw_bits,
       logratio_bits, selected
FROM dsel
ORDER BY doc_id
"""


def dsir_selection_frame(
    raw_docs: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """The DSIR scorer over any (doc_id, lang, text) frame: returns
    (scored, per_doc) where scored = (doc_id, lang, n_tokens,
    target_bits, raw_bits, logratio_bits, selected) unordered and
    per_doc is the persisted score frame the CALLER must release
    (the remove_substring_runs_frame contract). Shared by the
    registered query and the composed curation funnel / gate
    attribution (so the composition can never drift from the
    standalone operator's semantics)."""
    from pyspark.sql import Window

    docs = raw_docs.selectExpr(
        "doc_id", "lang", f"{_TOKENS} as toks"
    )
    bucket = _DSIR_BUCKET
    target_tok = docs.filter(
        F.expr(_DSIR_GATE)
    ).select(F.explode("toks").alias("tok")).selectExpr(
        f"{bucket} as bucket"
    )
    raw_tok = docs.select(F.explode("toks").alias("tok")).selectExpr(
        f"{bucket} as bucket"
    )
    tc = target_tok.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("tc")
    )
    rc = raw_tok.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("rc")
    )
    tt = target_tok.agg(F.count(F.lit(1)).cast("long").alias("tt"))
    rt = raw_tok.agg(F.count(F.lit(1)).cast("long").alias("rt"))
    t_bits = (
        f"cast(length(bin((tt + {_DSIR_B}) div (coalesce(tc, 0L) + 1L)))"
        " - 1 as bigint)"
    )
    r_bits = (
        f"cast(length(bin((rt + {_DSIR_B}) div (coalesce(rc, 0L) + 1L)))"
        " - 1 as bigint)"
    )
    per_doc = (
        docs.filter(F.expr("size(toks) >= 1"))
        .select("doc_id", F.explode("toks").alias("tok"))
        .selectExpr("doc_id", f"{bucket} as bucket")
        .join(F.broadcast(tc), "bucket", "left")
        .join(F.broadcast(rc), "bucket", "left")
        .crossJoin(F.broadcast(tt))
        .crossJoin(F.broadcast(rt))
        .selectExpr(
            "doc_id",
            f"{t_bits} as tb",
            f"{r_bits} as rb",
        )
        .groupBy("doc_id")
        .agg(
            F.expr("cast(sum(tb) as bigint)").alias("target_bits"),
            F.expr("cast(sum(rb) as bigint)").alias("raw_bits"),
            F.expr("cast(sum(rb - tb) as bigint)").alias(
                "logratio_bits"
            ),
        )
    )
    # Top-quartile cut WITHOUT a corpus-wide global window (ADVICE
    # r9: ntile(4) over an unpartitioned Window was a single-partition
    # pass over the whole corpus). selected == (global rank by
    # (logratio desc, doc_id asc) <= ceil(n/4)), derived instead from
    # the VALUE distribution: logratio_bits is an integer-bits score
    # with a tiny domain, so its count histogram is a broadcastable
    # frame; the cutoff value v* and the residual quota `need` come
    # from a prefix sum over that histogram, and the only remaining
    # unpartitioned window ranks doc_id inside the single boundary
    # VALUE slice (== v*), never the corpus.
    per_doc = per_doc.persist()
    total = per_doc.agg(F.count(F.lit(1)).cast("long").alias("n"))
    dist = per_doc.groupBy("logratio_bits").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    wv = (
        Window.orderBy(F.desc("logratio_bits"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cutoff = (
        dist.withColumn("cum", F.sum("cnt").over(wv))
        .crossJoin(F.broadcast(total))
        .selectExpr(
            "logratio_bits as v_star",
            "cum",
            "cnt",
            "cast((n + 3) div 4 as bigint) as k",
        )
        .filter("cum - cnt < k and cum >= k")
        .selectExpr("v_star", "cast(k - (cum - cnt) as bigint) as need")
    )
    wt = Window.orderBy(F.asc("doc_id"))
    tie = (
        per_doc.join(
            F.broadcast(cutoff),
            F.col("logratio_bits") == F.col("v_star"),
        )
        .withColumn("tie_rn", F.row_number().over(wt))
        .selectExpr("doc_id", "(tie_rn <= need) as sel_tie")
    )
    return (
        per_doc.join(
            docs.selectExpr(
                "doc_id", "lang", "cast(size(toks) as bigint) as n_tokens"
            ),
            "doc_id",
        )
        .crossJoin(F.broadcast(cutoff))
        .join(tie, "doc_id", "left")
        .withColumn(
            "selected",
            (F.col("logratio_bits") > F.col("v_star"))
            | F.coalesce(F.col("sel_tie"), F.lit(False)),
        )
        .select(
            "doc_id", "lang", "n_tokens", "target_bits", "raw_bits",
            "logratio_bits", "selected",
        )
    ), per_doc


@register("corpus_dsir_importance_weights", oracle=_DSIR_ORACLE)
def corpus_dsir_importance_weights(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DSIR data selection: per-document importance weight as the
    exact-integer-bits log-likelihood ratio of the hashed-unigram
    target model (English in-gate slice) vs the raw model (whole
    corpus), top quartile selected — (doc_id, lang, n_tokens,
    target_bits, raw_bits, logratio_bits, selected). See the section
    design comment for the floor-log2 identity and the broadcast
    4096-bucket scale shape."""
    from workshop3_etl_spark.functions.cache import (
        materialize_and_release,
    )

    scored, per_doc = dsir_selection_frame(
        load_table(spark, sf_dir, "documents")
    )
    return materialize_and_release(scored.orderBy("doc_id"), per_doc)


# --------------------------------------------------------------------
# Curation funnel v3 (VERDICT r9 #5): v2 plus the two round-9 quality
# gates, composed in the production order — DETECT substring runs on
# the full corpus, GATE on the raw text (length 20..1000, CCNet LM
# keep-bucket != 'tail', DSIR top importance quartile), APPLY the
# removal to gate survivors, exact-dedup the cleaned keepers, then
# PACK the final corpus into fixed-capacity training bins. Every
# stage reuses the standalone operator's exact semantics via the
# shared frame helpers (dedup.remove_substring_runs_frame,
# text.lm_perplexity_frame, dsir_selection_frame) and the packing
# recipe of corpus_pack_sequences, so the composition is fully
# oracle-checked end to end. The repetition gate deliberately stays
# a standalone audit (corpus_gate_attribution attributes it); v3's
# gate set is the funnel a pipeline owner would actually run before
# packing.
#
# Funnel rows (stage_id, stage, n_docs, n_tokens): raw -> gates
# (docs drop, tokens still raw) -> substring_clean (same docs,
# tokens shrink) -> dedup_final (docs drop) -> packed, where the
# LAST row counts BINS in n_docs (the packing unit) and the packed
# token total equals dedup_final's by construction (contiguous fill
# loses no tokens — the funnel makes that accounting visible).
#
# Scale shape: detection/removal and every gate are the standalone
# operators' plans; the composition adds one fingerprint window, the
# per-lang packing prefix window over the final survivors, and five
# 1-row stage aggregates.
# --------------------------------------------------------------------


def _curation_v3_oracle() -> str:
    from workshop3_etl_spark.operators.dedup import (
        _SUBRUN_CLEAN_CTES,
        _SUBRUN_MERGED_CTES,
        _SUBRUN_RUNS_CTES,
    )
    from workshop3_etl_spark.operators.text import _lm_bucket_ctes

    return f"""
WITH {_SUBRUN_RUNS_CTES},
{_SUBRUN_MERGED_CTES},
{_SUBRUN_CLEAN_CTES},
{_lm_bucket_ctes('lm_')},
{_dsir_ctes('ds_')},
gated AS MATERIALIZED (
  SELECT c.doc_id, c.lang, c.n_tokens, c.kept_tokens, c.cleaned_text
  FROM cleaned c
  JOIN lm_buckets b ON b.doc_id = c.doc_id AND b.ppl_bucket <> 'tail'
  JOIN ds_dsel d ON d.doc_id = c.doc_id AND d.selected
  WHERE c.n_tokens BETWEEN 20 AND 1000
),
surv AS MATERIALIZED (
  SELECT doc_id, lang, kept_tokens FROM (
    SELECT doc_id, lang, kept_tokens,
           ROW_NUMBER() OVER (
             PARTITION BY md5(cleaned_text) ORDER BY doc_id) AS rn
    FROM gated
  ) WHERE rn = 1
),
po AS (
  SELECT lang, kept_tokens,
         COALESCE(SUM(kept_tokens) OVER (
           PARTITION BY lang ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS start_off
  FROM surv
),
bins AS (
  SELECT lang, start_off // {_PACK_CAP} AS bin_id,
         CAST(SUM(kept_tokens) AS BIGINT) AS bt
  FROM po GROUP BY lang, start_off // {_PACK_CAP}
)
SELECT * FROM (
  SELECT 1 AS stage_id, 'raw' AS stage,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_tokens) AS BIGINT) AS n_tokens FROM cleaned
  UNION ALL
  SELECT 2, 'gates', CAST(COUNT(*) AS BIGINT),
         CAST(SUM(n_tokens) AS BIGINT) FROM gated
  UNION ALL
  SELECT 3, 'substring_clean', CAST(COUNT(*) AS BIGINT),
         CAST(SUM(kept_tokens) AS BIGINT) FROM gated
  UNION ALL
  SELECT 4, 'dedup_final', CAST(COUNT(*) AS BIGINT),
         CAST(SUM(kept_tokens) AS BIGINT) FROM surv
  UNION ALL
  SELECT 5, 'packed', CAST(COUNT(*) AS BIGINT),
         CAST(SUM(bt) AS BIGINT) FROM bins
) ORDER BY stage_id
"""


@register("corpus_e2e_curation_v3", oracle=_curation_v3_oracle())
def corpus_e2e_curation_v3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed round-10 curation funnel: detect substring runs
    corpus-wide, gate the raw text (length + LM keep-bucket + DSIR
    top quartile), apply the removal to survivors, exact-dedup the
    cleaned keepers, pack the final corpus into 2048-token bins —
    (stage_id, stage, n_docs, n_tokens) per stage, with the 'packed'
    row counting bins. See the section design comment for the
    composition contract and plan shape."""
    from functools import reduce

    from pyspark.sql import Window

    from workshop3_etl_spark.functions.cache import (
        materialize_and_release,
    )
    from workshop3_etl_spark.operators.dedup import (
        remove_substring_runs_frame,
    )
    from workshop3_etl_spark.operators.text import lm_perplexity_frame

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    cleaned, seeds = remove_substring_runs_frame(docs)
    cleaned = cleaned.persist()
    lmk = (
        lm_perplexity_frame(docs)
        .filter(F.col("ppl_bucket") != "tail")
        .select("doc_id")
    )
    ds_scored, ds_pd = dsir_selection_frame(docs)
    dsk = ds_scored.filter(F.col("selected")).select("doc_id")
    gated = (
        cleaned.filter(F.expr("n_tokens between 20 and 1000"))
        .join(lmk, "doc_id")
        .join(dsk, "doc_id")
        .persist()
    )
    wfp = Window.partitionBy("fp").orderBy("doc_id")
    surv = (
        gated.selectExpr(
            "doc_id", "lang", "kept_tokens",
            "md5(cleaned_text) as fp",
        )
        .withColumn("rn", F.row_number().over(wfp))
        .filter(F.col("rn") == 1)
        .persist()
    )
    wo = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    bins = (
        surv.select(
            "lang",
            "kept_tokens",
            F.coalesce(F.sum("kept_tokens").over(wo), F.lit(0)).alias(
                "start_off"
            ),
        )
        .groupBy(
            "lang", F.expr(f"start_off div {_PACK_CAP}").alias("bin_id")
        )
        .agg(F.sum("kept_tokens").cast("long").alias("bt"))
    )

    def _leg(df, stage_id, stage, tok_expr):
        return df.agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.expr(f"cast(sum({tok_expr}) as bigint)").alias(
                "n_tokens"
            ),
        ).selectExpr(
            f"cast({stage_id} as int) as stage_id",
            f"'{stage}' as stage",
            "n_docs",
            "n_tokens",
        )

    legs = [
        _leg(cleaned, 1, "raw", "n_tokens"),
        _leg(gated, 2, "gates", "n_tokens"),
        _leg(gated, 3, "substring_clean", "kept_tokens"),
        _leg(surv, 4, "dedup_final", "kept_tokens"),
        _leg(bins, 5, "packed", "bt"),
    ]
    result = reduce(DataFrame.unionAll, legs).orderBy("stage_id")
    return materialize_and_release(
        result, seeds, cleaned, gated, surv, ds_pd
    )


# --------------------------------------------------------------------
# Quality-gate ATTRIBUTION report: the four standalone filters
# (length gate, Gopher repetition rule, exact-dup keeper, CCNet LM
# tail bucket) run as one plan, and every document's drop reasons are
# cross-tabulated — the "WHY is my corpus shrinking" audit a pipeline
# owner reads before re-dialing any gate. n_flagged_alone is the
# actionable column: a gate that only ever flags docs other gates
# also flag is redundant; for the 'any' row it counts docs flagged by
# EXACTLY one gate (the docs whose fate a single-gate change can
# flip). Composes the engine's own frame helpers
# (text.lm_perplexity_frame, dedup.doc_fingerprints, the repetition
# expressions), so the report can never drift from the filters it
# audits. One persisted per-doc flag frame, five 1-row aggregates.
# --------------------------------------------------------------------

_GATE_GRAMS2_DUCK = (
    "list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])"
)


def _gate_attribution_oracle() -> str:
    from workshop3_etl_spark.operators.text import (
        _LM_TRAIN_GATE_DUCK,
    )

    g2 = _GATE_GRAMS2_DUCK
    return f"""
WITH {_dsir_ctes('ds_')},
tk AS MATERIALIZED (
  SELECT doc_id, lang, text, {_TOKENS_DUCK} AS t,
         {_TOKENS_DUCK} AS toks
  FROM documents
),
train_bi AS (
  SELECT lang, toks[i] AS w1, toks[i + 1] AS w2
  FROM tk, unnest(generate_series(1, len(toks) - 1)) AS u(i)
  WHERE {_LM_TRAIN_GATE_DUCK}
),
c2 AS MATERIALIZED (
  SELECT lang, w1, w2, CAST(COUNT(*) AS BIGINT) AS c2
  FROM train_bi GROUP BY lang, w1, w2
),
c1 AS MATERIALIZED (
  SELECT lang, w1, CAST(SUM(c2) AS BIGINT) AS c1 FROM c2
  GROUP BY lang, w1
),
voc AS MATERIALIZED (
  SELECT lang, CAST(COUNT(DISTINCT w) AS BIGINT) AS v
  FROM (SELECT lang, unnest(toks) AS w FROM tk
        WHERE {_LM_TRAIN_GATE_DUCK})
  GROUP BY lang
),
score_bi AS (
  SELECT t.doc_id, t.lang, t.toks[i] AS w1, t.toks[i + 1] AS w2
  FROM tk t, unnest(generate_series(1, len(toks) - 1)) AS u(i)
  WHERE len(t.toks) >= 2
),
per_doc AS MATERIALIZED (
  SELECT s.doc_id, s.lang,
         CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         CAST(SUM(length(bin(
           (COALESCE(c1.c1, 0) + COALESCE(voc.v, 1))
             // (COALESCE(c2.c2, 0) + 1))) - 1) AS BIGINT) AS doc_bits
  FROM score_bi s
  LEFT JOIN c2 ON s.lang = c2.lang AND s.w1 = c2.w1 AND s.w2 = c2.w2
  LEFT JOIN c1 ON s.lang = c1.lang AND s.w1 = c1.w1
  LEFT JOIN voc ON s.lang = voc.lang
  GROUP BY s.doc_id, s.lang
),
buckets AS MATERIALIZED (
  SELECT doc_id,
         CASE NTILE(3) OVER (
           PARTITION BY lang
           ORDER BY CAST(FLOOR(CAST(16 * doc_bits AS DOUBLE)
                               / CAST(n_bigrams AS DOUBLE)) AS BIGINT),
                    doc_id)
           WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail'
         END AS ppl_bucket
  FROM per_doc
),
fp AS (
  SELECT doc_id,
         md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
           AS fingerprint
  FROM tk
),
keepers AS MATERIALIZED (
  SELECT fingerprint, MIN(doc_id) AS keeper FROM fp GROUP BY fingerprint
),
rep AS MATERIALIZED (
  SELECT k.doc_id,
         CAST(len({g2}) - len(list_distinct({g2})) AS DOUBLE)
           / CAST(NULLIF(len({g2}), 0) AS DOUBLE) AS dup2,
         (SELECT CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE)
          FROM (SELECT COUNT(*) AS c
                FROM (SELECT unnest(k.t) AS tok) GROUP BY tok))
           AS maxtok
  FROM tk k
),
flags AS MATERIALIZED (
  SELECT k.doc_id,
         NOT (len(k.toks) BETWEEN 20 AND 1000) AS f_len,
         (COALESCE(r.dup2 > 0.2, FALSE)
          OR COALESCE(r.maxtok > 0.2, FALSE)) AS f_rep,
         (k.doc_id <> kp.keeper) AS f_dup,
         COALESCE(b.ppl_bucket = 'tail', FALSE) AS f_tail,
         COALESCE(NOT d.selected, TRUE) AS f_dsir
  FROM tk k
  JOIN fp ON fp.doc_id = k.doc_id
  JOIN keepers kp ON kp.fingerprint = fp.fingerprint
  LEFT JOIN rep r ON r.doc_id = k.doc_id
  LEFT JOIN buckets b ON b.doc_id = k.doc_id
  LEFT JOIN ds_dsel d ON d.doc_id = k.doc_id
),
wide AS MATERIALIZED (
  SELECT doc_id, f_len, f_rep, f_dup, f_tail, f_dsir,
         (CASE WHEN f_len THEN 1 ELSE 0 END
          + CASE WHEN f_rep THEN 1 ELSE 0 END
          + CASE WHEN f_dup THEN 1 ELSE 0 END
          + CASE WHEN f_tail THEN 1 ELSE 0 END
          + CASE WHEN f_dsir THEN 1 ELSE 0 END) AS n_gates
  FROM flags
)
SELECT * FROM (
SELECT 'any' AS gate,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN n_gates >= 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_flagged,
       CAST(SUM(CASE WHEN n_gates = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_flagged_alone,
       CAST(SUM(CASE WHEN n_gates >= 1 THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS frac_flagged
FROM wide
UNION ALL
SELECT 'dsir_out',
       CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CASE WHEN f_dsir THEN 1 ELSE 0 END) AS BIGINT),
       CAST(SUM(CASE WHEN f_dsir AND n_gates = 1 THEN 1 ELSE 0 END)
            AS BIGINT),
       CAST(SUM(CASE WHEN f_dsir THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE)
FROM wide
UNION ALL
SELECT 'exact_dup',
       CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CASE WHEN f_dup THEN 1 ELSE 0 END) AS BIGINT),
       CAST(SUM(CASE WHEN f_dup AND n_gates = 1 THEN 1 ELSE 0 END)
            AS BIGINT),
       CAST(SUM(CASE WHEN f_dup THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE)
FROM wide
UNION ALL
SELECT 'length',
       CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CASE WHEN f_len THEN 1 ELSE 0 END) AS BIGINT),
       CAST(SUM(CASE WHEN f_len AND n_gates = 1 THEN 1 ELSE 0 END)
            AS BIGINT),
       CAST(SUM(CASE WHEN f_len THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE)
FROM wide
UNION ALL
SELECT 'lm_tail',
       CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CASE WHEN f_tail THEN 1 ELSE 0 END) AS BIGINT),
       CAST(SUM(CASE WHEN f_tail AND n_gates = 1 THEN 1 ELSE 0 END)
            AS BIGINT),
       CAST(SUM(CASE WHEN f_tail THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE)
FROM wide
UNION ALL
SELECT 'repetition',
       CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CASE WHEN f_rep THEN 1 ELSE 0 END) AS BIGINT),
       CAST(SUM(CASE WHEN f_rep AND n_gates = 1 THEN 1 ELSE 0 END)
            AS BIGINT),
       CAST(SUM(CASE WHEN f_rep THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE)
FROM wide
) ORDER BY gate
"""


@register("corpus_gate_attribution", oracle=_gate_attribution_oracle())
def corpus_gate_attribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cross-tabulated drop-reason report for the five quality gates
    (length, repetition, exact-dup, LM tail, DSIR out-of-quartile):
    per gate (plus 'any'),
    (gate, n_docs, n_flagged, n_flagged_alone, frac_flagged). See the
    section design comment for why n_flagged_alone is the actionable
    column and how the report composes the filters' own frame
    helpers."""
    from functools import reduce

    from pyspark.sql import Window

    from workshop3_etl_spark.functions.cache import (
        materialize_and_release,
    )
    from workshop3_etl_spark.operators.dedup import doc_fingerprints
    from workshop3_etl_spark.operators.text import (
        _GRAMS2,
        lm_perplexity_frame,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    toks = docs.selectExpr("doc_id", f"{_TOKENS} as toks")
    rep = toks.selectExpr(
        "doc_id",
        f"cast(size({_GRAMS2}) - size(array_distinct({_GRAMS2}))"
        f" as double) / cast(nullif(size({_GRAMS2}), 0) as double)"
        " as dup2",
        "toks",
    )
    tokc = (
        toks.select("doc_id", F.explode("toks").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(
            (F.max("c").cast("double") / F.sum("c").cast("double"))
            .alias("maxtok")
        )
    )
    wk = Window.partitionBy("fingerprint")
    dup = (
        doc_fingerprints(docs)
        .withColumn("keeper", F.min("doc_id").over(wk))
        .selectExpr("doc_id", "doc_id <> keeper as f_dup")
    )
    lm = lm_perplexity_frame(docs).selectExpr(
        "doc_id", "ppl_bucket = 'tail' as f_tail"
    )
    # DSIR out-gate (r10): a doc is flagged when it does NOT make the
    # top importance quartile; unscorable empty docs have no DSIR row
    # and count as out (coalesce true), mirroring the oracle.
    ds_scored, ds_pd = dsir_selection_frame(docs)
    ds = ds_scored.selectExpr("doc_id", "not selected as f_dsir")
    flags = (
        toks.selectExpr(
            "doc_id", "not (size(toks) between 20 and 1000) as f_len"
        )
        .join(rep.select("doc_id", "dup2"), "doc_id", "left")
        .join(tokc, "doc_id", "left")
        .join(dup, "doc_id")
        .join(lm, "doc_id", "left")
        .join(ds, "doc_id", "left")
        .selectExpr(
            "doc_id",
            "f_len",
            "(coalesce(dup2 > 0.2, false)"
            " or coalesce(maxtok > 0.2, false)) as f_rep",
            "f_dup",
            "coalesce(f_tail, false) as f_tail",
            "coalesce(f_dsir, true) as f_dsir",
        )
        .selectExpr(
            "doc_id", "f_len", "f_rep", "f_dup", "f_tail", "f_dsir",
            "(case when f_len then 1 else 0 end"
            " + case when f_rep then 1 else 0 end"
            " + case when f_dup then 1 else 0 end"
            " + case when f_tail then 1 else 0 end"
            " + case when f_dsir then 1 else 0 end) as n_gates",
        )
        .persist()
    )
    flags.count()

    def leg(gate: str, cond: str) -> DataFrame:
        return flags.agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.expr(f"case when {cond} then 1 else 0 end"))
            .cast("long")
            .alias("n_flagged"),
            F.sum(
                F.expr(
                    f"case when ({cond}) and n_gates = 1"
                    " then 1 else 0 end"
                )
            )
            .cast("long")
            .alias("n_flagged_alone"),
        ).selectExpr(
            f"'{gate}' as gate",
            "n_docs",
            "n_flagged",
            "n_flagged_alone",
            "cast(n_flagged as double) / cast(n_docs as double)"
            " as frac_flagged",
        )

    legs = [
        leg("any", "n_gates >= 1"),
        leg("dsir_out", "f_dsir"),
        leg("exact_dup", "f_dup"),
        leg("length", "f_len"),
        leg("lm_tail", "f_tail"),
        leg("repetition", "f_rep"),
    ]
    result = reduce(DataFrame.unionByName, legs).orderBy("gate")
    return materialize_and_release(result, flags, ds_pd)


# --------------------------------------------------------------------
# N-gram novelty curve: how much NEW 3-gram vocabulary each
# successive corpus shard contributes — the diminishing-returns
# diagnostic behind "is more of this source still adding
# information?" decisions (data-accumulation curves in corpus
# scaling work). Shard = doc_id % 8 (engine-stable integer), shards
# "arrive" in id order; a gram type is NEW at shard s when s is the
# smallest shard containing it.
#
# Distributed shape: one explode to (shard, gram-md5) rows, ONE
# map-side-combinable groupBy(gram) -> MIN(shard) (vocabulary-sized
# output, the BPE pair-count class), then an 8-row novelty frame
# with a bounded cumulative window. 16-byte hashes shuffle, text
# never does. At 100 TB the gram->min aggregation is the one real
# shuffle and is exactly as wide as the distinct-gram vocabulary.
# --------------------------------------------------------------------

_NOVELTY_SHARDS = 8

_NOVELTY_GRAMS = (
    f"case when size({_TOKENS}) < 3 then array() else"
    f" transform(sequence(1, size({_TOKENS}) - 2),"
    f" i -> md5(cast(concat_ws(' ', slice({_TOKENS}, i, 3)) as binary)))"
    " end"
)
_NOVELTY_GRAMS_DUCK = (
    "CASE WHEN len(toks) < 3 THEN [] ELSE"
    " [md5(toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])"
    "  FOR i IN range(1, len(toks) - 1)] END"
)

_NOVELTY_ORACLE = f"""
WITH tk AS (
  SELECT doc_id % {_NOVELTY_SHARDS} AS shard,
         list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
),
grams AS (
  SELECT shard, unnest({_NOVELTY_GRAMS_DUCK}) AS g FROM tk
),
firsts AS (
  SELECT g, CAST(MIN(shard) AS BIGINT) AS first_shard
  FROM grams GROUP BY g
),
novel AS (
  SELECT first_shard AS shard,
         CAST(COUNT(*) AS BIGINT) AS n_new_gram_types
  FROM firsts GROUP BY first_shard
),
per_shard AS (
  SELECT shard,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(len({_NOVELTY_GRAMS_DUCK})) AS BIGINT)
           AS n_gram_instances
  FROM tk GROUP BY shard
)
SELECT p.shard, p.n_docs, p.n_gram_instances,
       COALESCE(n.n_new_gram_types, 0) AS n_new_gram_types,
       CAST(SUM(COALESCE(n.n_new_gram_types, 0)) OVER (
            ORDER BY p.shard
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS cum_gram_types,
       CAST(COALESCE(n.n_new_gram_types, 0) AS DOUBLE)
         / CAST(NULLIF(p.n_gram_instances, 0) AS DOUBLE)
         AS novelty_rate
FROM per_shard p LEFT JOIN novel n ON n.shard = p.shard
ORDER BY p.shard
"""


def assemble_novelty_curve(
    per_shard: DataFrame, novel: DataFrame
) -> DataFrame:
    """Shared curve assembler for the batch operator and the
    streaming refresh (one source of truth for the output contract):
    per_shard(shard, n_docs, n_gram_instances) LEFT JOIN
    novel(shard, n_new_gram_types) -> the six-column curve with the
    bounded cumulative window over the 8-row shard spine."""
    from pyspark.sql import Window

    w = Window.orderBy("shard").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        per_shard.join(F.broadcast(novel), "shard", "left")
        .select(
            "shard",
            "n_docs",
            "n_gram_instances",
            F.coalesce(F.col("n_new_gram_types"), F.lit(0).cast("long"))
            .alias("n_new_gram_types"),
        )
        .withColumn(
            "cum_gram_types",
            F.sum("n_new_gram_types").over(w).cast("long"),
        )
        .withColumn(
            "novelty_rate",
            F.col("n_new_gram_types").cast("double")
            / F.expr("cast(nullif(n_gram_instances, 0) as double)"),
        )
        .orderBy("shard")
    )


def _novelty_partials_arrow(docs: DataFrame) -> DataFrame:
    """One Arrow batch pass emitting the novelty partials (the
    streaming leg's exact merge laws, guide §2.3 + §4.2): per-batch
    per-gram rows (g, min shard in batch, 0, 0) — MIN is associative/
    commutative/idempotent, so pre-reducing inside the batch cannot
    change the global MIN — plus per-batch per-shard counter rows
    (NULL, shard, n_docs, n_inst) whose SUM over disjoint batches is
    exact. The former plan evaluated the interpreted 3-gram md5 HOF
    TWICE per document (once under the explode leg, once under
    ``size(...)`` on the counting leg — which needed only
    ``greatest(size(toks) - 2, 0)``); here the grams are md5'd once
    per instance at CPython speed (identical hex: hashlib.md5 over
    the same UTF-8 gram bytes as ``md5(cast(concat_ws(' ', slice(
    toks, i, 3)) as binary))``), and the gram shuffle shrinks from
    instance-sized to batch-vocabulary-sized."""
    from hashlib import md5 as _md5

    from workshop3_etl_spark.functions.arrow_kernel import map_batches

    shards = _NOVELTY_SHARDS

    def _partial_batches(b):
        gmin: dict[str, int] = {}
        ndocs = [0] * shards
        ninst = [0] * shards
        join = " ".join
        for d, t in zip(
            b.column("doc_id").to_pylist(), b.column("text").to_pylist()
        ):
            shard = d % shards
            toks = [x for x in t.split(" ") if x]
            n = len(toks)
            ndocs[shard] += 1
            if n < 3:
                continue
            ninst[shard] += n - 2
            for i in range(n - 2):
                g = _md5(join(toks[i : i + 3]).encode()).hexdigest()
                prev = gmin.get(g)
                if prev is None or shard < prev:
                    gmin[g] = shard
        # counter rows only for shards this batch saw: a shard
        # with no documents anywhere must stay absent from the
        # curve, exactly as the former groupBy produced
        seen = [s for s in range(shards) if ndocs[s] > 0]
        zeros = [0] * len(gmin)
        return [
            list(gmin.keys()) + [None] * len(seen),
            list(gmin.values()) + seen,
            zeros + [ndocs[s] for s in seen],
            zeros + [ninst[s] for s in seen],
        ]

    return map_batches(
        docs,
        ["doc_id", "text"],
        "g string, shard bigint, n_docs bigint, n_inst bigint",
        _partial_batches,
    )


@register("corpus_ngram_novelty_curve", oracle=_NOVELTY_ORACLE)
def corpus_ngram_novelty_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-shard 3-gram novelty: (shard, n_docs, n_gram_instances,
    n_new_gram_types, cum_gram_types, novelty_rate) where a gram is
    new at the smallest doc_id%8 shard containing it — the
    data-accumulation curve. One vocabulary-sized MIN(shard)
    aggregate; see the section comment for the scale shape.

    r11 session 2: both legs ride ONE Arrow partial pass
    (_novelty_partials_arrow) instead of two interpreted 3-gram md5
    HOF passes; the per-gram MIN and per-shard SUM merges reproduce
    the former aggregates exactly (MIN idempotent, SUMs over disjoint
    batches). scan_parallel keeps the map wide on the one-row-group
    layout (guide §2.5)."""
    from workshop3_etl_spark.functions.cache import (
        materialize_and_release,
    )

    part = _novelty_partials_arrow(
        scan_parallel(spark, sf_dir, "documents")
    ).persist()
    firsts = (
        part.filter(F.col("g").isNotNull())
        .groupBy("g")
        .agg(F.min("shard").cast("long").alias("first_shard"))
    )
    novel = firsts.groupBy(F.col("first_shard").alias("shard")).agg(
        F.count(F.lit(1)).cast("long").alias("n_new_gram_types")
    )
    per_shard = (
        part.filter(F.col("g").isNull())
        .groupBy("shard")
        .agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("n_inst").cast("long").alias("n_gram_instances"),
        )
    )
    return materialize_and_release(
        assemble_novelty_curve(per_shard, novel), part
    )


# --------------------------------------------------------------------
# Token-budget apportionment (Hamilton's largest-remainder method):
# given a fixed training-token budget, allocate it across sources in
# exact proportion to their token mass — the integer-exact step
# between the mixture-weight queries (which emit fractional shares)
# and a shard plan (which needs whole token counts that SUM TO THE
# BUDGET exactly). Hamilton: floor the exact quota B*t_i/T, then
# hand the leftover seats to the largest remainders (B*t_i mod T),
# ties broken by source name — every quantity an integer, no IEEE
# anywhere.
#
# Scale: the corpus pays one map-side-combinable (source -> n_docs,
# n_tokens) aggregate; the quota/remainder ranking rides the bounded
# source frame. B*t_i fits int64 while the corpus holds < ~9e6
# billion tokens / B — at B = 1e6 that is ~9e12 tokens (stated;
# widen to decimal beyond).
# --------------------------------------------------------------------

_BUDGET_TOKENS = 1_000_000

_APPORTION_ORACLE = f"""
WITH s AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(len({_TOKENS_DUCK})) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
t AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS tt,
             CAST(COUNT(*) AS BIGINT) AS n_sources FROM s),
q AS (
  SELECT s.source, s.n_docs, s.n_tokens,
         ({_BUDGET_TOKENS} * s.n_tokens) // t.tt AS floor_alloc,
         ({_BUDGET_TOKENS} * s.n_tokens) % t.tt AS remainder_num
  FROM s CROSS JOIN t
),
r AS (
  SELECT q.*,
         ROW_NUMBER() OVER (ORDER BY remainder_num DESC, source) AS rk,
         {_BUDGET_TOKENS} - SUM(floor_alloc) OVER () AS n_extra
  FROM q
)
SELECT source, n_docs, n_tokens, floor_alloc, remainder_num,
       CAST(CASE WHEN rk <= n_extra THEN 1 ELSE 0 END AS INT) AS extra,
       CAST(floor_alloc + CASE WHEN rk <= n_extra THEN 1 ELSE 0 END
            AS BIGINT) AS alloc_tokens
FROM r
ORDER BY source
"""


@register("corpus_token_budget_apportion", oracle=_APPORTION_ORACLE)
def corpus_token_budget_apportion(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Largest-remainder apportionment of a 1M-token training budget
    across sources by exact token mass: per source the floored quota,
    the remainder numerator, the extra-seat flag, and the final
    allocation (allocations sum to the budget exactly — pinned in
    pytest). One corpus aggregate + bounded-frame ranking; see the
    section comment."""
    from pyspark.sql import Window

    s = (
        load_table(spark, sf_dir, "documents")
        .selectExpr("source", f"size({_TOKENS}) as ntok")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("ntok").cast("long").alias("n_tokens"),
        )
    )
    t = s.agg(F.sum("n_tokens").cast("long").alias("tt"))
    q = s.crossJoin(F.broadcast(t)).selectExpr(
        "source",
        "n_docs",
        "n_tokens",
        f"({_BUDGET_TOKENS} * n_tokens) div tt as floor_alloc",
        f"({_BUDGET_TOKENS} * n_tokens) % tt as remainder_num",
    )
    wr = Window.orderBy(F.desc("remainder_num"), "source")
    wall = Window.partitionBy()
    return (
        q.withColumn("rk", F.row_number().over(wr))
        .withColumn(
            "n_extra",
            F.lit(_BUDGET_TOKENS) - F.sum("floor_alloc").over(wall),
        )
        .selectExpr(
            "source",
            "n_docs",
            "n_tokens",
            "floor_alloc",
            "remainder_num",
            "cast(case when rk <= n_extra then 1 else 0 end as int)"
            " as extra",
            "cast(floor_alloc + case when rk <= n_extra then 1 else 0 end"
            " as bigint) as alloc_tokens",
        )
        .orderBy("source")
    )
