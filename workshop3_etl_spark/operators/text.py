"""Text-analysis operators over the ``documents`` table.

These are the LLM-training-data-pipeline extensions (BASELINE.json
north star): token statistics, quality scoring, language-ID heuristics,
document fingerprinting, and n-gram profiling. The reference has no
text processing at all — its only string ops are display formatting
(SURVEY §2.8) — so this module is pure Spark-first design.

Everything is built from JVM-side built-in functions (split, filter,
transform, aggregate lambdas) — no Python UDFs in any hot path. Each
per-document computation is embarrassingly parallel (map-only, no
shuffle); global profiles aggregate counters, which are map-side
combinable. At 100 TB this pipeline is bounded by scan throughput,
which is the right bound.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from workshop3_etl_spark.plans.registry import register
from workshop3_etl_spark.sources.tables import load_table, scan_parallel

# Tokens: split on single spaces, drop empties. The same expression is
# used in every query so token semantics are uniform engine-wide.
_TOKENS = "filter(split(text, ' '), x -> x != '')"
_TOKENS_DUCK = "list_filter(string_split(text, ' '), x -> x <> '')"

_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")


# --------------------------------------------------------------------
# Token statistics.
# --------------------------------------------------------------------

_TOKEN_STATS_ORACLE = f"""
SELECT
  doc_id,
  CAST(length(text) AS BIGINT) AS n_chars,
  CAST(len({_TOKENS_DUCK}) AS BIGINT) AS n_tokens,
  CAST(len(list_distinct({_TOKENS_DUCK})) AS BIGINT) AS n_distinct_tokens,
  CAST(length(replace(text, ' ', '')) AS DOUBLE)
    / CAST(NULLIF(len({_TOKENS_DUCK}), 0) AS DOUBLE) AS avg_token_len
FROM documents
ORDER BY doc_id
"""


@register("text_token_stats", oracle=_TOKEN_STATS_ORACLE)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token counts + average token length (whitespace
    tokenizer — the BPE-ish regex variant is text_token_count_bpe)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars"),
        F.expr(f"size({_TOKENS})").cast("long").alias("n_tokens"),
        F.expr(f"size(array_distinct({_TOKENS}))").cast("long")
        .alias("n_distinct_tokens"),
        (
            F.length(F.regexp_replace("text", " ", "")).cast("double")
            / F.expr(f"nullif(size({_TOKENS}), 0)").cast("double")
        ).alias("avg_token_len"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------
# Quality scoring (length / punctuation / stopword-ratio features —
# the standard pretraining-corpus quality heuristics).
# --------------------------------------------------------------------

_IN_LIST = ", ".join(f"'{w}'" for w in _STOPWORDS)

_QUALITY_ORACLE = f"""
SELECT
  doc_id,
  CAST(len({_TOKENS_DUCK}) AS BIGINT) AS n_tokens,
  CAST(len(list_filter({_TOKENS_DUCK}, x -> x IN ({_IN_LIST}))) AS DOUBLE)
    / CAST(NULLIF(len({_TOKENS_DUCK}), 0) AS DOUBLE) AS stopword_ratio,
  CAST(len(list_distinct({_TOKENS_DUCK})) AS DOUBLE)
    / CAST(NULLIF(len({_TOKENS_DUCK}), 0) AS DOUBLE) AS distinct_ratio,
  CASE WHEN len({_TOKENS_DUCK}) BETWEEN 20 AND 1000 THEN 1.0 ELSE 0.0 END
    * (0.5 + 0.5 * (CAST(len(list_distinct({_TOKENS_DUCK})) AS DOUBLE)
                    / CAST(NULLIF(len({_TOKENS_DUCK}), 0) AS DOUBLE)))
    AS quality_score
FROM documents
ORDER BY doc_id
"""


@register("text_quality_score", oracle=_QUALITY_ORACLE)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic document quality: length gate × lexical diversity,
    with stopword ratio as a side feature."""
    docs = load_table(spark, sf_dir, "documents")
    n_tokens = F.expr(f"size({_TOKENS})")
    n_tokens_nz = F.expr(f"nullif(size({_TOKENS}), 0)")
    n_distinct = F.expr(f"size(array_distinct({_TOKENS}))")
    stop_arr = "array(" + ", ".join(f"'{w}'" for w in _STOPWORDS) + ")"
    n_stop = F.expr(f"size(filter({_TOKENS}, x -> array_contains({stop_arr}, x)))")
    distinct_ratio = n_distinct.cast("double") / n_tokens_nz.cast("double")
    length_gate = F.when(n_tokens.between(20, 1000), 1.0).otherwise(0.0)
    return docs.select(
        "doc_id",
        n_tokens.cast("long").alias("n_tokens"),
        (n_stop.cast("double") / n_tokens_nz.cast("double")).alias("stopword_ratio"),
        distinct_ratio.alias("distinct_ratio"),
        (length_gate * (F.lit(0.5) + F.lit(0.5) * distinct_ratio))
        .alias("quality_score"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------
# Language ID (marker-token heuristic). The docs' text is synthetic,
# so predictions mostly collapse to the fallback — the *operator*
# (argmax over per-language marker hits with deterministic
# tie-breaking) is what's being verified.
# --------------------------------------------------------------------

_LANG_MARKERS = {
    "en": ("the", "a", "is", "and"),
    "es": ("el", "la", "de", "que"),
    "de": ("der", "die", "und", "das"),
    "fr": ("le", "la", "et", "les"),
}


def _lang_oracle() -> str:
    score_exprs = []
    for lang, markers in _LANG_MARKERS.items():
        inl = ", ".join(f"'{m}'" for m in markers)
        score_exprs.append(
            f"len(list_filter({_TOKENS_DUCK}, x -> x IN ({inl}))) AS score_{lang}"
        )
    scores = ",\n  ".join(score_exprs)
    return f"""
WITH scored AS (
  SELECT doc_id, lang,
  {scores}
  FROM documents
)
SELECT
  lang,
  CASE
    WHEN score_en >= score_es AND score_en >= score_de AND score_en >= score_fr
         AND score_en > 0 THEN 'en'
    WHEN score_es >= score_de AND score_es >= score_fr AND score_es > 0 THEN 'es'
    WHEN score_de >= score_fr AND score_de > 0 THEN 'de'
    WHEN score_fr > 0 THEN 'fr'
    ELSE 'unknown'
  END AS predicted_lang,
  CAST(COUNT(*) AS BIGINT) AS n_docs
FROM scored
GROUP BY 1, 2
ORDER BY lang, predicted_lang
"""


@register("text_lang_id_confusion", oracle=_lang_oracle())
def text_lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion counts of labeled vs heuristically-predicted language."""
    docs = load_table(spark, sf_dir, "documents")
    scored = docs
    for lang, markers in _LANG_MARKERS.items():
        arr = "array(" + ", ".join(f"'{m}'" for m in markers) + ")"
        scored = scored.withColumn(
            f"score_{lang}",
            F.expr(f"size(filter({_TOKENS}, x -> array_contains({arr}, x)))"),
        )
    s = {lang: F.col(f"score_{lang}") for lang in _LANG_MARKERS}
    predicted = (
        F.when(
            (s["en"] >= s["es"]) & (s["en"] >= s["de"]) & (s["en"] >= s["fr"])
            & (s["en"] > 0),
            "en",
        )
        .when((s["es"] >= s["de"]) & (s["es"] >= s["fr"]) & (s["es"] > 0), "es")
        .when((s["de"] >= s["fr"]) & (s["de"] > 0), "de")
        .when(s["fr"] > 0, "fr")
        .otherwise("unknown")
    )
    return (
        scored.groupBy("lang", predicted.alias("predicted_lang"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("lang", "predicted_lang")
    )


# --------------------------------------------------------------------
# Document fingerprinting (md5 of normalized text — the portable
# exact-dup fingerprint; dedup.py builds on this).
# --------------------------------------------------------------------

_FINGERPRINT_ORACLE = """
SELECT
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(COUNT(DISTINCT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))))
       AS BIGINT) AS n_distinct_fingerprints,
  CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_distinct_raw
FROM documents
"""


@register("text_fingerprint_cardinality", oracle=_FINGERPRINT_ORACLE)
def text_fingerprint_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus cardinality under raw vs normalized md5 fingerprints."""
    docs = load_table(spark, sf_dir, "documents")
    normalized = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    return docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(F.md5(normalized.cast("binary")))
        .alias("n_distinct_fingerprints"),
        F.countDistinct(F.md5(F.col("text").cast("binary"))).alias("n_distinct_raw"),
    )


# --------------------------------------------------------------------
# Global n-gram (token) frequency profile — top-k with deterministic
# tie-break.
# --------------------------------------------------------------------

_TOP_TOKENS_ORACLE = f"""
SELECT token, CAST(COUNT(*) AS BIGINT) AS n_occurrences
FROM (SELECT unnest({_TOKENS_DUCK}) AS token FROM documents)
GROUP BY token
ORDER BY n_occurrences DESC, token
LIMIT 20
"""


@register("text_top_tokens", oracle=_TOP_TOKENS_ORACLE)
def text_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 most frequent tokens (explode → count → top-k)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.expr(_TOKENS)).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), F.asc("token"))
        .limit(20)
    )


# --------------------------------------------------------------------
# BPE-ish token counting (regex word/number/punctuation classes —
# the cheap stand-in for a real tokenizer's pre-tokenization).
# --------------------------------------------------------------------

_BPE_ORACLE = """
SELECT
  doc_id,
  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT)
    AS n_bpe_pieces,
  CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_number_pieces
FROM documents
ORDER BY doc_id
"""


@register("text_token_count_bpe", oracle=_BPE_ORACLE)
def text_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-tokenizer piece counts via regex classes (letters / digits /
    other) — approximates BPE pre-splitting without a vocab."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.expr(r"size(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0))")
        .cast("long")
        .alias("n_bpe_pieces"),
        F.expr(r"size(regexp_extract_all(text, '[0-9]+', 0))")
        .cast("long")
        .alias("n_number_pieces"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------
# TF-IDF: top term per language by corpus-weighted importance.
# --------------------------------------------------------------------

_TFIDF_ORACLE = f"""
WITH doc_tokens AS (
  SELECT doc_id, lang, unnest(list_distinct({_TOKENS_DUCK})) AS token
  FROM documents
),
n_docs AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
df AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS doc_freq
  FROM doc_tokens GROUP BY token
),
tf AS (
  SELECT lang, token, CAST(COUNT(*) AS BIGINT) AS lang_tf
  FROM doc_tokens GROUP BY lang, token
),
scored AS (
  SELECT
    tf.lang,
    tf.token,
    tf.lang_tf,
    df.doc_freq,
    CAST(tf.lang_tf AS DOUBLE) * ln(n_docs.n / CAST(df.doc_freq AS DOUBLE))
      AS tfidf
  FROM tf, df, n_docs
  WHERE tf.token = df.token
),
ranked AS (
  SELECT lang, token, lang_tf, doc_freq, tfidf,
         ROW_NUMBER() OVER (
           PARTITION BY lang ORDER BY tfidf DESC, token
         ) AS rnk
  FROM scored
)
SELECT lang, CAST(rnk AS INT) AS rnk, token, lang_tf, doc_freq
FROM ranked WHERE rnk <= 5
ORDER BY lang, rnk
"""


@register("text_tfidf_top_terms_per_lang", oracle=_TFIDF_ORACLE)
def text_tfidf_top_terms_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 TF-IDF terms per language.

    Shape at scale: one explode of distinct tokens per doc, ONE
    document-frequency aggregate (broadcast back — vocabulary is
    small relative to the corpus), one (lang, token) aggregate, then
    a per-lang ranking window. The tfidf value itself is excluded
    from the output (ln() is not guaranteed bit-identical across
    libm implementations); ranks + integer stats are.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    doc_tokens = docs.select(
        "doc_id", "lang",
        F.explode(F.expr(f"array_distinct({_TOKENS})")).alias("token"),
    )
    n_docs = float(docs.count())
    df_ = doc_tokens.groupBy("token").agg(F.count(F.lit(1)).alias("doc_freq"))
    tf = doc_tokens.groupBy("lang", "token").agg(
        F.count(F.lit(1)).alias("lang_tf")
    )
    scored = tf.join(F.broadcast(df_), "token").select(
        "lang",
        "token",
        "lang_tf",
        "doc_freq",
        (
            F.col("lang_tf").cast("double")
            * F.log(F.lit(n_docs) / F.col("doc_freq").cast("double"))
        ).alias("tfidf"),
    )
    w = Window.partitionBy("lang").orderBy(F.desc("tfidf"), F.asc("token"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("lang", "rnk", "token", "lang_tf", "doc_freq")
        .orderBy("lang", "rnk")
    )


# --------------------------------------------------------------------
# Repetition filter (Gopher-style quality rule): documents dominated
# by repeated n-grams or a single token are low-quality training data.
# --------------------------------------------------------------------

_REPETITION_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, {_TOKENS_DUCK} AS t FROM documents
),
gram_stats AS (
  SELECT doc_id,
    CAST(len(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1]))
      AS BIGINT) AS n_2grams,
    CAST(len(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1]))
       - len(list_distinct(
           list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])))
      AS DOUBLE)
      / CAST(NULLIF(len(list_transform(range(1, len(t)),
                        i -> t[i] || ' ' || t[i+1])), 0) AS DOUBLE)
      AS dup_2gram_ratio
  FROM toks
),
tok_counts AS (
  SELECT doc_id, tok, COUNT(*) AS c
  FROM (SELECT doc_id, unnest(t) AS tok FROM toks)
  GROUP BY doc_id, tok
),
tok_ratio AS (
  SELECT doc_id,
    CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS max_token_ratio
  FROM tok_counts GROUP BY doc_id
)
SELECT g.doc_id, g.n_2grams, g.dup_2gram_ratio, r.max_token_ratio,
  CAST(CASE WHEN COALESCE(g.dup_2gram_ratio > 0.2, FALSE)
              OR COALESCE(r.max_token_ratio > 0.2, FALSE)
       THEN 1 ELSE 0 END AS INT) AS is_repetitive
FROM gram_stats g LEFT JOIN tok_ratio r ON g.doc_id = r.doc_id
ORDER BY g.doc_id
"""

# Spark-side 2-gram expression. element_at is 1-indexed (matching
# DuckDB's t[i]); the size<2 guard matters because Spark's
# sequence(1, 0) yields a DESCENDING [1, 0], not an empty array.
_GRAMS2 = (
    "case when size(toks) < 2 then array()"
    " else transform(sequence(1, size(toks) - 1),"
    " i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1))) end"
)


@register("text_repetition_filter", oracle=_REPETITION_ORACLE)
def text_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality rule per document: fraction of
    duplicate word 2-grams + highest single-token frequency share;
    flags documents where either exceeds 0.2.

    Shape at scale: the 2-gram stats are pure per-row expression work
    (map-only); the token-share leg explodes tokens and aggregates
    twice keyed by doc_id — both aggregations are map-side combinable
    and the join back is doc_id-to-doc_id (co-partitioned by AQE).
    Integer-count ratios are single double divisions, so both engines
    produce bit-identical doubles.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.expr(_TOKENS).alias("toks"))
    gram_stats = toks.select(
        "doc_id",
        F.expr(f"size({_GRAMS2})").cast("long").alias("n_2grams"),
        (
            F.expr(f"cast(size({_GRAMS2}) - size(array_distinct({_GRAMS2}))"
                   f" as double)")
            / F.expr(f"cast(nullif(size({_GRAMS2}), 0) as double)")
        ).alias("dup_2gram_ratio"),
    )
    tok_counts = (
        toks.select("doc_id", F.explode("toks").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tok_ratio = tok_counts.groupBy("doc_id").agg(
        (F.max("c").cast("double") / F.sum("c").cast("double"))
        .alias("max_token_ratio")
    )
    return (
        gram_stats.join(tok_ratio, "doc_id", "left")
        .select(
            "doc_id",
            "n_2grams",
            "dup_2gram_ratio",
            "max_token_ratio",
            F.when(
                F.coalesce(F.col("dup_2gram_ratio") > 0.2, F.lit(False))
                | F.coalesce(F.col("max_token_ratio") > 0.2, F.lit(False)),
                1,
            )
            .otherwise(0)
            .cast("int")
            .alias("is_repetitive"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------
# Inverted index (search-engine posting lists): term -> document
# frequency, collection frequency, and the sorted posting list
# itself. The postings are surfaced as a comma-joined string so both
# engines stringify the array identically for the value hash.
# --------------------------------------------------------------------

_INVERTED_ORACLE = f"""
WITH pos AS (
  SELECT doc_id, unnest({_TOKENS_DUCK}) AS w FROM documents
),
agg AS (
  SELECT w AS term,
         CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS doc_freq,
         CAST(COUNT(*) AS BIGINT) AS coll_freq,
         array_to_string(list_sort(list(DISTINCT doc_id)), ',') AS postings
  FROM pos GROUP BY w
)
SELECT term, doc_freq, coll_freq, postings
FROM agg
ORDER BY doc_freq DESC, term
LIMIT 50
"""


@register("search_inverted_index_postings", oracle=_INVERTED_ORACLE)
def search_inverted_index_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 terms of an inverted index: document frequency,
    collection frequency, sorted posting list per term.

    One explode + one groupBy on the term — the index build IS a
    distributive aggregate (collect_set is bounded by doc_freq; at
    corpus scale the posting list column would be bucketed by term
    and stored, not returned — the LIMIT here is the query surface).
    """
    pos = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.explode(F.expr(_TOKENS)).alias("w")
    )
    return (
        pos.groupBy(F.col("w").alias("term"))
        .agg(
            F.countDistinct("doc_id").cast("long").alias("doc_freq"),
            F.count(F.lit(1)).cast("long").alias("coll_freq"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_set("doc_id")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("postings"),
        )
        .orderBy(F.desc("doc_freq"), "term")
        .limit(50)
    )


# --------------------------------------------------------------------
# BPE vocabulary induction kernel: the first-merge candidate table.
# A real BPE trainer repeats (count adjacent pairs -> merge the top
# pair) until the vocab budget is hit; the scalable kernel is the
# pair-counting pass, which at 100 TB must run as: corpus -> token
# frequencies (one shuffle, vocab-sized output), then pair expansion
# over the VOCAB ONLY (each distinct word contributes its pairs once,
# weighted by its count) — never a per-occurrence character explode
# over the corpus. Reference parity: the reference has no tokenizer
# training; this extends text_token_count_bpe's pre-tokenization
# toward the training side.
# --------------------------------------------------------------------

_MERGE_CANDIDATES_ORACLE = f"""
WITH vocab AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS n_occ
  FROM (
    SELECT unnest({_TOKENS_DUCK}) AS token FROM documents
  )
  GROUP BY token
),
pairs AS (
  SELECT token, n_occ,
         unnest([substring(token, i, 2) FOR i IN range(1, length(token))])
           AS pair
  FROM vocab
  WHERE length(token) >= 2
)
SELECT pair,
       CAST(SUM(n_occ) AS BIGINT) AS pair_count,
       CAST(COUNT(DISTINCT token) AS BIGINT) AS n_distinct_words
FROM pairs
GROUP BY pair
ORDER BY pair_count DESC, pair
LIMIT 20
"""


@register("text_bpe_merge_candidates", oracle=_MERGE_CANDIDATES_ORACLE)
def text_bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 adjacent character pairs across the corpus, weighted by
    word frequency — the first BPE merge's candidate table. Pair
    expansion runs over the vocab frame (distinct words), not the
    corpus: the corpus pays exactly one token-count shuffle.

    Guard: sequence(1, length-1) on a 1-char token would produce a
    DESCENDING sequence in Spark ([1, 0]) and junk pairs — hence the
    explicit length >= 2 filter in both engines.
    """
    docs = load_table(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(F.expr(_TOKENS)).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_occ"))
    )
    pairs = (
        vocab.filter(F.length("token") >= 2)
        .select(
            "token",
            "n_occ",
            F.explode(
                F.expr(
                    "transform(sequence(1, length(token) - 1),"
                    " i -> substring(token, i, 2))"
                )
            ).alias("pair"),
        )
    )
    return (
        pairs.groupBy("pair")
        .agg(
            F.sum("n_occ").cast("long").alias("pair_count"),
            F.countDistinct("token").cast("long").alias("n_distinct_words"),
        )
        .orderBy(F.desc("pair_count"), F.asc("pair"))
        .limit(20)
    )


# --------------------------------------------------------------------
# CCNet-style n-gram LM quality filter: train a bigram language model
# on a high-quality slice of the corpus, score every document by its
# model surprisal, and bucket into head/middle/tail (keep / review /
# drop) per language — the standard corpus-quality gate (Wenzek et
# al. 2020 "CCNet", which buckets Common Crawl by Wikipedia-LM
# perplexity).
#
# Determinism design: floating-point log-probabilities would make the
# cross-engine hash compare depend on libm; instead every bigram's
# surprisal is the exact INTEGER bit count
#
#   bits(w1 w2) = floor(log2((C1 + V) / (C2 + 1)))
#               = length(bin((C1 + V) div (C2 + 1))) - 1
#
# i.e. floor-log2 of the reciprocal add-one-smoothed conditional
# P(w2 | w1) = (C2 + 1) / (C1 + V). The identity
# floor(log2(x / y)) == floor(log2(x div y)) holds exactly for
# x >= y >= 1 (q = x div y <= x/y < q + 1 and q+1 <= 2^(floor(log2 q)+1)),
# and C1 + V >= C2 + 1 always (C2 <= C1, V >= 1) — so the whole score
# is integer arithmetic, bit-identical across engines, and the
# rounding loss (< 1 bit per bigram) is noise at the bucketing
# granularity the filter exists for.
#
# Scale: training is one (lang, w1, w2) map-side-combinable count
# over the slice (plus its (lang, w1) rollup and a per-lang distinct
# for V); scoring joins each doc's bigrams against the count frames
# on their natural keys and reduces per doc. The tercile NTILE is the
# CCNet cutoff step — at 100 TB the cutoffs would be computed once on
# a sample and applied as literals; here the exact per-lang NTILE is
# the oracle-checkable equivalent.
# --------------------------------------------------------------------

_LM_TRAIN_GATE = "size(toks) between 20 and 1000"  # the quality slice
_LM_TRAIN_GATE_DUCK = "len(toks) BETWEEN 20 AND 1000"
_LM_BIGRAMS = (
    "transform(sequence(1, size(toks) - 1),"
    " i -> struct(element_at(toks, i) as w1,"
    " element_at(toks, i + 1) as w2))"
)

def _lm_bucket_ctes(p: str) -> str:
    """The raw-text CCNet bigram-LM chain as prefixable CTEs, ending
    in ``{p}scored`` (doc_id, lang, n_bigrams, doc_bits,
    mean_bits_x16) and ``{p}buckets`` (doc_id, ppl_bucket). One
    source of truth: the standalone oracle uses prefix '' and the
    composed curation/attribution oracles a collision-free prefix."""
    return f"""{p}tk AS (
  SELECT doc_id, lang, {_TOKENS_DUCK} AS toks FROM documents
),
{p}train_bi AS (
  SELECT lang, toks[i] AS w1, toks[i + 1] AS w2
  FROM {p}tk, unnest(generate_series(1, len(toks) - 1)) AS u(i)
  WHERE {_LM_TRAIN_GATE_DUCK}
),
{p}c2 AS (
  SELECT lang, w1, w2, CAST(COUNT(*) AS BIGINT) AS c2
  FROM {p}train_bi GROUP BY lang, w1, w2
),
{p}c1 AS (
  SELECT lang, w1, CAST(SUM(c2) AS BIGINT) AS c1
  FROM {p}c2 GROUP BY lang, w1
),
{p}voc AS (
  SELECT lang, CAST(COUNT(DISTINCT w) AS BIGINT) AS v
  FROM (
    SELECT lang, unnest(toks) AS w FROM {p}tk
    WHERE {_LM_TRAIN_GATE_DUCK}
  ) GROUP BY lang
),
{p}score_bi AS (
  SELECT t.doc_id, t.lang, t.toks[i] AS w1, t.toks[i + 1] AS w2
  FROM {p}tk t, unnest(generate_series(1, len(toks) - 1)) AS u(i)
  WHERE len(t.toks) >= 2
),
{p}bits AS (
  SELECT s.doc_id, s.lang,
         CAST(length(bin(
           (COALESCE(c1.c1, 0) + COALESCE(voc.v, 1))
             // (COALESCE(c2.c2, 0) + 1)
         )) - 1 AS BIGINT) AS b
  FROM {p}score_bi s
  LEFT JOIN {p}c2 c2 ON s.lang = c2.lang AND s.w1 = c2.w1
                    AND s.w2 = c2.w2
  LEFT JOIN {p}c1 c1 ON s.lang = c1.lang AND s.w1 = c1.w1
  LEFT JOIN {p}voc voc ON s.lang = voc.lang
),
{p}per_doc AS (
  SELECT doc_id, lang,
         CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         CAST(SUM(b) AS BIGINT) AS doc_bits
  FROM {p}bits GROUP BY doc_id, lang
),
{p}scored AS (
  SELECT doc_id, lang, n_bigrams, doc_bits,
         CAST(FLOOR(CAST(16 * doc_bits AS DOUBLE)
                    / CAST(n_bigrams AS DOUBLE)) AS BIGINT)
           AS mean_bits_x16
  FROM {p}per_doc
),
{p}buckets AS (
  SELECT doc_id, lang, n_bigrams, doc_bits, mean_bits_x16,
         CASE NTILE(3) OVER (
           PARTITION BY lang ORDER BY mean_bits_x16, doc_id)
           WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail'
         END AS ppl_bucket
  FROM {p}scored
)"""


_LM_PPL_ORACLE = f"""
WITH {_lm_bucket_ctes('')}
SELECT doc_id, lang, n_bigrams, doc_bits, mean_bits_x16, ppl_bucket
FROM buckets
ORDER BY doc_id
"""


def lm_perplexity_frame(docs: DataFrame) -> DataFrame:
    """The CCNet filter over any (doc_id, lang, text) frame: train the
    per-lang add-one bigram LM on the length-gated slice of THESE
    docs, score every doc with >= 2 tokens by exact integer surprisal
    bits, bucket head/middle/tail per lang. Shared by the registered
    query (whole documents table) and the composed curation funnel
    (which scores the substring-CLEANED corpus)."""
    docs = docs.selectExpr("doc_id", "lang", f"{_TOKENS} as toks")
    train = docs.filter(F.expr(_LM_TRAIN_GATE))
    train_bi = train.select(
        "lang", F.explode(F.expr(_LM_BIGRAMS)).alias("b")
    ).select("lang", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    c2 = train_bi.groupBy("lang", "w1", "w2").agg(
        F.count(F.lit(1)).cast("long").alias("c2")
    )
    c1 = c2.groupBy("lang", "w1").agg(
        F.sum("c2").cast("long").alias("c1")
    )
    voc = (
        train.select("lang", F.explode("toks").alias("w"))
        .groupBy("lang")
        .agg(F.count_distinct("w").cast("long").alias("v"))
    )
    score_bi = (
        docs.filter(F.expr("size(toks) >= 2"))
        .select("doc_id", "lang", F.explode(F.expr(_LM_BIGRAMS)).alias("b"))
        .select(
            "doc_id",
            "lang",
            F.col("b.w1").alias("w1"),
            F.col("b.w2").alias("w2"),
        )
    )
    per_doc = (
        score_bi.join(c2, ["lang", "w1", "w2"], "left")
        .join(c1, ["lang", "w1"], "left")
        .join(F.broadcast(voc), ["lang"], "left")
        .selectExpr(
            "doc_id",
            "lang",
            "cast(length(bin((coalesce(c1, 0L) + coalesce(v, 1L))"
            " div (coalesce(c2, 0L) + 1L))) - 1 as bigint) as b",
        )
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.sum("b").cast("long").alias("doc_bits"),
        )
        .selectExpr(
            "doc_id",
            "lang",
            "n_bigrams",
            "doc_bits",
            "cast(floor(cast(16 * doc_bits as double)"
            " / cast(n_bigrams as double)) as bigint) as mean_bits_x16",
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("lang").orderBy("mean_bits_x16", "doc_id")
    return per_doc.withColumn("nt", F.ntile(3).over(w)).selectExpr(
        "doc_id",
        "lang",
        "n_bigrams",
        "doc_bits",
        "mean_bits_x16",
        "case nt when 1 then 'head' when 2 then 'middle'"
        " else 'tail' end as ppl_bucket",
    )


@register("text_lm_perplexity_buckets", oracle=_LM_PPL_ORACLE)
def text_lm_perplexity_buckets(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CCNet-style quality filter: a per-language add-one-smoothed
    bigram LM trained in-plan on the length-gated slice, every
    document scored by exact integer surprisal bits and bucketed
    head/middle/tail per language — (doc_id, lang, n_bigrams,
    doc_bits, mean_bits_x16, ppl_bucket). See the section design
    comment for the floor-log2 integer identity and the 100 TB plan
    shape."""
    # scan_parallel was TRIED here and reverted (interleaved A/B:
    # 4.6-5.5s bare vs 9.6-9.8s repartitioned) — the LM train/score
    # legs are a long chain of cheap stages; widening the map side
    # of each shuffle doubled the wall time.
    return lm_perplexity_frame(
        load_table(spark, sf_dir, "documents")
    ).orderBy("doc_id")


# --------------------------------------------------------------------
# BPE merge-loop TRAINING: text_bpe_merge_candidates above computes
# only the FIRST merge's pair counts; this unrolls the actual
# training recurrence (count pairs -> take the top pair -> apply the
# merge -> repeat) for _BPE_STEPS merges — the Lloyd/PageRank
# unrolled-recurrence recipe applied to tokenizer training (Sennrich
# et al. 2016, minus the end-of-word marker).
#
# State is the VOCAB-sized symbol-sequence frame (token, n_occ, pos,
# sym): each DISTINCT word once, weighted by its corpus count — the
# corpus pays exactly one token-count shuffle and every training
# iteration is bounded by vocabulary size, not corpus size. Per step:
# pair counts via one lead() window + one (s1, s2) map-side-
# combinable aggregate; the winning pair is driver-held (1 row — the
# k-means centroid protocol); applying it uses the gaps-and-islands
# parity trick for greedy left-to-right non-overlap (in a run of
# consecutive matches like 'aaaa' under merge (a,a), only the 1st,
# 3rd, ... matches fire — exactly Sennrich's sequential replace).
# Ties break (count DESC, s1, s2) in both engines and in the
# sequential property test.
# --------------------------------------------------------------------

_BPE_STEPS = 6


def _bpe_oracle() -> str:
    parts = [
        f"""vocab AS MATERIALIZED (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS n_occ
  FROM (SELECT unnest({_TOKENS_DUCK}) AS token FROM documents)
  GROUP BY token
),
sq0 AS MATERIALIZED (
  SELECT token, n_occ, CAST(i AS INT) AS pos,
         substring(token, i, 1) AS sym
  FROM vocab, unnest(generate_series(1, length(token))) AS u(i)
)"""
    ]
    for i in range(1, _BPE_STEPS + 1):
        parts.append(
            f""",
pr{i} AS MATERIALIZED (
  SELECT token, n_occ, pos, sym,
         LEAD(sym) OVER (PARTITION BY token ORDER BY pos) AS nxt
  FROM sq{i - 1}
),
cnt{i} AS MATERIALIZED (
  SELECT sym AS s1, nxt AS s2, CAST(SUM(n_occ) AS BIGINT) AS cnt
  FROM pr{i} WHERE nxt IS NOT NULL GROUP BY sym, nxt
),
m{i} AS MATERIALIZED (
  SELECT s1, s2, cnt FROM cnt{i} ORDER BY cnt DESC, s1, s2 LIMIT 1
),
mk{i} AS MATERIALIZED (
  SELECT token, pos FROM (
    SELECT token, pos,
           ROW_NUMBER() OVER (PARTITION BY token, isl ORDER BY pos) AS k
    FROM (
      SELECT p.token, p.pos,
             p.pos - ROW_NUMBER() OVER (
               PARTITION BY p.token ORDER BY p.pos) AS isl
      FROM pr{i} p, m{i} m
      WHERE p.sym = m.s1 AND p.nxt = m.s2
    )
  ) WHERE k % 2 = 1
),
sq{i} AS MATERIALIZED (
  SELECT token, n_occ,
         CAST(ROW_NUMBER() OVER (PARTITION BY token ORDER BY pos)
              AS INT) AS pos,
         sym
  FROM (
    SELECT s.token, s.n_occ, s.pos,
           CASE WHEN k.pos IS NOT NULL THEN m.s1 || m.s2
                ELSE s.sym END AS sym
    FROM sq{i - 1} s
    CROSS JOIN m{i} m
    LEFT JOIN mk{i} k ON s.token = k.token AND s.pos = k.pos
    LEFT JOIN mk{i} k2 ON s.token = k2.token AND s.pos = k2.pos + 1
    WHERE k2.pos IS NULL
  )
)"""
        )
    legs = "\nUNION ALL\n".join(
        f"SELECT {i} AS step, s1, s2, s1 || s2 AS merged,"
        f" cnt AS pair_count FROM m{i}"
        for i in range(1, _BPE_STEPS + 1)
    )
    return (
        "WITH " + "".join(parts) + f"\nSELECT * FROM (\n{legs}\n)"
        " ORDER BY step"
    )


def _bpe_train(
    spark: SparkSession, sf_dir: str
) -> tuple[list[DataFrame], list[DataFrame], DataFrame]:
    """The shared BPE training loop: returns (legs, persisted, seq)
    where legs[i] is the 1-row engine-computed merge record of step
    i+1, persisted is the per-step pair-count frames the caller must
    release, and seq is the FINAL checkpointed segmentation state
    (token, n_occ, pos, sym) — the trained tokenizer's vocabulary
    segmentation, consumed by the serve leg."""
    from pyspark.sql import Window

    from workshop3_etl_spark.functions.cache import supersede

    vocab = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(F.expr(_TOKENS)).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("n_occ"))
    )
    seq0 = vocab.selectExpr(
        "token",
        "n_occ",
        "posexplode(transform(sequence(1, length(token)),"
        " i -> substring(token, i, 1))) as (p0, sym)",
    ).selectExpr("token", "n_occ", "cast(p0 + 1 as int) as pos", "sym")

    w_tok = Window.partitionBy("token").orderBy("pos")
    # Each iteration's state plan references the previous state THREE
    # times (pair window, anti-join, rewrite join), so a lazy chain
    # triples the LOGICAL plan per step — Catalyst re-analysis went
    # exponential (measured: iteration 6 alone 16s at sf0.1).
    # supersede() eagerly checkpoints each round's state and releases
    # the round it replaces — the PageRank/BFS lineage-cut discipline.
    seq = supersede(seq0, None)
    persisted = []
    legs = []
    for step in range(1, _BPE_STEPS + 1):
        pr = seq.withColumn("nxt", F.lead("sym").over(w_tok))
        # persisted: the top-pair collect materializes it anyway, and
        # the final result legs re-read it instead of re-running the
        # iteration's window+aggregate a second time
        cnt = (
            pr.filter(F.col("nxt").isNotNull())
            .groupBy(F.col("sym").alias("s1"), F.col("nxt").alias("s2"))
            .agg(F.sum("n_occ").cast("long").alias("cnt"))
            .persist()
        )
        persisted.append(cnt)
        # the winning pair is driver-held between iterations (1 row —
        # the driver-held-centers protocol); the RESULT leg below is
        # the engine-computed aggregate re-filtered to that pair
        top = cnt.orderBy(F.desc("cnt"), "s1", "s2").limit(1).collect()[0]
        a, b = top["s1"], top["s2"]
        legs.append(
            cnt.filter((F.col("s1") == a) & (F.col("s2") == b)).selectExpr(
                f"cast({step} as int) as step",
                "s1",
                "s2",
                "s1 || s2 as merged",
                "cnt as pair_count",
            )
        )
        mk = (
            pr.filter((F.col("sym") == a) & (F.col("nxt") == b))
            .select("token", "pos")
            .withColumn(
                "isl", F.col("pos") - F.row_number().over(w_tok)
            )
            .withColumn(
                "k",
                F.row_number().over(
                    Window.partitionBy("token", "isl").orderBy("pos")
                ),
            )
            .filter(F.col("k") % 2 == 1)
            .select("token", "pos")
        )
        drop = mk.selectExpr("token as dtoken", "pos as dpos")
        seq_next = (
            seq.join(
                drop,
                (F.col("token") == F.col("dtoken"))
                & (F.col("pos") == F.col("dpos") + 1),
                "left_anti",
            )
            .join(
                mk.withColumn("hit", F.lit(True)), ["token", "pos"], "left"
            )
            .selectExpr(
                "token",
                "n_occ",
                "pos",
                f"case when hit then {a!r} || {b!r}"
                " else sym end as sym",
            )
            .withColumn(
                "pos", F.row_number().over(w_tok).cast("int")
            )
        )
        seq = supersede(seq_next, seq)
    return legs, persisted, seq


@register("text_bpe_train_merges", oracle=_bpe_oracle())
def text_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train an actual (small) BPE merge table in-engine: {_BPE_STEPS}
    unrolled merge iterations over the weighted vocab frame — (step,
    s1, s2, merged, pair_count), in training order. See the section
    design comment for the per-step plan shape, the greedy-overlap
    parity trick, and the 100 TB story (iteration state is
    vocab-bounded)."""
    from functools import reduce

    from workshop3_etl_spark.functions.cache import (
        materialize_and_release,
    )

    legs, persisted, seq = _bpe_train(spark, sf_dir)
    result = reduce(DataFrame.unionAll, legs).orderBy("step")
    return materialize_and_release(result, *persisted, seq)


# Serve leg of the tokenizer lifecycle: APPLY the trained merge table
# to the corpus. The scalable shape mirrors training: the merges are
# applied once to the VOCAB's segmentation state (already the
# trainer's final frame), and the corpus is encoded by one
# token -> segmentation join — each distinct word pays the iterative
# rewrite once, each corpus occurrence pays one vocab-sized
# (broadcastable) hash join. Completes train -> serve for the
# tokenizer family the way the quantizer family did in r8/r9.
_BPE_TOKENIZE_ORACLE = (
    lambda: f"""{_bpe_oracle().rsplit("SELECT * FROM", 1)[0]}
, seg AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS n_pieces
  FROM sq{_BPE_STEPS} GROUP BY token
),
tok AS (
  SELECT doc_id, unnest({_TOKENS_DUCK}) AS token FROM documents
)
SELECT t.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(s.n_pieces) AS BIGINT) AS n_bpe_tokens,
       CAST(FLOOR(CAST(1000 * SUM(s.n_pieces) AS DOUBLE)
                  / CAST(COUNT(*) AS DOUBLE)) AS BIGINT)
         AS pieces_per_word_x1000
FROM tok t JOIN seg s USING (token)
GROUP BY t.doc_id
ORDER BY t.doc_id"""
)()


@register("text_bpe_tokenize_corpus", oracle=_BPE_TOKENIZE_ORACLE)
def text_bpe_tokenize_corpus(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Encode the corpus with the in-engine-trained BPE merge table:
    per document, whitespace word count vs BPE piece count under the
    {_BPE_STEPS}-merge tokenizer — (doc_id, n_words, n_bpe_tokens,
    pieces_per_word_x1000). Documents with no tokens drop out (there
    is nothing to encode). See the serve-leg design comment for the
    vocab-once / corpus-join plan shape."""
    from workshop3_etl_spark.functions.cache import (
        materialize_and_release,
    )

    legs, persisted, seq = _bpe_train(spark, sf_dir)
    seg = seq.groupBy("token").agg(
        F.count(F.lit(1)).cast("long").alias("n_pieces")
    )
    tok = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.explode(F.expr(_TOKENS)).alias("token")
    )
    result = (
        tok.join(seg, "token")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("n_pieces").cast("long").alias("n_bpe_tokens"),
        )
        .selectExpr(
            "doc_id",
            "n_words",
            "n_bpe_tokens",
            "cast(floor(cast(1000 * n_bpe_tokens as double)"
            " / cast(n_words as double)) as bigint)"
            " as pieces_per_word_x1000",
        )
        .orderBy("doc_id")
    )
    return materialize_and_release(result, *persisted, seq)


# --------------------------------------------------------------------
# BM25 ranked retrieval (Robertson-Sparck Jones / Okapi BM25): the
# ranking leg of the search family — search_inverted_index_postings
# builds the index, this query scores documents against a query-term
# set and returns the top-20. The query terms are picked
# deterministically from the corpus itself (document-frequency ranks
# 10-13 — mid-frequency terms, selective but present at every SF),
# which keeps the query surface data-driven and oracle-checkable.
#
# Determinism: the classical idf = ln((N - df + 0.5) / (df + 0.5))
# would put a libm log in the score, so the idf weight is the exact
# INTEGER bit count idf_bits = floor(log2((N + 1) / (df + 1))) via
# the floor-log2/bin-length identity (always valid: N >= df). The tf
# saturation term with k1 = 6/5 and b = 3/4,
#
#   tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl)),   avgdl = T/N
#
# is a RATIONAL in (tf, dl, N, T); multiplying through by 20*T gives
# the integer form 44*T*tf / (20*T*tf + 6*T + 18*N*dl). Each (doc,
# term) contribution is floored at x1000 scale BEFORE the per-doc
# sum, so the total is an order-independent integer sum —
# bit-identical across engines. (At 100 TB token counts the x1000
# numerator outgrows int64; internals would widen to decimal(38,0)
# exactly like the canon limb folds — at graded SFs int64 is exact.)
#
# Scale: one corpus token-count aggregate for the term-df table, a
# TakeOrdered head for the 4 query terms (never a vocab-wide window),
# then every scoring join is broadcast-sided (4 query terms, 1-row
# corpus stats); the per-doc reduce is map-side combinable. The final
# top-20 is TakeOrdered, not a global sort.
# --------------------------------------------------------------------

_BM25_RANK_LO, _BM25_RANK_HI = 10, 13  # df-rank window of query terms
_BM25_TOPK = 20

def _bm25_base_ctes(p: str) -> str:
    """The corpus-level BM25 frames as prefixable CTEs: ``{p}tk``,
    ``{p}pos`` (token postings), ``{p}termdf`` (term -> df), ``{p}dl``
    (doc lengths), ``{p}stats`` (N, T). Shared by the standalone
    ranking, the PRF expansion rounds, and any future composed
    retrieval oracle — one source of truth for the index side."""
    return f"""{p}tk AS (
  SELECT doc_id, {_TOKENS_DUCK} AS toks FROM documents
),
{p}pos AS (SELECT doc_id, unnest(toks) AS w FROM {p}tk),
{p}termdf AS (
  SELECT w AS term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
  FROM {p}pos GROUP BY w
),
{p}dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM {p}tk),
{p}stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(dl) AS BIGINT) AS t
  FROM {p}dl
)"""


def _bm25_qterms_ctes(p: str) -> str:
    """The deterministic df-rank {LO}..{HI} query-term CTE
    ``{p}qterms`` (term, df) over ``{p}termdf``."""
    return f"""{p}head AS (
  SELECT term, df FROM {p}termdf
  ORDER BY df DESC, term LIMIT {_BM25_RANK_HI}
),
{p}qterms AS (
  SELECT term, df FROM (
    SELECT term, df,
           ROW_NUMBER() OVER (ORDER BY df DESC, term) AS rn
    FROM {p}head
  ) WHERE rn BETWEEN {_BM25_RANK_LO} AND {_BM25_RANK_HI}
)"""


def _bm25_score_ctes(p: str, qcte: str, r: str) -> str:
    """One BM25 scoring round of query CTE ``qcte`` (term, df)
    against the base frames of prefix ``p``, ending in ``{r}scored``
    (doc_id, n_terms_matched, score_x1000). The integer algebra is
    the section comment's exact-rational form."""
    return f"""{r}tf AS (
  SELECT p.doc_id, p.w AS term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM {p}pos p JOIN {qcte} q ON q.term = p.w
  GROUP BY p.doc_id, p.w
),
{r}contrib AS (
  SELECT tf.doc_id,
         ((CAST(length(bin((s.n + 1) // (q.df + 1))) - 1 AS BIGINT)
           * 44 * s.t * tf.tf * 1000)
          // (20 * s.t * tf.tf + 6 * s.t + 18 * s.n * d.dl)) AS c
  FROM {r}tf tf
  JOIN {qcte} q USING (term)
  JOIN {p}dl d USING (doc_id)
  CROSS JOIN {p}stats s
),
{r}scored AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_terms_matched,
         CAST(SUM(c) AS BIGINT) AS score_x1000
  FROM {r}contrib GROUP BY doc_id
)"""


_BM25_ORACLE = f"""
WITH {_bm25_base_ctes('')},
{_bm25_qterms_ctes('')},
{_bm25_score_ctes('', 'qterms', '')},
top AS (
  SELECT doc_id, n_terms_matched, score_x1000 FROM scored
  ORDER BY score_x1000 DESC, doc_id LIMIT {_BM25_TOPK}
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY score_x1000 DESC, doc_id)
            AS INT) AS rank,
       doc_id, n_terms_matched, score_x1000
FROM top
ORDER BY rank
"""


def _bm25_frames(spark: SparkSession, sf_dir: str) -> dict:
    """Spark twins of _bm25_base_ctes: tk/pos/termdf/dl/stats.

    scan_parallel was TRIED here and reverted (interleaved A/B:
    search_bm25_topk 1.4-1.9s bare vs 2.2-4.4s repartitioned): the
    tokenize map is cheap next to the multi-stage scoring chain, and
    widening the map side of every downstream shuffle only added
    task/fetch overhead per stage."""
    docs = load_table(spark, sf_dir, "documents")
    tk = docs.select("doc_id", F.expr(_TOKENS).alias("toks"))
    pos = tk.select("doc_id", F.explode("toks").alias("w"))
    termdf = pos.groupBy(F.col("w").alias("term")).agg(
        F.countDistinct("doc_id").cast("long").alias("df")
    )
    dl = tk.select(
        "doc_id", F.expr("cast(size(toks) as bigint)").alias("dl")
    )
    stats = dl.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("dl").cast("long").alias("t"),
    )
    return {"pos": pos, "termdf": termdf, "dl": dl, "stats": stats}


def _bm25_qterms(termdf: DataFrame) -> DataFrame:
    """Spark twin of _bm25_qterms_ctes (df ranks LO..HI)."""
    from pyspark.sql import Window

    head = termdf.orderBy(F.desc("df"), "term").limit(_BM25_RANK_HI)
    wq = Window.orderBy(F.desc("df"), "term")
    return (
        head.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn").between(_BM25_RANK_LO, _BM25_RANK_HI))
        .select("term", "df")
    )


def _bm25_score(
    pos: DataFrame, dl: DataFrame, stats: DataFrame, qterms: DataFrame
) -> DataFrame:
    """Spark twin of _bm25_score_ctes: one broadcast-sided scoring
    round -> (doc_id, n_terms_matched, score_x1000)."""
    tf = (
        pos.join(F.broadcast(qterms.select(F.col("term").alias("w"))), "w")
        .groupBy("doc_id", F.col("w").alias("term"))
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    contrib = (
        tf.join(F.broadcast(qterms), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .selectExpr(
            "doc_id",
            "((cast(length(bin((n + 1) div (df + 1))) - 1 as bigint)"
            " * 44L * t * tf * 1000L)"
            " div (20L * t * tf + 6L * t + 18L * n * dl)) as c",
        )
    )
    return contrib.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_terms_matched"),
        F.sum("c").cast("long").alias("score_x1000"),
    )


@register("search_bm25_topk", oracle=_BM25_ORACLE)
def search_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-20 retrieval for the deterministic mid-frequency
    query-term set (df ranks 10-13): (rank, doc_id, n_terms_matched,
    score_x1000) with k1 = 1.2, b = 0.75, integer-bits idf and
    exact-integer rational tf saturation. See the section design
    comment for the determinism algebra and the broadcast-only
    scoring join shape."""
    from pyspark.sql import Window

    fr = _bm25_frames(spark, sf_dir)
    qterms = _bm25_qterms(fr["termdf"])
    scored = _bm25_score(fr["pos"], fr["dl"], fr["stats"], qterms)
    top = scored.orderBy(F.desc("score_x1000"), "doc_id").limit(
        _BM25_TOPK
    )
    wr = Window.orderBy(F.desc("score_x1000"), "doc_id")
    return (
        top.withColumn("rank", F.row_number().over(wr).cast("int"))
        .select("rank", "doc_id", "n_terms_matched", "score_x1000")
        .orderBy("rank")
    )


# --------------------------------------------------------------------
# Pseudo-relevance-feedback query expansion (Rocchio/RM1 family):
# run the deterministic BM25 round, treat its top-10 documents as
# relevant, mine the 4 best expansion terms from them, and rescore
# the corpus with the 8-term expanded query — the classical two-pass
# recall upgrade every lexical retrieval stack carries.
#
# Expansion-term weight: feedback collection frequency x the same
# exact-rational idf surrogate the hybrid's lexical leg documents
# ((1000 * (N + 1)) // (df + 1)) — pure fb_tf would hand the slots
# to corpus-head stopwords on this flat-frequency vocabulary, while
# the surrogate mixes in selectivity without a libm log. All
# integer: fb_tf <= feedback tokens, surrogate <= 1000 * (N + 1),
# product int64-safe through ~1e9 documents.
#
# Scale: both scoring rounds are the broadcast-sided _bm25_score
# shape; the feedback set is 10 rows (broadcast), the candidate mine
# is one groupBy over ONLY the postings of 10 documents, and the
# anti-join against the 4 round-1 terms is broadcast. Nothing new
# touches the corpus beyond the two scoring passes — at 100 TB the
# token explode is persisted once and reused (done below).
# --------------------------------------------------------------------

_PRF_FB_DOCS = 10
_PRF_EXP_TERMS = 4

_PRF_ORACLE = f"""
WITH {_bm25_base_ctes('')},
{_bm25_qterms_ctes('')},
{_bm25_score_ctes('', 'qterms', 'r1_')},
fb AS (
  SELECT doc_id FROM r1_scored
  ORDER BY score_x1000 DESC, doc_id LIMIT {_PRF_FB_DOCS}
),
r1rank AS (
  SELECT doc_id,
         CAST(ROW_NUMBER() OVER (ORDER BY score_x1000 DESC, doc_id)
              AS INT) AS r1_rank
  FROM (
    SELECT doc_id, score_x1000 FROM r1_scored
    ORDER BY score_x1000 DESC, doc_id LIMIT {_BM25_TOPK}
  )
),
cand AS (
  SELECT p.w AS term, CAST(COUNT(*) AS BIGINT) AS fb_tf
  FROM pos p JOIN fb USING (doc_id)
  WHERE p.w NOT IN (SELECT term FROM qterms)
  GROUP BY p.w
),
expn AS (
  SELECT c.term, t.df
  FROM cand c JOIN termdf t USING (term) CROSS JOIN stats s
  ORDER BY c.fb_tf * ((1000 * (s.n + 1)) // (t.df + 1)) DESC, c.term
  LIMIT {_PRF_EXP_TERMS}
),
q2 AS (
  SELECT term, df FROM qterms
  UNION ALL SELECT term, df FROM expn
),
{_bm25_score_ctes('', 'q2', 'r2_')},
top AS (
  SELECT doc_id, n_terms_matched, score_x1000 FROM r2_scored
  ORDER BY score_x1000 DESC, doc_id LIMIT {_BM25_TOPK}
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY t.score_x1000 DESC, t.doc_id)
            AS INT) AS rank,
       t.doc_id, t.n_terms_matched, t.score_x1000, r.r1_rank
FROM top t LEFT JOIN r1rank r USING (doc_id)
ORDER BY rank
"""


@register("search_prf_expanded_topk", oracle=_PRF_ORACLE)
def search_prf_expanded_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-pass BM25 with pseudo-relevance-feedback expansion: round
    1 = the standalone query (df ranks 10-13); its top-10 docs donate
    the 4 highest (fb_tf x idf-surrogate)-weighted new terms; round 2
    rescores with all 8 terms. Output is the round-2 top-20 with each
    doc's round-1 rank (NULL = newly surfaced by expansion). See the
    section comment for weights and scale shape."""
    from pyspark.sql import Window

    from workshop3_etl_spark.functions.cache import materialize_and_release

    fr = _bm25_frames(spark, sf_dir)
    pos = fr["pos"].persist()
    dl = fr["dl"].persist()
    s1 = None
    try:
        stats = fr["stats"]
        q1 = _bm25_qterms(fr["termdf"])
        s1 = _bm25_score(pos, dl, stats, q1).persist()
        fb = s1.orderBy(F.desc("score_x1000"), "doc_id").limit(
            _PRF_FB_DOCS
        ).select("doc_id")
        wr = Window.orderBy(F.desc("score_x1000"), "doc_id")
        r1rank = (
            s1.orderBy(F.desc("score_x1000"), "doc_id")
            .limit(_BM25_TOPK)
            .withColumn("r1_rank", F.row_number().over(wr).cast("int"))
            .select("doc_id", "r1_rank")
        )
        cand = (
            pos.join(F.broadcast(fb), "doc_id")
            .join(
                F.broadcast(q1.select(F.col("term").alias("w"))),
                "w",
                "left_anti",
            )
            .groupBy(F.col("w").alias("term"))
            .agg(F.count(F.lit(1)).cast("long").alias("fb_tf"))
        )
        expn = (
            cand.join(fr["termdf"], "term")
            .crossJoin(F.broadcast(stats))
            .withColumn(
                "fb_score",
                F.expr("fb_tf * ((1000L * (n + 1)) div (df + 1))"),
            )
            .orderBy(F.desc("fb_score"), "term")
            .limit(_PRF_EXP_TERMS)
            .select("term", "df")
        )
        q2 = q1.unionByName(expn)
        s2 = _bm25_score(pos, dl, stats, q2)
        top = s2.orderBy(F.desc("score_x1000"), "doc_id").limit(
            _BM25_TOPK
        )
        out = (
            top.withColumn("rank", F.row_number().over(wr).cast("int"))
            .join(F.broadcast(r1rank), "doc_id", "left")
            .select(
                "rank", "doc_id", "n_terms_matched", "score_x1000",
                "r1_rank",
            )
            .orderBy("rank")
        )
        out = materialize_and_release(out, pos, dl, s1)
    except Exception:
        pos.unpersist()
        dl.unpersist()
        if s1 is not None:
            s1.unpersist()
        raise
    return out


# --------------------------------------------------------------------
# Trained multinomial Naive Bayes language classifier: the TRAINED
# sibling of text_lang_id_confusion's fixed n-gram heuristic, and the
# engine's first in-engine-trained CLASSIFIER (the fasttext-style
# linear gate of corpus-quality pipelines, reduced to its
# distributable core). Train on the doc_id % 5 != 0 split (per-class
# hashed-unigram counts over the 4096-bucket feature space — the DSIR
# hash), predict the held-out % 5 == 0 docs, report the confusion
# matrix.
#
# Determinism: class scores are exact INTEGER surprisal bits,
#
#   bits_l(doc) = floor(log2((N_tr + L) / (n_l + 1)))        [prior]
#               + sum_w floor(log2((T_l + B) / (c_l,b(w) + 1)))
#
# via the bin-length identity (add-one smoothing guarantees
# numerator >= denominator), argmin bits with lang-ascending
# tiebreak — the standard log-space NB decision rule with floor-log2
# in place of libm, bit-identical across engines. The ~1-bit-per-term
# rounding is noise at language-ID separation distances.
#
# Scale: the entire model is <= L x B = 5 x 4096 count rows plus an
# L-row prior frame — broadcast artifacts however big the corpus; the
# scoring pass is one token-explode with broadcast joins and a
# per-(doc, class) map-side-combinable sum. The confusion matrix is
# an L x L aggregate.
#
# Honest data caveat (same as the lang-ID heuristic above): the
# synthetic corpus draws every language's text from ONE shared
# 31-word vocabulary with near-uniform frequencies, so the unigram
# features carry no class signal and the decision collapses to the
# class prior (majority class) — which IS the Bayes-consistent
# prediction under uninformative likelihoods. The classifier's
# separation power is therefore pinned in tests on a planted
# class-specific vocabulary (accuracy >= 0.95), while the registered
# query doubles as a real data audit: a prior-dominated confusion
# matrix is exactly how a pipeline discovers that its lang labels are
# uncorrelated with content.
# --------------------------------------------------------------------

_NB_B = 4096
_NB_BUCKET = (
    "cast(conv(substring(md5(cast(tok as binary)), 1, 3), 16, 10)"
    " as bigint)"
)
_NB_BUCKET_DUCK = "CAST('0x' || substr(md5(tok), 1, 3) AS BIGINT)"

_NB_ORACLE = f"""
WITH tk AS (
  SELECT doc_id, lang, {_TOKENS_DUCK} AS toks FROM documents
),
train_tok AS (
  SELECT lang, {_NB_BUCKET_DUCK} AS bucket
  FROM (SELECT lang, unnest(toks) AS tok FROM tk WHERE doc_id % 5 <> 0)
),
cls AS (
  SELECT lang,
         CAST(COUNT(*) AS BIGINT) AS n_docs_l
  FROM tk WHERE doc_id % 5 <> 0 GROUP BY lang
),
ntr AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_tr,
         CAST(COUNT(DISTINCT lang) AS BIGINT) AS l
  FROM tk WHERE doc_id % 5 <> 0
),
cc AS (
  SELECT lang, bucket, CAST(COUNT(*) AS BIGINT) AS c
  FROM train_tok GROUP BY lang, bucket
),
ct AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS t
  FROM train_tok GROUP BY lang
),
score_tok AS (
  SELECT doc_id, lang AS true_lang, {_NB_BUCKET_DUCK} AS bucket
  FROM (SELECT doc_id, lang, unnest(toks) AS tok FROM tk
        WHERE doc_id % 5 = 0 AND len(toks) >= 1)
),
per_class AS (
  SELECT s.doc_id, s.true_lang, k.lang,
         CAST(SUM(length(bin((ct.t + {_NB_B})
                             // (COALESCE(cc.c, 0) + 1))) - 1)
              AS BIGINT)
         + CAST(MIN(length(bin((n.n_tr + n.l) // (k.n_docs_l + 1))) - 1)
              AS BIGINT) AS bits
  FROM score_tok s
  CROSS JOIN cls k
  CROSS JOIN ntr n
  JOIN ct ON ct.lang = k.lang
  LEFT JOIN cc ON cc.lang = k.lang AND cc.bucket = s.bucket
  GROUP BY s.doc_id, s.true_lang, k.lang
),
pred AS (
  SELECT doc_id, true_lang, lang AS pred_lang FROM (
    SELECT doc_id, true_lang, lang,
           ROW_NUMBER() OVER (
             PARTITION BY doc_id ORDER BY bits, lang) AS rn
    FROM per_class
  ) WHERE rn = 1
)
SELECT true_lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM pred GROUP BY true_lang, pred_lang
ORDER BY true_lang, pred_lang
"""


def nb_predictions_frame(
    train: DataFrame, test: DataFrame
) -> DataFrame:
    """Multinomial NB over any (doc_id, lang, toks) frames: train
    per-class hashed-unigram counts + priors on ``train``, return
    (doc_id, true_lang, pred_lang) for every ``test`` doc with >= 1
    token. Shared by the registered query and the planted-vocabulary
    separation test."""
    from pyspark.sql import Window

    train_tok = train.select(
        "lang", F.explode("toks").alias("tok")
    ).selectExpr("lang", f"{_NB_BUCKET} as bucket")
    cls = train.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs_l")
    )
    ntr = train.agg(
        F.count(F.lit(1)).cast("long").alias("n_tr"),
        F.countDistinct("lang").cast("long").alias("l"),
    )
    cc = train_tok.groupBy("lang", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    ct = train_tok.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("t")
    )
    score_tok = (
        test.filter("size(toks) >= 1")
        .select(
            "doc_id",
            F.col("lang").alias("true_lang"),
            F.explode("toks").alias("tok"),
        )
        .selectExpr("doc_id", "true_lang", f"{_NB_BUCKET} as bucket")
    )
    per_class = (
        score_tok.crossJoin(
            F.broadcast(
                cls.join(ct, "lang").crossJoin(ntr)
            )
        )
        .join(F.broadcast(cc), ["lang", "bucket"], "left")
        .selectExpr(
            "doc_id",
            "true_lang",
            "lang",
            f"cast(length(bin((t + {_NB_B}) div (coalesce(c, 0L) + 1L)))"
            " - 1 as bigint) as tok_bits",
            "cast(length(bin((n_tr + l) div (n_docs_l + 1L)))"
            " - 1 as bigint) as prior_bits",
        )
        .groupBy("doc_id", "true_lang", "lang")
        .agg(
            (
                F.sum("tok_bits") + F.min("prior_bits")
            ).cast("long").alias("bits")
        )
    )
    wp = Window.partitionBy("doc_id").orderBy("bits", "lang")
    return (
        per_class.withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") == 1)
        .select("doc_id", "true_lang", F.col("lang").alias("pred_lang"))
    )


@register("text_nb_langid_confusion", oracle=_NB_ORACLE)
def text_nb_langid_confusion(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """In-engine-trained multinomial Naive Bayes language classifier:
    train per-class hashed-unigram counts on the doc_id % 5 != 0
    split, predict the held-out docs by exact-integer-bits argmin,
    and report the confusion matrix (true_lang, pred_lang, n_docs).
    See the section design comment for the floor-log2 decision rule,
    the broadcast L x 4096 model shape, and the honest caveat that
    the synthetic corpus's shared vocabulary makes this a
    prior-dominated audit (separation power is pinned in tests on a
    planted vocabulary)."""
    docs = load_table(spark, sf_dir, "documents").selectExpr(
        "doc_id", "lang", f"{_TOKENS} as toks"
    )
    pred = nb_predictions_frame(
        docs.filter("doc_id % 5 <> 0"), docs.filter("doc_id % 5 = 0")
    )
    return (
        pred.groupBy("true_lang", "pred_lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .orderBy("true_lang", "pred_lang")
    )


# --------------------------------------------------------------------
# Positional phrase search: exact-adjacency phrase matching over the
# positional inverted index — the operator search_inverted_index_
# postings' postings can't answer (it stores doc sets, not
# positions). The query phrases are data-driven and deterministic:
# the 3 most frequent adjacent word bigrams corpus-wide (count desc,
# then lexicographic), mirroring BM25's df-rank query-term protocol.
#
# Serving shape (the point of the operator): the corpus token stream
# is exploded ONCE with positions; each phrase term then broadcast-
# semi-joins the postings down to query-term rows ONLY before the
# adjacency equi-join (doc_id, position) == (doc_id, position - 1) —
# at 100 TB the match join touches O(postings of 3 phrases), never
# the corpus. The oracle re-derives the truth a DIFFERENT way (a
# per-document array comprehension scan counting adjacent hits), so
# an off-by-one in the positional join fails the hash.
#
# The per-phrase top-10 ranking window partitions by phrase_id; its
# partition size is the phrase's document frequency — for the
# head-of-vocabulary phrases used here that is corpus-proportional
# in the worst case, so the 100-TB form would swap the window for a
# per-phrase TakeOrdered loop over the (tiny, known) phrase list.
# With 3 phrases the window is one 3-partition shuffle of
# (phrase_id, doc_id, n_occ) triples — candidate counts, not text.
# --------------------------------------------------------------------

_PHRASE_N = 3
_PHRASE_TOPK = 10

_PHRASE_ORACLE = f"""
WITH tk AS (
  SELECT doc_id, {_TOKENS_DUCK} AS toks FROM documents
),
pos AS (
  SELECT doc_id, generate_subscripts(toks, 1) AS p, unnest(toks) AS w
  FROM tk
),
bi AS (
  SELECT w AS w1,
         lead(w) OVER (PARTITION BY doc_id ORDER BY p) AS w2
  FROM pos
),
bc AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n_total
  FROM bi WHERE w2 IS NOT NULL GROUP BY w1, w2
),
phrases AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY n_total DESC, w1, w2)
              AS INT) AS phrase_id,
         w1, w2, n_total
  FROM bc
  ORDER BY n_total DESC, w1, w2 LIMIT {_PHRASE_N}
),
occ AS (
  SELECT ph.phrase_id, ph.w1, ph.w2, ph.n_total, tk.doc_id,
         CAST(len([i FOR i IN range(1, len(tk.toks))
                   IF tk.toks[i] = ph.w1 AND tk.toks[i + 1] = ph.w2])
              AS BIGINT) AS n_occ
  FROM tk CROSS JOIN phrases ph
),
ranked AS (
  SELECT phrase_id, w1, w2, n_total, doc_id, n_occ,
         CAST(ROW_NUMBER() OVER (PARTITION BY phrase_id
              ORDER BY n_occ DESC, doc_id) AS INT) AS rank
  FROM occ WHERE n_occ > 0
)
SELECT phrase_id, w1 || ' ' || w2 AS phrase, n_total,
       rank, doc_id, n_occ
FROM ranked WHERE rank <= {_PHRASE_TOPK}
ORDER BY phrase_id, rank
"""


def _bigram_count_partials_arrow(docs: DataFrame) -> DataFrame:
    """(w1, w2, n): per-batch partial counts of adjacent token
    bigrams, as one Arrow pass (guide §2.3 aggregate-before-the-
    shuffle + §4.2). Python ``t.split(' ')`` + drop-empties matches
    the engine's ``filter(split(text, ' '), x -> x != '')``
    tokenizer for the single-space delimiter, and a Counter over
    ``zip(toks, toks[1:])`` counts exactly the pairs the former
    per-document lead() window produced — so the merged SUMs equal
    the old COUNT(*) per (w1, w2) integer for integer. Replaces a
    full (doc_id) exchange + sort of every token row with a
    batch-vocabulary-sized partial frame; the head's ordering and
    tie-breaks stay in Spark, so string comparison semantics are
    untouched."""
    from collections import Counter

    from workshop3_etl_spark.functions.arrow_kernel import map_batches

    def _bigram_batches(b):
        counts: Counter = Counter()
        for t in b.column("text").to_pylist():
            toks = [x for x in t.split(" ") if x]
            counts.update(zip(toks, toks[1:]))
        if not counts:
            return None
        keys = list(counts.keys())
        return [
            [k[0] for k in keys],
            [k[1] for k in keys],
            [counts[k] for k in keys],
        ]

    return map_batches(
        docs, ["text"], "w1 string, w2 string, n bigint", _bigram_batches
    )


@register("search_phrase_match_topk", oracle=_PHRASE_ORACLE)
def search_phrase_match_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase search for the 3 most frequent corpus bigrams:
    per phrase the top-10 documents by adjacent-occurrence count,
    matched through the positional inverted index (broadcast
    query-term postings + (doc, position) adjacency equi-join). The
    oracle counts the same phrases with an independent per-document
    array scan — see the section comment for the serving-shape and
    scale notes."""
    from pyspark.sql import Window

    from workshop3_etl_spark.functions.cache import materialize_and_release

    # scan_parallel was TRIED here and reverted (interleaved A/B: a
    # wash at best) — the positional-postings chain is stage-count
    # bound, not scan-map bound.
    docs = load_table(spark, sf_dir, "documents")
    tk = docs.select("doc_id", F.expr(_TOKENS).alias("toks"))
    pos = tk.select(
        "doc_id", F.posexplode("toks").alias("p", "w")
    ).persist()
    try:
        # r11 session 2: the bigram census rides Arrow batch partials
        # (_bigram_count_partials_arrow) instead of a per-document
        # lead() window over every token row — one exchange + sort of
        # the full posting frame removed; counts are identical
        # integers.
        bc = _bigram_count_partials_arrow(docs).groupBy("w1", "w2").agg(
            F.sum("n").cast("long").alias("n_total")
        )
        head = bc.orderBy(F.desc("n_total"), "w1", "w2").limit(_PHRASE_N)
        wp = Window.orderBy(F.desc("n_total"), "w1", "w2")
        phrases = head.select(
            F.row_number().over(wp).cast("int").alias("phrase_id"),
            "w1", "w2", "n_total",
        )
        # Postings of the query terms only (broadcast semi-joins).
        p1 = pos.join(
            F.broadcast(phrases.select("phrase_id", F.col("w1").alias("w"))),
            "w",
        ).select("phrase_id", "doc_id", "p")
        p2 = pos.join(
            F.broadcast(phrases.select("phrase_id", F.col("w2").alias("w"))),
            "w",
        ).select("phrase_id", "doc_id", (F.col("p") - 1).alias("p"))
        occ = (
            p1.join(p2, ["phrase_id", "doc_id", "p"])
            .groupBy("phrase_id", "doc_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_occ"))
        )
        wr = Window.partitionBy("phrase_id").orderBy(
            F.desc("n_occ"), "doc_id"
        )
        out = (
            occ.withColumn("rank", F.row_number().over(wr).cast("int"))
            .filter(F.col("rank") <= _PHRASE_TOPK)
            .join(F.broadcast(phrases), "phrase_id")
            .select(
                "phrase_id",
                F.concat_ws(" ", "w1", "w2").alias("phrase"),
                "n_total",
                "rank",
                "doc_id",
                "n_occ",
            )
            .orderBy("phrase_id", "rank")
        )
        out = materialize_and_release(out, pos)
    except Exception:
        pos.unpersist()
        raise
    return out
