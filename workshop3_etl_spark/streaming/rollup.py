"""The engine's maintained streaming state: eleven families of
epoch-partial state, each kept current by a foreachBatch job so its
answer is always queryable without rescanning the fact stream — the
incremental rollup (the hypertable-continuous-aggregate shape, with
decayed counters as a read-time view over it), CMS, HLL, OLS,
histogram, quantizer, bigram LM, BM25, covariance moments, n-gram
novelty and decision stump.

A family declares two things, once, as a
``compaction.EpochState``: its per-micro-batch ``partial`` (the
``_batch_*_partial`` functions below) and its associative ``merge``.
Everything else is shared and lives in streaming/compaction.py: the
layout (each micro-batch overwrites its OWN ``epoch=<batch id>/``
partition, so a batch replayed in the crash window rewrites itself
instead of double-counting), the read (``merge`` over the live
partials), the crash-safe compaction (``merge`` over the old epochs)
and the maintenance job (every availableNow stream runs through
streaming/runner.py). ``FAMILY.maintain(stream, path, ckpt)``,
``FAMILY.read(spark, path)``, ``FAMILY.write(batch, epoch, path)``
and ``FAMILY.compact(spark, path, through_epoch)`` are the whole
surface. The rollup alone also partitions by ``day``, so a
day-filtered read prunes to ``epoch=*/day=d``.

Reference parity: the reference maintains running per-country
aggregates in a process-local dict (`kafka/consumer.py:123-151`);
this is that operator made durable, partition-pruned, restartable,
and replay-safe.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from workshop3_etl_spark.streaming.compaction import EpochState, read_live


def _batch_rollup(batch: DataFrame) -> DataFrame:
    return (
        batch.select(
            F.to_date("ts").alias("day"),
            "event_type",
            (F.col("value").cast("decimal(18,2)") * 100)
            .cast("long")
            .alias("cents"),
        )
        .groupBy("day", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("cents").alias("value_cents"),
        )
    )


ROLLUP = EpochState(
    partial=_batch_rollup,
    merge=lambda state: state.groupBy("day", "event_type").agg(
        F.sum("n_events").cast("long").alias("n_events"),
        F.sum("value_cents").cast("long").alias("value_cents"),
    ),
    partition_cols=("epoch", "day"),
)


# --------------------------------------------------------------------
# Incremental DECAYED counters: the streaming realization of
# operators/timeseries.ts_decayed_popularity (that query is this
# job's batch oracle). State = the same epoch-partitioned per-day
# partials as the rollup (day granularity is exactly the granularity
# the batch query decays at); the decayed score is computed AT READ
# TIME from the day counts relative to the max day seen, so events
# past the horizon contribute exactly zero per day — bit-identical to
# the batch SQL at ANY state age.
#
# Why not the O(1)-per-key halve-and-add recurrence as the stored
# state? Right-shifting an AGGREGATED score truncates expired
# contributions collectively instead of per event: four events worth
# 2^30 each sum to 2^32, and 2^32 >> 31 = 2, where the batch query
# (and per-event aging) gives 0. The recurrence is exact only while
# every live contribution stays above the truncation floor — which
# day-granular state sidesteps entirely, while ALSO giving replay
# idempotence for free (overwrite-by-epoch, no read-modify-write).
# The halve-and-add equivalence itself remains proven batch-side in
# tests/test_incremental_rollup.test_decayed_counters_incremental_equivalence.
# State stays bounded: days x types per epoch, and a compactor can
# fold epochs and days older than the horizon into (event_type,
# n_events_expired) tail rows without changing any result.
# --------------------------------------------------------------------

from workshop3_etl_spark.operators.timeseries import _DECAY_HORIZON_DAYS


def read_decayed_counters(spark: SparkSession, state_path: str) -> DataFrame:
    """Query surface over the counter state: the same columns
    ts_decayed_popularity returns, computed with the same per-day
    dyadic weights relative to the max day in state."""
    daily = ROLLUP.read(spark, state_path).select(
        "day", "event_type", "n_events"
    )
    md = daily.agg(F.max("day").alias("md"))
    aged = daily.crossJoin(F.broadcast(md)).select(
        "event_type",
        "n_events",
        F.datediff(F.col("md"), F.col("day")).alias("age"),
    )
    w = F.when(
        F.col("age") <= _DECAY_HORIZON_DAYS,
        F.expr(
            f"shiftleft(cast(1 as bigint), {_DECAY_HORIZON_DAYS} - age)"
        )
        * F.col("n_events"),
    ).otherwise(F.lit(0).cast("long"))
    return (
        aged.groupBy("event_type")
        .agg(
            F.sum("n_events").cast("long").alias("n_events"),
            (
                F.sum(w).cast("double")
                / F.lit(2.0 ** _DECAY_HORIZON_DAYS)
            ).alias("decayed_count"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------
# Incremental COUNT-MIN SKETCH: streaming heavy-hitter state as
# epoch-partitioned partial sketches. CMS is a MERGEABLE summary —
# elementwise sums of partial counter grids equal the grid built over
# the union of the inputs — so the same epoch-overwrite protocol that
# makes the rollup replay-safe applies verbatim: each micro-batch
# writes ITS OWN d x w partial (<= CMS_D * CMS_W rows per epoch,
# state bounded regardless of key cardinality — the reason to ship a
# sketch instead of exact per-key counts at 100 TB), a replayed batch
# rewrites its own epoch, and the read-side merge is one bounded
# groupBy. Compaction folds epochs through the shared crash-safe
# manifest protocol (streaming/compaction.py).
#
# The sketch constants (operators/sketches.py) are shared verbatim
# with the batch CMS query and its DuckDB oracle, so the streaming
# state is hash-checkable against the batch answer — additive
# integer counters, no order sensitivity anywhere.
# --------------------------------------------------------------------

from workshop3_etl_spark.operators.sketches import (  # noqa: E402
    CMS_D,
    cms_bucket_sql,
    hll_register_partial,
)


def _batch_cms_partial(batch: DataFrame, key_col: str) -> DataFrame:
    stack_args = ", ".join(
        f"{i}, {cms_bucket_sql(key_col, i)}" for i in range(CMS_D)
    )
    return (
        batch.select(key_col)
        .select(F.expr(f"stack({CMS_D}, {stack_args}) AS (i, bucket)"))
        .groupBy("i", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )


CMS = EpochState(
    partial=lambda batch: _batch_cms_partial(batch, "user_id"),
    merge=lambda state: state.groupBy("i", "bucket").agg(
        F.sum("c").cast("long").alias("c")
    ),
)


# --------------------------------------------------------------------
# Incrementally-maintained HyperLogLog registers: the other mergeable-
# sketch identity. CMS partials merge by elementwise SUM (additive —
# exactness requires each input row to land exactly once, which the
# epoch-overwrite replay protocol provides); HLL registers merge by
# per-bucket MAX, which is additionally IDEMPOTENT: a duplicated
# partial — an at-least-once upstream that delivered the same rows in
# two different micro-batches — cannot change the merged state. The
# maintenance job still rides the shared epoch/compaction protocol
# (uniform layout, space reclamation), but its correctness does not
# depend on it. State is <= 256 rows per epoch regardless of key
# cardinality.
#
# The register arithmetic (operators/sketches.py hll_register_partial)
# is shared verbatim with the batch HLL query and its DuckDB oracle,
# so the streaming state is hash-checkable against the batch answer.
# --------------------------------------------------------------------


HLL = EpochState(
    partial=lambda batch: hll_register_partial(batch, "user_id"),
    merge=lambda state: state.groupBy("b").agg(F.max("m_b").alias("m_b")),
)


# --------------------------------------------------------------------
# Incrementally-trained OLS: the streaming "model training" shape.
# A linear fit has a 6-number sufficient statistic
# (n, Sx, Sy, Sxx, Sxy, Syy), every component a plain integer SUM —
# additive, order-independent, map-side combinable — so the model is
# maintained exactly like the CMS grid: one tiny partial row per
# micro-batch under an epoch partition, merged by summation at read,
# folded by the shared crash-safe compaction. The coefficients are a
# closed-form expression over the merged sums, so "retraining" after
# any number of new batches costs one 6-column sum over
# O(#epochs) rows — never a rescan of the fact stream. x is the
# integer hour index (frozen base), y is integer cents (the
# engine-stable money canon); at the validation SFs every sum is
# < 2^53 so even the double closed form is exact IEEE. Beyond ~sf100
# the sums would graduate to decimal(38,0) — same protocol.
# --------------------------------------------------------------------

# hours-since-epoch of 2024-01-01 00:00 UTC — the testdata calendar
# origin; a fixed literal so x stays O(hours-of-history).
OLS_BASE_HOUR = 473_352


def _batch_ols_partial(batch: DataFrame) -> DataFrame:
    from workshop3_etl_spark.operators.stats import _cents

    xy = batch.selectExpr(
        f"unix_micros(ts) div 3600000000 - {OLS_BASE_HOUR} as x",
        f"{_cents('value')} as y",
    )
    return xy.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )


OLS = EpochState(
    partial=_batch_ols_partial,
    merge=lambda state: state.agg(
        *(
            F.sum(c).cast("long").alias(c)
            for c in ("n", "sx", "sy", "sxx", "sxy", "syy")
        )
    ),
)


# --------------------------------------------------------------------
# Incrementally-maintained equi-width histogram: the mergeable
# QUANTILE state, completing the sketch-maintenance family (CMS = sum,
# HLL = max, OLS = moment sums, histogram = per-bin sum). Bins are
# fixed-width over the integer-cents canon — floor(cents / width) —
# so the state is DOMAIN-bounded (value range / width rows per epoch,
# independent of row count) and partials merge by per-bin addition:
# the streaming state equals the batch-built histogram exactly for
# any micro-batch split. A quantile probe then needs only the merged
# bin frame: the p-quantile's bracket is the first bin whose running
# count reaches ceil(p*n/100) — every step integer arithmetic, so the
# whole service is hash-checkable against a batch oracle.
#
# Bracket width IS the error bound: the true quantile lies inside
# [bin*width, (bin+1)*width) cents by construction. Tightening costs
# state linearly (width 256 => ~$2.56 brackets, <=200 live rows for
# this domain) — the classic fixed-grid/t-digest trade made explicit.
# --------------------------------------------------------------------

HIST_BIN_CENTS = 256


def hist_bin_sql(value_col: str) -> str:
    """Engine-stable bin of the integer-cents canon (the
    dq_table_checksums discipline): cents = floor(x*100 + 0.5) in
    exact double arithmetic, and the bin division is done as a
    DOUBLE floor too — ``floor(floor(y)/w) == floor(y/w)`` for
    integer w, and dividing by a power of two is exact — because
    integer division syntax is NOT engine-stable on negatives
    (Spark's ``div`` truncates toward zero, DuckDB's ``//`` floors).
    This expression runs verbatim in both engines and keeps the
    bracket invariant [bin*w, (bin+1)*w) for negative values (a
    refund column) as well as positive ones."""
    return (
        f"cast(floor(({value_col} * 100e0 + 0.5e0)"
        f" / {HIST_BIN_CENTS}e0) as bigint)"
    )


def _batch_hist_partial(batch: DataFrame, value_col: str = "value") -> DataFrame:
    return (
        batch.selectExpr(f"{hist_bin_sql(value_col)} as bin")
        .groupBy("bin")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


HISTOGRAM = EpochState(
    partial=_batch_hist_partial,
    merge=lambda state: state.groupBy("bin").agg(
        F.sum("cnt").cast("long").alias("cnt")
    ),
)


# --------------------------------------------------------------------
# Incrementally-maintained QUANTIZER refresh sums: the k-means UPDATE
# step's sufficient statistics — per-(cell, dim) integer-grid sums
# under the FROZEN production quantizer (operators/ivf_centroids.py)
# — maintained per micro-batch. Mini-batch k-means itself is order-
# dependent (centroids move between batches), so it cannot be
# batch-split-invariantly oracled; the production-shaped alternative
# IS associative: keep assigning with the shipped quantizer, let the
# K*D grid sums accumulate, and "refresh the model" = one floor-div
# pass over O(K*D) state rows (one Lloyd step over everything seen),
# never a rescan. Completes the maintained-state family: CMS = sum,
# HLL = max, OLS = moment sums, histogram = per-bin sum,
# quantizer = per-(cell, dim) grid sums.
# --------------------------------------------------------------------

_QUANT_GRID = 2097152  # 2^21 — the ml.py k-means grid canon


def _batch_quantizer_partial(batch: DataFrame) -> DataFrame:
    """One micro-batch's (cell, dim, sg, n) grid sums: frozen-cell
    assignment (broadcast 16-literal-cell argmin — the semdedup /
    IVF protocol) + posexplode of the grid ints."""
    from pyspark.sql import Window

    from workshop3_etl_spark.operators.similarity import (
        _ivf_cells_df,
        dot_fold,
    )

    v = batch.filter(F.expr("size(embedding) = 64")).select(
        "vec_id", F.col("embedding").alias("ev")
    )
    scored = v.crossJoin(
        F.broadcast(_ivf_cells_df(batch.sparkSession))
    ).select(
        "vec_id",
        "ev",
        "cell",
        (F.col("cc") - 2 * dot_fold("ev", "centroid")).alias("adist"),
    )
    wv = Window.partitionBy("vec_id").orderBy(
        F.asc("adist"), F.asc("cell")
    )
    assigned = (
        scored.withColumn("rn", F.row_number().over(wv))
        .filter(F.col("rn") == 1)
        .selectExpr(
            "cell",
            f"transform(ev, x -> cast(floor(cast(x as double)"
            f" * {_QUANT_GRID}.0) as bigint)) as g",
        )
    )
    return (
        assigned.select("cell", F.posexplode("g").alias("pos", "val"))
        .groupBy("cell", "pos")
        .agg(
            F.sum("val").cast("long").alias("sg"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
        .selectExpr("cell", "cast(pos + 1 as int) as dim", "sg", "n")
    )


QUANTIZER = EpochState(
    partial=_batch_quantizer_partial,
    merge=lambda state: state.groupBy("cell", "dim").agg(
        F.sum("sg").cast("long").alias("sg"),
        F.sum("n").cast("long").alias("n"),
    ),
)


# --------------------------------------------------------------------
# Incrementally-maintained BIGRAM-LM counts: the CCNet-style quality
# filter's model statistics (operators/text.py
# text_lm_perplexity_buckets) maintained per micro-batch — per
# (lang, w1, w2) integer counts over the length-gated training slice.
# Counts are associative under ANY micro-batch split (same argument
# as the quantizer grid sums), so "refresh the model" = one rollup
# over the live partials; C1 (left-context totals) and the top
# bigram fall out of the same state with no corpus rescan. Extends
# the maintained-state family: quality-model counts next to CMS/HLL/
# OLS/histogram/quantizer.
# --------------------------------------------------------------------


def _batch_lm_partial(batch: DataFrame) -> DataFrame:
    """One micro-batch's (lang, w1, w2, c2) bigram counts over the
    training-slice rows (the text.py gate, applied in-stream)."""
    from workshop3_etl_spark.operators.text import (
        _LM_BIGRAMS,
        _LM_TRAIN_GATE,
        _TOKENS,
    )

    return (
        batch.selectExpr("lang", f"{_TOKENS} as toks")
        .filter(F.expr(_LM_TRAIN_GATE))
        .select("lang", F.explode(F.expr(_LM_BIGRAMS)).alias("b"))
        .select(
            "lang",
            F.col("b.w1").alias("w1"),
            F.col("b.w2").alias("w2"),
        )
        .groupBy("lang", "w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("c2"))
    )


BIGRAM_LM = EpochState(
    partial=_batch_lm_partial,
    merge=lambda state: state.groupBy("lang", "w1", "w2").agg(
        F.sum("c2").cast("long").alias("c2")
    ),
)


# --------------------------------------------------------------------
# BM25 inverted-index maintenance: the search family's streaming leg
# (search_inverted_index_postings / search_bm25_topk are the batch
# build + serve). State is per-term (df, cf) plus one term=NULL
# corpus row (n_docs, n_tokens) — every piece an integer count that
# is associative under ANY micro-batch split because each document
# arrives in exactly one batch, so the refreshed index equals the
# one-shot batch build (the oracle's assertion). Same
# epoch-partitioned, replay-idempotent partial protocol as the
# rollup/LM/quantizer states above.
# --------------------------------------------------------------------


def _batch_bm25_partial(batch: DataFrame) -> DataFrame:
    """One micro-batch's index partial: per-term (term, df, cf) rows
    plus the term=NULL corpus-stats row (df=n_docs, cf=n_tokens)."""
    from workshop3_etl_spark.operators.text import _TOKENS

    tk = batch.selectExpr("doc_id", f"{_TOKENS} as toks")
    terms = (
        tk.select("doc_id", F.explode("toks").alias("w"))
        .groupBy(F.col("w").alias("term"))
        .agg(
            F.countDistinct("doc_id").cast("long").alias("df"),
            F.count(F.lit(1)).cast("long").alias("cf"),
        )
    )
    stats = tk.agg(
        F.count(F.lit(1)).cast("long").alias("df"),
        F.coalesce(
            F.sum(F.expr("size(toks)")).cast("long"), F.lit(0).cast("long")
        ).alias("cf"),
    ).selectExpr("cast(null as string) as term", "df", "cf")
    return terms.unionByName(stats)


BM25 = EpochState(
    partial=_batch_bm25_partial,
    merge=lambda state: state.groupBy("term").agg(
        F.sum("df").cast("long").alias("df"),
        F.sum("cf").cast("long").alias("cf"),
    ),
)


# --------------------------------------------------------------------
# Covariance MOMENT-MATRIX maintenance: the streaming leg of
# embedding_spectral_norm_power (operators/similarity.py) — the D x D
# integer moment sums (sum x_a*x_b), the D marginals (sum x_a), and
# the row count maintained as epoch partials over the embeddings
# stream. All three are plain integer sums over disjoint row sets, so
# the refreshed state equals the one-shot batch moment pass under ANY
# micro-batch split; the power iteration then runs on the refreshed
# driver-held artifact without rescanning the corpus. State rows are
# (da, db, v): db >= 1 is a moment cell, db = 0 the marginal of da,
# and (0, 0) the row count — one frame, one merge key.
# --------------------------------------------------------------------


def _batch_moment_partial(batch: DataFrame) -> DataFrame:
    """One micro-batch's (da, db, v) moment rows over the 2^18 grid
    (the spectral operator's grid)."""
    from workshop3_etl_spark.operators.similarity import (
        _PCA_DIM,
        _PCA_GRID,
    )

    g = batch.filter(F.expr(f"size(embedding) = {_PCA_DIM}")).selectExpr(
        "transform(embedding, x -> cast(floor(cast(x as double)"
        f" * {_PCA_GRID}.0) as bigint)) as xg"
    )
    e1 = g.select(F.posexplode("xg").alias("pa", "va"), "xg")
    mo = (
        e1.select((F.col("pa") + 1).alias("da"), "va",
                  F.posexplode("xg").alias("pb", "vb"))
        .groupBy("da", (F.col("pb") + 1).alias("db"))
        .agg(F.sum(F.col("va") * F.col("vb")).cast("long").alias("v"))
    )
    marg = (
        g.select(F.posexplode("xg").alias("pa", "va"))
        .groupBy((F.col("pa") + 1).alias("da"))
        .agg(F.sum("va").cast("long").alias("v"))
        .selectExpr("da", "cast(0 as int) as db", "v")
    )
    cnt = g.agg(F.count(F.lit(1)).cast("long").alias("v")).selectExpr(
        "cast(0 as int) as da", "cast(0 as int) as db", "v"
    )
    return mo.selectExpr(
        "cast(da as int) as da", "cast(db as int) as db", "v"
    ).unionByName(marg.selectExpr(
        "cast(da as int) as da", "db", "v"
    )).unionByName(cnt)


MOMENTS = EpochState(
    partial=_batch_moment_partial,
    merge=lambda state: state.groupBy("da", "db").agg(
        F.sum("v").cast("long").alias("v")
    ),
)


# --------------------------------------------------------------------
# N-GRAM NOVELTY maintenance: the streaming leg of
# corpus_ngram_novelty_curve (operators/corpus.py) — the per-gram
# first-shard attribution and the per-shard doc/instance counters
# maintained as epoch partials over the documents stream. The merge
# laws differ per row kind and both are replay-safe: gram rows merge
# by MIN(shard) (associative, commutative AND idempotent — a
# replayed partial cannot shift a minimum), counter rows by SUM over
# disjoint row sets (exact under the epoch-partition overwrite
# discipline). State rows are (g, shard, n_docs, n_inst): g set is a
# gram's first-shard-so-far, g NULL is a shard's counter row.
# --------------------------------------------------------------------


def _batch_novelty_partial(batch: DataFrame) -> DataFrame:
    """One micro-batch's novelty partial: per-gram (g, min shard)
    rows plus per-shard g=NULL counter rows."""
    from workshop3_etl_spark.operators.corpus import (
        _NOVELTY_GRAMS,
        _NOVELTY_SHARDS,
    )

    # r11 (guide §2.5, the scan_parallel remedy applied to the
    # micro-batch): the file-source batch arrives with the input's
    # degenerate split count (one task for a one-row-group file), and
    # the tokenize + 3-gram HOF map below — the refresh's heaviest
    # stage, feeding BOTH the per-gram and the per-shard legs — ran
    # serially on it. Width tracks defaultParallelism; state content
    # is unchanged (the same rows enter the same aggregates), only
    # the map-side task count moves. Measured: interleaved A/B won
    # 7/8 pairs (8c: 9.0/9.2/8.6/9.3 -> 7.3/7.6/6.7/7.7s, ~1.2x;
    # details in OPTIMIZATION_r11.md, streaming floor section).
    n = batch.sparkSession.sparkContext.defaultParallelism
    if n > 1:
        batch = batch.repartition(n)
    tk = batch.selectExpr(
        f"cast(doc_id % {_NOVELTY_SHARDS} as bigint) as shard",
        f"{_NOVELTY_GRAMS} as gs",
    )
    grams = (
        tk.select("shard", F.explode("gs").alias("g"))
        .groupBy("g")
        .agg(F.min("shard").cast("long").alias("shard"))
        .selectExpr(
            "g", "shard",
            "cast(0 as bigint) as n_docs",
            "cast(0 as bigint) as n_inst",
        )
    )
    stats = tk.groupBy("shard").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.coalesce(
            F.sum(F.expr("size(gs)")).cast("long"),
            F.lit(0).cast("long"),
        ).alias("n_inst"),
    ).selectExpr("cast(null as string) as g", "shard", "n_docs", "n_inst")
    return grams.unionByName(stats)


def _first_shards(state: DataFrame) -> DataFrame:
    """Gram rows merged by MIN: (g, shard of first appearance)."""
    return (
        state.filter(F.col("g").isNotNull())
        .groupBy("g")
        .agg(F.min("shard").cast("long").alias("shard"))
    )


def _shard_counters(state: DataFrame) -> DataFrame:
    """Counter rows merged by SUM: (shard, n_docs, n_inst)."""
    return (
        state.filter(F.col("g").isNull())
        .groupBy("shard")
        .agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("n_inst").cast("long").alias("n_inst"),
        )
    )


def _merge_novelty(state: DataFrame) -> DataFrame:
    """Both merge laws, in the partial's row layout."""
    grams = _first_shards(state).selectExpr(
        "g",
        "shard",
        "cast(0 as bigint) as n_docs",
        "cast(0 as bigint) as n_inst",
    )
    counters = _shard_counters(state).selectExpr(
        "cast(null as string) as g", "shard", "n_docs", "n_inst"
    )
    return grams.unionByName(counters)


NOVELTY = EpochState(partial=_batch_novelty_partial, merge=_merge_novelty)


def read_novelty_state(
    spark: SparkSession, state_path: str
) -> tuple[DataFrame, DataFrame]:
    """The merged novelty state over the live partials, one frame per
    merge law: (firsts(g, first_shard), per_shard(shard, n_docs,
    n_inst))."""
    live = read_live(spark, state_path)
    firsts = _first_shards(live).withColumnRenamed("shard", "first_shard")
    return firsts, _shard_counters(live)


# --------------------------------------------------------------------
# Incrementally-maintained decision-stump label histogram: the tree
# family's mergeable state (CMS = sum, HLL = max, OLS = moment sums,
# histogram = per-bin sum, stump = per-bin LABEL-MOMENT sum). Each
# micro-batch writes its (price_bin -> n, sum_y) partial under its
# epoch partition (idempotent under replay); partials merge by
# per-bin addition, so the refreshed histogram — and therefore the
# split the serving leg derives from it — equals the batch-built one
# exactly for any micro-batch split. State is VALUE-DOMAIN-bounded
# (price range / 2^14 cents rows per epoch, independent of row
# count).
# --------------------------------------------------------------------


def _batch_stump_partial(batch: DataFrame) -> DataFrame:
    from workshop3_etl_spark.ml import _STUMP_BIN_W, _STUMP_CENTS

    return (
        batch.selectExpr(
            f"({_STUMP_CENTS}) div {_STUMP_BIN_W} as bin_id",
            "cast(l_quantity as bigint) as y",
        )
        .groupBy("bin_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("y").cast("long").alias("sy"),
        )
    )


STUMP = EpochState(
    partial=_batch_stump_partial,
    merge=lambda state: state.groupBy("bin_id").agg(
        F.sum("n").cast("long").alias("n"),
        F.sum("sy").cast("long").alias("sy"),
    ),
)
