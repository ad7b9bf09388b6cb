"""Focused pins for the round-11 operator-internal rewrites.

Each test checks the rewritten internals against an INDEPENDENT
reference implementation (plain Python, or the pre-rewrite relational
plan rebuilt inline), not against the DuckDB oracle — the oracle
parity suite already covers that end to end. These exist so a later
refactor of the rewritten expression cannot silently change semantics
while staying plausible.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import functions as F

from tests.conftest import SF_CORRECT


def test_e2e_max_token_ratio_fold_matches_counter(spark):
    """corpus_e2e_training_prep (r11) computes max_token_ratio as a
    map-side longest-equal-run fold over sort_array(tokens). Pin it
    against Python's Counter on the real corpus: the fold must equal
    max multiplicity / total tokens for every document (NULL for
    empty token lists, as the old explode->groupBy->left-join path
    produced)."""
    from workshop3_etl_spark.operators.text import _TOKENS
    from workshop3_etl_spark.sources.tables import load_table

    docs = load_table(spark, SF_CORRECT, "documents")
    # the exact expression corpus_e2e_training_prep uses
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
    rows = (
        docs.selectExpr("doc_id", f"{_TOKENS} as t")
        .selectExpr(
            "doc_id",
            "t",
            f"cast({max_run} as double)"
            " / cast(nullif(size(t), 0) as double) as ratio",
        )
        .collect()
    )
    assert rows
    for r in rows:
        toks = list(r["t"])
        if not toks:
            assert r["ratio"] is None
        else:
            expected = max(Counter(toks).values()) / len(toks)
            assert r["ratio"] == expected, r["doc_id"]


def test_semdedup_argmin_matches_window_assignment(spark):
    """sim_semantic_dedup_clusters (r11) assigns cells via a map-side
    lexicographic array_min instead of the crossJoin + row_number
    window. Pin the observable consequence — per-cluster membership —
    against the OLD relational assignment rebuilt inline."""
    from pyspark.sql import Window

    from workshop3_etl_spark.operators.similarity import (
        _ivf_cells_df,
        dot_fold,
        sim_semantic_dedup_clusters,
    )
    from workshop3_etl_spark.sources.tables import load_table

    # old assignment: broadcast crossJoin + per-vector window
    emb = load_table(spark, SF_CORRECT, "embeddings")
    v = emb.select(
        "vec_id",
        F.col("embedding").alias("ev"),
        dot_fold("embedding", "embedding").alias("nrm"),
    )
    scored = v.crossJoin(F.broadcast(_ivf_cells_df(spark))).select(
        "vec_id",
        "cell",
        (F.col("cc") - 2 * dot_fold("ev", "centroid")).alias("adist"),
    )
    wv = Window.partitionBy("vec_id").orderBy(
        F.asc("adist"), F.asc("cell")
    )
    old_members = {
        r["cell"]: r["n"]
        for r in (
            scored.withColumn("rn", F.row_number().over(wv))
            .filter(F.col("rn") == 1)
            .groupBy("cell")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
    }
    new_members = {
        r["cluster"]: r["n_members"]
        for r in sim_semantic_dedup_clusters(spark, SF_CORRECT).collect()
    }
    assert new_members == old_members


def test_arrow_seed_map_matches_expression_form(spark):
    """substring_run_seeds (r11 session 2) computes the per-position
    k-gram md5 seeds in an Arrow batch pass. Pin it against the
    pre-rewrite expression form (transform/sequence/slice/md5 HOF):
    the two frames must be multiset-identical on the real corpus."""
    from workshop3_etl_spark.operators.dedup import (
        _SUBRUN_SEEDS_SPARK,
        _WINNOW_TOKS_SPARK,
        K_SUBRUN,
        substring_run_seeds,
    )
    from workshop3_etl_spark.sources.tables import load_table

    docs = load_table(spark, SF_CORRECT, "documents")
    old = (
        docs.selectExpr("doc_id", f"{_WINNOW_TOKS_SPARK} as toks")
        .filter(F.expr(f"size(toks) >= {K_SUBRUN}"))
        .selectExpr("doc_id", f"{_SUBRUN_SEEDS_SPARK} as ss")
        .select("doc_id", F.explode("ss").alias("s"))
        .select(
            "doc_id",
            F.col("s.pos").alias("pos"),
            F.col("s.h").alias("h"),
        )
    )
    new = substring_run_seeds(docs)
    assert new.schema.simpleString() == old.schema.simpleString()
    assert new.count() == old.count() > 0
    assert old.exceptAll(new).count() == 0
    assert new.exceptAll(old).count() == 0


def test_arrow_rad_signatures_match_expression_form(spark):
    """_rad_signatures_arrow (r11 session 2) computes the 72
    Rademacher folds in numpy with the engine's sequential IEEE fold
    order. Pin bits AND the raw proj doubles (used for ordering in
    the tier-2 windows, so bit-exactness matters) against the
    pre-rewrite HOF expression on the real embeddings."""
    from workshop3_etl_spark.operators.similarity import (
        _RAD_BITS,
        _RAD_SUB_BITS,
        _RAD_TABLES,
        _rad_dot_spark,
        _rad_plane,
        _rad_signatures_arrow,
    )
    from workshop3_etl_spark.sources.tables import load_table

    emb = load_table(spark, SF_CORRECT, "embeddings")
    v = emb.select("vec_id", F.col("embedding").alias("ev"))

    def _bits(t, h0, h1):
        return F.concat(
            *[
                F.when(
                    F.expr(_rad_dot_spark("ev", _rad_plane(t, h))) >= 0,
                    "1",
                ).otherwise("0")
                for h in range(h0, h1)
            ]
        )

    buckets = F.array(
        *[
            F.struct(
                _bits(t, 0, _RAD_BITS).alias("b"),
                _bits(t, _RAD_BITS, _RAD_BITS + _RAD_SUB_BITS).alias("s"),
                F.expr(
                    _rad_dot_spark(
                        "ev", _rad_plane(t, _RAD_BITS + _RAD_SUB_BITS)
                    )
                ).alias("proj"),
            )
            for t in range(_RAD_TABLES)
        ]
    )
    old = v.select(
        "vec_id", F.posexplode(buckets).alias("table_id", "bs")
    ).select(
        "vec_id",
        "table_id",
        F.col("bs.b").alias("b"),
        F.col("bs.s").alias("s"),
        F.col("bs.proj").alias("proj"),
    )
    new = _rad_signatures_arrow(emb)
    assert new.schema.simpleString() == old.schema.simpleString()
    assert new.count() == old.count() > 0
    assert old.exceptAll(new).count() == 0
    assert new.exceptAll(old).count() == 0


def test_ivfpq_argmin_assignment_matches_window_form(spark):
    """sim_ann_ivfpq_topk (r11 session 2) picks the nearest IVF cell
    with a map-side array_min over (dist2, cell, centroid) structs.
    Pin (cell, resid) per vector against the pre-rewrite
    crossJoin + row_number window form."""
    from pyspark.sql import Window

    from workshop3_etl_spark.operators.similarity import (
        _artifact_rows_cells,
        _ivf_cells_df,
        dot_fold,
    )
    from workshop3_etl_spark.sources.tables import load_table

    emb = load_table(spark, SF_CORRECT, "embeddings")
    v = emb.select(
        "vec_id",
        F.col("embedding").alias("ev"),
        dot_fold("embedding", "embedding").alias("nrm"),
    )
    cells = F.broadcast(_ivf_cells_df(spark))
    cscored = v.crossJoin(cells).select(
        "vec_id",
        "ev",
        "cell",
        "centroid",
        (F.col("cc") - 2 * dot_fold("ev", "centroid")).alias("dist2"),
    )
    wv = Window.partitionBy("vec_id").orderBy(F.asc("dist2"), F.asc("cell"))
    old = (
        cscored.withColumn("rn", F.row_number().over(wv))
        .filter(F.col("rn") == 1)
        .select(
            "vec_id",
            "cell",
            F.expr(
                "zip_with(cast(ev as array<double>), centroid,"
                " (x, y) -> x - y)"
            ).alias("resid"),
        )
    )
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
    new = (
        v.selectExpr("vec_id", "ev", f"array_min(array({assign_structs})) as mc")
        .select(
            "vec_id",
            F.col("mc.cell").alias("cell"),
            F.expr(
                "zip_with(cast(ev as array<double>), mc.centroid,"
                " (x, y) -> x - y)"
            ).alias("resid"),
        )
    )
    assert new.count() == old.count() > 0
    assert old.exceptAll(new).count() == 0
    assert new.exceptAll(old).count() == 0


def test_arrow_corr_moment_partials_sum_to_exact_moments(spark):
    """embedding_corr_pairs (r11 session 2) computes its exact integer
    moments from Arrow batch partials. Pin the summed partials against
    the pre-rewrite explode->groupBy form: identical integer p / s / n
    for every (i, j)."""
    from workshop3_etl_spark.operators.similarity import (
        _CORR_SCALE,
        _corr_moment_partials_arrow,
    )
    from workshop3_etl_spark.sources.tables import load_table

    emb = load_table(spark, SF_CORRECT, "embeddings")
    q = emb.select(
        F.expr(
            "transform(embedding, x -> cast(floor(cast(x as double)"
            f" * {_CORR_SCALE}) as bigint))"
        ).alias("ql")
    )
    old_p = {
        (r["i"], r["j"]): r["p"]
        for r in q.select(
            F.explode(
                F.expr(
                    "flatten(transform(sequence(1, 64), i ->"
                    " transform(sequence(i, 64), j -> struct("
                    " i as i, j as j,"
                    " element_at(ql, i) * element_at(ql, j) as p))))"
                )
            ).alias("e")
        )
        .groupBy("e.i", "e.j")
        .agg(F.sum(F.col("e.p").cast("decimal(38,0)")).alias("p"))
        .collect()
    }
    old_s = {
        r["dim"]: r["s"]
        for r in q.select(F.posexplode("ql").alias("pos", "qv"))
        .select((F.col("pos") + 1).alias("dim"), "qv")
        .groupBy("dim")
        .agg(F.sum("qv").cast("decimal(38,0)").alias("s"))
        .collect()
    }
    old_n = q.count()

    part = _corr_moment_partials_arrow(emb)
    new = (
        part.groupBy("i", "j")
        .agg(F.sum(F.col("p").cast("decimal(38,0)")).alias("p"))
        .collect()
    )
    new_p = {(r["i"], r["j"]): r["p"] for r in new if r["j"] >= 1}
    new_s = {r["i"]: r["p"] for r in new if r["j"] == 0 and r["i"] >= 1}
    new_n = next(r["p"] for r in new if r["i"] == 0 and r["j"] == 0)
    assert len(old_p) == 2080 and new_p == old_p
    assert len(old_s) == 64 and new_s == old_s
    assert int(new_n) == old_n


def test_arrow_novelty_partials_merge_to_exact_aggregates(spark):
    """corpus_ngram_novelty_curve (r11 session 2) builds its two legs
    from Arrow batch partials. Pin the merged partials against the
    pre-rewrite explode/size HOF legs: identical per-gram MIN(shard)
    map and identical per-shard (n_docs, n_gram_instances)."""
    from workshop3_etl_spark.operators.corpus import (
        _NOVELTY_GRAMS,
        _NOVELTY_SHARDS,
        _novelty_partials_arrow,
    )
    from workshop3_etl_spark.sources.tables import load_table

    docs = load_table(spark, SF_CORRECT, "documents")
    old_first = {
        r["g"]: r["first_shard"]
        for r in docs.select(
            (F.col("doc_id") % _NOVELTY_SHARDS).alias("shard"),
            F.explode(F.expr(_NOVELTY_GRAMS)).alias("g"),
        )
        .groupBy("g")
        .agg(F.min("shard").cast("long").alias("first_shard"))
        .collect()
    }
    old_stats = {
        r["shard"]: (r["n_docs"], r["n_inst"])
        for r in docs.select(
            (F.col("doc_id") % _NOVELTY_SHARDS).alias("shard"),
            F.expr(f"size({_NOVELTY_GRAMS})").alias("n_inst"),
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_inst").cast("long").alias("n_inst"),
        )
        .collect()
    }
    part = _novelty_partials_arrow(docs)
    new_first = {
        r["g"]: r["first_shard"]
        for r in part.filter(F.col("g").isNotNull())
        .groupBy("g")
        .agg(F.min("shard").cast("long").alias("first_shard"))
        .collect()
    }
    new_stats = {
        r["shard"]: (r["n_docs"], r["n_inst"])
        for r in part.filter(F.col("g").isNull())
        .groupBy("shard")
        .agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("n_inst").cast("long").alias("n_inst"),
        )
        .collect()
    }
    assert len(old_first) > 0 and new_first == old_first
    assert len(old_stats) > 0 and new_stats == old_stats


def test_arrow_semdedup_dominance_matches_self_join(spark):
    """sim_semantic_dedup_clusters (r11 session 2) computes dominance
    edges in a grouped Arrow kernel. Pin (cell, vec_id, n_edges)
    against the pre-rewrite (cell, chunk) self-join with interpreted
    cosine folds."""
    from pyspark.sql import Window

    from workshop3_etl_spark.operators.similarity import (
        _SEM_CAP,
        _SEM_TAU,
        _artifact_rows_cells,
        _semdedup_dominated_arrow,
        dot_fold,
    )
    from workshop3_etl_spark.sources.tables import load_table

    emb = load_table(spark, SF_CORRECT, "embeddings")
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
        "vec_id", "ev", "nrm",
        f"array_min(array({adist_structs})) as mc",
    ).select(
        "vec_id", "ev", "nrm",
        F.col("mc.cell").alias("cell"),
        (F.col("nrm") + F.col("mc.adist")).alias("pd2"),
    )
    wc = Window.partitionBy("cell").orderBy(F.desc("pd2"), F.asc("vec_id"))
    ch = (
        m.withColumn("rnk", F.row_number().over(wc))
        .withColumn("chunk", F.expr(f"(rnk - 1) div {_SEM_CAP}"))
        .persist()
    )
    try:
        a, b = ch.alias("a"), ch.alias("b")
        cos = (
            F.expr(
                "aggregate(zip_with(a.ev, b.ev,"
                " (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
                " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
            )
            / (F.sqrt(F.col("a.nrm")) * F.sqrt(F.col("b.nrm")))
        )
        old = {
            (r["cell"], r["vec_id"]): r["n"]
            for r in a.join(
                b,
                (F.col("a.cell") == F.col("b.cell"))
                & (F.col("a.chunk") == F.col("b.chunk"))
                & (F.col("a.rnk") < F.col("b.rnk")),
            )
            .filter(cos >= F.expr(_SEM_TAU))
            .groupBy(
                F.col("b.cell").alias("cell"),
                F.col("b.vec_id").alias("vec_id"),
            )
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
            .collect()
        }
        new = {
            (r["cell"], r["vec_id"]): r["n_edges"]
            for r in _semdedup_dominated_arrow(ch).collect()
        }
        assert len(old) > 0 and new == old
    finally:
        ch.unpersist()


def test_arrow_bigram_partials_match_lead_window(spark):
    """search_phrase_match_topk (r11 session 2) counts bigrams via
    Arrow batch partials. Pin the merged SUMs against the pre-rewrite
    per-document lead() window census."""
    from pyspark.sql import Window

    from workshop3_etl_spark.operators.text import (
        _TOKENS,
        _bigram_count_partials_arrow,
    )
    from workshop3_etl_spark.sources.tables import load_table

    docs = load_table(spark, SF_CORRECT, "documents")
    pos = docs.select("doc_id", F.expr(_TOKENS).alias("toks")).select(
        "doc_id", F.posexplode("toks").alias("p", "w")
    )
    wb = Window.partitionBy("doc_id").orderBy("p")
    old = {
        (r["w1"], r["w2"]): r["n_total"]
        for r in pos.select(
            F.col("w").alias("w1"), F.lead("w").over(wb).alias("w2")
        )
        .filter(F.col("w2").isNotNull())
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("n_total"))
        .collect()
    }
    new = {
        (r["w1"], r["w2"]): r["n_total"]
        for r in _bigram_count_partials_arrow(docs)
        .groupBy("w1", "w2")
        .agg(F.sum("n").cast("long").alias("n_total"))
        .collect()
    }
    assert len(old) > 0 and new == old


def test_arrow_kmeans_lloyd_step_matches_expression_form(spark):
    """ml's k-means Lloyd step (r11 session 2) assigns and sums in one
    Arrow batch pass. Pin its (cell, dim, s, n) rows against the
    pre-rewrite interpreted-fold assignment plus posexplode aggregate,
    integer for integer, on the grid corpus split over several
    partitions (so per-batch partials are merged). The centroids add
    an exact tie (cell 1 duplicates cell 0: the lowest cell must win,
    leaving cell 1 empty) and an unreachable cell (2)."""
    from workshop3_etl_spark.ml import (
        _KM_K,
        _km_assign,
        _km_grid_frame,
        _km_lloyd_step_arrow,
        _km_seed_cents,
        _km_update_sums,
    )

    g = _km_grid_frame(spark, SF_CORRECT).repartition(3).persist()
    try:
        cents = _km_seed_cents(g, _KM_K)
        cents[1] = list(cents[0])
        cents[2] = [1 << 22] * len(cents[0])
        cols = ("cell", "dim", "s", "n")
        old = sorted(
            tuple(r[c] for c in cols)
            for r in _km_update_sums(_km_assign(g, cents)).collect()
        )
        new = sorted(
            tuple(r[c] for c in cols)
            for r in _km_lloyd_step_arrow(g, cents).collect()
        )
        cells = {r[0] for r in old}
        assert len(cells) > 4 and not cells & {1, 2}
        assert new == old
    finally:
        g.unpersist()
