"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1), writes the full per-query report to a
sidecar JSON file (default ./bench_detail.json, override via
$SPARK_GRAFT_BENCH_DETAIL), and prints ONE COMPACT JSON line (<512
bytes) on stdout. The driver records the stdout line as BENCH_r{N}.json
— rounds 1-6 proved its tail capture truncates anything larger, which
left every official bench record machine-unreadable ("parsed": null);
the per-query dict therefore lives in the sidecar only.

Protocol: 1 untimed warmup run per query, then N timed samples
(default 5, $SPARK_GRAFT_BENCH_SAMPLES) reported as the MEDIAN. Round
6 ran byte-identical code twice and measured per-query swings up to
+-4x at best-of-2 on this shared-CPU host, so best-of-small-N is not
evidence; the median of 5 is the declared regression-tracking
statistic (sidecar also records min/max per query).

Headline set = the queries that exercise every physical-operator class:
scan-agg, multi-join, top-k, window, dedup, similarity, text.
"""

from __future__ import annotations

import json
import os
import sys
import time


# The headline: one query per physical-operator family.
HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_regional_revenue",
    "q6_forecast_revenue",
    "scalar_subquery_above_avg",
    "topk_orders_by_price",
    "window_top3_per_supplier",
    "sessionize_events_30min",
    "profile_describe_lineitem",
    "dedup_exact_documents",
    "dedup_minhash_lsh_candidates",
    "text_quality_score",
    "sim_cosine_topk_bruteforce",
    "stream_tumbling_hourly_counts",
    "asof_join_view_before_purchase",
    "range_join_orders_events_7d",
    "json_props_extract_stats",
    "salted_agg_returnflag_revenue",
    "sql_exists_high_value_suppliers",
    "pivot_qty_by_linestatus",
    "udf_named_functions_docs",
    "happiness_unified_profile",
    "corpus_e2e_training_prep",
    # round-3 second-session families
    "pit_features_purchase",
    "stats_welch_ttest_split_price",
    "basket_part_pairs_lift",
    "graph_triangle_count_copurchase",
    "layout_zorder_orders_key",
    "stream_append_closed_windows",
    # round-3 third-session flagships. (dedup_prefix_filter_jaccard
    # is deliberately NOT here: this synthetic corpus's flat
    # shingle-frequency distribution defeats prefix pruning —
    # 1.1M candidates for 255 true pairs at sf0.1, ~40s — which is
    # exactly the regime where the LSH family above is the right
    # tool; the exact join stays oracle-checked at sf0.01.)
    "sketch_hll_registers_custkeys",
    # round-3 fourth-session flagships: CMS sketch build+broadcast
    # lookup, sweep-line delta window, per-stratum packing window,
    # and the foreachBatch counter maintenance job (the only
    # foreachBatch shape in the set).
    "sketch_cms_heavy_custkeys",
    "concurrency_shipping_orders_daily",
    "corpus_pack_sequences",
    "stream_decayed_counters",
    # round-4 flagships. sim_neardup_lsh_buckets joins the
    # headline now that the three-tier bucket cap hard-bounds its
    # rerank pairs (pre-cap it was ~1M pairs / 7s at sf0.1 on this
    # flat-similarity corpus, and was deliberately excluded);
    # sim_ann_ivfpq_topk is the composed ANN index running purely
    # on frozen codebooks (no query-time KMeans); the decode query
    # is the Arrow encode->decode kernel chain.
    "sim_neardup_lsh_buckets",
    "sim_ann_ivfpq_topk",
    "multimodal_decode_bmp_wav",
    # round-5 flagships: the PII scrub (map-only regex pass — the
    # cheap-by-design privacy stage) and the cross-document
    # duplicated-shingle profile (the round's only new
    # shuffle-heavy operator: shingle-hash groupBy + join with
    # exchange reuse). Cost rationale in NOTES.
    "corpus_pii_scrub_stats",
    "dedup_crossdoc_ngram_fraction",
    # round-5: explicit bloom runtime-filter semi-join (two
    # map-side lineitem scans + broadcast verify join; ~0.95s
    # steady at sf0.1, almost all probe-expression arithmetic —
    # the at-scale pruning pattern, cost rationale in NOTES).
    "bloom_semijoin_lineitem_brand",
    # round-5: SemDeDup semantic dedup over frozen quantizer
    # clusters (~3.3s steady at sf0.1 — the within-cluster
    # pairwise stage evaluates ~180k interpreted 64-dim cosine
    # folds; O(n*cap) by the chunk contract, cost rationale in
    # NOTES).
    "sim_semantic_dedup_clusters",
    # round-5 fourth-session flagships: integer-token PageRank
    # (~2.6s steady at sf0.1 — edge-list build plus 3 sparse
    # matrix-vector shuffles, the iterative-graph representative
    # next to the one-shot triangle count); the incrementally-
    # maintained HLL (~1.1s — streaming harness + 256-row state
    # merge, the idempotent-merge counterpart of the CMS row);
    # and the Poisson bootstrap (~2.3s — ONE corpus pass carrying
    # all 16 replicates; cost is the 16 salted md5 folds per row,
    # linear in R by design). Cost rationale in NOTES.
    "graph_pagerank_copurchase",
    "stream_hll_distinct_users",
    "stats_poisson_bootstrap_ci",
    # round-5 fourth-session, continued: the incrementally-trained
    # OLS (~1.5s steady at sf0.1 — streaming harness + one
    # 6-integer sum; the model-from-mergeable-state shape) and the
    # zone-map pruning advisor (~1.4s uncached / sub-second warm —
    # one orders scan feeding a 2x64-bucket min/max aggregate).
    "stream_ols_incremental",
    "layout_zonemap_prune_stats",
    # round-5 fifth-session flagships: exact integer ACF over the
    # daily revenue spine (one orders groupBy + calendar-spine
    # self-join), the bucketed-prefix Mann-Whitney U (one lineitem
    # groupBy to distinct prices + two-level rank prefix), and the
    # integer-grid exact correlation pairs (map-side 2080-pair
    # expansion, one tiny exchange). Measured steady at sf0.1:
    # 0.7s / 1.6s / 1.8s — ACF is scan+spine; MWU pays the
    # distinct-price groupBy plus the bucketed rank windows; corr
    # pays ~4.2M interpreted element_at products (the documented
    # interpreted-fold cost family, one-shot monitor query).
    "ts_acf_daily_revenue",
    "stats_mannwhitney_u_returnflag",
    "embedding_corr_pairs",
    # round-5 fifth session, continued: the TPC-H fill-in set's
    # two headline-worthy plans — Q8 (widest star: 2 fact
    # shuffles + 4 broadcasts under a conditional-share agg) and
    # Q10 (aggregate-then-enrich top-k). The other four fill-ins
    # (q15/q18/q19/q22) are variations of already-benched shapes
    # and stay out of the headline.
    "q8_market_share",
    "q10_returned_items",
    # round-5 fifth session: MMR diversified rerank — pool
    # retrieval (one broadcast-query scan + TakeOrdered 20) plus
    # 7 pool-bounded greedy steps; the per-step localCheckpoints
    # dominate its wall time, constant in corpus size.
    "search_mmr_diversified_topk",
    # round-5 fifth session: key-sample join-size estimator (one
    # lineitem scan + per-key groupBy carrying a boolean).
    "dq_join_size_estimate_keysample",
    # round-5 fifth session: bootstrap median CI — one orders
    # scan with x17 in-stage replicate expansion feeding the
    # (rep, bucket)-partitioned weighted-median crossing.
    "stats_bootstrap_median_ci",
    # round-5 fifth session: temperature resampling materialized
    # (two map-side passes over documents + 5-row broadcast dims).
    "corpus_resample_temperature",
    # round-5 sixth session: the per-source document cap (~1.4s
    # steady at sf0.1) and the exact range-partition planner
    # (~1.4s steady). Both are stage-count-dominated planning
    # frames — two-level prefix spine + broadcast candidate
    # joins — whose data-proportional work is one groupBy each;
    # the local latency is fixed overhead, not scan cost.
    "corpus_source_cap_sample",
    "layout_range_partition_plan",
    # round-5 sixth session: the incrementally-maintained
    # histogram quantile service (~2.4s steady at sf0.1 — the
    # streaming availableNow harness dominates, as with the other
    # maintained-state rows; the probe itself touches only the
    # ~200-row merged bin frame).
    "stream_histogram_quantiles",
    # round-7 flagships: winnowing local fingerprinting (map-only
    # array-HOF extraction off ONE persisted per-doc frame + one
    # ids+hashes groupBy) and the join-view delta maintenance
    # (delta-only join + view-sized merge, full-recompute equality
    # audited inside the plan).
    "dedup_winnowing_fingerprints",
    "mv_join_incremental_maintenance",
    # round-8 flagship: the in-engine Lloyd k-means trainer (3
    # integer-grid iterations; per pass one map-only literal-fold
    # assignment + one (cell, dim) integer-sum shuffle, K-row
    # driver-held centroids between rounds — the MLlib protocol
    # as engine ops).
    "ml_kmeans_lloyd_embeddings",
    # round-8 flagship: exact-substring run dedup (seed-diagonal-
    # island formulation — one hash equi-join + one bounded
    # window; the quadratic risk is confined to capped hot
    # k-grams). The other round-8 operators stay out of the
    # headline deliberately: removal accounting and run families
    # re-run the same detection join (+ one window / the
    # already-benched CC engine — no new physical class); the
    # elbow and trained-ANN queries re-run the trainer 3x / 1x
    # (the trainer row above prices the shape); the LOJ stream
    # join and quantizer refresh are availableNow drain harnesses
    # whose cost is the harness, already represented by the five
    # stream_* maintenance rows.
    "dedup_exact_substring_runs",
    # round-9 flagship: the substring-removal ACTION — detection
    # join + per-doc interval union + the corpus text rewrite
    # (interval-array broadcast join + positional-filter HOF over
    # every document; the corpus-materialization physical class).
    "corpus_remove_substring_runs",
    # round-9 flagship: the CCNet-style bigram-LM quality filter —
    # in-plan model training (two bigram-key aggregates), corpus
    # scoring joins on the bigram keys, and the per-lang tercile
    # window. The other round-9 operators stay out of the headline
    # deliberately: text_bpe_train_merges is a 6-round driver-held
    # iterative loop whose cost is checkpoint-per-round harness
    # overhead (the PageRank/k-means iterative class, already
    # priced by those rows); sim_ann_pq_trained_topk re-runs the
    # k-means trainer machinery (priced by the trainer row) plus
    # an ADC scan priced by sim_ann_pq_adc_topk.
    "text_lm_perplexity_buckets",
    # round-9 session-2 flagships. BM25 is the ranked-retrieval
    # physical class: vocab-sized term-df aggregate, TakeOrdered
    # query head, broadcast-sided scoring joins, top-k.
    "search_bm25_topk",
    # The D x D moment class: double posexplode into a 4096-group
    # integer-sum shuffle (the widest bounded-output aggregate in
    # the engine) + the driver-held power iteration.
    "embedding_spectral_norm_power",
    # The other session-2 operators stay out of the headline
    # deliberately: dsir/nb/lm-family scoring joins are the
    # text_lm_perplexity_buckets class; the perceptron and the
    # trained-ANN rows re-run the kmeans/iterative class (priced
    # by ml_kmeans_lloyd_embeddings); link prediction is the
    # triangle/wedge class (priced by graph_* rows); the LSH eval
    # harness re-runs the minhash build + the blocked-jaccard
    # class (both priced); wav/holt/diversity/conformal are
    # sub-second map-only or bounded-fold rows; the three
    # availableNow stream refreshes are drain harnesses priced by
    # the five stream_* maintenance rows; the two mv_* index
    # maintainers re-run priced assignment/signature machinery
    # plus a bounded merge.
    #
    # round-10 flagship: the whitening APPLY transform — a D-row
    # moment aggregate broadcast into a map-only corpus x D
    # rewrite (the apply-leg physical class the estimate/maintain
    # rows don't price: output is corpus-proportional, ~1.1s
    # steady at sf0.1). The other round-10 operators stay out
    # deliberately: search_hybrid_indexed_topk is ~90% the
    # trained-IVF-PQ training loop (priced by the trainer rows;
    # its lexical+fusion legs add <1s and the composed row is
    # timed by `tools/ledger.py --queries all`);
    # corpus_e2e_curation_v3 re-runs the
    # detection/LM/DSIR stages already priced individually
    # (corpus_remove_substring_runs, text_lm_perplexity_buckets);
    # corpus_gate_attribution likewise re-runs its five priced
    # gates.
    "embedding_whitening_apply",
    # round-10 session-2 flagships (warm single-sample costs at
    # sf0.1 in parens). Each prices a physical class the set
    # lacked: the value-domain-bounded cumulative-window KS gate
    # (1.3s); the calendar-spine additive decomposition with a
    # centered window + dow-seasonal broadcast join (1.1s); the
    # positional-postings adjacency equi-join behind phrase
    # search (2.2s); the two-pass feedback-expansion retrieval —
    # two broadcast-sided BM25 scoring rounds over one persisted
    # postings frame (3.8s); the image dHash Arrow kernel +
    # 16-bit-quarter pigeonhole blocked self-join (2.5s); and the
    # vocabulary-sized MIN(shard) first-occurrence aggregate
    # behind the novelty curve (2.7s). search_eval_rp_ndcg_mrr
    # stays out (ground_truth eval class — it deliberately
    # re-runs the exact brute-force enumeration).
    "stats_ks_two_sample_price",
    "ts_seasonal_decompose_weekly",
    "search_phrase_match_topk",
    "search_prf_expanded_topk",
    "multimodal_bmp_dhash_neardup",
    "corpus_ngram_novelty_curve",
    # Late session-2 adds: content-defined chunking (the per-char
    # code-array Gear hash — one interpreted HOF pass over every
    # character, the heaviest pure-expression map in the engine,
    # 2.2s warm after the 10x codes-array rewrite) and the
    # rolling-origin backtest (14 bounded prefix refolds over the
    # 30-day spine, 0.6s — the bounded-fold class).
    "dedup_cdc_chunk_stats",
    "ts_backtest_rolling_origin",
    # Round-10 session-3 adds — new operator families, each a
    # physical class the set lacked: the calendar-bounded pair
    # frame behind the robust trend (Theil-Sen/Mann-Kendall);
    # the duration-domain risk window + product-limit fold
    # (Kaplan-Meier); the QI distinct-count sweep (l-diversity);
    # histogram split finding over the bounded bin frame (stump)
    # and its 3-round boosted-residual chain (6 scans of one
    # persisted projection); moment-subtraction LOO refits; the
    # 16-literal-fold silhouette scoring pass; Hamilton
    # apportionment on the source frame; the loop-free B^3
    # minimax PAVA; and the Sobel Arrow kernel over real BMPs.
    # stream_stump_histogram_refresh stays out (streaming
    # drain-harness class, the novelty-refresh precedent).
    "ts_theilsen_mann_kendall",
    "stats_kaplan_meier_conversion",
    "dq_l_diversity_profile",
    "ml_decision_stump_price_qty",
    "ml_gbt_stumps_train",
    "ml_loo_group_influence",
    "ml_kmeans_silhouette_eval",
    "corpus_token_budget_apportion",
    "ml_isotonic_calibration_bins",
    "multimodal_bmp_sobel_stats",
    # and the bounded-domain midrank Spearman (one contingency
    # aggregate + two marginal-frame windows).
    "stats_spearman_rank_corr",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # Suppress Spark's stdout noise so the JSON line stays clean.
    from workshop3_etl_spark.plans import registry
    from workshop3_etl_spark.session import get_spark

    spark = get_spark(app_name="bench")

    all_queries = registry.queries()
    headline = [n for n in HEADLINE if n in all_queries]
    # Setup outside the timed region: JVM/codegen warmup ONLY. Until
    # round 10 setup also called tables.enable_cache (repartition +
    # persist of every base table before the timed loop); the round-10
    # optimization rules class any base-table cache outside the timed
    # region as result pre-computation, so it was removed — every
    # timed sample now computes from the parquet inputs. Numbers
    # before/after this change are NOT comparable (the cut-over pair
    # is recorded in OPTIMIZATION_r10.md). Operators that need scan
    # parallelism on the one-row-group testdata layout now repartition
    # inside their own (timed) plans — guide §2.5's
    # repartition-immediately-after-the-read, priced where it is paid.
    t_setup0 = time.perf_counter()
    # Warm the noop-writer + codegen paths so the first timed query
    # doesn't absorb one-time JVM initialization.
    spark.range(1000).selectExpr("sum(id) as s", "avg(id) as a").write.format(
        "noop"
    ).mode("overwrite").save()
    # Warm the streaming engine too (state-store provider, streaming
    # planner, memory sink): ~4s of one-time class-loading otherwise
    # lands in the first streaming query's timing.
    import tempfile

    with tempfile.TemporaryDirectory() as _ckpt:
        (
            spark.readStream.format("rate").option("rowsPerSecond", "1").load()
            .groupBy()
            .count()
            .writeStream.format("memory")
            .queryName("_warm_stream")
            .outputMode("complete")
            .option("checkpointLocation", _ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    setup_sec = round(time.perf_counter() - t_setup0, 4)
    timings: dict[str, float] = {}
    spreads: dict[str, list[float]] = {}
    t_total0 = time.perf_counter()
    # This host shows 4-18% hypervisor CPU steal in bursts (vmstat
    # 'st'), which can triple a single sample; round 6's accidental
    # A/B (identical code benched twice) measured +-4x per-query
    # swings at 2 samples. Median of 5 is the regression statistic.
    samples = int(os.environ.get("SPARK_GRAFT_BENCH_SAMPLES", "5"))
    # One untimed warmup run per query before the timed samples:
    # whole-stage codegen + JIT for a SPECIFIC plan costs ~0.5-1s on
    # its first execution (measured: asof first-sample 1.43s vs
    # 0.63-0.65s steady state), and on a loaded box the second sample
    # still pays residual background C2 compilation — three rounds of
    # official asof numbers (0.33/0.68/0.91s) tracked box load, not
    # plan changes. Warmup makes the timed samples measure the
    # engine's steady-state throughput (the quantity BASELINE
    # comparisons care about) and is declared in the output JSON.
    warmup = int(os.environ.get("SPARK_GRAFT_BENCH_WARMUP", "1"))
    import statistics

    for name in headline:
        fn = all_queries[name]
        for _ in range(warmup):
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        runs: list[float] = []
        for _ in range(samples):
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            # noop sink materializes EVERY output column. count() would
            # let Catalyst prune un-consumed aggregate/projection
            # expressions and under-measure the query.
            df.write.format("noop").mode("overwrite").save()
            runs.append(time.perf_counter() - t0)
        timings[name] = round(statistics.median(runs), 4)
        spreads[name] = [round(min(runs), 4), round(max(runs), 4)]
        print(f"# {name}: {timings[name]:.3f}s", file=sys.stderr)
    loop_wall = round(time.perf_counter() - t_total0, 4)
    # headline value = sum of per-query median times (the loop wall
    # includes the extra samples)
    total = round(sum(timings.values()), 4)

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "", 1).isdigit() else sf
    detail_file = os.path.abspath(
        os.environ.get("SPARK_GRAFT_BENCH_DETAIL", "bench_detail.json")
    )
    detail = {
        "metric": "headline_query_wall_time",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "query_min_max": spreads,
        "stat": "median",
        "samples_per_query": samples,
        "warmup_runs_per_query": warmup,
        "loop_wall_sec": loop_wall,
        "setup_sec": setup_sec,
        "sf": sf_val,
        "cpus": spark.sparkContext.defaultParallelism,
    }
    with open(detail_file, "w", encoding="utf-8") as f:
        json.dump(detail, f)
    # PERF r10 could not build its per-query or scaling comparison
    # because the driver's 32-core and 8-core runs both overwrite
    # bench_detail.json (VERDICT r10 "Next round" #3). Keep that file
    # (latest run, stable name referenced by the stdout line) and ALSO
    # write a per-core-count copy so both of the driver's runs survive
    # on disk for per-query and scaling diffs.
    base, ext = os.path.splitext(detail_file)
    with open(f"{base}_c{detail['cpus']}{ext}", "w", encoding="utf-8") as f:
        json.dump(detail, f)
    # stdout: ONE compact line (<512 bytes) the driver's tail capture
    # can always parse; the per-query dict lives in detail_file.
    print(
        json.dumps(
            {
                "metric": "headline_query_wall_time",
                "value": total,
                "unit": "sec",
                "n_queries": len(timings),
                "stat": "median",
                "samples_per_query": samples,
                "setup_sec": setup_sec,
                "loop_wall_sec": loop_wall,
                "sf": sf_val,
                "detail_file": detail_file,
            },
            separators=(",", ":"),
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
