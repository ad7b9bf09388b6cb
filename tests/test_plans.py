"""Physical-plan hygiene: the properties that make these queries hold
up at 100 TB, asserted on the actual optimized plans.

These tests read ``explain('formatted')`` output — if a filter stops
reaching the parquet scan or a dimension join silently degrades to
sort-merge, they fail before a benchmark ever notices.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_CORRECT
from workshop3_etl_spark.operators.relational import (
    q1_pricing_summary,
    q3_shipping_priority,
    q5_regional_revenue,
    q6_forecast_revenue,
    topk_orders_by_price,
)


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


@pytest.mark.parametrize(
    "query", [q6_forecast_revenue, q1_pricing_summary], ids=lambda q: q.__name__
)
def test_q6_filter_pushdown(spark, query):
    plan = _plan(query(spark, SF_CORRECT))
    # range predicates must reach the parquet scan (q1's through the
    # scan_parallel exchange)
    assert "PushedFilters:" in plan
    assert "l_shipdate" in plan.split("PushedFilters:")[1].split("\n")[0]


def test_crossdoc_ngram_fraction_scans_documents_once(spark):
    """The doc-frequency count is a window over the shingle partition:
    a groupBy joined back would scan and re-shingle the corpus twice,
    since Catalyst does not share a repeated subtree."""
    from workshop3_etl_spark.operators.dedup import dedup_crossdoc_ngram_fraction

    df = dedup_crossdoc_ngram_fraction(spark, SF_CORRECT)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan parquet") == 1


def test_q1_column_pruning(spark):
    plan = _plan(q1_pricing_summary(spark, SF_CORRECT))
    # ReadSchema must not include columns the query never touches
    read_schema = plan.split("ReadSchema:")[1].split("\n")[0]
    assert "l_orderkey" not in read_schema
    assert "l_partkey" not in read_schema
    assert "l_quantity" in read_schema


def test_q3_broadcasts_customer(spark):
    plan = _plan(q3_shipping_priority(spark, SF_CORRECT))
    assert "BroadcastHashJoin" in plan


def test_q5_broadcasts_dims(spark):
    plan = _plan(q5_regional_revenue(spark, SF_CORRECT))
    # region/nation/supplier joins must be broadcast, and at most the
    # two fact-fact joins may shuffle
    assert plan.count("BroadcastHashJoin") >= 3


def test_topk_plans_take_ordered(spark):
    plan = _plan(topk_orders_by_price(spark, SF_CORRECT))
    assert "TakeOrderedAndProject" in plan


def test_q1_stays_in_codegen(spark):
    df = q1_pricing_summary(spark, SF_CORRECT)
    # no Python/interpreted operators in the hot path (the formatted
    # plan under AQE hides codegen stage markers pre-execution, so
    # codegen presence is asserted via the codegen explain mode)
    plan = _plan(df)
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    codegen = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "codegen"
    )
    assert "WholeStageCodegen" in codegen


def test_driver_priority_budget():
    """The driver runs only the first 50 queries() entries; the curated
    priority list must be exactly 50 registered, oracled names, and the
    first 50 must include every operator family."""
    from workshop3_etl_spark.plans import registry

    qs = registry.queries()
    oracles = registry.oracles()
    prio = registry.DRIVER_PRIORITY
    assert len(prio) == 50
    assert len(set(prio)) == 50
    missing = [n for n in prio if n not in qs]
    assert not missing, f"priority names not registered: {missing}"
    no_oracle = [n for n in prio if n not in oracles]
    assert not no_oracle, f"priority names without oracle: {no_oracle}"
    first50 = list(qs)[:50]
    assert first50 == list(prio)
    for family in ("sql_", "text_", "sim_", "window_", "stream_",
                   "dedup_", "profile_", "corpus_", "multimodal_",
                   "q1_", "ml_", "udf_", "happiness_"):
        assert any(n.startswith(family) for n in first50), family


def test_queries_catalog_in_sync():
    """QUERIES.md is generated from the registry; a count drift means
    someone added a query without regenerating the catalog
    (tools/dump_queries.py)."""
    import re

    from workshop3_etl_spark.plans import registry

    registry._ensure_loaded()
    n_reg = len(registry._REGISTRY)
    n_oracle = sum(1 for q in registry._REGISTRY.values() if q.oracle)
    from pathlib import Path

    catalog = Path(__file__).resolve().parent.parent / "QUERIES.md"
    head = catalog.read_text()[:400]
    m = re.search(r"(\d+) queries; (\d+) with DuckDB oracles", head)
    assert m, "QUERIES.md header missing the generated counts"
    assert (int(m.group(1)), int(m.group(2))) == (n_reg, n_oracle), (
        f"QUERIES.md says {m.groups()}, registry has {(n_reg, n_oracle)} — "
        "run python tools/dump_queries.py"
    )


def test_runtime_bloom_filter_prunes_probe_side(spark):
    """AQE/runtime-filter hygiene: a selective build side injects a
    bloom filter onto the probe-side scan (semi-join reduction — at
    100 TB this is the difference between shuffling all of lineitem
    and shuffling the ~2% that can match)."""
    from pyspark.sql import functions as F

    from tests.conftest import SF_SMOKE
    from workshop3_etl_spark.sources.tables import load_table

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        # testdata is tiny; drop the size gates so injection triggers
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        orders = (
            load_table(spark, SF_SMOKE, "orders")
            .filter(F.col("o_totalprice") > 400_000)  # selective build
            .select("o_orderkey")
        )
        li = load_table(spark, SF_SMOKE, "lineitem").select(
            "l_orderkey", "l_quantity"
        )
        joined = li.join(orders, li.l_orderkey == orders.o_orderkey)
        plan = joined._sc._jvm.PythonSQLUtils.explainString(
            joined._jdf.queryExecution(), "formatted"
        )
        assert "might_contain" in plan or "bloom" in plan.lower(), plan
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


# ---- round-3 second-session flagships ------------------------------

def test_pit_features_single_data_shuffle(spark):
    """The PIT table's whole feature set must ride ONE shuffle on the
    entity key; only the final presentation orderBy may add another."""
    from workshop3_etl_spark.operators.features import pit_features_purchase

    plan = _plan(pit_features_purchase(spark, SF_CORRECT))
    # hashpartitioning(user_id) once; rangepartitioning for the output
    # sort; no further exchanges
    assert plan.count("Arguments: hashpartitioning") == 1
    assert "user_id" in plan.split("Arguments: hashpartitioning")[1].split("\n")[0]


def test_copurchase_edges_no_row_self_join(spark):
    """Pair generation must be basket-local (explode of map-side
    combinations), never a row-level self-join of the item table.
    (basket_part_pairs_lift itself returns a localCheckpoint, so the
    shared edge builder carries the inspectable plan.)"""
    from workshop3_etl_spark.operators.assoc import _copurchase_edges

    plan = _plan(_copurchase_edges(spark, SF_CORRECT))
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" not in plan  # no join at all
    assert "Arguments: explode(flatten(transform(arr" in plan


def test_zorder_top_k_plan(spark):
    """z-key + limit must compile to TakeOrderedAndProject (no global
    sort), and the scan must prune to the three used columns."""
    from workshop3_etl_spark.plans import registry

    fn = registry.get("layout_zorder_orders_key").fn
    plan = _plan(fn(spark, SF_CORRECT))
    assert "TakeOrderedAndProject" in plan
    read_schema = plan.split("ReadSchema:")[1].split("\n")[0]
    assert "o_totalprice" not in read_schema


def test_checksum_no_shuffle_before_final_agg(spark):
    """The table checksum is map-only hashing + partial aggregation:
    exactly one single-partition exchange per table branch."""
    from workshop3_etl_spark.operators.stats import dq_table_checksums

    plan = _plan(dq_table_checksums(spark, SF_CORRECT))
    assert plan.count("Exchange hashpartitioning") == 0


def test_skyline_window_rides_aggregated_spine(spark):
    """The skyline's prefix-max window must consume the per-date MAX
    aggregate (calendar-bounded frame), never the raw orders rows —
    the property that makes the unpartitioned window safe at scale."""
    from workshop3_etl_spark.plans import registry

    fn = registry.get("skyline_orders_date_price").fn
    plan = _plan(fn(spark, SF_CORRECT))
    # Window input comes from a HashAggregate, and the frontier joins
    # back via broadcast (tiny side), not a shuffled join.
    w_idx = plan.find("Window")
    agg_idx = plan.find("HashAggregate")
    assert w_idx != -1 and agg_idx != -1
    assert "BroadcastHashJoin" in plan


def test_referential_orphans_broadcasts_fixed_dims(spark):
    """nation/region parents must broadcast; each child leg scans only
    its FK column (pruned parquet read)."""
    from workshop3_etl_spark.operators.stats import dq_referential_orphans

    plan = _plan(dq_referential_orphans(spark, SF_CORRECT))
    assert plan.count("BroadcastHashJoin") >= 3  # the 3 small-dim legs
    # the customer->nation leg must read just the FK column
    read_schemas = [
        seg.split("\n")[0].strip()
        for seg in plan.split("ReadSchema:")[1:]
    ]
    assert any(rs.endswith("struct<c_nationkey:int>") for rs in read_schemas), (
        read_schemas
    )
    # every leg reads exactly ONE column — no schema wider than one
    assert all(rs.count(":") == 1 for rs in read_schemas), read_schemas


def test_hll_registers_two_aggregate_levels_no_extra_exchange(spark):
    """The explicit-register HLL is hash(map-only) -> 256-group max ->
    scalar fold: one hashpartitioning exchange for the register
    groupBy plus one for the exact-distinct comparison branch —
    nothing else; both are preceded by partial aggregation."""
    from workshop3_etl_spark.operators.sketches import (
        sketch_hll_registers_custkeys,
    )

    plan = _plan(sketch_hll_registers_custkeys(spark, SF_CORRECT))
    assert plan.count("Arguments: hashpartitioning") == 2, plan.count(
        "Arguments: hashpartitioning"
    )


def test_observe_metrics_on_flagship(spark):
    """df.observe() — execution-time metric collection without a
    second scan: q1's observed row count must equal the count a
    separate aggregate reports, from ONE run of the query."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from workshop3_etl_spark.sources.tables import load_table

    obs = Observation("li_metrics")
    li = load_table(spark, SF_CORRECT, "lineitem")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("l_quantity").cast("decimal(27,2)")).alias("qty_sum"),
    )
    out = observed.groupBy("l_returnflag").count()
    n_from_query = sum(r["count"] for r in out.collect())
    assert obs.get["n_rows"] == n_from_query
    assert float(obs.get["qty_sum"]) > 0


def test_cms_sketch_broadcast_lookup_and_pruned_scan(spark):
    """The CMS candidate lookup must broadcast the (tiny, d*w-bounded)
    sketch, and the orders scan must read only the key column."""
    from workshop3_etl_spark.plans import registry

    fn = registry.get("sketch_cms_heavy_custkeys").fn
    plan = _plan(fn(spark, SF_CORRECT))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    read_schema = plan.split("ReadSchema:")[1].split("\n")[0]
    assert "o_custkey" in read_schema
    assert "o_totalprice" not in read_schema and "o_orderdate" not in read_schema


def test_sweepline_concurrency_no_join_two_shuffles(spark):
    """Sweep-line concurrency is delta-encode -> aggregate -> spine
    window: no join anywhere, and only the two narrow aggregations
    shuffle (interval derivation + per-day delta sum)."""
    from workshop3_etl_spark.plans import registry

    fn = registry.get("concurrency_shipping_orders_daily").fn
    plan = _plan(fn(spark, SF_CORRECT))
    assert "Join" not in plan
    assert plan.count("Arguments: hashpartitioning") == 2


def test_neardup_lsh_single_signature_scan_ids_only_shuffle(spark):
    """The LSH near-dup must build signatures in ONE generate pass and
    shuffle only (vec_id, table_id, bucket) into the bucket self-join —
    the embedding payload may never ride the candidate exchange."""
    from workshop3_etl_spark.operators.similarity import _neardup_lsh_plan

    result, sig = _neardup_lsh_plan(spark, SF_CORRECT)
    plan = _plan(result)
    sig.unpersist()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the bucket-collision join exchanges carry no embedding column:
    # every hashpartitioning over (table_id, bucket) mentions only ids
    for seg in plan.split("Arguments: hashpartitioning(")[1:]:
        keys = seg.split(")")[0]
        if "bucket" in keys:
            assert "ev" not in keys


def test_pack_sequences_window_partitioned_by_stratum(spark):
    """Sequence packing must be a per-language window (never a global
    single-partition sort) followed by one aggregation — no joins."""
    from workshop3_etl_spark.plans import registry

    fn = registry.get("corpus_pack_sequences").fn
    plan = _plan(fn(spark, SF_CORRECT))
    assert "Join" not in plan
    w_idx = plan.find("Window")
    assert w_idx != -1
    # partition spec: the running-sum window is keyed by lang
    w_seg = plan[w_idx : w_idx + 400]
    assert "lang" in w_seg


def test_weighted_median_windows_are_bucket_partitioned(spark):
    """The weighted-median running sum must ride bucket-partitioned
    windows; the only unpartitioned pieces are the B-row offset spine
    and the final single-row aggregate."""
    from workshop3_etl_spark.plans import registry

    fn = registry.get("profile_weighted_median_price").fn
    import re

    plan = _plan(fn(spark, SF_CORRECT))
    # the per-bucket running-sum window partitions by the bucket key
    assert re.search(r"windowspecdefinition\(b#\d+L?, price#", plan)


def test_ann_plans_no_cartesian_no_python_eval(spark, monkeypatch):
    """ANN plan hygiene: the only cross joins are broadcasts of the
    frozen quantizer/codebook frames (never a CartesianProduct or a
    nested-loop join of corpus-sized sides), and no row-at-a-time
    Python eval appears anywhere (the kernels are pure JVM
    expressions).

    The registry fns checkpoint their result (which collapses the
    explain output to a bare RDD scan), so materialize_and_release is
    stubbed to hand back the PRE-checkpoint frame — the plan under
    inspection is the real pipeline. Index frames are unpersisted
    immediately (nothing executes; we only explain)."""
    from workshop3_etl_spark.operators import similarity

    def passthrough(result, *frames):
        for f in frames:
            f.unpersist()
        return result

    monkeypatch.setattr(
        similarity, "materialize_and_release", passthrough
    )
    for name in (
        "sim_ann_lsh_topk",
        "sim_ann_ivf_topk",
        "sim_ann_pq_adc_topk",
        "sim_ann_ivfpq_topk",
    ):
        fn = getattr(similarity, name)
        plan = _plan(fn(spark, SF_CORRECT))
        # the real pipeline is present (joins survived, unlike the
        # post-checkpoint scan, which would make this test vacuous)
        assert "Join" in plan, name
        assert "CartesianProduct" not in plan, name
        assert "BatchEvalPython" not in plan, name


def test_explicit_bloom_probe_sits_below_the_verify_join(spark):
    """The explicit bloom semi-join's whole point is WHERE the filter
    runs: the literal-array probe must be a Filter on the fact scan
    (pre-join, pre-shuffle), not a post-join predicate. Operator ids
    in the formatted plan increase leaf -> root, so the probe Filter's
    id must be smaller than the verify BroadcastHashJoin's."""
    import re

    from workshop3_etl_spark.operators.runtime_filter import (
        bloom_semijoin_lineitem_brand,
    )

    plan = _plan(bloom_semijoin_lineitem_brand(spark, SF_CORRECT))
    filt = re.search(r"\((\d+)\) Filter\nInput.*?\nCondition : .*shiftright",
                     plan)
    join = re.search(r"\((\d+)\) BroadcastHashJoin", plan)
    assert filt and join, "expected bloom Filter and verify join in plan"
    assert int(filt.group(1)) < int(join.group(1)), (
        "bloom probe filter must run below (before) the verify join"
    )
    # and the probe is constant-folded: a literal array, not a
    # per-row array construction
    assert "element_at([" in plan


def test_semantic_dedup_broadcast_assignment_and_chunked_join(spark, monkeypatch):
    """SemDeDup plan hygiene: assignment to the 16 frozen literal
    cells is a map pass over the corpus with no cross join at all,
    and the dominance stage is ONE grouped Arrow pass keyed by
    (cell, chunk) — never a cartesian/nested-loop pair expansion.
    materialize_and_release is stubbed so the PRE-checkpoint pipeline
    is what gets inspected (the ANN vacuous-test lesson)."""
    import re

    from workshop3_etl_spark.operators import similarity

    def passthrough(result, *frames):
        for f in frames:
            f.unpersist()
        return result

    monkeypatch.setattr(similarity, "materialize_and_release", passthrough)
    plan = _plan(similarity.sim_semantic_dedup_clusters(spark, SF_CORRECT))
    assert "Join" in plan  # the real pipeline survived (not a scan)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan  # no crossJoin anywhere
    assert "BatchEvalPython" not in plan
    # exactly one dominance kernel, grouped by (cell, chunk) and nothing
    # else: the group key itself must carry the chunk column (dropping
    # chunk breaks the O(n*cap) bound while still passing the
    # assertions above)
    kernels = re.findall(
        r"^\(\d+\) FlatMapGroupsInArrow\nInput .*\nArguments: (\[[^\]]*\])",
        plan,
        re.M,
    )
    assert len(kernels) == 1, plan[:2000]
    assert re.fullmatch(r"\[cell#\d+, chunk#\d+L?\]", kernels[0]), kernels


def test_aqe_skew_join_splits_hot_partition(spark):
    """AQE skew-join hygiene: with a hot key dominating one side,
    adaptive execution must mark the sort-merge join skew-handled
    (splitting the oversized partition into parallel subtasks) — the
    runtime re-plan that keeps one straggler task from serializing a
    100 TB join when keys can't be pre-salted."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        # left: 50k rows, 90% on key 0 (one hot partition); right: flat
        left = spark.range(50_000).select(
            F.when(F.col("id") % 10 < 9, F.lit(0))
            .otherwise(F.col("id"))
            .alias("k"),
            F.col("id").alias("v"),
        )
        right = spark.range(0, 50_000, 7).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        joined = left.join(right, "k").groupBy().count()
        joined.collect()  # execute so AQE finalizes the plan
        plan = joined._sc._jvm.PythonSQLUtils.explainString(
            joined._jdf.queryExecution(), "formatted"
        )
        assert "SortMergeJoin" in plan
        assert "skew=true" in plan, plan[:3000]
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_q19_disjunction_pushes_to_both_scans(spark):
    """Catalyst must derive per-side supersets of the OR-of-AND
    predicate and push them into BOTH parquet scans: the part scan
    carries the brand IN-list plus the size-band disjunction, and the
    lineitem scan carries the quantity-band disjunction — so at
    100 TB the join sees only candidate rows from either side."""
    from workshop3_etl_spark.operators.relational import (
        q19_disjunctive_revenue,
    )

    plan = _plan(q19_disjunctive_revenue(spark, SF_CORRECT))
    assert "In(p_brand" in plan
    assert plan.count("GreaterThanOrEqual(l_quantity") >= 3
    assert plan.count("GreaterThanOrEqual(p_size") >= 3
    assert "CartesianProduct" not in plan


def test_q18_aggregates_before_joining_parents(spark):
    """The HAVING aggregate must run on lineitem ALONE (quantity sums
    shuffle two columns), with orders and customer joining the tiny
    survivor frame afterwards — never a pre-aggregation 3-way join."""
    from workshop3_etl_spark.operators.relational import (
        q18_large_volume_customers,
    )

    plan = _plan(q18_large_volume_customers(spark, SF_CORRECT))
    tree = plan.split("(1) Scan parquet")[0]
    # dataflow: Scan -> partial agg -> Exchange -> final agg -> Filter
    # (the HAVING), and only THEN the parent joins — i.e. in the
    # printed tree every Join line sits ABOVE the aggregate lines,
    # and the aggregate subtree bottoms out directly on a scan.
    join_lines = [
        i for i, ln in enumerate(tree.splitlines()) if "Join" in ln
    ]
    agg_lines = [
        i for i, ln in enumerate(tree.splitlines())
        if "HashAggregate" in ln
    ]
    assert join_lines and agg_lines
    assert max(join_lines) < min(agg_lines), tree
    # the shuffle below the aggregate is the only fact exchange
    assert "Exchange" in tree
    assert "TakeOrderedAndProject" in tree


def test_source_cap_exact_window_rides_broadcast_candidates(spark):
    """The per-source top-K window must run only over the broadcast
    candidate prefix (two-level pruning), never over the full corpus:
    every join in the plan is a broadcast join, and the row_number
    window sits ABOVE a BroadcastHashJoin in the plan text (the
    candidate semi-join feeds it)."""
    from workshop3_etl_spark.plans import registry

    fn = registry.get("corpus_source_cap_sample").fn
    plan = _plan(fn(spark, SF_CORRECT))
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    w_idx = plan.find("Window")
    assert w_idx != -1
    # the formatted tree lists children below their parent, so the
    # candidate broadcast join must appear after the window operator
    assert "BroadcastHashJoin" in plan[w_idx:]


def _stub_checkpoints(monkeypatch):
    """Expose the PRE-checkpoint pipeline for plan inspection: the
    registry fns checkpoint intermediate planning frames and their
    result (collapsing explain output to a bare RDD scan), so both
    cache helpers are stubbed to identity — nothing executes, we only
    explain (the ANN plan-test pattern). lakehouse binds the helpers
    at module level, so both the cache module AND lakehouse's
    bindings are patched."""
    from workshop3_etl_spark.functions import cache
    from workshop3_etl_spark.sources import lakehouse

    for mod in (cache, lakehouse):
        monkeypatch.setattr(
            mod, "tracked_local_checkpoint", lambda df: df
        )
        monkeypatch.setattr(
            mod, "materialize_and_release", lambda result, *frames: result
        )


def test_range_partition_plan_no_data_scale_sort_or_smj(spark, monkeypatch):
    """The splitter planner must never globally sort the fact table:
    its only windows ride the distinct-cents frame (bucket-partitioned
    prefix + domain-bounded spine), and the planning joins
    (splits x prefix, bounds x prev-bounds) are broadcast."""
    from workshop3_etl_spark.plans import registry

    _stub_checkpoints(monkeypatch)
    fn = registry.get("layout_range_partition_plan").fn
    plan = _plan(fn(spark, SF_CORRECT))
    assert "Join" in plan  # real pipeline present, not a bare RDD scan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") + plan.count(
        "BroadcastNestedLoopJoin"
    ) >= 3


def test_bloom_index_stats_joins_are_broadcast(spark, monkeypatch):
    """The file-bloom prune telemetry must keep every join broadcast
    (index, probes, truth, and candidates are all bounded frames) and
    never fall back to a sort-merge or cartesian plan."""
    from workshop3_etl_spark.plans import registry

    _stub_checkpoints(monkeypatch)
    fn = registry.get("layout_bloom_prune_stats").fn
    plan = _plan(fn(spark, SF_CORRECT))
    assert "Join" in plan  # real pipeline present, not a bare RDD scan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 3


def test_dpp_join_injects_dynamic_partition_filter(spark, tmp_path):
    """The DPP demonstration's fact scan must carry a runtime
    dynamicpruning expression in its PartitionFilters — proof the
    filtered dim aggregate reaches the partitioned scan at execution
    time instead of a full 7-year read."""
    from pyspark.sql import functions as F

    from workshop3_etl_spark.sources.lakehouse import (
        dpp_join_frames,
        write_partitioned,
    )

    # the SAME frames the registered query joins (shared builder)
    li, yd = dpp_join_frames(spark, SF_CORRECT)
    root = str(tmp_path / "li_part")
    write_partitioned(li, root, ["ship_year"])
    fact = spark.read.parquet(root)
    q = (
        fact.join(yd, fact["ship_year"] == yd["yr"])
        .groupBy("ship_year")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    plan = _plan(q)
    assert "dynamicpruningexpression" in plan.lower()
    assert "PartitionFilters" in plan


def test_containment_join_no_cartesian_and_rare_key_candidates(spark, monkeypatch):
    """The containment join's candidate stage must be an equi-join on
    prefix tokens (never a cartesian/nested-loop of doc-sized sides),
    and the whole pipeline must stay free of Python eval operators."""
    from workshop3_etl_spark.plans import registry

    _stub_checkpoints(monkeypatch)
    from workshop3_etl_spark.operators import dedup

    monkeypatch.setattr(
        dedup, "materialize_and_release",
        lambda result, *frames: ([f.unpersist() for f in frames], result)[1],
    )
    fn = registry.get("dedup_containment_pairs").fn
    plan = _plan(fn(spark, SF_CORRECT))
    assert "Join" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_broadcast_if_small_is_size_conditional(spark):
    """The TPC-H dim hints must be conditional: hint when Catalyst
    estimates the side under the threshold, fall back to AQE (no
    hint) when it does not — a dimension outgrowing executor memory
    at 100 TB must never be force-broadcast."""
    from workshop3_etl_spark.functions.joins import (
        broadcast_if_small,
        plan_size_estimate,
    )
    from workshop3_etl_spark.sources.tables import load_table

    from tests.conftest import SF_SMOKE

    part = load_table(spark, SF_SMOKE, "part").select("p_partkey", "p_type")
    est = plan_size_estimate(part)
    assert est is not None and est > 0

    def is_hinted(df) -> bool:
        return "ResolvedHint" in df._jdf.queryExecution().analyzed().toString()

    # under the threshold: hinted
    assert is_hinted(broadcast_if_small(part, threshold_bytes=est + 1))
    # over the threshold: left to AQE
    assert not is_hinted(broadcast_if_small(part, threshold_bytes=est - 1))
    # broadcasting disabled session-wide: never hint
    assert not is_hinted(broadcast_if_small(part, threshold_bytes=0))


def test_broadcast_threshold_parses_full_suffix_set(spark):
    """_threshold_bytes must honor every Spark byte suffix (including
    t/tb) and return None (=> no hint) on an unparseable conf value —
    an invented fallback threshold could force-broadcast a side the
    session explicitly sized out."""
    from workshop3_etl_spark.functions.joins import (
        _threshold_bytes,
        broadcast_if_small,
    )
    from workshop3_etl_spark.sources.tables import load_table

    from tests.conftest import SF_SMOKE

    key = "spark.sql.autoBroadcastJoinThreshold"
    orig = spark.conf.get(key)
    try:
        for raw, want in (
            ("10485760", 10485760),
            ("10MB", 10 * 1024**2),
            ("512k", 512 * 1024),
            ("2g", 2 * 1024**3),
            ("1t", 1024**4),
            ("3tb", 3 * 1024**4),
            ("100b", 100),
            ("-1", -1),
        ):
            spark.conf.set(key, raw)
            assert _threshold_bytes(spark) == want, raw
    finally:
        spark.conf.set(key, orig)
    # unparseable: None (Spark validates conf.set, so exercise the
    # parser directly with a stub session)

    class _Conf:
        def get(self, k, d=None):
            return "banana"

    class _Stub:
        conf = _Conf()

    assert _threshold_bytes(_Stub()) is None
    # and None must mean "no hint" in broadcast_if_small
    part = load_table(spark, SF_SMOKE, "part").select("p_partkey")
    import workshop3_etl_spark.functions.joins as joins_mod

    saved = joins_mod._threshold_bytes
    joins_mod._threshold_bytes = lambda s: None
    try:
        hinted = broadcast_if_small(part)
        analyzed = hinted._jdf.queryExecution().analyzed().toString()
        assert "ResolvedHint" not in analyzed
    finally:
        joins_mod._threshold_bytes = saved


def test_winnowing_single_documents_scan(spark, monkeypatch):
    """Winnowing extraction must scan/tokenize the corpus text exactly
    once: both consumers (fingerprint agg + per-language doc count)
    ride the persisted per-doc fingerprint-set frame, never a second
    documents FileScan (the repeated-subtree rule — a second text
    scan at 100 TB costs more than the rest of the query)."""
    from workshop3_etl_spark.operators import dedup as D
    from workshop3_etl_spark.plans import registry

    from tests.conftest import SF_SMOKE

    captured = {}
    real = D.materialize_and_release

    def spy(result, *frames):
        captured["plan"] = result._jdf.queryExecution().executedPlan().toString()
        return real(result, *frames)

    monkeypatch.setattr(D, "materialize_and_release", spy)
    registry.get("dedup_winnowing_fingerprints").fn(spark, SF_SMOKE)
    plan = captured["plan"]
    # both consumers must ride the cached frame; any FileScan in the
    # string belongs to the (single) cache-build subtree that
    # InMemoryRelation embeds when printed
    assert plan.count("InMemoryTableScan") == 2, plan
    assert plan.count("FileScan parquet") <= plan.count("InMemoryRelation")


def test_substring_runs_single_documents_scan(spark, monkeypatch):
    """dedup_exact_substring_runs: seeding tokenizes the corpus text
    exactly once — the hot-hash guard and BOTH self-join sides ride
    the persisted seeds frame (3 InMemoryTableScans: anti-join probe
    + the two pair sides), never a repeated documents FileScan; and
    the pair join must be an equi hash join, never a cartesian."""
    from workshop3_etl_spark.operators import dedup as D
    from workshop3_etl_spark.plans import registry

    from tests.conftest import SF_SMOKE

    captured = {}
    real = D.materialize_and_release

    def spy(result, *frames):
        captured["plan"] = (
            result._jdf.queryExecution().executedPlan().toString()
        )
        return real(result, *frames)

    monkeypatch.setattr(D, "materialize_and_release", spy)
    registry.get("dedup_exact_substring_runs").fn(spark, SF_SMOKE)
    plan = captured["plan"]
    # 3 consumers of the seeds cache (anti-join probe + both pair
    # sides); AQE's InMemoryRelation printing re-embeds the single
    # cache-build FileScan, so FileScan occurrences are bounded by
    # InMemoryRelation prints, never independent scans
    assert plan.count("InMemoryTableScan") >= 3, plan
    assert plan.count("FileScan parquet") <= plan.count("InMemoryRelation")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_kmeans_final_step_is_distributed(spark, monkeypatch):
    """ml_kmeans_lloyd_embeddings: the RETURNED plan must be the last
    Lloyd step as engine ops — one Arrow batch pass (assignment plus
    per-batch (cell, dim) partial sums) riding the persisted grid
    frame, then a real (cell, dim) shuffle aggregate — not a
    driver-assembled literal result; and no per-row Python eval
    operators."""
    import re

    from workshop3_etl_spark.functions import cache as C
    from workshop3_etl_spark.plans import registry

    from tests.conftest import SF_SMOKE

    captured = {}
    real = C.materialize_and_release

    def spy(result, *frames):
        captured["plan"] = (
            result._jdf.queryExecution().executedPlan().toString()
        )
        return real(result, *frames)

    # ml.py imports materialize_and_release inside the function body,
    # so patch the SOURCE module attribute
    monkeypatch.setattr(C, "materialize_and_release", spy)
    registry.get("ml_kmeans_lloyd_embeddings").fn(spark, SF_SMOKE)
    plan = captured["plan"]
    assert "InMemoryTableScan" in plan, plan  # rides the grid cache
    assert plan.count("MapInArrow _step_batches") == 1, plan
    assert re.search(
        r"Exchange hashpartitioning\(cell#\d+, dim#\d+, \d+\)", plan
    ), plan
    assert re.search(
        r"HashAggregate\(keys=\[cell#\d+, dim#\d+\], functions=\[sum\(s#", plan
    ), plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
