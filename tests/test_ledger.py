"""The per-query ledger (tools/ledger.py): the benchmark's tracer run
over registry queries, with the executed plans read from Spark's SQL
status store rather than rebuilt with stubbed engine functions."""

from __future__ import annotations

import sys
from pathlib import Path

from tests.conftest import SF_SMOKE

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))

import ledger  # noqa: E402


def _leftovers(spark):
    rdds = set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
    return rdds, {t.name for t in spark.catalog.listTables() if t.isTemporary}


def test_ledger_records_layers_and_executed_plans(spark):
    before = _leftovers(spark)
    dhash = "multimodal_bmp_dhash_neardup"
    first, second, stream = ledger.record(
        spark, [dhash, dhash, "stream_stateful_user_metrics"], SF_SMOKE
    )
    for rec in (first, second, stream):
        assert "error" not in rec, rec.get("error")
        assert rec["wall_s"] > 0 and rec["sql_executions"] == len(rec["plans"])
    # the eager checkpoint's execution carries the pre-checkpoint
    # pipeline, Arrow kernels included
    assert any("MapInArrow" in plan for plan in first["plans"])
    assert first["layers"]["operators.eager_jobs"] >= 1
    assert first["layers"]["functions.cache.checkpoint_calls"] == 1
    assert first["plan_fingerprint"] == second["plan_fingerprint"]
    assert stream["layers"]["streaming.microbatches"] > 0
    assert _leftovers(spark) == before


def _adaptive_plan(final: str, initial: str, n: int) -> str:
    return (
        f"== Physical Plan ==\nAdaptiveSparkPlan ({n})\n+- == Final Plan ==\n"
        f"   {final} ({n + 1})\n+- == Initial Plan ==\n   {initial} ({n + 2})\n\n"
        f"({n}) AdaptiveSparkPlan\nOutput [1]: [x#{n}L]\n"
    )


def test_fingerprint_hashes_the_initial_operator_tree():
    """Operator and expression ids, and the final tree (which depends on
    the order query stages finished in), do not change the fingerprint;
    a different initial tree does."""
    a = _adaptive_plan("BroadcastHashJoin Inner BuildLeft", "SortMergeJoin Inner", 1)
    b = _adaptive_plan("BroadcastHashJoin Inner BuildRight", "SortMergeJoin Inner", 7)
    c = _adaptive_plan("BroadcastHashJoin Inner BuildLeft", "BroadcastHashJoin Inner", 1)
    assert ledger.fingerprint([a]) == ledger.fingerprint([b]) != ledger.fingerprint([c])
