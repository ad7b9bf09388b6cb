"""Spark-free tests of the benchmark's metric math.

    python3 -m pytest perfbench/test_stats.py -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from layers import ALL_COUNTERS, parse_sql_metric, pass_totals  # noqa: E402
from proctime import tree_cpu_s  # noqa: E402
from stats import covered, geomean, pair_verdict, quartiles, self_time, spread  # noqa: E402


def test_geomean_weighs_relative_change_equally():
    assert geomean([2.0, 8.0]) == pytest.approx(4.0)
    # halving a short row moves the geomean as much as halving a long one
    assert geomean([0.15, 4.8]) == pytest.approx(geomean([0.3, 2.4]))


def test_geomean_rejects_empty_and_nonpositive():
    with pytest.raises(ValueError):
        geomean([])
    with pytest.raises(ValueError):
        geomean([1.0, 0.0])


def test_covered_merges_overlaps_and_clips():
    assert covered([(0, 2), (1, 3), (5, 6)], 0, 10) == pytest.approx(4.0)
    assert covered([(-5, 1), (9, 20)], 0, 10) == pytest.approx(2.0)
    assert covered([(11, 12)], 0, 10) == 0.0
    assert covered([], 0, 10) == 0.0


def test_self_time_subtracts_child_cover_once():
    # two overlapping jobs inside a 10 s call cover 4 s of it
    assert self_time(0.0, 10.0, [(1.0, 4.0), (2.0, 5.0)]) == pytest.approx(6.0)
    # a job that outlives the call only counts inside it
    assert self_time(0.0, 10.0, [(8.0, 15.0)]) == pytest.approx(8.0)
    assert self_time(0.0, 10.0, []) == pytest.approx(10.0)


def test_tree_cpu_counts_children_that_ended():
    import subprocess

    before = tree_cpu_s()
    subprocess.run([sys.executable, "-c",
                    "import time\nt = time.process_time()\n"
                    "while time.process_time() - t < 0.3: pass"], check=True)
    assert tree_cpu_s() - before >= 0.25


def test_quartiles_and_spread_match_statistics_quantiles():
    vals = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0]
    assert quartiles(vals) == (2.75, 5.5, 8.25)
    assert spread(vals) == pytest.approx(1.0)
    assert quartiles([3.0]) == (3.0, 3.0, 3.0)


def test_pair_rule_needs_nine_of_ten_wins():
    parent = [10.0, 10.2, 9.9, 10.1, 10.0, 10.3, 9.8, 10.1, 10.0, 10.2]
    faster = [p - 1.0 for p in parent]
    assert pair_verdict(parent, faster)["verdict"] == "gain"
    # eight wins of ten is not enough, however large the gap
    mixed = faster[:8] + [p + 1.0 for p in parent[8:]]
    res = pair_verdict(parent, mixed)
    assert (res["wins"], res["losses"]) == (8, 2)
    assert res["verdict"] != "gain"


def test_pair_rule_claims_no_gain_from_fewer_than_ten_pairs():
    assert pair_verdict([10.0] * 9, [5.0] * 9)["verdict"] == "no-change"


def test_pair_rule_ties_count_for_neither_side():
    res = pair_verdict([1.0] * 10, [1.0] * 10)
    assert (res["wins"], res["losses"], res["verdict"]) == (0, 0, "no-change")


def test_pair_rule_gain_must_exceed_parent_spread():
    parent = [8.0, 12.0] * 5
    change = [p - 0.5 for p in parent]  # wins every pair, inside the noise
    assert pair_verdict(parent, change)["verdict"] == "no-change"


def test_pair_rule_higher_is_better_and_regression_bound():
    parent = [100.0] * 10
    assert pair_verdict(parent, [120.0] * 10, better="higher")["verdict"] == "gain"
    assert pair_verdict(parent, [70.0] * 10, better="higher", bound=0.2)[
        "verdict"] == "regression"
    assert pair_verdict(parent, [90.0] * 10, better="higher", bound=0.2)[
        "verdict"] == "no-change"


def test_parse_sql_metric_reads_the_total():
    assert parse_sql_metric(
        "total (min, med, max (stageId: taskId))\n6.3 s (1.5 s, 1.5 s, 1.7 s "
        "(stage 3.0: task 4))") == pytest.approx(6.3)
    assert parse_sql_metric(
        "total (min, med, max (stageId: taskId))\n1388.6 KiB (327.6 KiB, ...)"
    ) == pytest.approx(1388.6 * 1024)
    assert parse_sql_metric("975 ms") == pytest.approx(0.975)
    assert parse_sql_metric("1.5 m") == pytest.approx(90.0)


def test_pass_totals_sums_amounts_and_peaks_levels():
    ops = [dict.fromkeys(ALL_COUNTERS, 0.0) for _ in range(2)]
    ops[0]["spark.scheduler.executor_cpu_s"] = 3.0
    ops[1]["spark.scheduler.executor_cpu_s"] = 1.0
    ops[0]["functions.cache.persisted_rdds_after"] = 4
    ops[1]["functions.cache.persisted_rdds_after"] = 2
    ops[0]["operators.query_fn_s"] = 1.0
    tot = pass_totals(ops, wall=2.0, cores=4)
    assert tot["spark.scheduler.executor_cpu_s"] == 4.0
    assert tot["functions.cache.persisted_rdds_after"] == 4
    assert tot["spark.scheduler.cpu_busy_frac"] == pytest.approx(0.5)
    assert tot["operators.query_fn_share"] == pytest.approx(0.5)
