"""The shared maintained-state protocol on hostile input, family by
family, and the one availableNow runner's memory-sink lifetime.

Every maintained-state family (streaming/rollup.py) is an
``EpochState``: a partial plus a merge over the one layout in
streaming/compaction.py. The claims below must hold for each of them:
an empty micro-batch writes nothing, a one-row batch merges exactly, a
replayed epoch counts once, and compaction never changes a read.
"""

from __future__ import annotations

import os
from collections import Counter

import pytest

from tests.conftest import SF_SMOKE
from workshop3_etl_spark.sources.tables import load_table
from workshop3_etl_spark.streaming import rollup

# family -> (input table, unique row id expression)
FAMILY_INPUTS = {
    "ROLLUP": ("events", "event_id"),
    "CMS": ("events", "event_id"),
    "HLL": ("events", "event_id"),
    "OLS": ("events", "event_id"),
    "HISTOGRAM": ("events", "event_id"),
    "QUANTIZER": ("embeddings", "vec_id"),
    "BIGRAM_LM": ("documents", "doc_id"),
    "BM25": ("documents", "doc_id"),
    "MOMENTS": ("embeddings", "vec_id"),
    "NOVELTY": ("documents", "doc_id"),
    "STUMP": ("lineitem", "l_orderkey * 8 + l_linenumber"),
}


def _rows(df) -> Counter:
    return Counter(tuple(r) for r in df.collect())


def _epochs(path: str) -> list[str]:
    return sorted(n for n in os.listdir(path) if n.startswith("epoch="))


def test_every_family_is_declared_once():
    declared = {
        k for k, v in vars(rollup).items()
        if isinstance(v, rollup.EpochState)
    }
    assert declared == set(FAMILY_INPUTS)


@pytest.mark.parametrize("family", sorted(FAMILY_INPUTS))
def test_family_on_empty_one_row_replayed_and_compacted_batches(
    spark, tmp_path, family
):
    state = getattr(rollup, family)
    table, row_id = FAMILY_INPUTS[family]
    full = load_table(spark, SF_SMOKE, table)
    first = full.selectExpr(f"min({row_id})").first()[0]
    one = full.where(f"{row_id} = {first}")
    rest = full.where(f"{row_id} != {first}")
    assert one.count() == 1
    path = str(tmp_path / "state")
    expected = _rows(state.merge(state.partial(full)))

    state.write(rest, 0, path)
    after_rest = _rows(state.read(spark, path))

    # an empty micro-batch writes no partition and changes no read
    state.write(full.limit(0), 1, path)
    assert "epoch=1" not in _epochs(path)
    assert _rows(state.read(spark, path)) == after_rest

    # a one-row batch merges exactly: the epochs read as the one-shot
    # partial over all rows
    state.write(one, 2, path)
    assert _rows(state.read(spark, path)) == expected

    # a replayed epoch overwrites itself: counted once
    state.write(one, 2, path)
    assert _rows(state.read(spark, path)) == expected

    # compaction is layout only: the read is unchanged, and the second
    # run collects the folded epochs
    state.compact(spark, path, through_epoch=10_000)
    assert _rows(state.read(spark, path)) == expected
    state.compact(spark, path, through_epoch=10_000)
    assert _epochs(path) == ["epoch=-2"]
    assert _rows(state.read(spark, path)) == expected


def _temp_views(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


def test_memory_sink_queries_leave_no_temp_view_behind(spark):
    """A memory-sink registry query hands back a materialized result
    and drops its sink's temp view, which would otherwise keep every
    sink row on the driver for the life of the session. The results
    still match their DuckDB oracles."""
    import duckdb

    from tests.test_oracle_parity import _canon, _normalize
    from workshop3_etl_spark.plans import registry

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{SF_SMOKE}/events.parquet'"
    )
    before = _temp_views(spark)
    for name in (
        "stream_stateful_user_metrics",
        "stream_tumbling_hourly_counts",
    ):
        q = registry.get(name)
        got = q.fn(spark, SF_SMOKE)
        assert _temp_views(spark) == before, name
        res = con.execute(q.oracle)
        cols = [c[0] for c in res.description]
        s_norm, _ = _normalize([tuple(r) for r in got.collect()], got.columns)
        d_norm, _ = _normalize(res.fetchall(), cols)
        assert [[_canon(v) for v in r] for r in s_norm] == [
            [_canon(v) for v in r] for r in d_norm
        ], name
    con.close()


def test_memory_sink_drops_its_view_when_the_caller_fails(spark, tmp_path):
    from workshop3_etl_spark.streaming.runner import (
        STATE_PARTITIONS,
        memory_sink,
    )

    src = str(tmp_path / "src")
    spark.range(5).write.parquet(src)
    stream = spark.readStream.schema("id long").parquet(src)
    partitions = spark.conf.get("spark.sql.shuffle.partitions")
    assert partitions != str(STATE_PARTITIONS)
    before = _temp_views(spark)
    with pytest.raises(RuntimeError, match="caller failed"):
        with memory_sink(
            stream.groupBy().count(), "sink_test", "complete",
            str(tmp_path / "ck"),
        ) as (rows, query):
            assert rows.first()["count"] == 5
            assert not query.isActive
            raise RuntimeError("caller failed")
    assert _temp_views(spark) == before
    # the state-partition setting is scoped to the drain
    assert spark.conf.get("spark.sql.shuffle.partitions") == partitions
