"""Hostile-input tests for the Arrow batch boundary
(workshop3_etl_spark/functions/arrow_kernel.py): empty batches, empty
and null outputs, int overflow and column-count mismatch,
chunked/sliced vector columns, plan node names, and worker imports
from a foreign working directory."""

from __future__ import annotations

import os
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pytest

from tests.conftest import SF_SMOKE
from workshop3_etl_spark.functions.arrow_kernel import (
    arrow_schema,
    batch_runner,
    map_batches,
    map_groups,
    to_batch,
    vectors,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Kernels are defined inside the tests: a closure is pickled by value,
# while a test-module function would be pickled by reference to a
# module the Python workers cannot import.


def test_empty_input_batches_never_reach_the_kernel(spark):
    def _never_called(batch):
        raise AssertionError(f"kernel saw a batch of {batch.num_rows} rows")

    empty = pa.RecordBatch.from_pydict({"id": pa.array([], pa.int64())})
    run = batch_runner(_never_called, arrow_schema("id bigint"))
    assert list(run(iter([empty, empty]))) == []
    df = spark.range(0).repartition(3)
    assert map_batches(df, ["id"], "id bigint", _never_called).collect() == []


@pytest.mark.parametrize("result", [None, [[], []]])
def test_none_and_zero_length_outputs_give_no_rows(spark, result):
    def kernel(batch):
        return result

    schema = "id bigint, s string"
    batch = pa.RecordBatch.from_pydict({"id": [1, 2]})
    out = list(batch_runner(kernel, arrow_schema(schema))(iter([batch])))
    assert sum(b.num_rows for b in out) == 0
    assert all(b.schema == arrow_schema(schema) for b in out)
    df = map_batches(spark.range(5), ["id"], schema, kernel)
    assert df.collect() == []
    assert df.schema.simpleString() == "struct<id:bigint,s:string>"


def test_nulls_in_nullable_output_columns(spark):
    def _with_nulls(batch):
        ids = batch.column("id").to_pylist()
        return [ids, [None] * len(ids), [None if i % 2 else 1.5 for i in ids]]

    rows = map_batches(
        spark.range(4), ["id"], "id bigint, s string, x double", _with_nulls
    ).orderBy("id").collect()
    assert [(r.id, r.s, r.x) for r in rows] == [
        (0, None, 1.5), (1, None, None), (2, None, 1.5), (3, None, None)
    ]


def test_int_overflow_raises_instead_of_wrapping(spark):
    schema = arrow_schema("x int")
    ok = to_batch([np.array([2**31 - 1, -(2**31)], np.int64)], schema)
    assert ok.column(0).to_pylist() == [2**31 - 1, -(2**31)]
    for bad in ([np.int64(2**31)], np.array([-(2**31) - 1], np.int64)):
        with pytest.raises(pa.ArrowInvalid):
            to_batch([bad], schema)
    with pytest.raises(pa.ArrowInvalid):  # no silent truncation either
        to_batch([np.array([1.5])], arrow_schema("x bigint"))
    with pytest.raises(ValueError):  # nor a dropped extra column
        to_batch([[1], [2]], schema)

    def _overflows(batch):
        return [np.full(batch.num_rows, 2**31, dtype=np.int64)]

    df = map_batches(spark.range(3), ["id"], "x int", _overflows)
    with pytest.raises(Exception, match="2147483648"):
        df.collect()


def test_vectors_decodes_chunked_and_sliced_columns():
    rows = [[1.0, -0.0], [float("nan"), float("inf")], [-float("inf"), 2.5]]
    want = np.array(rows)
    whole = pa.array(rows, pa.list_(pa.float64()))
    chunked = pa.table({"v": pa.chunked_array([whole[:1], whole[1:]])})
    sliced = pa.RecordBatch.from_arrays([whole], ["v"]).slice(1, 2)
    for batch, expect in ((chunked, want), (sliced, want[1:])):
        got = vectors(batch, "v", np.float64)
        assert got.shape == expect.shape
        assert got.tobytes() == expect.tobytes()  # bit-identical: -0.0, NaN
    empty = pa.RecordBatch.from_arrays([whole[:0]], ["v"])
    assert vectors(empty, "v", np.float64).shape == (0, 0)
    for bad in ([[1.0, 2.0], None], [[1.0, 2.0], [3.0]]):
        batch = pa.RecordBatch.from_arrays(
            [pa.array(bad, pa.list_(pa.float64()))], ["v"]
        )
        with pytest.raises(ValueError, match="equal-length non-null"):
            vectors(batch, "v", np.float64)


def test_plan_nodes_carry_the_kernel_name(spark):
    def _kernel_named_in_plan(batch):
        return [batch.column("id")]

    def _group_kernel_named_in_plan(table):
        return [table.column("id")]

    df = map_batches(spark.range(3), ["id"], "id bigint", _kernel_named_in_plan)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow _kernel_named_in_plan" in plan, plan
    grouped = map_groups(
        spark.range(3), ["id"], ["id"], "id bigint", _group_kernel_named_in_plan
    )
    plan = grouped._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInArrow" in plan, plan
    assert "_group_kernel_named_in_plan" in plan, plan
    assert sorted(r.id for r in grouped.collect()) == [0, 1, 2]


def test_workers_import_the_package_from_any_directory(tmp_path):
    """A driver started outside the repo, with no PYTHONPATH, must still
    run a query whose kernel lives in the package: the workers import
    it from the path get_spark ships them."""
    code = (
        "import sys; sys.path.insert(0, %r)\n"
        "from workshop3_etl_spark.session import get_spark\n"
        "from workshop3_etl_spark.operators.multimodal import"
        " multimodal_decode_features\n"
        "spark = get_spark(cpus=1)\n"
        "rows = multimodal_decode_features(spark, %r).collect()\n"
        "print('n_media', sum(r['n_media'] for r in rows))\n"
        "spark.stop()\n"
    ) % (REPO, SF_SMOKE)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, "-c", code],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "n_media 500" in proc.stdout, proc.stdout
