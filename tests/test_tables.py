"""parquet_schema contract tests.

``sources.tables.parquet_schema`` memoizes the schema Spark infers from
a parquet footer so repeat scans skip the one-task inference job. Its
contract:

1. faithful — the memoized schema equals a fresh
   ``spark.read.parquet(p).schema`` for every table at every scale;
2. invalidated by any rewrite — the key carries inode, size and mtime,
   and a rewrite that changes only one of them still yields the new
   schema;
3. job-free on a hit — a repeat ``load_table`` starts no Spark job;
4. URI-safe — a path ``os.stat`` cannot see is inferred, not memoized.
"""

from __future__ import annotations

import io
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from tests.conftest import SF_CORRECT, SF_SMOKE

SCALES = (SF_SMOKE, SF_CORRECT, os.path.join(os.path.dirname(SF_CORRECT), "sf0.1"))


@pytest.mark.parametrize("sf_dir", SCALES)
def test_parquet_schema_equals_spark_inference(spark, sf_dir):
    from workshop3_etl_spark.sources.tables import TABLE_NAMES, parquet_schema

    for name in TABLE_NAMES:
        path = f"{sf_dir}/{name}.parquet"
        first = parquet_schema(spark, path)
        assert first == spark.read.parquet(path).schema, name
        assert parquet_schema(spark, path) == first, name  # the memo hit


def _parquet_bytes(column: str, values) -> bytes:
    buf = io.BytesIO()
    pq.write_table(pa.table({column: values}), buf)
    return buf.getvalue()


def _write_in_place(path: str, data: bytes) -> None:
    """Rewrite the file's bytes, keeping its inode."""
    with open(path, "r+b") as f:
        f.write(data)
        f.truncate()


def test_parquet_schema_follows_rewrites(spark, tmp_path):
    """Each rewrite changes the schema and exactly one of inode, size
    and mtime, so dropping any one of them from the key serves the
    stale schema and fails here."""
    from workshop3_etl_spark.sources.tables import load_table

    path = str(tmp_path / "region.parquet")

    def load():
        df = load_table(spark, str(tmp_path), "region")
        return df.schema.names, [tuple(r) for r in df.collect()]

    a = _parquet_bytes("a", [1, 2, 3])
    b = _parquet_bytes("b", [1, 2, 3])
    c = _parquet_bytes("c_longer_name", ["x", "y"])
    assert len(a) == len(b) != len(c)

    with open(path, "wb") as f:
        f.write(a)
    os.utime(path, ns=(1_000_000_000, 1_000_000_000))
    assert load() == (["a"], [(1,), (2,), (3,)])
    st0 = os.stat(path)

    # new inode only: same size, mtime pinned back
    tmp = str(tmp_path / "next.tmp")
    with open(tmp, "wb") as f:
        f.write(b)
    os.utime(tmp, ns=(st0.st_atime_ns, st0.st_mtime_ns))
    os.replace(tmp, path)
    st1 = os.stat(path)
    assert st1.st_ino != st0.st_ino
    assert (st1.st_size, st1.st_mtime_ns) == (st0.st_size, st0.st_mtime_ns)
    assert load() == (["b"], [(1,), (2,), (3,)])

    # new size only: same inode, mtime pinned back
    _write_in_place(path, c)
    os.utime(path, ns=(st1.st_atime_ns, st1.st_mtime_ns))
    st2 = os.stat(path)
    assert (st2.st_ino, st2.st_mtime_ns) == (st1.st_ino, st1.st_mtime_ns)
    assert st2.st_size != st1.st_size
    assert load() == (["c_longer_name"], [("x",), ("y",)])

    # new mtime only: same inode, same size. Restore the second file
    # exactly (a memo hit), then rewrite it with a later mtime.
    _write_in_place(path, b)
    os.utime(path, ns=(st1.st_atime_ns, st1.st_mtime_ns))
    assert load() == (["b"], [(1,), (2,), (3,)])
    _write_in_place(path, a)
    os.utime(path, ns=(st1.st_atime_ns, st1.st_mtime_ns + 1_000_000_000))
    st3 = os.stat(path)
    assert (st3.st_ino, st3.st_size) == (st1.st_ino, st1.st_size)
    assert load() == (["a"], [(1,), (2,), (3,)])


def _jobs_in_group(spark, group: str, fn) -> list[int]:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setJobGroup(None, None)
    # job events reach the status store through the async listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_repeat_load_starts_no_job(spark):
    from workshop3_etl_spark.sources.tables import load_table

    path = f"{SF_SMOKE}/lineitem.parquet"
    # control: a bare read does run the inference job this test guards
    assert _jobs_in_group(spark, "tables-bare", lambda: spark.read.parquet(path))
    load_table(spark, SF_SMOKE, "lineitem")
    assert _jobs_in_group(
        spark, "tables-repeat", lambda: load_table(spark, SF_SMOKE, "lineitem")
    ) == []


def test_uri_path_is_inferred_not_memoized(spark):
    from workshop3_etl_spark.sources import tables

    want = tables.load_table(spark, SF_SMOKE, "nation")
    memo = dict(tables._SCHEMAS)
    got = tables.load_table(spark, f"file://{SF_SMOKE}", "nation")
    assert tables._SCHEMAS == memo
    assert got.schema == want.schema
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
