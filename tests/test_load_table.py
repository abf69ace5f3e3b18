"""``sources.tables.load_table`` infers each table's parquet schema
once per file version: a warm load starts no Spark job, reads what an
inferring read reads, and sees a table rewritten in place or a session
conf that changes inference."""

from __future__ import annotations

import os
import re
import sys
import uuid
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from simplemapreduce_spark.session import scoped_conf
from simplemapreduce_spark.sources import tables
from simplemapreduce_spark.sources.tables import TABLE_NAMES, load_table


@pytest.fixture
def empty_schema_cache(monkeypatch):
    monkeypatch.setattr(tables, "_SCHEMAS", {})


def _jobs_started(spark, fn) -> int:
    """Number of Spark jobs ``fn()`` starts, counted under a job group
    of its own."""
    sc = spark.sparkContext
    group = f"load-table-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _optimized_plan(df) -> str:
    return re.sub(r"#\d+L?", "#_", df._jdf.queryExecution().optimizedPlan().toString())


def test_warm_load_starts_no_job(spark, sf_dir, empty_schema_cache):
    assert _jobs_started(spark, lambda: load_table(spark, sf_dir, "orders")) >= 1
    assert _jobs_started(spark, lambda: load_table(spark, sf_dir, "orders")) == 0


@pytest.mark.parametrize("name", TABLE_NAMES)
def test_cached_read_matches_inferring_read(spark, sf_dir, name, empty_schema_cache):
    inferred = load_table(spark, sf_dir, name)
    cached = load_table(spark, sf_dir, name)
    assert cached.schema == inferred.schema
    assert _optimized_plan(cached) == _optimized_plan(inferred)


def test_concurrent_misses_agree(spark, sf_dir, empty_schema_cache):
    """Threads that miss together each infer, and all read the same
    schema; the cache ends with one entry for the table."""
    want = spark.read.parquet(tables.table_path(sf_dir, "orders")).schema
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(max_workers=8) as pool:
            futures = [
                pool.submit(lambda: load_table(spark, sf_dir, "orders").schema)
                for _ in range(8)
            ]
            got = [f.result(timeout=120) for f in futures]
    finally:
        sys.setswitchinterval(old)
    assert got == [want] * 8
    assert [v[1] for v in tables._SCHEMAS.values()] == [want]


def _write(path: str, table: pa.Table, as_dir: bool) -> None:
    if as_dir:
        os.makedirs(path, exist_ok=True)
        path = os.path.join(path, "part-0.parquet")
    pq.write_table(table, path)


@pytest.mark.parametrize("as_dir", [False, True], ids=["file", "directory"])
def test_rewrite_in_place_shows_added_column(spark, tmp_path, as_dir):
    sf_dir = str(tmp_path)
    path = tables.table_path(sf_dir, "region")
    _write(path, pa.table({"r_regionkey": [0, 1]}), as_dir)
    assert load_table(spark, sf_dir, "region").columns == ["r_regionkey"]
    assert load_table(spark, sf_dir, "region").columns == ["r_regionkey"]

    _write(path, pa.table({"r_regionkey": [0, 1], "r_name": ["A", "B"]}), as_dir)
    df = load_table(spark, sf_dir, "region")
    assert df.columns == ["r_regionkey", "r_name"]
    assert sorted(df.collect()) == [(0, "A"), (1, "B")]


def test_binary_as_string_conf_is_part_of_the_key(spark, tmp_path):
    sf_dir = str(tmp_path)
    pq.write_table(
        pa.table({"r_name": pa.array([b"x", b"y"], type=pa.binary())}),
        tables.table_path(sf_dir, "region"),
    )
    assert dict(load_table(spark, sf_dir, "region").dtypes) == {"r_name": "binary"}
    with scoped_conf(spark, "spark.sql.parquet.binaryAsString", "true"):
        assert dict(load_table(spark, sf_dir, "region").dtypes) == {"r_name": "string"}
    assert dict(load_table(spark, sf_dir, "region").dtypes) == {"r_name": "binary"}


def test_nanosecond_events_ts_reads_as_ntz_when_cached(spark, tmp_path):
    """A TIMESTAMP(NANOS) ``events.ts`` infers as a nanosecond long and
    is normalized to TIMESTAMP_NTZ, on the inferring load and on the
    load that reads the cached schema."""
    sf_dir = str(tmp_path)
    ts = pa.array([1_700_000_000_123_456_789], type=pa.timestamp("ns"))
    pq.write_table(pa.table({"ts": ts}), tables.table_path(sf_dir, "events"))
    first = load_table(spark, sf_dir, "events")
    second = load_table(spark, sf_dir, "events")
    assert dict(first.dtypes) == dict(second.dtypes) == {"ts": "timestamp_ntz"}
    assert first.collect() == second.collect()


def test_self_join_of_two_loads_resolves(spark, sf_dir):
    load_table(spark, sf_dir, "orders")
    a = load_table(spark, sf_dir, "orders")
    b = load_table(spark, sf_dir, "orders")
    joined = a.join(b, a["o_orderkey"] == b["o_orderkey"])
    assert joined.count() == a.count()
