"""Exact-semantics tests for the map_reduce compatibility surface,
mirroring the reference's own test suite (SURVEY.md §5):

* fixture = the integers 0..99 as strings, one per row — the
  reference's MakeInputs (common_test_suite.go:53-70, nNumber=100);
* workload = whitespace-split mapF emitting (token, ""), identity
  reduceF (common_test_suite.go:31-50);
* oracle = output keys equal the STRING-sorted inputs, exactly 100
  rows (common_test_suite.go:74-114 Check) — note "10" < "2";
* topology matrix ≙ nReduce ∈ {1, 3, 10} must not change results
  (the reference runs 1/3/10 reduce tasks across its tests).
"""

from __future__ import annotations

import glob
import os

import pytest

from simplemapreduce_spark.operators.map_reduce import map_reduce
from simplemapreduce_spark.sinks import format_key_value, write_key_value_text

N_NUMBER = 100


@pytest.fixture(scope="module")
def number_df(spark):
    # one line per number, shuffled deterministically — order must not matter
    values = [str(i) for i in range(N_NUMBER)]
    values = values[::3] + values[1::3] + values[2::3]
    return spark.createDataFrame([(v,) for v in values], ["value"])


def _map_tokens(row):
    for tok in row["value"].split():
        yield tok, ""


def _reduce_identity(key, values):
    return ""


@pytest.mark.parametrize("n_partitions", [1, 3, 10])
def test_sorted_distinct_numbers(spark, number_df, n_partitions):
    out = map_reduce(number_df, _map_tokens, _reduce_identity, n_partitions=n_partitions)
    rows = out.collect()
    assert len(rows) == N_NUMBER
    expected = sorted(str(i) for i in range(N_NUMBER))  # string sort: "0","1","10",...
    assert [r["key"] for r in rows] == expected
    assert all(r["value"] == "" for r in rows)


def test_word_count_reduce(spark):
    df = spark.createDataFrame([("a b a",), ("b a",)], ["value"])

    def map_f(row):
        for tok in row["value"].split():
            yield tok, "1"

    def reduce_f(key, values):
        return str(sum(int(v) for v in values))

    out = map_reduce(df, map_f, reduce_f)
    assert [(r["key"], r["value"]) for r in out.collect()] == [("a", "3"), ("b", "2")]


def test_distinct_keys_invariant(spark, number_df):
    out = map_reduce(number_df, _map_tokens, _reduce_identity, sort=False)
    keys = [r["key"] for r in out.collect()]
    assert len(keys) == len(set(keys)), "one output row per distinct key (common_reduce.go:84-86)"


def test_key_value_render(spark):
    df = spark.createDataFrame([("10", "x"), ("2", "y")], ["key", "value"])
    lines = [r["value"] for r in format_key_value(df.orderBy("key")).collect()]
    assert lines == ["10: x", "2: y"]  # '%s: %s' + lexicographic order


def test_holistic_reduce_sees_all_values(spark):
    df = spark.createDataFrame([("k", str(i)) for i in range(50)], ["key", "value"])

    def map_f(row):
        yield row["key"], row["value"]

    def reduce_f(key, values):
        assert len(values) == 50
        return str(len(values))

    out = map_reduce(df, map_f, reduce_f)
    assert out.collect()[0]["value"] == "50"


def test_map_reduce_word_count_n_partitions(spark):
    df = spark.createDataFrame(
        [("a b a",), ("b c",)], ["text"]
    )

    def map_f(row):
        for tok in row["text"].split():
            yield tok, "1"

    def reduce_f(key, values):
        return str(sum(int(v) for v in values))

    got = map_reduce(df, map_f, reduce_f, n_partitions=3)
    assert [tuple(r) for r in got.collect()] == [("a", "2"), ("b", "2"), ("c", "1")]


def test_flagship_final_artifact_bytes(spark, sf_dir, tmp_path):
    """Byte-level golden check of the flagship's final artifact against
    the reference's merge semantics (master.go:112-127): ONE text file,
    keys in lexicographic STRING order (sort.Strings, :116), each line
    rendered "<key>: <value>" (format string at :124 — the identity
    reduceF of the reference test suite leaves value empty, so lines
    end "token: "). The expected bytes are built independently in
    Python from the raw parquet (str.split == Go strings.Fields:
    whitespace runs, empties dropped; sorted() == sort.Strings for
    UTF-8), so this pins the whole pipeline — tokenize, distinct,
    sort, render, single-file sink — not just a row count
    (VERDICT r3 next-round #5)."""
    import glob as _glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from simplemapreduce_spark import catalog
    from simplemapreduce_spark.sinks import write_key_value_text

    catalog.load_all()

    texts = pq.read_table(f"{sf_dir}/documents.parquet", columns=["text"])
    toks = sorted({t for s in texts.column("text").to_pylist() for t in s.split()})
    expected = "".join(f"{t}: \n" for t in toks).encode("utf-8")

    out = str(tmp_path / "mr_final")
    df = catalog.QUERIES["mr_sorted_distinct_tokens"](spark, sf_dir)
    write_key_value_text(df.select("token", F.lit("").alias("value")), out, key="token")

    parts = _glob.glob(os.path.join(out, "part-*"))
    assert len(parts) == 1, "reference merge produces exactly one output file"
    with open(parts[0], "rb") as f:
        got = f.read()
    assert got == expected


def _counting_word_count(spark):
    """Word-count mapF/reduceF that count their calls in accumulators
    (a module global would not reach the Python workers)."""
    map_calls, reduce_calls = spark.sparkContext.accumulator(0), spark.sparkContext.accumulator(0)

    def map_f(row):
        map_calls.add(1)
        for tok in row["value"].split():
            yield tok, "1"

    def reduce_f(key, values):
        reduce_calls.add(1)
        return str(len(values))

    return map_f, reduce_f, map_calls, reduce_calls


@pytest.mark.parametrize("n_partitions", [None, 3])
def test_reduce_f_runs_once_per_key(spark, tmp_path, n_partitions):
    """reduceF is called once per distinct key (common_reduce.go:56,85)
    and mapF once per line, through collect() and through the sorted
    single-file sink: no range-partition sampling job may re-run the
    Python reduce."""
    lines = [" ".join(f"w{(i * 7 + j) % 50}" for j in range(5)) for i in range(40)]
    df = spark.createDataFrame([(line,) for line in lines], ["value"])
    n_keys = len({tok for line in lines for tok in line.split()})

    map_f, reduce_f, map_calls, reduce_calls = _counting_word_count(spark)
    rows = map_reduce(df, map_f, reduce_f, n_partitions=n_partitions).collect()
    assert [r["key"] for r in rows] == sorted(r["key"] for r in rows)
    assert (map_calls.value, reduce_calls.value) == (len(lines), n_keys)

    map_f, reduce_f, map_calls, reduce_calls = _counting_word_count(spark)
    out = str(tmp_path / "wc")
    write_key_value_text(map_reduce(df, map_f, reduce_f, n_partitions=n_partitions), out)
    assert (map_calls.value, reduce_calls.value) == (len(lines), n_keys)
    [part] = glob.glob(os.path.join(out, "part-*"))
    with open(part, "rb") as f:
        assert f.read() == "".join(f"{r['key']}: {r['value']}\n" for r in rows).encode()


def test_null_values_reach_reduce(spark):
    """collect_list drops nulls; reduceF must still see every value of
    its key, nulls included."""
    df = spark.createDataFrame([("x",)], ["value"])

    def map_f(row):
        yield "a", None
        yield "a", "x"
        yield "b", None

    def reduce_f(key, values):
        return repr(sorted(values, key=lambda v: (v is None, v)))

    got = [tuple(r) for r in map_reduce(df, map_f, reduce_f).collect()]
    assert got == [("a", "['x', None]"), ("b", "[None]")]


def test_empty_input_writes_one_empty_file(spark, tmp_path):
    df = spark.createDataFrame([], "value string")
    out = str(tmp_path / "empty")
    write_key_value_text(map_reduce(df, _map_tokens, _reduce_identity), out)
    [part] = glob.glob(os.path.join(out, "part-*"))
    assert os.path.getsize(part) == 0


def test_plan_has_no_per_key_pandas_groups(spark, number_df):
    """The holistic reduce is one grouped row per key fed to one
    mapInPandas, not one pandas frame per key."""
    out = map_reduce(number_df, _map_tokens, _reduce_identity, n_partitions=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" not in plan
    assert "MapInPandas" in plan
