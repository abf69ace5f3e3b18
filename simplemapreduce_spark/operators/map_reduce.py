"""Generic map→shuffle→group→reduce→sort compatibility API.

Reproduces the reference's entire query surface — two user functions
over untyped string pairs — on Spark:

* ``mapF(filename, contents) -> [KeyValue]``: UDTF-shaped, consumed at
  /root/reference/src/common/common_map.go:64-71. Here: ``map_f`` over
  an input DataFrame via Arrow-batched ``mapInPandas`` (1 row → 0..n
  ``(key, value)`` pairs).
* hash partition by key (FNV mod nReduce, common_map.go:72-77,
  common.go:61-66). Here: Spark's hash shuffle — the observable
  contract (equal keys co-located) is identical; the hash function is
  not observable in outputs (SURVEY.md §2.1 row 3).
* group values per key + holistic ``reduceF(key, values) -> value``
  (common_reduce.go:51-87, called once per distinct key with ALL
  values). Here: ``groupBy("key").agg(collect_list("value"))`` and one
  Arrow-batched ``mapInPandas`` that calls ``reduce_f`` once per
  grouped row — one key's values are one row's array, the same
  all-values-in-memory contract. ``collect_list`` drops nulls, so the
  number of null values per key is aggregated beside it and that many
  ``None`` are appended: ``reduce_f`` sees the key's whole multiset.
  NOTE the deliberate divergence knob: native Spark aggregates spill /
  combine partially; this compat operator intentionally does not,
  matching the reference (SURVEY.md §7.3).
* global lexicographic sort of string keys
  (mapreduce/master.go:112-116). Here: the grouped
  rows are range-partitioned and sorted within partitions by key
  *before* the Python reduce, so Spark's range-partition sampling job
  reads JVM rows and ``reduce_f`` runs once per key, not a second time
  for the sample.

At scale: mapInPandas streams Arrow batches, so the map side never
materializes a partition in Python memory; the reduce side holds one
Arrow batch of grouped keys at a time, each key with all of its values
(reference contract). For aggregates expressible with built-ins,
callers should bypass this API — it exists for parity, not as the fast
path.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

KV_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType(), True),
        T.StructField("value", T.StringType(), True),
    ]
)

# mapF: (row-as-dict) -> iterable of (key, value) string pairs.
MapF = Callable[[dict], Iterable[tuple[str, str]]]
# reduceF: (key, list-of-values) -> single output value.
ReduceF = Callable[[str, list[str]], str]


def map_pairs(df: DataFrame, map_f: MapF) -> DataFrame:
    """Apply the UDTF-shaped map function: each input row yields 0..n
    (key, value) string pairs. Arrow-batched; rows are handed to
    ``map_f`` as plain dicts (the reference handed (filename,
    contents); any input schema is allowed here)."""

    from simplemapreduce_spark.session import ensure_package_shipped
    from simplemapreduce_spark.sources.tables import ensure_parallelism

    ensure_package_shipped(df.sparkSession)
    df = ensure_parallelism(df)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            keys: list[str] = []
            values: list[str] = []
            for row in batch.to_dict("records"):
                for k, v in map_f(row):
                    keys.append(k)
                    values.append(v)
            yield pd.DataFrame({"key": keys, "value": values})

    return df.mapInPandas(run, schema=KV_SCHEMA)


def _group_values(pairs: DataFrame, n_partitions: int | None) -> DataFrame:
    """One row per distinct key: the key's non-null values as an array
    and the number of its null values."""
    if n_partitions is not None:
        pairs = pairs.repartition(n_partitions, "key")
    return pairs.groupBy("key").agg(
        F.collect_list("value").alias("values"),
        F.count_if(F.col("value").isNull()).alias("nulls"),
    )


def _reduce_groups(grouped: DataFrame, reduce_f: ReduceF) -> DataFrame:
    """Call ``reduce_f(key, values)`` once per grouped row, keeping
    partition and row order."""
    from simplemapreduce_spark.session import ensure_package_shipped

    ensure_package_shipped(grouped.sparkSession)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            values = [
                reduce_f(key, vals.tolist() + [None] * nulls)
                for key, vals, nulls in zip(batch["key"], batch["values"], batch["nulls"])
            ]
            yield pd.DataFrame({"key": batch["key"], "value": values})

    return grouped.mapInPandas(run, schema=KV_SCHEMA)


def reduce_pairs(pairs: DataFrame, reduce_f: ReduceF, n_partitions: int | None = None) -> DataFrame:
    """Group all values per key and apply the holistic reduce once per
    distinct key. ``n_partitions`` mirrors the reference's nReduce —
    omit to let AQE choose."""
    return _reduce_groups(_group_values(pairs, n_partitions), reduce_f)


def map_reduce(
    df: DataFrame,
    map_f: MapF,
    reduce_f: ReduceF,
    n_partitions: int | None = None,
    sort: bool = True,
) -> DataFrame:
    """Full reference dataflow: map → hash shuffle → group → holistic
    reduce → (optional) global lexicographic key sort.

    Output invariants matching the reference:
    * exactly one row per distinct key (common_reduce.go:84-86);
    * ``sort=True`` orders by the STRING key — ``"10" < "2"``
      (master.go:116, sort.Strings semantics). The grouped rows are
      range-partitioned (into ``n_partitions`` when given) and sorted
      within partitions before the reduce, whose ``mapInPandas`` keeps
      partition and row order, so ``collect()`` and partition-ordered
      writes come back sorted. Catalyst does not know the output is
      ordered: an operator that needs a key order (``orderBy``, a
      sort-merge join) still plans its own sort.
    """
    grouped = _group_values(map_pairs(df, map_f), n_partitions)
    if sort:
        if n_partitions is not None:
            grouped = grouped.repartitionByRange(n_partitions, "key")
        else:
            grouped = grouped.repartitionByRange("key")
        grouped = grouped.sortWithinPartitions("key")
    return _reduce_groups(grouped, reduce_f)
