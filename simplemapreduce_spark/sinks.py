"""Sinks.

The reference's final artifact is ONE text file of lexicographically
key-sorted ``"<key>: <value>"`` lines
(/root/reference/src/mapreduce/master.go:112-127; format string at
:124). ``write_key_value_text`` reproduces it byte-for-byte.

Scale note: a single output file forces a 1-partition final stage, as
does the reference's single-process merge. That is inherent to the
artifact, not a Spark limitation. The single-file sink therefore sorts
inside its one partition and runs no range-partition sampling job (a
global sort would sample, and so re-run, its whole input first). Pass
``single_file=False`` to keep the sort distributed across
range-partitioned part files whose concatenation in filename order is
globally sorted.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def format_key_value(df: DataFrame, key: str = "key", value: str = "value") -> DataFrame:
    """Render ``"<key>: <value>"`` lines (master.go:124 '%s: %s')."""
    return df.select(F.format_string("%s: %s", F.col(key), F.col(value)).alias("value"))


def write_key_value_text(
    df: DataFrame,
    path: str,
    key: str = "key",
    value: str = "value",
    single_file: bool = True,
) -> None:
    """Sorted ``key: value`` text sink (the reference's merge())."""
    if single_file:
        df = df.repartition(1).sortWithinPartitions(F.col(key).asc())
    else:
        df = df.orderBy(F.col(key).asc())
    format_key_value(df, key, value).write.mode("overwrite").text(path)


def write_json_pairs(df: DataFrame, path: str) -> None:
    """Line-JSON pair sink — the reference's intermediate/result file
    format (common_map.go:89-95, one JSON object per line)."""
    df.write.mode("overwrite").json(path)
