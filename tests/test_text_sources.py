"""Text source / JSON pair-sink contract tests — the reference's exact
input surface (whole files in, (filename, contents) pairs) and its
intermediate file format (line-JSON key/value pairs).
"""

from __future__ import annotations

import json
import os

from simplemapreduce_spark.operators.map_reduce import map_reduce
from simplemapreduce_spark.scratch import scratch_root
from simplemapreduce_spark.sinks import write_json_pairs
from simplemapreduce_spark.sources.text import read_lines, read_whole_files


def _write_inputs(files: dict[str, str], sub: str = "text_inputs") -> str:
    import shutil
    d = os.path.join(scratch_root(), sub)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d, exist_ok=True)
    for name, contents in files.items():
        with open(os.path.join(d, name), "w") as f:
            f.write(contents)
    return d


def test_whole_files_preserves_filename_and_contents(spark):
    d = _write_inputs({"a.txt": "one two\nthree", "b.txt": "four"}, sub="whole_inputs")
    rows = {os.path.basename(r["filename"]): r["contents"] for r in read_whole_files(spark, d).collect()}
    assert rows == {"a.txt": "one two\nthree", "b.txt": "four"}


def test_read_lines_splits_rows(spark):
    d = _write_inputs({"c.txt": "x\ny\nz"}, sub="line_inputs")
    assert sorted(r["value"] for r in read_lines(spark, os.path.join(d, "c.txt")).collect()) == [
        "x",
        "y",
        "z",
    ]


def test_reference_pipeline_from_text_files(spark):
    """The reference's full flow: whole text files → mapF tokens →
    holistic reduce → sorted keys (common_test_suite.go workload)."""
    d = _write_inputs({"f0.txt": "3 1 2", "f1.txt": "2 10 1"}, sub="mr_inputs")
    files = read_whole_files(spark, d)

    def map_f(row):
        for tok in row["contents"].split():
            yield tok, ""

    def reduce_f(key, values):
        return ""

    out = map_reduce(files, map_f, reduce_f)
    # Lexicographic STRING order: "10" sorts before "2".
    assert [r["key"] for r in out.collect()] == ["1", "10", "2", "3"]


def test_json_pair_sink_line_format(spark):
    df = spark.createDataFrame([("k1", "v1"), ("k2", "v2")], ["key", "value"])
    path = os.path.join(scratch_root(), "json_pairs")
    write_json_pairs(df.coalesce(1), path)
    import glob

    [part] = glob.glob(os.path.join(path, "part-*.json"))
    with open(part) as f:
        objs = [json.loads(line) for line in f if line.strip()]
    assert sorted((o["key"], o["value"]) for o in objs) == [("k1", "v1"), ("k2", "v2")]
