"""Queries reproducing the reference's own demo workloads on real data.

The reference test suite's only workload is sorted-distinct-tokens:
mapF = whitespace-split emit (word, "") (/root/reference/src/mapreduce/
common_test_suite.go:31-42), reduceF = identity-empty (:45-50), merge =
lexicographic key sort + "key: value" lines (master.go:112-127).
Word count is the canonical MR variant of the same surface.

Here they run over ``documents.text`` as native DataFrame plans —
explode/groupBy — which Catalyst executes with partial aggregation
(map-side combine) that the reference lacked (SURVEY.md §4.2).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from simplemapreduce_spark.catalog import query
from simplemapreduce_spark.functions.text import distinct_tokens, explode_tokens
from simplemapreduce_spark.oracle_sql import SQL_TOKENS
from simplemapreduce_spark.scratch import scratch_dir
from simplemapreduce_spark.sources.tables import load_table

_TOKENS_FROM_DOCS = """
    SELECT unnest(string_split_regex(text, '\\s+')) AS token
    FROM documents
"""

# The word count of documents.text: the answer of both word-count queries.
_SQL_WORD_COUNT = f"""
    SELECT token, count(*) AS cnt
    FROM ({_TOKENS_FROM_DOCS})
    WHERE token <> ''
    GROUP BY token
    """


@query(
    "mr_sorted_distinct_tokens",
    oracle=f"""
    SELECT DISTINCT token
    FROM ({_TOKENS_FROM_DOCS})
    WHERE token <> ''
    ORDER BY token
    """,
)
def mr_sorted_distinct_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: the reference's end-to-end test workload (distinct
    tokens, lexicographic string sort) over documents.text."""
    return distinct_tokens(load_table(spark, sf_dir, "documents"), "text", "token")


@query(
    "mr_word_count",
    oracle=_SQL_WORD_COUNT,
)
def mr_word_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical MR word count — groupBy(token).count(); Catalyst runs
    it as partial+final hash aggregation (a combiner, which the
    reference's holistic reduceF could not express)."""
    docs = load_table(spark, sf_dir, "documents")
    return explode_tokens(docs, "text", "token").groupBy("token").agg(F.count("*").alias("cnt"))


@query(
    "mr_key_value_render",
    oracle=f"""
    SELECT token || ': ' || CAST(cnt AS VARCHAR) AS line
    FROM (
        SELECT token, count(*) AS cnt
        FROM ({_TOKENS_FROM_DOCS})
        WHERE token <> ''
        GROUP BY token
    )
    ORDER BY line
    """,
)
def mr_key_value_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's final artifact format: '"<key>: <value>"' lines
    in lexicographic key order (master.go:124 format string)."""
    counted = mr_word_count(spark, sf_dir)
    return (
        counted.select(
            F.format_string("%s: %s", F.col("token"), F.col("cnt").cast("string")).alias("line")
        )
        .orderBy("line")
    )


@query(
    "q_source_text_whole_files",
    oracle=_SQL_WORD_COUNT,
)
def q_source_text_whole_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's whole-file input contract through the gate:
    documents.text written out as a many-small-files text corpus, read
    back as exact ``(filename, contents)`` pairs via wholeTextFiles
    (common_map.go:66-71 — one map task per file), then word-counted.
    The count equals the direct word count over documents, so the
    round-trip + whole-file scan is value-checked, not just smoke-run."""
    from simplemapreduce_spark.sources.text import read_whole_files

    docs = load_table(spark, sf_dir, "documents").select("text")
    path = scratch_dir("docs_text", sf_dir)
    # 4 files stands in for the reference's one-input-file-per-map-task
    # layout; at scale read_whole_files is only for many-small-files
    # corpora (each file is non-splittable).
    docs.coalesce(4).write.mode("overwrite").text(path)
    files = read_whole_files(spark, os.path.join(path, "part-*"))
    return (
        files.select(F.explode(F.split("contents", r"\s+")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
    )


@query(
    "q_source_text_lines",
    oracle="""
    SELECT COUNT(*) AS n_lines,
           CAST(SUM(length(text)) AS BIGINT) AS total_chars,
           MIN(text) AS first_line
    FROM documents
    """,
)
def q_source_text_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-oriented text source round-trip: documents.text written as
    a plain text corpus, read back line-by-line with spark.read.text —
    the splittable sibling of the whole-file contract (a 100 TB text
    corpus scans in parallel by line blocks; whole-file reads cannot
    split). Line count, byte mass, and min-line all survive the trip,
    so the sink+source pair is value-checked against the original
    table."""
    from simplemapreduce_spark.sources.text import read_lines

    docs = load_table(spark, sf_dir, "documents").select("text")
    path = scratch_dir("docs_lines", sf_dir)
    docs.write.mode("overwrite").text(path)
    lines = read_lines(spark, path)
    return lines.agg(
        F.count("*").alias("n_lines"),
        F.sum(F.length("value")).alias("total_chars"),
        F.min("value").alias("first_line"),
    )


@query(
    "q_mr_compat_inverted_index",
    oracle=f"""
    WITH tok AS (
      SELECT DISTINCT doc_id,
             unnest({SQL_TOKENS}) AS token
      FROM documents
    )
    SELECT token,
           COUNT(*) AS n_docs,
           string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS doc_list
    FROM tok GROUP BY token
    """,
)
def q_mr_compat_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index — the third canonical MapReduce demo app beside
    word count and sorted distinct tokens (the reference's test
    workloads, /root/reference/src/mapreduce/common_test_suite.go:31-50):
    mapF emits (word, doc_id), reduceF renders the sorted distinct
    posting list. Here: explode + distinct + one groupBy with an
    ordered collect, rendered as the comma-joined string the MR
    formulation would write.

    Scale shape: one shuffle on the token key; the posting list per
    token is bounded by document frequency — at 100 TB the hot
    stop-word keys are exactly the MAX_BUCKET/stop-shingle skew case,
    handled by capping or sharding the posting list (documented in
    plans/dedup.py); the fixture vocabulary (~31 tokens) makes every
    posting list long, which stresses the ordered-collect path."""
    from simplemapreduce_spark.functions.text import tokens

    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens("text")).alias("token")).distinct()
    return tok.groupBy("token").agg(
        F.count("*").alias("n_docs"),
        F.array_join(F.sort_array(F.collect_list("doc_id")), ",").alias("doc_list"),
    )


def _secondary_sort_reduce(batches):
    """Streaming reducer over a key-grouped, value-sorted partition
    stream: O(1) state per group (8 buffered types + a counter), with
    group runs stitched across Arrow batch boundaries."""
    import pandas as pd

    cur_uid = None
    cur_types: list = []
    cur_n = 0
    out: dict = {"user_id": [], "path8": [], "n_events": []}
    for pdf in batches:
        for uid, etype in zip(pdf["user_id"], pdf["event_type"]):
            if uid != cur_uid:
                if cur_uid is not None:
                    out["user_id"].append(cur_uid)
                    out["path8"].append(">".join(cur_types))
                    out["n_events"].append(cur_n)
                cur_uid, cur_types, cur_n = uid, [], 0
            cur_n += 1
            if len(cur_types) < 8:
                cur_types.append(etype)
    if cur_uid is not None:
        out["user_id"].append(cur_uid)
        out["path8"].append(">".join(cur_types))
        out["n_events"].append(cur_n)
    yield pd.DataFrame(
        {
            "user_id": pd.Series(out["user_id"], dtype="int64"),
            "path8": pd.Series(out["path8"], dtype=object),
            "n_events": pd.Series(out["n_events"], dtype="int64"),
        }
    )


@query(
    "mr_secondary_sort",
    oracle="""
    WITH r AS (
      SELECT user_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY user_id) AS n_events
      FROM events
    )
    SELECT user_id,
           string_agg(event_type, '>' ORDER BY rn) AS path8,
           CAST(MAX(n_events) AS BIGINT) AS n_events
    FROM r WHERE rn <= 8
    GROUP BY user_id
    """,
)
def mr_secondary_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical MapReduce secondary sort: each user's first-8
    event-type path in (ts, event_id) order, computed by sorting
    VALUES inside the shuffle rather than inside the reducer.

    The reference's reduce contract hands the reducer an unordered
    in-memory slice of all values for a key
    (/root/reference/src/mapreduce/common_reduce.go:51-87) — sorting
    there is O(group) memory and dies on a billion-event user. The MR
    secondary-sort pattern instead makes (key, sort-cols) the shuffle
    sort key: here `repartition(user_id)` + `sortWithinPartitions
    (user_id, ts, event_id)` — Spark's sort-based shuffle machinery,
    the DataFrame spelling of repartitionAndSortWithinPartitions — so
    the Arrow reducer streams key-grouped, value-sorted runs with O(1)
    state per group and never materializes a group, stitching runs
    across batch boundaries. A window-function formulation would give
    the same answer; this one exists to exercise the partition-stream
    reduce contract at bounded memory (the shape that survives skewed
    keys at 100 TB)."""
    e = load_table(spark, sf_dir, "events")
    stream = (
        e.select("user_id", "ts", "event_id", "event_type")
        .repartition("user_id")
        .sortWithinPartitions("user_id", "ts", "event_id")
        .select("user_id", "event_type")
    )
    return stream.mapInPandas(
        _secondary_sort_reduce, "user_id long, path8 string, n_events long"
    )


@query(
    "mr_distributed_grep",
    oracle=r"""
    SELECT text AS line,
           CAST(COUNT(*) AS BIGINT) AS n_dup,
           CAST(len(regexp_extract_all(text, '\bspark\b')) AS BIGINT) AS n_hits
    FROM documents
    WHERE regexp_matches(text, '\bspark\b')
    GROUP BY text
    """,
)
def mr_distributed_grep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed grep — the original MapReduce paper's canonical
    example (Dean & Ghemawat, OSDI 2004 §2.1: map emits a line if it
    matches the pattern; the identity reduce just merges): matching
    lines with duplicate count and per-line hit count, through the
    same text-corpus round-trip as q_source_text_lines (write
    documents.text as a plain-text corpus, scan it back line-by-line).

    Scale shape: the regex filter runs inside the scan stage on the
    splittable line source — a selective predicate drops non-matching
    lines BEFORE the dedup groupBy, so the shuffle carries only
    matches; per-line hit counting is a row-local regexp_extract_all.
    The reference would run this as mapF = regex test + emit
    (/root/reference/src/mapreduce/common_map.go:64-71); here the scan,
    filter, and merge are one declarative plan."""
    from simplemapreduce_spark.sources.text import read_lines

    docs = load_table(spark, sf_dir, "documents").select("text")
    path = scratch_dir("docs_grep", sf_dir)
    docs.write.mode("overwrite").text(path)
    lines = read_lines(spark, path)
    pat = r"\bspark\b"
    return (
        lines.filter(F.col("value").rlike(pat))
        .groupBy(F.col("value").alias("line"))
        .agg(
            F.count("*").cast("long").alias("n_dup"),
            F.size(F.regexp_extract_all("value", F.lit(pat), 0)).cast("long").alias("n_hits"),
        )
    )
