"""Full-catalog SQL-conf invariance sweep.

Every catalog query runs twice in one session under two values of ONE
runtime SQL conf, memo cleared between runs, and the sorted stringified
rows must match: the property that makes the DuckDB oracle gate
meaningful on whatever session and cluster a caller brings. Each axis
swept so far is one row of ``AXES``; a new axis is a new row. The JVM
default-locale axis needs two JVMs and has its own tool
(``locale_invariance_sweep.py``); repeat invocation is
``double_invoke.py``.

Usage:
    python tools/conf_invariance_sweep.py <axis> [sf_dir] [--only a,b]
    python tools/conf_invariance_sweep.py <conf_key> <value_a> <value_b> \\
        [sf_dir] [--only a,b]

``--only`` takes comma-separated substrings of query names. ``sf_dir``
defaults to the test suite's fixture.

Do NOT run concurrently with the pytest suite or another sweep: queries
stage artifacts under /tmp/smr_scratch keyed by table stamp, and a
concurrent process overwriting a staged dir mid-read produces false
mismatches (observed: q_source_text_lines / q_join_bucketed).
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# name: (conf_key, value_a, value_b)
AXES: dict[str, tuple[str, str, str]] = {
    # shuffle fan-in, then the degenerate single reducer (no reduce-side
    # parallelism: the strongest ordering stress for aggregation state)
    "shuffle": ("spark.sql.shuffle.partitions", "5", "32"),
    "shuffle1": ("spark.sql.shuffle.partitions", "32", "1"),
    # a DST-observing zone: a caller's own session may not pin UTC
    "tz": ("spark.sql.session.timeZone", "UTC", "America/New_York"),
    # many tiny scan splits vs the default: every per-partition code path
    "split": ("spark.sql.files.maxPartitionBytes", str(64 * 1024), str(128 * 1024 * 1024)),
    "aqe": ("spark.sql.adaptive.enabled", "true", "false"),
    # compiled vs interpreted evaluation; factoryMode NO_CODEGEN also
    # interprets the projections that wholeStage off still generates
    "codegen": ("spark.sql.codegen.wholeStage", "true", "false"),
    "codegen_factory": ("spark.sql.codegen.factoryMode", "FALLBACK", "NO_CODEGEN"),
    # batch boundaries in every mapInPandas / applyInPandas / pandas UDAF
    "arrowbatch": ("spark.sql.execution.arrow.maxRecordsPerBatch", "7", "10000"),
    # driver <-> JVM pandas conversion through the pickle fallback
    "arrow_off": ("spark.sql.execution.arrow.pyspark.enabled", "true", "false"),
    # no broadcast joins vs the session's 64 MB threshold
    "bcast": ("spark.sql.autoBroadcastJoinThreshold", "-1", str(64 * 1024 * 1024)),
    # silent overflow wrap vs error
    "ansi": ("spark.sql.ansi.enabled", "true", "false"),
    "vectorized": ("spark.sql.parquet.enableVectorizedReader", "true", "false"),
    "pushdown": ("spark.sql.parquet.filterPushdown", "true", "false"),
    "object_hash_agg": ("spark.sql.execution.useObjectHashAggregateExec", "true", "false"),
    "sort_before_repartition": ("spark.sql.execution.sortBeforeRepartition", "true", "false"),
    "sort_agg": ("spark.sql.execution.replaceHashWithSortAgg", "false", "true"),
    "smj": ("spark.sql.join.preferSortMergeJoin", "true", "false"),
}


def parse_args(argv: list[str]) -> tuple[str, str, str, str | None, list[str]]:
    """(conf_key, value_a, value_b, sf_dir or None, only-substrings)."""
    argv = list(argv)
    only: list[str] = []
    if "--only" in argv:
        k = argv.index("--only")
        if k + 1 >= len(argv):
            raise SystemExit("--only requires a comma-separated substring list")
        # drop empty substrings: a trailing comma would otherwise match
        # every query and silently widen the subset to the full catalog
        only = [s for s in argv[k + 1].split(",") if s]
        del argv[k : k + 2]
    if argv and argv[0] in AXES:
        (key, a, b), rest = AXES[argv[0]], argv[1:]
    elif len(argv) >= 3:
        (key, a, b), rest = argv[:3], argv[3:]
    else:
        raise SystemExit(__doc__ + "\naxes: " + ", ".join(AXES))
    return key, a, b, (rest[0] if rest else None), only


def run(spark, fn, sf_dir: str, key: str, value: str) -> list[str]:
    from simplemapreduce_spark.cache import clear_memo
    from simplemapreduce_spark.session import scoped_conf

    clear_memo()
    with scoped_conf(spark, key, value):
        return sorted(map(str, fn(spark, sf_dir).collect()))


def main(argv: list[str]) -> None:
    key, val_a, val_b, sf_dir, only = parse_args(argv)
    sys.path.insert(0, REPO)
    os.environ["PYTHONPATH"] = REPO

    from simplemapreduce_spark import catalog
    from simplemapreduce_spark.session import get_spark

    if sf_dir is None:
        from tests.conftest import SF_SMALL

        sf_dir = SF_SMALL

    catalog.load_all()
    queries = {
        n: f
        for n, f in catalog.QUERIES.items()
        if not only or any(s in n for s in only)
    }
    if only and not queries:
        raise SystemExit(
            f"--only {','.join(only)!r} matched zero catalog queries — an empty "
            "sweep would report green over nothing (typo in the substring?)"
        )
    spark = get_spark(f"smr-conf-invariance-{key.rsplit('.', 1)[-1]}")
    print(f"axis: {key} = {val_a} vs {val_b} @ {sf_dir} ({len(queries)} queries)",
          flush=True)
    bad = []
    for i, (name, fn) in enumerate(queries.items()):
        try:
            if run(spark, fn, sf_dir, key, val_a) != run(spark, fn, sf_dir, key, val_b):
                bad.append(name)
                print("MISMATCH", name, flush=True)
        except Exception as e:
            bad.append(name)
            print("ERROR", name, repr(e)[:200], flush=True)
        if (i + 1) % 50 == 0:
            print(f"...{i + 1} done", flush=True)
    print("BAD:", bad)
    print("TOTAL:", len(queries), "BAD_COUNT:", len(bad))


if __name__ == "__main__":
    main(sys.argv[1:])
