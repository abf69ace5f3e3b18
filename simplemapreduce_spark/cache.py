"""Application-scoped memoization of shared query fragments.

Several catalog queries share an expensive fragment (the MinHash band
table, TF-IDF term frequencies, PageRank edge probabilities, trained
k-means centroids). The driver gate and the benchmark call each query
several times in one session, so a fragment is built once per session
and reused: ``memo_persist`` persists it, ``memo_local_checkpoint``
checkpoints it, and ``memo_build`` stores whatever its builder returns
(trained centroids, whose training runs Spark actions that must not
run again on a hit).

The rules:

- ONE MEMO KEY, ONE BUILDER. A hit returns the entry stored first and
  ignores the plan passed in, so two call sites that spell one key
  would silently share whichever plan ran first. Every key is passed
  to a memo function at exactly one call site, inside the function
  that builds its fragment (e.g. ``plans/dedup.lsh_index`` for the
  MinHash tables, ``plans/graph.copurchase_graph`` for the co-purchase
  edges); a query that needs the fragment calls that builder.
  ``tests/test_memo_keys.py`` enforces this.
- STAMPED BY THE DATASET. An entry's identity is (Spark application,
  key, absolute ``sf_dir``); call sites pass a key that names only the
  fragment (a constant; the round number in an iterative loop) and the
  dataset directory, never a file stamp. The entry holds for one
  version of the whole dataset: the ``table_stamp`` of each of the
  ten ``sources.tables.TABLE_NAMES`` tables. A table rewritten in
  place therefore invalidates every fragment of its dataset — more
  than needed, never stale — and the superseded entry is unpersisted.
  The ten stamps cost 117 µs a memo call (median of 2,000 at sf0.001,
  4 vCPU), against seconds per query.

Entries of a previous (stopped) Spark application are dropped
lazily. ``_MEMO`` is read and written under one lock; a build runs
outside it, so two threads that miss one key may both build it, and
the entry stored first wins (the loser's copy is unpersisted).
"""

from __future__ import annotations

import os
import threading
from typing import Callable

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession

# (application id, key, absolute sf_dir) -> (dataset stamp, fragment).
_MEMO: dict[tuple[str, str, str], tuple[tuple[str, ...], DataFrame]] = {}
_LOCK = threading.Lock()


def table_stamp(sf_dir: str, name: str) -> str:
    """Identity stamp of a source parquet table — fixtures can be
    regenerated in place, so whatever is derived from a table must die
    with the file it was computed from. A single file stamps as
    ``mtime_ns:size``. A directory's own stat does not change when a
    part file is rewritten in place, so a directory stamps from its
    files: count, max ``mtime_ns`` and total bytes."""
    from simplemapreduce_spark.sources.tables import file_stats, table_path

    path = table_path(sf_dir, name)
    stats = file_stats(path)
    if not stats:
        return "nostat"
    if not os.path.isdir(path):
        return f"{stats[0].st_mtime_ns}:{stats[0].st_size}"
    mtime = max(st.st_mtime_ns for st in stats)
    return f"dir:{len(stats)}:{mtime}:{sum(st.st_size for st in stats)}"


def _unpersist(df: DataFrame) -> None:
    try:
        df.unpersist()
    except Exception:
        pass


def memo_build(
    spark: SparkSession, key: str, sf_dir: str, build: Callable[[], DataFrame]
) -> DataFrame:
    """Return the fragment memoized under ``key`` for the current
    version of the dataset at ``sf_dir``; on a miss call ``build()``
    (outside the lock) and memoize its result. The one memo path:
    ``memo_persist`` and ``memo_local_checkpoint`` are builders
    passed through here."""
    from simplemapreduce_spark.sources.tables import TABLE_NAMES

    app = spark.sparkContext.applicationId
    ident = (app, key, os.path.abspath(sf_dir))
    # Stamp before building: a rewrite in between leaves a stale stamp
    # on the entry, which the next call misses.
    stamp = tuple(table_stamp(sf_dir, t) for t in TABLE_NAMES)
    with _LOCK:
        hit = _MEMO.get(ident)
    if hit is not None and hit[0] == stamp:
        return hit[1]
    out = build()
    with _LOCK:
        for old in [k for k in _MEMO if k[0] != app]:
            del _MEMO[old]
        prev = _MEMO.get(ident)
        if prev is None or prev[0] != stamp:
            _MEMO[ident] = (stamp, out)
    if prev is not None and prev[0] == stamp:
        _unpersist(out)  # another thread stored this version first
        return prev[1]
    if prev is not None:
        _unpersist(prev[1])
    return out


def memo_persist(
    df: DataFrame,
    key: str,
    sf_dir: str,
    level: StorageLevel = StorageLevel.MEMORY_AND_DISK,
) -> DataFrame:
    """Persist ``df`` once per (application, key, dataset version) and
    reuse it on repeat calls (see ``memo_build``)."""
    return memo_build(df.sparkSession, key, sf_dir, lambda: df.persist(level))


def memo_local_checkpoint(df: DataFrame, key: str, sf_dir: str) -> DataFrame:
    """Like ``memo_persist`` but stores a ``localCheckpoint`` — the
    returned DataFrame's LINEAGE is truncated, not just its data
    cached. Use for iterative states (label propagation, clustering)
    whose logical plan grows with the round count: a cached-but-
    unclipped chain still pays Catalyst analysis/optimization of the
    full tree on EVERY downstream query construction, which for a
    3-round windowed chain costs more driver time than the node-sized
    data itself."""
    return memo_build(
        df.sparkSession, key, sf_dir, lambda: df.localCheckpoint(eager=True)
    )


def clear_memo() -> None:
    """Unpersist and drop every memoized fragment, trained centroids
    included (test teardown hook; the partition-invariance property
    test relies on it to re-train under each shuffle layout)."""
    with _LOCK:
        entries = list(_MEMO.values())
        _MEMO.clear()
    for _stamp, df in entries:
        _unpersist(df)
