"""SparkSession factory for local mode, sized to the host it runs on,
while remaining cluster-safe (every setting here is sane on a
1000-executor cluster; only master/memory are local-mode specifics).

Reference lifecycle being replaced: Sequential/Distributed masters
(/root/reference/src/mapreduce/master_sequential.go:6-28,
master_distributed.go:13-30) — in Spark the same program runs locally
or on a cluster by changing only the master URL.
"""

from __future__ import annotations

import os
import threading
from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import SparkSession

# Local parallelism defaults to the CPUs this process may run on and
# the driver heap to half of physical memory; SPARK_GRAFT_CPUS and
# SPARK_GRAFT_DRIVER_MEM override them per deployment. Shuffle
# partitions match local parallelism rather than the default 200 (tiny
# local data) — on a real cluster AQE coalesces to the right number
# anyway, so this is a floor, not a ceiling.
_DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))


def _default_driver_mem() -> str:
    half_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2 // 2**20
    return os.environ.get("SPARK_GRAFT_DRIVER_MEM") or f"{half_mb}m"


def get_spark(app_name: str = "simplemapreduce_spark", *, cpus: str | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults.

    AQE on (runtime re-plan, skew-join splitting, partition coalescing),
    Arrow on (fast pandas interchange for the UDF-backed operators),
    UTC session timezone (deterministic timestamp semantics vs the
    DuckDB oracle).
    """
    cpus = cpus or _DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.default.parallelism", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", _default_driver_mem())
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Constraint inference rewrites IsNotNull(derived_col) through
        # projections into the full defining expression and pushes it
        # below parallelizing exchanges — for higher-order-function
        # pipelines (shingling, minhash) that re-evaluates the whole
        # pipeline single-threaded inside the scan filter (observed 8x
        # slowdown). Our plans gain nothing from inferred constraints.
        .config("spark.sql.constraintPropagation.enabled", "false")
        # events.parquet stores TIMESTAMP(NANOS) which the vectorized
        # reader rejects; read as long and convert in the loader.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    global _SCRATCH_GCED
    if not _SCRATCH_GCED:
        _SCRATCH_GCED = True
        gc_scratch()
    return spark


_SCRATCH_GCED = False


_CONF_LOCK = threading.RLock()


@contextmanager
def scoped_conf(spark: SparkSession, key: str, value: object) -> Iterator[None]:
    """Set the runtime SQL conf ``key`` to ``value`` for the body of the
    block only (``value=None`` leaves the conf untouched). On exit the
    previous value comes back, and a key that was unset is unset again.

    The session conf is shared by every query on the session, so one
    process-wide lock serializes all scoped overrides: two threads
    scoping the same key cannot interleave their set/restore pairs and
    leave the wrong value behind. The lock is reentrant because scopes
    nest (``tools/conf_invariance_sweep.run`` scopes a conf around a
    query whose stream drain scopes ``spark.sql.shuffle.partitions``).
    A streaming query needs its override only around ``start()``:
    StreamExecution clones the session conf synchronously inside it."""
    if value is None:
        yield
        return
    with _CONF_LOCK:
        prev = spark.conf.get(key, None)
        spark.conf.set(key, str(value))
        try:
            yield
        finally:
            if prev is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, prev)


_SHIPPED_APPS: set[str] = set()


def ensure_package_shipped(spark: SparkSession) -> None:
    """Make ``simplemapreduce_spark`` importable on Python workers of
    ANY session — including one created by an external driver without
    this repo on PYTHONPATH.

    cloudpickle serializes module-level functions (our mapInPandas /
    applyInPandas wrappers) BY REFERENCE, so workers must import the
    package; shipping a zip via addPyFile is the Spark-native way and
    is exactly what a cluster submit would do (--py-files).

    Concurrency-safe: the zip is built in a unique temp file and
    os.replace()d into place (no process can ship a half-written zip),
    and the shipped-set keys on applicationId (id(sc) can be reused
    after a context is garbage-collected).
    """
    sc = spark.sparkContext
    app_id = sc.applicationId
    if app_id in _SHIPPED_APPS:
        return
    import tempfile
    import zipfile

    from simplemapreduce_spark.scratch import scratch_root

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    scratch = scratch_root()
    zip_path = os.path.join(scratch, "simplemapreduce_spark_pkg.zip")
    os.makedirs(scratch, exist_ok=True)
    fd, tmp_path = tempfile.mkstemp(suffix=".zip", dir=scratch)
    try:
        with os.fdopen(fd, "wb") as fh, zipfile.ZipFile(fh, "w") as z:
            for root, _dirs, files in os.walk(pkg_dir):
                for f in sorted(files):
                    if f.endswith(".py"):
                        full = os.path.join(root, f)
                        z.write(full, os.path.relpath(full, os.path.dirname(pkg_dir)))
        os.replace(tmp_path, zip_path)
    except BaseException:
        if os.path.exists(tmp_path):
            os.unlink(tmp_path)
        raise
    try:
        sc.addPyFile(zip_path)
    except Exception:
        pass  # already added to this context
    _SHIPPED_APPS.add(app_id)


def gc_scratch(max_age_hours: float = 24.0) -> int:
    """Garbage-collect stale roundtrip/sink artifacts under the scratch
    dir (the reference deletes its intermediate mr-* files at shutdown,
    master.go:138-148; Spark's own shuffle files are lifecycle-managed,
    but our source/sink roundtrip dirs are not). Age-based so artifacts
    of any live concurrent session (always fresh) are never touched.
    Returns the number of entries removed."""
    import shutil
    import time

    from simplemapreduce_spark.scratch import scratch_root

    scratch = scratch_root()
    if not os.path.isdir(scratch):
        return 0
    cutoff = time.time() - max_age_hours * 3600
    removed = 0
    for entry in os.listdir(scratch):
        full = os.path.join(scratch, entry)
        try:
            if os.path.getmtime(full) >= cutoff:
                continue
            if os.path.isdir(full):
                shutil.rmtree(full, ignore_errors=True)
            else:
                os.unlink(full)
            removed += 1
        except OSError:
            continue  # raced with a concurrent writer; leave it
    return removed


def task_stats(spark: SparkSession) -> dict:
    """Task-execution statistics for this session — the Spark-side
    equivalent of the reference's per-worker shutdown report
    (/root/reference/src/mapreduce/master.go:152-167 collects
    tasks-per-worker; worker.go:95-102 counts them). Spark tracks the
    same facts in its status tracker; this surfaces them as one dict:

      jobs / stages               completed counts this session
      tasks_completed/_failed     across all retained stages
      executors                   per-executor (host, running tasks) —
                                  one entry in local mode, one per
                                  worker JVM on a cluster

    Task retry visibility: a task that failed and was retried by the
    scheduler (spark.task.maxFailures) shows up in tasks_failed while
    the job still succeeds — the at-least-once contract the reference
    implements with its forever-retry RPC loop (common_rpc.go:114-129).
    """
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    job_ids = tracker.getJobIdsForGroup(None)
    stages_seen: set[int] = set()
    completed_jobs = 0
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        if info.status == "SUCCEEDED":
            completed_jobs += 1
        stages_seen.update(info.stageIds)
    tasks_completed = tasks_failed = stages_completed = 0
    for sid in stages_seen:
        sinfo = tracker.getStageInfo(sid)
        if sinfo is None:
            continue
        tasks_completed += sinfo.numCompletedTasks
        tasks_failed += sinfo.numFailedTasks
        if sinfo.numTasks and sinfo.numCompletedTasks >= sinfo.numTasks:
            stages_completed += 1
    executors = []
    try:  # JVM-only API; shape is stable but guard anyway
        for e in sc._jsc.sc().statusTracker().getExecutorInfos():
            executors.append({"host": e.host(), "running_tasks": e.numRunningTasks()})
    except Exception:
        pass
    return {
        "jobs": completed_jobs,
        "stages": stages_completed,
        "tasks_completed": tasks_completed,
        "tasks_failed": tasks_failed,
        "executors": executors,
        "parallelism": sc.defaultParallelism,
    }
