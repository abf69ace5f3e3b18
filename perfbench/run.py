"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload closed-loop from a single client on a fresh
``local[nproc]`` session, prints each metric as ``name value unit`` and,
as the last line, one JSON object ``{"correct", "attempted", "failed",
"metrics"}``.  ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
records spans and Spark counters and reports the per-layer metrics.
Every path it reads or writes lies under the checkout it runs from.
See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import stats  # noqa: E402
from perfbench.trace import COUNTER_NAMES, JobCounters, StreamProgress, Tracer, duration  # noqa: E402
from perfbench.workloads import WORKLOADS, MemoProbe, storage_mb  # noqa: E402

DRIVER_MEM = "2g"
OP_TIMEOUT_S = 90.0
RUN_DEADLINE_S = 150.0

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    _SPEC = json.load(_f)
END_TO_END = {m["name"]: m["unit"] for m in _SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _SPEC["per_layer"]}


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_environment(work: str) -> None:
    """Pin the engine's deployment settings and keep every scratch path
    (Spark local dirs, the JVM and Python temp dirs) inside ``work``."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(nproc()),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "SPARK_LOCAL_DIRS": local,
            "TMPDIR": tmp,
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "PYTHONPATH": ROOT + os.pathsep + os.environ.get("PYTHONPATH", ""),
        }
    )
    tempfile.tempdir = None


def cpu_calibration() -> float:
    """Fixed single-thread CPU workload (the engine repo's bench.py
    figure), recorded so runs on different hosts can be read together."""
    import hashlib

    t0 = time.perf_counter()
    b = b"calibration"
    for _ in range(200_000):
        b = hashlib.sha256(b).digest()
    s = 0
    for i in range(5_000_000):
        s += i
    return round(time.perf_counter() - t0, 3)


class Run:
    """One benchmark run: setup, timed passes, checks, probes."""

    def __init__(self, args: argparse.Namespace, work: str) -> None:
        self.args = args
        self.workload = WORKLOADS[args.workload](work, args.seed)
        self.ledger = stats.Ledger()
        self.tracer = Tracer(bool(args.trace))
        self.order = random.Random(args.seed)
        self.layer: dict[str, float] = {}
        self.op_samples: list[float] = []
        self.attempt = 0

    # -- setup -------------------------------------------------------
    def setup(self) -> None:
        w, tr = self.workload, self.tracer
        with tr.span("bench.generate_inputs", op="setup"):
            w.generate()
        from simplemapreduce_spark import catalog
        from simplemapreduce_spark.session import get_spark

        with tr.span("session.get_spark", op="setup") as s_spark:
            self.spark = get_spark(f"perfbench-{w.name}")
        with tr.span("catalog.load_all", op="setup") as s_load:
            catalog.load_all()
        with tr.span("bench.warmup", op="setup"):
            w.warmup(self.spark)
        if tr.enabled:
            self.layer["session.get_spark_s"] = duration(s_spark)
            self.layer["catalog.load_all_s"] = duration(s_load)
            self.counters = JobCounters(self.spark)
            self.progress = StreamProgress(self.spark)
            self.memo = MemoProbe()

    # -- one operation -----------------------------------------------
    def run_op(self, op: str, traced: bool) -> dict | None:
        """Time one operation; return its trace record (traced passes)
        or None.  Failures are recorded in the ledger, never raised."""
        sc = self.spark.sparkContext
        self.attempt += 1
        group = f"op-{self.attempt}-{op}"
        sc.setJobGroup(group, group, interruptOnCancel=True)
        timer = threading.Timer(OP_TIMEOUT_S, sc.cancelJobGroup, (group,))
        tracer = self.tracer if traced else Tracer(False)
        spans: dict = {}
        memo_calls = self.memo.calls if traced else 0
        self.ledger.attempt(op)
        timer.start()
        t0 = time.perf_counter()
        error = None
        try:
            with tracer.span("op", op=group):
                self.workload.run(self.spark, op, self.attempt, tracer, spans)
        except Exception as e:  # the run goes on; the failure is counted
            error = f"{type(e).__name__}: {str(e)[:300]}"
        finally:
            timer.cancel()
            sc.setLocalProperty("spark.jobGroup.id", None)
        elapsed = time.perf_counter() - t0
        # Cancelling the job group does not reach every operation (a
        # streaming drain runs under its own group), so one that returns
        # late still counts as timed out.
        if elapsed >= OP_TIMEOUT_S:
            self.ledger.error(op, "timed out")
        elif error:
            self.ledger.error(op, error)
        else:
            self.op_samples.append(elapsed)
        if not traced:
            return None
        rec = {"op": op, "memo_touching": self.memo.calls > memo_calls}
        for key in ("build", "optimize", "exec"):
            rec[f"{key}_s"] = duration(spans[key]) if spans.get(key) else 0.0
        rec["in_memory_scan"] = "InMemoryTableScan" in spans.get("plan", "")
        rec["counters"] = self.counters.take()
        rec["stream"] = self.progress.take()
        return rec

    # -- passes ------------------------------------------------------
    def shuffled(self) -> list[str]:
        ops = self.workload.operations()
        self.order.shuffle(ops)
        return ops

    def one_pass(self, ops: list[str], traced: bool) -> tuple[float, list[dict]]:
        records = []
        t0 = time.perf_counter()
        self.workload.begin_pass(self.spark)
        if traced:
            self.counters.take()
            self.progress.take()
        for op in ops:
            rec = self.run_op(op, traced)
            if rec is not None:
                records.append(rec)
        return time.perf_counter() - t0, records

    def timed_passes(self) -> dict:
        """The first pass, one untimed warm pass, then steady passes in
        pairs: a seeded order and the same order reversed.  Which of
        two operations runs first decides which of them pays for a
        subtree they share (the memo cache), so a reversed pair gives
        every such pair of operations both roles and the figures do not
        hinge on the orders one seed happens to draw."""
        seconds = self.args.seconds
        trace = self.tracer.enabled
        # Two steady passes at least, so pass_s is a median and not one
        # pass's luck on a shared host.
        min_passes = 2
        ops = self.shuffled()
        first_s, _ = self.one_pass(ops, traced=trace)
        # Passes keep getting faster for a few passes after the first
        # (JIT); the warm pass keeps the measured passes off the
        # steepest part of that slope.
        self.one_pass(ops[::-1], traced=False)
        self.op_samples.clear()  # op percentiles cover steady passes only
        plain: list[float] = []
        traced: list[tuple[float, list[dict]]] = []
        t_steady = time.perf_counter()
        n = 0
        while True:
            elapsed = time.perf_counter() - t_steady
            deadline_near = time.perf_counter() - T_START > RUN_DEADLINE_S
            if n >= min_passes and (deadline_near or (elapsed >= seconds and n % 2 == 0)):
                break
            if n % 2 == 0:
                ops = self.shuffled()
                plain.append(self.one_pass(ops, traced=False)[0])
            elif trace:
                # Traced runs alternate untraced and traced passes, each
                # pair in one order, so the difference of their medians
                # is the tracing overhead.
                traced.append(self.one_pass(ops, traced=True))
            else:
                plain.append(self.one_pass(ops[::-1], traced=False)[0])
            n += 1
        return {"first": first_s, "plain": plain, "traced": traced}

    # -- per-layer aggregation ---------------------------------------
    def layer_metrics(self, traced: list[tuple[float, list[dict]]], plain: list[float]) -> None:
        per_pass: list[dict[str, float]] = []
        slots = nproc()
        for _wall, recs in traced:
            m: dict[str, float] = {"plans.build_s": 0.0, "plans.optimize_s": 0.0, "plans.exec_s": 0.0}
            for c in COUNTER_NAMES:
                m.setdefault(f"plans.{c}", 0.0)
            for k in ("drain_s", "batches", "input_rows", "state_rows", "batch_overhead_s"):
                m[f"streaming.{k}"] = 0.0
            for r in recs:
                m["plans.build_s"] += r["build_s"]
                m["plans.optimize_s"] += r["optimize_s"]
                m["plans.exec_s"] += r["exec_s"]
                for c, v in r["counters"].items():
                    m[f"plans.{c}"] += v
                if r["op"].startswith("q_stream_"):
                    m["streaming.drain_s"] += r["build_s"]
                for k, v in r["stream"].items():
                    m[f"streaming.{k}"] += v
            m["plans.slot_util"] = stats.slot_util(m["plans.task_busy_s"], m["plans.exec_s"], slots)
            memo_ops = [r for r in recs if r["memo_touching"]]
            m["cache.reuse_ratio"] = (
                sum(r["in_memory_scan"] for r in memo_ops) / len(memo_ops) if memo_ops else 0.0
            )
            m["cache.entries"] = float(self.memo.entries())
            m["cache.persisted_mb"] = storage_mb(self.spark)
            per_pass.append(m)
        for key in per_pass[0] if per_pass else ():
            self.layer[key] = statistics.median([m[key] for m in per_pass])
        if traced and plain:
            self.layer["trace.overhead_s"] = statistics.median([w for w, _ in traced]) - statistics.median(plain)

    def stop(self) -> None:
        """Stop the session, then end the JVM (and with it the Python
        workers it forked) and wait until it has exited."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        gateway.proc.wait(timeout=60)

    # -- whole run ---------------------------------------------------
    def execute(self) -> dict:
        self.setup()
        setup_s = time.perf_counter() - T_START
        ticks = stats.cpu_ticks()
        with stats.PeakRss() as rss:
            passes = self.timed_passes()
        steal = stats.steal_share(ticks, stats.cpu_ticks())
        samples = list(self.op_samples)
        if self.tracer.enabled:
            self.layer_metrics(passes["traced"], passes["plain"])
            self.layer.update(self.workload.probe(self.spark, self.tracer, self.counters))
        with self.tracer.span("bench.verify", op="verify"):
            self.workload.verify(self.spark, self.ledger)
        heap_mb = self.spark._jvm.java.lang.Runtime.getRuntime().maxMemory() / 2**20
        self.stop()

        ends = {
            "setup_s": setup_s,
            "first_pass_s": passes["first"],
            "pass_s": statistics.median(passes["plain"]),
            "op_p50_s": statistics.median(samples) if samples else 0.0,
            "op_p90_s": stats.percentile(samples, 90) if samples else 0.0,
            "peak_rss_mb": rss.peak / 2**20,
        }
        if self.tracer.enabled:
            metrics = {k: self.layer.get(k, 0.0) for k in PER_LAYER}
            units = PER_LAYER
        else:
            metrics, units = ends, END_TO_END
        return {
            "metrics": metrics,
            "units": units,
            "samples": len(samples),
            "passes": len(passes["plain"]) + len(passes["traced"]),
            "heap_mb": heap_mb,
            "steal": steal,
        }


def host_context(heap_mb: float, steal: float) -> dict:
    import pyarrow
    import pyspark

    return {
        "nproc": nproc(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "driver_heap_mb": round(heap_mb),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "pyarrow": pyarrow.__version__,
        "calib_cpu_sec": cpu_calibration(),
        "cpu_steal_share": round(steal, 4),  # during the timed passes
    }


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "simplemapreduce_spark")):
        print(f"engine package simplemapreduce_spark not found under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    prepare_environment(work)
    try:
        run = Run(args, work)
        res = run.execute()
    finally:
        shutil.rmtree(work, ignore_errors=True)

    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    if run.tracer.enabled:
        spans_path = os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.json")
        run.tracer.write(spans_path)
        print(f"spans: {os.path.relpath(spans_path, ROOT)} ({len(run.tracer.spans)} spans)")

    ledger = run.ledger
    beyond = stats.samples_beyond(res["samples"], 90)
    print(f"workload: {args.workload}  seed: {args.seed}  trace: {args.trace}")
    print("load: closed loop, 1 client, local[%d]" % nproc())
    print("inputs: " + json.dumps(run.workload.inputs))
    print("host: " + json.dumps(host_context(res["heap_mb"], res["steal"])))
    print(f"op samples: {res['samples']} over {res['passes']} steady passes "
          f"({beyond} beyond the reported p90; {stats.min_samples_for(90)} needed for 10)")
    for name, value in res["metrics"].items():
        print(f"{name} {value:.6g} {res['units'][name]}")
    print(f"fail_ratio {ledger.fail_ratio:.6g} ratio ({ledger.failed}/{ledger.attempted})")
    for msg in ledger.messages[:20]:
        print(f"failure: {msg}")
    print(
        json.dumps(
            {
                "correct": ledger.failed == 0,
                "attempted": ledger.attempted,
                "failed": ledger.failed,
                "metrics": {k: {"value": v, "unit": res["units"][k]} for k, v in res["metrics"].items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
