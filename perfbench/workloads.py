"""The benchmark's workloads: their inputs, operations, per-pass
prologue, output checks and the layer probes of the traced run.

Every operation is one call a user of the engine would make; the
benchmark runs them closed-loop from a single client (the next call
starts when the previous one returned)."""

from __future__ import annotations

import os
import shutil
from concurrent.futures import ThreadPoolExecutor

from perfbench import gen
from perfbench.trace import Tracer, duration
from perfbench.verify import text_output_bytes

TABLE_SCALE = 0.01
CORPUS_TOKENS = 3_000


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def storage_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 2**20


# --- mr_compat user functions (module level: workers import them) ---


def map_tokens(row: dict):
    for tok in row["value"].split():
        yield tok, "1"


def reduce_count(key: str, values: list[str]) -> str:
    return str(sum(int(v) for v in values))


class MemoProbe:
    """Counts calls into the engine's memo cache during traced passes
    by wrapping ``cache.memo_persist`` / ``memo_local_checkpoint``
    wherever a loaded engine module holds a reference to them."""

    NAMES = ("memo_persist", "memo_local_checkpoint")

    def __init__(self) -> None:
        import sys

        from simplemapreduce_spark import cache

        self.calls = 0
        self._cache = cache
        for fname in self.NAMES:
            orig = getattr(cache, fname)
            wrapped = self._wrap(orig)
            for mod in list(sys.modules.values()):
                if getattr(mod, fname, None) is orig and mod.__name__.startswith("simplemapreduce_spark"):
                    setattr(mod, fname, wrapped)

    def _wrap(self, fn):
        def wrapped(*args, **kwargs):
            self.calls += 1
            return fn(*args, **kwargs)

        return wrapped

    def entries(self) -> int:
        return len(self._cache._MEMO)


MR_OP = "mr_compat_word_count"


class MrProgram:
    """The reference's own program as one operation: word count with
    Python ``mapF``/``reduceF`` through the generic map -> hash shuffle
    -> holistic reduce -> global sort path, written as one sorted
    ``key: value`` text file and byte-compared to plain Python."""

    def __init__(self, work_dir: str, seed: int) -> None:
        self.root = os.path.join(work_dir, "corpus")
        self.seed = seed
        self.outputs: list[str] = []

    def generate(self) -> dict:
        self.corpus = gen.write_corpus(self.root, self.seed, CORPUS_TOKENS)
        return {k: v for k, v in self.corpus.items() if k not in ("input", "expected")}

    def _program(self, spark, out: str, tracer, spans: dict) -> None:
        from simplemapreduce_spark.operators.map_reduce import map_reduce
        from simplemapreduce_spark.sinks import write_key_value_text
        from simplemapreduce_spark.sources.text import read_lines

        with tracer.span("plans.build") as spans["build"]:
            lines = read_lines(spark, self.corpus["input"])
            counted = map_reduce(lines, map_tokens, reduce_count, n_partitions=spark.sparkContext.defaultParallelism)
        with tracer.span("sinks.write") as spans["exec"]:
            write_key_value_text(counted, out)

    def run(self, spark, attempt: int, tracer, spans: dict) -> None:
        out = os.path.join(self.root, f"out-{attempt}")
        self.outputs.append(out)
        self._program(spark, out, tracer, spans)

    def verify(self, ledger) -> None:
        with open(self.corpus["expected"], "rb") as f:
            expected = f.read()
        for out in self.outputs:
            got = text_output_bytes(out) if os.path.isdir(out) else b""
            if got != expected:
                ledger.mark_wrong(MR_OP, f"{len(got)} output bytes differ from the {len(expected)} expected")
            shutil.rmtree(out, ignore_errors=True)

    def probe(self, spark, tracer, counters) -> dict:
        """Each stage of the program alone: the line scan, the map over
        cached lines, the reduce over cached pairs, the sink over the
        cached result."""
        from pyspark import StorageLevel

        from simplemapreduce_spark.operators.map_reduce import map_pairs, reduce_pairs
        from simplemapreduce_spark.sinks import write_key_value_text
        from simplemapreduce_spark.sources.tables import dataset_size_bytes
        from simplemapreduce_spark.sources.text import read_lines

        out = {}
        counters.take()
        with tracer.span("sources.scan", op="probe-scan-corpus") as s:
            noop(read_lines(spark, self.corpus["input"]))
        out["sources.scan_s"] = duration(s)
        out["sources.input_mb"] = dataset_size_bytes(self.corpus["input"]) / 2**20
        out["sources.input_rows"] = counters.take()["input_rows"]

        lines = read_lines(spark, self.corpus["input"]).persist(StorageLevel.MEMORY_ONLY)
        lines.count()
        with tracer.span("operators.map", op="probe-map") as s:
            noop(map_pairs(lines, map_tokens))
        out["operators.map_s"] = duration(s)
        pairs = map_pairs(lines, map_tokens).persist(StorageLevel.MEMORY_ONLY)
        out["operators.pairs"] = float(pairs.count())
        with tracer.span("operators.reduce", op="probe-reduce") as s:
            noop(reduce_pairs(pairs, reduce_count))
        out["operators.reduce_s"] = duration(s)
        reduced = reduce_pairs(pairs, reduce_count).persist(StorageLevel.MEMORY_ONLY)
        reduced.count()
        path = os.path.join(self.root, "probe-sink")
        with tracer.span("sinks.write", op="probe-sink") as s:
            write_key_value_text(reduced, path)
        out["sinks.write_s"] = duration(s)
        out["sinks.bytes_written"] = float(dataset_size_bytes(path))
        shutil.rmtree(path, ignore_errors=True)
        for df in (reduced, pairs, lines):
            df.unpersist()
        counters.take()
        return out


class Workload:
    """Catalog queries over generated tables, each forced through the
    noop sink, optionally with the reference's program as one more
    operation.  Outputs are checked once per run, untimed."""

    name = ""
    queries: tuple[str, ...] = ()
    clear_memo_each_pass = False
    scan_tables: tuple[str, ...] = ()
    probe_functions = False
    with_mr_program = False

    def __init__(self, work_dir: str, seed: int) -> None:
        self.tables = os.path.join(work_dir, "tables")
        self.mr = MrProgram(work_dir, seed) if self.with_mr_program else None
        self.seed = seed
        self.inputs: dict = {}

    def generate(self) -> None:
        """Write this workload's seeded inputs."""
        self.inputs = {"scale": TABLE_SCALE, "tables": gen.write_tables(self.tables, self.seed, TABLE_SCALE)}
        if self.mr:
            self.inputs["corpus"] = self.mr.generate()

    def operations(self) -> list[str]:
        return list(self.queries) + ([MR_OP] if self.mr else [])

    def warmup(self, spark) -> None:
        """Start the executors and the parquet reader on the workload's
        main table; query-specific planning and codegen stay in the
        first pass."""
        from simplemapreduce_spark.sources.tables import load_table

        noop(load_table(spark, self.tables, self.scan_tables[0]))

    def begin_pass(self, spark) -> None:
        if self.clear_memo_each_pass:
            from simplemapreduce_spark.cache import clear_memo

            clear_memo()

    def run(self, spark, op: str, attempt: int, tracer, spans: dict) -> None:
        from simplemapreduce_spark.catalog import QUERIES

        if op == MR_OP:
            self.mr.run(spark, attempt, tracer, spans)
            return
        with tracer.span("plans.build") as spans["build"]:
            df = QUERIES[op](spark, self.tables)
        if tracer.enabled:
            with tracer.span("plans.optimize") as spans["optimize"]:
                spans["plan"] = df._jdf.queryExecution().executedPlan().toString()
        with tracer.span("plans.exec") as spans["exec"]:
            noop(df)

    def verify(self, spark, ledger) -> None:
        from simplemapreduce_spark.catalog import ORACLES, QUERIES
        from tests.oracle_utils import compare_query

        def check(name: str) -> str | None:
            if name not in ORACLES:
                return "no DuckDB oracle to check against"
            try:
                compare_query(spark, QUERIES[name], ORACLES[name], self.tables)
            except Exception as e:  # a mismatch or a check that cannot run
                return f"{type(e).__name__}: {str(e)[:300]}"
            return None

        # The checks are independent and bound by per-job latency, so they
        # run side by side.  Every memoized subtree they read was filled by
        # the last pass, so they only look the memo cache up.
        with ThreadPoolExecutor(len(os.sched_getaffinity(0))) as pool:
            for name, problem in zip(self.queries, pool.map(check, self.queries)):
                if problem:
                    ledger.mark_wrong(name, problem)
        if self.mr:
            self.mr.verify(ledger)

    def probe(self, spark, tracer, counters) -> dict:
        """Layer probes of the traced run: table scans alone, the text
        and vector functions alone, and the reference program's stages."""
        from pyspark import StorageLevel
        from pyspark.sql import functions as F

        from simplemapreduce_spark.functions.text import tokens
        from simplemapreduce_spark.functions.vectors import cosine_similarity
        from simplemapreduce_spark.sources.tables import dataset_size_bytes, load_table, table_path

        out = {"sources.scan_s": 0.0, "sources.input_mb": 0.0, "sources.input_rows": 0.0}
        counters.take()
        for t in self.scan_tables:
            with tracer.span("sources.scan", op=f"probe-scan-{t}") as s:
                noop(load_table(spark, self.tables, t))
            out["sources.scan_s"] += duration(s)
            out["sources.input_mb"] += dataset_size_bytes(table_path(self.tables, t)) / 2**20
            out["sources.input_rows"] += counters.take()["input_rows"]
        if self.probe_functions:
            docs = load_table(spark, self.tables, "documents").persist(StorageLevel.MEMORY_ONLY)
            vecs = load_table(spark, self.tables, "embeddings").persist(StorageLevel.MEMORY_ONLY)
            docs.count()
            vecs.count()
            with tracer.span("functions.text", op="probe-functions-text") as s:
                noop(docs.select(tokens("text").alias("t")))
            out["functions.text_s"] = duration(s)
            queries = vecs.limit(64).select(F.col("embedding").alias("q"))
            with tracer.span("functions.vectors", op="probe-functions-vectors") as s:
                noop(vecs.crossJoin(F.broadcast(queries)).select(cosine_similarity(F.col("embedding"), F.col("q"))))
            out["functions.vectors_s"] = duration(s)
            docs.unpersist()
            vecs.unpersist()
        if self.mr:
            mr = self.mr.probe(spark, tracer, counters)
            for k in ("sources.scan_s", "sources.input_mb", "sources.input_rows"):
                out[k] += mr.pop(k)
            out.update(mr)
        return out


class SqlAnalytics(Workload):
    """Short Catalyst/codegen plans over parquet scans and one
    streaming drain; no memo cache, no Python workers."""

    name = "sql_analytics"
    queries = (
        "q1_pricing_summary",
        "q3_shipping_priority",
        "q5_local_supplier_volume",
        "q6_forecast_revenue",
        "q_window_moving_avg",
        "q_ts_tumbling",
        "q_ts_asof_join",
        "q_topk",
        "mr_word_count",
        "q_stream_tumbling",
    )
    scan_tables = ("lineitem", "orders", "customer", "supplier", "part", "nation", "region", "events", "documents")


class LlmCuration(Workload):
    """Deep higher-order-function plans sharing memoized subtrees (the
    cache is cleared at the start of every pass, as for one curation
    job over a fresh snapshot), plus the reference's word count over a
    raw text corpus with Python workers and a text sink."""

    name = "llm_curation"
    queries = (
        "q_dedup_minhash_lsh",
        "q_decontam_minhash",
        "q_text_tfidf",
        "q_text_bm25",
        "q_sim_ivf_topk",
    )
    clear_memo_each_pass = True
    scan_tables = ("documents", "embeddings")
    probe_functions = True
    with_mr_program = True


WORKLOADS = {w.name: w for w in (SqlAnalytics, LlmCuration)}
