"""The benchmark's own logic: percentile rule, slot utilisation,
seeded input generation and failure accounting.
None of these start Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import argparse
import filecmp
import os
import time

import pytest

from perfbench import gen, stats


# --- percentile rule ------------------------------------------------


def test_p90_needs_100_samples_for_ten_beyond():
    assert stats.min_samples_for(90) == 100
    assert stats.samples_beyond(100, 90) == 10
    assert stats.samples_beyond(99, 90) == 9
    assert stats.min_samples_for(50) == 20


def test_nearest_rank_percentile():
    values = [float(v) for v in range(100, 0, -1)]
    assert stats.percentile(values, 90) == 90.0
    assert stats.percentile(values, 50) == 50.0
    assert stats.percentile([3.0], 90) == 3.0
    with pytest.raises(ValueError):
        stats.percentile([], 50)


def test_ten_samples_lie_beyond_reported_p90():
    values = [float(v) for v in range(1, 101)]
    p90 = stats.percentile(values, 90)
    assert sum(v > p90 for v in values) == stats.samples_beyond(len(values), 90) == 10


# --- slot utilisation -----------------------------------------------


def test_slot_util():
    assert stats.slot_util(task_busy_s=8.0, exec_s=2.0, slots=4) == 1.0
    assert stats.slot_util(task_busy_s=2.0, exec_s=2.0, slots=4) == 0.25
    assert stats.slot_util(task_busy_s=1.0, exec_s=0.0, slots=4) == 0.0


# --- seeded generation ----------------------------------------------


def test_tables_are_deterministic_per_seed(tmp_path):
    a, b, c = (str(tmp_path / d) for d in "abc")
    gen.write_tables(a, 7, 0.0005)
    gen.write_tables(b, 7, 0.0005)
    gen.write_tables(c, 8, 0.0005)
    names = sorted(os.listdir(a))
    assert len(names) == 10
    _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    assert not mismatch and not errors
    _, mismatch, _ = filecmp.cmpfiles(a, c, names, shallow=False)
    assert "lineitem.parquet" in mismatch and "documents.parquet" in mismatch


def test_corpus_is_deterministic_per_seed(tmp_path):
    runs = [gen.write_corpus(str(tmp_path / f"c{i}"), seed, 3_000) for i, seed in enumerate((5, 5, 6))]

    def read(info, key):
        path = info[key] if key == "expected" else os.path.join(info["input"], "part-0.txt")
        with open(path, "rb") as f:
            return f.read()

    for key in ("input", "expected"):
        assert read(runs[0], key) == read(runs[1], key)
        assert read(runs[0], key) != read(runs[2], key)
    assert runs[0]["distinct_keys"] > 1_000


def test_word_count_bytes_is_the_reference_output():
    lines = ["b a", "a B  a"]
    assert gen.word_count_bytes(lines) == b"B: 1\na: 3\nb: 1\n"


# --- failure accounting ---------------------------------------------


def test_ledger_counts_errors_and_wrong_outputs():
    ledger = stats.Ledger()
    for op in ("q1", "q1", "q2", "q3", "q3"):
        ledger.attempt(op)
    ledger.error("q1", "boom")
    ledger.mark_wrong("q3", "row 0 differs")
    assert ledger.attempted == 5
    assert ledger.failed == 3  # one q1 attempt, both q3 attempts
    assert ledger.fail_ratio == pytest.approx(0.6)


class _FakeContext:
    def setJobGroup(self, *args, **kwargs):
        pass

    def cancelJobGroup(self, group):
        pass

    def setLocalProperty(self, key, value):
        pass


class _FakeSpark:
    sparkContext = _FakeContext()


class _RaisingWorkload:
    def run(self, spark, op, attempt, tracer, spans):
        if op == "bad":
            raise RuntimeError("query failed")
        if op == "slow":
            time.sleep(0.05)


def test_raising_operation_is_counted_and_the_run_goes_on(tmp_path, monkeypatch):
    from perfbench import run as bench

    monkeypatch.setattr(bench, "OP_TIMEOUT_S", 0.02)
    args = argparse.Namespace(workload="sql_analytics", seed=1, seconds=1.0, trace=0)
    r = bench.Run(args, str(tmp_path))
    r.spark, r.workload = _FakeSpark(), _RaisingWorkload()
    for op in ("good", "bad", "good", "bad", "slow"):
        assert r.run_op(op, traced=False) is None
    assert r.ledger.attempted == 5
    assert r.ledger.failed == 3
    assert r.ledger.fail_ratio == 0.6
    assert len(r.op_samples) == 2  # failed operations give no latency sample
    assert any("query failed" in m for m in r.ledger.messages)
    assert "slow: timed out" in r.ledger.messages  # returned, but past its timeout


class _CountingWorkload(_RaisingWorkload):
    def operations(self):
        return ["a", "b", "c"]

    def begin_pass(self, spark):
        pass


def test_steady_passes_come_in_reversed_pairs(tmp_path):
    from perfbench import run as bench

    args = argparse.Namespace(workload="sql_analytics", seed=1, seconds=0.0, trace=0)
    r = bench.Run(args, str(tmp_path))
    r.spark, r.workload = _FakeSpark(), _CountingWorkload()
    orders = []
    run_op = r.run_op

    def record(op, traced):
        orders.append(op)
        return run_op(op, traced)

    r.run_op = record
    passes = r.timed_passes()
    assert len(passes["plain"]) == 2
    assert len(r.op_samples) == 3 * 2  # the first and the warm pass give none
    first, warm, steady1, steady2 = (orders[i : i + 3] for i in range(0, 12, 3))
    assert warm == first[::-1] and steady2 == steady1[::-1]
    assert sorted(steady1) == ["a", "b", "c"]


# --- host context ---------------------------------------------------


def test_steal_share():
    assert stats.steal_share((10, 1_000), (60, 2_000)) == 0.05
    assert stats.steal_share((10, 1_000), (10, 1_000)) == 0.0
    steal, total = stats.cpu_ticks()
    assert 0 <= steal <= total
