"""The memo cache stamps a fragment with the version of its whole
dataset (``cache.memo_build``): a table rewritten in place invalidates
every fragment of its dataset, however many tables the fragment reads,
a memoized training result is reused without a training job, and
threads that miss one key together keep one entry."""

from __future__ import annotations

import os
import shutil
import sys
import threading
from types import SimpleNamespace

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from simplemapreduce_spark import cache, catalog
from simplemapreduce_spark.cache import clear_memo
from tests.test_load_table import _jobs_started

catalog.load_all()


def _rows(spark, name: str, sf_dir: str) -> list[str]:
    return sorted(map(str, catalog.QUERIES[name](spark, sf_dir).collect()))


def test_orders_rewrite_invalidates_graph_fragments(spark, sf_dir, tmp_path):
    """PageRank and SSSP memoize edges built from lineitem ⋈ orders ⋈
    customer ⋈ supplier; rewriting orders must reach them."""
    data = str(tmp_path / "sf")
    shutil.copytree(sf_dir, data)
    names = ("q_graph_pagerank", "q_graph_shortest_path")
    before = {n: _rows(spark, n, data) for n in names}
    path = os.path.join(data, "orders.parquet")
    t = pq.read_table(path)
    i = t.schema.get_field_index("o_custkey")
    t = t.set_column(i, t.field(i), pa.array([1] * t.num_rows, t.field(i).type))
    pq.write_table(t, path)
    after = {n: _rows(spark, n, data) for n in names}
    clear_memo()
    fresh = {n: _rows(spark, n, data) for n in names}
    for n in names:
        assert fresh[n] != before[n], f"{n}: the rewrite should change the answer"
        assert after[n] == fresh[n], f"{n}: served a fragment of the old orders"


@pytest.mark.parametrize("name", ["q_sim_ivf_kmeans_topk", "q_sim_pq_topk"])
def test_second_build_runs_no_training_job(spark, sf_dir, name):
    build = lambda: catalog.QUERIES[name](spark, sf_dir)
    clear_memo()
    assert _jobs_started(spark, build) > 0
    assert _jobs_started(spark, build) == 0


class _Fragment:
    def __init__(self) -> None:
        self.unpersisted = False

    def unpersist(self) -> None:
        self.unpersisted = True


def test_concurrent_misses_store_one_entry(tmp_path, monkeypatch):
    """Round after round, threads that miss one key together each
    build; every caller gets the entry stored first, every other copy is
    unpersisted and no call fails while the memo grows. No Spark: a
    stand-in session and an empty memo of its own."""
    monkeypatch.setattr(cache, "_MEMO", {})
    fake = SimpleNamespace(sparkContext=SimpleNamespace(applicationId="stress-app"))
    sf = str(tmp_path)
    n, rounds = 4 * (os.cpu_count() or 1), 200
    errors: list[Exception] = []

    def one_round(key: str) -> None:
        built: list[_Fragment] = []
        got: list[_Fragment] = []
        gate = threading.Barrier(n)

        def build() -> _Fragment:
            built.append(_Fragment())
            return built[-1]

        def client() -> None:
            try:
                gate.wait(timeout=30)
                got.append(cache.memo_build(fake, key, sf, build))
            except Exception as e:  # reported by the round below
                errors.append(e)

        threads = [threading.Thread(target=client) for _ in range(n)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
        assert not any(t.is_alive() for t in threads)
        assert not errors, errors[:3]
        winner = cache._MEMO[("stress-app", key, os.path.abspath(sf))][1]
        assert len(got) == n and all(g is winner for g in got), key
        assert all(f.unpersisted for f in built if f is not winner)
        assert not winner.unpersisted

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for r in range(rounds):
            one_round(f"stress.k{r}")
    finally:
        sys.setswitchinterval(old)
    assert len(cache._MEMO) == rounds
