"""``session.scoped_conf`` — the one helper every temporary session-conf
override goes through — and the axis table of the conf-invariance sweep."""

from __future__ import annotations

import threading

from simplemapreduce_spark.session import scoped_conf

# A plain runtime SQL conf that nothing in the engine or the suite sets.
KEY = "spark.sql.files.maxRecordsPerFile"


def test_scoped_conf_unset_key_comes_back_unset(spark):
    assert spark.conf.get(KEY, None) is None
    with scoped_conf(spark, KEY, None):
        assert spark.conf.get(KEY, None) is None
    with scoped_conf(spark, KEY, 123):
        assert spark.conf.get(KEY) == "123"
    assert spark.conf.get(KEY, None) is None


def test_scoped_conf_restores_explicit_value(spark):
    spark.conf.set(KEY, "7")
    try:
        with scoped_conf(spark, KEY, 123):
            assert spark.conf.get(KEY) == "123"
        assert spark.conf.get(KEY) == "7"
    finally:
        spark.conf.unset(KEY)


def test_scoped_conf_nests_in_one_thread(spark):
    """Scopes nest on one thread (a stateful stream scopes its provider
    around a drain that scopes its partitions); a non-reentrant lock
    would hang here, so the nesting runs in a thread with a timeout."""
    seen: list[str] = []

    def nested() -> None:
        with scoped_conf(spark, KEY, 1):
            with scoped_conf(spark, KEY, 2):
                seen.append(spark.conf.get(KEY))
            seen.append(spark.conf.get(KEY))

    t = threading.Thread(target=nested, daemon=True)
    t.start()
    t.join(timeout=30)
    assert not t.is_alive(), "nested scoped_conf did not finish (lock not reentrant?)"
    assert seen == ["2", "1"]
    assert spark.conf.get(KEY, None) is None


def test_scoped_conf_concurrent_threads_restore_original(spark):
    """Two threads scoping the same key at once: each sees its own value
    inside its scope, and the session ends at its original value."""
    barrier = threading.Barrier(2)
    problems: list[object] = []

    def worker(value: int) -> None:
        try:
            barrier.wait(timeout=30)
            for _ in range(20):
                with scoped_conf(spark, KEY, value):
                    got = spark.conf.get(KEY)
                    if got != str(value):
                        problems.append((value, got))
        except Exception as e:  # noqa: BLE001
            problems.append(e)

    threads = [threading.Thread(target=worker, args=(v,), daemon=True) for v in (11, 22)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=60)
    assert not any(t.is_alive() for t in threads)
    assert problems == []
    assert spark.conf.get(KEY, None) is None


def test_conf_sweep_axes_are_runtime_settable(spark):
    """Every sweep axis flips a runtime-modifiable conf between two
    different values (a static conf would silently sweep nothing)."""
    from tools.conf_invariance_sweep import AXES

    for name, (key, value_a, value_b) in AXES.items():
        assert spark.conf.isModifiable(key), (name, key)
        assert value_a != value_b, name
