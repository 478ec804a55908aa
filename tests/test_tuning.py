"""Scoped session-conf swaps (tuning.iter_kernel, the streaming state-width
wrapper) mutate session-global confs with save/restore. These tests pin the
two contracts that make that safe: nested scopes restore LIFO, and the
shared re-entrant lock serializes concurrent scopes across driver threads
so one query's loop can never run at another query's width."""

from __future__ import annotations

import threading

from flink_neo4j_spark.tuning import _CONF_SWAP_LOCK, iter_kernel

_SHUF = "spark.sql.shuffle.partitions"
_AQE = "spark.sql.adaptive.enabled"


def test_nested_iter_kernel_scopes_restore_lifo(spark):
    prev_shuf = spark.conf.get(_SHUF)
    prev_aqe = spark.conf.get(_AQE)
    with iter_kernel(spark, 100) as outer:
        assert outer.narrow
        outer_shuf = spark.conf.get(_SHUF)
        assert outer_shuf == "2"
        assert spark.conf.get(_AQE) == "false"
        # nested scope (re-entrant lock): a wider inner state
        with iter_kernel(spark, 10_000_000) as inner:
            assert not inner.narrow  # derived width >= cap -> confs untouched
            assert spark.conf.get(_SHUF) == outer_shuf
        # inner exit restored the outer scope's values, not the session's
        assert spark.conf.get(_SHUF) == outer_shuf
        assert spark.conf.get(_AQE) == "false"
    assert spark.conf.get(_SHUF) == prev_shuf
    assert spark.conf.get(_AQE) == prev_aqe


def test_resize_toggles_narrow_sizing(spark):
    prev_shuf = spark.conf.get(_SHUF)
    prev_aqe = spark.conf.get(_AQE)
    df = spark.range(3)
    with iter_kernel(spark, 100) as k:
        assert k.narrow and spark.conf.get(_AQE) == "false"
        k.resize(10_000_000)  # outgrew the narrow regime
        assert not k.narrow
        assert spark.conf.get(_SHUF) == prev_shuf
        assert spark.conf.get(_AQE) == prev_aqe
        assert k.bc(df) is df  # no broadcast hint at scale
        k.resize(100)
        assert k.narrow
        assert spark.conf.get(_SHUF) == "2"
        assert spark.conf.get(_AQE) == "false"
        assert k.bc(df) is not df
    assert spark.conf.get(_SHUF) == prev_shuf
    assert spark.conf.get(_AQE) == prev_aqe


def test_conf_swap_lock_held_for_scope_duration(spark):
    """While one thread is inside an iter_kernel scope, another thread's
    attempt to take the swap lock must block — that is the property that
    keeps a second concurrent query from running at the first's width."""
    prev_shuf = spark.conf.get(_SHUF)
    with iter_kernel(spark, 100):
        acquired = _CONF_SWAP_LOCK.acquire(blocking=False)
        if acquired:  # same thread re-acquiring an RLock always succeeds
            _CONF_SWAP_LOCK.release()

        other_result: list[bool] = []

        def try_acquire() -> None:
            got = _CONF_SWAP_LOCK.acquire(blocking=False)
            other_result.append(got)
            if got:
                _CONF_SWAP_LOCK.release()

        t = threading.Thread(target=try_acquire)
        t.start()
        t.join(timeout=10)
        assert other_result == [False]
    # after the scope exits, another thread can take the lock
    done: list[bool] = []

    def take() -> None:
        with _CONF_SWAP_LOCK:
            done.append(True)

    t2 = threading.Thread(target=take)
    t2.start()
    t2.join(timeout=10)
    assert done == [True]
    assert spark.conf.get(_SHUF) == prev_shuf
