"""The parsed-expression memo behind the IVF-PQ codebook projections:
bounded LRU eviction and one parse per miss under concurrent callers,
and the same memo behind the IVF-PQ serve-side client state."""

from __future__ import annotations

import sys
import threading
import time
from collections import Counter

import pytest

from projekt_data_engineering_iubh_spark.plans.vector_queries import (
    _EXPR_CACHE,
    _EXPR_CACHE_MAX,
    _LruMemo,
)


def _counting(delay_s: float = 0.0):
    calls: Counter = Counter()
    lock = threading.Lock()

    def build(key: str) -> str:
        with lock:
            calls[key] += 1
        time.sleep(delay_s)
        return key.upper()

    return build, calls


def test_hot_entry_survives_eviction():
    build, calls = _counting()
    memo = _LruMemo(build, maxsize=2)
    assert memo.get("a") == "A"
    memo.get("b")
    memo.get("a")  # "a" is now the most recently used
    memo.get("c")  # evicts "b", the least recently used
    assert list(memo._entries) == ["a", "c"]
    memo.get("a")
    assert calls["a"] == 1
    memo.get("b")
    assert calls["b"] == 2


def test_concurrent_misses_build_once():
    build, calls = _counting(delay_s=0.05)
    memo = _LruMemo(build, maxsize=4)
    keys = ["x", "y"] * 8
    start = threading.Barrier(len(keys))
    results: list = [None] * len(keys)

    def worker(i: int) -> None:
        start.wait()
        results[i] = memo.get(keys[i])

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(len(keys))]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert results == [k.upper() for k in keys]
    assert calls == {"x": 1, "y": 1}


def test_failed_build_is_not_cached():
    attempts = []

    def build(key: str) -> str:
        attempts.append(key)
        if len(attempts) == 1:
            raise ValueError("parse error")
        return key

    memo = _LruMemo(build, maxsize=2)
    with pytest.raises(ValueError):
        memo.get("k")
    assert memo.get("k") == "k"
    assert attempts == ["k", "k"]


def test_expr_cache_is_the_bounded_memo():
    assert isinstance(_EXPR_CACHE, _LruMemo)
    assert _EXPR_CACHE._maxsize == _EXPR_CACHE_MAX


def test_client_state_loads_once_per_root(monkeypatch):
    """The serve-side client-state cache: 16 concurrent first requests
    for one root load it once, and a hot root survives eviction."""
    from projekt_data_engineering_iubh_spark.plans import vector_queries as vq

    build, calls = _counting(delay_s=0.05)
    monkeypatch.setattr(
        vq, "_load_client_state", lambda _spark, root, *_a: build(root)
    )
    vq._IVFPQ_CLIENT_CACHE.clear()
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        n = 16
        start = threading.Barrier(n)
        results: list = [None] * n

        def worker(i: int) -> None:
            start.wait()
            results[i] = vq._ivfpq_client_state(None, "hot", "sf")

        threads = [threading.Thread(target=worker, args=(i,)) for i in range(n)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
            assert not t.is_alive()
        assert results == ["HOT"] * n
        assert calls["hot"] == 1

        for i in range(vq._CLIENT_CACHE_CAP * 2):
            vq._ivfpq_client_state(None, f"cold{i}", "sf")
            vq._ivfpq_client_state(None, "hot", "sf")
        assert calls["hot"] == 1
        assert len(vq._IVFPQ_CLIENT_CACHE._entries) == vq._CLIENT_CACHE_CAP
    finally:
        sys.setswitchinterval(interval)
        vq._IVFPQ_CLIENT_CACHE.clear()
