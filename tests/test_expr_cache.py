"""The parsed-expression memo behind the IVF-PQ codebook projections:
bounded LRU eviction and one parse per miss under concurrent callers."""

from __future__ import annotations

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
