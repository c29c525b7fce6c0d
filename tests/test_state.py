"""The engine's one memo store (``gcp_map_reduce_spark/state.py``):
ownership by the active SparkContext without py4j calls, one generation
per key, single flight on a miss, a per-kind bound — and a structural
guard that no other module grows a memo store of its own."""

from __future__ import annotations

import ast
import pathlib
import re
import sys
import threading
import time

import pytest
from pyspark import SparkContext

from gcp_map_reduce_spark import state


class _Py4jTrap:
    """A ``_jsc`` whose every py4j attribute (``sc``, ``stop``, ...)
    raises, so any py4j call on the memo path fails the test."""

    def __getattr__(self, name):
        raise AssertionError(f"py4j call _jsc.{name} on the memo path")


class _StubContext:
    def __init__(self):
        self._jsc = _Py4jTrap()


@pytest.fixture
def activate(monkeypatch):
    """Make a fresh stub the active SparkContext; returns it."""

    def make() -> _StubContext:
        ctx = _StubContext()
        monkeypatch.setattr(SparkContext, "_active_spark_context", ctx)
        return ctx

    return make


def test_hit_makes_no_py4j_call(activate):
    activate()
    calls = []

    def compute():
        calls.append(1)
        return 7

    assert state.memo("t_hit", "k", compute) == 7
    h0 = state.STATS["t_hit"]["hits"]
    assert state.memo("t_hit", "k", compute) == 7
    assert calls == [1]
    assert state.STATS["t_hit"]["hits"] == h0 + 1


def test_context_change_or_stop_drops_entries(activate):
    ctx = activate()
    state.memo("t_owner", "k", lambda: 1)
    assert state.keys("t_owner") == ["k"]
    ctx._jsc = None  # what SparkContext.stop() leaves behind
    assert state.keys("t_owner") == []
    activate()
    state.memo("t_owner", "k", lambda: 1)
    activate()
    assert state.keys("t_owner") == []


def test_size_stays_bounded_over_many_contexts_and_keys(activate):
    cap = state.MAX_ENTRIES_PER_KIND
    for _ in range(20):
        activate()
        for i in range(cap + 50):
            state.memo("t_bound", i, lambda: i)
        keys = state.keys("t_bound")
        assert len(keys) == cap
        assert keys[0] == 50  # oldest first out
    assert state.STATS["t_bound"]["evictions"] >= 20 * 50


def test_concurrent_misses_on_one_key_compute_once(activate):
    activate()
    calls = []

    def compute():
        calls.append(1)
        time.sleep(0.2)
        return "v"

    gate = threading.Barrier(8)
    out = []

    def worker():
        gate.wait(timeout=10)
        out.append(state.memo("t_flight", "k", compute))

    threads = [threading.Thread(target=worker) for _ in range(8)]
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert calls == [1]
    assert out == ["v"] * 8


def test_other_keys_and_hits_do_not_wait_for_a_compute(activate):
    activate()
    state.memo("t_wait", "hot", lambda: 1)
    release = threading.Event()
    slow = threading.Thread(
        target=state.memo, args=("t_wait", "slow", lambda: release.wait(30))
    )
    slow.start()
    try:
        time.sleep(0.1)
        t0 = time.perf_counter()
        assert state.memo("t_wait", "hot", lambda: 2) == 1
        assert state.memo("t_wait", "other", lambda: 3) == 3
        assert time.perf_counter() - t0 < 5
    finally:
        release.set()
        slow.join(timeout=30)
    assert not slow.is_alive()


def test_failed_compute_stores_nothing(activate):
    activate()

    def boom():
        raise ValueError("corrupt")

    with pytest.raises(ValueError):
        state.memo("t_fail", "k", boom)
    assert state.keys("t_fail") == []
    assert state.memo("t_fail", "k", lambda: 5) == 5


def test_changed_fingerprint_leaves_one_entry(activate):
    activate()
    assert state.memo("t_fp", "k", lambda: "old", fingerprint=1) == "old"
    assert state.memo("t_fp", "k", lambda: "new", fingerprint=2) == "new"
    assert state.keys("t_fp") == ["k"]
    assert state.memo("t_fp", "k", lambda: "again", fingerprint=2) == "new"


# Module-level stores matching the memo-store naming that are NOT
# compute-once memos, with why each stays outside state.py.
ALLOWED_STORES = {
    "_SIG_CACHE": "minhash stream's driver mirror of its signature store, "
    "changed in place every batch",
    "_EMB_CACHE": "embedding stream's driver mirror of its vector store, "
    "changed in place every batch",
}
_STORE_NAME = re.compile(r"^_\w*(CACHE|SESSIONS)", re.IGNORECASE)


def test_no_memo_store_outside_state_module():
    pkg = pathlib.Path(state.__file__).parent
    found, stopped_checks = {}, []
    for py in sorted(pkg.rglob("*.py")):
        if py == pathlib.Path(state.__file__):
            continue
        src = py.read_text()
        if "isStopped" in src:
            stopped_checks.append(str(py.relative_to(pkg)))
        for node in ast.parse(src).body:
            if isinstance(node, ast.Assign):
                targets = node.targets
            elif isinstance(node, ast.AnnAssign):
                targets = [node.target]
            else:
                continue
            for t in targets:
                if isinstance(t, ast.Name) and _STORE_NAME.match(t.id):
                    found[t.id] = str(py.relative_to(pkg))
    extra = {n: f for n, f in found.items() if n not in ALLOWED_STORES}
    assert not extra, f"memoize through state.memo instead: {extra}"
    assert set(found) == set(ALLOWED_STORES), "prune ALLOWED_STORES"
    assert not stopped_checks, (
        f"context liveness is state.py's job: {stopped_checks}"
    )
