"""The engine's one driver-side memo store.

Table plans, fan-out decisions, plan-choice probes, narrow sessions,
cell-count sidecars and IVF codebooks derive from immutable inputs (a
corpus generation, a published index) and cost a footer pass, a sampled
job or a collect to rebuild; :func:`memo` computes each once. Rules:

- Ownership: entries belong to the SparkContext active when they were
  stored. A call that finds a different active context, or a stopped
  owner (``_jsc is None``), drops the whole store first. The check reads
  ``SparkContext._active_spark_context``, so a hit makes no py4j call.
- One generation per key: a stored fingerprint that differs from the
  caller's is replaced, not kept beside the new one.
- Single flight: concurrent misses on one ``(kind, key)`` compute once
  (two racing ``newSession()`` calls would each leak a JVM session);
  other keys and hits never wait. A compute that raises stores nothing.
- A bound: :data:`MAX_ENTRIES_PER_KIND`, oldest evicted first, far above
  any test's or workload's distinct keys, so "computed once" holds there.

``STATS[kind]`` counts hits, misses and evictions (by the bound or with
the owning context).
"""

from __future__ import annotations

import threading
from collections import defaultdict
from collections.abc import Callable, Hashable
from typing import TypeVar

from pyspark import SparkContext

T = TypeVar("T")

MAX_ENTRIES_PER_KIND = 256

STATS: defaultdict[str, dict[str, int]] = defaultdict(
    lambda: {"hits": 0, "misses": 0, "evictions": 0}
)

_LOCK = threading.Lock()
_STORE: dict[str, dict] = {}  # kind -> {key: (fingerprint, value)}, oldest first
_INFLIGHT: dict[tuple, threading.Event] = {}
_owner: SparkContext | None = None


def _claim() -> SparkContext | None:
    """Drop the store unless the active context owns it and is live;
    return the owner. The caller holds ``_LOCK``."""
    global _owner
    active = SparkContext._active_spark_context
    if active is not _owner or (active is not None and active._jsc is None):
        for kind, entries in _STORE.items():
            STATS[kind]["evictions"] += len(entries)
        _STORE.clear()
        _owner = active
    return active


def memo(
    kind: str, key: Hashable, compute: Callable[[], T], fingerprint: Hashable = None
) -> T:
    """The value stored for ``(kind, key)`` at ``fingerprint`` (the
    input's generation: file mtime/size, a content-addressed name),
    running ``compute()`` on a miss."""
    slot = (kind, key)
    while True:
        with _LOCK:
            owner = _claim()
            hit = _STORE.get(kind, {}).get(key)
            if hit is not None and hit[0] == fingerprint:
                STATS[kind]["hits"] += 1
                return hit[1]
            done = _INFLIGHT.get(slot)
            if done is None:
                done = _INFLIGHT[slot] = threading.Event()
                STATS[kind]["misses"] += 1
                break
        done.wait()
    try:
        value = compute()
        with _LOCK:
            if _claim() is owner:
                entries = _STORE.setdefault(kind, {})
                entries.pop(key, None)
                entries[key] = (fingerprint, value)
                if len(entries) > MAX_ENTRIES_PER_KIND:
                    del entries[next(iter(entries))]
                    STATS[kind]["evictions"] += 1
        return value
    finally:
        with _LOCK:
            del _INFLIGHT[slot]
        done.set()


def keys(kind: str) -> list:
    """The keys stored for ``kind`` under the active context."""
    with _LOCK:
        _claim()
        return list(_STORE.get(kind, ()))


def clear(kind: str) -> None:
    """Drop every entry of ``kind`` (tests; in-place input mutation)."""
    with _LOCK:
        _STORE.pop(kind, None)
