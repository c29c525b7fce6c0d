"""Shared Spark status-store REST probes (r12 review consolidation —
bench.py's cpu_sec capture and bench_streaming's flatness gate each
grew a private copy; a fix to one silently missed the other).

The AppStatusStore is populated by an ASYNC listener queue whether or
not the UI server runs (`spark.ui.enabled` only gates the jetty
endpoint these read), so callers that attribute metrics to "the run
that just finished" must drain the bus first — `_settle` — or a busy
box undercounts the newest stages.
"""

from __future__ import annotations

import json
import urllib.request


def _settle(spark, timeout_ms: int = 10_000) -> None:
    try:
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(timeout_ms)
    except Exception:
        pass  # private API; degrade to an unsynced read


def stages_since(
    spark, after_stage: int, status: str | None = None, quantiles: str | None = None
) -> list[dict] | None:
    """StageData records newer than the ``after_stage`` marker, after
    draining the listener bus; None when the REST read fails.
    ``status`` filters (``"complete"``, ...); ``quantiles`` (e.g.
    ``"0.5,1.0"``) adds each stage's ``taskMetricsDistributions`` at
    those quantiles."""
    _settle(spark)
    sc = spark.sparkContext
    params = {"status": status}
    if quantiles is not None:
        params.update(withSummaries="true", quantiles=quantiles)
    query = "&".join(f"{k}={v}" for k, v in params.items() if v is not None)
    url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/stages"
    if query:
        url += "?" + query
    try:
        with urllib.request.urlopen(url, timeout=10) as resp:
            data = json.load(resp)
    except Exception:
        return None
    return [s for s in data if s.get("stageId", -1) > after_stage]


def last_stage_id(spark) -> int:
    """Newest stage id (any status) — the per-run marker."""
    stages = stages_since(spark, -1)
    return max((s["stageId"] for s in stages or ()), default=-1)


def stage_sum_since(spark, after_stage: int, field: str) -> int | None:
    """Sum a numeric StageData field over completed stages newer than
    the marker. Fields used today: ``executorCpuTime`` (ns),
    ``inputBytes``. None when the REST read fails."""
    stages = stages_since(spark, after_stage, "complete")
    return None if stages is None else sum(s.get(field, 0) for s in stages)
