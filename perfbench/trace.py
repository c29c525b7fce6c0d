"""Spans recorded from the benchmark's side of each layer call.

Span tree: ``pass`` -> ``op`` -> ``plans.build`` | ``operators.exec``;
``ingest`` -> ``streaming.drain`` | ``api.launch``; ``lookup`` and
``search`` on their own. Every span is timed; with tracing on, each
span that runs Spark jobs also gets a job group named after its id, and
after it closes the Spark status store is read for its jobs and stages.

Every tracing action runs on a paused clock: span start/end times come
from a clock that excludes bookkeeping, so a traced pass reports the
same kind of wall time as an untraced one.

``python3 perfbench/trace.py SPANS.json`` prints the per-op table of
self time by layer.
"""

from __future__ import annotations

import contextlib
import json
import sys
import time
import urllib.request
from datetime import datetime, timezone

# Stage fields summed per span (StageData names in the REST API).
STAGE_FIELDS = (
    "executorRunTime",  # ms
    "executorCpuTime",  # ns
    "jvmGcTime",  # ms
    "shuffleWriteBytes",
    "shuffleReadBytes",
    "diskBytesSpilled",
    "inputBytes",
    "inputRecords",
    "outputBytes",
)

# Span name -> layer its self time belongs to (plans.build is split into
# plans.driver and plans.eager by the time its jobs cover).
LAYER_OF = {
    "operators.exec": "operators.exec",
    "streaming.drain": "streaming",
    "api.launch": "api",
    "search": "api",
    "lookup": "sinks",
}
LAYERS = ("plans.driver", "plans.eager", "operators.exec", "streaming",
          "sinks", "api", "other")


def _rest_time(s: str) -> float:
    return datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%f%Z").replace(
        tzinfo=timezone.utc).timestamp()


def _union_s(intervals) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def jobs_in_groups(spark, groups) -> list[dict]:
    """The status store's job records whose job group is in ``groups``."""
    from tools.rest_metrics import _settle

    _settle(spark)
    sc = spark.sparkContext
    url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/jobs"
    with urllib.request.urlopen(url, timeout=10) as resp:
        return [j for j in json.load(resp) if j.get("jobGroup") in groups]


class Tracer:
    """Times spans always; records Spark attributes only when enabled."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.paused_s = 0.0
        self._count = 0

    def now(self) -> float:
        """Clock that excludes tracing bookkeeping."""
        return time.perf_counter() - self.paused_s

    @contextlib.contextmanager
    def bookkeeping(self):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.paused_s += time.perf_counter() - t0

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None, spark_jobs: bool = False):
        """Time a block. ``spark_jobs`` marks a span that calls into Spark:
        with tracing on it gets its own job group and its jobs and stages
        are read after it closes. ``rec["groups"]`` may gain more job
        groups (a streaming query runs under its run id)."""
        self._count += 1
        rec = {
            "id": f"s{self._count}",
            "parent": self._stack[-1]["id"] if self._stack else None,
            "name": name,
            "op": op if op is not None else (
                self._stack[-1]["op"] if self._stack else None),
            "attrs": {},
            "groups": [f"s{self._count}"],
        }
        traced = self.enabled and spark_jobs
        if traced:
            from tools.rest_metrics import last_stage_id
            from perfbench.hoststat import python_worker_cpu_s

            with self.bookkeeping():
                marker = last_stage_id(self.spark)
                py0 = python_worker_cpu_s()
                self.spark.sparkContext.setJobGroup(rec["id"], name)
        self._stack.append(rec)
        rec["start"] = self.now()
        try:
            yield rec
        finally:
            rec["dur"] = self.now() - rec["start"]
            self._stack.pop()
            self.spans.append(rec)
            if traced:
                with self.bookkeeping():
                    sc = self.spark.sparkContext
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
                    rec["attrs"].update(self._spark_attrs(rec, marker))
                    rec["attrs"]["python_cpu_s"] = python_worker_cpu_s() - py0

    def _spark_attrs(self, rec: dict, marker: int) -> dict:
        from tools.rest_metrics import stage_sum_since

        jobs = jobs_in_groups(self.spark, set(rec["groups"]))
        out = {
            "jobs": len(jobs),
            "stages": sum(j["numCompletedStages"] for j in jobs),
            "tasks": sum(j["numCompletedTasks"] for j in jobs),
            "failed_tasks": sum(j["numFailedTasks"] for j in jobs),
            "job_cover_s": _union_s(
                (_rest_time(j["submissionTime"]), _rest_time(j["completionTime"]))
                for j in jobs if j.get("completionTime")
            ),
        }
        if jobs:
            for f in STAGE_FIELDS:
                out[f] = stage_sum_since(self.spark, marker, f) or 0
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def self_times(spans: list[dict]) -> list[dict]:
    """Attach ``self`` (duration minus the time children cover) and the
    layer split to every span; returns the spans."""
    child_dur: dict[str, float] = {}
    for s in spans:
        if s["parent"] is not None:
            child_dur[s["parent"]] = child_dur.get(s["parent"], 0.0) + s["dur"]
    for s in spans:
        s["self"] = s["dur"] - child_dur.get(s["id"], 0.0)
        if s["name"] == "plans.build":
            eager = min(s["attrs"].get("job_cover_s", 0.0), s["self"])
            s["layers"] = {"plans.eager": eager, "plans.driver": s["self"] - eager}
        else:
            s["layers"] = {LAYER_OF.get(s["name"], "other"): s["self"]}
    return spans


def summary_rows(spans: list[dict]) -> dict[str, dict]:
    """Per-op totals of self time by layer, and eager-job counts. Spans
    outside any op (the pass itself) are keyed by their name."""
    rows: dict[str, dict] = {}
    for s in self_times(spans):
        row = rows.setdefault(s["op"] or s["name"],
                              dict.fromkeys(LAYERS, 0.0) | {"eager_jobs": 0})
        for layer, sec in s["layers"].items():
            row[layer] += sec
        if s["name"] == "plans.build":
            row["eager_jobs"] += s["attrs"].get("jobs", 0)
    return rows


def format_summary(spans: list[dict]) -> str:
    rows = summary_rows(spans)
    head = f"{'op':<26}" + "".join(f"{c:>15}" for c in LAYERS) + f"{'total':>10}{'eager_jobs':>11}"
    lines = [head, "-" * len(head)]
    totals = dict.fromkeys(LAYERS, 0.0) | {"eager_jobs": 0}
    for key, row in sorted(rows.items(), key=lambda kv: -sum(kv[1][c] for c in LAYERS)):
        lines.append(
            f"{key:<26}" + "".join(f"{row[c]:>15.3f}" for c in LAYERS)
            + f"{sum(row[c] for c in LAYERS):>10.3f}{row['eager_jobs']:>11d}"
        )
        for c in totals:
            totals[c] += row[c]
    lines.append("-" * len(head))
    lines.append(
        f"{'TOTAL':<26}" + "".join(f"{totals[c]:>15.3f}" for c in LAYERS)
        + f"{sum(totals[c] for c in LAYERS):>10.3f}{totals['eager_jobs']:>11d}"
    )
    return "\n".join(lines)


def main(argv: list[str]) -> int:
    if len(argv) != 1:
        print("usage: python3 perfbench/trace.py SPANS.json", file=sys.stderr)
        return 2
    with open(argv[0]) as fh:
        spans = json.load(fh)
    print(format_summary(spans))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
