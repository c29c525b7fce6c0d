#!/usr/bin/env python
"""Plan-pathology detector (r8): run each headline query once and flag,
from the Spark UI REST API, the two cost classes that produced this
round's wins:

1. MULTI-CONSUMER RECOMPUTE — the same corpus-scale ``inputRecords``
   appearing in 2+ stages of one query run means a shared subtree is
   being re-executed per consumer (broadcast legs are the usual
   culprits). Fix: ``materialize()`` the skinny intermediate
   (text_tfidf 3.04→1.70 s, corpus_shards 1.83→1.46 s).
2. HEAVY NARROW STAGES — a stage whose max task time exceeds
   ``--task-ms`` with few tasks is either a degenerate-split scan
   (fix: ``ensure_parallelism``), an AQE bytes-coalesced shuffle doing
   per-row CPU (fix: explicit repartition — dedup_minhash 2.48→1.96 s),
   or a broadcast-fact probe (fix: shuffle-join hint — join_outer
   1.76→0.63 s). A heavy stage where median ≈ max across MANY tasks is
   compute cost, not skew — the fix is cheaper passes (pii_scrub's
   Arrow kernel, 4.79→0.92 s), not more fan-out.

Findings are leads, not verdicts: several multi-scans are by design
(suite-union branches, EXISTS/NOT-EXISTS legs) — adjudicate each by
measurement and record the outcome in the operator docstring.

Usage: python tools/audit_recompute.py [--dir /root/repo/stress/sf1]
       [--min-records 40000] [--task-ms 800]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--dir", default="/root/repo/stress/sf1")
    ap.add_argument("--min-records", type=int, default=40000)
    ap.add_argument("--task-ms", type=float, default=800.0)
    ap.add_argument("--queries", nargs="*", default=None)
    args = ap.parse_args()

    from bench import HEADLINE, build_overrides
    from gcp_map_reduce_spark.plans import registry
    from gcp_map_reduce_spark.session import get_spark
    from tools.rest_metrics import last_stage_id, stages_since

    registry.load_catalog()
    overrides = build_overrides()
    spark = get_spark(
        app_name="audit_recompute", extra_conf={"spark.ui.enabled": "true"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    names = args.queries or list(HEADLINE)
    findings = []
    for name in names:
        fn = overrides.get(name) or registry.QUERIES[name]
        try:
            fn(spark, args.dir).write.format("noop").mode("overwrite").save()
            b = last_stage_id(spark)
            t0 = time.perf_counter()
            fn(spark, args.dir).write.format("noop").mode("overwrite").save()
            sec = round(time.perf_counter() - t0, 2)
            ss = stages_since(spark, b, "complete", quantiles="0.5,1.0")
            if ss is None:
                raise RuntimeError("Spark REST read failed")
        except Exception as exc:
            print(f"{name}: ERR {exc!r}"[:160], flush=True)
            continue
        scans = {}
        heavy = []
        for s in ss:
            rec = s.get("inputRecords", 0)
            tmd = (s.get("taskMetricsDistributions") or {}).get(
                "executorRunTime") or [0, 0]
            if rec >= args.min_records:
                scans.setdefault(rec, []).append(s["stageId"])
            if tmd[-1] >= args.task_ms:
                heavy.append({
                    "stage": s["stageId"], "tasks": s.get("numTasks"),
                    "q50_ms": tmd[0], "max_ms": tmd[-1],
                    "kind": "compute-bound" if tmd[0] >= 0.7 * tmd[-1]
                    else "narrow/straggler",
                })
        dup = {rec: ids for rec, ids in scans.items() if len(ids) > 1}
        if dup or heavy:
            findings.append({"query": name, "sec": sec,
                             "dup_scans": dup, "heavy_stages": heavy})
            print(f"{name}: {sec}s dup_scans={dup} heavy={heavy}", flush=True)
        else:
            print(f"{name}: {sec}s clean", flush=True)
    print(json.dumps({"metric": "audit_recompute", "dir": args.dir,
                      "findings": findings}))


if __name__ == "__main__":
    main()
