#!/usr/bin/env python
"""Profile one registered query's stage breakdown at a given sf_dir.

Runs the plan once (noop sink) with the Spark UI on, then prints every
completed stage with task counts and executorRunTime quantiles, sorted
by total stage CPU — the "where does the time actually go" view that
wall-clock timing alone can't give.

Usage: python tools/profile_query.py QUERY [--dir DIR] [--runs 1]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("query")
    ap.add_argument("--dir", default="/root/repo/stress/sf1")
    ap.add_argument("--runs", type=int, default=1)
    args = ap.parse_args()

    from bench import build_overrides
    from gcp_map_reduce_spark.plans import registry
    from gcp_map_reduce_spark.session import get_spark
    from tools.rest_metrics import last_stage_id, stages_since

    registry.load_catalog()
    overrides = build_overrides()
    fn = overrides.get(args.query) or registry.QUERIES[args.query]

    spark = get_spark(
        app_name="profile",
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    fn(spark, args.dir).write.format("noop").mode("overwrite").save()  # warm
    before = last_stage_id(spark)
    t0 = time.perf_counter()
    for _ in range(args.runs):
        fn(spark, args.dir).write.format("noop").mode("overwrite").save()
    wall = time.perf_counter() - t0
    stages = stages_since(spark, before, "complete", quantiles="0.0,0.5,0.95,1.0")
    if stages is None:
        raise SystemExit("Spark REST read failed")
    rows = []
    for s in stages:
        tmd = s.get("taskMetricsDistributions") or {}
        rt = tmd.get("executorRunTime") or [0]
        io = (s.get("inputBytes", 0), s.get("shuffleReadBytes", 0),
              s.get("shuffleWriteBytes", 0))
        rows.append((s.get("executorRunTime", 0), s["stageId"], s["numTasks"],
                     rt, io, s["name"].split("\n")[0][:70]))
    rows.sort(reverse=True)
    print(f"wall {wall:.2f}s over {args.runs} run(s); stages by total CPU ms:")
    for tot, sid, nt, rt, io, name in rows:
        mb = tuple(round(b / 1e6, 1) for b in io)
        print(f"  stage {sid:4d} cpu={tot:>8.0f}ms tasks={nt:3d} "
              f"runTime[min/med/p95/max]={rt} in/shR/shW={mb}MB {name}")


if __name__ == "__main__":
    main()
