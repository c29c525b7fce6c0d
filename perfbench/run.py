#!/usr/bin/env python3
"""The repo benchmark: one closed-loop client runs a named workload.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads (see BENCHMARK.json for why each was chosen):

- ``headline_sf001`` - the 26 ``bench.HEADLINE`` ops at sf0.01
  (``perfbench/headline.py``);
- ``ingest_serve`` - file-triggered ingest with point lookups and
  semantic search between landings (``perfbench/ingest.py``).

A run sets up (Spark session, catalog, one untimed warm-up pass), then
repeats timed passes until ``--seconds`` have passed (at least one
pass), checks every output, and prints as its last stdout line one JSON
object ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are BENCHMARK.json's ``end_to_end`` list; with
``--trace 1`` they are its ``per_layer`` list, and the spans are written
to ``.perfbench/traces/`` (summarise with ``perfbench/trace.py``). The
line before it is the run record: host stamps, per-op medians and the
sample counts behind each latency.

Spark runs on ``local[nproc]`` (``SPARK_GRAFT_CPUS``); every other engine
setting stays at its default, except that a traced run turns the Spark UI
on so the status store can be read over REST. The sf0.01 and sf0.1
tables are read from beside the engine's default sf0.1 directory
(``SPARK_GRAFT_SF_DIR``).
Scratch files live under ``.perfbench/`` and are removed at exit.
"""

from __future__ import annotations

import argparse
import gc
import json
import math
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("headline_sf001", "ingest_serve")
MB = 2**20
CANARY_RUNS = 3  # bench.cpu_canary_sec samples; the median is kept


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def declared_metrics(trace: bool) -> dict[str, str]:
    """Metric name -> unit, in BENCHMARK.json order."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _mean(xs) -> float:
    return statistics.fmean(xs) if xs else 0.0


def _geomean(xs) -> float:
    xs = [x for x in xs if x > 0]  # an op kind with no good sample is left out
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


def prepare_environment() -> str:
    """Point every scratch write at a per-run directory in the checkout
    and pin the Spark core count; returns that directory."""
    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # the JVM's temp files go to the run directory; its perf-counter
    # file would go to /tmp whatever the tmpdir, so it is switched off
    os.environ["JDK_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    os.chdir(work)  # the session's cwd-relative warehouse lands here
    return work


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait for every process it
    started (the Python workers included)."""
    from pyspark import SparkContext

    from perfbench.hoststat import tree_pids, wait_gone

    kids = [p for p in tree_pids() if p != os.getpid()]
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    left = wait_gone(kids)
    if left:
        print(f"killed leftover processes {left}", file=sys.stderr)


# --- per-layer metrics -------------------------------------------------

EXEC_SPANS = ("operators.exec", "streaming.drain", "api.launch", "lookup", "search")


def layer_metrics(spans: list[dict], cores: int) -> dict:
    """Workload totals for one pass from its spans."""
    def named(*names):
        return [s for s in spans if s["name"] in names]

    def total(ss, key):
        return sum(s["attrs"].get(key, 0) for s in ss)

    def dur(ss):
        return sum(s["dur"] for s in ss)

    builds, execs = named("plans.build"), named(*EXEC_SPANS)
    drains, launches = named("streaming.drain"), named("api.launch")
    lookups, searches = named("lookup"), named("search")
    spark_spans = builds + execs
    eager_s = sum(min(s["attrs"].get("job_cover_s", 0.0), s["dur"]) for s in builds)
    task_run_s = total(execs, "executorRunTime") / 1000
    exec_wall = dur(execs)
    pass_span = named("pass")[0]
    return {
        "plans.build_s": dur(builds),
        "plans.driver_s": dur(builds) - eager_s,
        "plans.eager_jobs": total(builds, "jobs"),
        "plans.eager_s": eager_s,
        "plans.probe_hits": pass_span["attrs"].get("probe_hits", 0),
        "plans.probe_misses": pass_span["attrs"].get("probe_misses", 0),
        "plans.exchanges": total(named("op"), "exchanges"),
        "sources.file_scans": total(named("op"), "file_scans"),
        "sources.scan_mb": total(spark_spans, "inputBytes") / MB,
        "sources.scan_rows": total(spark_spans, "inputRecords"),
        "operators.exec_s": dur(named("operators.exec")),
        "operators.jobs": total(execs, "jobs"),
        "operators.stages": total(execs, "stages"),
        "operators.tasks": total(execs, "tasks"),
        "operators.failed_tasks": total(execs, "failed_tasks"),
        "operators.task_run_s": task_run_s,
        "operators.task_cpu_s": total(execs, "executorCpuTime") / 1e9,
        "operators.gc_s": total(execs, "jvmGcTime") / 1000,
        "operators.python_cpu_s": total(execs, "python_cpu_s"),
        "operators.shuffle_write_mb": total(execs, "shuffleWriteBytes") / MB,
        "operators.shuffle_read_mb": total(execs, "shuffleReadBytes") / MB,
        "operators.spill_mb": total(execs, "diskBytesSpilled") / MB,
        "operators.idle_share": 1 - task_run_s / (exec_wall * cores) if exec_wall else 0.0,
        "streaming.step_s": dur(drains),
        "api.launch_s": dur(launches),
        "sinks.write_mb": total(drains + launches, "outputBytes") / MB,
        "sinks.lookup_s": dur(lookups),
        "sinks.rows_read_per_hit": (
            total(lookups, "inputRecords") / total(lookups, "rows_returned")
            if total(lookups, "rows_returned") else 0.0),
        "api.search_s": dur(searches),
        "api.search_scan_mb": total(searches, "inputBytes") / MB,
    }


def end_to_end_values(workload, passes, warm, cpu, setup_s, peak_mb,
                      failed_share) -> tuple[dict, dict]:
    """The end-to-end metrics, and the run record's workload details."""
    detail: dict = {"failed_share": failed_share, "peak_rss_mb": peak_mb}
    if workload == "headline_sf001":
        per_op: dict[str, list] = {}
        for p in passes:
            for r in p["ops"]:
                if "seconds" in r:
                    per_op.setdefault(r["op"], []).append(r)
        detail["ops"] = {
            n: {k: _median([r[k] for r in rs]) for k in ("seconds", "build_s", "exec_s")}
            for n, rs in per_op.items()
        }
        wall = _median([p["seconds"] for p in passes])
        geo = _geomean([o["seconds"] for o in detail["ops"].values()])
        cpu_s = _median(cpu)
    else:
        kinds = ("ingest", "lookup", "search")
        op_s = {k: [x for p in passes for x in p[f"{k}_s"]] for k in kinds}
        op_cpu = {k: [x for p in passes for x in p["cpu_s"][k]] for k in kinds}
        detail.update({
            "ingest_lag_s": _median(op_s["ingest"]),
            "lookup_p50_ms": _median(op_s["lookup"]) * 1000,
            "search_p50_ms": _median(op_s["search"]) * 1000,
            "samples": {k: len(v) for k, v in op_s.items()},
            "op_s": op_s, "op_cpu_s": op_cpu,
            "pass_s": _median([p["seconds"] for p in passes]),
            "pass_cpu_s": _median(cpu),
            "api.index_build_s": warm["index_build_s"],
        })
        # Per op kind, so the pass's op mix, which is an assumption,
        # weights none of the kinds: wall_s and cpu_s are one serving
        # round (a landing, a lookup and a search). Means, not medians:
        # a pass's landings differ by position (the first one starts the
        # stream and the store), so their median is one landing's lag.
        mean_s = {k: _mean(v) for k, v in op_s.items()}
        wall, cpu_s = sum(mean_s.values()), sum(_mean(v) for v in op_cpu.values())
        geo = _geomean(mean_s.values())
    values = {"setup_s": setup_s, "wall_s": wall, "op_geomean_s": geo, "cpu_s": cpu_s}
    return values, detail


def per_layer_values(passes, cores, session_start_s, detail, offclock) -> dict:
    """The per-layer metrics: per-pass workload totals (median over
    passes), plus the setup and workload-level figures."""
    per_pass = []
    for p in passes:
        m = layer_metrics(p["spans"], cores)
        prog = p.get("progress", [])
        m["streaming.batch_s"] = sum(x["batch_s"] for x in prog)
        m["streaming.overhead_s"] = m["streaming.step_s"] - m["streaming.batch_s"]
        m["streaming.input_rows"] = sum(x["input_rows"] for x in prog)
        m["api.non_2xx"] = p.get("non_2xx", 0)
        m["trace.wall_s"] = p["seconds"]
        per_pass.append(m)
    values = {k: _median([m[k] for m in per_pass]) for k in per_pass[0]}
    values.update({
        "session.start_s": session_start_s,
        "api.index_build_s": detail.get("api.index_build_s", 0.0),
        "ingest_lag_s": detail.get("ingest_lag_s", 0.0),
        "lookup_p50_ms": detail.get("lookup_p50_ms", 0.0),
        "search_p50_ms": detail.get("search_p50_ms", 0.0),
        "failed_share": detail["failed_share"],
        "host.peak_rss_mb": detail["peak_rss_mb"],
        "trace.offclock_s": _median(offclock),
    })
    return values


# --- workloads ----------------------------------------------------------

def run_headline(spark, sf_dir, args, warm_tracer) -> dict:
    from perfbench import headline

    plans = headline.headline_plans()
    with open(os.path.join(HERE, "pins.json")) as fh:
        pins = json.load(fh)["ops"]

    def one_pass(t, pass_no):
        order = headline.pass_order(plans, args.seed, pass_no)
        return headline.run_pass(t, spark, sf_dir, plans, order, pins)

    return {"warm": one_pass(warm_tracer, 0), "one_pass": one_pass}


def run_ingest(spark, sf_dir, args, warm_tracer, work) -> dict:
    from perfbench import ingest

    corpus = ingest.Corpus(sf_dir)
    warm = ingest.run_pass(warm_tracer, spark, corpus, work, args.seed, 0,
                           landings=1, lookups=1, searches=1)
    first_search = next(s for s in warm_tracer.spans if s["name"] == "search")
    warm["index_build_s"] = first_search["dur"]

    def one_pass(t, pass_no):
        return ingest.run_pass(t, spark, corpus, work, args.seed, pass_no)

    return {"warm": warm, "one_pass": one_pass}


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    import bench  # noqa: F401  (fails fast outside a full checkout)
    from gcp_map_reduce_spark.sources.tables import DEFAULT_SF_DIR, TABLE_NAMES

    from perfbench import headline, ingest

    sf = headline.SF if args.workload == "headline_sf001" else ingest.SF
    sf_dir = os.path.join(os.path.dirname(os.path.normpath(DEFAULT_SF_DIR)), sf)
    missing = [t for t in TABLE_NAMES
               if not os.path.exists(os.path.join(sf_dir, f"{t}.parquet"))]
    if missing:
        print(f"{sf} tables {missing} not found under {sf_dir!r}", file=sys.stderr)
        return 1
    work = prepare_environment()
    try:
        return _run(args, sf_dir, work)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)


def _run(args, sf_dir, work) -> int:
    import bench

    from perfbench import hoststat
    from perfbench.trace import Tracer

    t = time.perf_counter()
    canary_pre = bench.cpu_canary_sec(CANARY_RUNS)
    canary_s = time.perf_counter() - t
    steal0 = bench._steal_sample()
    cores = int(os.environ["SPARK_GRAFT_CPUS"])

    # peak memory is a per-layer figure; the sampler's /proc scans
    # would load the untraced runs
    with hoststat.PeakRss(enabled=bool(args.trace)) as rss:
        from gcp_map_reduce_spark.plans import registry
        from gcp_map_reduce_spark.session import get_spark

        t = time.perf_counter()
        extra = {"spark.ui.enabled": "true"} if args.trace else None
        spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=extra)
        session_start_s = time.perf_counter() - t
        spark.sparkContext.setLogLevel("ERROR")
        master = spark.sparkContext.master
        try:
            t = time.perf_counter()
            registry.load_catalog()
            catalog_s = time.perf_counter() - t
            warm_tracer = Tracer(spark, enabled=False)
            tracer = Tracer(spark, enabled=bool(args.trace))
            if args.workload == "headline_sf001":
                wl = run_headline(spark, sf_dir, args, warm_tracer)
            else:
                wl = run_ingest(spark, sf_dir, args, warm_tracer, work)
            setup_s = hoststat.process_age_s() - canary_s
            warmup_s = time.perf_counter() - t - catalog_s

            passes, cpu, offclock = [], [], []
            t_start = time.perf_counter()
            while not passes or time.perf_counter() - t_start < args.seconds:
                gc.collect()
                first_span, paused0 = len(tracer.spans), tracer.paused_s
                cpu0 = hoststat.tree_cpu_s()
                res = wl["one_pass"](tracer, len(passes) + 1)
                cpu.append(hoststat.tree_cpu_s() - cpu0)
                offclock.append(tracer.paused_s - paused0)
                res["spans"] = tracer.spans[first_span:]
                passes.append(res)
            passes_s = time.perf_counter() - t_start
        finally:
            t = time.perf_counter()
            stop_spark(spark)
            stop_s = time.perf_counter() - t
    canary_post = bench.cpu_canary_sec(CANARY_RUNS)
    steal = bench._steal_rate(steal0, bench._steal_sample())

    # -- correctness over the warm-up and every timed pass
    errors = [e for res in [wl["warm"], *passes] for e in res["errors"]]
    attempted = sum(res["attempted"] for res in [wl["warm"], *passes])
    for e in errors:
        print(f"FAILED {e}", file=sys.stderr)

    values, detail = end_to_end_values(
        args.workload, passes, wl["warm"], cpu, setup_s,
        rss.peak_mb if args.trace else None,
        len(errors) / attempted)
    if args.trace:
        values = per_layer_values(passes, cores, session_start_s, detail, offclock)
        trace_dir = os.path.join(ROOT, ".perfbench", "traces")
        os.makedirs(trace_dir, exist_ok=True)
        trace_path = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json")
        tracer.dump(trace_path)
        print(f"spans written to {trace_path}", file=sys.stderr)

    units = declared_metrics(bool(args.trace))
    if set(values) != set(units):
        print(f"metric set differs from BENCHMARK.json: "
              f"{sorted(set(values) ^ set(units))}", file=sys.stderr)
        return 1
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "passes": len(passes), "nproc": cores, "master": master,
        "canary_pre_s": canary_pre, "canary_post_s": canary_post,
        "steal_cores": steal,
        "timeline_s": {"session_start": session_start_s, "catalog": catalog_s,
                       "warm_up": warmup_s, "passes": passes_s,
                       "stop": stop_s, "process": hoststat.process_age_s()},
        "errors": errors[:20], **detail,
    }
    print(json.dumps(record))
    print(json.dumps({
        "correct": not errors,
        "attempted": attempted,
        "failed": len(errors),
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
