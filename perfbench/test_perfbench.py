"""Tests of the benchmark itself: ``python -m pytest perfbench -q``.

The Spark tests run headline passes over a few ops at sf0.001, the
smallest of the engine's data sets, next to its default sf0.1 directory.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import headline, ingest, run  # noqa: E402
from perfbench.trace import Tracer, format_summary  # noqa: E402

OPS = ["wordcount", "q1_pricing_summary", "dedup_exact", "window_rank_orders"]


@pytest.fixture(scope="module")
def spark():
    from gcp_map_reduce_spark.session import get_spark

    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    s = get_spark(app_name="perfbench-tests", master="local[2]",
                  shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="module")
def small():
    from gcp_map_reduce_spark.sources.tables import DEFAULT_SF_DIR

    path = os.path.join(os.path.dirname(os.path.normpath(DEFAULT_SF_DIR)), "sf0.001")
    if not os.path.isdir(path):
        pytest.skip(f"no sf0.001 tables at {path}")
    return path


@pytest.fixture(scope="module")
def plans():
    every = headline.headline_plans()
    return {n: every[n] for n in OPS}


def test_new_seed_changes_op_order_but_no_fingerprint(spark, small, plans):
    orders = [headline.pass_order(plans, seed, 1) for seed in (1, 2)]
    assert orders[0] != orders[1]
    assert sorted(orders[0]) == sorted(orders[1]) == sorted(OPS)
    fps = []
    for order in orders:
        res = headline.run_pass(Tracer(spark, False), spark, small, plans, order, None)
        assert [r["op"] for r in res["ops"]] == order
        assert all("error" not in r for r in res["ops"])
        fps.append({r["op"]: r["fingerprint"] for r in res["ops"]})
    assert fps[0] == fps[1]
    # pinning the first pass makes the second pass check clean
    pins = {n: fp for n, fp in fps[0].items()}
    res = headline.run_pass(Tracer(spark, False), spark, small, plans, orders[1], pins)
    assert res["errors"] == []


def test_failing_op_is_counted_and_does_not_abort_the_pass(spark, small, plans):
    def broken(spark, sf_dir):
        raise RuntimeError("deliberate failure")

    with_broken = dict(plans, broken=broken)
    order = ["broken"] + OPS  # the failure comes first
    res = headline.run_pass(Tracer(spark, False), spark, small, with_broken, order, None)
    assert [r["op"] for r in res["ops"]] == order
    errors = res["errors"]
    assert len(errors) == 1 and "deliberate failure" in errors[0]
    assert all("fingerprint" in r for r in res["ops"][1:])
    assert len(errors) / res["attempted"] == 1 / 5


def test_failing_ingest_op_is_counted_and_does_not_abort_the_pass(
        spark, small, tmp_path, monkeypatch):
    import tempfile

    from gcp_map_reduce_spark.sinks import writers

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))  # the ANN index cache
    real, calls = writers.point_lookup, []

    def first_lookup_fails(*args, **kwargs):
        calls.append(args)
        if len(calls) == 1:
            raise RuntimeError("deliberate failure")
        return real(*args, **kwargs)

    monkeypatch.setattr(writers, "point_lookup", first_lookup_fails)
    rec = ingest.run_pass(Tracer(spark, False), spark, ingest.Corpus(small),
                          str(tmp_path), seed=1, pass_no=1,
                          landings=2, lookups=2, searches=1)
    assert len(rec["errors"]) == 1 and "deliberate failure" in rec["errors"][0]
    assert rec["attempted"] == 2 * (1 + 2 + 1) + 1
    # every other op ran, was timed and checked clean
    assert len(calls) == 4
    assert [len(rec[k]) for k in ("ingest_s", "lookup_s", "search_s")] == [2, 3, 2]
    assert [len(v) for v in rec["cpu_s"].values()] == [2, 3, 2]


def _declared(key):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return [m["name"] for m in json.load(fh)[key]]


def _span(tracer, name, op=None, **attrs):
    with tracer.span(name, op=op) as s:
        pass
    s["attrs"].update(attrs)
    return s


def _fake_passes(workload):
    """Pass records with the shape run.py builds, from fake spans."""
    t = Tracer(None, False)
    with t.span("pass") as p:
        if workload == "headline_sf001":
            for op in ("a", "b"):
                with t.span("op", op=op):
                    _span(t, "plans.build", jobs=1, job_cover_s=0.0)
                    _span(t, "operators.exec", jobs=2, executorRunTime=5)
            ops = [{"op": op, "seconds": 0.5, "build_s": 0.1, "exec_s": 0.4,
                    "fingerprint": {}} for op in ("a", "b")]
            res = {"ops": ops}
        else:
            with t.span("ingest", op="ingest"):
                _span(t, "streaming.drain")
                _span(t, "api.launch")
            _span(t, "lookup", op="lookup", inputRecords=10, rows_returned=1)
            _span(t, "search", op="search")
            res = {"ingest_s": [1.0], "lookup_s": [0.2], "search_s": [0.8],
                   "cpu_s": {"ingest": [2.0], "lookup": [0.3], "search": [1.5]},
                   "progress": [{"batch_s": 0.5, "input_rows": 3}],
                   "non_2xx": 0, "errors": [], "attempted": 4}
    p["attrs"].update(probe_hits=1, probe_misses=0)
    res.update(seconds=p["dur"] + 1.0, spans=t.spans)
    return [res]


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_every_printed_metric_is_declared(workload):
    passes = _fake_passes(workload)
    warm = dict(passes[0], index_build_s=1.0)
    values, detail = run.end_to_end_values(workload, passes, warm, [1.0], 2.0, 3.0, 0.0)
    assert list(values) == _declared("end_to_end")
    assert all(v > 0 for v in values.values())
    layers = run.per_layer_values(passes, 4, 1.0, detail, [0.1])
    assert sorted(layers) == sorted(_declared("per_layer"))


def test_trace_summary_covers_the_pass():
    passes = _fake_passes("headline_sf001")
    text = format_summary(passes[0]["spans"])
    assert "TOTAL" in text and "eager_jobs" in text
