"""``headline_sf001``: the 26 ops of ``bench.HEADLINE`` at sf0.01.

One op is ``plans.build`` (the ``QUERIES[name](spark, dir)`` call, with
``bench.build_overrides()`` applied) followed by ``operators.exec`` (the
noop-sink ``save()``). Each op's output fingerprint - row count plus an
order-insensitive hash - is taken by a Spark observation that rides on
that same execution and is compared with ``pins.json`` after the op's
timer has stopped.
"""

from __future__ import annotations

import random
import re

SF = "sf0.01"

_NODE = re.compile(r"^[\s:|+\-]*(\w+)")


def headline_plans() -> dict:
    import bench
    from gcp_map_reduce_spark.plans import registry

    registry.load_catalog()
    overrides = bench.build_overrides()
    return {n: overrides.get(n) or registry.QUERIES[n] for n in bench.HEADLINE}


def _hashable(field):
    """Column expression for one output column: doubles are narrowed to
    float so a last-bit difference in summation order cannot flip the
    hash; other types hash as they are."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import ArrayType, DoubleType, FloatType

    col = F.col(f"`{field.name}`")
    if isinstance(field.dataType, (DoubleType, FloatType)):
        return col.cast("float")
    if isinstance(field.dataType, ArrayType) and isinstance(
        field.dataType.elementType, (DoubleType, FloatType)
    ):
        return F.transform(col, lambda x: x.cast("float"))
    return col


def with_fingerprint(df):
    """``(df, observation)``: ``df`` is unchanged row for row; once an
    action on it finishes, ``observation.get`` holds the fingerprint."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    row_hash = F.xxhash64(*[_hashable(f) for f in df.schema.fields])
    return df.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.sum(row_hash.cast("decimal(38,0)")).alias("hash"),
    ), obs


def fingerprint_of(obs) -> dict:
    got = obs.get
    return {"rows": int(got["rows"]), "hash": str(got["hash"])}


def plan_node_counts(df) -> dict:
    """Exchange and file-scan nodes in the DataFrame's physical plan
    (ReusedExchange is a reuse, not a shuffle, and is not counted)."""
    counts = {"exchanges": 0, "file_scans": 0}
    plan = df._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        m = _NODE.match(line)
        if not m:
            continue
        node = m.group(1)
        if node.endswith("Exchange") and node != "ReusedExchange":
            counts["exchanges"] += 1
        elif node == "FileScan":
            counts["file_scans"] += 1
    return counts


def pass_order(names, seed: int, pass_no: int) -> list[str]:
    order = list(names)
    random.Random(seed * 1009 + pass_no).shuffle(order)
    return order


def run_op(tracer, spark, sf_dir: str, name: str, fn) -> dict:
    """Build and execute one op. A failure is recorded, not raised."""
    row = {"op": name}
    try:
        with tracer.span("op", op=name) as op_span:
            with tracer.span("plans.build", spark_jobs=True) as b:
                df = fn(spark, sf_dir)
            with tracer.bookkeeping():
                observed, obs = with_fingerprint(df)
            with tracer.span("operators.exec", spark_jobs=True) as e:
                observed.write.format("noop").mode("overwrite").save()
        row.update(seconds=op_span["dur"], build_s=b["dur"], exec_s=e["dur"],
                   fingerprint=fingerprint_of(obs))
        if tracer.enabled:
            with tracer.bookkeeping():
                op_span["attrs"].update(plan_node_counts(df))
    except Exception as exc:  # one broken op must not abort the pass
        row["error"] = f"{type(exc).__name__}: {exc}"[:300]
    return row


def run_pass(tracer, spark, sf_dir: str, plans: dict, order, pins) -> dict:
    """Run every op in ``order``; check fingerprints against ``pins``
    (when given) after each op's timer has stopped."""
    from gcp_map_reduce_spark.plans import probes

    hits0, misses0 = probes.STATS["hits"], probes.STATS["misses"]
    rows = []
    with tracer.span("pass", op=None) as p:
        for name in order:
            row = run_op(tracer, spark, sf_dir, name, plans[name])
            if "error" not in row and pins is not None:
                want = pins.get(name)
                if want is None or {k: want[k] for k in ("rows", "hash")} != row["fingerprint"]:
                    row["error"] = f"fingerprint {row['fingerprint']} != pinned {want}"
            rows.append(row)
    p["attrs"].update(
        probe_hits=probes.STATS["hits"] - hits0,
        probe_misses=probes.STATS["misses"] - misses0,
    )
    return {"seconds": p["dur"], "ops": rows, "span": p, "attempted": len(rows),
            "errors": [f"{r['op']}: {r['error']}" for r in rows if "error" in r]}
