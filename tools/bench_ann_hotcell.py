#!/usr/bin/env python
"""Hot-cell screening evidence (r14 verdict task 5): show that the
manifest-driven PER-CELL sub-split sizing bounds the worst screening
task on a Zipf-hot cell, where the old mean-based sizing left that task
bounded by the hot cell's own population.

Construction: copy a stress corpus and replace its TAIL (hot_factor x
the mean cell population rows) with deterministic perturbations of the
cell-0 seed vector — every replaced vector's nearest centroid is still
seed 0 (perturbation radius 0.8|b| vs ~1.6|b| to any other seed on the
near-orthogonal synthetic corpus), so ONE cell holds ~hot_factor x the
mean population while every other cell keeps its natural share. The
screen batch is the recent half of the corpus (so it contains the hot
vectors as queries — the worst case: the hot cell is hot on BOTH
sides of the join).

Measured both ways on the SAME index: once with the manifest's
cell_counts (per-cell sizing, the r14 default) and once with
cell_counts stripped from the manifest (the pre-r14 mean fallback —
same code path older indexes take). Results must be bit-identical
(compared via full-join hash/count aggregates, no driver collect);
the evidence is max_task_ms: per-cell sizing keeps it near the stage
median, mean sizing leaves one GEMM task carrying the whole hot cell.

Usage:
  python tools/bench_ann_hotcell.py [--base stress/sf1] [--hot-factor 10]
      [--runs 2] [--threshold 0.9] [--out ANN_SCREEN_HOTCELL.json]
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", default="stress/sf1")
    ap.add_argument("--hot-factor", type=float, default=10.0)
    ap.add_argument("--runs", type=int, default=2)
    # threshold is free for this demo (the GEMM work is
    # threshold-independent); 0.9 keeps the OUTPUT small so the timing
    # isolates compute balance, not result materialization
    ap.add_argument("--threshold", type=float, default=0.9)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql import functions as F

    from gcp_map_reduce_spark.operators.ann_index import (
        META_FILE,
        ann_index_build,
        ann_index_meta,
        ann_index_screen_batch,
    )
    from gcp_map_reduce_spark.session import get_spark
    from tools.rest_metrics import last_stage_id
    from tools.stress_bench import _release_cluster_state, _stages, _task_stats

    src = os.path.join(args.base, "embeddings.parquet")
    tbl = pq.read_table(src, columns=["vec_id", "embedding"])
    E = np.stack(
        [np.asarray(x, dtype=np.float64) for x in
         tbl["embedding"].to_pylist()]
    )
    n, d = E.shape
    from gcp_map_reduce_spark.operators.similarity import ivf_dedup_n_cells

    n_cells = ivf_dedup_n_cells(n, n_probe=1)
    mean_pop = n / n_cells
    hot_count = int(args.hot_factor * mean_pop)
    b0 = E[0]
    rng = np.random.RandomState(0)
    eps = rng.standard_normal((hot_count, d))
    eps *= (0.8 * np.linalg.norm(b0)) / np.linalg.norm(
        eps, axis=1, keepdims=True
    )
    E_hot = E.copy()
    E_hot[n - hot_count:] = b0[None, :] + eps
    hot_dir = tempfile.mkdtemp(prefix="annhot")
    emb = pa.array(
        [row.astype(np.float32).tolist() for row in E_hot],
        type=pa.list_(pa.float32()),
    )
    pq.write_table(
        pa.table({"vec_id": tbl["vec_id"], "embedding": emb}),
        os.path.join(hot_dir, "embeddings.parquet"),
    )

    spark = get_spark(
        app_name="bench-ann-hotcell", extra_conf={"spark.ui.enabled": "true"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    idx = os.path.join(tempfile.mkdtemp(prefix="annhotidx"), "idx")
    ann_index_build(spark, hot_dir, idx)
    from gcp_map_reduce_spark.operators.ann_index import (
        ann_index_cell_counts,
    )

    meta = ann_index_meta(idx)
    pops = sorted(
        (int(v) for v in ann_index_cell_counts(idx, meta).values()),
        reverse=True,
    )
    batch = (
        spark.read.parquet(os.path.join(hot_dir, "embeddings.parquet"))
        .filter(F.col("vec_id") >= n // 2)
        .select("vec_id", "embedding")
    )
    batch.count()  # warm the scan

    def screen():
        return ann_index_screen_batch(
            spark, idx, batch, args.threshold, n_probe=2
        )

    def fingerprint():
        # order-free content hash without collecting the pair set
        row = screen().selectExpr(
            "count(*) AS c",
            "sum(hash(query_id, cand_id, cosine)) AS h",
        ).collect()[0]
        return (row["c"], row["h"])

    def timed_mode(tag: str) -> dict:
        walls, stats = [], {}
        for _ in range(args.runs):
            _release_cluster_state(spark)
            marker = last_stage_id(spark)
            t0 = time.monotonic()
            screen().write.format("noop").mode("overwrite").save()
            wall = time.monotonic() - t0
            if not walls or wall < min(walls):
                stats = _task_stats(_stages(spark, marker))
            walls.append(wall)
        return {"mode": tag, "wall_sec": round(min(walls), 3), **stats}

    percell = timed_mode("per_cell")
    fp_percell = fingerprint()

    # strip the counts pointer -> the pre-r14 mean fallback on the SAME
    # index (counts live in a sidecar since r15; inline key kept for
    # pre-r15 manifests)
    with open(os.path.join(idx, META_FILE)) as fh:
        raw = json.load(fh)
    stripped = {
        k: v
        for k, v in raw.items()
        if k not in ("cell_counts", "cell_counts_file")
    }
    with open(os.path.join(idx, META_FILE), "w") as fh:
        json.dump(stripped, fh)
    mean_mode = timed_mode("mean_fallback")
    fp_mean = fingerprint()
    with open(os.path.join(idx, META_FILE), "w") as fh:
        json.dump(raw, fh)  # restore

    payload = {
        "metric": "ann_screen_hotcell",
        "base": args.base,
        "n_vec": n,
        "n_cells": n_cells,
        "mean_cell_pop": round(mean_pop, 1),
        "hot_cell_pop": pops[0],
        "hot_over_mean": round(pops[0] / mean_pop, 2),
        "threshold": args.threshold,
        "runs_best_of": args.runs,
        "per_cell": percell,
        "mean_fallback": mean_mode,
        "max_task_improvement": round(
            mean_mode["max_task_ms"] / max(1.0, percell["max_task_ms"]), 2
        ),
        "per_cell_max_over_median": round(
            percell["max_task_ms"] / max(1.0, percell["stage_median_ms"]), 2
        ),
        "results_identical": fp_percell == fp_mean,
        "result_rows": fp_percell[0],
    }
    line = json.dumps(payload)
    print(line)
    if args.out:
        with open(args.out, "w") as fh:
            fh.write(line + "\n")
    if not payload["results_identical"]:
        sys.exit(1)


if __name__ == "__main__":
    main()
