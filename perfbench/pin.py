#!/usr/bin/env python3
"""Pin the headline ops' output fingerprints in ``perfbench/pins.json``.

    python3 perfbench/pin.py

Every op must first agree with a DuckDB oracle at the workload's scale.
An op whose benchmarked plan is the registered one is compared with its
``registry.ORACLES`` SQL through ``tests/oracle_harness.py``. An op the
benchmark swaps for a ``bench.build_overrides()`` plan is compared with
the branch of a registered suite's oracle that the suite builds from the
same library call (``OVERRIDE_ORACLES``); ``similarity_lsh_ann`` uses the
library's single-probe LSH oracle. ``dedup_minhash`` runs the production
xxhash64 family, which no oracle computes: its near-dup pair set must
agree with the oracle's md5 pairs as closely as ``tests/test_dedup.py``
asks. The check each op passed is stored with its pin. Three passes in
three op orders must agree on every fingerprint before anything is
written.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Override op -> (registered query whose oracle covers it, tag column and
# value of its branch, projection of the op's output onto the branch's
# columns as the suite makes it from the same library call).
OVERRIDE_ORACLES = {
    "corpus_shards": ("corpus_shards", "kind", "shard", [
        "shard_id", "n_docs", "shard_tokens", "first_doc", "last_doc"]),
    "dedup_clusters": ("dedup_clusters", "edge_source", "exact", [
        "doc_id", "cluster_id", "reach_size"]),
    "text_tfidf": ("text_tfidf", "branch", "tfidf", [
        "doc_id", "word", "tf", "df", "n_docs"]),
    "similarity_ivf_ann": ("similarity_ann_suite", "method", "ivf", [
        "query_id", "cand_id", "cosine"]),
    "semantic_search_docs": ("similarity_ann_suite", "method", "bruteforce_docs", [
        "query_id", "cand_id", "cosine", "lang", "CAST(n_chars AS BIGINT) AS n_chars"]),
    "q21_waiting_suppliers": ("q4_q13_q21_counts", "metric", "q21_waiting_suppliers", [
        "CAST(s_name AS STRING) AS k", "CAST(numwait AS BIGINT) AS n"]),
    "udf_wordcount_grouped": ("udf_plugin_suite", "shape", "grouped_map", [
        "CAST(concat_ws(':', doc_id, word) AS STRING) AS key",
        "CAST(cnt AS DOUBLE) AS v1"]),
}
MINHASH_PAIR_AGREEMENT = 0.9  # tests/test_dedup.py, fast vs portable hash


def _same_rows(sdf, ddf) -> str:
    """``tests/oracle_harness.py``'s verdict on two result frames."""
    from tests.oracle_harness import _canon

    if len(sdf) != len(ddf):
        return f"ROWCOUNT-MISMATCH {len(sdf)} != {len(ddf)}"
    if sorted(sdf.columns) != sorted(ddf.columns):
        return f"SCHEMA-MISMATCH {sorted(sdf.columns)} != {sorted(ddf.columns)}"
    a, b = (_canon(df).astype(object) for df in (sdf, ddf))
    rows = [df.where(df.notna(), None).values.tolist() for df in (a, b)]
    return "MATCH" if rows[0] == rows[1] else "VALUE-MISMATCH"


def check_override(name: str, fn, spark, sf_dir: str) -> str:
    """The oracle verdict on an override op's output; "MATCH" (or, for
    dedup_minhash, "PAIRS-AGREE") passes."""
    from gcp_map_reduce_spark.operators.similarity import _lsh_oracle
    from gcp_map_reduce_spark.plans import registry
    from tests.oracle_harness import duckdb_conn

    con = duckdb_conn(sf_dir)
    out = fn(spark, sf_dir)
    if name == "similarity_lsh_ann":
        cols = ["query_id", "cand_id", "cosine"]
        verdict = _same_rows(out.select(cols).toPandas(), con.execute(
            f"SELECT {', '.join(cols)} FROM ({_lsh_oracle()})").fetchdf())
        return f"{verdict} with the single-probe LSH oracle"
    if name == "dedup_minhash":
        sql = registry.ORACLES["dedup_pair_scores"]
        want = set(con.execute(
            f"SELECT doc_a, doc_b FROM ({sql}) WHERE method = 'minhash'").fetchall())
        got = {(r["doc_a"], r["doc_b"]) for r in out.select("doc_a", "doc_b").collect()}
        agree = len(want & got) / len(want) if want else 0.0
        verdict = "PAIRS-AGREE" if agree >= MINHASH_PAIR_AGREEMENT else "PAIRS-DIFFER"
        return f"{verdict} {agree:.3f} with the md5 oracle's {len(want)} pairs"
    suite, tag, value, exprs = OVERRIDE_ORACLES[name]
    sdf = out.selectExpr(*exprs).toPandas()
    ddf = con.execute(
        f"SELECT {', '.join(sdf.columns)} FROM ({registry.ORACLES[suite]})"
        f" WHERE {tag} = '{value}'").fetchdf()
    return f"{_same_rows(sdf, ddf)} with {suite}[{tag}={value}]"


def main() -> int:
    sys.path.insert(0, ROOT)
    import bench
    from gcp_map_reduce_spark.plans import registry
    from gcp_map_reduce_spark.session import get_spark
    from gcp_map_reduce_spark.sources.tables import DEFAULT_SF_DIR
    from tests.oracle_harness import compare

    from perfbench import headline
    from perfbench.run import prepare_environment, stop_spark
    from perfbench.trace import Tracer

    sf_dir = os.path.join(os.path.dirname(os.path.normpath(DEFAULT_SF_DIR)),
                          headline.SF)
    work = prepare_environment()
    spark = get_spark(app_name="perfbench-pin")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        plans = headline.headline_plans()
        overrides = bench.build_overrides()
        oracle = {}
        for name in plans:
            if name in overrides:
                status = check_override(name, plans[name], spark, sf_dir)
            else:
                status = compare(name, spark, sf_dir)["status"]
            oracle[name] = status
            print(f"{name}: {status}", file=sys.stderr)
            if not status.startswith(("MATCH", "PAIRS-AGREE", "rows-only")):
                print(f"oracle check failed for {name}", file=sys.stderr)
                return 1
        tracer = Tracer(spark, enabled=False)
        seen: dict[str, set] = {}
        for seed in (1, 2, 3):
            order = headline.pass_order(plans, seed, 1)
            res = headline.run_pass(tracer, spark, sf_dir, plans, order, None)
            for r in res["ops"]:
                if "error" in r:
                    print(f"{r['op']} failed: {r['error']}", file=sys.stderr)
                    return 1
                seen.setdefault(r["op"], set()).add(json.dumps(r["fingerprint"]))
        unstable = sorted(n for n, fps in seen.items() if len(fps) != 1)
        if unstable:
            print(f"fingerprints differ between passes: {unstable}", file=sys.stderr)
            return 1
    finally:
        stop_spark(spark)
        os.chdir(ROOT)
        import shutil

        shutil.rmtree(work, ignore_errors=True)
    pins = {
        name: {**json.loads(next(iter(seen[name]))), "oracle": oracle[name]}
        for name in plans
    }
    with open(os.path.join(HERE, "pins.json"), "w") as fh:
        json.dump({"sf": os.path.basename(os.path.normpath(sf_dir)), "ops": pins},
                  fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
