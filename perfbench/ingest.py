"""``ingest_serve``: the reference's serving flow, writes beside reads.

A pass starts from empty directories. The seed splits ``documents`` into
``LANDINGS`` text files that land one at a time in a watched directory.
Each landing drains ``run_file_trigger_wordcount`` (which republishes the
wordcount) and then sends ``POST /launch_map_reduce`` (invertedindex)
through the Flask test client; the landing's lag runs from the file's
arrival until both calls have returned. After each landing the same
client looks up seed-chosen words of the published wordcount with
``sinks.writers.point_lookup`` and sends ``POST /semantic_search`` (k=10)
with seed-chosen ``embeddings`` rows.

The landing files and their vocabularies are made before the pass; each
op's process-tree CPU is read off the clock around it. A failing op is
recorded in ``errors`` and the pass goes on.

Outputs are checked after the pass, outside every timer: each lookup
against DuckDB's count over the files landed by then, each search for a
200 answer that ranks the query's own vector first (cosine 1), and the final
published wordcount against DuckDB's count over all ingested text.
"""

from __future__ import annotations

import contextlib
import os
import random

SF = "sf0.1"
# Ops per pass. Neither the reference nor the engine states a traffic mix,
# so these counts are an assumption, sized so one pass fits the run
# length. The gated figures are per op kind (the median landing, lookup
# and search), so the mix does not weight them.
LANDINGS = 3
LOOKUPS_PER_LANDING = 5
SEARCHES_PER_LANDING = 1
SEARCH_K = 10


class Corpus:
    """The ``documents`` lines and ``embeddings`` rows a pass feeds in,
    read once per run with pyarrow."""

    def __init__(self, sf_dir: str):
        import pyarrow.parquet as pq

        docs = pq.read_table(os.path.join(sf_dir, "documents.parquet"),
                             columns=["doc_id", "text"])
        # one document per line; the text source splits lines on CR/LF
        self.lines = [
            (t or "").replace("\r", " ").replace("\n", " ")
            for t in docs.column("text").to_pylist()
        ]
        emb = pq.read_table(os.path.join(sf_dir, "embeddings.parquet"),
                            columns=["vec_id", "embedding"])
        self.vectors = list(zip(emb.column("vec_id").to_pylist(),
                                emb.column("embedding").to_pylist()))
        self.sf_dir = sf_dir


def _words(lines) -> list[str]:
    from gcp_map_reduce_spark.functions.text import PY_NORMALIZE

    return sorted({w for line in lines for w in PY_NORMALIZE(line).split()})


def split_landings(n_lines: int, seed: int, pass_no: int, landings: int):
    """Seed-chosen partition of line indices into ``landings`` files."""
    idx = list(range(n_lines))
    random.Random(seed * 7919 + pass_no).shuffle(idx)
    return [sorted(idx[i::landings]) for i in range(landings)]


def run_pass(tracer, spark, corpus: Corpus, work_dir: str, seed: int,
             pass_no: int, landings: int = LANDINGS,
             lookups: int = LOOKUPS_PER_LANDING,
             searches: int = SEARCHES_PER_LANDING) -> dict:
    from gcp_map_reduce_spark import api
    from gcp_map_reduce_spark.sinks.writers import point_lookup
    from gcp_map_reduce_spark.streaming.file_trigger import run_file_trigger_wordcount

    from perfbench.hoststat import tree_cpu_s

    d = {k: os.path.join(work_dir, f"pass{pass_no}", k)
         for k in ("stage", "in", "wordcount", "checkpoint", "store")}
    os.makedirs(d["in"])
    os.makedirs(d["stage"])
    published = os.path.join(d["wordcount"], "final")
    client = api.create_app(spark, d["in"], d["store"],
                            emb_sf_dir=corpus.sf_dir).test_client()
    rng = random.Random(seed * 104729 + pass_no)
    files = split_landings(len(corpus.lines), seed, pass_no, landings)
    # the landing files and their vocabularies are made before the pass;
    # landing a file is the rename into the watched directory
    vocabs = []
    for i, chunk in enumerate(files):
        lines = [corpus.lines[j] for j in chunk]
        with open(os.path.join(d["stage"], f"part-{i}.txt"), "w") as fh:
            fh.write("\n".join(lines) + "\n")
        vocabs.append(_words(lines))
    rec = {"ingest_s": [], "lookup_s": [], "search_s": [], "lookups": [],
           "searches": [], "progress": [], "non_2xx": 0, "errors": [],
           "cpu_s": {"ingest": [], "lookup": [], "search": []}}

    @contextlib.contextmanager
    def op(kind: str, label: str, spark_jobs: bool = False):
        """One op, timed as a ``kind`` span, with the process tree's CPU
        read off the clock around it. A failure is recorded, not raised."""
        with tracer.bookkeeping():
            cpu0 = tree_cpu_s()
        try:
            with tracer.span(kind, op=kind, spark_jobs=spark_jobs) as s:
                yield s
        except Exception as exc:  # one broken op must not abort the pass
            rec["errors"].append(f"{label}: {type(exc).__name__}: {exc}"[:300])
            return
        with tracer.bookkeeping():
            rec["cpu_s"][kind].append(tree_cpu_s() - cpu0)
        rec[f"{kind}_s"].append(s["dur"])

    with tracer.span("pass", op=None) as p:
        for i in range(landings):
            with op("ingest", f"landing {i}"):
                os.rename(os.path.join(d["stage"], f"part-{i}.txt"),
                          os.path.join(d["in"], f"part-{i}.txt"))
                with tracer.span("streaming.drain", spark_jobs=True) as dr:
                    q = run_file_trigger_wordcount(
                        spark, d["in"], d["wordcount"], d["checkpoint"])
                    dr["groups"].append(str(q.runId))
                    q.awaitTermination()
                with tracer.span("api.launch", spark_jobs=True):
                    resp = client.post("/launch_map_reduce",
                                       json={"operation_name": "invertedindex"})
                with tracer.bookkeeping():
                    rec["progress"].extend(
                        {"batch_s": pr["batchDuration"] / 1000.0,
                         "input_rows": pr["numInputRows"]}
                        for pr in q.recentProgress)
                if not 200 <= resp.status_code < 300:
                    rec["non_2xx"] += 1
                    rec["errors"].append(f"launch {i}: HTTP {resp.status_code}")
            for _ in range(lookups):
                word = rng.choice(vocabs[i])
                with op("lookup", f"lookup {word!r}", spark_jobs=True) as lk:
                    rows = point_lookup(spark, published, "word", word).collect()
                    lk["attrs"]["rows_returned"] = len(rows)
                    rec["lookups"].append((i, word, [r["cnt"] for r in rows]))
            for _ in range(searches):
                vec_id, emb = rng.choice(corpus.vectors)
                # the search skips candidates whose id equals the query id,
                # so the query takes an id no vector has
                body = {"queries": [{"query_id": -1 - vec_id, "embedding": emb}],
                        "k": SEARCH_K}
                with op("search", f"search {vec_id}", spark_jobs=True):
                    resp = client.post("/semantic_search", json=body)
                    if not 200 <= resp.status_code < 300:
                        rec["non_2xx"] += 1
                    rec["searches"].append(
                        (vec_id, resp.status_code, resp.get_json()))
    rec["seconds"] = p["dur"]
    rec["span"] = p
    rec["attempted"] = landings * (1 + lookups + searches) + 1
    check_pass(rec, corpus, files, published)
    return rec


def check_pass(rec: dict, corpus: Corpus, files, published: str) -> None:
    """Compare the pass's outputs with DuckDB; append to ``rec["errors"]``
    (one entry per failed op, plus one for a wrong final wordcount)."""
    import duckdb
    import pyarrow.parquet as pq

    from gcp_map_reduce_spark.functions.text import sql_tokens_cte

    con = duckdb.connect()
    con.execute("CREATE TABLE lines (landing INTEGER, line VARCHAR)")
    con.executemany("INSERT INTO lines VALUES (?, ?)", [
        (i, corpus.lines[j]) for i, chunk in enumerate(files) for j in chunk
    ])
    con.execute(
        "CREATE TABLE tokens AS SELECT * FROM ("
        + sql_tokens_cte("lines", "landing", "line") + ") WHERE word <> ''"
    )
    for i, word, got in rec["lookups"]:
        want = con.execute(
            "SELECT count(*) FROM tokens WHERE word = ? AND landing <= ?",
            [word, i]).fetchone()[0]
        if got != [want]:
            rec["errors"].append(f"lookup {word!r} after landing {i}: {got} != [{want}]")
    for vec_id, status, body in rec["searches"]:
        cands = (body or {}).get(str(-1 - vec_id), [])
        if (status != 200 or len(cands) != SEARCH_K or cands[0]["cand_id"] != vec_id
                or cands[0]["cosine"] < 0.999):
            rec["errors"].append(f"search {vec_id}: HTTP {status}, top {cands[:1]}")
    want = dict(con.execute("SELECT word, count(*) FROM tokens GROUP BY word").fetchall())
    table = pq.read_table(published)
    got = dict(zip(table.column("word").to_pylist(), table.column("cnt").to_pylist()))
    if got != want:
        diff = sorted(set(got.items()) ^ set(want.items()))[:3]
        rec["errors"].append(f"published wordcount != DuckDB count, e.g. {diff}")
