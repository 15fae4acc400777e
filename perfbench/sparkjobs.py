"""The spark_jobs workload: one closed-loop client that calls the
engine's Python API the way a notebook or ETL user does.

    python3 perfbench/sparkjobs.py --run-dir DIR --seed N --seconds S \
        --trace 0|1

Each pass runs a fixed list of Spark-path calls (NeedleQL SIMILAR TO
with a range filter over a multi-segment catalog collection with a
deleted slice, exact filtered kNN, a 100-query BatchKnnIndex
search_local, BM25 + RRF, MinHash LSH over documents with near-copies,
and an analytics group-by over lineitem), each timed as call plus
collect.  Results of the last pass are checked after the timed window:
against the DuckDB twins from __spark_entry__.oracle_sql() where one
exists, against numpy otherwise.  Writes DIR/result.json.
"""

from __future__ import annotations

import argparse
import os
import time

import numpy as np

import common
import spans

N_EMB, D_EMB = 2000, 64
N_NOTES, D_NOTES = 4000, 64
N_DOCS, N_COPIES = 600, 150
N_LINEITEM = 30_000
NOTE_CHUNKS = 2
MIN_PASSES = 3
YEAR_LO, YEAR_HI = 2005, 2014
QL = ("SELECT id, distance FROM notes WHERE vector SIMILAR TO $q "
      f"AND year BETWEEN {YEAR_LO} AND {YEAR_HI} LIMIT 10")
WORDS = ("key agg row scan slow fast table value part hash merge batch "
         "spark line sort window join customer query column order group "
         "data filter stream small big vector index cache shard node "
         "plan cost tree page block log commit").split()
CALLS = ("ql.similar_to", "knn.knn", "knn_arrow.search_local",
         "hybrid.rrf", "dedup.minhash_lsh_candidates",
         "analytics.group_by")


# ------------------------------------------------------------ inputs --

def make_tables(seed: int, data_dir: str) -> dict:
    """Seeded embeddings / documents / lineitem parquet files, with the
    columns the __spark_entry__ query functions and their DuckDB twins
    read."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(data_dir, exist_ok=True)
    rng = np.random.default_rng(seed + 101)
    centers = rng.normal(0, 1, (40, D_EMB))
    emb = (centers[rng.integers(0, 40, N_EMB)]
           + rng.normal(0, 0.6, (N_EMB, D_EMB))).astype(np.float32)
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(N_EMB), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, N_EMB), pa.int32()),
    }), os.path.join(data_dir, "embeddings.parquet"))

    texts = [" ".join(rng.choice(WORDS, int(rng.integers(40, 80))))
             for _ in range(N_DOCS)]
    for src in rng.choice(N_DOCS, N_COPIES, replace=False):
        # one near-copy per source doc: two tokens replaced keeps the
        # 3-shingle Jaccard near 0.8, far from the 0.6 verify threshold
        toks = texts[src].split()
        for p in rng.choice(len(toks), 2, replace=False):
            toks[p] = str(rng.choice(WORDS))
        texts.append(" ".join(toks))
    n = len(texts)
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": [("en", "de", "fr")[i % 3] for i in range(n)],
        "source": [f"src{i % 7}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), os.path.join(data_dir, "documents.parquet"))

    m = N_LINEITEM
    pq.write_table(pa.table({
        "l_orderkey": pa.array(rng.integers(1, m // 4, m), pa.int64()),
        "l_quantity": np.round(rng.integers(1, 51, m).astype(float), 2),
        "l_extendedprice": np.round(rng.uniform(900, 105000, m), 2),
        "l_discount": np.round(rng.integers(0, 11, m) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, m) / 100.0, 2),
        "l_returnflag": list(rng.choice(["A", "N", "R"], m)),
        "l_linestatus": list(rng.choice(["F", "O"], m)),
    }), os.path.join(data_dir, "lineitem.parquet"))

    from needle_spark.plans.ann_datasets import sift_like

    notes, q = sift_like(N_NOTES, dims=D_NOTES, n_queries=1,
                         n_clusters=50, seed=seed + 202)
    years = rng.integers(2000, 2025, N_NOTES)
    return {"emb": emb, "notes": notes, "years": years,
            "note_query": q[0], "eval_queries": emb[:100]}


def load_notes(spark, db, name: str, inp: dict) -> tuple[list, list]:
    """Catalog collection appended as several segments, then one slice
    deleted, so reads merge segments and tombstones.  Returns the ids
    deleted and the wall time of each catalog write (appends, delete)."""
    import pandas as pd

    coll = db.create_collection(
        name, dims=D_NOTES, metric="euclidean",
        schema="id string, vector array<float>, year int")
    bounds = np.linspace(0, N_NOTES, NOTE_CHUNKS + 1).astype(int)
    writes = []
    for s, e in zip(bounds[:-1], bounds[1:]):
        pdf = pd.DataFrame({"id": [f"n{i}" for i in range(s, e)],
                            "vector": list(inp["notes"][s:e]),
                            "year": inp["years"][s:e].astype("int32")})
        t0 = time.perf_counter()
        coll.insert(spark.createDataFrame(
            pdf, "id string, vector array<float>, year int"))
        writes.append(time.perf_counter() - t0)
    dead = [f"n{i}" for i in range(bounds[1], bounds[1] + N_NOTES // 20)]
    t0 = time.perf_counter()
    coll.delete(ids=dead)
    writes.append(time.perf_counter() - t0)
    return dead, writes


# ------------------------------------------------------------ checks --

def check_ql(rows, inp: dict, dead: list[str]) -> list[str]:
    live = np.ones(N_NOTES, bool)
    live[[int(d[1:]) for d in dead]] = False
    live &= (inp["years"] >= YEAR_LO) & (inp["years"] <= YEAR_HI)
    cand = np.nonzero(live)[0]
    q = inp["note_query"].astype(np.float64)
    d = np.sqrt(((inp["notes"][cand].astype(np.float64) - q) ** 2).sum(1))
    kth = np.sort(d)[9]
    dist = dict(zip(cand.tolist(), d.tolist()))
    bad = []
    if len(rows) != 10:
        bad.append(f"ql: {len(rows)} rows, expected 10")
    for r in rows:
        i = int(r["id"][1:])
        if i not in dist:
            bad.append(f"ql: {r['id']} is deleted or outside the range")
        elif dist[i] > kth + 1e-3:
            bad.append(f"ql: {r['id']} is not in the exact top-10")
    return bad


def check_search_local(pdf, inp: dict) -> tuple[list[str], float]:
    E = inp["emb"].astype(np.float64)
    En = E / np.linalg.norm(E, axis=1, keepdims=True)
    Q = inp["eval_queries"].astype(np.float64)
    Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
    D = 1.0 - Qn @ En.T
    hits = 0
    for qi in range(len(Q)):
        kth = np.sort(D[qi])[9] + 1e-6
        got = pdf[pdf["query_id"] == qi]["vec_id"].tolist()[:10]
        hits += sum(1 for g in got if D[qi, int(g)] <= kth)
    recall = hits / (10 * len(Q))
    bad = [] if recall >= 0.999 else [f"search_local recall {recall:.4f}"]
    return bad, recall


def check_twin(con, name: str, sql: str, cols, rows) -> list[str]:
    """Row count, column names and order-insensitive values (floats
    rounded to 1e-6), as scripts/check_oracle.py compares them."""
    res = con.execute(sql)
    dcols = [c[0] for c in res.description]
    drows = res.fetchall()
    if len(rows) != len(drows):
        return [f"{name}: {len(rows)} rows, DuckDB twin {len(drows)}"]
    if sorted(cols) != sorted(dcols):
        return [f"{name}: columns {sorted(cols)} vs {sorted(dcols)}"]
    if canon_rows(cols, rows) != canon_rows(dcols, drows):
        return [f"{name}: values differ from the DuckDB twin"]
    return []


def canon_rows(cols, rows):
    """scripts/check_oracle.py's canonical form, loaded from the repo."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(common.ROOT, "scripts",
                                     "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.canon_rows(cols, rows)


# -------------------------------------------------------------- main --

def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()

    marks = [("start", time.perf_counter())]
    t0 = time.perf_counter()
    from needle_spark.session import get_spark

    spark = get_spark(app_name="perfbench-jobs", extra_conf={
        "spark.ui.showConsoleProgress": "false"})
    spark.range(1).collect()
    startup_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext

    import duckdb
    from pyspark.sql import functions as F

    import __spark_entry__ as entry
    from needle_spark.catalog import Database
    from needle_spark.operators import dedup, hybrid, knn
    from needle_spark.operators.knn_arrow import BatchKnnIndex
    from needle_spark.ql import executor as ql_executor

    tracer = spans.Tracer()
    if a.trace:
        tracer.wrap(ql_executor, "parse", "ql", "ql.parse")
        tracer.wrap(ql_executor.QueryExecutor, "execute", "ql", "ql.execute")
        for mod, attr, name in (
                (knn, "knn", "knn.knn"), (entry, "knn", "knn.knn"),
                (hybrid, "rrf_fuse", "hybrid.rrf_fuse"),
                (dedup, "minhash_lsh_candidates",
                 "dedup.minhash_lsh_candidates")):
            tracer.wrap(mod, attr, "operators", name)
        tracer.wrap(BatchKnnIndex, "search_local", "operators",
                    "knn_arrow.search_local")
        tracer.wrap(hybrid.Bm25Index, "search", "operators",
                    "hybrid.bm25_search")

    data_dir = os.path.join(a.run_dir, "data")
    inp = make_tables(a.seed, data_dir)
    qs = entry.queries()

    def table(name):
        return spark.read.parquet(os.path.join(data_dir, f"{name}.parquet"))

    db = Database(spark, os.path.join(a.run_dir, "db"))
    dead, load_writes = load_notes(spark, db, "notes", inp)
    t_b = time.perf_counter()
    bm25 = hybrid.Bm25Index(table("documents"), id_col="doc_id",
                            text_col="text")
    t_k = time.perf_counter()
    bki = BatchKnnIndex(table("embeddings"), vector_col="embedding",
                        id_col="vec_id", metric="cosine")
    setup = {"spark_startup_s": startup_s,
             "setup_s": time.perf_counter() - t0,
             "bm25_build_s": t_k - t_b, "load_writes_s": load_writes}

    marks.append(("setup", time.perf_counter()))
    ex = ql_executor.QueryExecutor(spark, database=db,
                                   metric="euclidean")
    qv = entry._query_vec(spark, data_dir, 0)
    eval_q = [(i, [float(x) for x in v])
              for i, v in enumerate(inp["eval_queries"])]

    def call_ql():
        df = ex.execute(QL, {"q": [float(x) for x in inp["note_query"]]})
        with tracer.span("ql.collect", "ql"):
            return df.collect()

    def call_hybrid():
        vec = knn.knn(table("embeddings"), qv, k=50, metric="cosine",
                      vector_col="embedding", id_col="vec_id").select(
            F.col("vec_id").alias("id"), "distance")
        bm = bm25.search(entry._BM25_QUERY, limit=50).select(
            F.col("doc_id").alias("id"), "score")
        return hybrid.rrf_fuse(vec, bm, limit=20)

    calls = {
        "ql.similar_to": call_ql,
        "knn.knn": lambda: qs["knn_prefilter"](spark, data_dir),
        "knn_arrow.search_local":
            lambda: bki.search_local(eval_q, k=10),
        "hybrid.rrf": call_hybrid,
        "dedup.minhash_lsh_candidates":
            lambda: qs["minhash_lsh_dedup"](spark, data_dir),
        "analytics.group_by": lambda: qs["agg_lineitem"](spark, data_dir),
    }

    def run_pass(record: dict, group: str | None):
        if group is not None:
            sc.setJobGroup(group, group)
        out, failed, t_p = {}, 0, time.perf_counter()
        for name in CALLS:
            t_c = time.perf_counter()
            try:
                with tracer.span(name, "session"):
                    res = calls[name]()
                    if hasattr(res, "collect"):
                        out[name] = (res.columns, [tuple(x) for x in
                                                   res.collect()])
                    else:
                        out[name] = res
            except Exception as e:  # a failed call is counted, not fatal
                failed += 1
                out[name] = e
            record.setdefault(name, []).append(time.perf_counter() - t_c)
        record.setdefault("pass", []).append(time.perf_counter() - t_p)
        if group is not None:
            jobs = sc.statusTracker().getJobIdsForGroup(group)
            stages = sum(len(sc.statusTracker().getJobInfo(j).stageIds)
                         for j in jobs)
            record.setdefault("jobs", []).append(len(jobs))
            record.setdefault("stages", []).append(stages)
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, failed

    # The untimed warm-up pass pays the session's one-time costs (Python
    # workers, code generation); timing it made the pass metrics swing
    # with host page-fault cost.  A traced run times one more untraced
    # pass as the baseline for the tracing overhead.
    run_pass({}, None)
    untraced: dict = {}
    if a.trace:
        run_pass(untraced, None)
        tracer.enabled = True
    timed: dict = {}
    attempted = failed = 0
    t_end = time.perf_counter() + a.seconds
    n = 0
    while time.perf_counter() < t_end or n < MIN_PASSES:
        out, f = run_pass(timed, f"perfbench-pass{n}" if a.trace else None)
        attempted += len(CALLS)
        failed += f
        n += 1
    tracer.enabled = False
    marks.append(("passes", time.perf_counter()))

    # correctness of the last pass, outside the timed window
    problems = [f"{k}: {v!r}" for k, v in out.items()
                if isinstance(v, Exception)]
    con = duckdb.connect()
    for t in ("embeddings", "documents", "lineitem"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(data_dir, t)}.parquet'")
    oracles = entry.oracle_sql()
    twins = {"knn.knn": "knn_prefilter", "hybrid.rrf": "hybrid_rrf",
             "dedup.minhash_lsh_candidates": "minhash_lsh_dedup",
             "analytics.group_by": "agg_lineitem"}
    for call, key in twins.items():
        if not isinstance(out[call], Exception):
            problems += check_twin(con, call, oracles[key], *out[call])
    if not isinstance(out["ql.similar_to"], Exception):
        problems += check_ql([r.asDict() for r in out["ql.similar_to"]],
                             inp, dead)
    recall = None
    if not isinstance(out["knn_arrow.search_local"], Exception):
        bad, recall = check_search_local(out["knn_arrow.search_local"], inp)
        problems += bad
    con.close()

    verify_yield = None
    if a.trace and not isinstance(out["dedup.minhash_lsh_candidates"],
                                  Exception):
        cand = dedup.minhash_lsh_candidates(
            table("documents"), id_col="doc_id", text_col="text", n=3,
            verify_threshold=None).count()
        verified = len(out["dedup.minhash_lsh_candidates"][1])
        verify_yield = verified / cand if cand else 0.0

    marks.append(("check", time.perf_counter()))
    common.write_json(os.path.join(a.run_dir, "result.json"), {
        "timeline_s": {b[0]: round(b[1] - a_[1], 2)
                       for a_, b in zip(marks, marks[1:])},
        **setup,
        "timed": timed,
        "untraced": untraced,
        "attempted": attempted,
        "failed": failed,
        "problems": problems,
        "recall_at_10": recall,
        "verify_yield": verify_yield,
        "rss_mb": common.peak_rss_mb(),
        "span_cost_us": spans.span_cost_us() if a.trace else None,
        "spans": tracer.dump(),
    })
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
