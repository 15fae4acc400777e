"""Runs the engine's RestServer in its own process for the serving
workloads.

    python3 perfbench/launcher.py --run-dir DIR --trace 0|1

Reads the corpus the client generated (DIR/inputs.npz), starts Spark,
sets the collection `docs` up (create, bulk insert through the Python
API, build the serving index through POST /collections/docs/index) and
serves it.  Writes DIR/ready.json with the set-up timings once
serving, and on SIGTERM
stops the server and writes DIR/final.json: end-of-run index and
catalog state, the count seen by a fresh Database on the same root,
peak memory of the process tree and, with --trace 1, the spans.
SIGUSR1 switches span recording on.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import threading
import time

import common
import spans

TAG_FIELD = "tag"
INDEX_BODY = {"tier": "ivf", "codes": "sq8_cell", "meta_fields": [TAG_FIELD]}
WRITE_ROUTES = ("insert", "insert_batch", "delete")


def route_of(method: str, path: str, body) -> str:
    """Benchmark route name of one REST request."""
    if method == "POST" and path.endswith("/search"):
        return "search_filtered" if (body or {}).get("filter") else "search"
    if path.endswith("/search/batch"):
        return "search_batch"
    if method == "POST" and path.endswith("/vectors"):
        return "insert"
    if path.endswith("/vectors/batch"):
        return "insert_batch"
    if path.endswith("/vectors/delete-batch"):
        return "delete"
    return "other"


def install_tracing(tracer: spans.Tracer, spark, jobs_per_write: dict):
    """Wrap the public entry points of server, catalog, plans.ivf and
    filters; every span carries the request id of its dispatch."""
    from needle_spark import catalog, filters, server
    from needle_spark.operators import knn
    from needle_spark.plans.ivf import IvfBatchKnnIndex

    sc = spark.sparkContext
    dispatch = server.RestServer.dispatch

    def traced_dispatch(self, method, path, body, query):
        if not tracer.enabled:
            return dispatch(self, method, path, body, query)
        route = route_of(method, path, body)
        rid = query.get("rid")
        group = None
        if route in WRITE_ROUTES and rid is not None:
            group = f"perfbench-{rid}"
            sc.setJobGroup(group, group)
        try:
            with tracer.span(f"server.dispatch.{route}", "server", rid):
                return dispatch(self, method, path, body, query)
        finally:
            if group is not None:
                jobs_per_write[rid] = len(
                    sc.statusTracker().getJobIdsForGroup(group))
                sc.setLocalProperty("spark.jobGroup.id", None)

    server.RestServer.dispatch = traced_dispatch
    tracer.wrap(catalog.Database, "collection", "catalog", "catalog.open")
    for attr in ("insert", "upsert", "delete", "count", "df"):
        tracer.wrap(catalog.Collection, attr, "catalog", f"catalog.{attr}")
    tracer.wrap(IvfBatchKnnIndex, "search_one", "ivf",
                lambda a, kw: "ivf.search_one_filtered" if kw.get("where")
                else "ivf.search_one")
    for attr in ("search_many_local", "add_local", "add", "delete",
                 "merge_delta"):
        tracer.wrap(IvfBatchKnnIndex, attr, "ivf", f"ivf.{attr}")
    for mod in (filters, server, knn, catalog):
        if hasattr(mod, "compile_filter"):
            tracer.wrap(mod, "compile_filter", "filters", "filters.compile")


def manifest_state(path: str) -> dict:
    man = common.read_json(os.path.join(path, "manifest.json"))
    cur = man["versions"][str(man["version"])]
    disk = 0
    for d, _, files in os.walk(path):
        disk += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return {"segments": len(cur["segments"]),
            "tombstones": len(cur["tombstones"]),
            "versions": len(man["versions"]), "disk_bytes": disk}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()

    stop = threading.Event()
    tracer = spans.Tracer()
    signal.signal(signal.SIGTERM, lambda *_: stop.set())
    signal.signal(signal.SIGUSR1,
                  lambda *_: setattr(tracer, "enabled", True))

    import numpy as np
    import pandas as pd

    inputs = np.load(os.path.join(a.run_dir, "inputs.npz"))
    X, ids, tags = inputs["X"], list(inputs["ids"]), list(inputs["tags"])

    t0 = time.perf_counter()
    from needle_spark.catalog import Database
    from needle_spark.server import RestServer
    from needle_spark.session import get_spark

    spark = get_spark(app_name="perfbench-server", extra_conf={
        "spark.ui.showConsoleProgress": "false"})
    spark.range(1).collect()
    startup_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")

    root = os.path.join(a.run_dir, "db")
    db = Database(spark, root)
    srv = RestServer(db)
    jobs_per_write: dict = {}
    if a.trace:
        install_tracing(tracer, spark, jobs_per_write)

    t_r = time.perf_counter()
    st, out = srv.dispatch("POST", "/collections", {
        "name": "docs", "dimensions": common.DIMS,
        "distance": "euclidean"}, {})
    if st != 201:
        raise RuntimeError(f"create collection: {st} {out}")
    pdf = pd.DataFrame({
        "id": ids, "vector": list(X),
        "metadata": [json.dumps({TAG_FIELD: t}) for t in tags]})
    db.collection("docs").insert(spark.createDataFrame(
        pdf, "id string, vector array<float>, metadata string"))
    t_i = time.perf_counter()
    st, built = srv.dispatch("POST", "/collections/docs/index",
                             dict(INDEX_BODY), {})
    if st != 200:
        raise RuntimeError(f"build index: {st} {built}")
    setup = {"spark_startup_s": startup_s, "load_s": t_i - t_r,
             "index_s": time.perf_counter() - t_i}

    srv.start()
    host, port = srv._httpd.server_address[:2]
    common.write_json(os.path.join(a.run_dir, "ready.json"), {
        "host": host, "port": port, **setup,
        "index": {k: built.get(k) for k in
                  ("tier", "nlist", "nprobe", "codes")}})
    while not stop.wait(0.2):
        pass
    tracer.enabled = False
    srv.stop()

    idx = srv._indexes["docs"][0]
    istats = idx.incremental_stats()
    istats["auto_merges"] = getattr(idx, "_auto_merges", 0)
    fresh = Database(spark, root).collection("docs")
    final = {
        "index_stats": istats,
        "fresh_count": fresh.count(),
        "catalog": manifest_state(fresh.path),
        "rss_mb": common.peak_rss_mb(),
        "jobs_per_write": jobs_per_write,
        "span_cost_us": spans.span_cost_us() if a.trace else None,
        "spans": tracer.dump(),
    }
    common.write_json(os.path.join(a.run_dir, "final.json"), final)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
