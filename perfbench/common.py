"""Shared helpers for the benchmark: seeded inputs, statistics, host
canary, process-tree memory and child-process management."""

from __future__ import annotations

import json
import os
import signal
import subprocess
import sys
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

DIMS = 128
N_CORPUS = 10_000
N_TAGS = 10          # one tag value per row: ~10% selectivity each


def cpus() -> int:
    """Cores this process may run on (`nproc` without OMP_NUM_THREADS)."""
    return len(os.sched_getaffinity(0))


# ------------------------------------------------------------ inputs --

def serving_corpus(seed: int, n: int = N_CORPUS):
    """Clustered sift-like corpus, held-out queries and per-row tags,
    all derived from `seed`."""
    from needle_spark.plans.ann_datasets import sift_like

    X, Q = sift_like(n, dims=DIMS, n_queries=1000, n_clusters=100,
                     seed=seed)
    rng = np.random.default_rng(seed + 7)
    tags = rng.integers(0, N_TAGS, n)
    ids = [f"v{i}" for i in range(n)]
    return X, Q, ids, [f"t{t}" for t in tags]


def exact_topk(X: np.ndarray, q: np.ndarray, k: int = 10):
    """Exact euclidean top-k over rows of X (float64): (idx, dist)."""
    d = np.sqrt(np.maximum(
        ((X.astype(np.float64) - q.astype(np.float64)) ** 2).sum(1), 0.0))
    idx = np.argsort(d, kind="stable")[:k]
    return idx, d[idx]


def recall_at_k(X: np.ndarray, ids: list, q: np.ndarray, got: list,
                k: int = 10) -> float:
    """Distance-threshold recall (ann-benchmarks): a returned id counts
    when its true distance is within the k-th true distance, so exact
    ties on integer-valued data are not misjudged."""
    if len(X) == 0:
        return 1.0
    idx, d = exact_topk(X, q, k)
    kth = d[min(k, len(d)) - 1] + 1e-6
    pos = {i: p for p, i in enumerate(ids)}
    hits = 0
    for g in got[:k]:
        p = pos.get(g)
        if p is None:
            continue
        dg = float(np.sqrt(((X[p].astype(np.float64)
                              - q.astype(np.float64)) ** 2).sum()))
        if dg <= kth:
            hits += 1
    return hits / min(k, len(X))


# --------------------------------------------------------- statistics --

def pct(values, p: float) -> float:
    """Linear-interpolated percentile (p in 0..100); nan when empty."""
    if not values:
        return float("nan")
    return float(np.percentile(np.asarray(values, dtype=np.float64), p))


def tail(values) -> tuple[float, float]:
    """(value, percentile) of the highest percentile that has at least
    ten samples beyond it; the maximum when there are ten or fewer
    samples."""
    n = len(values)
    if n == 0:
        return float("nan"), float("nan")
    s = sorted(values)
    if n <= 10:
        return float(s[-1]), 100.0
    return float(s[n - 11]), 100.0 * (n - 10) / n


def canary() -> dict:
    """Host-noise probe: first-touch memset (page-fault rate) and a warm
    in-cache sgemm (CPU sanity).  A co-tenant shows up as an off-scale
    value in the artifact, not as a metric."""
    t0 = time.perf_counter()
    a = np.empty(64 << 20, np.uint8)
    a.fill(1)
    memset_ms = (time.perf_counter() - t0) * 1000
    del a
    x = np.ones((20000, 200), np.float32)
    qm = np.ones((200, 8), np.float32)
    x @ qm
    t0 = time.perf_counter()
    for _ in range(10):
        x @ qm
    gemm_ms = (time.perf_counter() - t0) * 100
    return {"memset_64mb_ms": round(memset_ms, 2),
            "warm_gemm_ms": round(gemm_ms, 3)}


# ------------------------------------------------------------ memory --

def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except OSError:
        pass
    return out


def _peak_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> dict:
    """Peak resident memory (VmHWM), in MB, of this Python process and
    of the JVM it launched for Spark.  Spark's Python workers
    are left out; how many of them are alive at the end varies from run
    to run."""
    jvm = 0
    for c in _children(os.getpid()):
        try:
            with open(f"/proc/{c}/comm") as f:
                if f.read().strip() == "java":
                    jvm += _peak_kb(c)
        except OSError:
            continue
    return {"python": _peak_kb(os.getpid()) / 1024.0, "jvm": jvm / 1024.0}


# --------------------------------------------------- child processes --

def child_env(run_dir: str) -> dict:
    """Environment for a Spark-hosting child: parallelism from the core
    count (the session factory otherwise assumes 32 cores), the engine
    importable by Spark's Python workers, and every scratch file kept
    inside the run directory."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    env = dict(os.environ)
    env.pop("SPARK_MASTER", None)
    env.update({
        "SPARK_GRAFT_CPUS": str(cpus()),
        "PYTHONPATH": os.pathsep.join(
            [ROOT, HERE] + [p for p in env.get("PYTHONPATH", "").split(
                os.pathsep) if p]),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "NEEDLE_SPARK_DRIVER_MEM": "2g",
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYTHONHASHSEED": "0",
    })
    return env


def spawn(args: list[str], run_dir: str, log_name: str) -> subprocess.Popen:
    """Start a child in its own session (so its whole tree can be
    stopped), logging to the run directory."""
    log = open(os.path.join(run_dir, log_name), "wb")
    try:
        return subprocess.Popen(
            [sys.executable] + args, cwd=run_dir, env=child_env(run_dir),
            stdout=log, stderr=subprocess.STDOUT, start_new_session=True)
    finally:
        log.close()


def stop_group(proc: subprocess.Popen, grace_s: float = 30.0) -> None:
    """Ask the child to finish (SIGTERM), then make sure every process
    of its session has ended before returning."""
    pgid = proc.pid
    if proc.poll() is None:
        try:
            os.kill(proc.pid, signal.SIGTERM)
        except ProcessLookupError:
            pass
    try:
        proc.wait(timeout=grace_s)
    except subprocess.TimeoutExpired:
        pass
    deadline = time.monotonic() + 10.0
    sig = signal.SIGTERM
    while True:
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            break
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        time.sleep(0.2)
    if proc.poll() is None:
        proc.kill()
        proc.wait(timeout=10)


def read_json(path: str):
    with open(path) as f:
        return json.load(f)


def write_json(path: str, obj) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


def wait_for_file(path: str, proc: subprocess.Popen, timeout_s: float):
    """Block until `path` exists; raise if the child died or time ran
    out."""
    deadline = time.monotonic() + timeout_s
    while not os.path.exists(path):
        if proc.poll() is not None:
            raise RuntimeError(f"child exited with {proc.returncode} "
                               f"before writing {os.path.basename(path)}")
        if time.monotonic() > deadline:
            raise RuntimeError(f"timed out waiting for "
                               f"{os.path.basename(path)}")
        time.sleep(0.05)
    return read_json(path)
