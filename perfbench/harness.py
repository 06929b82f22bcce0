"""Process-level plumbing shared by the workloads: the Spark session, the
work directory, the resident-memory sampler, timing windows and
order-insensitive output digests."""

from __future__ import annotations

import hashlib
import os
import shutil
import statistics
import subprocess
import threading
import time

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)

#: threads a numeric library may use inside one Python worker
_ONE_THREAD = (
    "OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
    "NUMEXPR_NUM_THREADS", "VECLIB_MAXIMUM_THREADS",
)


def n_cores() -> int:
    return len(os.sched_getaffinity(0))


def make_workdir(workload: str, seed: int) -> str:
    """A fresh per-process directory under the benchmark's own ``_work``;
    temp files, Spark local dirs, inputs and outputs all land here."""
    path = os.path.join(BENCH_DIR, "_work", f"{workload}-s{seed}-p{os.getpid()}")
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(os.path.join(path, "tmp"))
    os.environ["TMPDIR"] = os.path.join(path, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(path, "tmp")
    for k in _ONE_THREAD:
        os.environ[k] = "1"
    # the same string hashing in every Python worker, run after run
    os.environ["PYTHONHASHSEED"] = "0"
    # driver heap: the benchmark shares its machine; the default is 8g
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    # Python workers import the program's UDF modules from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    return path


def start_spark(work: str, event_log_dir: str | None = None):
    """``session.get_spark`` on ``local[<cores>]``, numeric libraries pinned
    to one thread per Python worker, every scratch path inside ``work``."""
    from dygiepp_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    conf = {f"spark.executorEnv.{k}": "1" for k in _ONE_THREAD}
    conf.update(
        {
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        }
    )
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = event_log_dir
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    spark = get_spark("perfbench", master=f"local[{n_cores()}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(8).count()  # first job: executor + codegen bootstrap
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the gateway JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


# --------------------------------------------------------------------------
# process tree: resident memory and CPU
# --------------------------------------------------------------------------

def _tree_pids(root: int) -> list[tuple[int, int]]:
    """(pid, parent pid) of ``root`` and all its descendants."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [(root, 0)]
    while todo:
        pid, ppid = todo.pop()
        out.append((pid, ppid))
        todo.extend((k, pid) for k in kids.get(pid, ()))
    return out


def tree_rss_mb() -> float:
    """Resident memory of the process tree. A child whose memory counters
    equal its parent's is a clone that has not exec'd yet (the JVM spawns
    helpers that share its address space until exec): it is not counted
    again."""
    page = os.sysconf("SC_PAGE_SIZE")
    statm: dict[int, str] = {}
    tree = _tree_pids(os.getpid())
    for pid, _ in tree:
        try:
            with open(f"/proc/{pid}/statm") as f:
                statm[pid] = f.read()
        except OSError:
            continue
    total = 0
    for pid, ppid in tree:
        if pid in statm and statm[pid] != statm.get(ppid):
            total += int(statm[pid].split()[1]) * page
    return total / 2**20


def tree_cpu_s() -> float:
    """User + system CPU of the process tree, reaped children included."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid, _ in _tree_pids(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            total += sum(int(x) for x in fields[11:15])
        except (OSError, IndexError, ValueError):
            continue
    return total / tick


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    driver JVM and the Python workers), sampled every ``period`` seconds
    while the ``with`` block runs: wrap the timed runs only, so the
    benchmark's own output checks do not count."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_mb = max(self.peak_mb, tree_rss_mb())


# --------------------------------------------------------------------------
# timing and results
# --------------------------------------------------------------------------

def window(seconds: float, fn, min_runs: int = 1) -> list:
    """Call ``fn(i)`` for complete runs until ``seconds`` have elapsed and
    at least ``min_runs`` runs are done; returns the results."""
    out = []
    t_end = time.perf_counter() + seconds
    while len(out) < min_runs or time.perf_counter() < t_end:
        out.append(fn(len(out)))
    return out


def median(xs) -> float:
    return float(statistics.median(xs))


def p90(xs) -> float:
    xs = sorted(xs)
    if len(xs) == 1:
        return float(xs[0])
    return float(statistics.quantiles(xs, n=10, method="inclusive")[-1])


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


# --------------------------------------------------------------------------
# order-insensitive digests of parquet outputs
# --------------------------------------------------------------------------

def read_frame(path: str) -> pd.DataFrame:
    return pq.read_table(path).to_pandas()


def _hashable(df: pd.DataFrame, float_digits: int) -> pd.DataFrame:
    out = {}
    for c in sorted(df.columns):
        s = df[c]
        if s.dtype.kind == "f":
            s = s.round(float_digits)
        elif s.dtype == object:
            s = s.map(lambda v: v if v is None or isinstance(v, str) else repr(v))
        out[c] = s
    return pd.DataFrame(out)


def row_hashes(df: pd.DataFrame, float_digits: int = 9) -> np.ndarray:
    """One uint64 per row over all columns (name-sorted); floats rounded so
    summation-order noise in the last bits does not count as a change."""
    if df.empty:
        return np.zeros(0, dtype=np.uint64)
    return pd.util.hash_pandas_object(
        _hashable(df, float_digits), index=False
    ).to_numpy(np.uint64)


def frame_digest(df: pd.DataFrame, float_digits: int = 9) -> str:
    """Digest of the multiset of rows, independent of row order."""
    h = hashlib.sha256(np.sort(row_hashes(df, float_digits)).tobytes())
    h.update(",".join(sorted(df.columns)).encode())
    return h.hexdigest()[:16]
