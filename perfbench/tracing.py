"""Outside-in tracing for the traced runs.

Nothing here edits the program: spans come from wrapping the objects the
workloads hand to it (the pipeline's ``StageStore``) and from timing calls
into public functions; Spark-side counters come from the event log, parsed
per job group after the session stops; micro-batch timings come from a
``StreamingQueryListener``. Spans live in memory and are written out once
at the end.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from collections import defaultdict

from pyspark.sql.streaming import StreamingQueryListener


class Spans:
    """In-memory span list: name, start, end, parent id, attributes."""

    def __init__(self):
        self.rows: list[dict] = []

    def add(self, name: str, t0: float, t1: float, parent: int | None = None, **attrs) -> int:
        sid = len(self.rows)
        self.rows.append(
            {"id": sid, "parent": parent, "name": name, "t0": t0, "t1": t1, **attrs}
        )
        return sid

    def timed(self, name: str, fn, *args, **attrs):
        t0 = time.perf_counter()
        try:
            return fn(*args)
        finally:
            self.add(name, t0, time.perf_counter(), **attrs)

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the part covered by child
        spans (children of one span do not overlap here)."""
        child = defaultdict(float)
        for r in self.rows:
            if r["parent"] is not None:
                child[r["parent"]] += r["t1"] - r["t0"]
        out = defaultdict(float)
        for r in self.rows:
            out[r["name"]] += r["t1"] - r["t0"] - child[r["id"]]
        return dict(out)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for r in self.rows:
                f.write(json.dumps(r) + "\n")


class TracingStore:
    """Delegates every ``StageStore`` call to ``inner`` and records a span
    per call; the first call of each stage opens that stage's Spark job
    group, so every job the stage triggers (its write, the pipeline's
    metrics write and count, coref's eager checkpoint rounds) is
    attributed to it in the event log."""

    def __init__(self, inner, spark, spans: Spans):
        self.inner = inner
        self.sc = spark.sparkContext
        self.spans = spans
        self.stage: str | None = None

    def _call(self, op: str, name: str, *args):
        if name != self.stage:
            self.stage = name
            self.sc.setJobGroup(name, name)
        return self.spans.timed(f"store.{op}", getattr(self.inner, op), name, *args, stage=name)

    def manifest(self, name):
        return self._call("manifest", name)

    def write(self, name, df):
        return self._call("write", name, df)

    def write_metrics(self, name, df):
        return self._call("write_metrics", name, df)

    def read(self, name):
        return self._call("read", name)

    def commit_manifest(self, name, payload):
        return self._call("commit_manifest", name, payload)

    def location(self, name):
        return self.inner.location(name)


def clear_job_group(spark) -> None:
    spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    spark.sparkContext.setLocalProperty("spark.job.description", None)


class BatchListener(StreamingQueryListener):
    """Records each micro-batch's ``durationMs`` breakdown."""

    def __init__(self):
        self.batches: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        with self._lock:
            self.batches.append(
                {"batch": p.batchId, "rows": p.numInputRows, **dict(p.durationMs)}
            )

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def settle(self, timeout: float = 3.0) -> list[dict]:
        """Wait until no progress event has arrived for 0.3 s."""
        t_end = time.perf_counter() + timeout
        last = -1
        while time.perf_counter() < t_end:
            with self._lock:
                n = len(self.batches)
            if n == last:
                break
            last = n
            time.sleep(0.3)
        with self._lock:
            return list(self.batches)


# --------------------------------------------------------------------------
# event log
# --------------------------------------------------------------------------

_PY_SENT = "data sent to Python workers"
_PY_RETURNED = "data returned from Python workers"


def _plan_metrics(info: dict, out: dict) -> None:
    """accumulator id -> (node name, metric name) over a sparkPlanInfo tree."""
    for m in info.get("metrics", []):
        out[m["accumulatorId"]] = (info.get("nodeName", ""), m["name"])
    for c in info.get("children", []):
        _plan_metrics(c, out)


class GroupStats:
    def __init__(self):
        self.jobs = 0
        self.checkpoints = 0
        self.shuffle_write = 0
        self.spill = 0
        self.gc_ms = 0
        self.py_sent = 0
        self.py_returned = 0
        self.stage_tasks: dict[int, list[int]] = defaultdict(list)
        self.node_rows: dict[str, int] = defaultdict(int)

    @property
    def task_skew(self) -> float:
        """max / median task duration in the group's busiest Spark stage."""
        if not self.stage_tasks:
            return 0.0
        tasks = max(self.stage_tasks.values(), key=sum)
        return max(tasks) / max(statistics.median(tasks), 1)


def parse_event_log(log_dir: str) -> dict[str, GroupStats]:
    """Per Spark job group: jobs (and eager-checkpoint jobs), shuffle bytes
    written, spill, GC time, task durations per Spark
    stage, Python-exec bytes and output rows per plan node name. The log
    must be uncompressed (see ``harness.start_spark``)."""
    stats: dict[str, GroupStats] = defaultdict(GroupStats)
    stage_group: dict[int, str] = {}
    accum: dict[int, tuple[str, str]] = {}
    paths = glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
    for path in sorted(p for p in paths if os.path.isfile(p) and not p.endswith(".crc")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    g = props.get("spark.jobGroup.id")
                    if g is None:
                        continue
                    stats[g].jobs += 1
                    scope = json.loads(props.get("spark.rdd.scope") or "{}")
                    if scope.get("name") == "checkpoint":
                        stats[g].checkpoints += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, g)
                elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                    "SparkListenerSQLAdaptiveExecutionUpdate"
                ):
                    _plan_metrics(ev.get("sparkPlanInfo", {}), accum)
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev.get("Stage ID"))
                    if g is None:
                        continue
                    s = stats[g]
                    m = ev.get("Task Metrics") or {}
                    info = ev.get("Task Info") or {}
                    s.shuffle_write += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    s.spill += m.get("Disk Bytes Spilled", 0)
                    s.gc_ms += m.get("JVM GC Time", 0)
                    s.stage_tasks[ev["Stage ID"]].append(
                        info.get("Finish Time", 0) - info.get("Launch Time", 0)
                    )
                    for a in info.get("Accumulables", []):
                        name = a.get("Name", "")
                        upd = a.get("Update")
                        if not isinstance(upd, (int, float)):
                            try:
                                upd = int(upd)
                            except (TypeError, ValueError):
                                continue
                        if name == _PY_SENT:
                            s.py_sent += upd
                        elif name == _PY_RETURNED:
                            s.py_returned += upd
                        node = accum.get(a.get("ID"))
                        if node and node[1] == "number of output rows":
                            s.node_rows[node[0]] += upd
    return dict(stats)
