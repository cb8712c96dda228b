"""Measurement taken from outside the engine: output digests, the engine's
process tree read from /proc, Spark job/stage counts from the status
tracker, and per-job-group totals parsed from Spark's event log."""

from __future__ import annotations

import json
import os
from collections import defaultdict

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, FloatType

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_HASH_MOD = 2**31


# ---------------------------------------------------------------------------
# output check
# ---------------------------------------------------------------------------


def _hash_cols(df: DataFrame) -> list:
    out = []
    for f in df.schema.fields:
        c = F.col(f"`{f.name}`")
        t = f.dataType
        if isinstance(t, (DoubleType, FloatType)):
            c = F.round(c, 6)
        elif isinstance(t, ArrayType) and isinstance(t.elementType, (DoubleType, FloatType)):
            c = F.transform(c, lambda x: F.round(x, 6))
        out.append(c)
    return out


def digest(df: DataFrame) -> tuple[int, int]:
    """(row count, order-independent digest) in one aggregation job: the
    sum over rows of xxhash64(all columns, doubles rounded to 6 places),
    each hash reduced mod 2^31 first so the sum cannot overflow under ANSI
    arithmetic."""
    h = F.pmod(F.xxhash64(*_hash_cols(df)), F.lit(_HASH_MOD))
    row = df.select(h.alias("h")).agg(
        F.count(F.lit(1)).alias("n"), F.sum("h").alias("s")
    ).first()
    return int(row["n"]), int(row["s"] or 0)


# ---------------------------------------------------------------------------
# the engine's process tree (the JVM, the Python daemon and its workers)
# ---------------------------------------------------------------------------


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    # fields after "(comm)": state, ppid, ... (field 3 onwards of proc(5))
    return s[s.rindex(")") + 2 :].split()


def process_tree(root: int) -> list[int]:
    children: dict[int, list[int]] = defaultdict(list)
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields is not None:
                children[int(fields[1])].append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """utime + stime of every live process in the tree, plus the CPU its
    members' reaped children left behind (cutime + cstime)."""
    total = 0
    for pid in process_tree(root):
        fields = _stat_fields(pid)
        if fields is not None:
            total += sum(int(v) for v in fields[11:15])
    return total / _CLK_TCK


def hwm_mb(pid: int) -> float:
    """VmHWM (peak resident set) of one process, 0 if it has exited."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def tree_hwm_mb(root: int) -> float:
    """Sum of VmHWM over the live processes of the tree."""
    return sum(hwm_mb(pid) for pid in process_tree(root))


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


# ---------------------------------------------------------------------------
# job groups: status tracker counts and event-log totals
# ---------------------------------------------------------------------------


def job_counts(spark, group: str) -> tuple[int, int]:
    """(jobs, distinct stages) the status tracker recorded for a job group."""
    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages: set[int] = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    return len(jobs), len(stages)


# SQL metrics of the Python UDF / mapInPandas operators (milliseconds per
# task). "time to initialize Python workers" is left out: in the event log a
# task's value can exceed the task's own duration, so it does not measure
# time spent inside the task.
PYTHON_TIME = "time to run Python workers"
PYTHON_BYTES = "data sent to Python workers"
SHUFFLE_BYTES = "internal.metrics.shuffle.write.bytesWritten"


def event_log_by_group(log_dir: str) -> dict[str, dict[str, float]]:
    """Totals per job group from the uncompressed, non-rolling event log,
    summed over the task-end updates of the group's stages:

    - ``python_s``: time Python workers took to run, summed over tasks;
    - ``bytes_to_python``: "data sent to Python workers";
    - ``shuffle_bytes``: shuffle bytes written."""
    stage_group: dict[int, str] = {}
    stage_acc: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for name in os.listdir(log_dir):
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        # a stage runs in the first job that lists it; later
                        # jobs that list it skip it
                        for sid in ev.get("Stage IDs", ()):
                            stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    acc = stage_acc[ev["Stage ID"]]
                    for a in (ev.get("Task Info") or {}).get("Accumulables", ()):
                        if isinstance(a.get("Update"), (int, float, str)):
                            try:
                                acc[a.get("Name")] += float(a["Update"])
                            except ValueError:
                                pass
    out: dict[str, dict[str, float]] = defaultdict(
        lambda: {"python_s": 0.0, "bytes_to_python": 0.0, "shuffle_bytes": 0.0}
    )
    for sid, acc in stage_acc.items():
        group = stage_group.get(sid)
        if group is not None:
            g = out[group]
            g["python_s"] += acc.get(PYTHON_TIME, 0.0) / 1000.0
            g["bytes_to_python"] += acc.get(PYTHON_BYTES, 0.0)
            g["shuffle_bytes"] += acc.get(SHUFFLE_BYTES, 0.0)
    return dict(out)
