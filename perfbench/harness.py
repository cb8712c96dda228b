"""Session lifetime and single executions, shared by the timed and the
traced runs."""

from __future__ import annotations

import os
import signal
import sys
import time
from pathlib import Path

GEN_REPEATS = 3  # input generation is the part of set-up cheap enough to repeat


def log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def start_session(work: Path, trace: bool):
    """A ``local[nproc]`` session whose scratch files stay under ``work``."""
    from mass_georeferencing_spark.session import get_spark

    cpus = len(os.sched_getaffinity(0))
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if trace:
        (work / "eventlog").mkdir(exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": (work / "eventlog").as_uri(),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark(
        master=f"local[{cpus}]", app_name="perfbench", shuffle_partitions=cpus, extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM and its Python workers have exited."""
    from pyspark import SparkContext

    from perfbench.measure import jvm_pid, process_tree

    if SparkContext._active_spark_context is None:
        return  # already stopped
    try:
        tree = process_tree(jvm_pid(spark))
    except Exception:  # the JVM may already be gone; nothing left to wait for
        tree = []
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 30
    for pid in tree:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.1)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass


def run_execution(spark, wl, group: str):
    """One execution under its own job group: build the plan and consume
    every output. Returns (frames, {output: (rows, digest)}); the caller
    drops the caches the plan persisted."""
    from perfbench.measure import digest

    spark.sparkContext.setJobGroup(group, f"{wl.name} {group}")
    frames = wl.execute(spark)
    return frames, {k: digest(frames[k]) for k in wl.outputs}


def prepare_inputs(wl, work: Path, seed: int) -> list[float]:
    """Generate the inputs ``GEN_REPEATS`` times (the same seed gives the
    same bytes); returns each generation's time."""
    times = []
    for _ in range(GEN_REPEATS):
        t = time.perf_counter()
        wl.prepare(str(work), seed)
        times.append(time.perf_counter() - t)
    return times


def warm_up(spark, wl, group: str = "warmup") -> dict:
    """The untimed first ``wl.warmups`` executions. The first one's outputs
    are checked against the generator's facts and become the reference
    digests; later warm-ups must reproduce them."""
    frames, ref = run_execution(spark, wl, group)
    errors = wl.check(spark, frames)
    spark.catalog.clearCache()
    for i in range(1, wl.warmups):
        got = run_execution(spark, wl, f"{group}-{i}")[1]
        spark.catalog.clearCache()
        if got != ref:
            errors.append(f"warm-up {i} outputs {got} differ from {ref}")
    if errors:
        raise RuntimeError("warm-up output check failed: " + "; ".join(errors))
    log(f"{wl.name} warm-up outputs {ref}")
    return ref
