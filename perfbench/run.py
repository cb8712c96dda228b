"""Benchmark entry point.

    python3 perfbench/run.py --workload {georef,spatial,corpus_prep} \\
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. Generates the workload's inputs from the
seed inside ``.perfbench_work/``, starts a ``local[nproc]`` session through
``session.get_spark``, runs one untimed warm-up (whose outputs are checked
against the generator's own facts), then times executions one after another
(a closed loop with one client) until ``--seconds`` have passed; at least one
execution is always timed. Every execution must reproduce the warm-up's row
counts and digests, or it counts as failed.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` makes the
separate traced run (perfbench/trace.py) and prints the per-layer metrics.
The last line of stdout is one JSON object; progress goes to stderr.
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parents[1]
# (name, unit) of every end-to-end metric, in BENCHMARK.json order
E2E = (
    ("setup_s", "s"),
    ("wall_s", "s"),
    ("rows_per_s", "1/s"),
    ("cpu_s", "s"),
    ("peak_rss_mb", "MB"),
)


def _process_age_s() -> float:
    """Seconds since this process started (clock-tick resolution)."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - int(fields[19]) / os.sysconf("SC_CLK_TCK")


_AGE0 = _process_age_s() - (time.perf_counter() - _T0)  # process age at _T0


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("georef", "spatial", "corpus_prep"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def timed_runs(spark, wl, ref: dict, seconds: float) -> dict:
    from perfbench.harness import log, run_execution
    from perfbench.measure import hwm_mb, job_counts, jvm_pid, process_tree, tree_cpu_s, tree_hwm_mb

    root = jvm_pid(spark)
    walls, cpus, counts = [], [], []
    attempted = failed = 0
    end = time.perf_counter() + seconds
    while attempted == 0 or time.perf_counter() < end:
        attempted += 1
        group = f"exec-{attempted}"
        c0, t0 = tree_cpu_s(root), time.perf_counter()
        try:
            got = run_execution(spark, wl, group)[1]
        except Exception:
            traceback.print_exc()
            got = None
        t1, c1 = time.perf_counter(), tree_cpu_s(root)
        spark.catalog.clearCache()
        if got != ref:
            failed += 1
            log(f"{group}: FAILED, outputs {got} != warm-up {ref}")
            continue
        walls.append(t1 - t0)
        cpus.append(c1 - c0)
        counts.append(job_counts(spark, group))
        log(f"{group}: wall {t1 - t0:.3f}s cpu {c1 - c0:.2f}s (jobs, stages) {counts[-1]}")
    if len(set(counts)) > 1:
        log(f"(jobs, stages) differ between executions: {counts}")
    log(f"VmHWM MB by process: {[round(hwm_mb(p)) for p in process_tree(root)]}")
    return {
        "attempted": attempted,
        "failed": failed,
        "walls": walls,
        "cpus": cpus,
        "peak_rss_mb": tree_hwm_mb(root),
    }


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not (ROOT / "mass_georeferencing_spark" / "__init__.py").is_file():
        print(f"perfbench: no mass_georeferencing_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    # Python workers import the package only when the checkout is on their path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    # A heap the workloads fill early: the JVM's resident set then stops
    # depending on when G1 decides to grow the heap, which keeps peak_rss_mb
    # steady from run to run.
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"

    from perfbench import harness
    from perfbench.workloads import WORKLOADS

    wl = WORKLOADS[args.workload]()
    spark = None
    try:
        t = time.perf_counter()
        spark = harness.start_session(work, bool(args.trace))
        session_s = time.perf_counter() - t
        harness.log(f"session started in {session_s:.2f}s")
        gen_times = harness.prepare_inputs(wl, work, args.seed)
        gen_s = statistics.median(gen_times)
        harness.log(f"inputs: {wl.rows} rows, generated in {gen_s:.2f}s (median of {len(gen_times)})")
        if args.trace:
            from perfbench.trace import traced_run

            metrics, attempted, failed = traced_run(spark, wl, session_s, work, args.seed)
        else:
            t = time.perf_counter()
            ref = harness.warm_up(spark, wl)
            warm_s = time.perf_counter() - t
            # process start to the first timed execution, with the repeated
            # input generation counted once, at its median
            setup_s = _AGE0 + (t - _T0) - sum(gen_times) + gen_s + warm_s
            r = timed_runs(spark, wl, ref, args.seconds)
            if not r["walls"]:
                raise RuntimeError(f"all {r['attempted']} executions failed")
            harness.log(f"walls {[round(w, 3) for w in r['walls']]}")
            wall = statistics.median(r["walls"])
            attempted, failed = r["attempted"], r["failed"]
            values = {
                "setup_s": setup_s,
                "wall_s": wall,
                "rows_per_s": wl.rows / wall,
                "cpu_s": statistics.median(r["cpus"]),
                "peak_rss_mb": r["peak_rss_mb"],
            }
            metrics = {name: {"value": float(values[name]), "unit": unit} for name, unit in E2E}
    finally:
        if spark is not None:
            harness.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()  # only if no other run is using it
        except OSError:
            pass
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
