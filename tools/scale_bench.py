"""Scaling-efficiency evidence (BASELINE.json north rule): run the IDENTICAL
job on the IDENTICAL input at multiple parallelism levels (local[N] cores
stand in for N executors in this single-node sandbox), report throughput at
each plus every N→4N efficiency = (pps_4N / pps_N) / 4, and write
BENCH/scale_latest.md.

Each level is a fresh subprocess (fresh JVM) so no cache/JIT state leaks
between parallelism levels. Within a level, bench.py's steady-state protocol
times SPARK_GRAFT_SCALE_BENCH_REPEATS runs (default 3) after one warmup and
reports the median with every sample listed — this VM shows up to ~2x
run-to-run variance, so gate-bearing numbers carry their samples.

Each finished level is written to BENCH/scale_partial.json at once. A rerun
with the same sf_dir, factor and repeat settings takes the levels recorded
there instead of running them again, so a chain cut by a restart resumes at
its first unfinished level; the file is deleted once BENCH/scale_latest.md
is written.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH_DIR = os.path.join(REPO, "BENCH")
PARTIAL = "scale_partial.json"


def load_partial(path: str, settings: dict) -> dict[int, dict]:
    """The per-level results a previous run with the same ``settings`` left
    at ``path``; none when the file is missing or was made with others."""
    try:
        with open(path) as fh:
            saved = json.load(fh)
    except FileNotFoundError:
        return {}
    if saved.get("settings") != settings:
        return {}
    return {int(c): r for c, r in saved["results"].items()}


def save_partial(path: str, settings: dict, results: dict[int, dict]) -> None:
    """Write the finished levels; the rename keeps a cut write from leaving
    a truncated file behind."""
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump({"settings": settings, "results": results}, fh)
    os.replace(tmp, path)


def run_bench(cpus: int, sf_dir: str, only: str, factor: str, bench_repeats: int,
              repeats: int = 1) -> dict:
    results = []
    for _ in range(repeats):
        env = dict(
            os.environ,
            SPARK_GRAFT_CPUS=str(cpus),
            SPARK_GRAFT_SF_DIR=sf_dir,
            SPARK_GRAFT_BENCH_ONLY=only,
            SPARK_GRAFT_BENCH_FACTOR=factor,
            SPARK_GRAFT_BENCH_GAZ_FACTOR=factor,
            SPARK_GRAFT_BENCH_REPEATS=str(bench_repeats),
        )
        out = subprocess.run(
            [sys.executable, os.path.join(REPO, "bench.py")],
            env=env,
            capture_output=True,
            text=True,
            timeout=7200,
        )
        line = out.stdout.strip().splitlines()[-1]
        results.append(json.loads(line))
    if len(results) == 1:
        return results[0]
    # multiple fresh-JVM runs: MERGE every steady sample across runs and take
    # the median of all of them — never a silent best-of selection (the md
    # claims every sample is listed, so every sample must count). Cold
    # (first-run) walls get the same treatment: one per JVM, all listed,
    # median reported (ADVICE r4: results[0]'s cold number alone misstated
    # the evidence as single-JVM).
    base = dict(results[0])
    merged_samples: dict[str, list[float]] = {}
    for name in base["queries"]:
        merged_samples[name] = sorted(
            s
            for r in results
            for s in r.get("query_samples", {}).get(name, [r["queries"][name]])
        )

    def _median(v: list[float]) -> float:
        n = len(v)
        return v[n // 2] if n % 2 else round((v[n // 2 - 1] + v[n // 2]) / 2, 3)

    base["queries"] = {n: _median(v) for n, v in merged_samples.items()}
    base["query_samples"] = merged_samples
    cold_names = set().union(*(r.get("cold_queries", {}) for r in results))
    base["cold_samples"] = {
        n: sorted(r["cold_queries"][n] for r in results if n in r.get("cold_queries", {}))
        for n in cold_names
    }
    base["cold_queries"] = {n: _median(v) for n, v in base["cold_samples"].items()}
    base["value"] = round(sum(base["queries"].values()), 3)
    e2e = base["queries"].get("georeference_e2e")
    if e2e:
        base["pages_per_sec"] = round(base["n_pages"] / e2e, 1)
    return base


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # factor 96 (480k pages): big enough that steady-state compute dominates
    # the ~0.3-0.5s/stage barrier overhead of the ~30-stage DAG — at the old
    # factor 24 the post-round-3 kernels finish the whole pipeline in seconds
    # and the fixed component swamps the scaling signal (Amdahl; NOTES.md).
    factor = os.environ.get("SPARK_GRAFT_BENCH_FACTOR", "96")
    only = "georeference_e2e"
    repeats = int(os.environ.get("SPARK_GRAFT_SCALE_REPEATS", "1"))
    bench_repeats = int(os.environ.get("SPARK_GRAFT_SCALE_BENCH_REPEATS", "3"))
    # the default levels fit a 4-core host without oversubscribing it; its one
    # N->4N pairing is 1->4 (set the levels for a bigger host)
    levels = tuple(
        int(x) for x in os.environ.get("SPARK_GRAFT_SCALE_LEVELS", "1,2,4").split(",")
    )

    t0 = time.time()
    os.makedirs(BENCH_DIR, exist_ok=True)
    partial = os.path.join(BENCH_DIR, PARTIAL)
    settings = {"sf_dir": sf_dir, "factor": factor, "repeats": repeats,
                "bench_repeats": bench_repeats}
    done = load_partial(partial, settings)
    results = {}
    for cpus in levels:
        if cpus in done:
            print(f"local[{cpus}]: resumed from {partial}", file=sys.stderr)
            results[cpus] = done[cpus]
            continue
        results[cpus] = run_bench(cpus, sf_dir, only, factor, bench_repeats, repeats)
        done[cpus] = results[cpus]
        save_partial(partial, settings, done)
    pairs = [(n, 4 * n) for n in levels if 4 * n in results]
    effs = {
        f"{n}->{m}": round((results[m]["pages_per_sec"] / results[n]["pages_per_sec"]) / 4.0, 3)
        for n, m in pairs
    }
    # Honest headline pairings (BENCH/BASELINE.md): the low-core pairings are
    # the executor-scaling proxies; 8->32 shares one socket's DRAM bandwidth
    # across all 32 workers (a real 4N cluster brings 4x bandwidth) and is
    # published as the documented artifact it is, not as the gate number.
    gate_pairing = next((p for p in ("4->16", "2->8", "1->4") if p in effs), None)

    def samples_of(r: dict) -> list[float]:
        return r.get("query_samples", {}).get("georeference_e2e", [r["queries"]["georeference_e2e"]])

    def cold_of(r: dict):
        cs = r.get("cold_samples", {}).get("georeference_e2e")
        if cs:  # merged multi-JVM run: list every JVM's first-run wall
            return cs
        return r.get("cold_queries", {}).get("georeference_e2e", "-")

    rows = "\n".join(
        f"| local[{c}] | {r['n_pages']} | {r['queries']['georeference_e2e']} | "
        f"{samples_of(r)} | "
        f"{cold_of(r)} | {r['pages_per_sec']} |"
        for c, r in sorted(results.items())
    )
    eff_str = "; ".join(f"{k} cores = {v}" for k, v in effs.items())
    md = f"""# BENCH — scaling-efficiency evidence (N vs 4N)

Generated by `tools/scale_bench.py` on the deterministic amplified workload
(`bench.py`, pages+gazetteer factor={factor}) at `{sf_dir}` — same job, same
input, at parallelism levels {levels}, per the north rule's two-cluster-size
criterion (each N vs 4N core pairing stands in for N vs 4N executors in this
single-node sandbox; the low-core pairings are the honest proxies — see the
DRAM caveat below). Per level: {repeats} fresh JVM run(s), each doing one
untimed warmup then {bench_repeats} timed steady-state runs — the median of
ALL samples is the headline and every sample is listed (this VM shows up to
~2x run-to-run variance).

| parallelism | pages | e2e median wall (s) | steady samples (s) | e2e first-run wall per JVM (s) | pages/sec |
|---|---|---|---|---|---|
{rows}

**Scaling efficiency N→4N (steady-state medians): {eff_str}**
(target ≥ 0.8 per BASELINE.json; the gate pairing is {gate_pairing} — the
low-core pairings measure engine scaling, 8->32 measures this box's shared
DRAM. Timings are the steady-state protocol — see BENCH/BASELINE.md round-3
note — so they measure the engine, not this VM's python-worker spawn latency;
first-run walls shown alongside.)

Caveat recorded honestly: all parallelism levels share ONE machine's memory
bandwidth, so the 4N level here fights the same DRAM the N level had to itself
— a real 4N-executor cluster brings 4x bandwidth with it. The vectorized fuzzy
kernel is bandwidth-bound at high core counts (chunked to stay L2-resident;
see operators/fuzzy_join.py); the 4→16 pairing is the closer proxy for
executor scaling.

Workload: full georeference pipeline — geoparse → record groups → blocked fuzzy
join (vectorized Arrow scoring, dedup-before-score, thresholded pair broadcast)
→ top-50 window → EAV melt → mean → prune → tile assignment. Timed with the
noop sink (full execution, no driver collect).
"""
    # BENCH/BASELINE.md is the curated evidence document; raw reruns land here:
    with open(os.path.join(BENCH_DIR, "scale_latest.md"), "w") as fh:
        fh.write(md)
    os.remove(partial)
    print(json.dumps({
        "pages_per_sec": {c: r["pages_per_sec"] for c, r in sorted(results.items())},
        "samples": {c: samples_of(r) for c, r in sorted(results.items())},
        # named keys so an automated consumer can't mistake the DRAM-artifact
        # pairing for the gate number (ADVICE r3)
        "efficiency_gate_pairing": gate_pairing,
        "efficiency_gate": effs.get(gate_pairing),
        "efficiency_8_32_dram_artifact": effs.get("8->32"),
        "efficiencies": effs,
        "wall_s": round(time.time() - t0, 1),
    }))


if __name__ == "__main__":
    main()
