"""The benchmark's own tests.

    python -m pytest perfbench/tests -q

The generator tests are fast. The oracle test needs Spark and the testdata
directory the repository's tests use; the two end-to-end tests run the
benchmark command (about one and three minutes).
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pyarrow.parquet as pq
import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(ROOT / "tests"))

from perfbench import gen  # noqa: E402
from perfbench.run import E2E  # noqa: E402
from perfbench.trace import PER_LAYER  # noqa: E402

BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())


def _spatial(seed: int) -> dict:
    return gen.spatial_inputs(seed, n_points=500, n_polygons=4, n_vertices=16, n_queries=50)


# ---------------------------------------------------------------------------
# generators
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "make",
    [
        lambda s: gen.amplify(gen.base_documents(s, 300), 3, s),
        lambda s: gen.amplify(gen.base_documents(0, 100), 4, s),  # georef's inputs
        lambda s: gen.corpus_inputs(s, 300)[0],
        lambda s: gen.corpus_inputs(s, 300)[1],
        lambda s: _spatial(s)["points"],
        lambda s: _spatial(s)["polygons"],
        lambda s: _spatial(s)["queries"],
        lambda s: _spatial(s)["targets"],
    ],
)
def test_generators_are_seeded(make):
    assert make(7).equals(make(7))
    assert not make(7).equals(make(8))


def test_replica_zero_is_byte_identical():
    base = gen.base_documents(3, 200)
    amp = gen.amplify(base, 4, 3)
    assert amp.num_rows == 4 * base.num_rows
    assert amp.slice(0, base.num_rows).equals(base)
    assert gen.amplify(base, 1, 3).equals(base)
    # replicas shift ids past the base and prefix one word to the text
    tail = amp.slice(base.num_rows)
    assert min(tail.column("doc_id").to_pylist()) > max(base.column("doc_id").to_pylist())
    assert all(
        t.split(" ", 1)[1] == b
        for t, b in zip(tail.column("text").to_pylist()[:200], base.column("text").to_pylist())
    )


def test_shares_do_not_depend_on_seed():
    from collections import Counter

    def mix(s):
        docs = gen.base_documents(s, 1000)
        texts = docs.column("text").to_pylist()
        return Counter(docs.column("lang").to_pylist()), sum(t.endswith(" dup") for t in texts)

    assert mix(1) == mix(2) == mix(3)
    assert mix(1)[1] == 50
    assert len({len(gen.corpus_inputs(s, 2000)[2]) for s in (1, 2, 3)}) == 1


def test_ray_cast_matches_engine_kernel():
    import numpy as np

    from mass_georeferencing_spark.functions.geo import PreparedPolygon

    inp = _spatial(5)
    lon = inp["points"].column("lon").to_numpy()
    lat = inp["points"].column("lat").to_numpy()
    for ring in inp["rings"]:
        assert np.array_equal(gen.ray_cast(ring, lon, lat), PreparedPolygon([ring]).contains(lon, lat))


# ---------------------------------------------------------------------------
# georef at factor 1 equals the contract's DuckDB oracle (__spark_entry__)
# ---------------------------------------------------------------------------


def test_georef_factor_one_matches_flagship_oracle(tmp_path):
    from conftest import SF_DIR

    if not Path(SF_DIR, "documents.parquet").exists():
        pytest.skip(f"testdata not found at {SF_DIR}")
    from __spark_entry__ import oracle_sql
    from tools.parity import compare, duck_connect

    from mass_georeferencing_spark.plans.pipeline import flagship
    from mass_georeferencing_spark.session import get_spark

    base = pq.read_table(Path(SF_DIR, "documents.parquet"))
    gen.write_sf_dir(str(tmp_path), gen.amplify(base, 1, seed=11))
    for t in ("nation", "region"):
        assert pq.read_table(tmp_path / f"{t}.parquet").equals(pq.read_table(Path(SF_DIR, f"{t}.parquet")))

    spark = get_spark(master="local[4]", shuffle_partitions=4)
    try:
        got = flagship(spark, str(tmp_path)).toPandas()
    finally:
        spark.stop()
    want = duck_connect(SF_DIR).execute(oracle_sql()["j1_fuzzy_flagship"]).df()
    assert len(got) > 0
    assert compare("j1_fuzzy_flagship", got, want) == []


# ---------------------------------------------------------------------------
# the printed JSON
# ---------------------------------------------------------------------------


def test_benchmark_json_lists_every_metric():
    assert [(m["name"], m["unit"]) for m in BENCH["end_to_end"]] == list(E2E)
    assert [(m["name"], m["unit"]) for m in BENCH["per_layer"]] == list(PER_LAYER)
    assert "setup_s" in {m["name"] for m in BENCH["end_to_end"]}


def _run(cwd: Path, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


@pytest.mark.parametrize("trace, spec", [(0, "end_to_end"), (1, "per_layer")])
def test_printed_json_names_every_metric(trace, spec):
    p = _run(ROOT, "spatial", trace)
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in BENCH[spec]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    assert all(isinstance(v["value"], float) for v in out["metrics"].values())


def test_fails_without_the_package(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench")
    p = _run(tmp_path, "georef", 0)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
