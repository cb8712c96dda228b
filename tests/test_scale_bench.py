"""tools/scale_bench.py resume: every finished level lands in the partial
file, a rerun with the same settings runs only the levels missing from it,
and the file goes once the report is written."""

import json
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))

import scale_bench  # noqa: E402


def _result(cpus):
    wall = 40.0 / cpus
    return {"n_pages": 400, "queries": {"georeference_e2e": wall}, "pages_per_sec": 400 / wall}


def test_rerun_resumes_from_finished_levels(tmp_path, monkeypatch):
    monkeypatch.setattr(scale_bench, "BENCH_DIR", str(tmp_path))
    monkeypatch.setenv("SPARK_GRAFT_SCALE_LEVELS", "1,2,4")
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "/data/sf")
    ran = []

    def dies_at_4(cpus, *args):
        if cpus == 4:
            raise RuntimeError("restart")
        ran.append(cpus)
        return _result(cpus)

    monkeypatch.setattr(scale_bench, "run_bench", dies_at_4)
    with pytest.raises(RuntimeError):
        scale_bench.main()
    partial = tmp_path / scale_bench.PARTIAL
    assert sorted(json.loads(partial.read_text())["results"]) == ["1", "2"]

    # other settings do not reuse the levels recorded under the first ones
    assert scale_bench.load_partial(str(partial), {"sf_dir": "/data/sf", "factor": "2"}) == {}

    def runs(cpus, *args):
        ran.append(cpus)
        return _result(cpus)

    monkeypatch.setattr(scale_bench, "run_bench", runs)
    scale_bench.main()
    assert ran == [1, 2, 4]
    assert not partial.exists()
    assert "1->4 cores = 1.0" in (tmp_path / "scale_latest.md").read_text()
