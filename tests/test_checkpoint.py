"""Checkpoint/resume tests: kill-and-resume recomputes nothing committed;
lineage change invalidates downstream stages (north rule O8)."""

import os

from mass_georeferencing_spark.plans.checkpoint import (
    CheckpointRunner,
    input_path_fingerprint,
    run_georeference_checkpointed,
)
from mass_georeferencing_spark.plans.pipeline import georeference
from mass_georeferencing_spark.sources import synthetic as syn

from conftest import SF_DIR


def test_resume_skips_committed_stages(spark, tmp_path):
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(10).withColumnRenamed("id", "x")

    ck1 = CheckpointRunner(spark, str(tmp_path), "r1")
    df1 = ck1.run_stage("s1", build)
    assert df1.count() == 10
    assert calls["n"] == 1
    assert ck1.stages_built == ["s1"]

    # simulate a restart: fresh runner over the same dir
    ck2 = CheckpointRunner(spark, str(tmp_path), "r1")
    df2 = ck2.run_stage("s1", build)
    assert df2.count() == 10
    assert calls["n"] == 1  # ZERO recomputation
    assert ck2.stages_skipped == ["s1"]


def test_lineage_invalidation(spark, tmp_path):
    ck = CheckpointRunner(spark, str(tmp_path), "r2")
    ck.run_stage("up", lambda: spark.range(3))
    calls = {"n": 0}

    def build_down():
        calls["n"] += 1
        return spark.range(5)

    ck.run_stage("down", build_down, upstream=["up"])
    assert calls["n"] == 1

    # restart with unchanged upstream → skip
    ck2 = CheckpointRunner(spark, str(tmp_path), "r2")
    ck2.run_stage("up", lambda: spark.range(3))
    ck2.run_stage("down", build_down, upstream=["up"])
    assert calls["n"] == 1

    # restart with CHANGED upstream input → downstream rebuilds
    ck3 = CheckpointRunner(spark, str(tmp_path), "r2")
    ck3.run_stage(
        "up",
        lambda: spark.range(4).withColumnRenamed("id", "y"),
        input_fingerprint="v2",
    )
    assert ck3.stages_built == ["up"]
    ck3.run_stage("down", build_down, upstream=["up"])
    assert calls["n"] == 2


def test_manifest_metrics(spark, tmp_path):
    ck = CheckpointRunner(spark, str(tmp_path), "r3")
    ck.run_stage(
        "part",
        lambda: spark.createDataFrame([(1, "a"), (2, "a"), (3, "b")], ["x", "k"]),
        partition_by="k",
    )
    m = ck.metrics()["part"]
    assert m["committed"] is True
    assert m["partition_counts"] == {"a": 2, "b": 1}
    assert m["row_count"] == 3
    assert "schema" in m and "wall_s" in m


def _checkpointed(spark, base_dir):
    return run_georeference_checkpointed(
        syn.mentions_df(spark, SF_DIR),
        syn.gazetteer_df(spark, SF_DIR),
        base_dir,
        input_path_fingerprint(SF_DIR),
        "pipe",
    )


def test_pipeline_kill_and_resume(spark, tmp_path):
    kept1, ck1 = _checkpointed(spark, str(tmp_path))
    n1 = kept1.count()
    assert n1 > 0
    assert set(ck1.stages_built) == {"groups", "candidates", "top", "kept"}

    kept2, ck2 = _checkpointed(spark, str(tmp_path))
    assert ck2.stages_built == []
    assert set(ck2.stages_skipped) == {"groups", "candidates", "top", "kept"}
    assert kept2.count() == n1


def test_checkpointed_equals_in_memory(spark, tmp_path):
    # the checkpoint runner wraps the same chain: spatial scoring included
    cols = ["recgroup_id", "uid", "data_source", "mean_score", "score_spatial"]
    kept, _ = _checkpointed(spark, str(tmp_path))
    got = sorted(map(tuple, kept.select(*cols).collect()))
    want = sorted(map(tuple, georeference(spark, SF_DIR)["kept"].select(*cols).collect()))
    assert got == want


def test_pipeline_partial_resume(spark, tmp_path):
    _checkpointed(spark, str(tmp_path))
    os.remove(os.path.join(str(tmp_path), "pipe", "kept", "_mgs_manifest.json"))
    kept, ck = _checkpointed(spark, str(tmp_path))
    assert ck.stages_built == ["kept"]
    assert set(ck.stages_skipped) == {"groups", "candidates", "top"}
    assert kept.count() > 0


def test_input_fingerprint_invalidates_on_data_change(spark, tmp_path):
    from mass_georeferencing_spark.plans.checkpoint import input_path_fingerprint

    src = tmp_path / "src"
    src.mkdir()
    (src / "part-0.parquet").write_bytes(b"aaaa")
    fp1 = input_path_fingerprint(str(src))
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(3)

    ck = CheckpointRunner(spark, str(tmp_path), "r3")
    ck.run_stage("src", build, input_fingerprint=fp1)
    assert calls["n"] == 1

    # same data → resume skips
    ck2 = CheckpointRunner(spark, str(tmp_path), "r3")
    ck2.run_stage("src", build, input_fingerprint=input_path_fingerprint(str(src)))
    assert calls["n"] == 1

    # changed data → rebuild (size change; mtime alone also flips the hash)
    (src / "part-0.parquet").write_bytes(b"bbbbbb")
    ck3 = CheckpointRunner(spark, str(tmp_path), "r3")
    ck3.run_stage("src", build, input_fingerprint=input_path_fingerprint(str(src)))
    assert calls["n"] == 2


def test_iceberg_catalog_absent_routes_to_manifest_fallback(spark, tmp_path):
    from mass_georeferencing_spark.plans import checkpoint as cp

    # this sandbox has no Iceberg catalog configured -> detection is False and
    # the runner takes the parquet+manifest path (proven by the tests above)
    assert cp.iceberg_catalog_available(spark) is False
    ck = CheckpointRunner(spark, str(tmp_path), "ice0")
    assert ck.use_iceberg is False
    out = ck.run_stage("s", lambda: spark.range(2))
    assert out.count() == 2 and ck.stages_built == ["s"]


class _WriterRecorder:
    """Mock of the DataFrameWriterV2 chain (writeTo().option().append/create)."""

    def __init__(self, log):
        self.log = log
        self.options = {}

    def option(self, k, v):
        self.options[k] = v
        return self

    def partitionedBy(self, col):
        self.log.append(("partitionedBy", str(col)))
        return self

    def append(self):
        self.log.append(("append", dict(self.options)))

    def create(self):
        self.log.append(("create", dict(self.options)))


class _FakeDF:
    def __init__(self, spark_stub):
        self.sparkSession = spark_stub

    def writeTo(self, table):
        self.sparkSession.log.append(("writeTo", table))
        return _WriterRecorder(self.sparkSession.log)


class _FakeSpark:
    def __init__(self, exists):
        self.log = []
        self.catalog = self
        self._exists = exists

    def tableExists(self, name):
        return self._exists


def test_write_stage_iceberg_surface_via_mock():
    from mass_georeferencing_spark.plans.checkpoint import write_stage_iceberg

    # first write: table absent -> create(), partitioning applied, every
    # lineage entry a snapshot-property option
    s = _FakeSpark(exists=False)
    write_stage_iceberg(
        _FakeDF(s), "cat.ns.run_top", {"mgs-stage": "top", "mgs-lineage.groups": "abc"},
        partition_by="lang",
    )
    assert s.log[0] == ("writeTo", "cat.ns.run_top")
    assert ("partitionedBy", "Column<'lang'>") in s.log
    kind, opts = s.log[-1]
    assert kind == "create"
    assert opts == {
        "snapshot-property.mgs-stage": "top",
        "snapshot-property.mgs-lineage.groups": "abc",
    }

    # subsequent write: table exists -> append() with the same properties
    s2 = _FakeSpark(exists=True)
    write_stage_iceberg(_FakeDF(s2), "cat.ns.run_top", {"mgs-stage": "top"})
    kind2, opts2 = s2.log[-1]
    assert kind2 == "append"
    assert opts2 == {"snapshot-property.mgs-stage": "top"}


def test_iceberg_runner_resume_routing(spark, tmp_path, monkeypatch):
    from mass_georeferencing_spark.plans import checkpoint as cp

    built, written = [], []
    monkeypatch.setattr(
        cp, "write_stage_iceberg", lambda df, t, props, pb=None: written.append((t, props))
    )
    # snapshot summaries the 'catalog' would return per table
    summaries = {}
    monkeypatch.setattr(
        cp, "read_stage_lineage_iceberg", lambda sp, t: summaries.get(t)
    )
    monkeypatch.setattr(
        type(spark), "table", lambda self, t: spark.range(1), raising=False
    )

    ck = CheckpointRunner(spark, str(tmp_path), "icer")
    ck.use_iceberg = True  # force the routing (no real catalog here)

    def build():
        built.append(1)
        return spark.range(1)

    ck.run_stage("groups", build, input_fingerprint="fp0")
    assert built == [1] and ck.stages_built == ["groups"]
    table, props = written[0]
    assert table.endswith(".icer_groups") and props["mgs-lineage.__input__"] == "fp0"

    # latest snapshot carries the same lineage -> resume skips the build
    summaries[table] = {**props, "operation": "append", "total-records": "1"}
    ck2 = CheckpointRunner(spark, str(tmp_path), "icer")
    ck2.use_iceberg = True
    ck2.run_stage("groups", build, input_fingerprint="fp0")
    assert built == [1] and ck2.stages_skipped == ["groups"]

    # changed input fingerprint -> lineage mismatch -> rebuild
    ck3 = CheckpointRunner(spark, str(tmp_path), "icer")
    ck3.use_iceberg = True
    ck3.run_stage("groups", build, input_fingerprint="fp1")
    assert built == [1, 1] and ck3.stages_built == ["groups"]
