"""Export sink tests: star join shape, partitioned CSV layout (S5/J11)."""

import os

from pyspark.sql import functions as F

from mass_georeferencing_spark.operators.export import (
    export_star_join,
    write_partitioned_csv,
)


def test_export_star_join(spark):
    selected = spark.createDataFrame(
        [("c1", "g1")], ["candidate_id", "recgroup_id"]
    )
    candidates = spark.createDataFrame(
        [("c1", "u1", "gaz name")], ["candidate_id", "uid", "name"]
    )
    groups = spark.createDataFrame(
        [("g1", "en", "big lake", "north")], ["recgroup_id", "lang", "mention", "state"]
    )
    mentions = spark.createDataFrame(
        [("en", "big lake", "north", "http://a"), ("en", "big lake", "north", "http://b")],
        ["lang", "mention", "state", "url"],
    )
    out = export_star_join(selected, candidates, groups, mentions).collect()
    assert len(out) == 2  # denormalized to one row per source record
    assert {r.url for r in out} == {"http://a", "http://b"}
    assert all(r.uid == "u1" for r in out)


def test_write_partitioned_csv(spark, tmp_path):
    df = spark.createDataFrame(
        [("en", 1, "x"), ("de", 2, "y"), ("en", 3, "z")], ["lang", "k", "v"]
    )
    path = str(tmp_path / "csv_out")
    write_partitioned_csv(df, path, partition_col="lang")
    parts = {d for d in os.listdir(path) if d.startswith("lang=")}
    assert parts == {"lang=en", "lang=de"}
    back = spark.read.option("header", True).csv(path)
    assert back.count() == 3
