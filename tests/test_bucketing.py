"""Bucketed co-located joins: pre-bucketing both sides on the join key removes
the shuffle entirely (brief: 'repartition()/bucketing for co-located joins').

At 100 TB the gazetteer and the record-group table are both written bucketed by
the block key once, and every subsequent blocked join is exchange-free."""

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def warehouse(spark, tmp_path_factory):
    return spark


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    spark.sql("DROP TABLE IF EXISTS b_groups")
    spark.sql("DROP TABLE IF EXISTS b_cands")
    groups = spark.createDataFrame(
        [(f"m{i}", f"lang{i % 5}", i) for i in range(1000)], ["mention", "lang", "n"]
    )
    cands = spark.createDataFrame(
        [(f"u{i}", f"lang{i % 5}", f"name{i}") for i in range(500)], ["uid", "lang", "name"]
    )
    (
        groups.write.mode("overwrite")
        .bucketBy(8, "lang")
        .sortBy("lang")
        .saveAsTable("b_groups")
    )
    (
        cands.write.mode("overwrite")
        .bucketBy(8, "lang")
        .sortBy("lang")
        .saveAsTable("b_cands")
    )
    bg = spark.table("b_groups")
    bc = spark.table("b_cands")
    # disable broadcast so the join would otherwise need an exchange
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = bg.join(bc, on="lang")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan  # co-located: zero shuffle
        assert joined.count() == sum(
            (1000 // 5) * (500 // 5) for _ in range(5)
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS b_groups")
        spark.sql("DROP TABLE IF EXISTS b_cands")
