"""Interval + as-of join: the time-bucket join equals broadcast nested-loop truth."""

from datetime import datetime

from pyspark.sql import functions as F

from mass_georeferencing_spark.operators.interval_join import as_of_join, interval_join


def _ts(h, m=0):
    return datetime(2024, 1, 1, h, m)


def _broadcast_interval_join(facts, dims):
    """Reference: the non-equi predicate over broadcast dims, planned as a
    BroadcastNestedLoopJoin."""
    cond = (F.col("warc_ts") >= F.col("valid_from")) & (F.col("warc_ts") < F.col("valid_to"))
    return facts.join(F.broadcast(dims), on=cond)


def test_interval_bucket_matches_broadcast(spark):
    facts = spark.createDataFrame(
        [(f"f{i}", _ts(i % 24, (i * 7) % 60)) for i in range(200)], ["fid", "warc_ts"]
    )
    dims = spark.createDataFrame(
        [(f"d{j}", _ts(j % 20), _ts(j % 20 + 3)) for j in range(10)],
        ["uid", "valid_from", "valid_to"],
    )
    bc = {(r.fid, r.uid) for r in _broadcast_interval_join(facts, dims).collect()}
    bk = {
        (r.fid, r.uid)
        for r in interval_join(facts, dims, bucket_seconds=3600).collect()
    }
    assert bc == bk
    assert len(bc) > 0
    # half-open: a fact exactly at valid_to is excluded
    f2 = spark.createDataFrame([("x", _ts(5))], ["fid", "warc_ts"])
    d2 = spark.createDataFrame([("d", _ts(2), _ts(5))], ["uid", "valid_from", "valid_to"])
    assert interval_join(f2, d2, bucket_seconds=3600).count() == 0


def test_as_of_join_latest_version(spark):
    facts = spark.createDataFrame(
        [("u1", "en", _ts(10)), ("u2", "en", _ts(3)), ("u3", "de", _ts(12))],
        ["url", "lang", "warc_ts"],
    )
    dims = spark.createDataFrame(
        [
            ("en", "v1", _ts(1)),
            ("en", "v2", _ts(9)),
            ("en", "v3", _ts(11)),  # future for u1
            ("de", "w1", _ts(2)),
        ],
        ["lang", "ver", "version_ts"],
    )
    out = {r.url: r.dim_ver for r in as_of_join(facts, dims, on=["lang"]).collect()}
    assert out == {"u1": "v2", "u2": "v1", "u3": "w1"}


def test_as_of_join_preserves_fact_multiplicity(spark):
    # two DISTINCT facts sharing (key, ts) must each keep their row, and
    # byte-identical duplicate facts must keep their multiplicity
    facts = spark.createDataFrame(
        [
            ("u1", "en", _ts(10)),
            ("u2", "en", _ts(10)),  # same (lang, ts) as u1, different url
            ("u2", "en", _ts(10)),  # exact duplicate row
        ],
        ["url", "lang", "warc_ts"],
    )
    dims = spark.createDataFrame(
        [("en", "v1", _ts(1)), ("en", "v2", _ts(9))], ["lang", "ver", "version_ts"]
    )
    rows = as_of_join(facts, dims, on=["lang"]).collect()
    assert len(rows) == 3
    assert {(r.url, r.dim_ver) for r in rows} == {("u1", "v2"), ("u2", "v2")}


def test_as_of_join_version_tie_is_deterministic(spark):
    # two dim versions with the SAME version_ts: tie-break by payload asc
    facts = spark.createDataFrame([("u1", "en", _ts(10))], ["url", "lang", "warc_ts"])
    dims = spark.createDataFrame(
        [("en", "vB", _ts(9)), ("en", "vA", _ts(9))], ["lang", "ver", "version_ts"]
    )
    out = [r.dim_ver for r in as_of_join(facts, dims, on=["lang"]).collect()]
    assert out == ["vA"]


def test_as_of_join_skips_unorderable_payload_columns(spark):
    # a map-typed dim payload column must not enter the tie-break ORDER BY
    # (maps are unorderable in Spark SQL -> analysis error); orderable payload
    # columns still break the tie deterministically
    from pyspark.sql import functions as F

    facts = spark.createDataFrame([("u1", "en", _ts(10))], ["url", "lang", "warc_ts"])
    dims = (
        spark.createDataFrame(
            [("en", "vB", _ts(9)), ("en", "vA", _ts(9))], ["lang", "ver", "version_ts"]
        )
        .withColumn("attrs", F.create_map(F.lit("k"), F.col("ver")))
    )
    rows = as_of_join(facts, dims, on=["lang"]).collect()
    assert [r.dim_ver for r in rows] == ["vA"]
    assert rows[0].dim_attrs == {"k": "vA"}
