"""Deterministic stratified sampling: exact DuckDB-twin equality, rate
accuracy, determinism, salt independence, fail-closed default."""

import duckdb
import pytest
from pyspark.sql import functions as F

from mass_georeferencing_spark.operators import sampling

from conftest import SF_DIR

RATES = {"en": 0.5, "de": 0.25, "es": 1.0, "fr": 0.0}


def _docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "lang")


def test_matches_duckdb_twin_exactly(spark):
    got = {
        r.doc_id
        for r in sampling.stratified_sample(_docs(spark), RATES).select("doc_id").collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{SF_DIR}/documents.parquet')"
    )
    pred = sampling.sample_oracle_predicate(RATES)
    want = {r[0] for r in con.execute(f"SELECT doc_id FROM documents WHERE {pred}").fetchall()}
    assert len(got) > 0
    assert got == want


def test_rates_and_determinism(spark):
    docs = _docs(spark)
    out = sampling.stratified_sample(docs, RATES)
    kept = out.groupBy("lang").count().collect()
    totals = {r.lang: r["count"] for r in docs.groupBy("lang").count().collect()}
    got = {r.lang: r["count"] for r in kept}
    assert got.get("es") == totals["es"]          # rate 1.0 keeps all
    assert "fr" not in got                         # rate 0.0 keeps none
    for lang, rate in (("en", 0.5), ("de", 0.25)):
        frac = got.get(lang, 0) / totals[lang]
        assert abs(frac - rate) < 0.15, (lang, frac)
    # deterministic: identical kept-set on re-run
    a = sorted(r.doc_id for r in out.select("doc_id").collect())
    b = sorted(
        r.doc_id
        for r in sampling.stratified_sample(docs, RATES).select("doc_id").collect()
    )
    assert a == b


def test_salts_give_independent_samples(spark):
    docs = _docs(spark).where(F.col("lang") == "en")
    a = {r.doc_id for r in sampling.stratified_sample(docs, {"en": 0.5}, salt="s1").collect()}
    b = {r.doc_id for r in sampling.stratified_sample(docs, {"en": 0.5}, salt="s2").collect()}
    n = docs.count()
    # independent 0.5 draws overlap ~25%, not ~50%
    assert abs(len(a & b) / n - 0.25) < 0.15


def test_null_ids_agree_with_twin(spark):
    # NULL ids hash as '' on BOTH engines (ADVICE r4: concat_ws skips NULLs,
    # '||' propagates them — coalesce pins one behavior on both sides)
    docs = spark.createDataFrame(
        [(None, "en"), (1, "en"), (2, "en"), (3, "en")],
        "doc_id bigint, lang string",
    )
    got = {
        r.doc_id
        for r in sampling.stratified_sample(docs, {"en": 0.5}).select("doc_id").collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM (VALUES "
        "(NULL::BIGINT, 'en'), (1, 'en'), (2, 'en'), (3, 'en')) t(doc_id, lang)"
    )
    pred = sampling.sample_oracle_predicate({"en": 0.5})
    want = {r[0] for r in con.execute(f"SELECT doc_id FROM documents WHERE {pred}").fetchall()}
    assert got == want


def test_quoted_strata_and_salt_agree_with_twin(spark):
    # a stratum or salt holding a single quote must stay one SQL literal
    rows = [(i, "o'c" if i % 2 else "en") for i in range(40)]
    rates = {"o'c": 0.5, "en": 1.0}
    docs = spark.createDataFrame(rows, "doc_id bigint, lang string")
    got = {
        r.doc_id
        for r in sampling.stratified_sample(docs, rates, salt="it's").select("doc_id").collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, lang VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    pred = sampling.sample_oracle_predicate(rates, salt="it's")
    want = {r[0] for r in con.execute(f"SELECT doc_id FROM documents WHERE {pred}").fetchall()}
    assert got == want
    assert {i for i in range(0, 40, 2)} <= got < set(range(40))


def test_default_rate_fails_closed_and_validates(spark):
    docs = _docs(spark)
    out = sampling.stratified_sample(docs, {"en": 1.0})  # others unlisted
    assert out.where(F.col("lang") != "en").count() == 0
    assert out.count() == docs.where(F.col("lang") == "en").count()
    with pytest.raises(ValueError, match="outside"):
        sampling.rate_threshold_hex(1.5)
