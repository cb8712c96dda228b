"""Value-level oracle for the composed training-data preparation plan.

The whole `plans/training_prep.py` dataflow — language-ID → quality filter →
exact dedup → MinHash-LSH near-dup removal → annotation — is restated as ONE
DuckDB query over the same parquet, with every non-SQL kernel supplied by the
INDEPENDENT references from test_rowsonly_oracles (two-step-mod minhash,
plain-dict lang-id, byte-shingle Jaccard), and compared rows+schema+values
under the driver-replica comparator.
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from test_rowsonly_oracles import (
    _build_profiles_ref,
    _jaccard_ref,
    _minhash_band_hash_ref,
)

from mass_georeferencing_spark.plans.contract_ext import QUALITY_SCORE_ORACLE_SQL
from mass_georeferencing_spark.plans.training_prep import prepare_training_corpus
from tools.parity import compare, duck_connect

from conftest import SF_DIR


@pytest.fixture(scope="module")
def duck():
    con = duck_connect(SF_DIR)
    yield con
    con.close()


def _pred_ref(profiles):
    langs = sorted(profiles)

    def pred(t: str | None) -> str:
        t2 = f"  {t or ''} ".lower()
        grams: dict[str, int] = {}
        for i in range(len(t2) - 2):
            g = t2[i : i + 3]
            grams[g] = grams.get(g, 0) + 1
        total = sum(grams.values()) or 1
        best, best_score = langs[0] if langs else "", -1.0
        for lang in langs:
            prof = profiles[lang]
            score = sum(min(c / total, prof.get(g, 0.0)) for g, c in grams.items())
            if score > best_score:
                best, best_score = lang, score
        return best

    return pred


def test_training_prep_matches_duckdb_oracle(spark, duck):
    stages = prepare_training_corpus(spark, SF_DIR)
    got = stages["corpus"].toPandas()

    sample = duck.execute("SELECT lang, text FROM documents LIMIT 200").fetchall()
    duck.create_function("pred", _pred_ref(_build_profiles_ref(sample)), ["VARCHAR"], "VARCHAR")
    duck.create_function("band_hash", _minhash_band_hash_ref, ["VARCHAR", "BIGINT"], "BIGINT")
    duck.create_function("jacc", _jaccard_ref, ["VARCHAR", "VARCHAR"], "DOUBLE")

    want = duck.execute(f"""
WITH q AS ({QUALITY_SCORE_ORACLE_SQL}),
kept AS (
  SELECT d.doc_id, d.lang, d.text, q.quality,
         CASE WHEN trim(d.text) = '' THEN 0
              ELSE len(regexp_split_to_array(trim(d.text), '\\s+')) END AS n_tokens
  FROM documents d JOIN q USING (doc_id)
  WHERE q.quality >= 70.0),
fp AS (
  SELECT *, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint
  FROM kept),
eu AS (
  SELECT fp.* FROM fp
  JOIN (SELECT fingerprint, min(doc_id) AS doc_id FROM fp GROUP BY 1) reps
  USING (fingerprint, doc_id)),
bands AS (
  SELECT * FROM (
    SELECT e.doc_id, e.text, r.range AS band, band_hash(e.text, r.range) AS band_hash
    FROM eu e CROSS JOIN range(16) r)
  WHERE band_hash IS NOT NULL),
capped AS (
  SELECT b.* FROM bands b
  JOIN (SELECT band, band_hash FROM bands GROUP BY 1, 2 HAVING count(*) <= 1000) ok
  USING (band, band_hash)),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM capped a JOIN capped b USING (band, band_hash)
  WHERE a.doc_id < b.doc_id),
verified AS (
  SELECT p.id_a, p.id_b FROM pairs p
  JOIN eu ta ON ta.doc_id = p.id_a
  JOIN eu tb ON tb.doc_id = p.id_b
  WHERE jacc(ta.text, tb.text) >= 0.5)
SELECT doc_id, lang, pred(text) AS pred_lang, quality, n_tokens,
       len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS bpe_tokens,
       fingerprint, text
FROM eu
WHERE doc_id NOT IN (SELECT id_b FROM verified)
""").fetchdf()

    # the filter chain must be doing real work at this fixture size
    n_docs = duck.execute("SELECT count(*) FROM documents").fetchone()[0]
    assert 0 < len(got) < n_docs
    errs = compare("training_prep_corpus", got, want)
    assert not errs, errs


def test_training_prep_full_composition_matches_duckdb_oracle(spark, duck):
    """The round-5 full chain — decontaminate → lang-ID → quality+repetition
    filter → exact dedup → LSH removal → stratified mix → annotate — restated
    as ONE DuckDB query. Benchmark = every 37th doc (n=5 grams at this tiny
    fixture), repetition cap 0.08 on top_2gram_char_frac (~p90 here; the
    dup-line cap is exercised as a predicate — this corpus has no repeated
    lines), and a 4-language mix that deliberately omits 'zh' (fail-closed:
    an unlisted stratum never leaks in)."""
    from pyspark.sql import functions as F

    from mass_georeferencing_spark.operators.sampling import sample_oracle_predicate
    from mass_georeferencing_spark.sources.tables import load_table

    rates = {"en": 0.8, "es": 1.0, "de": 0.5, "fr": 0.25}
    docs = load_table(spark, SF_DIR, "documents")
    stages = prepare_training_corpus(
        spark,
        SF_DIR,
        benchmark=docs.where(F.col("doc_id") % 37 == 0).select("text"),
        decontam_n=5,
        max_dup_line_frac=0.5,
        max_top_2gram_char_frac=0.08,
        mix_rates=rates,
    )
    got = stages["corpus"].toPandas()

    sample = duck.execute("SELECT lang, text FROM documents LIMIT 200").fetchall()
    duck.create_function("pred5", _pred_ref(_build_profiles_ref(sample)), ["VARCHAR"], "VARCHAR")
    duck.create_function("band_hash5", _minhash_band_hash_ref, ["VARCHAR", "BIGINT"], "BIGINT")
    duck.create_function("jacc5", _jaccard_ref, ["VARCHAR", "VARCHAR"], "DOUBLE")

    grams5 = (
        "CASE WHEN len(t) >= 5 THEN list_transform(range(1, len(t) - 5 + 2), "
        "i -> array_to_string(list_slice(t, i, i + 4), ' ')) ELSE [] END"
    )
    mix_pred = sample_oracle_predicate(rates)
    want = duck.execute(f"""
WITH tok AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
  FROM documents),
dg AS (SELECT doc_id, unnest({grams5}) AS g FROM tok),
bg AS (SELECT DISTINCT g FROM dg WHERE doc_id % 37 = 0),
contaminated AS (SELECT DISTINCT doc_id FROM dg JOIN bg USING (g)),
dec AS (SELECT d.* FROM documents d
        WHERE d.doc_id NOT IN (SELECT doc_id FROM contaminated)),
q AS ({QUALITY_SCORE_ORACLE_SQL}),
lines AS (
  SELECT doc_id, trim(l) AS line
  FROM documents, LATERAL unnest(string_split(text, chr(10))) AS t(l)
  WHERE trim(l) <> ''),
lc AS (SELECT doc_id, line, count(*) AS cnt, length(line) AS len
       FROM lines GROUP BY 1, 2),
ls AS (SELECT doc_id, 1 - count(*) / CAST(sum(cnt) AS DOUBLE) AS dlf
       FROM lc GROUP BY 1),
g2 AS (
  SELECT doc_id, array_to_string(list_slice(t, i, i + 1), ' ') AS g
  FROM tok, LATERAL unnest(range(1, greatest(len(t), 1))) AS u(i)
  WHERE len(t) >= 2),
gc AS (SELECT doc_id, g, count(*) AS cnt, length(g) AS len FROM g2 GROUP BY 1, 2),
gs AS (SELECT doc_id, arg_max(cnt * len, cnt * 4294967296 + len)
                 / CAST(sum(cnt * len) AS DOUBLE) AS tgcf
       FROM gc GROUP BY 1),
kept AS (
  SELECT d.doc_id, d.lang, d.text, q.quality,
         CASE WHEN trim(d.text) = '' THEN 0
              ELSE len(regexp_split_to_array(trim(d.text), '\\s+')) END AS n_tokens
  FROM dec d
  JOIN q USING (doc_id)
  LEFT JOIN ls USING (doc_id)
  LEFT JOIN gs USING (doc_id)
  WHERE q.quality >= 70.0
    AND round(coalesce(ls.dlf, 0), 4) <= 0.5
    AND round(coalesce(gs.tgcf, 0), 4) <= 0.08),
fp AS (
  SELECT *, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint
  FROM kept),
eu AS (
  SELECT fp.* FROM fp
  JOIN (SELECT fingerprint, min(doc_id) AS doc_id FROM fp GROUP BY 1) reps
  USING (fingerprint, doc_id)),
bands AS (
  SELECT * FROM (
    SELECT e.doc_id, e.text, r.range AS band, band_hash5(e.text, r.range) AS band_hash
    FROM eu e CROSS JOIN range(16) r)
  WHERE band_hash IS NOT NULL),
capped AS (
  SELECT b.* FROM bands b
  JOIN (SELECT band, band_hash FROM bands GROUP BY 1, 2 HAVING count(*) <= 1000) ok
  USING (band, band_hash)),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM capped a JOIN capped b USING (band, band_hash)
  WHERE a.doc_id < b.doc_id),
verified AS (
  SELECT p.id_a, p.id_b FROM pairs p
  JOIN eu ta ON ta.doc_id = p.id_a
  JOIN eu tb ON tb.doc_id = p.id_b
  WHERE jacc5(ta.text, tb.text) >= 0.5),
surv AS (
  SELECT * FROM eu WHERE doc_id NOT IN (SELECT id_b FROM verified))
SELECT doc_id, lang, pred5(text) AS pred_lang, quality, n_tokens,
       len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS bpe_tokens,
       fingerprint, text
FROM surv
WHERE {mix_pred}
""").fetchdf()

    n_docs = duck.execute("SELECT count(*) FROM documents").fetchone()[0]
    assert 0 < len(got) < n_docs
    errs = compare("training_prep_full", got, want)
    assert not errs, errs

    # every optional stage did real work on this fixture
    n_dec = stages["decontaminated"].count()
    n_kept = stages["kept"].count()
    n_surv = stages["survivors"].count()
    n_mixed = stages["mixed"].count()
    assert n_dec < n_docs                      # decontamination dropped docs
    assert n_kept < n_dec                      # quality+repetition dropped docs
    assert n_mixed < n_surv                    # the mix downsampled
    assert stages["mixed"].where("lang = 'zh'").count() == 0  # fail-closed
    assert n_docs > n_dec >= n_kept >= n_surv >= n_mixed == stages["corpus"].count()


def test_training_prep_stages_are_monotone(spark):
    stages = prepare_training_corpus(spark, SF_DIR)
    n_kept = stages["kept"].count()
    n_eu = stages["exact_unique"].count()
    n_corpus = stages["corpus"].count()
    assert n_kept >= n_eu >= n_corpus > 0
    # healthy fixture: the bucket cap fired on nothing, and the report says so
    assert stages["dropped_buckets"].count() == 0
    # greedy removal: no verified pair survives into the corpus
    pairs = stages["near_dup_pairs"].select("id_a", "id_b").collect()
    kept_ids = {r.doc_id for r in stages["corpus"].select("doc_id").collect()}
    for p in pairs:
        assert not (p.id_a in kept_ids and p.id_b in kept_ids)
