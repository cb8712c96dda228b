"""Text-analysis tests: quality metrics, fingerprints, language-ID accuracy."""

import pytest
from pyspark.sql import functions as F

from mass_georeferencing_spark.operators import textstats

from conftest import SF_DIR


def test_quality_metrics_values(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox!"), (2, ""), (3, "a b 12")], ["doc_id", "text"]
    )
    rows = {r.doc_id: r for r in textstats.quality_metrics(df).collect()}
    r1 = rows[1]
    assert r1.n_chars == 20
    assert r1.n_tokens == 4
    assert r1.punct_ratio == pytest.approx(1 / 20, abs=1e-4)
    assert r1.stopword_ratio == pytest.approx(1 / 4, abs=1e-4)  # 'the'
    assert rows[2].n_tokens == 0
    assert rows[3].digit_ratio == pytest.approx(2 / 6, abs=1e-4)


def test_quality_score_bands(spark):
    df = spark.createDataFrame(
        [(1, "short text"), (2, " ".join(["word"] * 100))], ["doc_id", "text"]
    )
    rows = {r.doc_id: r for r in textstats.quality_score(df).collect()}
    assert rows[1].quality < rows[2].quality


def test_fingerprint_normalization_stable(spark):
    df = spark.createDataFrame(
        [(1, "Hello   World"), (2, "  hello world "), (3, "different")],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r.fp for r in df.select("doc_id", textstats.content_fingerprint(F.col("text")).alias("fp")).collect()}
    assert out[1] == out[2]
    assert out[1] != out[3]


def test_lang_profile_sample_guard(spark):
    # the profile-training collect is bounded fail-loud: an over-cap
    # max_sample raises instead of attempting a driver-OOM-sized toPandas
    import pytest

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    with pytest.raises(ValueError, match="MAX_PROFILE_SAMPLE"):
        textstats.build_lang_profiles(docs, max_sample=textstats.MAX_PROFILE_SAMPLE + 1)


def test_language_id_roundtrip(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    profiles = textstats.build_lang_profiles(docs)
    udf = textstats.language_id_udf(profiles)
    out = docs.select("lang", udf(F.col("text")).alias("pred")).collect()
    acc = sum(1 for r in out if r.lang == r.pred) / len(out)
    # synthetic docs share one vocabulary across langs — the classifier can only
    # pick up sampling noise, so demand better-than-chance, not high accuracy
    assert acc >= 0.2, acc


def test_language_id_numpy_kernel_equivalence(spark):
    """The int64-trigram-code numpy kernel must classify identically to a
    direct restatement of the scoring definition (Counter over char trigrams,
    per-language ``sum min(doc_freq, prof_freq)``, first-sorted-lang ties) —
    over adversarial unicode: astral plane, combining marks, empty/whitespace,
    long docs. Arrow transports valid UTF-8 only, so that is the input domain."""
    from collections import Counter

    rng = __import__("numpy").random.RandomState(7)
    alphabets = [
        "abcdefghij ",
        "αβγδεζ θικλ",  # greek
        "你好世界文字 ",  # CJK
        "\U0001F600\U0001F601\U0001F602 a b",  # astral (emoji)
        "éà ü",  # combining marks
    ]

    def rand_text(alpha: str, n: int) -> str:
        return "".join(alpha[i] for i in rng.randint(0, len(alpha), n))

    profiles = {}
    for li, alpha in enumerate(alphabets[:3]):
        t = f"  {rand_text(alpha, 400)} ".lower()
        grams = Counter(t[i : i + 3] for i in range(len(t) - 2))
        total = sum(grams.values())
        profiles[f"lang{li}"] = {g: c / total for g, c in grams.items()}

    docs = [rand_text(alphabets[i % len(alphabets)], int(n)) for i, n in enumerate(rng.randint(0, 120, 200))]
    docs += ["", " ", "  ", "a", "ab", "\U0001F600" * 50, rand_text(alphabets[0], 5000)]

    langs = sorted(profiles)

    def reference(t: str) -> str:
        t = f"  {t or ''} ".lower()
        grams = Counter(t[i : i + 3] for i in range(len(t) - 2))
        total = sum(grams.values()) or 1
        best, best_score = langs[0], -1.0
        for lang in langs:
            prof = profiles[lang]
            score = sum(min(c / total, prof.get(g, 0.0)) for g, c in grams.items())
            if score > best_score:
                best, best_score = lang, score
        return best

    df = spark.createDataFrame([(i, d) for i, d in enumerate(docs)], ["doc_id", "text"])
    udf = textstats.language_id_udf(profiles)
    got = {r.doc_id: r.pred for r in df.select("doc_id", udf(F.col("text")).alias("pred")).collect()}
    want = {i: reference(d) for i, d in enumerate(docs)}
    assert got == want


def test_quality_score_oracle(spark):
    """Full value-level oracle for the round-3-retired text_quality_score
    contract entry (slot given to streaming_fuzzy_microbatch): the driver-era
    DuckDB SQL, run under the driver-replica comparator."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    from mass_georeferencing_spark.plans.contract_ext import (
        QUALITY_SCORE_ORACLE_SQL,
        _q_text_quality_score,
    )
    from tools.parity import compare, duck_connect

    got = _q_text_quality_score(spark, SF_DIR).toPandas()
    con = duck_connect(SF_DIR)
    try:
        want = con.execute(QUALITY_SCORE_ORACLE_SQL).fetchdf()
    finally:
        con.close()
    errs = compare("text_quality_score", got, want)
    assert not errs, errs


def test_repetition_metrics_units(spark):
    docs = spark.createDataFrame(
        [
            (1, "a b\na b\nc d"),              # line 'a b' repeats
            (2, "unique one\nunique two"),      # no repeats
            (3, "x x x x x"),                   # 'x x' 2-gram dominates
            (4, ""),                            # empty → zeros
        ],
        "doc_id bigint, text string",
    )
    got = {
        r.doc_id: (r.dup_line_frac, r.dup_line_char_frac, r.top_2gram_char_frac)
        for r in textstats.repetition_metrics(docs).collect()
    }
    # doc 1: 3 lines, 2 distinct → dup_line_frac=1/3; repeated-line chars 6/9;
    # 2-grams span newlines (whitespace tokens): a-b a-b b-a b-c c-d → 'a b'
    # carries 2·3 of 15 gram chars = 0.4
    assert got[1] == (round(1 - 2 / 3, 4), round(6 / 9, 4), 0.4)
    assert got[2][0] == 0.0 and got[2][1] == 0.0
    # doc 3: all four 2-grams are 'x x' → top share 1.0; its one line repeats never
    assert got[3] == (0.0, 0.0, 1.0)
    assert got[4] == (0.0, 0.0, 0.0)


def test_top_2gram_is_argmax_by_count_not_char_mass(spark):
    # grams: 'a a'×2 (mass 6), 'a longword1'×1 (mass 11), 'longword1
    # longword2'×1 (mass 19) — the Gopher rule picks the MOST FREQUENT gram
    # ('a a', mass 6), never the rare-but-long one (mass 19); ADVICE r4
    docs = spark.createDataFrame(
        [(1, "a a a longword1 longword2")], "doc_id bigint, text string"
    )
    got = textstats.repetition_metrics(docs).collect()[0]
    assert got.top_2gram_char_frac == round(6 / 36, 4)


def test_repetition_metrics_duckdb_twin(spark):
    import duckdb

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    got = {
        r.doc_id: (r.dup_line_frac, r.dup_line_char_frac, r.top_2gram_char_frac)
        for r in textstats.repetition_metrics(docs).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{SF_DIR}/documents.parquet')"
    )
    want = {
        r[0]: (r[1], r[2], r[3])
        for r in con.execute(
            r"""
        WITH lines AS (
          SELECT doc_id, trim(l) AS line
          FROM documents, LATERAL unnest(string_split(text, chr(10))) AS t(l)
          WHERE trim(l) <> ''),
        lc AS (SELECT doc_id, line, count(*) AS cnt, length(line) AS len
               FROM lines GROUP BY 1, 2),
        ls AS (SELECT doc_id,
                      1 - count(*) / CAST(sum(cnt) AS DOUBLE) AS dlf,
                      sum(CASE WHEN cnt > 1 THEN cnt * len ELSE 0 END)
                        / CAST(sum(cnt * len) AS DOUBLE) AS dlcf
               FROM lc GROUP BY 1),
        toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
                 FROM documents),
        grams AS (
          SELECT doc_id, array_to_string(list_slice(t, i, i + 1), ' ') AS g
          FROM toks, LATERAL unnest(range(1, greatest(len(t), 1))) AS u(i)
          WHERE len(t) >= 2),
        gc AS (SELECT doc_id, g, count(*) AS cnt, length(g) AS len
               FROM grams GROUP BY 1, 2),
        gs AS (SELECT doc_id,
                      arg_max(cnt * len, cnt * 4294967296 + len)
                        / CAST(sum(cnt * len) AS DOUBLE) AS tgcf
               FROM gc GROUP BY 1)
        SELECT d.doc_id,
               round(coalesce(ls.dlf, 0), 4),
               round(coalesce(ls.dlcf, 0), 4),
               round(coalesce(gs.tgcf, 0), 4)
        FROM documents d
        LEFT JOIN ls ON ls.doc_id = d.doc_id
        LEFT JOIN gs ON gs.doc_id = d.doc_id
        """
        ).fetchall()
    }
    assert len(got) == len(want) > 0
    for k in got:
        for a, b in zip(got[k], want[k]):
            assert abs(a - b) < 1e-9, (k, got[k], want[k])
