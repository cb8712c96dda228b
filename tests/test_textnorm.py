"""Text-normalization tests (reference parity, SURVEY.md F1-F4, P2): the JVM
Column fold and strip against the reference's own expressions. Each check is
one Spark job over a whole batch (every code point, or a seeded batch of
strings); a Spark job per string would cost minutes."""

import random
import unicodedata

import pandas as pd
import pytest
from pyspark.sql import functions as F

from mass_georeferencing_spark.functions import textnorm
from mass_georeferencing_spark.functions.textnorm import ascii_fold, strip_stopwords

STOPWORDS = set(textnorm.ENGLISH_STOPWORDS)
CODE_POINTS = [c for c in range(0x110000) if not 0xD800 <= c <= 0xDFFF]
WHITESPACE = [chr(c) for c in CODE_POINTS if chr(c).isspace()]


def ref_fold(s: str) -> str:
    # the reference's exact fold (batch_georeferencing.py:151)
    return unicodedata.normalize("NFD", s).encode("ascii", "ignore").decode("utf-8")


def ref_strip(s: str) -> str:
    # the reference's exact stopword strip (batch_georeferencing.py:149)
    return " ".join(w for w in s.split() if w not in STOPWORDS)


def _mismatches(spark, texts, got, want) -> list:
    """Rows where the Column expression ``got(col)`` differs from the Python
    reference ``want(text)``; NULL input goes to the reference as ''."""
    pdf = pd.DataFrame(
        {"s": pd.Series(texts, dtype=object), "want": [want(t or "") for t in texts]}
    )
    df = spark.createDataFrame(pdf, "s string, want string")
    out = got(F.col("s"))
    return df.where(~out.eqNullSafe(F.col("want"))).select("s", out.alias("got"), "want").collect()


@pytest.fixture(scope="module")
def seeded_texts():
    rng = random.Random(7)
    pieces = (
        WHITESPACE
        + sorted(STOPWORDS)
        + ["The", "OF", "river", "Lake", "São", "Müller", "Straße", "naïve", "père"]
        # combining marks (one out of canonical order), precomposed, full-width, ligature
        + ["e\u0301", "\u0301", "A\u030a\u0323", "\xc5", "\uff21", "\ufb01"]
        + ["北京", "東京都", "서울", "Москва", "\U0001f30d", "\U0001d400", "x\u200by"]
    )
    texts = ["".join(rng.choices(pieces, k=rng.randrange(0, 12))) for _ in range(20_000)]
    return texts + [None, "", " ", "the", " the  of\u3000", "a\xa0the\xa0b"]


def test_ascii_fold_matches_reference(spark):
    # every code point, so the translate table and the non-ASCII drop are
    # exact wherever the reference's NFD fold is defined
    texts = [chr(c) for c in CODE_POINTS]
    assert _mismatches(spark, texts, ascii_fold, ref_fold) == []


def test_ascii_fold_property(spark, seeded_texts):
    # strings, not single code points: combining sequences, astral characters
    assert _mismatches(spark, seeded_texts, ascii_fold, ref_fold) == []


def test_fold_idempotent(spark, seeded_texts):
    twice = lambda c: ascii_fold(ascii_fold(c))  # noqa: E731
    assert _mismatches(spark, seeded_texts, twice, ref_fold) == []


def test_stopword_strip_matches_reference(spark):
    cases = [
        "the river near the lake",
        "a b c",
        "don't stop me now",
        "Mountain of the Moon",  # 'of'/'the' dropped, capitalized words kept
        "",
        None,
        "the the the",
    ]
    # each code point between two words, so the whitespace class is exactly
    # str.isspace(): a code point missing from it or wrongly in it shows here
    cases += [f"big{chr(c)}the{chr(c)}lake" for c in CODE_POINTS]
    assert _mismatches(spark, cases, strip_stopwords, ref_strip) == []


def test_stopword_strip_property(spark, seeded_texts):
    assert _mismatches(spark, seeded_texts, strip_stopwords, ref_strip) == []
    fold_strip = lambda c: ascii_fold(strip_stopwords(c))  # noqa: E731
    assert _mismatches(spark, seeded_texts, fold_strip, lambda s: ref_fold(ref_strip(s))) == []


def test_garbage_locality_values():
    assert textnorm.GARBAGE_LOCALITIES == ("none", "unknown", "no locality data")
