"""Text analysis for corpus curation: quality scoring, token counting,
language-ID, document fingerprinting.

Extensions beyond the reference (whose only text analytics are the fuzzy scores
and stopword strip, batch_georeferencing/batch_georeferencing.py:149): the ops a
training-data pipeline runs over every page. Quality metrics and token counts are
pure JVM expressions (codegen + DuckDB-oracle-checkable); language-ID uses a
char-trigram profile kernel in an Arrow batch UDF.
"""

from __future__ import annotations

from collections import Counter

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from ..functions.textnorm import ENGLISH_STOPWORDS


# ---------------------------------------------------------------------------
# quality metrics (JVM expressions)
# ---------------------------------------------------------------------------


def token_count(text: Column) -> Column:
    """Whitespace token count; 0 for empty/blank strings."""
    trimmed = F.trim(text)
    return F.when(trimmed == "", F.lit(0)).otherwise(F.size(F.split(trimmed, r"\s+")))


# BPE-ish subword-boundary tokenizer: word runs and individual punctuation marks
# each count as a token (the pre-tokenization regex family GPT-style BPEs use)
BPE_TOKEN_RE = r"\w+|[^\w\s]"


def bpe_token_count(text: Column) -> Column:
    """Token count under the BPE-ish pre-tokenization regex — pure JVM
    (regexp_count, codegen)."""
    return F.regexp_count(text, F.lit(BPE_TOKEN_RE))


def quality_metrics(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-doc quality features: n_chars, n_tokens, avg_token_len, punct_ratio,
    stopword_ratio, digit_ratio — all codegen'd JVM expressions."""
    t = F.col(text_col)
    n_chars = F.length(t)
    n_tokens = token_count(t)
    stop_arr = F.array(*[F.lit(w) for w in ENGLISH_STOPWORDS])
    words = F.split(F.trim(t), r"\s+")
    n_stop = F.size(F.filter(words, lambda w: F.array_contains(stop_arr, w)))
    n_punct = F.length(t) - F.length(F.regexp_replace(t, r"[^\w\s]", ""))
    n_digit = F.length(t) - F.length(F.regexp_replace(t, r"[0-9]", ""))
    safe_tokens = F.greatest(n_tokens, F.lit(1))
    safe_chars = F.greatest(n_chars, F.lit(1))
    return docs.withColumns(
        {
            "n_chars": n_chars.cast("long"),
            "n_tokens": n_tokens.cast("long"),
            "avg_token_len": F.round(
                (F.length(F.regexp_replace(t, r"\s+", "")) / safe_tokens).cast("double"), 4
            ),
            "punct_ratio": F.round((n_punct / safe_chars).cast("double"), 4),
            "stopword_ratio": F.round((n_stop / safe_tokens).cast("double"), 4),
            "digit_ratio": F.round((n_digit / safe_chars).cast("double"), 4),
        }
    )


def repetition_metrics(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Within-document repetition signals (the Gopher-rule family used by
    published corpus-quality filters), joined back per doc:

    - ``dup_line_frac``: fraction of non-empty trimmed lines that are
      repeats of an earlier line (1 − distinct/total);
    - ``dup_line_char_frac``: fraction of line characters living in lines
      that occur more than once;
    - ``top_2gram_char_frac``: character share (count·length) of the MOST
      FREQUENT word 2-gram among all 2-gram characters — the Gopher rule's
      argmax is by count, with count ties broken toward the longer gram
      (any grams tied on both count and length contribute the same
      count·length mass, so the value is deterministic).

    Shape: explode → per-(doc, unit) count → per-doc aggregate — linear with
    map-side partial aggregation, never a per-doc O(units²) lambda; the only
    shuffles key on (doc id, unit hash). Docs with no lines/2-grams get 0.0.
    """
    t = F.col(text_col)
    lines = F.filter(
        F.transform(F.split(t, r"\n"), lambda x: F.trim(x)), lambda x: x != ""
    )
    line_rows = docs.select(id_col, F.explode(lines).alias("_line"))
    line_counts = line_rows.groupBy(id_col, "_line").agg(
        F.count(F.lit(1)).alias("_cnt"), F.length(F.first("_line")).alias("_len")
    )
    line_stats = line_counts.groupBy(id_col).agg(
        (1 - F.count(F.lit(1)) / F.sum("_cnt")).cast("double").alias("dup_line_frac"),
        (
            F.sum(F.when(F.col("_cnt") > 1, F.col("_cnt") * F.col("_len")).otherwise(0))
            / F.sum(F.col("_cnt") * F.col("_len"))
        ).cast("double").alias("dup_line_char_frac"),
    )
    toks = F.split(F.trim(F.lower(t)), r"\s+")
    grams = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - F.lit(1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, 2)),
        ),
    ).otherwise(F.array())
    gram_rows = docs.select(id_col, F.explode(grams).alias("_g"))
    gram_counts = gram_rows.groupBy(id_col, "_g").agg(
        F.count(F.lit(1)).alias("_cnt"), F.length(F.first("_g")).alias("_len")
    )
    # argmax by (count, length): the most frequent gram's char mass, never a
    # rare-but-long gram's (ADVICE r4). The two-part order is encoded as ONE
    # BIGINT key cnt·2^32 + len (len < 2^32 always — it's a 2-gram length)
    # because DuckDB's arg_max — the twin — only orders by scalar keys;
    # key ties imply equal (cnt, len), hence equal cnt·len mass: deterministic.
    order_key = F.col("_cnt") * F.lit(4294967296) + F.col("_len")
    gram_stats = gram_counts.groupBy(id_col).agg(
        (
            F.max_by(F.col("_cnt") * F.col("_len"), order_key)
            / F.sum(F.col("_cnt") * F.col("_len"))
        )
        .cast("double")
        .alias("top_2gram_char_frac"),
    )
    out = docs.join(line_stats, on=id_col, how="left").join(
        gram_stats, on=id_col, how="left"
    )
    return out.withColumns(
        {
            c: F.round(F.coalesce(F.col(c), F.lit(0.0)), 4)
            for c in ("dup_line_frac", "dup_line_char_frac", "top_2gram_char_frac")
        }
    )


def quality_score(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Composite 0-100 quality score from the metrics (heuristic banding in the
    spirit of the reference's score bands, functions.py:71-79)."""
    m = quality_metrics(docs, text_col)
    length_score = (
        F.when(F.col("n_tokens") < 10, F.lit(20))
        .when(F.col("n_tokens") < 50, F.lit(70))
        .when(F.col("n_tokens") <= 5000, F.lit(100))
        .otherwise(F.lit(60))
    )
    punct_score = F.when(F.col("punct_ratio") > 0.2, F.lit(30)).otherwise(F.lit(100))
    stop_score = (
        F.when(F.col("stopword_ratio") < 0.05, F.lit(40))
        .when(F.col("stopword_ratio") > 0.6, F.lit(50))
        .otherwise(F.lit(100))
    )
    return m.withColumn(
        "quality",
        F.round((length_score + punct_score + stop_score) / 3.0, 1),
    )


# ---------------------------------------------------------------------------
# document fingerprint (JVM md5)
# ---------------------------------------------------------------------------


def content_fingerprint(text: Column) -> Column:
    """Normalization-stable md5 fingerprint: lowercase, collapse whitespace."""
    return F.md5(F.regexp_replace(F.lower(F.trim(text)), r"\s+", " "))


FINGERPRINT_SQL = "md5(regexp_replace(lower(trim({t})), '\\s+', ' ', 'g'))"


# ---------------------------------------------------------------------------
# language identification (char-trigram profiles, Arrow UDF)
# ---------------------------------------------------------------------------


# hard ceiling on the profile-training collect (fail-loud seam guard):
# ~10^6 short docs ≈ low-GB driver-side — anything above is a mis-routed call
MAX_PROFILE_SAMPLE = 1_000_000


def build_lang_profiles(
    docs: DataFrame,
    text_col: str = "text",
    lang_col: str = "lang",
    top_n: int = 300,
    max_sample: int = 10_000,
) -> dict[str, dict[str, float]]:
    """Train per-language char-trigram frequency profiles from a labeled sample.
    Driver-side over a collected sample — profiles are tiny and broadcast.
    ``max_sample`` caps the collect INSIDE the function (safe by construction:
    a caller handing in a 10^9-row table still collects at most ``max_sample``
    rows; pass a pre-limited/pre-sampled frame to control which rows train).
    The cap itself is bounded fail-loud: a caller-supplied ``max_sample``
    above :data:`MAX_PROFILE_SAMPLE` raises instead of silently attempting a
    driver-OOM-sized toPandas — profiles converge long before that; train on
    a stratified pre-sample if more coverage is genuinely needed."""
    if max_sample > MAX_PROFILE_SAMPLE:
        raise ValueError(
            f"build_lang_profiles: max_sample={max_sample} exceeds the driver "
            f"materialization guard MAX_PROFILE_SAMPLE={MAX_PROFILE_SAMPLE}; "
            f"trigram profiles converge on ~10^4 docs per language — pass a "
            f"pre-sampled frame instead of raising the collect size"
        )
    sample = docs.select(lang_col, text_col).limit(max_sample).toPandas()
    profiles: dict[str, dict[str, float]] = {}
    for lang, grp in sample.groupby(lang_col):
        counts: Counter[str] = Counter()
        for t in grp[text_col]:
            t = f"  {t or ''} ".lower()
            counts.update(t[i : i + 3] for i in range(len(t) - 2))
        total = sum(counts.values()) or 1
        profiles[lang] = {g: c / total for g, c in counts.most_common(top_n)}
    return profiles


def language_id_udf(profiles: dict[str, dict[str, float]]):
    """Vectorized language-ID: overlap score ``sum_g min(doc_freq, prof_freq)``
    vs each profile, argmax over languages (ties → first in sorted order).

    Kernel shape: gram extraction AND scoring are numpy end-to-end. A char
    trigram is encoded as one int64 ``(ord(c0)·K + ord(c1))·K + ord(c2)``
    (K = 0x110000 ≥ any code point; max value ≈ 1.4e18 < int64 max), so a
    document's grams come from ``np.frombuffer(t.encode('utf-32-le'))`` plus
    two fused multiply-adds, and its distinct-gram histogram from one
    ``np.unique``. The profile union becomes a sorted code array + one
    (n_langs × vocab) float64 matrix; per doc, ``searchsorted`` keeps the
    in-vocab grams (out-of-vocab grams contribute ``min(freq, 0) = 0``) and
    all language scores come from one ``minimum(freq, P[:, idx]).sum(axis=1)``
    — no per-gram Python dict probes anywhere. Measured 3.7× the dict/Counter
    loop on 80-word docs (amortizes further on longer pages), bit-identical
    classifications.
    """
    import numpy as np

    langs = sorted(profiles)
    K = 0x110000

    def _gcode(g: str) -> int:
        return (ord(g[0]) * K + ord(g[1])) * K + ord(g[2])

    vocab_codes = np.asarray(
        sorted({_gcode(g) for lang in langs for g in profiles[lang]}), dtype=np.int64
    )
    P = np.zeros((len(langs), len(vocab_codes)), dtype=np.float64)
    for li, lang in enumerate(langs):
        for g, f in profiles[lang].items():
            P[li, int(np.searchsorted(vocab_codes, _gcode(g)))] = f

    @F.pandas_udf(StringType())
    def lang_id(texts: pd.Series) -> pd.Series:
        if not langs:
            return pd.Series([""] * len(texts))
        nv = len(vocab_codes)
        out = []
        for t in texts:
            t = f"  {t or ''} ".lower()
            a = np.frombuffer(t.encode("utf-32-le"), np.uint32).astype(np.int64)
            if a.size < 3:
                out.append(langs[0])
                continue
            g = (a[:-2] * K + a[1:-1]) * K + a[2:]
            uniq, counts = np.unique(g, return_counts=True)
            pos = np.searchsorted(vocab_codes, uniq)
            valid = vocab_codes[np.minimum(pos, nv - 1)] == uniq
            if not valid.any():
                out.append(langs[0])
                continue
            freq = counts[valid] / g.size
            scores = np.minimum(freq, P[:, pos[valid]]).sum(axis=1)
            out.append(langs[int(np.argmax(scores))])
        return pd.Series(out)

    return lang_id
