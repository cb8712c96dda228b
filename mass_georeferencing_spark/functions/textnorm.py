"""Text-normalization kernels: stopword strip, NFD->ASCII fold, located_at concat.

Reference semantics (pinned by tests/test_textnorm.py):

- stopword strip (batch_georeferencing/batch_georeferencing.py:149):
  ``' '.join(w for w in s.split() if w not in STOPWORDS)`` — case-sensitive token
  membership against the (lowercase) NLTK English list, applied BEFORE the fold.
- ASCII fold (batch_georeferencing.py:151, functions.py:264-265):
  ``unicodedata.normalize('NFD', s).encode('ascii', 'ignore').decode('utf-8')``.
- located_at concat (queries.py:32-44):
  ``trim(leading ', ' from replace(a||', '||b||', '||c||', '||d, ', , ', ''))``.
- garbage-locality filter (queries.py:18):
  ``lower(locality) not in ('none', 'unknown', 'no locality data')``.

The fold and the stopword strip are JVM Column expressions, so the record-group
and candidate stages never cross into Python:

- the fold is ``translate`` through a table of the non-ASCII code points whose NFD
  keeps an ASCII character (495 under Unicode 14.0, each to exactly one ASCII
  character), then ``regexp_replace`` drops every remaining non-ASCII code point.
  This equals the reference per string, not only per code point: NFD decomposes
  each character on its own, and canonical reordering only permutes combining
  marks, none of which is ASCII, so the fold of a string is the concatenation of
  the folds of its characters.
- the strip splits on ``str.isspace()`` whitespace (29 code points, spelled out as
  one Java character class because Java's ``\\s`` is ASCII-only) and keeps the
  non-empty, non-stopword tokens, which is ``str.split()`` then the filter.

NULL normalizes to ``''`` under both.
"""

from __future__ import annotations

import functools
import unicodedata

from pyspark.sql import Column
from pyspark.sql import functions as F

# The NLTK English stopword list (public, frozen here for determinism — the
# reference loads it via nltk.corpus.stopwords.words('english'),
# batch_georeferencing.py:125).
ENGLISH_STOPWORDS: tuple[str, ...] = (
    "i", "me", "my", "myself", "we", "our", "ours", "ourselves", "you", "you're",
    "you've", "you'll", "you'd", "your", "yours", "yourself", "yourselves", "he",
    "him", "his", "himself", "she", "she's", "her", "hers", "herself", "it", "it's",
    "its", "itself", "they", "them", "their", "theirs", "themselves", "what",
    "which", "who", "whom", "this", "that", "that'll", "these", "those", "am", "is",
    "are", "was", "were", "be", "been", "being", "have", "has", "had", "having",
    "do", "does", "did", "doing", "a", "an", "the", "and", "but", "if", "or",
    "because", "as", "until", "while", "of", "at", "by", "for", "with", "about",
    "against", "between", "into", "through", "during", "before", "after", "above",
    "below", "to", "from", "up", "down", "in", "out", "on", "off", "over", "under",
    "again", "further", "then", "once", "here", "there", "when", "where", "why",
    "how", "all", "any", "both", "each", "few", "more", "most", "other", "some",
    "such", "no", "nor", "not", "only", "own", "same", "so", "than", "too", "very",
    "s", "t", "can", "will", "just", "don", "don't", "should", "should've", "now",
    "d", "ll", "m", "o", "re", "ve", "y", "ain", "aren", "aren't", "couldn",
    "couldn't", "didn", "didn't", "doesn", "doesn't", "hadn", "hadn't", "hasn",
    "hasn't", "haven", "haven't", "isn", "isn't", "ma", "mightn", "mightn't",
    "mustn", "mustn't", "needn", "needn't", "shan", "shan't", "shouldn",
    "shouldn't", "wasn", "wasn't", "weren", "weren't", "won", "won't", "wouldn",
    "wouldn't",
)

GARBAGE_LOCALITIES = ("none", "unknown", "no locality data")

# the code points str.isspace() accepts, as one Java character class
_WS_CLASS = r"[\t\n\x0B\f\r\x1C-\x20\x85\xA0\u1680\u2000-\u200A\u2028\u2029\u202F\u205F\u3000]"


@functools.cache
def _fold_table() -> tuple[str, str]:
    """(FROM, TO) for ``translate``: each non-ASCII code point whose NFD keeps an
    ASCII character, and that character. Built on the driver at first use (a
    fraction of a second), so Python workers that import this module never
    build it."""
    src, dst = [], []
    for cp in range(0x80, 0x110000):
        c = chr(cp)
        # a character already in NFD is itself, and non-ASCII: it folds to ''
        if unicodedata.is_normalized("NFD", c):
            continue
        kept = unicodedata.normalize("NFD", c).encode("ascii", "ignore").decode("ascii")
        if kept:
            src.append(c)
            dst.append(kept)
    return "".join(src), "".join(dst)


def strip_stopwords(col: Column) -> Column:
    """Drop exact (case-sensitive) NLTK stopword tokens; single-space the rest."""
    words = F.split(F.coalesce(col, F.lit("")), _WS_CLASS + "+")
    kept = F.filter(words, lambda w: (w != "") & ~w.isin(*ENGLISH_STOPWORDS))
    return F.array_join(kept, " ")


def ascii_fold(col: Column) -> Column:
    """NFD-normalize then drop non-ASCII (reference fold, byte-for-byte)."""
    src, dst = _fold_table()
    folded = F.translate(F.coalesce(col, F.lit("")), src, dst)
    return F.regexp_replace(folded, r"[^\x00-\x7F]", "")


def located_at(*cols: Column) -> Column:
    """Hierarchical place string with empty-segment collapse (queries.py:32-44).

    SQL original: ``trim(leading ', ' FROM replace(a||', '||b||', '||c, ', , ', ''))``.
    Built entirely from JVM functions (codegen-friendly).
    """
    joined = F.concat_ws(", ", *[F.coalesce(c, F.lit("")) for c in cols])
    # postgres replace() is a single pass; repeated empties need two passes at most
    # for the reference's 4-column usage — replicate the single-pass semantics.
    collapsed = F.regexp_replace(joined, r", , ", ", ")
    return F.regexp_replace(collapsed, r"^(, )+", "")


def garbage_locality_filter(col: Column) -> Column:
    """P2: keep rows whose lowercase locality is not a known garbage value."""
    return ~F.lower(col).isin(list(GARBAGE_LOCALITIES))


def normalize_key(col: Column) -> Column:
    """Deterministic blocking/group key: lower + trim + whitespace collapse (JVM)."""
    return F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")
