"""Fuzzy string-similarity kernels (pure Python scalar reference).

Reimplements the scoring family the reference applies row-at-a-time via
``fuzz.partial_ratio`` / ``fuzz.token_set_ratio``
(reference: batch_georeferencing/functions.py:272,277,289). The fuzzywuzzy/rapidfuzz
algorithms are public and well documented; we implement them from scratch:

- ``ratio`` — normalized indel similarity: ``200 * LCS(a,b) / (len(a)+len(b))``,
  equivalent to ``(1 - indel_distance/(len+len)) * 100``. LCS via the Allison-Dix
  bit-parallel algorithm (O(len(b)) bigint word ops per pair).
- ``partial_ratio`` — best ``ratio`` of the shorter string against every
  equal-length window of the longer (classic fuzzywuzzy semantics).
- ``token_set_ratio`` — max ratio over the {intersection, intersection+diff1,
  intersection+diff2} sorted-token reconstructions.

These scalar functions define the scores: the vectorized kernels in
functions/fuzzy_batch.py match them bit-for-bit and fall back to them for long
strings. The fuzzy join scores its distinct (left, right) pairs with those kernels
in one ``mapInArrow`` pass (see operators/fuzzy_join.py).

Scores are floats in [0, 100]; the reference stores them as ints (DB column
``mg_candidates_scores.score int``, database/mass_georef_database.sql:335) — callers
round at write time.
"""

from __future__ import annotations


def lcs_len(a: str, b: str) -> int:
    """Length of the longest common subsequence (bit-parallel Allison-Dix)."""
    m = len(a)
    if m == 0 or len(b) == 0:
        return 0
    if m > len(b):
        a, b = b, a
        m = len(a)
    pm: dict[str, int] = {}
    for i, ch in enumerate(a):
        pm[ch] = pm.get(ch, 0) | (1 << i)
    mask = (1 << m) - 1
    v = mask
    get = pm.get
    for ch in b:
        mm = get(ch, 0)
        v = ((v + (v & mm)) | (v & ~mm)) & mask
    return m - bin(v).count("1")


def indel_distance(a: str, b: str) -> int:
    """Insertion/deletion edit distance (no substitutions)."""
    return len(a) + len(b) - 2 * lcs_len(a, b)


def ratio(a: str, b: str) -> float:
    """Normalized indel similarity in [0, 100]. Both empty -> 100."""
    total = len(a) + len(b)
    if total == 0:
        return 100.0
    return 200.0 * lcs_len(a, b) / total


def _char_masks(a: str) -> dict[str, int]:
    pm: dict[str, int] = {}
    for i, ch in enumerate(a):
        pm[ch] = pm.get(ch, 0) | (1 << i)
    return pm


def _boundary_best(a: str, text: str, max_t: int) -> float:
    """Best ``ratio(a, text[:t])`` over prefix lengths t in [1, max_t] — one
    incremental Allison-Dix scan (after t steps, v encodes LCS(a, text[:t]);
    the LCS grows by 1 exactly when the add carries out of the mask, so no
    per-step popcount)."""
    pm = _char_masks(a)
    la = len(a)
    mask = (1 << la) - 1
    get = pm.get
    v = mask
    lcs = 0
    best = 0.0
    for t in range(1, min(max_t, len(text)) + 1):
        mm = get(text[t - 1], 0)
        add = v + (v & mm)
        lcs += add >> la
        v = (add | (v & ~mm)) & mask
        score = 200.0 * lcs / (la + t)
        if score > best:
            best = score
    return best


def partial_ratio(a: str, b: str) -> float:
    """Best ratio of the shorter string vs every contiguous alignment of the
    longer — rapidfuzz ``fuzz.partial_ratio`` semantics: every full-length
    window of the longer PLUS the clipped boundary alignments (prefixes
    ``b[:t]`` and suffixes ``b[-t:]`` with t < len(shorter)), e.g.
    partial_ratio('bcx', 'abc') = ratio('bcx', 'bc') = 80.

    Equal-length inputs score BOTH directions and keep the max (clipped
    alignments make a single direction asymmetric; rapidfuzz ≥2.1 does the
    same).

    Reference call sites: batch_georeferencing/functions.py:272 (locality vs
    candidate name) and :289 (stateprovince). Empty-vs-nonempty -> 0 (a query
    with no text cannot match; pinned deviation, SURVEY.md §7.3), both
    empty -> 100.
    """
    if len(a) > len(b):
        a, b = b, a
    la, lb = len(a), len(b)
    if la == 0:
        return 100.0 if lb == 0 else 0.0
    if a in b:
        return 100.0
    if la == lb:
        return max(_partial_ratio_one(a, b), _partial_ratio_one(b, a))
    return _partial_ratio_one(a, b)


def _partial_ratio_one(a: str, b: str) -> float:
    """One-direction partial ratio: ``a`` is the needle (len(a) ≤ len(b))."""
    la, lb = len(a), len(b)
    # full-length windows: bit-parallel LCS of `a` against each b[i:i+la]
    pm = _char_masks(a)
    mask = (1 << la) - 1
    get = pm.get
    best = 0
    for start in range(0, lb - la + 1):
        v = mask
        for ch in b[start : start + la]:
            mm = get(ch, 0)
            v = ((v + (v & mm)) | (v & ~mm)) & mask
        lcs = la - bin(v).count("1")
        if lcs > best:
            best = lcs
            if best == la:
                break
    score = 100.0 * best / la
    if best < la and la > 1:
        # clipped boundary alignments (the shorter string overhanging either
        # end of the longer): prefixes b[:t] and suffixes b[-t:], t < la
        score = max(
            score,
            _boundary_best(a, b, la - 1),
            _boundary_best(a[::-1], b[::-1], la - 1),
        )
    return score


def token_set_ratio(a: str, b: str) -> float:
    """Classic token_set_ratio: compare sorted-token set reconstructions.

    Reference call site: batch_georeferencing/functions.py:277 (stopword-stripped,
    ASCII-folded locality vs candidate name).
    """
    ta = set(a.split())
    tb = set(b.split())
    if not ta and not tb:
        return 100.0
    if not ta or not tb:
        return 0.0
    inter = sorted(ta & tb)
    d_ab = sorted(ta - tb)
    d_ba = sorted(tb - ta)
    s0 = " ".join(inter)
    s1 = (s0 + " " + " ".join(d_ab)).strip()
    s2 = (s0 + " " + " ".join(d_ba)).strip()
    if inter and not d_ab and not d_ba:
        return 100.0
    return max(ratio(s0, s1), ratio(s0, s2), ratio(s1, s2))
