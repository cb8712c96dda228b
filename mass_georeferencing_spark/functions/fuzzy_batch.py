"""Batch-vectorized fuzzy kernels: bit-parallel LCS across a whole Arrow batch.

The scalar kernels (functions/fuzzy.py) cost ~0.3 ms/pair in Python — fine for
thousands of pairs, fatal for billions. Locality strings are short (a folded
mention/name is < 64 chars), so the Allison-Dix bit vector of EVERY pair fits
one uint64 and the DP scan vectorizes across the batch:

- per batch, characters are dictionary-encoded (any unicode, pad=0);
- the pattern bitmasks of all pairs form one (n, vocab) uint64 table built with
  ``np.bitwise_or.at``;
- the scan loops over CHARACTER POSITIONS (≤ 63 python iterations), each step an
  elementwise uint64 op over all n pairs — ~100× less Python dispatch than the
  per-pair loop.

Pairs with strings longer than MAXLEN (63) fall back to the scalar kernels, so
results are bit-identical to functions/fuzzy.py for every input (pinned by
tests/test_fuzzy_batch.py property tests).
"""

from __future__ import annotations

import numpy as np

from . import fuzzy

MAXLEN = 63

_POP16 = np.array([bin(i).count("1") for i in range(1 << 16)], dtype=np.uint16)
_U16 = np.uint64(16)
_U32 = np.uint64(32)
_U48 = np.uint64(48)
_MASK16 = np.uint64(0xFFFF)
_ONE = np.uint64(1)


def _popcount64(v: np.ndarray) -> np.ndarray:
    return (
        _POP16[(v & _MASK16).astype(np.int64)].astype(np.int64)
        + _POP16[((v >> _U16) & _MASK16).astype(np.int64)]
        + _POP16[((v >> _U32) & _MASK16).astype(np.int64)]
        + _POP16[(v >> _U48).astype(np.int64)]
    )


def _char_matrix(strings: list[str], max_len: int) -> np.ndarray:
    """(n, max_len) uint32 matrix of char code + 1, 0-padded — one numpy view,
    no per-char Python. The +1 keeps NUL (code 0, which numpy also pads
    with) a character of its own, distinct from padding and from every other
    character."""
    w = max(max_len, 1)
    m = np.array(strings, dtype=f"U{w}").view(np.uint32).reshape(len(strings), w)
    lens = np.fromiter(map(len, strings), dtype=np.int64, count=len(strings))
    return np.where(np.arange(w)[None, :] < lens[:, None], m + np.uint32(1), np.uint32(0))


def _encode(strings: list[str], max_len: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Dictionary-encode strings → (codes (n, max_len) int64 padded with 0,
    lengths (n,), sorted unique charcode vocab). Fully vectorized: charcode
    matrix view + np.unique + searchsorted. vocab[0] is the pad (0)."""
    m = _char_matrix(strings, max_len)
    lengths = (m != 0).sum(axis=1)
    uniq = np.unique(m)
    if len(uniq) == 0 or uniq[0] != 0:
        uniq = np.concatenate([np.zeros(1, dtype=m.dtype), uniq])
    codes = _lookup(uniq, m)
    return codes, lengths, uniq


def _lookup(uniq: np.ndarray, m: np.ndarray) -> np.ndarray:
    """charcode matrix → vocab index; unseen → 0. Direct LUT when charcodes are
    small (the common case), searchsorted fallback for exotic unicode."""
    max_code = int(uniq[-1]) if len(uniq) else 0
    if max_code < (1 << 20):
        lut = np.zeros(max_code + 2, dtype=np.int32)
        lut[uniq] = np.arange(len(uniq), dtype=np.int32)
        clipped = np.minimum(m, max_code + 1)
        return lut[clipped]
    idx = np.searchsorted(uniq, m)
    idx[idx >= len(uniq)] = 0
    miss = uniq[idx] != m
    idx[miss] = 0
    return idx


def _encode_with_vocab(strings: list[str], max_len: int, uniq: np.ndarray) -> np.ndarray:
    """Encode against an existing vocab; unseen chars → 0 (can never match)."""
    return _lookup(uniq, _char_matrix(strings, max_len))


def _pattern_masks(codes: np.ndarray, lengths: np.ndarray, vocab_size: int) -> np.ndarray:
    """(n, vocab) uint64 bitmask table: bit p set in pm[i, c] iff pattern i has
    char c at position p. Column 0 (pad) stays 0."""
    n, max_len = codes.shape
    pm = np.zeros((n, vocab_size), dtype=np.uint64)
    rows = np.arange(n)
    for p in range(max_len):
        valid = lengths > p
        if not valid.any():
            break
        np.bitwise_or.at(pm, (rows[valid], codes[valid, p]), _ONE << np.uint64(p))
    pm[:, 0] = 0
    return pm


def _lcs_scan(
    pm: np.ndarray, mask: np.ndarray, pat_len: np.ndarray, txt_codes: np.ndarray, txt_len: np.ndarray
) -> np.ndarray:
    """Vectorized Allison-Dix: LCS length of each pattern vs its text."""
    n = pm.shape[0]
    rows = np.arange(n)
    v = mask.copy()
    for j in range(txt_codes.shape[1]):
        active = txt_len > j
        if not active.any():
            break
        mm = pm[rows, txt_codes[:, j]]
        vn = ((v + (v & mm)) | (v & ~mm)) & mask
        v = np.where(active, vn, v)
    return pat_len - _popcount64(v & mask)


def batch_ratio(a_list: list[str], b_list: list[str]) -> np.ndarray:
    """Vectorized fuzzy.ratio over pairs; exact scalar fallback for long strings."""
    n = len(a_list)
    out = np.zeros(n, dtype=np.float64)
    la = np.fromiter((len(a) for a in a_list), dtype=np.int64, count=n)
    lb = np.fromiter((len(b) for b in b_list), dtype=np.int64, count=n)
    both_empty = (la == 0) & (lb == 0)
    out[both_empty] = 100.0
    vec = (la <= MAXLEN) & ~both_empty
    slow = ~vec & ~both_empty
    if vec.any():
        idx = np.nonzero(vec)[0]
        a_sub = [a_list[i] for i in idx]
        b_sub = [b_list[i] for i in idx]
        max_la = int(la[idx].max(initial=0))
        max_lb = int(lb[idx].max(initial=0))
        a_codes, a_len, vocab = _encode(a_sub, max(max_la, 1))
        b_codes = _encode_with_vocab(b_sub, max(max_lb, 1), vocab)
        pm = _pattern_masks(a_codes, a_len, len(vocab))
        mask = (_ONE << a_len.astype(np.uint64)) - _ONE
        lcs = _lcs_scan(pm, mask, a_len, b_codes, lb[idx])
        out[idx] = 200.0 * lcs / (la[idx] + lb[idx])
    for i in np.nonzero(slow)[0]:
        out[i] = fuzzy.ratio(a_list[i], b_list[i])
    return out


def _boundary_scan(
    pm: np.ndarray,
    mask: np.ndarray,
    ls: np.ndarray,
    ll: np.ndarray,
    txt_codes: np.ndarray,
    rows: np.ndarray,
) -> np.ndarray:
    """Best clipped-window score per pair: max over t in [1, ls-1] of
    ``200·LCS(short, text[:t]) / (ls + t)`` — ONE incremental Allison-Dix scan
    (after t steps v encodes LCS vs the t-prefix). Called twice: forward codes
    give the prefix overhangs, reversed codes the suffix overhangs."""
    m = pm.shape[0]
    best = np.zeros(m, dtype=np.float64)
    if m == 0:
        return best
    v = mask.copy()
    lcs = np.zeros(m, dtype=np.int64)
    ls_u = ls.astype(np.uint64)
    min_ls = int(ls.min())
    max_t = int((ls - 1).max(initial=0))
    for t in range(1, max_t + 1):
        act = ls > t
        if not act.any():
            break
        mm = pm[rows, txt_codes[:, t - 1]]
        w = v & mm
        add = v + w
        # LCS grows by exactly 1 iff the add carries out of the ls-bit mask —
        # no per-step popcount needed (Allison-Dix carry property); v ^ w
        # equals v & ~mm (w ⊆ v), saving the negation temporary
        carry = ((add >> ls_u) & _ONE).astype(np.int64)
        vn = (add | (v ^ w)) & mask
        if t < min_ls:  # every pair still active: skip the where-merges
            v = vn
            lcs = lcs + carry
        else:
            v = np.where(act, vn, v)
            lcs = np.where(act, lcs + carry, lcs)
        score = 200.0 * lcs / (ls + t)
        best = np.where(act & (score > best), score, best)
    return best


def batch_partial_ratio(a_list: list[str], b_list: list[str]) -> np.ndarray:
    """Vectorized fuzzy.partial_ratio — rapidfuzz semantics: full-length
    windows of the longer string plus the clipped boundary alignments
    (prefixes/suffixes shorter than the needle)."""
    n = len(a_list)
    out = np.zeros(n, dtype=np.float64)
    shorts: list[str] = []
    longs: list[str] = []
    vec_idx: list[int] = []
    for i in range(n):
        a, b = a_list[i], b_list[i]
        if len(a) > len(b):
            a, b = b, a
        if len(a) == 0:
            out[i] = 100.0 if len(b) == 0 else 0.0
            continue
        if a in b:
            out[i] = 100.0
            continue
        if len(a) > MAXLEN or len(b) > 4 * MAXLEN:
            out[i] = fuzzy.partial_ratio(a, b)
            continue
        shorts.append(a)
        longs.append(b)
        vec_idx.append(i)
        if len(a) == len(b):
            # equal lengths: clipped alignments are direction-dependent —
            # score both ways and keep the max (rapidfuzz ≥2.1 symmetry)
            shorts.append(b)
            longs.append(a)
            vec_idx.append(i)
    if not vec_idx:
        return out

    m = len(vec_idx)
    ls = np.fromiter((len(s) for s in shorts), dtype=np.int64, count=m)
    ll = np.fromiter((len(s) for s in longs), dtype=np.int64, count=m)
    max_ls = int(ls.max())
    max_ll = int(ll.max())
    s_codes, s_len, vocab = _encode(shorts, max_ls)
    # pad longs far enough that every window slice is in-bounds
    l_codes = _encode_with_vocab(longs, max_ll + max_ls, vocab)
    pm = _pattern_masks(s_codes, s_len, len(vocab))
    mask = (_ONE << ls.astype(np.uint64)) - _ONE
    rows = np.arange(m)
    best = np.zeros(m, dtype=np.int64)
    boundary_best = np.zeros(m, dtype=np.float64)
    ls_u = ls.astype(np.uint64)
    min_ls = int(ls.min())
    n_windows = ll - ls + 1
    max_windows = int(n_windows.max())
    for start in range(max_windows):
        win_active = n_windows > start
        if not win_active.any():
            break
        v = mask.copy()
        if start == 0:
            # window 0's intermediate DP states ARE the prefix-overhang states:
            # after j chars, v encodes LCS(short, long[:j]) — the clipped
            # prefix alignments come for free from this pass (carry property)
            lcs_run = np.zeros(m, dtype=np.int64)
        for j in range(max_ls):
            active = ls > j
            if not active.any():
                break
            mm = pm[rows, l_codes[:, start + j]]
            w = v & mm
            add = v + w
            vn = (add | (v ^ w)) & mask  # v ^ w == v & ~mm (w ⊆ v)
            if start == 0:
                carry = ((add >> ls_u) & _ONE).astype(np.int64)
                if j < min_ls:
                    lcs_run = lcs_run + carry
                else:
                    lcs_run = np.where(active, lcs_run + carry, lcs_run)
                pa = ls > j + 1  # prefix windows strictly shorter than needle
                if pa.any():
                    sc = 200.0 * lcs_run / (ls + j + 1)
                    boundary_best = np.where(
                        pa & (sc > boundary_best), sc, boundary_best
                    )
            if j < min_ls:
                v = vn
            else:
                v = np.where(active, vn, v)
        lcs = ls - _popcount64(v & mask)
        best = np.where(win_active & (lcs > best), lcs, best)
        if (best >= ls).all():
            break
    score = 100.0 * best / ls
    need_boundary = (best < ls) & (ls > 1)
    if need_boundary.any():
        # suffix overhangs: the same incremental scan over REVERSED pattern
        # and text (prefix overhangs were fused into the window-0 pass above)
        s_codes_r = _encode_with_vocab([s[::-1] for s in shorts], max_ls, vocab)
        l_codes_r = _encode_with_vocab([s[::-1] for s in longs], max_ls, vocab)
        pm_r = _pattern_masks(s_codes_r, ls, len(vocab))
        suf = _boundary_scan(pm_r, mask, ls, ll, l_codes_r, rows)
        score = np.where(
            need_boundary, np.maximum(score, np.maximum(boundary_best, suf)), score
        )
    # maximum.at: equal-length pairs contribute two directed entries per index
    np.maximum.at(out, np.asarray(vec_idx), score)
    return out


def _batch_lcs(a_list: list[str], b_list: list[str]) -> np.ndarray:
    """Vectorized LCS lengths. LCS is symmetric, so the shorter string of each
    pair becomes the bit-vector pattern (maximizes ≤MAXLEN coverage); longer
    patterns fall back to the exact scalar DP."""
    n = len(a_list)
    out = np.zeros(n, dtype=np.int64)
    pats: list[str] = []
    txts: list[str] = []
    for i in range(n):
        a, b = a_list[i], b_list[i]
        if len(a) > len(b):
            a, b = b, a
        pats.append(a)
        txts.append(b)
    la = np.fromiter((len(s) for s in pats), dtype=np.int64, count=n)
    lb = np.fromiter((len(s) for s in txts), dtype=np.int64, count=n)
    vec = (la > 0) & (la <= MAXLEN)
    if vec.any():
        idx = np.nonzero(vec)[0]
        a_sub = [pats[i] for i in idx]
        b_sub = [txts[i] for i in idx]
        a_codes, a_len, vocab = _encode(a_sub, int(la[idx].max()))
        b_codes = _encode_with_vocab(b_sub, int(lb[idx].max(initial=1)), vocab)
        pm = _pattern_masks(a_codes, a_len, len(vocab))
        mask = (_ONE << a_len.astype(np.uint64)) - _ONE
        out[idx] = _lcs_scan(pm, mask, a_len, b_codes, lb[idx])
    for i in np.nonzero(~vec & (la > 0))[0]:
        out[i] = fuzzy.lcs_len(pats[i], txts[i])
    return out


def batch_token_set_ratio(a_list: list[str], b_list: list[str]) -> np.ndarray:
    """Vectorized fuzzy.token_set_ratio. Exactness-preserving fast paths:

    - ratio(s0,s1) / ratio(s0,s2) have CLOSED FORMS — s0 (the sorted token
      intersection) is a literal prefix of s1/s2, so LCS(s0,sX) = len(s0);
    - one token set ⊆ the other ⇒ 100.0 (the empty-diff reconstruction equals
      s0, and ratio(s0, s0) = 100 caps the max) — no DP;
    - the s1-vs-s2 DP runs over the DIFF-token tails only: s1 and s2 share the
      literal prefix s0 + ' ', and LCS(p+x, p+y) = len(p) + LCS(x, y) (a
      common subsequence never loses by matching the shared prefix greedily),
      so ratio(s1,s2) = 200·(len(s0)+1+LCS(t1,t2)) / (len(s1)+len(s2)) — the
      same integers as the full-string DP, hence bit-identical floats, with
      shorter scans and fewer >MAXLEN scalar fallbacks.

    Token sets and their sorted order are memoized per distinct string
    (queries repeat across the pair space)."""
    n = len(a_list)
    out = np.zeros(n, dtype=np.float64)
    t1s: list[str] = []
    t2s: list[str] = []
    owner: list[int] = []
    prefs: list[int] = []
    denoms: list[int] = []
    cache: dict[str, tuple[set[str], list[str]]] = {}

    def prep(s: str) -> tuple[set[str], list[str]]:
        v = cache.get(s)
        if v is None:
            st = sorted(set(s.split()))
            v = (set(st), st)
            cache[s] = v
        return v

    for i in range(n):
        ta, sa = prep(a_list[i])
        tb, sb = prep(b_list[i])
        if not ta and not tb:
            out[i] = 100.0
            continue
        if not ta or not tb:
            continue  # 0.0
        dab = [t for t in sa if t not in tb]
        if not dab:
            out[i] = 100.0  # ta ⊆ tb
            continue
        dba = [t for t in sb if t not in ta]
        if not dba:
            out[i] = 100.0  # tb ⊆ ta
            continue
        n_inter = len(sa) - len(dab)
        t1 = " ".join(dab)
        t2 = " ".join(dba)
        if n_inter:
            l0 = sum(len(t) for t in sa if t in tb) + n_inter - 1
            p = l0 + 1  # shared literal prefix of s1/s2 is s0 + ' '
            l1 = p + len(t1)
            l2 = p + len(t2)
            r01 = 200.0 * l0 / (l0 + l1)
            r02 = 200.0 * l0 / (l0 + l2)
            out[i] = r01 if r01 >= r02 else r02
        else:
            p = 0  # s0 empty: s1/s2 ARE the tails; r01 = r02 = 0
            l1 = len(t1)
            l2 = len(t2)
        t1s.append(t1)
        t2s.append(t2)
        owner.append(i)
        prefs.append(p)
        denoms.append(l1 + l2)
    if owner:
        lcs = _batch_lcs(t1s, t2s)
        sc = 200.0 * (np.asarray(prefs, dtype=np.int64) + lcs) / np.asarray(
            denoms, dtype=np.float64
        )
        np.maximum.at(out, np.asarray(owner), sc)
    return out
