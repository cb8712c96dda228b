"""Blocked fuzzy similarity join — THE core operator (J1/J2).

Reference semantics (batch_georeferencing/functions.py:258-309):
- score1 = partial_ratio(locality, candidate_name_ascii)            (:272)
- score2 = token_set_ratio(locality_nostop_ascii, candidate_name_ascii) (:277)
- score_state = partial_ratio(stateprovince, candidate_state_ascii) (:289)
- keep pairs with score1 + score2 > 140                             (:292)

The reference achieves tractability by *blocking*: candidates are fetched per
(species, country[, state]) before scoring (batch_georeferencing.py:129-499,
SURVEY.md O1). Here blocking is an equi-join on the block key (lang plays
countrycode) between the distinct query side and the broadcast distinct name
side — the one physical path, so a hot block key never shuffles.

Scale design (100 TB):
1. **Dedup-before-score**: groups and candidates repeat the same (query, name)
   strings many times. Scoring runs over DISTINCT queries × DISTINCT names per
   block — the distinct query side is repartitioned round-robin and the distinct
   name side broadcast-joined onto it, so the pair space is generated, scored,
   and threshold-filtered in ONE fully parallel stage with no pair-level shuffle.
2. **Vectorized scoring, once per pair**: every kernel runs in one opaque
   ``mapInArrow`` pass (:func:`_map_scores`) that reads the batch's string
   columns straight from Arrow (no pandas), appends the scores and, for J1,
   yields only pairs with score1 + score2 > threshold. A scoring UDF in a
   projection ran twice: Catalyst pushes filters on its output below the
   projection (NOTES lesson 9). The bit-parallel LCS DP runs as uint64 numpy
   ops over the whole batch (functions/fuzzy_batch.py), chunked to stay
   L2-resident. No per-row Python dispatch (input_hint).
3. **Threshold-before-join-back**: only surviving pairs (orders of magnitude
   fewer) join back as groups ⋈ pairs ⋈ candidates — the blocked cross product
   is never materialized, and both join-backs are broadcast-able (AQE promotes
   them from measured runtime sizes). This replaces the reference's pg_trgm GIN
   index role (SURVEY.md O4) with blocking + dedup + vectorization.
4. **State scores deduplicated** the same way: distinct (state, province) pairs
   scored once, broadcast back.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

from ..functions import fuzzy, fuzzy_batch

FUZZY_SUM_THRESHOLD = 140.0  # functions.py:292 (score1 + score2 > 140)


def _char_counts(s: str) -> dict[str, int]:
    d: dict[str, int] = {}
    for ch in s:
        d[ch] = d.get(ch, 0) + 1
    return d


def _msect(ca: dict[str, int], cb: dict[str, int]) -> int:
    if len(cb) < len(ca):
        ca, cb = cb, ca
    return sum(min(v, cb[k]) for k, v in ca.items() if k in cb)


def score_pair(
    q_full: str, q_nostop: str, name: str, threshold: float | None = FUZZY_SUM_THRESHOLD
) -> tuple[float, float]:
    """(partial_ratio(q_full, name), token_set_ratio(q_nostop, name)).

    When ``threshold`` is set, pairs provably below it short-circuit to (0, 0) —
    sound ONLY under a downstream ``score1 + score2 > threshold`` filter (the
    returned zeros land below any nonnegative threshold, so the row is dropped
    either way). Bounds: for any alignment window w (full OR boundary-clipped),
    LCS(s, w) ≤ min(msect, |w|) where msect is the multiset char intersection
    of the two full strings, so 200·LCS/(|s|+|w|) ≤ 200·msect/(|s|+msect)
    (maximized at |w| = msect); with zero shared characters every token_set
    reconstruction ratio is 0 too (empty/empty edge cases handled first).
    """
    if threshold is not None and q_full and name:
        ca = _char_counts(q_full)
        cb = _char_counts(name)
        ms = _msect(ca, cb)
        if ms == 0:
            # score1 = 0 for sure; score2 = 0 unless q_nostop shares chars or is
            # empty (empty-vs-nonempty token_set is 0 as well, so only the
            # both-empty case below can score).
            if q_nostop and _msect(_char_counts(q_nostop), cb) == 0:
                return 0.0, 0.0
        else:
            ls = max(min(len(q_full), len(name)), 1)
            bound1 = 200.0 * ms / (ls + ms)
            if bound1 + 100.0 <= threshold:
                # even a perfect score2 cannot lift the sum over the threshold
                return 0.0, 0.0
    s1 = fuzzy.partial_ratio(q_full, name)
    s2 = fuzzy.token_set_ratio(q_nostop, name)
    return s1, s2


def _score_batch(
    qf: list[str], qn: list[str], nm: list[str], threshold: float
) -> tuple[np.ndarray, np.ndarray]:
    """(score1, score2) of each pair, vectorized (functions/fuzzy_batch.py):
    the bit-parallel LCS DP runs as uint64 numpy ops across the whole batch.

    Exact for every pair that can pass ``score1 + score2 > threshold``; the
    caller (:func:`_score_batches`) applies that filter to these scores in the
    same pass. The cheap token_set kernel runs FIRST and the expensive
    window-scanning partial_ratio runs only for pairs that could still pass:
    score1 ≤ 100 always, so score2 ≤ threshold − 100 means the pair is dropped
    either way and its score1 short-circuits to 0 — the same soundness
    argument as :func:`score_pair`'s scalar prune. On blocked pair spaces most
    pairs are dissimilar, so most skip the partial_ratio scan entirely."""
    n = len(qf)
    # 4k-pair chunks keep each worker's bitmask tables L2-resident; full-batch
    # vectors thrash the shared LLC when every core scores at once (measured
    # 2x loss at 32 cores on one socket)
    chunk = 4000
    s1 = np.zeros(n, dtype=np.float64)
    s2 = np.empty(n, dtype=np.float64)
    for i in range(0, n, chunk):
        j = min(i + chunk, n)
        s2[i:j] = fuzzy_batch.batch_token_set_ratio(qn[i:j], nm[i:j])
    need = np.nonzero(s2 > threshold - 100.0)[0]
    if len(need):
        # window-scan cost per chunk is max(len(name)) · max(len(query)) over
        # the CHUNK: length-sort the surviving pairs so same-length pairs
        # share chunks and no short pair pays a long pair's window count
        # (per-pair results are independent — order is a pure perf knob)
        order = need[np.argsort([len(nm[k]) * 64 + len(qf[k]) for k in need], kind="stable")]
        for i in range(0, len(order), chunk):
            sub = order[i : i + chunk]
            s1[sub] = fuzzy_batch.batch_partial_ratio(
                [qf[k] for k in sub], [nm[k] for k in sub]
            )
    return s1, s2


def _texts(rb: pa.RecordBatch, col: str) -> list[str]:
    """One string column of an Arrow batch as Python strs, NULL → '' (the
    kernels score a NULL string as '')."""
    return [s or "" for s in rb.column(col).to_numpy(zero_copy_only=False).tolist()]


def _score_batches(
    batches: Iterator[pa.RecordBatch],
    kernel: Callable,
    cols: list[str],
    out: list[str],
    threshold: float | None = None,
) -> Iterator[pa.RecordBatch]:
    """The ``mapInArrow`` body of every fuzzy kernel: each batch passes
    through with ``kernel(*cols)`` appended as the DoubleType columns ``out``.

    With a ``threshold`` the kernel is :func:`_score_batch`, which receives it
    for its prune, and only rows with ``score1 + score2 > threshold`` are
    yielded — the prune and the filter it is sound under live in this one
    pass. Without one, ``kernel`` is a one-score ``fuzzy_batch`` ratio and
    every row is yielded."""
    for rb in batches:
        texts = [_texts(rb, c) for c in cols]
        scores = [kernel(*texts)] if threshold is None else kernel(*texts, threshold)
        rb = pa.RecordBatch.from_arrays(
            [*rb.columns, *map(pa.array, scores)], names=[*rb.schema.names, *out]
        )
        yield rb if threshold is None else rb.filter(pa.array(sum(scores) > threshold))


def _map_scores(
    df: DataFrame,
    kernel: Callable,
    cols: list[str],
    out: list[str],
    threshold: float | None = None,
) -> DataFrame:
    """``df`` with ``out`` appended by :func:`_score_batches`, scoring each row
    exactly once. The pass is one opaque ``mapInArrow`` node: unlike a
    Python UDF in a projection, no filter on its scores (an explicit one or an
    ``isnotnull`` inferred from a join) can be pushed below it and make
    Catalyst evaluate the kernel a second time (NOTES lesson 9)."""

    def scores(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        return _score_batches(batches, kernel, cols, out, threshold)

    scores.__name__ = kernel.__name__  # the plan names the node after its kernel
    schema = StructType([*df.schema.fields, *(StructField(c, DoubleType()) for c in out)])
    return df.mapInArrow(scores, schema)


def fuzzy_candidate_join(
    groups: DataFrame,
    candidates: DataFrame,
    block_keys: list[str] | None = None,
    query_col: str = "mention_folded",
    query_nostop_col: str = "mention_nostop_folded",
    name_col: str = "name_folded",
    state_query_col: str = "state",
    state_cand_col: str = "stateprovince_folded",
    threshold: float = FUZZY_SUM_THRESHOLD,
) -> DataFrame:
    """Blocked fuzzy theta-join: groups × candidates within block, scored and
    thresholded (functions.py:258-292).

    Returns groups ⋈ candidates columns + score1, score2, score_state. Equal to
    scoring the blocked groups × candidates product directly
    (tests/test_fuzzy_join_paths.py keeps that product as its reference).
    """
    block_keys = block_keys or ["lang"]
    # Dedup-before-score, restated for scale:
    # 1. the pair space is DISTINCT queries × DISTINCT names per block —
    #    both tiny relative to their source tables. The query side is
    #    repartitioned round-robin BEFORE the pair join, so the exploded
    #    pairs are born spread across 2×parallelism partitions and the
    #    scoring pass (threshold filter included) runs in that same stage: no
    #    pair-level shuffle, no distinct over the pair set, and AQE's
    #    byte-based coalescing never sees (and can't starve) the
    #    Python-expensive stage. Hot block keys never shuffle either.
    # 2. the threshold filter runs on scored pairs BEFORE any join-back —
    #    the surviving set is orders of magnitude smaller.
    # 3. the final result is groups ⋈ pairs ⋈ candidates in THAT order —
    #    the blocked (groups × candidates) product is never materialized;
    #    both join-backs are broadcast-able (AQE promotes from runtime
    #    sizes) and equality on (block key, query/name) keeps exact
    #    blocking semantics.
    # n_d is broadcast: it is the DISTINCT name set, far smaller than the
    # gazetteer (SCALE.md: a vocabulary past broadcast range is unmeasured).
    q_d = groups.select(*block_keys, query_col, query_nostop_col).distinct()
    n_d = candidates.select(*block_keys, name_col).distinct()
    parallelism = groups.sparkSession.sparkContext.defaultParallelism
    pairs = q_d.repartition(2 * parallelism).join(F.broadcast(n_d), on=block_keys)
    pair_cols = [query_col, query_nostop_col, name_col]
    scored_pairs = _map_scores(pairs, _score_batch, pair_cols, ["score1", "score2"], threshold)
    scored = groups.join(scored_pairs, on=[*block_keys, query_col, query_nostop_col]).join(
        candidates, on=[*block_keys, name_col]
    )
    # state similarity, same dedup-before-score treatment: the distinct
    # (state, stateprovince) pair set is tiny (admin vocabularies), so one
    # small scoring pass + a broadcast join-back replaces scoring every result
    # row. The pair set is built from the join INPUTS (distinct states ×
    # distinct candidate provinces), not from `scored`, so the expensive
    # subtree is never referenced twice.
    q_s = groups.select(F.col(state_query_col)).distinct()
    n_s = candidates.select(F.col(state_cand_col)).distinct()
    sds = _map_scores(
        q_s.crossJoin(F.broadcast(n_s)),
        fuzzy_batch.batch_partial_ratio,
        [state_query_col, state_cand_col],
        ["score_state"],
    )
    return scored.join(F.broadcast(sds), on=[state_query_col, state_cand_col])


def fuzzy_mean_join(
    groups: DataFrame,
    candidates: DataFrame,
    block_keys: list[str] | None = None,
    query_col: str = "mention_folded",
    name_col: str = "name_folded",
    state_query_col: str = "state",
    state_cand_col: str = "stateprovince_folded",
    method: str = "partial",
    threshold: float = 80.0,
) -> DataFrame:
    """J2 — the older engine's variant (old/shiny/match_localities/match_SI_GBIF.py:43-71):
    score = (locality_sim + state_sim) / 2, keep > threshold; method switches
    partial_ratio vs token_set_ratio (:55,64).

    J2 gets the same scale treatment as J1 (:func:`fuzzy_candidate_join`):
    both similarity kernels score DISTINCT string pairs, never the blocked
    groups × candidates product —

    1. locality scores run over distinct (block key, query, name) with the
       query side explicitly repartitioned and the distinct name side
       broadcast, so the scoring stage is fully parallel (AQE's byte-based
       coalescing never sees it) and nothing pair-product-sized shuffles;
    2. state scores run over the tiny distinct (state, province) cross;
    3. the mean + threshold apply on the distinct 4-tuple space — orders of
       magnitude smaller than the result on repetitive web text — and only
       surviving tuples join back (groups ⋈ tuples ⋈ candidates, both
       join-backs AQE-decided).

    Identical results to scoring the blocked product by construction (the
    score is a pure function of the four strings; tests/test_fuzzy_join_paths.py
    pins it against that product, including NULL text columns): the four text
    columns are joined on internal NULL→'' coalesced keys, matching the
    kernels' own NULL → '' — a NULL name/state is scored as '', never
    silently dropped.
    """
    block_keys = block_keys or ["lang"]
    kernel = (
        fuzzy_batch.batch_partial_ratio if method == "partial" else fuzzy_batch.batch_token_set_ratio
    )
    parallelism = groups.sparkSession.sparkContext.defaultParallelism

    def _nn(c: str) -> Column:
        return F.coalesce(F.col(c).cast("string"), F.lit(""))

    g = groups.withColumn("_j2q", _nn(query_col)).withColumn("_j2s", _nn(state_query_col))
    c = candidates.withColumn("_j2n", _nn(name_col)).withColumn("_j2p", _nn(state_cand_col))
    q_d = g.select(*block_keys, "_j2q", "_j2s").distinct()
    n_d = c.select(*block_keys, "_j2n", "_j2p").distinct()
    # locality kernel over distinct (block, query) × distinct (block, name):
    # generate-in-place above an explicit repartition (NOTES.md lesson 1 — a
    # compute-heavy UDF over a small-byte set must not be byte-coalesced)
    loc_pairs = (
        q_d.select(*block_keys, "_j2q")
        .distinct()
        .repartition(2 * parallelism)
        .join(F.broadcast(n_d.select(*block_keys, "_j2n").distinct()), on=block_keys)
    )
    loc_scored = _map_scores(loc_pairs, kernel, ["_j2q", "_j2n"], ["_sloc"])
    # state kernel over the tiny distinct (state, province) cross
    st_pairs = g.select("_j2s").distinct().crossJoin(F.broadcast(c.select("_j2p").distinct()))
    st_scored = _map_scores(st_pairs, kernel, ["_j2s", "_j2p"], ["_sst"])
    # distinct 4-tuple space: attach each name's provinces and each query's
    # states (JVM-only joins), combine the two score maps, threshold BEFORE
    # any join-back
    surviving = (
        loc_scored.join(n_d, on=[*block_keys, "_j2n"])
        .join(q_d, on=[*block_keys, "_j2q"])
        .join(F.broadcast(st_scored), on=["_j2s", "_j2p"])
        .withColumn("score", (F.col("_sloc") + F.col("_sst")) / F.lit(2.0))
        .where(F.col("score") > F.lit(threshold))
        .drop("_sloc", "_sst")
    )
    return (
        g.join(surviving, on=[*block_keys, "_j2q", "_j2s"])
        .join(c, on=[*block_keys, "_j2n", "_j2p"])
        .drop("_j2q", "_j2s", "_j2n", "_j2p")
    )
