"""Deduplication operators for web-scale corpus curation.

Not present in the reference (its A3/A4 GROUP-BY dedup collapses exact duplicate
gazetteer rows, batch_georeferencing/queries.py:32,57) — these extend that family
to the near-duplicate detection a 100 TB Common-Crawl pipeline needs:

- exact: content-hash group-by (one shuffle, map-side combine).
- MinHash + LSH: shingle → k minhashes → b bands; equi-join on (band, band-hash)
  replaces the O(n²) pair space with per-bucket candidate pairs; exact Jaccard
  verify on the survivors only.
- SimHash: 64-bit fingerprints; banded equality probe + Hamming-distance verify
  (popcount of xor — pure JVM bit math).
- n-gram Jaccard: exact verify kernel, also usable standalone within blocks.
- embedding cosine: near-dup pairs above a cosine threshold, JVM-side
  zip_with/aggregate arithmetic (oracle-checkable).

Scale notes: every stage is one equi-join or group-by on a hash key — no cross
join materializes. Minhash/simhash signatures are computed in one Arrow pass
(crc32-based shingle hashing, numpy min-reduction — no per-row Python dispatch).
Band fan-out is b rows per doc (b≈16): bounded, skew-free (hash keys).

Degenerate-bucket guard (the adversarial-100 TB case): a real crawl has
millions of empty / boilerplate pages that all collide in every band, and one
such bucket goes O(n²) in candidate pairs before any verify stage can filter.
Two rails, both on by default:

- docs with NO shingles/tokens emit no LSH rows at all — they are byte-equal
  duplicates of each other, which is :func:`exact_dedup`'s job, not a
  similarity question;
- every banded self-join is capped per bucket (``max_bucket``): bucket sizes
  are counted with a map-side-combining groupBy (the hot key never floods one
  reducer), the few oversized keys are broadcast, and their rows leave the
  pair space via a broadcast anti-join. :func:`lsh_dropped_buckets` reports
  exactly what a cap removed — bounded coverage is never silent.
"""

from __future__ import annotations

import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from .fuzzy_join import _map_scores

MERSENNE_P = (1 << 61) - 1
N_PERMS = 64
N_BANDS = 16  # 4 rows per band

_rng = np.random.RandomState(42)
# a < 2^31 and x < 2^32 (crc32) keep a*x + b < 2^63 + 2^61 inside uint64 — the
# whole (shingles × perms) minhash matrix stays vectorized numpy, no bigints
_PERM_A = _rng.randint(1, 1 << 31, size=N_PERMS, dtype=np.uint64)
_PERM_B = _rng.randint(0, MERSENNE_P, size=N_PERMS, dtype=np.uint64)


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup: md5 content hash → keep min-id representative + multiplicity.
    One shuffle on the hash; count/min combine map-side."""
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_dupes"))
    )


# ---------------------------------------------------------------------------
# shingling + minhash kernels (numpy, Arrow-batch)
# ---------------------------------------------------------------------------


def char_shingles(text: str, k: int = 5) -> set[bytes]:
    b = text.encode("utf-8", "ignore")
    if len(b) <= k:
        return {b} if b else set()
    return {b[i : i + k] for i in range(len(b) - k + 1)}


def _shingle_hashes(sh: set[bytes]) -> np.ndarray:
    """Deterministic 32-bit hashes (crc32) of a shingle set."""
    return np.fromiter((zlib.crc32(s) for s in sh), dtype=np.int64, count=len(sh))


def _signature_from_shingles(sh: set[bytes]) -> np.ndarray:
    h = _shingle_hashes(sh).astype(np.uint64)  # (s,) crc32 < 2^32
    m = (h[:, None] * _PERM_A[None, :] + _PERM_B[None, :]) % np.uint64(MERSENNE_P)
    return m.min(axis=0).astype(np.int64)


def minhash_signature(text: str, k: int = 5) -> np.ndarray:
    """(N_PERMS,) int64 minhash signature via universal hashing
    h_i(x) = (a_i*x + b_i) mod p over crc32 char-shingle hashes — one
    vectorized (shingles × perms) uint64 matrix, min-reduced per permutation."""
    sh = char_shingles(text, k)
    if not sh:
        return np.zeros(N_PERMS, dtype=np.int64)
    return _signature_from_shingles(sh)


def jaccard(a: set[bytes], b: set[bytes]) -> float:
    if not a and not b:
        return 1.0
    if not a or not b:
        return 0.0
    return len(a & b) / len(a | b)


def simhash64(text: str) -> int:
    """64-bit SimHash over word tokens (crc32-seeded splitmix64 per token)."""
    acc = np.zeros(64, dtype=np.int64)
    for w in text.split():
        x = np.uint64(zlib.crc32(w.encode()) + 1)
        # splitmix64 finalizer → well-mixed 64 bits
        x = np.uint64((int(x) + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF)
        z = int(x)
        z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
        z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
        z = z ^ (z >> 31)
        bits = np.fromiter(((z >> i) & 1 for i in range(64)), dtype=np.int64, count=64)
        acc += 2 * bits - 1
    out = 0
    for i in range(64):
        if acc[i] > 0:
            out |= 1 << i
    # map to signed int64 for Spark LongType
    return out - (1 << 64) if out >= (1 << 63) else out


# ---------------------------------------------------------------------------
# Spark operators
# ---------------------------------------------------------------------------

DEFAULT_MAX_BUCKET = 1000  # B docs in one bucket → B(B-1)/2 candidate pairs;
# 1000 keeps the worst bucket under ~5·10^5 pairs while never firing on honest
# near-dup clusters (verify stages handle those sizes easily)


def _oversized_buckets(bands: DataFrame, keys: list[str], max_bucket: int) -> DataFrame:
    """The (few) bucket keys whose row count exceeds ``max_bucket``.

    groupBy (NOT a window): partial counts combine map-side, so the degenerate
    hot key aggregates without funnelling its rows through one reducer."""
    return (
        bands.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("bucket_n"))
        .where(F.col("bucket_n") > max_bucket)
    )


def _cap_buckets(bands: DataFrame, keys: list[str], max_bucket: int | None) -> DataFrame:
    """Remove rows belonging to oversized LSH buckets via a broadcast anti-join
    (the oversized-key set is tiny by construction — it's the pathology list).

    ``bands`` is persisted here because the cap references it twice — the
    bucket-count aggregate AND the anti-join probe. Without the cache the
    expensive signature subtree (mapInPandas / pandas UDF upstream) executes
    twice per action; the broadcast build of ``hot`` materializes the cache,
    and the probe then reads it back (measured ~25% of the minhash bench)."""
    if max_bucket is None:
        return bands
    bands = bands.persist()
    hot = _oversized_buckets(bands, keys, max_bucket).select(*keys)
    return bands.join(F.broadcast(hot), on=keys, how="left_anti")


def lsh_dropped_buckets(
    docs: DataFrame,
    method: str = "minhash",
    max_bucket: int = DEFAULT_MAX_BUCKET,
    **kw,
) -> DataFrame:
    """Report the buckets a cap would drop: (bucket keys…, bucket_n).

    Bounded coverage must never be silent — pipelines that cap should run this
    alongside and log/store the result (it is empty on healthy corpora)."""
    if method == "minhash":
        bands = minhash_bands(docs, **kw)
        keys = ["band", "band_hash"]
    elif method == "simhash":
        bands = _simhash_banded(docs, **kw)
        keys = ["band", "band_val"]
    else:
        raise ValueError(f"unknown LSH method: {method}")
    return _oversized_buckets(bands, keys, max_bucket)


def minhash_bands(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    n_bands: int = N_BANDS,
) -> DataFrame:
    """docs → (doc_id, band, band_hash): b rows per doc (LSH bucket keys)."""
    rows_per_band = N_PERMS // n_bands
    schema = StructType(
        [
            StructField(id_col, docs.schema[id_col].dataType),
            StructField("band", LongType()),
            StructField("band_hash", LongType()),
        ]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, bands, hashes = [], [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                sh = char_shingles(text or "", k)
                if not sh:
                    # shingle-less doc: every such doc is byte-identical to
                    # every other → exact_dedup territory; emitting the
                    # all-zero signature here would build THE degenerate
                    # bucket on a real crawl (millions of empty pages)
                    continue
                sig = _signature_from_shingles(sh)
                for b in range(n_bands):
                    chunk = sig[b * rows_per_band : (b + 1) * rows_per_band]
                    bh = zlib.crc32(chunk.tobytes()) | (b << 32)
                    ids.append(did)
                    bands.append(b)
                    hashes.append(bh)
            yield pd.DataFrame({id_col: ids, "band": bands, "band_hash": hashes})

    parallelism = docs.sparkSession.sparkContext.defaultParallelism
    return (
        docs.select(id_col, text_col)
        # explicit spread before the signature UDF (AQE coalesces by bytes,
        # starving compute-heavy Python stages — same fix as fuzzy_join)
        .repartition(2 * parallelism)
        .mapInPandas(gen, schema)
    )


def minhash_candidate_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
    **kw,
) -> DataFrame:
    """LSH candidate pairs: docs sharing ≥1 band bucket. Output (id_a, id_b),
    id_a < id_b, distinct.

    ``max_bucket`` drops buckets larger than the threshold before the
    self-join (see module docstring); pass ``None`` to disable, and pair with
    :func:`lsh_dropped_buckets` to report what a cap removed."""
    bands = _cap_buckets(
        minhash_bands(docs, text_col, id_col, **kw), ["band", "band_hash"], max_bucket
    )
    a = bands.select(F.col(id_col).alias("id_a"), "band", "band_hash")
    b = bands.select(F.col(id_col).alias("id_b"), "band", "band_hash")
    return (
        a.join(b, on=["band", "band_hash"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def ngram_jaccard_verify(
    pairs: DataFrame,
    docs: DataFrame,
    threshold: float = 0.7,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
) -> DataFrame:
    """Exact char-shingle Jaccard on candidate pairs; keeps pairs ≥ threshold.
    Joins each side's text (hash joins) and scores each pair once in one
    ``mapInArrow`` pass (``fuzzy_join._map_scores``): the ``>=`` filter stays
    above that opaque node, so Catalyst cannot push it below a projection and
    run the kernel twice (NOTES lesson 9)."""
    t_a = docs.select(F.col(id_col).alias("id_a"), F.col(text_col).alias("_ta"))
    t_b = docs.select(F.col(id_col).alias("id_b"), F.col(text_col).alias("_tb"))
    joined = pairs.join(t_a, "id_a").join(t_b, "id_b")

    def jacc(ta: list[str], tb: list[str]) -> np.ndarray:
        return np.array(
            [jaccard(char_shingles(x, k), char_shingles(y, k)) for x, y in zip(ta, tb)],
            dtype=np.float64,
        )

    return (
        _map_scores(joined, jacc, ["_ta", "_tb"], ["jaccard"])
        .where(F.col("jaccard") >= threshold)
        .drop("_ta", "_tb")
    )


def minhash_dedup_pairs(
    docs: DataFrame, threshold: float = 0.7, **kw
) -> DataFrame:
    """MinHash LSH → exact-Jaccard-verified near-duplicate pairs."""
    pairs = minhash_candidate_pairs(docs, **kw)
    return ngram_jaccard_verify(pairs, docs, threshold=threshold)


def duplicate_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_rounds: int = 40,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components over the verified near-dup pair graph: returns
    ``(doc_id, component_id)`` for every id appearing in ``pairs``, with
    ``component_id`` = the component's minimum id — the transitive-closure
    alternative to the greedy higher-id drop (plans/training_prep.py).

    Algorithm: distributed min-label propagation with pointer jumping. Each
    round every node takes ``min(own label, neighbors' labels)``, then
    compresses one pointer hop (``label ← label's label``), so convergence is
    O(log diameter) rounds, not O(diameter) — a 10^6-node duplicate chain
    settles in ~20 rounds (the 10^4-node chain fixture in tests/test_dedup.py
    pins the round count). Labels are monotone non-increasing and bounded by
    the component minimum, so the fixpoint is exact. Per round: one shuffle
    join + aggregation on the EDGE relation (never anything pair-product
    sized) and ONE ``localCheckpoint`` to truncate the iterative lineage
    (same treatment as the kNN ring expansion) — the convergence probe rides
    that same materialization as a ``_changed`` flag column, so it re-scans
    the checkpoint instead of re-joining the previous round's labels.
    ``max_rounds`` is a fail-loud rail: 2^rounds bounds the settled path
    length, so 40 rounds cover any conceivable component; hitting the rail
    raises rather than returning a half-merged labeling.

    ``stats``, when given, receives ``{"rounds": <rounds executed>}`` — the
    observability hook the stress fixtures use to pin the O(log diameter)
    bound.
    """
    edges = (
        pairs.select(F.col(id_a).alias("_src"), F.col(id_b).alias("_dst"))
        .unionByName(pairs.select(F.col(id_b).alias("_src"), F.col(id_a).alias("_dst")))
        # edges is consumed every round (nbr join + changed probe); without a
        # checkpoint each round would re-execute the WHOLE upstream pair plan
        # — LSH banding + the Arrow Jaccard verify — ~2x per round (module
        # rule / NOTES.md lesson 3: persist twice-consumed inputs INSIDE the
        # operator)
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("_src").alias("doc_id"))
        .distinct()
        .withColumn("component_id", F.col("doc_id"))
        .localCheckpoint(eager=True)
    )
    for rnd in range(max_rounds):
        nbr = (
            edges.join(labels, edges["_dst"] == labels["doc_id"])
            .groupBy("_src")
            .agg(F.min("component_id").alias("_nl"))
        )
        stepped = (
            labels.join(nbr, labels["doc_id"] == nbr["_src"], "left")
            .select(
                "doc_id",
                F.col("component_id").alias("_old"),
                F.least(
                    F.col("component_id"), F.coalesce(F.col("_nl"), F.col("component_id"))
                ).alias("component_id"),
            )
        )
        # pointer jump: component_id ← its own current label (path halving)
        hop = stepped.select(
            F.col("doc_id").alias("component_id"), F.col("component_id").alias("_ll")
        )
        final_label = F.least(F.col("component_id"), F.coalesce("_ll", "component_id"))
        # ONE materialization per round: the convergence flag is computed
        # against the carried-along previous label and checkpointed with the
        # new labels, so the isEmpty probe below is a scan of this checkpoint
        # — not another shuffle join against the previous round
        jumped = (
            stepped.join(hop, on="component_id", how="left")
            .select(
                "doc_id",
                final_label.alias("component_id"),
                (final_label != F.col("_old")).alias("_changed"),
            )
            .localCheckpoint(eager=True)
        )
        labels = jumped.select("doc_id", "component_id")
        if jumped.where(F.col("_changed")).isEmpty():
            if stats is not None:
                stats["rounds"] = rnd + 1
            return labels
    raise RuntimeError(
        f"duplicate_components: labels did not settle within max_rounds="
        f"{max_rounds} (pointer jumping bounds settled path length by "
        f"2^rounds — an unsettled graph this deep indicates corrupt pair "
        f"input); raise max_rounds only with evidence"
    )


def simhash_fingerprints(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """docs → (doc_id, simhash) — 64-bit fingerprint per doc."""

    @F.pandas_udf(LongType())
    def sh(texts: pd.Series) -> pd.Series:
        return pd.Series([simhash64(t or "") for t in texts], index=texts.index, dtype="int64")

    parallelism = docs.sparkSession.sparkContext.defaultParallelism
    return docs.select(id_col, text_col).repartition(2 * parallelism).select(
        id_col, sh(F.col(text_col)).alias("simhash")
    )


def _simhash_banded(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_bands: int = 4,
) -> DataFrame:
    """(doc_id, simhash, band, band_val) rows for the pigeonhole probe.
    Token-less docs emit nothing (they'd all collide on simhash 0 — the
    degenerate bucket; exact_dedup owns byte-equal docs)."""
    fp = simhash_fingerprints(
        docs.where(F.length(F.trim(F.col(text_col))) > 0), text_col, id_col
    )
    width = 64 // n_bands
    return fp.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftrightunsigned(F.col("simhash"), i * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("band_val"),
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("bb"),
    ).select(id_col, "simhash", F.col("bb.band").alias("band"), F.col("bb.band_val").alias("band_val"))


def simhash_near_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_bands: int = 4,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """SimHash near-dup pairs: band the 64 bits into ``n_bands`` chunks (pigeonhole:
    hamming ≤ n_bands-1 guarantees an exact band match), probe by band equality,
    verify with JVM popcount(xor) ≤ max_hamming. Buckets over ``max_bucket``
    are dropped pre-join (module docstring; report via lsh_dropped_buckets)."""
    banded = _cap_buckets(
        _simhash_banded(docs, text_col, id_col, n_bands), ["band", "band_val"], max_bucket
    )
    a = banded.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"), "band", "band_val")
    b = banded.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"), "band", "band_val")
    pairs = (
        a.join(b, on=["band", "band_val"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sh_a", "sh_b")
        .distinct()
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return pairs.withColumn("hamming", hamming).where(F.col("hamming") <= max_hamming).select(
        "id_a", "id_b", "hamming"
    )


# ---------------------------------------------------------------------------
# embedding cosine near-dup (pure JVM arithmetic — oracle-checkable)
# ---------------------------------------------------------------------------


def cosine_col(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<double> columns via zip_with + aggregate
    (whole-stage codegen; no Python)."""
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)
    na = F.sqrt(F.aggregate(F.zip_with(a, a, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v))
    nb = F.sqrt(F.aggregate(F.zip_with(b, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v))
    return dot / (na * nb)


def embedding_lsh_near_dup(
    embeddings: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 16,
    n_bands: int = 4,
    seed: int = 42,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Scale path for cosine near-dup: random-hyperplane LSH.

    sign(v·h_i) over ``n_planes`` seeded hyperplanes → a bit signature whose
    Hamming distance estimates the angle; signatures are banded (pigeonhole)
    and candidate pairs join on (band, band bits) — per-bucket quadratic
    instead of global. Exact cosine verifies survivors. Signature bits are
    computed JVM-side (aggregate over a broadcast literal plane matrix), so
    the only Python is none at all.
    """
    rng = np.random.RandomState(seed)
    planes = rng.standard_normal((n_planes, dim))
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    e = embeddings.withColumn("_v", v)
    # bit i = (v · plane_i) >= 0, packed into a long, JVM-only arithmetic
    sig = F.lit(0).cast("long")
    for i in range(n_planes):
        dot = F.aggregate(
            F.zip_with(
                F.col("_v"),
                F.array(*[F.lit(float(x)) for x in planes[i]]),
                lambda a_, b_: a_ * b_,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        sig = sig + F.when(dot >= 0, F.lit(1 << i)).otherwise(F.lit(0))
    e = e.withColumn("_sig", sig)
    width = n_planes // n_bands
    banded = e.select(
        id_col,
        "_v",
        "_sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftrightunsigned(F.col("_sig"), i * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("band_val"),
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("bb"),
    ).select(id_col, "_v", F.col("bb.band").alias("band"), F.col("bb.band_val").alias("band_val"))
    banded = _cap_buckets(banded, ["band", "band_val"], max_bucket)
    a = banded.select(F.col(id_col).alias("id_a"), F.col("_v").alias("_va"), "band", "band_val")
    b = banded.select(F.col(id_col).alias("id_b"), F.col("_v").alias("_vb"), "band", "band_val")
    pairs = (
        a.join(b, on=["band", "band_val"])
        .where(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        pairs.withColumn("cosine", cosine_col(F.col("_va"), F.col("_vb")))
        .where(F.col("cosine") >= threshold)
        .select("id_a", "id_b", F.round(F.col("cosine"), 6).alias("cosine"))
    )


def embedding_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str = "label",
) -> DataFrame:
    """Near-dup vector pairs with cosine ≥ threshold, blocked by ``block_col``
    (cluster/label/LSH bucket) so the pair space stays per-block quadratic, not
    global. All arithmetic JVM-side. Unblocked corpora go through
    :func:`embedding_lsh_near_dup` (banded hyperplane LSH, the scale path)."""
    e = embeddings.withColumn("_v", F.transform(F.col(vec_col), lambda x: x.cast("double")))
    a = e.select(block_col, F.col(id_col).alias("id_a"), F.col("_v").alias("_va"))
    b = e.select(block_col, F.col(id_col).alias("id_b"), F.col("_v").alias("_vb"))
    pairs = a.join(b, on=[block_col]).where(F.col("id_a") < F.col("id_b"))
    return (
        pairs.withColumn("cosine", cosine_col(F.col("_va"), F.col("_vb")))
        .where(F.col("cosine") >= threshold)
        .select("id_a", "id_b", F.round(F.col("cosine"), 6).alias("cosine"))
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    block_cols: list[str] | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact character-n-gram Jaccard near-dup pairs within blocks —
    (id_a, id_b, jaccard) for jaccard ≥ threshold.

    PURE JVM: shingles via a codegen'd sequence+transform+substring expression,
    similarity via array_intersect/array_union — no Python boundary at all, so
    the whole operator is DuckDB-oracle-checkable value-for-value (unlike the
    MinHash path, whose LSH banding is the probabilistic SCALE version of this
    exact kernel). The pair space is quadratic WITHIN a block: use it as the
    verification/small-block tool; route web-scale corpora through
    :func:`minhash_dedup_pairs` (banded LSH) and reserve this for final
    verification of survivor pairs or bounded blocks.
    """
    block_cols = block_cols or []
    sh = docs.select(
        *block_cols,
        F.col(id_col),
        F.expr(
            f"array_distinct(transform(sequence(1, greatest(length({text_col}) - {n - 1}, 1)),"
            f" i -> substring({text_col}, i, {n})))"
        ).alias("_g"),
    )
    a = sh.select(
        *[F.col(c).alias(f"_ba_{c}") for c in block_cols],
        F.col(id_col).alias("id_a"),
        F.col("_g").alias("_ga"),
    )
    b = sh.select(
        *[F.col(c).alias(f"_bb_{c}") for c in block_cols],
        F.col(id_col).alias("id_b"),
        F.col("_g").alias("_gb"),
    )
    cond = [F.col(f"_ba_{c}") == F.col(f"_bb_{c}") for c in block_cols] + [
        F.col("id_a") < F.col("id_b")
    ]
    j = F.size(F.array_intersect(F.col("_ga"), F.col("_gb"))) / F.size(
        F.array_union(F.col("_ga"), F.col("_gb"))
    )
    return (
        a.join(b, on=cond)
        .withColumn("jaccard", F.round(j, 6))
        .where(F.col("jaccard") >= F.lit(threshold))
        .select("id_a", "id_b", "jaccard")
    )
