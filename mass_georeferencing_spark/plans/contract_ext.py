"""Driver-contract batch 2: corpus-curation + remaining relational operators.

Merged into __spark_entry__.queries()/oracle_sql(). Same rules: every Spark
callable has a DuckDB twin unless the op is not ANSI-SQL-expressible.
Round 3 narrowed that set to the fuzzy DP kernels only: hyperplane-LSH
near-dup, IVF top-k (seeds → Lloyd → probe) and trigram language-ID are
expressed in PURE DuckDB SQL (hyperplane/centroid math via list_dot_product —
empirically the same sequential IEEE fold as the JVM `aggregate`; trigram
profiles via generate_series+substr with the Counter.most_common
first-occurrence tie-break reproduced as min(doc_ord, pos)), and the
crc32-based minhash/simhash LSH pipelines via a recursive-CTE byte fold over
the IEEE CRC-32 table plus HUGEINT splitmix64 (valid on this ASCII corpus —
see the preamble comment at :func:`_minhash_oracle_sql`). Since round 4 no
rows-only entries remain: the fuzzy DP rows (j1/j2) run under the
recursive-CTE bit-parallel LCS oracle (plans/oracle_fuzzy.py) and the
streaming row under the same kernels over its deterministic batch-equivalent
set — every driver row is a full rows+schema+value-hash check.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import decontam, dedup, multimodal, sampling, similarity, textstats, zonal
from ..operators.record_groups import build_record_groups, group_id
from ..sources import synthetic as syn
from ..sources.tables import load_table


def _sql_quote(w: str) -> str:
    return "'" + w.replace("'", "''") + "'"


_STOPS_SQL = "[" + ", ".join(_sql_quote(w) for w in textstats.ENGLISH_STOPWORDS) + "]"


# ---------------------------------------------------------------------------
# Spark callables
# ---------------------------------------------------------------------------


def _q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dedup(load_table(spark, sf_dir, "documents"))


# decontamination benchmark: every 37th doc's text; 5-gram overlap (short
# synthetic docs — production default is n=13). The members themselves are
# contaminated by construction, plus every doc sharing template vocabulary.
_DECONTAM_N = 5

# corpus-mix rates for the stratified-sample contract row: downsample the
# dominant stratum, keep a curated one whole, drop one entirely (fail-closed
# is also the default for unlisted strata)
_MIX_RATES = {"en": 0.6, "de": 0.3, "es": 1.0, "fr": 0.0, "zh": 0.15}


def _q_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the surviving (decontaminated) corpus — benchmark grams broadcast,
    # semi→anti join on doc_id (operators/decontam.py)
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 37 == 0).select("text")
    return decontam.decontaminate(docs, bench, n=_DECONTAM_N).select(
        "doc_id", "lang", "source"
    )


def _q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    # deterministic md5-threshold mix: zero shuffle, engine-portable kept-set
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    return sampling.stratified_sample(docs, _MIX_RATES)


def _q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact char-3-gram Jaccard near-dup pairs within (lang, source) blocks —
    the JVM-only exact kernel whose probabilistic scale version is the MinHash
    LSH path; fully value-oracled (unlike the LSH queries)."""
    return dedup.ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"),
        n=3,
        threshold=0.5,
        block_cols=["lang", "source"],
    )


def _q_emb_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.embedding_near_dup_pairs(
        load_table(spark, sf_dir, "embeddings"), threshold=0.42, block_col="label"
    )


def _q_emb_lsh_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # full driver oracle (pure SQL: inlined plane literals + list_dot_product);
    # independent local oracle: tests/test_rowsonly_oracles.py (python pipeline)
    return dedup.embedding_lsh_near_dup(
        load_table(spark, sf_dir, "embeddings"), threshold=0.42
    )


def _q_ann_brute_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.brute_force_topk(queries, emb, k=5)


def _q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # full driver oracle (pure SQL: seeds → 2 unrolled Lloyd CTE rounds →
    # assignment → probe — list_dot_product cosines, round-9 tie rule);
    # independent local oracle: tests/test_rowsonly_oracles.py;
    # recall-vs-brute pinned in tests/test_similarity.py; n_iters=2 runs the
    # Lloyd centroid refinement under the driver gate
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.ivf_topk(queries, emb, k=5, n_centroids=8, nprobe=3, n_iters=2)


def _q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    out = textstats.quality_metrics(docs)
    return out.withColumn(
        "n_tokens_bpe", textstats.bpe_token_count(F.col("text")).cast("long")
    ).drop("text")


def _q_text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    # composite banded quality score (F9-style when-chains over the metrics)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return textstats.quality_score(docs).select("doc_id", "quality")


def _q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", textstats.content_fingerprint(F.col("text")).alias("fingerprint")
    )


def _q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    # full driver oracle (pure SQL trigram profiles + overlap-score argmax);
    # independent local oracle: tests/test_rowsonly_oracles.py (python classifier)
    docs = load_table(spark, sf_dir, "documents")
    profiles = textstats.build_lang_profiles(docs.limit(200))
    udf = textstats.language_id_udf(profiles)
    return docs.select("doc_id", "lang", udf(F.col("text")).alias("pred_lang"))


def _q_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # full driver oracle (pure SQL: recursive-CTE crc32 + VALUES permutations);
    # independent local oracle: tests/test_rowsonly_oracles.py (DuckDB UDFs)
    docs = load_table(spark, sf_dir, "documents")
    return dedup.minhash_dedup_pairs(docs, threshold=0.5).select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))


def _q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # full driver oracle (pure SQL: crc32 fold + HUGEINT splitmix64);
    # independent local oracle: tests/test_rowsonly_oracles.py (DuckDB UDFs)
    docs = load_table(spark, sf_dir, "documents")
    return dedup.simhash_near_pairs(docs, max_hamming=10)


def _q_zonal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    raster = zonal.rasterize_points(syn.elevation_grid_df(spark, sf_dir), res=3)
    aoi = syn.aoi_wkb_df(spark, sf_dir)
    return zonal.zonal_stats(aoi, raster, res=3)


def _q_j12_signflip_pip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.spatial import pip_join, sign_flip_variants

    m = (
        syn.mentions_df(spark, sf_dir)
        .where(F.col("lat").isNotNull())
        .dropDuplicates(["url"])
        .select("url", "lat", "lon")
    )
    aoi = syn.aoi_wkb_df(spark, sf_dir)
    return pip_join(sign_flip_variants(m), aoi, strategy="broadcast", res=4).select(
        "url", "variant", "polygon_id"
    )


def _q_j12_knn_fallback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J12 leg 2 (functions.R:40-105): points whose sign-flip variants land in
    no polygon — or only in polygons OTHER than their claimed one — probe the
    k nearest polygon centroids for their claimed polygon; a hit reports the
    distance note. k=3 of 5 polygons so the claimed-match filter is
    load-bearing."""
    from ..operators.spatial import signflip_knn_fallback

    m = (
        syn.mentions_df(spark, sf_dir)
        .where(F.col("lat").isNotNull())
        .dropDuplicates(["url"])
        .select("url", "lat", "lon", "doc_id")
    )
    pts = m.withColumn(
        "claimed_polygon", F.concat(F.lit("aoi:"), (F.col("doc_id") % 5).cast("string"))
    ).drop("doc_id")
    aoi = syn.aoi_wkb_df(spark, sf_dir)
    return signflip_knn_fallback(pts, aoi, k=3)


def _q_j10_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    groups = build_record_groups(syn.mentions_df(spark, sf_dir))
    cands = syn.gazetteer_df(spark, sf_dir)
    matched = (
        groups.join(cands, on="lang")
        .where(F.instr(F.col("name"), F.col("mention")) > 0)
        .select("recgroup_id")
    )
    return groups.join(matched, on="recgroup_id", how="left_semi").select(
        "recgroup_id", "lang", "mention"
    )


def _q_j11_export_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-way export star join (export_downloads/export.R:78-117): selected
    candidate (top-1 per group by no_features/uid) ⋈ groups ⋈ gazetteer ⋈ pages."""
    from ..operators.topk import topk_per_group

    groups = build_record_groups(syn.mentions_df(spark, sf_dir))
    cands = syn.gazetteer_df(spark, sf_dir)
    matched = (
        groups.join(cands, on="lang")
        .where(F.instr(F.col("name"), F.col("mention")) > 0)
        .withColumn("candidate_id", group_id(F.col("recgroup_id"), F.col("uid"), F.col("data_source")))
    )
    selected = topk_per_group(
        matched, ["recgroup_id"], ["no_features"], k=1, tiebreak_col="uid"
    ).select("recgroup_id", "candidate_id", "uid", "name", "data_source")
    mentions = syn.mentions_df(spark, sf_dir).select(
        "url", "lang", "mention",
        F.coalesce(F.col("state"), F.lit("")).alias("state"),
    )
    g = groups.select("recgroup_id", "lang", "mention", "state")
    return (
        selected.join(g, on="recgroup_id")
        .join(mentions, on=["lang", "mention", "state"])
        .select("url", "recgroup_id", "candidate_id", "uid", "name", "data_source")
    )


def _q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = multimodal.synthesize_media_from_pages(syn.pages_df(spark, sf_dir))
    return multimodal.decode_and_embed(media).select("media_id", "n_bytes", "content_hash")


def _q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = multimodal.synthesize_media_from_pages(syn.pages_df(spark, sf_dir))
    return multimodal.frame_sample(media, every_s=2.0)


# ---------------------------------------------------------------------------
# contract
# ---------------------------------------------------------------------------


def queries_ext() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "dedup_exact": _q_dedup_exact,
        # round-5 rows (slots freed by retiring the trivial-builtin
        # a9_collect_set and w5_deterministic_sample — see __spark_entry__):
        "decontam": _q_decontam,
        "stratified_sample": _q_stratified_sample,
        "dedup_ngram_jaccard": _q_ngram_jaccard,
        "dedup_minhash_pairs": _q_minhash_pairs,
        "dedup_simhash_pairs": _q_simhash_pairs,
        "emb_near_dup": _q_emb_near_dup,
        "emb_lsh_near_dup": _q_emb_lsh_near_dup,
        "ann_brute_topk": _q_ann_brute_topk,
        "ann_ivf_topk": _q_ann_ivf_topk,
        "text_quality": _q_text_quality,
        # text_quality_score retired from the 50-entry driver budget (round 3,
        # slot given to streaming_fuzzy_microbatch): its unique content is one
        # F9 CASE band over text_quality's metrics — banding evidence is carried
        # by j5_distance_band/j6_knn_elevation and the full value-level oracle
        # lives on in tests/test_textstats.py::test_quality_score_oracle.
        "text_fingerprint": _q_text_fingerprint,
        "text_lang_id": _q_lang_id,
        "zonal_stats": _q_zonal_stats,
        "j12_signflip_pip": _q_j12_signflip_pip,
        "j12_knn_fallback": _q_j12_knn_fallback,
        "j10_semi_join": _q_j10_semi_join,
        "j11_export_join": _q_j11_export_join,
        "multimodal_features": _q_multimodal_features,
        "multimodal_frame_sample": _q_frame_sample,
    }


# DuckDB-dialect haversine twin of functions/geo.py:haversine_col
_HAV = (
    "2.0 * 6371008.8 * asin(sqrt(least(1.0, "
    "pow(sin((radians({lat2}) - radians({lat1})) / 2), 2) + "
    "cos(radians({lat1})) * cos(radians({lat2})) * "
    "pow(sin((radians({lon2}) - radians({lon1})) / 2), 2))))"
)

_COS = (
    "round(list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))), {r})"
)

# unrounded cosine for filters/orderings that round separately
_COS_RAW = (
    "list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
)


def _emb_lsh_oracle_sql(
    threshold: float = 0.42,
    dim: int = 64,
    n_planes: int = 16,
    n_bands: int = 4,
    seed: int = 42,
    max_bucket: int = dedup.DEFAULT_MAX_BUCKET,
) -> str:
    """Pure-SQL twin of dedup.embedding_lsh_near_dup: the seeded hyperplane
    matrix is inlined as repr() double literals (round-trip exact), sign bits
    via list_dot_product (empirically the JVM aggregate's sequential IEEE
    fold), pigeonhole banding via shift/mask, bucket cap via HAVING, exact
    cosine verify on survivors. Mirrors the operator's parameter defaults."""
    import numpy as np

    planes = np.random.RandomState(seed).standard_normal((n_planes, dim))
    width = n_planes // n_bands
    sig_expr = " + ".join(
        "(CASE WHEN list_dot_product(v, ["
        + ", ".join(repr(float(x)) for x in planes[i])
        + f"]) >= 0 THEN {1 << i} ELSE 0 END)"
        for i in range(n_planes)
    )
    cos = _COS_RAW.format(a="va", b="vb")
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, {sig_expr} AS sig FROM embeddings),
banded AS (
  SELECT vec_id, v, r.range AS band, (sig >> (r.range * {width})) & {(1 << width) - 1} AS band_val
  FROM e CROSS JOIN range({n_bands}) r),
capped AS (
  SELECT b.* FROM banded b
  JOIN (SELECT band, band_val FROM banded GROUP BY 1, 2 HAVING count(*) <= {max_bucket}) ok
  USING (band, band_val)),
pairs AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b, a.v AS va, b.v AS vb
  FROM capped a JOIN capped b USING (band, band_val)
  WHERE a.vec_id < b.vec_id)
SELECT id_a, id_b, round({cos}, 6) AS cosine
FROM pairs WHERE {cos} >= {threshold}
"""


def _ivf_oracle_sql(
    k: int = 5, n_centroids: int = 8, nprobe: int = 3, n_iters: int = 2, dim: int = 64
) -> str:
    """Pure-SQL twin of similarity.ivf_topk: deterministic md5-ordered seeds,
    ``n_iters`` unrolled Lloyd rounds (assignment = round-9 cosine argmax CTE;
    new centroid = per-dim member mean via zipped unnest, empty cluster keeps
    its previous position), probe the nprobe nearest centroids per query,
    exact top-k within the probed union. Same round/tie rules as the engine
    (round(cosine, 9) DESC, id ASC)."""
    asg = _COS_RAW.format(a="e.v", b="c.v")

    def assign_cte(cent_cte: str, out: str) -> str:
        return f"""{out} AS (
  SELECT vec_id, cid FROM (
    SELECT e.vec_id, c.cid,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
             ORDER BY round({asg}, 9) DESC, c.cid ASC) AS rn
    FROM e CROSS JOIN {cent_cte} c)
  WHERE rn = 1)"""

    def lloyd_cte(asg_cte: str, prev: str, out: str) -> str:
        return f"""{out} AS (
  SELECT p.cid, coalesce(m.newv, p.v) AS v
  FROM {prev} p LEFT JOIN (
    SELECT cid, list(mv ORDER BY dim) AS newv FROM (
      SELECT a.cid, u.dim, avg(u.val) AS mv
      FROM {asg_cte} a JOIN e ON e.vec_id = a.vec_id,
           (SELECT unnest(generate_series(1, {dim})) AS dim) dims,
           LATERAL (SELECT dims.dim AS dim, e.v[dims.dim] AS val) u
      GROUP BY a.cid, u.dim)
    GROUP BY cid) m ON m.cid = p.cid)"""

    rounds = []
    prev = "cents0"
    for i in range(n_iters):
        rounds.append(assign_cte(prev, f"asg{i}"))
        rounds.append(lloyd_cte(f"asg{i}", prev, f"cents{i + 1}"))
        prev = f"cents{i + 1}"
    rounds.append(assign_cte(prev, "asg_final"))
    qcos = _COS_RAW.format(a="q.v", b="c.v")
    ccos = _COS_RAW.format(a="q.v", b="e.v")
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cents0 AS (
  SELECT vec_id AS cid, v FROM e
  ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC, vec_id ASC LIMIT {n_centroids}),
{",".join(rounds)},
q AS (SELECT vec_id AS query_id, v FROM e WHERE vec_id < 5),
probes AS (
  SELECT query_id, cid FROM (
    SELECT q.query_id, c.cid,
           ROW_NUMBER() OVER (PARTITION BY q.query_id
             ORDER BY round({qcos}, 9) DESC, c.cid ASC) AS rn
    FROM q CROSS JOIN {prev} c)
  WHERE rn <= {nprobe})
SELECT query_id, vec_id, cosine, rank FROM (
  SELECT q.query_id, e.vec_id,
         round({ccos}, 6) AS cosine,
         CAST(ROW_NUMBER() OVER (PARTITION BY q.query_id
           ORDER BY round({ccos}, 9) DESC, e.vec_id ASC) AS INTEGER) AS rank
  FROM asg_final a
  JOIN probes p ON p.cid = a.cid
  JOIN q ON q.query_id = p.query_id
  JOIN e ON e.vec_id = a.vec_id)
WHERE rank <= {k}
"""


def _crc32_table_lit() -> str:
    """The standard CRC-32 (IEEE 802.3, poly 0xEDB88320) byte table as a DuckDB
    list literal — lets pure SQL reproduce zlib.crc32 as a byte fold:
    crc' = (crc >> 8) XOR T[(crc XOR byte) & 255], init/final 0xFFFFFFFF."""
    t = []
    for i in range(256):
        c = i
        for _ in range(8):
            c = (c >> 1) ^ (0xEDB88320 if c & 1 else 0)
        t.append(c)
    return "[" + ",".join(map(str, t)) + "]"


# Shared preamble for the crc32-based dedup oracles. ascii(substr(s,i,1)) is
# the UTF-8 BYTE only for ASCII text — the synthetic documents corpus is pure
# ASCII at every SF (verified octet_length(encode(text)) == length(text)), so
# char-position == byte-position and the SQL fold equals zlib.crc32 exactly.
# Recursive CTEs carry their payload in the tuple and join ONLY the 256-row
# table: a join back to a non-recursive CTE inside the recursive term
# re-evaluates that CTE's subtree once per iteration (measured 12s vs 0.1s).
def _minhash_oracle_sql(
    threshold: float = 0.5,
    k: int = 5,
    n_bands: int = dedup.N_BANDS,
    max_bucket: int = dedup.DEFAULT_MAX_BUCKET,
) -> str:
    """Pure-SQL twin of dedup.minhash_dedup_pairs: char-k-shingles via
    generate_series+substr, zlib.crc32 via a recursive byte fold over the
    IEEE table, 64 universal-hash permutations ((h*a) % p + b) % p as a VALUES
    relation (every intermediate < 2^63 — no uint64 wraparound needed), band
    hashes as crc32 over the little-endian int64 chunk bytes, bucket cap via
    HAVING, exact 5-gram Jaccard verify on survivor pairs."""
    rows_per_band = dedup.N_PERMS // n_bands
    n_chunk_bytes = rows_per_band * 8
    perm_rows = ", ".join(
        f"({i}, {int(a)}, {int(b)})"
        for i, (a, b) in enumerate(zip(dedup._PERM_A, dedup._PERM_B))
    )
    p = dedup.MERSENNE_P
    return f"""
WITH RECURSIVE
crctbl AS MATERIALIZED (SELECT r.range AS i, ({_crc32_table_lit()})[r.range + 1] AS v FROM range(256) r),
perms(pid, a, b) AS MATERIALIZED (FROM (VALUES {perm_rows}) t(pid, a, b)),
sh AS MATERIALIZED (
  SELECT DISTINCT doc_id, substr(text, pos, {k}) AS s
  FROM (SELECT doc_id, text FROM documents WHERE length(text) > 0),
       LATERAL (SELECT unnest(generate_series(1, greatest(length(text) - {k - 1}, 1))) AS pos)),
crcfold(s, pos, crc) AS (
  SELECT s, 0, CAST(4294967295 AS BIGINT) FROM (SELECT DISTINCT s FROM sh)
  UNION ALL
  SELECT f.s, f.pos + 1, xor(f.crc >> 8, t.v)
  FROM crcfold f
  JOIN crctbl t ON t.i = xor(f.crc, ascii(substr(f.s, f.pos + 1, 1))) & 255
  WHERE f.pos < length(f.s)),
shcrc AS MATERIALIZED (
  SELECT s, xor(crc, 4294967295) AS h
  FROM crcfold WHERE pos = length(s)),
chunks AS MATERIALIZED (
  SELECT doc_id, pid // {rows_per_band} AS band, list(sig ORDER BY pid) AS chunk FROM (
    SELECT sh.doc_id, p.pid,
           min(((c.h * p.a) % {p} + p.b) % {p}) AS sig
    FROM sh JOIN shcrc c USING (s) CROSS JOIN perms p
    GROUP BY sh.doc_id, p.pid)
  GROUP BY doc_id, pid // {rows_per_band}),
bfold(doc_id, band, bytes, pos, crc) AS (
  SELECT doc_id, band,
         list_transform(generate_series(0, {n_chunk_bytes - 1}),
                        j -> (chunk[j // 8 + 1] >> ((j % 8) * 8)) & 255),
         0, CAST(4294967295 AS BIGINT)
  FROM chunks
  UNION ALL
  SELECT f.doc_id, f.band, f.bytes, f.pos + 1, xor(f.crc >> 8, t.v)
  FROM bfold f
  JOIN crctbl t ON t.i = xor(f.crc, f.bytes[f.pos + 1]) & 255
  WHERE f.pos < {n_chunk_bytes}),
bands AS MATERIALIZED (
  SELECT doc_id, band, xor(crc, 4294967295) | (CAST(band AS BIGINT) << 32) AS band_hash
  FROM bfold WHERE pos = {n_chunk_bytes}),
capped AS (
  SELECT b.* FROM bands b
  JOIN (SELECT band, band_hash FROM bands GROUP BY 1, 2 HAVING count(*) <= {max_bucket}) ok
  USING (band, band_hash)),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM capped a JOIN capped b USING (band, band_hash)
  WHERE a.doc_id < b.doc_id),
grams AS MATERIALIZED (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, greatest(length(text) - {k - 1}, 1)),
           i -> substr(text, i, {k}))) AS g
  FROM documents WHERE length(text) > 0)
SELECT id_a, id_b, round(j, 4) AS jaccard FROM (
  SELECT c.id_a, c.id_b,
         len(list_intersect(ga.g, gb.g))
           / CAST(len(list_distinct(list_concat(ga.g, gb.g))) AS DOUBLE) AS j
  FROM cand c
  JOIN grams ga ON ga.doc_id = c.id_a
  JOIN grams gb ON gb.doc_id = c.id_b)
WHERE j >= {threshold}
"""


def _simhash_oracle_sql(
    max_hamming: int = 10,
    n_bands: int = 4,
    max_bucket: int = dedup.DEFAULT_MAX_BUCKET,
) -> str:
    """Pure-SQL twin of dedup.simhash_near_pairs: word tokens with
    multiplicity, zlib.crc32 per distinct word (recursive byte fold), the
    splitmix64 finalizer in HUGEINT with 64-bit wraparound multiplies split
    into hi/lo 32-bit halves ((x*c) mod 2^64 = (xlo*c + ((xhi*c mod 2^32)
    << 32)) mod 2^64), per-bit +/-1 accumulators, pigeonhole banding over the
    UNSIGNED fingerprint (== Spark shiftrightunsigned), popcount-of-xor
    verify."""
    width = 64 // n_bands
    m = "18446744073709551616"  # 2^64

    def mulmod64(x: str, c: str) -> str:
        return (
            f"(((({x}) % 4294967296) * {c} + "
            f"(((({x}) // 4294967296) * {c}) % 4294967296) * 4294967296) % {m})"
        )

    z0 = f"((h + 1 + 11400714819323198485::HUGEINT) % {m})"
    return f"""
WITH RECURSIVE
crctbl AS MATERIALIZED (SELECT r.range AS i, ({_crc32_table_lit()})[r.range + 1] AS v FROM range(256) r),
dw AS MATERIALIZED (
  SELECT doc_id, w, count(*) AS cnt FROM (
    SELECT doc_id, unnest(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS w
    FROM documents WHERE length(trim(text)) > 0)
  GROUP BY doc_id, w),
crcfold(w, pos, crc) AS (
  SELECT w, 0, CAST(4294967295 AS BIGINT) FROM (SELECT DISTINCT w FROM dw)
  UNION ALL
  SELECT f.w, f.pos + 1, xor(f.crc >> 8, t.v)
  FROM crcfold f
  JOIN crctbl t ON t.i = xor(f.crc, ascii(substr(f.w, f.pos + 1, 1))) & 255
  WHERE f.pos < length(f.w)),
wz AS MATERIALIZED (
  SELECT w, xor(z2m, z2m >> 31) AS z FROM (
    SELECT w, {mulmod64("xor(z1m, z1m >> 27)", "10723151780598845931::HUGEINT")} AS z2m FROM (
      SELECT w, {mulmod64("xor(z0, z0 >> 30)", "13787848793156543929::HUGEINT")} AS z1m FROM (
        SELECT w, {z0} AS z0 FROM (
          SELECT w, CAST(xor(crc, 4294967295) AS HUGEINT) AS h
          FROM crcfold WHERE pos = length(w)))))),
fp AS MATERIALIZED (
  SELECT doc_id, list_reduce(
           list_transform(generate_series(1, 64),
                          i -> CASE WHEN acc[i] > 0 THEN (1::HUGEINT << (i - 1)) ELSE 0::HUGEINT END),
           (x, y) -> x + y) AS shu
  FROM (
    SELECT doc_id, list(s ORDER BY bit) AS acc FROM (
      SELECT d.doc_id, b.range AS bit,
             sum(d.cnt * (2 * CAST((z.z >> CAST(b.range AS INTEGER)) & 1 AS BIGINT) - 1)) AS s
      FROM dw d JOIN wz z USING (w) CROSS JOIN range(64) b
      GROUP BY d.doc_id, b.range)
    GROUP BY doc_id)),
banded AS MATERIALIZED (
  SELECT doc_id, shu, r.range AS band,
         CAST((shu >> CAST(r.range * {width} AS INTEGER)) & {(1 << width) - 1} AS BIGINT) AS band_val
  FROM fp CROSS JOIN range({n_bands}) r),
capped AS (
  SELECT b.* FROM banded b
  JOIN (SELECT band, band_val FROM banded GROUP BY 1, 2 HAVING count(*) <= {max_bucket}) ok
  USING (band, band_val)),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.shu AS sha, b.shu AS shb
  FROM capped a JOIN capped b USING (band, band_val)
  WHERE a.doc_id < b.doc_id)
SELECT id_a, id_b, hamming FROM (
  SELECT id_a, id_b, CAST(bit_count(CAST(xor(sha, shb) AS HUGEINT)) AS INTEGER) AS hamming
  FROM pairs)
WHERE hamming <= {max_hamming}
"""


# Pure-SQL twin of the language-ID contract query (textstats.build_lang_profiles
# over documents LIMIT 200 + language_id_udf over all documents). The
# Counter.most_common(top_n) tie rule — count DESC, first-encountered-first —
# is reproduced as ORDER BY cnt DESC, min(doc_ord, pos) ASC (heapq.nlargest is
# documented stable-sort-equivalent, so ties keep insertion = first-occurrence
# order; the rank-300 boundary IS tied on this data, making the term
# load-bearing). Docs with no in-vocab grams fall back to the first sorted
# language, matching np.argmax over all-zero scores.
_LANG_ID_ORACLE_SQL = """
WITH sample AS (
  SELECT lang, '  ' || lower(coalesce(text, '')) || ' ' AS t,
         row_number() OVER () AS doc_ord
  FROM (SELECT lang, text FROM documents LIMIT 200)),
sample_grams AS (
  SELECT lang, doc_ord, pos, substr(t, pos, 3) AS g
  FROM sample, LATERAL (SELECT unnest(generate_series(1, length(t) - 2)) AS pos)),
counts AS (
  SELECT lang, g, count(*) AS cnt,
         min(doc_ord * 10000000 + pos) AS first_seen
  FROM sample_grams GROUP BY lang, g),
totals AS (SELECT lang, sum(cnt) AS total FROM counts GROUP BY lang),
prof AS (
  SELECT c.lang, c.g, c.cnt / CAST(t.total AS DOUBLE) AS freq
  FROM (SELECT *, row_number() OVER (PARTITION BY lang
          ORDER BY cnt DESC, first_seen ASC) AS rk FROM counts) c
  JOIN totals t ON t.lang = c.lang
  WHERE c.rk <= 300),
doc_grams AS (
  SELECT doc_id, g, count(*) AS cnt FROM (
    SELECT doc_id, substr(t, pos, 3) AS g
    FROM (SELECT doc_id, '  ' || lower(coalesce(text, '')) || ' ' AS t FROM documents),
         LATERAL (SELECT unnest(generate_series(1, length(t) - 2)) AS pos))
  GROUP BY doc_id, g),
doc_totals AS (SELECT doc_id, sum(cnt) AS total FROM doc_grams GROUP BY doc_id),
scores AS (
  SELECT d.doc_id, p.lang,
         sum(least(d.cnt / CAST(dt.total AS DOUBLE), p.freq)) AS score
  FROM doc_grams d
  JOIN doc_totals dt ON dt.doc_id = d.doc_id
  JOIN prof p ON p.g = d.g
  GROUP BY d.doc_id, p.lang),
best AS (
  SELECT doc_id, lang AS pred_lang FROM (
    SELECT doc_id, lang,
           row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang ASC) AS rn
    FROM scores)
  WHERE rn = 1)
SELECT doc.doc_id, doc.lang,
       coalesce(b.pred_lang, (SELECT min(lang) FROM prof)) AS pred_lang
FROM documents doc LEFT JOIN best b ON b.doc_id = doc.doc_id
"""


# Retired from the driver contract (round 3) but kept as the full value-level
# local oracle for quality_score — tests/test_textstats.py::test_quality_score_oracle.
QUALITY_SCORE_ORACLE_SQL = f"""
    SELECT doc_id, round((
      CASE WHEN n_tokens < 10 THEN 20 WHEN n_tokens < 50 THEN 70
           WHEN n_tokens <= 5000 THEN 100 ELSE 60 END
      + CASE WHEN punct_ratio > 0.2 THEN 30 ELSE 100 END
      + CASE WHEN stopword_ratio < 0.05 THEN 40 WHEN stopword_ratio > 0.6 THEN 50
             ELSE 100 END) / 3.0, 1) AS quality
    FROM (
      SELECT doc_id,
             CASE WHEN trim(text) = '' THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens,
             round((length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))
               / greatest(length(text), 1)::DOUBLE, 4) AS punct_ratio,
             round(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                 x -> list_contains({_STOPS_SQL}, x)))
               / greatest(CASE WHEN trim(text) = '' THEN 0
                 ELSE len(regexp_split_to_array(trim(text), '\\s+')) END, 1)::DOUBLE, 4) AS stopword_ratio
      FROM documents)
"""


def oracle_ext() -> dict[str, str]:
    W = syn.with_ctes
    n3 = 1 << 3  # zonal res
    cellx = f"least(greatest(cast(floor((lon+180.0)/360.0*{n3}.0) as bigint),0),{n3 - 1})"
    celly = f"least(greatest(cast(floor((lat+90.0)/180.0*{n3}.0) as bigint),0),{n3 - 1})"
    return {
        "dedup_exact": (
            "SELECT md5(text) AS content_hash, min(doc_id) AS keep_id,"
            " count(*) AS n_dupes FROM documents GROUP BY md5(text)"
        ),
        # string-gram twin of the xxhash64 semi-join (hash injective at this
        # scale; collisions at production scale are conservative drops)
        "decontam": f"""
            WITH tok AS (
              SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
              FROM documents),
            dg AS (
              SELECT doc_id, unnest(
                CASE WHEN len(t) >= {_DECONTAM_N}
                     THEN list_transform(range(1, len(t) - {_DECONTAM_N} + 2),
                       i -> array_to_string(list_slice(t, i, i + {_DECONTAM_N} - 1), ' '))
                     ELSE [] END) AS g
              FROM tok),
            bg AS (SELECT DISTINCT g FROM dg WHERE doc_id % 37 = 0)
            SELECT doc_id, lang, source FROM documents
            WHERE doc_id NOT IN (SELECT DISTINCT doc_id FROM dg JOIN bg USING (g))
        """,
        "stratified_sample": (
            "SELECT doc_id, lang, source FROM documents WHERE "
            + sampling.sample_oracle_predicate(_MIX_RATES)
        ),
        "dedup_ngram_jaccard": """
            WITH sh AS (
              SELECT doc_id, lang, source,
                     list_distinct(list_transform(
                       generate_series(1, greatest(length(text) - 2, 1)),
                       i -> substr(text, i, 3))) AS g
              FROM documents)
            SELECT id_a, id_b, jaccard FROM (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     round(len(list_intersect(a.g, b.g))
                       / CAST(len(list_distinct(list_concat(a.g, b.g))) AS DOUBLE), 6) AS jaccard
              FROM sh a JOIN sh b
                ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id)
            WHERE jaccard >= 0.5
        """,
        "emb_near_dup": f"""
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   {_COS.format(a="a.v", b="b.v", r=6)} AS cosine
            FROM (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings) a
            JOIN (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings) b
              ON a.label = b.label AND a.vec_id < b.vec_id
            WHERE list_dot_product(a.v, b.v) /
                  (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.42
        """,
        "ann_brute_topk": f"""
            SELECT query_id, vec_id, cosine, rank FROM (
              SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
                     {_COS.format(a="q.v", b="c.v", r=6)} AS cosine,
                     CAST(ROW_NUMBER() OVER (PARTITION BY q.vec_id
                       ORDER BY {_COS.format(a="q.v", b="c.v", r=9)} DESC, c.vec_id ASC)
                       AS INTEGER) AS rank
              FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 5) q
              CROSS JOIN (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings) c)
            WHERE rank <= 5
        """,
        "text_quality": f"""
            SELECT doc_id,
                   CAST(length(text) AS BIGINT) AS n_chars,
                   CAST(CASE WHEN trim(text) = '' THEN 0
                        ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS BIGINT) AS n_tokens,
                   round(length(regexp_replace(text, '\\s+', '', 'g')) /
                     greatest(CASE WHEN trim(text) = '' THEN 0
                       ELSE len(regexp_split_to_array(trim(text), '\\s+')) END, 1)::DOUBLE, 4) AS avg_token_len,
                   round((length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))
                     / greatest(length(text), 1)::DOUBLE, 4) AS punct_ratio,
                   round(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                       x -> list_contains({_STOPS_SQL}, x)))
                     / greatest(CASE WHEN trim(text) = '' THEN 0
                       ELSE len(regexp_split_to_array(trim(text), '\\s+')) END, 1)::DOUBLE, 4) AS stopword_ratio,
                   round((length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))
                     / greatest(length(text), 1)::DOUBLE, 4) AS digit_ratio,
                   CAST(len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS BIGINT) AS n_tokens_bpe
            FROM documents
        """,
        "text_fingerprint": (
            "SELECT doc_id, "
            + textstats.FINGERPRINT_SQL.format(t="text")
            + " AS fingerprint FROM documents"
        ),
        "text_lang_id": _LANG_ID_ORACLE_SQL,
        "emb_lsh_near_dup": _emb_lsh_oracle_sql(),
        "ann_ivf_topk": _ivf_oracle_sql(),
        "dedup_minhash_pairs": _minhash_oracle_sql(),
        "dedup_simhash_pairs": _simhash_oracle_sql(),
        "zonal_stats": W(
            f"""
            SELECT polygon_id, round(avg(cell_val), 4) AS mean_val,
                   min(cell_val) AS min_val, max(cell_val) AS max_val,
                   count(*) AS n_cells
            FROM (
              SELECT a.polygon_id, r.cell_val
              FROM aoi a JOIN (
                SELECT {cellx} AS cx, {celly} AS cy, avg(elev_m) AS cell_val
                FROM elev_grid GROUP BY 1, 2) r
              ON r.cx BETWEEN least(greatest(cast(floor((a.min_lon+180.0)/360.0*{n3}.0) as bigint),0),{n3 - 1})
                          AND least(greatest(cast(floor((a.max_lon+180.0)/360.0*{n3}.0) as bigint),0),{n3 - 1})
             AND r.cy BETWEEN least(greatest(cast(floor((a.min_lat+90.0)/180.0*{n3}.0) as bigint),0),{n3 - 1})
                          AND least(greatest(cast(floor((a.max_lat+90.0)/180.0*{n3}.0) as bigint),0),{n3 - 1}))
            GROUP BY polygon_id
            """,
            syn.AOI_CTE,
            syn.ELEV_CTE,
        ),
        "j12_signflip_pip": W(
            """
            SELECT v.url, v.variant, a.polygon_id
            FROM (
              SELECT url, 'as_is' AS variant, lat, lon FROM m
              UNION ALL SELECT url, 'neg_lat', -lat, lon FROM m
              UNION ALL SELECT url, 'neg_lon', lat, -lon FROM m
              UNION ALL SELECT url, 'neg_both', -lat, -lon FROM m) v
            JOIN aoi a ON v.lon > a.min_lon AND v.lon < a.max_lon
                      AND v.lat > a.min_lat AND v.lat < a.max_lat
            """,
            syn.PAGES_CTE,
            syn.MENTIONS_CTE,
            syn.AOI_CTE,
            """m AS (SELECT url, any_value(lat) AS lat, any_value(lon) AS lon
               FROM mentions WHERE lat IS NOT NULL GROUP BY url)""",
        ),
        "j12_knn_fallback": W(
            f"""
            SELECT url, polygon_id, round(distance_m/1000.0, 2) AS distance_km,
                   'Spatial error, distance from ' || polygon_id || ': ' ||
                     printf('%.2f', round(distance_m/1000.0, 2)) || 'km' AS note
            FROM (
              SELECT nn.*, ROW_NUMBER() OVER (PARTITION BY url ORDER BY rnk) AS rn2
              FROM nn WHERE rnk <= 3 AND polygon_id = claimed)
            WHERE rn2 = 1
            """,
            syn.PAGES_CTE,
            syn.MENTIONS_CTE,
            syn.AOI_CTE,
            """m AS (SELECT url, any_value(doc_id) AS doc_id, any_value(lat) AS lat,
                            any_value(lon) AS lon
                     FROM mentions WHERE lat IS NOT NULL GROUP BY url),
            pts AS (SELECT url, lat, lon, 'aoi:' || (doc_id % 5) AS claimed FROM m),
            landed AS (
              SELECT DISTINCT v.url FROM (
                SELECT url, claimed, lat, lon FROM pts
                UNION ALL SELECT url, claimed, -lat, lon FROM pts
                UNION ALL SELECT url, claimed, lat, -lon FROM pts
                UNION ALL SELECT url, claimed, -lat, -lon FROM pts) v
              JOIN aoi a ON v.lon > a.min_lon AND v.lon < a.max_lon
                        AND v.lat > a.min_lat AND v.lat < a.max_lat
                        AND a.polygon_id = v.claimed),
            unm AS (SELECT * FROM pts WHERE url NOT IN (SELECT url FROM landed)),
            cents AS (SELECT polygon_id, (min_lat + max_lat) / 2.0 AS clat,
                             (min_lon + max_lon) / 2.0 AS clon FROM aoi),
            nn AS (SELECT u.url, u.claimed, c.polygon_id,
                          """
            + _HAV.format(lat1="u.lat", lon1="u.lon", lat2="c.clat", lon2="c.clon")
            + """ AS distance_m,
                          ROW_NUMBER() OVER (PARTITION BY u.url ORDER BY """
            + _HAV.format(lat1="u.lat", lon1="u.lon", lat2="c.clat", lon2="c.clon")
            + """ ASC, c.polygon_id ASC) AS rnk
                   FROM unm u CROSS JOIN cents c)""",
        ),
        "j10_semi_join": W(
            """
            SELECT recgroup_id, lang, mention FROM rg
            WHERE recgroup_id IN (
              SELECT rg2.recgroup_id FROM rg rg2
              JOIN gazetteer g ON g.lang = rg2.lang
              WHERE strpos(g.name, rg2.mention) > 0)
            """,
            syn.PAGES_CTE,
            syn.MENTIONS_CTE,
            syn.GAZETTEER_CTE,
            """rg AS (
              SELECT md5(concat_ws('|', lang, mention, state)) AS recgroup_id,
                     lang, mention, state
              FROM (SELECT lang, mention, coalesce(state, '') AS state
                    FROM mentions
                    WHERE lower(mention) NOT IN ('none', 'unknown', 'no locality data'))
              GROUP BY lang, mention, state)""",
        ),
        "j11_export_join": W(
            """
            SELECT mn.url, s.recgroup_id, s.candidate_id, s.uid, s.name, s.data_source
            FROM (SELECT * FROM (
                    SELECT rg.recgroup_id,
                           md5(concat_ws('|', rg.recgroup_id, g.uid, g.data_source)) AS candidate_id,
                           g.uid, g.name, g.data_source,
                           ROW_NUMBER() OVER (PARTITION BY rg.recgroup_id
                             ORDER BY g.no_features DESC, g.uid ASC) AS rn
                    FROM rg JOIN gazetteer g ON g.lang = rg.lang
                    WHERE strpos(g.name, rg.mention) > 0)
                  WHERE rn = 1) s
            JOIN rg ON s.recgroup_id = rg.recgroup_id
            JOIN (SELECT url, lang, mention, coalesce(state, '') AS state FROM mentions) mn
              ON mn.lang = rg.lang AND mn.mention = rg.mention AND mn.state = rg.state
            """,
            syn.PAGES_CTE,
            syn.MENTIONS_CTE,
            syn.GAZETTEER_CTE,
            """rg AS (
              SELECT md5(concat_ws('|', lang, mention, state)) AS recgroup_id,
                     lang, mention, state
              FROM (SELECT lang, mention, coalesce(state, '') AS state
                    FROM mentions
                    WHERE lower(mention) NOT IN ('none', 'unknown', 'no locality data'))
              GROUP BY lang, mention, state)""",
        ),
        "multimodal_features": W(
            """
            SELECT md5(url) AS media_id,
                   CAST(octet_length(html) AS BIGINT) AS n_bytes,
                   md5(decode(html)) AS content_hash
            FROM pages
            """,
            syn.PAGES_CTE,
        ),
        "multimodal_frame_sample": W(
            """
            SELECT md5(url) AS media_id,
                   unnest(generate_series(0, greatest(CAST(floor(((doc_id % 600) / 10.0 + 0.1) / 2.0) AS INTEGER), 1) - 1)) AS frame_idx,
                   unnest(generate_series(0, greatest(CAST(floor(((doc_id % 600) / 10.0 + 0.1) / 2.0) AS INTEGER), 1) - 1)) * 2.0 AS frame_ts_s
            FROM pages
            """,
            syn.PAGES_CTE,
        ),
    }
