"""Approximate-nearest-neighbor similarity search over embedding columns.

Corpus-curation extension (not in the reference — its nearest-neighbor op is the
spatial kNN J6, batch_georeferencing/functions.py:170). Two strategies:

- **brute-force top-k** (the correctness baseline): broadcast the (small) query
  set, join against the corpus, cosine via JVM zip_with/aggregate (whole-stage
  codegen — no Python), per-query top-k window. One pass over the corpus;
  embarrassingly parallel; the right answer at any scale where queries are few.
- **IVF (inverted-file) top-k** (the scale path): k-means-style coarse centroids
  (deterministic subset seed), every corpus vector assigned to its nearest
  centroid (one map-side numpy argmax pass), queries probe only their
  ``nprobe`` nearest centroid partitions. Cuts scanned fraction to
  nprobe/n_centroids; recall verified against brute force in tests.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import StructField, StructType

from .dedup import cosine_col


def _as_double(df: DataFrame, vec_col: str, out: str) -> DataFrame:
    return df.withColumn(out, F.transform(F.col(vec_col), lambda x: x.cast("double")))


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k per query. Output: (query_id, vec_id, cosine, rank).

    A map-side partial top-k runs ahead of the per-query window: each corpus
    partition keeps only its own best k rows per query (a running
    nq×k-bounded accumulator over Arrow batches), so the shuffle into the
    single-reducer-per-query ranking carries ≤ partitions × queries × k rows
    instead of the whole corpus — the same trick as map-side combine for
    aggregation. The partial selection uses the IDENTICAL total order as the
    window (round(cosine, 9) desc, id asc, rounded JVM-side so no Python float
    rounding can disagree), so results are exactly the window-only results."""
    q = _as_double(queries, vec_col, "_qv").select(query_id, "_qv")
    c = _as_double(corpus, vec_col, "_cv").select(corpus_id, "_cv")
    joined = c.crossJoin(F.broadcast(q))
    scored = joined.withColumn("cosine", cosine_col(F.col("_qv"), F.col("_cv")))
    scored = scored.withColumn("_cos_r", F.round(F.col("cosine"), 9)).select(
        query_id, corpus_id, "cosine", "_cos_r"
    )
    out_schema = scored.schema

    def part_topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc: pd.DataFrame | None = None
        for pdf in batches:
            cur = pdf if acc is None else pd.concat([acc, pdf], ignore_index=True)
            acc = (
                cur.sort_values(
                    [query_id, "_cos_r", corpus_id],
                    ascending=[True, False, True],
                    na_position="last",
                )
                .groupby(query_id, sort=False)
                .head(k)
            )
        yield acc if acc is not None else pd.DataFrame(
            {f.name: pd.Series(dtype=object) for f in out_schema.fields}
        )

    w = Window.partitionBy(query_id).orderBy(
        F.col("_cos_r").desc(), F.col(corpus_id).asc()
    )
    return (
        scored.mapInPandas(part_topk, out_schema)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id, corpus_id, F.round(F.col("cosine"), 6).alias("cosine"), "rank")
    )


def assign_centroids(
    corpus: DataFrame,
    centroids: DataFrame,
    corpus_id: str = "vec_id",
    centroid_id: str = "centroid_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF build: nearest centroid per corpus vector. Output: corpus columns +
    centroid_id.

    The centroid matrix is collected (it is the small side by construction —
    n_centroids × dim), sc.broadcast to the executors, and each Arrow batch
    computes one numpy matmul + argmax — ZERO shuffle, no crossJoin row
    blow-up, so each Lloyd round streams the corpus once. The pass is one
    opaque ``mapInArrow`` node, so no filter on ``centroid_id`` (an
    ``isnotnull`` inferred from a join on it) can be pushed below it and
    make Catalyst run the assignment twice (NOTES lesson 9).

    Tie rule: round(cosine, 9) descending, centroid_id ascending, the order
    of a crossJoin + per-vector top-1 window (tests/test_similarity.py keeps
    that window as its reference). numpy rounding reproduces it; an exact
    half at the 9th decimal could theoretically round differently (HALF_UP
    vs banker's) but cannot arise from float cosines in practice."""
    cent_rows = centroids.select(centroid_id, vec_col).collect()
    # sort by id so argmax tie-break 'lowest index wins' == 'lowest id wins'
    cent_rows.sort(key=lambda r: r[0])
    cids = [r[0] for r in cent_rows]
    Z = np.array([list(map(float, r[1])) for r in cent_rows], dtype=np.float64)
    zn = np.linalg.norm(Z, axis=1)
    sc = corpus.sparkSession.sparkContext
    bc = sc.broadcast((cids, Z, zn))
    cid_field = StructField(centroid_id, centroids.schema[centroid_id].dataType)
    cid_arrow = to_arrow_type(cid_field.dataType)

    def nearest(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        cids_, Z_, zn_ = bc.value
        for rb in batches:
            vecs = rb.column(vec_col)
            V = vecs.flatten().to_numpy(zero_copy_only=False).astype(np.float64)
            V = V.reshape(len(vecs), -1) if len(vecs) else np.empty((0, Z_.shape[1]))
            vn = np.linalg.norm(V, axis=1)
            with np.errstate(divide="ignore", invalid="ignore"):
                sims = (V @ Z_.T) / (vn[:, None] * zn_[None, :])
            sims = np.round(sims, 9)
            # NaN-safe argmax with lowest-id tie-break: NaN columns lose to any
            # number (a window sorts null sims last); all-NaN rows take the
            # lowest id (row_number ties break by centroid_id asc)
            sims = np.nan_to_num(sims, nan=-np.inf)
            best = np.argmax(sims, axis=1)  # first (lowest-id) max wins
            yield pa.RecordBatch.from_arrays(
                [*rb.columns, pa.array([cids_[i] for i in best], type=cid_arrow)],
                names=[*rb.schema.names, centroid_id],
            )

    return corpus.mapInArrow(nearest, StructType([*corpus.schema.fields, cid_field]))


def deterministic_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Seed centroids deterministically: the n lowest-md5-hash corpus vectors
    (a reproducible 'random' sample — same trick as W5)."""
    return (
        corpus.orderBy(F.md5(F.col(corpus_id).cast("string")).asc(), F.col(corpus_id).asc())
        .limit(n_centroids)
        .select(F.col(corpus_id).alias("centroid_id"), vec_col)
    )


def lloyd_refine_centroids(
    corpus: DataFrame,
    centroids: DataFrame,
    n_iters: int = 3,
    corpus_id: str = "vec_id",
    centroid_id: str = "centroid_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Refine seed centroids with ``n_iters`` Lloyd (k-means) rounds — each
    round is one broadcast assign join + an element-wise mean aggregation
    (posexplode → avg per (centroid, dim) → re-assemble ordered by dim), so
    the cost per round is a single corpus pass; no driver-side vectors.
    Centroids that lose every member keep their previous position (classic
    empty-cluster rule). Cosine is scale-invariant, so means need no
    re-normalization. Returns (centroid_id, vec_col) with double vectors."""
    cents = _as_double(centroids, vec_col, "_zv").select(
        centroid_id, F.col("_zv").alias(vec_col)
    )
    for _ in range(n_iters):
        assigned = assign_centroids(corpus, cents, corpus_id, centroid_id, vec_col)
        member_vecs = _as_double(assigned, vec_col, "_cv").select(centroid_id, "_cv")
        dims = member_vecs.select(
            centroid_id, F.posexplode(F.col("_cv")).alias("_pos", "_val")
        )
        means = (
            dims.groupBy(centroid_id, "_pos")
            .agg(F.avg("_val").alias("_v"))
            .groupBy(centroid_id)
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_pos", "_v"))),
                    lambda s: s["_v"],
                ).alias("_new")
            )
        )
        cents = (
            cents.join(means, on=centroid_id, how="left")
            .select(
                centroid_id,
                F.coalesce(F.col("_new"), F.col(vec_col)).alias(vec_col),
            )
            .localCheckpoint(eager=True)  # truncate the iterative lineage
        )
    return cents


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    n_iters: int = 0,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN: probe the ``nprobe`` nearest centroid buckets per query, exact
    top-k within the probed subset. Output: (query_id, vec_id, cosine, rank).
    ``n_iters`` > 0 refines the deterministic seed centroids with that many
    Lloyd rounds before assignment (better-balanced buckets → better recall
    at the same nprobe)."""
    centroids = deterministic_centroids(corpus, n_centroids, corpus_id, vec_col)
    if n_iters > 0:
        centroids = lloyd_refine_centroids(
            corpus, centroids, n_iters, corpus_id, "centroid_id", vec_col
        )
    assigned = assign_centroids(corpus, centroids, corpus_id, "centroid_id", vec_col)

    # queries → their nprobe nearest centroids
    probes = brute_force_topk(
        queries,
        centroids.withColumnRenamed("centroid_id", "_cid"),
        k=nprobe,
        query_id=query_id,
        corpus_id="_cid",
        vec_col=vec_col,
    ).select(query_id, F.col("_cid").alias("centroid_id"))

    q = _as_double(queries, vec_col, "_qv").select(query_id, "_qv")
    candidates = (
        assigned.join(F.broadcast(probes), on="centroid_id")
        .join(F.broadcast(q), on=query_id)
    )
    c = _as_double(candidates, vec_col, "_cv")
    scored = c.withColumn("cosine", cosine_col(F.col("_qv"), F.col("_cv")))
    w = Window.partitionBy(query_id).orderBy(
        F.round(F.col("cosine"), 9).desc(), F.col(corpus_id).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id, corpus_id, F.round(F.col("cosine"), 6).alias("cosine"), "rank")
    )
