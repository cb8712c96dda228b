"""ANN similarity tests: brute-force exactness, IVF recall vs brute force."""

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from mass_georeferencing_spark.operators import similarity
from mass_georeferencing_spark.operators.dedup import cosine_col

from conftest import SF_DIR


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def _as_double(df, out):
    return df.withColumn(out, F.transform(F.col("embedding"), lambda x: x.cast("double")))


def _window_assign_centroids(corpus, centroids):
    """Reference: broadcast crossJoin + per-vector top-1 window, ordered by
    round(cosine, 9) desc, centroid_id asc."""
    cent = _as_double(centroids, "_zv").select("centroid_id", "_zv")
    joined = _as_double(corpus, "_cv").crossJoin(F.broadcast(cent))
    joined = joined.withColumn("_sim", cosine_col(F.col("_cv"), F.col("_zv")))
    w = Window.partitionBy("vec_id").orderBy(
        F.round(F.col("_sim"), 9).desc(), F.col("centroid_id").asc()
    )
    return joined.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1)


def _window_only_topk(queries, corpus, k):
    """Reference: the exact top-k as one per-query window over the whole
    broadcast cross product, with no map-side partial top-k."""
    q = _as_double(queries, "_qv").select("query_id", "_qv")
    c = _as_double(corpus, "_cv").select("vec_id", "_cv")
    scored = c.crossJoin(F.broadcast(q)).withColumn(
        "cosine", cosine_col(F.col("_qv"), F.col("_cv"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.round(F.col("cosine"), 9).desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", F.round(F.col("cosine"), 6).alias("cosine"), "rank")
    )


def test_brute_force_topk_self_is_rank1(spark, emb):
    queries = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity.brute_force_topk(queries, emb, k=3).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    for qid, rows in by_q.items():
        rows.sort(key=lambda r: r.rank)
        assert rows[0].vec_id == qid  # self-similarity = 1.0 → rank 1
        assert rows[0].cosine == pytest.approx(1.0, abs=1e-6)
        assert [r.rank for r in rows] == [1, 2, 3]


def test_ivf_recall_vs_brute(spark, emb):
    queries = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    brute = similarity.brute_force_topk(queries, emb, k=5).collect()
    ivf = similarity.ivf_topk(queries, emb, k=5, n_centroids=8, nprobe=4).collect()
    bset = {(r.query_id, r.vec_id) for r in brute}
    iset = {(r.query_id, r.vec_id) for r in ivf}
    recall = len(bset & iset) / len(bset)
    assert recall >= 0.5  # random near-orthogonal vectors: nprobe/half the space
    # self hit must always survive (query's own centroid is probed first)
    for qid in range(10):
        assert (qid, qid) in iset


def test_centroid_assignment_total(spark, emb):
    cents = similarity.deterministic_centroids(emb, 8)
    assigned = similarity.assign_centroids(emb, cents)
    assert assigned.count() == emb.count()  # exactly one centroid per vector
    assert assigned.select("centroid_id").distinct().count() <= 8


def test_lloyd_converges_to_cluster_means(spark):
    # two tight, well-separated direction clusters; seeds start inside ONE
    # cluster; after refinement the two centroids must split the clusters
    rows = []
    for i in range(20):
        rows.append((i, [10.0 + (i % 5) * 0.01, 1.0, 0.0]))       # cluster A
    for i in range(20, 40):
        rows.append((i, [0.0, 1.0, 10.0 + (i % 5) * 0.01]))       # cluster B
    emb2 = spark.createDataFrame(rows, ["vec_id", "embedding"])
    seeds = spark.createDataFrame(
        [(0, [10.0, 1.0, 0.0]), (1, [9.9, 1.2, 0.1])], ["centroid_id", "embedding"]
    )
    refined = {
        r.centroid_id: r.embedding
        for r in similarity.lloyd_refine_centroids(emb2, seeds, n_iters=4).collect()
    }
    # one centroid owns A (x >> z), the other owns B (z >> x)
    kinds = sorted("A" if v[0] > v[2] else "B" for v in refined.values())
    assert kinds == ["A", "B"]


def test_ivf_recall_holds_with_lloyd(spark, emb):
    queries = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    brute = similarity.brute_force_topk(queries, emb, k=5).collect()
    bset = {(r.query_id, r.vec_id) for r in brute}

    def recall(n_iters):
        ivf = similarity.ivf_topk(
            queries, emb, k=5, n_centroids=8, nprobe=4, n_iters=n_iters
        ).collect()
        iset = {(r.query_id, r.vec_id) for r in ivf}
        for qid in range(10):
            assert (qid, qid) in iset  # self hit always survives
        return len(bset & iset) / len(bset)

    assert recall(3) >= 0.5


def test_assign_centroids_mapside_matches_window(spark, emb):
    # the zero-shuffle numpy-argmax assignment must be row-identical to the
    # all-DataFrame crossJoin+window reference (same round-9 + lowest-id ties)
    cents = similarity.deterministic_centroids(emb, 8)
    m = {r.vec_id: r.centroid_id for r in similarity.assign_centroids(emb, cents).collect()}
    w = {r.vec_id: r.centroid_id for r in _window_assign_centroids(emb, cents).collect()}
    assert m == w and len(m) == emb.count()


def test_assign_centroids_mapside_plan_has_no_exchange(spark, emb):
    import io
    from contextlib import redirect_stdout

    cents = similarity.deterministic_centroids(emb, 8)
    df = similarity.assign_centroids(emb, cents)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    assert "Exchange" not in buf.getvalue()


def test_brute_force_partial_matches_window_only(spark, emb):
    queries = emb.where(F.col("vec_id") < 7).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = emb.repartition(8)  # several partitions so the partial stage acts
    a = sorted(
        (r.query_id, r.rank, r.vec_id, r.cosine)
        for r in similarity.brute_force_topk(queries, corpus, k=4).collect()
    )
    b = sorted(
        (r.query_id, r.rank, r.vec_id, r.cosine)
        for r in _window_only_topk(queries, corpus, k=4).collect()
    )
    assert a == b and len(a) == 7 * 4
