"""Dedup operator tests: exact, minhash-LSH recall, simhash, jaccard kernels."""

import numpy as np
import pytest

from mass_georeferencing_spark.operators import dedup

from conftest import SF_DIR


def test_char_shingles():
    s = dedup.char_shingles("abcdef", 5)
    assert s == {b"abcde", b"bcdef"}
    assert dedup.char_shingles("", 5) == set()
    assert dedup.char_shingles("ab", 5) == {b"ab"}


def test_jaccard_kernel():
    a = dedup.char_shingles("the quick brown fox", 5)
    assert dedup.jaccard(a, a) == 1.0
    assert dedup.jaccard(a, set()) == 0.0
    assert dedup.jaccard(set(), set()) == 1.0


def test_minhash_estimates_jaccard():
    t1 = "the quick brown fox jumps over the lazy dog " * 5
    t2 = "the quick brown fox jumps over the lazy cat " * 5
    s1 = dedup.minhash_signature(t1)
    s2 = dedup.minhash_signature(t2)
    est = float(np.mean(s1 == s2))
    true = dedup.jaccard(dedup.char_shingles(t1), dedup.char_shingles(t2))
    assert abs(est - true) < 0.25  # 64 perms → coarse but unbiased
    # identical text → identical signature
    assert (dedup.minhash_signature(t1) == s1).all()


def test_simhash_similar_texts_close():
    t1 = "spark table scan merge join order batch stream window " * 3
    t2 = t1 + "extra"
    h1, h2 = dedup.simhash64(t1), dedup.simhash64(t2)
    ham = bin((h1 ^ h2) & ((1 << 64) - 1)).count("1")
    assert ham <= 8
    h3 = dedup.simhash64("completely different vocabulary entirely unrelated words")
    assert bin((h1 ^ h3) & ((1 << 64) - 1)).count("1") > ham


def test_exact_dedup_spark(spark):
    df = spark.createDataFrame(
        [(1, "aaa"), (2, "aaa"), (3, "bbb")], ["doc_id", "text"]
    )
    out = {r.content_hash: (r.keep_id, r.n_dupes) for r in dedup.exact_dedup(df).collect()}
    assert len(out) == 2
    vals = sorted(out.values())
    assert vals == [(1, 2), (3, 1)]


def test_minhash_lsh_finds_near_dups(spark):
    base = "the quick brown fox jumps over the lazy dog and runs far away " * 4
    rows = [
        (1, base),
        (2, base.replace("dog", "cat")),       # near-dup of 1
        (3, "totally different text about spark dataframes and shuffles " * 4),
        (4, base),                              # exact dup of 1
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_dedup_pairs(df, threshold=0.6).collect()
    }
    assert (1, 4) in pairs
    assert (1, 2) in pairs or (2, 4) in pairs
    assert all(3 not in p for p in pairs)


def test_simhash_near_pairs_spark(spark):
    base = "spark table scan merge join order batch stream window row column " * 3
    rows = [(1, base), (2, base + " tail"), (3, "unrelated words entirely here now")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = {(r.id_a, r.id_b) for r in dedup.simhash_near_pairs(df, max_hamming=8).collect()}
    assert (1, 2) in pairs
    assert all(3 not in p for p in pairs)


def test_embedding_near_dup_blocked(spark):
    rows = [
        (1, [1.0, 0.0, 0.0], 0),
        (2, [0.999, 0.04, 0.0], 0),   # near-dup of 1
        (3, [0.0, 1.0, 0.0], 0),
        (4, [1.0, 0.0, 0.0], 1),      # same vector, other block → not paired
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    out = dedup.embedding_near_dup_pairs(df, threshold=0.95).collect()
    assert {(r.id_a, r.id_b) for r in out} == {(1, 2)}
    assert out[0].cosine == pytest.approx(0.9992, abs=1e-3)


def test_embedding_lsh_near_dup(spark):
    import numpy as np

    rng = np.random.RandomState(7)
    base = rng.standard_normal(64)
    rows = []
    # 5 clusters of 3 near-identical vectors + 20 random vectors
    for c in range(5):
        v = rng.standard_normal(64)
        for j in range(3):
            noisy = v + rng.standard_normal(64) * 0.01
            rows.append((c * 10 + j, [float(x) for x in noisy], 0))
    for i in range(20):
        rows.append((1000 + i, [float(x) for x in rng.standard_normal(64)], 0))
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])

    # every row has label 0, so the blocked pair space is all pairs
    exact = {
        (r.id_a, r.id_b)
        for r in dedup.embedding_near_dup_pairs(df, threshold=0.95, block_col="label").collect()
    }
    lsh = {
        (r.id_a, r.id_b)
        for r in dedup.embedding_lsh_near_dup(df, threshold=0.95).collect()
    }
    assert lsh <= exact  # LSH never invents pairs (exact verify)
    assert len(exact) == 15  # 5 clusters x C(3,2)
    recall = len(lsh) / len(exact)
    assert recall >= 0.8, recall  # near-identical vectors collide in >=1 band


def test_ngram_jaccard_exact_and_blocked(spark):
    from mass_georeferencing_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.createDataFrame(
        [
            (1, "abcdef", "en"),
            (2, "abcdeX", "en"),   # shares 3 of 4+.. trigrams with doc 1
            (3, "abcdef", "de"),   # identical text, DIFFERENT block -> no pair
            (4, "zzzzzz", "en"),
        ],
        ["doc_id", "text", "lang"],
    )
    out = {(r.id_a, r.id_b): r.jaccard for r in ngram_jaccard_pairs(
        docs, n=3, threshold=0.1, block_cols=["lang"]
    ).collect()}
    # trigrams(abcdef) = {abc,bcd,cde,def}; trigrams(abcdeX) = {abc,bcd,cde,deX}
    # intersection 3, union 5 -> 0.6
    assert out == {(1, 2): 0.6}


def test_degenerate_bucket_guard(spark):
    # adversarial crawl slice: 1000 empty pages + 300 identical boilerplate
    # pages + a genuine near-dup pair. The empties must emit ZERO band rows
    # (exact_dedup owns them); the boilerplate bucket must fall to the
    # max_bucket cap; the honest near-dup must survive the capped path.
    base = "the quick brown fox jumps over the lazy dog and runs far away " * 4
    rows = (
        [(i, "") for i in range(1000)]
        + [(1000 + i, "cookie banner accept all rights reserved " * 5) for i in range(300)]
        + [(5001, base), (5002, base.replace("dog", "cat"))]
    )
    df = spark.createDataFrame(rows, ["doc_id", "text"]).repartition(8)

    # empties emit no LSH rows at all
    assert dedup.minhash_bands(df.where("doc_id < 1000")).count() == 0

    # cap drops the boilerplate bucket; the near-dup pair survives
    pairs = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_dedup_pairs(df, threshold=0.6, max_bucket=50).collect()
    }
    assert (5001, 5002) in pairs
    assert not any(1000 <= a < 2000 for a, _ in pairs)

    # the drop is reportable, not silent
    rep = dedup.lsh_dropped_buckets(df, method="minhash", max_bucket=50).collect()
    assert rep and all(r.bucket_n == 300 for r in rep)

    # simhash: same guard
    sh_pairs = {
        (r.id_a, r.id_b)
        for r in dedup.simhash_near_pairs(df, max_hamming=8, max_bucket=50).collect()
    }
    assert (5001, 5002) in sh_pairs
    assert not any(a < 2000 for a, _ in sh_pairs)
    sh_rep = dedup.lsh_dropped_buckets(df, method="simhash", max_bucket=50).collect()
    assert sh_rep and all(r.bucket_n == 300 for r in sh_rep)


def test_duplicate_components_structures(spark):
    # chain, star, two disjoint components, singleton-free (only paired ids)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4),        # chain 1-2-3-4
         (10, 30), (20, 30),            # star: 10~30, 20~30 (10 !~ 20)
         (100, 101)],                   # disjoint pair
        "id_a bigint, id_b bigint",
    )
    got = {
        r.doc_id: r.component_id for r in dedup.duplicate_components(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 20: 10, 30: 10, 100: 100, 101: 100}


def test_duplicate_components_chain_stress_log_rounds(spark):
    # 10^4-node chain (diameter 10^4): min-step + path-halving must settle in
    # O(log diameter) rounds — pinned at 2·ceil(log2 n) = 28, far below the
    # O(diameter)=10^4 a propagation-only algorithm would need — and the
    # max_rounds rail must fire loudly when set below the requirement.
    import math
    import time

    n = 10_000
    pairs = spark.range(n - 1).selectExpr("id AS id_a", "id + 1 AS id_b")
    stats: dict = {}
    t0 = time.time()
    got = dedup.duplicate_components(pairs, stats=stats)
    assert got.where("component_id <> 0").count() == 0
    assert got.count() == n
    wall = time.time() - t0
    assert stats["rounds"] <= 2 * math.ceil(math.log2(n)), stats
    # bench note (NOTES.md): rounds and per-round wall at this fixture size
    print(f"chain n={n}: rounds={stats['rounds']} wall={wall:.1f}s "
          f"({wall / stats['rounds']:.2f}s/round)")

    with pytest.raises(RuntimeError, match="max_rounds"):
        dedup.duplicate_components(pairs, max_rounds=3)


def test_duplicate_components_star_stress(spark):
    # high-degree star (10^4 leaves, diameter 2): converges in O(1) rounds and
    # the hub's label reaches every leaf; exercises the skewed-key join shape
    # (every edge shares the hub) that a real dup-cluster hot key produces
    n = 10_000
    pairs = spark.range(1, n + 1).selectExpr("0 AS id_a", "id AS id_b")
    stats: dict = {}
    got = dedup.duplicate_components(pairs, stats=stats)
    assert got.where("component_id <> 0").count() == 0
    assert got.count() == n + 1
    assert stats["rounds"] <= 3, stats


def test_duplicate_components_matches_duckdb_closure(spark):
    # value oracle: the distributed min-label propagation equals a DuckDB
    # recursive-CTE transitive closure over the REAL verified minhash pairs
    import duckdb

    from conftest import SF_DIR

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    pairs = dedup.minhash_dedup_pairs(docs, threshold=0.5)
    ppdf = pairs.select("id_a", "id_b").toPandas()
    got = {
        (r.doc_id, r.component_id)
        for r in dedup.duplicate_components(pairs).collect()
    }
    con = duckdb.connect()
    con.register("pairs", ppdf)
    want = set(
        map(
            tuple,
            con.execute(
                """
        WITH RECURSIVE edges AS (
          SELECT id_a AS node, id_b AS peer FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
        reach AS (
          SELECT node, peer FROM edges
          UNION
          SELECT r.node, e.peer FROM reach r JOIN edges e ON e.node = r.peer)
        SELECT node, least(node, min(peer)) AS component_id
        FROM reach GROUP BY node
        """
            ).fetchall(),
        )
    )
    assert len(got) > 0
    assert got == want


def test_training_prep_removal_policies(spark):
    # greedy keeps a superset of components-removal (every component minimum
    # is never a higher pair id); both keep-sets contain no verified pair
    from mass_georeferencing_spark.plans.training_prep import prepare_training_corpus

    from conftest import SF_DIR

    g = prepare_training_corpus(spark, SF_DIR, removal="greedy")
    c = prepare_training_corpus(spark, SF_DIR, removal="components")
    keep_g = {r.doc_id for r in g["corpus"].select("doc_id").collect()}
    keep_c = {r.doc_id for r in c["corpus"].select("doc_id").collect()}
    assert keep_c <= keep_g
    pairs = {(r.id_a, r.id_b) for r in g["near_dup_pairs"].collect()}
    for a, b in pairs:
        assert not (a in keep_g and b in keep_g)
        assert not (a in keep_c and b in keep_c)
