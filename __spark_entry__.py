"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

Query keys map to SURVEY.md §2 operator IDs. Every entry — including the
fuzzy-DP queries (J1/J2, via the recursive-CTE bit-parallel LCS oracle in
plans/oracle_fuzzy.py), the streaming micro-batch row (same kernels over the
deterministic batch-equivalent set), minhash/simhash LSH (recursive-CTE
crc32), hyperplane LSH, IVF and language-ID — carries a pure DuckDB SQL twin
(plans/contract_ext.py, plans/oracle_fuzzy.py), so the driver gate is
50/50 full value.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from mass_georeferencing_spark.functions.cells import cell_oracle_sql, latlng_to_cell_col
from mass_georeferencing_spark.functions.textnorm import garbage_locality_filter, located_at
from mass_georeferencing_spark.operators.layers import explode_alternate_names
from mass_georeferencing_spark.operators.record_groups import build_record_groups, group_id
from mass_georeferencing_spark.operators.scoring import (
    drop_empty_groups,
    elevation_band_score,
    group_candidate_counts,
    mean_scores,
    melt_scores,
    prune_low_scores,
)
from mass_georeferencing_spark.operators.topk import topk_per_group
from mass_georeferencing_spark.sources import synthetic as syn
from mass_georeferencing_spark.sources.tables import load_table

# DuckDB-dialect haversine twin of functions/geo.py:haversine_col
_HAV = (
    "2.0 * 6371008.8 * asin(sqrt(least(1.0, "
    "pow(sin((radians({lat2}) - radians({lat1})) / 2), 2) + "
    "cos(radians({lat1})) * cos(radians({lat2})) * "
    "pow(sin((radians({lon2}) - radians({lon1})) / 2), 2))))"
)


_shipped = False


def _ensure_py_files(spark: SparkSession) -> None:
    """Ship the package to executors (addPyFile) so the driver harness can run
    from any cwd — the local-mode equivalent of spark-submit --py-files."""
    global _shipped
    if _shipped:
        return
    import shutil
    import tempfile

    repo = os.path.dirname(os.path.abspath(__file__))
    zip_path = shutil.make_archive(
        os.path.join(tempfile.gettempdir(), "mgs_pkg"),
        "zip",
        root_dir=repo,
        base_dir="mass_georeferencing_spark",
    )
    spark.sparkContext.addPyFile(zip_path)
    _shipped = True


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    _ensure_py_files(spark)
    from mass_georeferencing_spark.plans.pipeline import flagship

    return flagship(spark, "/root/testdata/sf0.001")


# ---------------------------------------------------------------------------
# Spark-side query callables
# ---------------------------------------------------------------------------


def _q_a1_record_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    groups = build_record_groups(syn.mentions_df(spark, sf_dir))
    return groups.select("recgroup_id", "lang", "mention", "state", "no_records")


def _q_a3_collapse_localities(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mass_georeferencing_spark.operators.layers import collapse_duplicate_localities

    gaz = syn.gazetteer_df(spark, sf_dir).where(F.col("data_source") == "webnames")
    return collapse_duplicate_localities(gaz, ["name", "stateprovince"])


def _q_a4_union_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        syn.gazetteer_df(spark, sf_dir)
        .select("uid", "name", "stateprovince", "data_source")
        .dropDuplicates()
    )


# A9/W5 pytest-pin oracles: the rows were retired from the 50-entry driver
# budget in round 5 (slots given to decontam + stratified_sample); their value
# evidence survives in tests/test_retired_rows.py against these exact twins —
# the F12 retirement precedent.
A9_ORACLE_SQL = (
    "SELECT lang, string_agg(DISTINCT source, ',' ORDER BY source) AS sources,"
    " count(*) AS n_docs FROM documents GROUP BY lang"
)
W5_ORACLE_SQL = """
    SELECT doc_id, lang FROM documents
    ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC LIMIT 100
"""


def _q_a9_collect_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    # A9: string_agg(DISTINCT ...) per group (export_downloads/export.R:63-72)
    return (
        load_table(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(
            F.array_join(F.array_sort(F.collect_set("source")), ",").alias("sources"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )


def _q_f4_located_at(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    j = cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey).join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    )
    mid = F.when(F.col("n_nationkey") % 3 == 0, F.lit("")).otherwise(F.col("n_name"))
    return j.select(
        F.col("c_custkey"),
        located_at(F.col("c_name"), mid, F.col("r_name")).alias("located_at"),
    )


def _q_gadm_alias_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1/F5 in full: the 13-branch GADM alias expansion
    (batch_georeferencing/queries.py:103-131) — per-level hierarchy concats,
    varname variants, US County/type/abbreviation forms, UNION-dedup."""
    from mass_georeferencing_spark.operators.layers import gadm_alias_names

    return gadm_alias_names(
        syn.gadm_df(spark, sf_dir), syn.state_abbreviations_df(spark)
    ).select("uid", "name", "stateprovince", "data_source")


def _q_f6_explode_altnames(spark: SparkSession, sf_dir: str) -> DataFrame:
    gaz = syn.gazetteer_df(spark, sf_dir)
    return explode_alternate_names(gaz).select("uid", "name", "data_source")


def _q_p2_garbage_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = syn.mentions_df(spark, sf_dir)
    return m.where(garbage_locality_filter(F.col("mention"))).select("url", "mention", "state")


def _q_p4_state_contains(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ILIKE-contains semantics (queries.py:77 et al.)
    gaz = syn.gazetteer_df(spark, sf_dir)
    return gaz.where(F.lower(F.col("stateprovince")).contains("a")).select(
        "uid", "name", "stateprovince"
    )


def _q_p5_prefix_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    # genus-mates analog: same first word, different full mention (queries.py:41)
    m = syn.mentions_df(spark, sf_dir).select("url", "mention").distinct()
    first = F.split(F.col("mention"), " ").getItem(0)
    return m.where(
        F.col("mention").startswith(F.concat(first, F.lit(" ")))
        & (F.col("mention") != first)
    ).select("url", "mention")


def _q_w1_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return topk_per_group(
        orders,
        partition_cols=["o_custkey"],
        order_cols=["o_totalprice"],
        k=3,
        tiebreak_col="o_orderkey",
        rank_col="rnk",
    ).select("o_custkey", "o_orderkey", "o_totalprice", "rnk")


def _q_w5_deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    # W5 with determinism: hash-ordered "random" sample (sample.sql:5-34 analog)
    docs = load_table(spark, sf_dir, "documents")
    return docs.orderBy(F.md5(F.col("doc_id").cast("string")).asc(), F.col("doc_id").asc()).limit(
        100
    ).select("doc_id", "lang")


def _q_f14_cell_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = syn.mentions_df(spark, sf_dir).where(F.col("lat").isNotNull()).dropDuplicates(["url"])
    return m.select(
        "url",
        "doc_id",
        latlng_to_cell_col(F.col("lat"), F.col("lon"), 12).alias("cell12"),
        latlng_to_cell_col(F.col("lat"), F.col("lon"), 6).alias("cell6"),
    )


def _q_j5_distance_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mass_georeferencing_spark.operators.spatial import distance_band_join

    m = syn.mentions_df(spark, sf_dir).where(F.col("lat").isNotNull() & (F.col("lang") == "en"))
    admin = syn.gazetteer_df(spark, sf_dir).where(F.col("data_source") == "admin")
    admin_sel = admin.select(
        "lang", "uid", F.col("lon").alias("cand_lon"), F.col("lat").alias("cand_lat")
    )
    return distance_band_join(m, admin_sel, on=["lang"]).select(
        "url",
        "mention",
        "uid",
        F.round("distance_m", 1).alias("distance_m"),
        "score_spatial",
    )


def _q_j6_knn_elevation(spark: SparkSession, sf_dir: str) -> DataFrame:
    # polar-safe: ring expansion below |lat| 80 + brute polar-cap pass above
    # (mention lats reach ±84.5 — the cap path runs under this driver gate)
    from mass_georeferencing_spark.operators.knn import knn_join_polar_safe as knn_join

    m = (
        syn.mentions_df(spark, sf_dir)
        .where(F.col("lat").isNotNull())
        .dropDuplicates(["url"])
        .withColumn("query_id", F.col("url"))
        .withColumn("claimed_elev", (F.col("doc_id") * 17) % 3000)
    )
    elev = syn.elevation_grid_df(spark, sf_dir).select(
        F.col("grid_id").alias("target_id"),
        F.col("lat").alias("target_lat"),
        F.col("lon").alias("target_lon"),
        "elev_m",
    )
    out = knn_join(
        m.select("query_id", "lat", "lon", "claimed_elev"),
        elev,
        k=1,
        res=3,
        target_id_col="target_id",
    )
    out = out.join(elev.select("target_id", "elev_m"), on="target_id")
    return out.select(
        F.col("query_id").alias("url"),
        F.col("target_id").alias("grid_id"),
        F.round(F.col("distance_m"), 1).alias("distance_m"),
        elevation_band_score(F.col("claimed_elev") - F.col("elev_m")).alias("score_elev"),
    )


def _q_j3_pip_aoi(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mass_georeferencing_spark.operators.spatial import pip_join

    m = syn.mentions_df(spark, sf_dir).where(F.col("lat").isNotNull()).dropDuplicates(["url"])
    aoi = syn.aoi_wkb_df(spark, sf_dir)
    return pip_join(m, aoi, strategy="broadcast", res=4).select("url", "doc_id", "polygon_id")


def _q_j4_pip_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mass_georeferencing_spark.operators.spatial import pip_anti_join

    m = syn.mentions_df(spark, sf_dir).where(F.col("lat").isNotNull()).dropDuplicates(["url"])
    aoi = syn.aoi_wkb_df(spark, sf_dir)
    return pip_anti_join(m, aoi, keys=["url"], strategy="broadcast", res=4).select(
        "url", "doc_id"
    )


def _q_skeleton_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full relational pipeline skeleton (A1→block join→threshold→W1 top-k→
    EAV melt→A6 mean→J9 prune→A5 counts) with a SQL-expressible contains score
    standing in for the fuzzy UDF — every other operator is the real engine code."""
    groups = build_record_groups(syn.mentions_df(spark, sf_dir))
    cands = syn.gazetteer_df(spark, sf_dir)
    joined = groups.join(cands, on="lang")
    scored = (
        joined.withColumn(
            "score1", F.when(F.instr(F.col("name"), F.col("mention")) > 0, 100.0).otherwise(0.0)
        )
        .withColumn(
            "score_state",
            F.when(F.instr(F.col("stateprovince"), F.col("state")) > 0, 100.0).otherwise(0.0),
        )
        .where(F.col("score1") >= 100.0)
        .withColumn("candidate_id", group_id(F.col("recgroup_id"), F.col("uid"), F.col("data_source")))
    )
    top = topk_per_group(
        scored,
        partition_cols=["recgroup_id"],
        order_cols=["score_state", "no_features"],
        k=5,
        tiebreak_col="uid",
        rank_col="rnk",
    )
    long = melt_scores(
        top, score_cols={"locality.contains": "score1", "stateprovince": "score_state"}
    )
    kept = prune_low_scores(top, long, min_score=75.0)
    return kept.select(
        "recgroup_id", "candidate_id", "uid", "name", "data_source", "mean_score", "rnk"
    )


def _q_j1_fuzzy_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mass_georeferencing_spark.plans.pipeline import flagship

    return flagship(spark, sf_dir)


def _q_streaming_fuzzy_microbatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 incremental mode as a driver row: a real Structured Streaming run
    (file source, ≥2 micro-batches, foreachBatch reusing the BATCH fuzzy join,
    availableNow checkpointed drain) whose distinct output equals the batch
    pipeline's — value-level equality pinned by tests/test_streaming.py."""
    from mass_georeferencing_spark.streaming.incremental import streaming_fuzzy_contract

    return streaming_fuzzy_contract(spark, sf_dir)


# ---------------------------------------------------------------------------
# Contract
# ---------------------------------------------------------------------------


def _wrap(fn: Callable[[SparkSession, str], DataFrame]) -> Callable[[SparkSession, str], DataFrame]:
    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        _ensure_py_files(spark)
        return fn(spark, sf_dir)

    return wrapped


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from mass_georeferencing_spark.plans.contract_ext import queries_ext
    from mass_georeferencing_spark.plans.contract_ext2 import queries_ext2

    # ORDER MATTERS: the driver records at most 50 entries in insertion order
    # (round 1 recorded exactly the first 50 of 51 and the flagship, inserted
    # last, fell off the gate — VERDICT.md "What's wrong" #1). The flagship and
    # the full relational skeleton go FIRST; the dict is kept at ≤50 entries.
    return {k: _wrap(v) for k, v in {
        "j1_fuzzy_flagship": _q_j1_fuzzy_flagship,
        "skeleton_pipeline": _q_skeleton_pipeline,
        **queries_ext(),
        **queries_ext2(),
        "a1_record_groups": _q_a1_record_groups,
        # a2_distinct_langs retired (50-entry budget; A2 DISTINCT evidence is
        # carried by a4_union_dedup's dropDuplicates + w5's distinct oracle)
        "a3_collapse_localities": _q_a3_collapse_localities,
        "a4_union_dedup": _q_a4_union_dedup,
        # a9_collect_set retired round 5 (slot given to decontam): A9's
        # string-agg is a pure builtin whose value oracle lives on in
        # tests/test_retired_rows.py (F12 precedent)
        "f4_located_at": _q_f4_located_at,
        "gadm_alias_names": _q_gadm_alias_names,
        "f6_explode_altnames": _q_f6_explode_altnames,
        "p2_garbage_filter": _q_p2_garbage_filter,
        "p4_state_contains": _q_p4_state_contains,
        "p5_prefix_match": _q_p5_prefix_match,
        "w1_topk_per_group": _q_w1_topk_per_group,
        # w5_deterministic_sample retired round 5 (slot given to
        # stratified_sample, the same md5-draw mechanism generalized to
        # per-stratum rates); W5's value oracle lives on in
        # tests/test_retired_rows.py
        "f14_cell_assign": _q_f14_cell_assign,
        "j5_distance_band": _q_j5_distance_band,
        "j6_knn_elevation": _q_j6_knn_elevation,
        "j3_pip_aoi": _q_j3_pip_aoi,
        "j4_pip_anti": _q_j4_pip_anti,
        # full-value driver row since round 4: the drained stream's distinct
        # output is the deterministic batch-equivalent set, so the pure-SQL
        # fuzzy oracle (plans/oracle_fuzzy.py) value-checks it; stream==batch
        # equality is additionally pinned in tests/test_streaming.py
        "streaming_fuzzy_microbatch": _q_streaming_fuzzy_microbatch,
    }.items()}


def oracle_sql() -> dict[str, str]:
    from mass_georeferencing_spark.plans.contract_ext import oracle_ext
    from mass_georeferencing_spark.plans.contract_ext2 import oracle_ext2
    from mass_georeferencing_spark.plans.oracle_fuzzy import (
        flagship_oracle_sql as _flagship_oracle_sql,
    )
    from mass_georeferencing_spark.plans.oracle_fuzzy import (
        streaming_fuzzy_oracle_sql as _streaming_oracle_sql,
    )

    W = syn.with_ctes
    hav_grid = _HAV.format(lat1="m.lat", lon1="m.lon", lat2="g.lat", lon2="g.lon")
    hav_adm = _HAV.format(lat1="m.lat", lon1="m.lon", lat2="g.lat", lon2="g.lon")
    return {
        **oracle_ext(),
        **oracle_ext2(),
        "a1_record_groups": W(
            """
            SELECT md5(concat_ws('|', lang, mention, state)) AS recgroup_id,
                   lang, mention, state, count(*) AS no_records
            FROM (SELECT lang, mention, coalesce(state, '') AS state
                  FROM mentions
                  WHERE lower(mention) NOT IN ('none', 'unknown', 'no locality data'))
            GROUP BY lang, mention, state
            """,
            syn.PAGES_CTE,
            syn.MENTIONS_CTE,
        ),
        "a3_collapse_localities": W(
            """
            SELECT name, stateprovince, max(uid) AS uid, count(*) AS no_features
            FROM gazetteer WHERE data_source = 'webnames'
            GROUP BY name, stateprovince
            """,
            syn.GAZETTEER_CTE,
        ),
        "a4_union_dedup": W(
            "SELECT DISTINCT uid, name, stateprovince, data_source FROM gazetteer",
            syn.GAZETTEER_CTE,
        ),
        "f4_located_at": """
            SELECT c_custkey,
                   regexp_replace(regexp_replace(
                     concat_ws(', ', c_name,
                       CASE WHEN n_nationkey % 3 = 0 THEN '' ELSE n_name END, r_name),
                     ', , ', ', ', 'g'), '^(, )+', '') AS located_at
            FROM customer
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
        """,
        "gadm_alias_names": W(
            """
            SELECT uid, name, stateprovince, 'gadm' AS data_source FROM (
              SELECT uid, name_1 AS name, name_1 AS stateprovince
              FROM gadm WHERE level = 1
              UNION
              SELECT uid, varname, name_1
              FROM gadm WHERE level = 1 AND varname IS NOT NULL
              UNION
              SELECT uid, name_2, name_1 || ', ' || name_0 FROM gadm WHERE level = 2
              UNION
              SELECT uid, varname, name_1 || ', ' || name_0
              FROM gadm WHERE level = 2 AND varname IS NOT NULL
              UNION
              SELECT uid, name_3, name_2 || ', ' || name_1 || ', ' || name_0
              FROM gadm WHERE level = 3
              UNION
              SELECT uid, varname, name_2 || ', ' || name_1 || ', ' || name_0
              FROM gadm WHERE level = 3 AND varname IS NOT NULL
              UNION
              SELECT uid, name_4, name_3 || ', ' || name_2 || ', ' || name_1 || ', ' || name_0
              FROM gadm WHERE level = 4
              UNION
              SELECT uid, varname, name_3 || ', ' || name_2 || ', ' || name_1 || ', ' || name_0
              FROM gadm WHERE level = 4 AND varname IS NOT NULL
              UNION
              SELECT uid, name_5,
                     name_4 || ', ' || name_3 || ', ' || name_2 || ', ' || name_1 || ', ' || name_0
              FROM gadm WHERE level = 5
              UNION
              SELECT uid, name_2 || ' Co., ' || name_1, name_1 || ', ' || name_0
              FROM gadm
              WHERE level = 2 AND name_0 = 'United States' AND type_2 = 'County'
              UNION
              SELECT uid, name_2 || ' ' || type_2 || ', ' || name_1, name_1 || ', ' || name_0
              FROM gadm WHERE level = 2 AND name_0 = 'United States'
              UNION
              SELECT g.uid, g.name_2 || ', ' || s.abbreviation, g.name_1 || ', ' || g.name_0
              FROM gadm g JOIN us_state_abbreviations s ON g.name_1 = s.state
              WHERE g.level = 2 AND g.name_0 = 'United States'
              UNION
              SELECT g.uid, g.name_2 || ' Co., ' || s.abbreviation, g.name_1 || ', ' || g.name_0
              FROM gadm g JOIN us_state_abbreviations s ON g.name_1 = s.state
              WHERE g.level = 2 AND g.name_0 = 'United States'
            ) WHERE name IS NOT NULL
            """,
            syn.GADM_CTE,
            syn.STATE_ABBREV_CTE,
        ),
        "f6_explode_altnames": W(
            """
            SELECT uid, name, data_source FROM (
              SELECT uid, name, data_source FROM gazetteer
              UNION ALL
              SELECT uid, unnest(string_split(alternatenames, ',')) AS name, data_source
              FROM gazetteer
              WHERE alternatenames IS NOT NULL AND alternatenames <> '')
            WHERE name <> ''
            """,
            syn.GAZETTEER_CTE,
        ),
        "p2_garbage_filter": W(
            """
            SELECT url, mention, state FROM mentions
            WHERE lower(mention) NOT IN ('none', 'unknown', 'no locality data')
            """,
            syn.PAGES_CTE,
            syn.MENTIONS_CTE,
        ),
        "p4_state_contains": W(
            "SELECT uid, name, stateprovince FROM gazetteer WHERE lower(stateprovince) LIKE '%a%'",
            syn.GAZETTEER_CTE,
        ),
        "p5_prefix_match": W(
            """
            SELECT url, mention FROM (SELECT DISTINCT url, mention FROM mentions)
            WHERE mention LIKE string_split(mention, ' ')[1] || ' %'
              AND mention <> string_split(mention, ' ')[1]
            """,
            syn.PAGES_CTE,
            syn.MENTIONS_CTE,
        ),
        "w1_topk_per_group": """
            SELECT o_custkey, o_orderkey, o_totalprice, rnk FROM (
              SELECT o_custkey, o_orderkey, o_totalprice,
                     CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
                       ORDER BY o_totalprice DESC, o_orderkey ASC) AS INTEGER) AS rnk
              FROM orders) WHERE rnk <= 3
        """,
        "f14_cell_assign": W(
            f"""
            SELECT url, doc_id,
                   {cell_oracle_sql('lat', 'lon', 12)} AS cell12,
                   {cell_oracle_sql('lat', 'lon', 6)} AS cell6
            FROM (SELECT url, any_value(doc_id) AS doc_id, any_value(lat) AS lat,
                         any_value(lon) AS lon
                  FROM mentions WHERE lat IS NOT NULL GROUP BY url)
            """,
            syn.PAGES_CTE,
            syn.MENTIONS_CTE,
        ),
        "j5_distance_band": W(
            f"""
            SELECT m.url, m.mention, g.uid,
                   round({hav_adm}, 1) AS distance_m,
                   CASE WHEN {hav_adm} <= 0 THEN 100 WHEN {hav_adm} <= 10000 THEN 95
                        WHEN {hav_adm} <= 50000 THEN 85 WHEN {hav_adm} <= 100000 THEN 75
                        ELSE 60 END AS score_spatial
            FROM mentions m
            JOIN gazetteer g ON g.lang = m.lang AND g.data_source = 'admin'
            WHERE m.lat IS NOT NULL AND m.lang = 'en'
            """,
            syn.PAGES_CTE,
            syn.MENTIONS_CTE,
            syn.GAZETTEER_CTE,
        ),
        "j6_knn_elevation": W(
            f"""
            SELECT url, grid_id, distance_m, score_elev FROM (
              SELECT m.url, g.grid_id,
                     round({hav_grid}, 1) AS distance_m,
                     CASE WHEN abs((m.doc_id * 17) % 3000 - g.elev_m) <= 100 THEN 100
                          WHEN abs((m.doc_id * 17) % 3000 - g.elev_m) <= 300 THEN 90
                          WHEN abs((m.doc_id * 17) % 3000 - g.elev_m) <= 600 THEN 80
                          WHEN abs((m.doc_id * 17) % 3000 - g.elev_m) <= 1000 THEN 70
                          ELSE 20 END AS score_elev,
                     ROW_NUMBER() OVER (PARTITION BY m.url
                       ORDER BY {hav_grid} ASC, g.grid_id ASC) AS rn
              FROM q m CROSS JOIN elev_grid g)
            WHERE rn = 1
            """,
            syn.PAGES_CTE,
            syn.MENTIONS_CTE,
            syn.ELEV_CTE,
            """q AS (SELECT url, any_value(doc_id) AS doc_id, any_value(lat) AS lat,
                       any_value(lon) AS lon
                FROM mentions WHERE lat IS NOT NULL GROUP BY url)""",
        ),
        "j3_pip_aoi": W(
            """
            SELECT m.url, m.doc_id, a.polygon_id
            FROM (SELECT url, any_value(doc_id) AS doc_id, any_value(lat) AS lat,
                         any_value(lon) AS lon
                  FROM mentions WHERE lat IS NOT NULL GROUP BY url) m
            JOIN aoi a ON m.lon > a.min_lon AND m.lon < a.max_lon
                      AND m.lat > a.min_lat AND m.lat < a.max_lat
            """,
            syn.PAGES_CTE,
            syn.MENTIONS_CTE,
            syn.AOI_CTE,
        ),
        "j4_pip_anti": W(
            """
            SELECT m.url, m.doc_id
            FROM (SELECT url, any_value(doc_id) AS doc_id, any_value(lat) AS lat,
                         any_value(lon) AS lon
                  FROM mentions WHERE lat IS NOT NULL GROUP BY url) m
            WHERE NOT EXISTS (
              SELECT 1 FROM aoi a
              WHERE m.lon > a.min_lon AND m.lon < a.max_lon
                AND m.lat > a.min_lat AND m.lat < a.max_lat)
            """,
            syn.PAGES_CTE,
            syn.MENTIONS_CTE,
            syn.AOI_CTE,
        ),
        "skeleton_pipeline": W(
            """
            SELECT t.recgroup_id, t.candidate_id, t.uid, t.name, t.data_source,
                   m.mean_score, t.rnk
            FROM top t JOIN means m USING (candidate_id)
            WHERE m.mean_score >= 75.0
            """,
            syn.PAGES_CTE,
            syn.MENTIONS_CTE,
            syn.GAZETTEER_CTE,
            """rg AS (
              SELECT md5(concat_ws('|', lang, mention, state)) AS recgroup_id,
                     lang, mention, state, count(*) AS no_records
              FROM (SELECT lang, mention, coalesce(state, '') AS state
                    FROM mentions
                    WHERE lower(mention) NOT IN ('none', 'unknown', 'no locality data'))
              GROUP BY lang, mention, state),
            scored AS (
              SELECT rg.recgroup_id, g.uid, g.name, g.data_source, g.no_features,
                     md5(concat_ws('|', rg.recgroup_id, g.uid, g.data_source)) AS candidate_id,
                     100.0 AS score1,
                     CASE WHEN strpos(g.stateprovince, rg.state) > 0
                          THEN 100.0 ELSE 0.0 END AS score_state
              FROM rg JOIN gazetteer g ON g.lang = rg.lang
              WHERE strpos(g.name, rg.mention) > 0),
            top AS (
              SELECT * FROM (
                SELECT s.*, CAST(ROW_NUMBER() OVER (PARTITION BY recgroup_id
                  ORDER BY score_state DESC, no_features DESC, uid ASC) AS INTEGER) AS rnk
                FROM scored s) WHERE rnk <= 5),
            means AS (
              SELECT candidate_id, round(avg(score), 1) AS mean_score FROM (
                SELECT candidate_id, score1 AS score FROM top
                UNION ALL
                SELECT candidate_id, score_state FROM top) GROUP BY candidate_id)""",
        ),
        # J1 flagship — pure-SQL value oracle: the fuzzy kernels run as a
        # recursive-CTE bit-parallel LCS (plans/oracle_fuzzy.py), validated
        # bit-for-bit vs the engine kernels AND the independent naive-DP
        # reference (tests/test_fuzzy_sql.py, tests/test_flagship_oracle.py).
        # Was rows-only through round 2.
        "j1_fuzzy_flagship": _flagship_oracle_sql(),
        # streaming contract row — same pure-SQL kernels over the deterministic
        # batch-equivalent distinct set (was rows-only through round 3)
        "streaming_fuzzy_microbatch": _streaming_oracle_sql(),
    }
