"""Driver-contract batch 3: remaining SURVEY.md §2 operators.

F7 country-code lookup join, F10/F11 nullif + date-probe bulk-cast (the S3
staging-load idiom), F12 rounding, W3 ranked display order, A5 group candidate
counts, A7 export manifest agg, A8 per-topic rollup, A10 catalog sum, U3
union-all, J2 fuzzy mean join (full-value fuzzy SQL oracle since round 3,
dedup-before-score scale path since round 4), F7 verbatim-country
normalization (round 4), plus the S5 export star output.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.record_groups import build_record_groups
from ..operators.scoring import drop_empty_groups, group_candidate_counts
from ..operators.topk import ranked_display_order
from ..sources import synthetic as syn
from ..sources.tables import load_table

# static ISO-ish lookup (F7: pycountry alpha2→name, batch_georeferencing.py:191-195 —
# restated as a broadcast lookup join instead of per-row library calls)
LANG_NAMES = {
    "en": "English",
    "de": "German",
    "es": "Spanish",
    "fr": "French",
    "zh": "Chinese",
}


def _q_f7_code_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    lookup = spark.createDataFrame(
        [(k, v) for k, v in sorted(LANG_NAMES.items())], ["lang", "lang_name"]
    )
    return (
        docs.join(F.broadcast(lookup), on="lang", how="left")
        .select(
            "doc_id",
            "lang",
            F.coalesce(F.col("lang_name"), F.lit("Unknown")).alias("lang_name"),
        )
    )


def _q_f10_f11_staging_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3/F10/F11: the bulk-load cast idiom — ''→NULL then try-cast
    (database/load_gbif_dwc_download.sql:350-440; is_date probe
    mass_georef_database.sql:350-357 → to_date null-on-fail)."""
    ev = load_table(spark, sf_dir, "events")
    raw_date = F.when(
        F.col("event_id") % 5 == 0, F.lit("")
    ).when(
        F.col("event_id") % 7 == 0, F.lit("not-a-date")
    ).otherwise(F.date_format(F.col("ts"), "yyyy-MM-dd"))
    nn = F.nullif(raw_date, F.lit(""))
    return ev.select(
        "event_id",
        nn.alias("raw_date"),
        F.try_to_timestamp(nn, F.lit("yyyy-MM-dd")).cast("date").cast("string").alias("parsed_date"),
    )


def _q_f12_rounding(spark: SparkSession, sf_dir: str) -> DataFrame:
    # F12: ROUND(AVG(score),1) + 5-decimal lat/lng rounding (app.R:1484-1485).
    # Retired from the 50-slot driver contract in round 4 (trivial builtin)
    # to make room for f7_verbatim_country; its value oracle lives on in
    # tests/test_countrycode.py::test_f12_rounding_oracle.
    m = syn.mentions_df(spark, sf_dir).where(F.col("lat").isNotNull())
    return m.groupBy("lang").agg(
        F.round(F.avg("lat"), 5).alias("avg_lat"),
        F.round(F.avg("lon"), 5).alias("avg_lon"),
        F.round(F.avg(F.length("mention")), 1).alias("avg_mention_len"),
    )


def _q_f7_verbatim_country(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7 full reference semantics (cleanup_countrycode.py:85-122): verbatim
    country strings → alpha-2 codes via cleanup + name/common-name lookup +
    '/'/' or '/' and ' multi-value splitting, with the reference's unguarded
    per-verbatim UPDATE overwrite preserved."""
    from ..operators.countrycode import normalize_country_codes

    occ = syn.occ_country_df(spark, sf_dir)
    countries = syn.countries_df(spark, sf_dir)
    return normalize_country_codes(occ, countries).select(
        "occ_id", "countryverbatim", "countrycode"
    )


def _q_w3_ranked_display(spark: SparkSession, sf_dir: str) -> DataFrame:
    # W3: source-priority ranking then score desc (app.R:899-901)
    gaz = syn.gazetteer_df(spark, sf_dir)
    scored = gaz.withColumn("score", (F.col("no_features") * 10).cast("double"))
    out = ranked_display_order(scored, priority=["admin", "webnames"])
    return out.select("uid", "data_source", "score")


def _q_a5_group_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    groups = build_record_groups(syn.mentions_df(spark, sf_dir))
    cands = syn.gazetteer_df(spark, sf_dir)
    matched = (
        groups.join(cands, on="lang")
        .where(F.instr(F.col("name"), F.col("mention")) > 0)
        .select("recgroup_id", "uid")
    )
    with_counts = group_candidate_counts(matched, groups)
    return drop_empty_groups(with_counts).select("recgroup_id", "mention", "no_candidates")


def _q_a7_export_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    # A7: count(*) GROUP BY data_source, point_or_polygon (export.R:36)
    gaz = syn.gazetteer_df(spark, sf_dir)
    kind = F.when(F.col("uid").startswith("adm:"), "polygon").otherwise("point")
    return gaz.groupBy("data_source", kind.alias("point_or_polygon")).agg(
        F.count(F.lit(1)).alias("n")
    )


def _q_a8_topic_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # A8: per-taxonomy match summary (match_SI_GBIF.py:332-339) — per (lang, source)
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("total_chars")
    )


def _q_j2_fuzzy_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    # J2 older-engine variant (match_SI_GBIF.py:43-71); full-value driver
    # oracle (plans/oracle_fuzzy.py), independent check in
    # tests/test_rowsonly_oracles.py; dedup-before-score scale path default
    from ..operators.fuzzy_join import fuzzy_mean_join
    from ..operators.layers import normalize_candidates

    groups = build_record_groups(syn.mentions_df(spark, sf_dir))
    cands = normalize_candidates(syn.gazetteer_df(spark, sf_dir))
    out = fuzzy_mean_join(groups, cands, method="partial", threshold=80.0)
    return out.select("recgroup_id", "uid", F.round("score", 2).alias("score"))


# F12 oracle retired from the driver contract (round 4) but still pinned by
# tests/test_countrycode.py::test_f12_rounding_oracle
F12_ROUNDING_ORACLE = syn.with_ctes(
    """
    SELECT lang, round(avg(lat), 5) AS avg_lat, round(avg(lon), 5) AS avg_lon,
           round(avg(length(mention)), 1) AS avg_mention_len
    FROM mentions WHERE lat IS NOT NULL GROUP BY lang
    """,
    syn.PAGES_CTE,
    syn.MENTIONS_CTE,
)

# F7 full-semantics oracle: cleanup → case-insensitive name/common-name
# lookup → separator-precedence split → ','-joined codes in part order →
# unguarded per-verbatim overwrite (cleanup_countrycode.py:85-122)
F7_VERBATIM_ORACLE = syn.with_ctes(
    r"""
    SELECT o.occ_id, o.countryverbatim,
           coalesce(m.resolved, o.countrycode) AS countrycode
    FROM occ_country o
    LEFT JOIN vmap m ON m.v = o.countryverbatim
    """,
    syn.COUNTRIES_CTE,
    syn.OCC_COUNTRY_CTE,
    r"""cleaned AS (
      SELECT v, lower(trim(regexp_replace(v, '[^a-zA-Z /]', '', 'g'))) AS low
      FROM (SELECT DISTINCT countryverbatim AS v FROM occ_country
            WHERE countrycode IS NULL AND countryverbatim IS NOT NULL)),
    direct AS (
      SELECT c.v, c.low, coalesce(n.alpha_2, cm.alpha_2) AS direct_code
      FROM cleaned c
      LEFT JOIN countries n ON lower(n.name) = c.low
      LEFT JOIN countries cm ON lower(cm.common_name) = c.low),
    parts AS (
      SELECT d.v, t.i AS pos, trim(d.arr[t.i]) AS p
      FROM (SELECT v, CASE WHEN low LIKE '%/%' THEN string_split(low, '/')
                           WHEN low LIKE '% or %' THEN string_split(low, ' or ')
                           WHEN low LIKE '% and %' THEN string_split(low, ' and ')
                           ELSE [low] END AS arr
            FROM direct WHERE direct_code IS NULL) d,
           LATERAL unnest(range(1, len(d.arr) + 1)) AS t(i)),
    split_codes AS (
      SELECT v, string_agg(code, ',' ORDER BY pos) AS split_code FROM (
        SELECT p.v, p.pos, coalesce(n.alpha_2, cm.alpha_2) AS code
        FROM parts p
        LEFT JOIN countries n ON lower(n.name) = p.p
        LEFT JOIN countries cm ON lower(cm.common_name) = p.p)
      WHERE code IS NOT NULL GROUP BY v),
    vmap AS (
      SELECT d.v, coalesce(d.direct_code, s.split_code) AS resolved
      FROM direct d LEFT JOIN split_codes s ON s.v = d.v
      WHERE coalesce(d.direct_code, s.split_code) IS NOT NULL)""",
)


HIST_DIMS_CTE = """
hist_dims AS (
  SELECT 'hd:' || n_nationkey AS uid,
         replace(lower(n_name), '_', ' ') AS entity,
         make_timestamp((1704067200 + (n_nationkey * 97) % 300 * 60) * CAST(1000000 AS BIGINT)) AS valid_from,
         make_timestamp((1704067200 + (n_nationkey * 97) % 300 * 60
            + (1 + n_nationkey % 7) * 3600) * CAST(1000000 AS BIGINT)) AS valid_to,
         make_timestamp((1704067200 + (n_nationkey * 137) % 480 * 60) * CAST(1000000 AS BIGINT)) AS version_ts,
         CASE n_nationkey % 5 WHEN 0 THEN 'en' WHEN 1 THEN 'de' WHEN 2 THEN 'es'
              WHEN 3 THEN 'fr' ELSE 'zh' END AS lang
  FROM nation
)"""


def _hist_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_table(spark, sf_dir, "nation")
    langs = F.array(F.lit("en"), F.lit("de"), F.lit("es"), F.lit("fr"), F.lit("zh"))
    base = F.lit(1704067200)
    return nation.select(
        F.concat(F.lit("hd:"), F.col("n_nationkey")).alias("uid"),
        F.replace(F.lower(F.col("n_name")), F.lit("_"), F.lit(" ")).alias("entity"),
        F.timestamp_seconds(base + (F.col("n_nationkey") * 97) % 300 * 60).alias("valid_from"),
        F.timestamp_seconds(
            base + (F.col("n_nationkey") * 97) % 300 * 60 + (1 + F.col("n_nationkey") % 7) * 3600
        ).alias("valid_to"),
        F.timestamp_seconds(base + (F.col("n_nationkey") * 137) % 480 * 60).alias("version_ts"),
        F.element_at(langs, (F.col("n_nationkey") % 5 + 1).cast("int")).alias("lang"),
    )


def _q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # temporal window join: warc_ts in [valid_from, valid_to) — the reference
    # carried these columns unused (queries.py:256-265); time-bucket equi-join
    from ..operators.interval_join import interval_join

    pages = syn.pages_df(spark, sf_dir).select("url", "warc_ts")
    dims = _hist_dims(spark, sf_dir).select("uid", "valid_from", "valid_to")
    out = interval_join(pages, dims, bucket_seconds=3600)
    return out.select("url", "uid")


def _q_as_of_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # as-of: latest dim version per lang with version_ts <= warc_ts
    from ..operators.interval_join import as_of_join

    pages = syn.pages_df(spark, sf_dir).select("url", "lang", "warc_ts")
    dims = _hist_dims(spark, sf_dir).select("lang", "uid", "entity", "version_ts")
    out = as_of_join(pages, dims, on=["lang"], ts_col="warc_ts")
    return out.select("url", "lang", F.col("dim_uid").alias("uid"), F.col("dim_entity").alias("entity"))


def _q_tile_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    # F14 + rollup: multi-resolution tile counts (fold-up, no raw re-scan)
    from ..operators.tiles import tile_pyramid

    m = syn.mentions_df(spark, sf_dir).where(F.col("lat").isNotNull())
    return tile_pyramid(m, [12, 8, 4])


def _q_adaptive_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    # O9 skew: mixed-resolution re-keying of over-full cells
    from ..operators.tiles import adaptive_cells

    m = syn.mentions_df(spark, sf_dir).where(F.col("lat").isNotNull())
    out = adaptive_cells(m, base_res=2, max_rows_per_cell=5, split_delta=2)
    return out.select("url", "mention", "cell")


def queries_ext2() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "interval_join": _q_interval_join,
        "as_of_join": _q_as_of_join,
        "tile_pyramid": _q_tile_pyramid,
        "adaptive_cells": _q_adaptive_cells,
        "f7_code_lookup": _q_f7_code_lookup,
        "f7_verbatim_country": _q_f7_verbatim_country,
        "f10_f11_staging_cast": _q_f10_f11_staging_cast,
        # f12_rounding retired in round 4 (trivial builtin; pinned in
        # tests/test_countrycode.py) — slot given to f7_verbatim_country
        "w3_ranked_display": _q_w3_ranked_display,
        "a5_group_counts": _q_a5_group_counts,
        "a7_export_manifest": _q_a7_export_manifest,
        "a8_topic_rollup": _q_a8_topic_rollup,
        # a10_sum_catalog and u3_union_all retired (50-entry driver budget;
        # A10 sum evidence is carried by a8_topic_rollup's CAST(sum(...)),
        # U3 UNION ALL by f6_explode_altnames/gadm_alias_names, both oracled —
        # VERDICT.md next #1)
        "j2_fuzzy_mean": _q_j2_fuzzy_mean,
    }


def oracle_ext2() -> dict[str, str]:
    from ..functions.cells import cell_oracle_sql, cell_parent_oracle_sql
    from .oracle_fuzzy import fuzzy_mean_oracle_sql

    W = syn.with_ctes
    lookup_values = ", ".join(f"('{k}', '{v}')" for k, v in sorted(LANG_NAMES.items()))
    c12 = cell_oracle_sql("lat", "lon", 12)
    p8 = cell_parent_oracle_sql("cell", 12, 8)
    p4 = cell_parent_oracle_sql("cell", 8, 4)
    c2 = cell_oracle_sql("lat", "lon", 2)
    c4 = cell_oracle_sql("lat", "lon", 4)
    return {
        # J2 — pure-SQL value oracle (recursive-CTE bit-parallel LCS; see
        # plans/oracle_fuzzy.py). Was rows-only through round 2.
        "j2_fuzzy_mean": fuzzy_mean_oracle_sql(),
        "interval_join": W(
            """
            SELECT p.url, d.uid
            FROM pages p JOIN hist_dims d
              ON p.warc_ts >= d.valid_from AND p.warc_ts < d.valid_to
            """,
            syn.PAGES_CTE,
            HIST_DIMS_CTE,
        ),
        "as_of_join": W(
            """
            SELECT url, lang, uid, entity FROM (
              SELECT p.url, p.lang, d.uid, d.entity,
                     ROW_NUMBER() OVER (PARTITION BY p.lang, p.url
                       ORDER BY d.version_ts DESC) AS rn
              FROM pages p JOIN hist_dims d
                ON d.lang = p.lang AND d.version_ts <= p.warc_ts)
            WHERE rn = 1
            """,
            syn.PAGES_CTE,
            HIST_DIMS_CTE,
        ),
        "tile_pyramid": W(
            """
            SELECT 12 AS res, cell, n FROM t12
            UNION ALL SELECT 8, cell, n FROM t8
            UNION ALL SELECT 4, cell, n FROM t4
            """,
            syn.PAGES_CTE,
            syn.MENTIONS_CTE,
            f"""t12 AS (
              SELECT {c12} AS cell, count(*) AS n
              FROM mentions WHERE lat IS NOT NULL GROUP BY 1)""",
            f"t8 AS (SELECT {p8} AS cell, CAST(sum(n) AS BIGINT) AS n FROM t12 GROUP BY 1)",
            f"t4 AS (SELECT {p4} AS cell, CAST(sum(n) AS BIGINT) AS n FROM t8 GROUP BY 1)",
        ),
        "adaptive_cells": W(
            f"""
            SELECT m.url, m.mention,
                   CASE WHEN h._base IS NOT NULL THEN {c4} ELSE {c2} END AS cell
            FROM (SELECT *, {c2} AS _b FROM mentions WHERE lat IS NOT NULL) m
            LEFT JOIN (
              SELECT {c2} AS _base FROM mentions WHERE lat IS NOT NULL
              GROUP BY 1 HAVING count(*) > 5) h
            ON m._b = h._base
            """,
            syn.PAGES_CTE,
            syn.MENTIONS_CTE,
        ),
        "f7_code_lookup": f"""
            SELECT doc_id, d.lang, coalesce(l.lang_name, 'Unknown') AS lang_name
            FROM documents d
            LEFT JOIN (VALUES {lookup_values}) AS l(lang, lang_name) ON d.lang = l.lang
        """,
        "f10_f11_staging_cast": """
            SELECT event_id,
                   nullif(raw_date, '') AS raw_date,
                   CAST(try_cast(nullif(raw_date, '') AS DATE) AS VARCHAR) AS parsed_date
            FROM (
              SELECT event_id,
                     CASE WHEN event_id % 5 = 0 THEN ''
                          WHEN event_id % 7 = 0 THEN 'not-a-date'
                          ELSE strftime(ts, '%Y-%m-%d') END AS raw_date
              FROM events)
        """,
        "f7_verbatim_country": F7_VERBATIM_ORACLE,
        # w3_ranked_display: ordering-sensitive; driver hashes order-insensitively,
        # so values match — include for completeness
        "w3_ranked_display": W(
            """
            SELECT uid, data_source, CAST(no_features * 10 AS DOUBLE) AS score
            FROM gazetteer
            ORDER BY CASE data_source WHEN 'admin' THEN 1 WHEN 'webnames' THEN 2 ELSE 3 END,
                     score DESC
            """,
            syn.GAZETTEER_CTE,
        ),
        "a5_group_counts": W(
            """
            SELECT rg.recgroup_id, rg.mention, count(*) AS no_candidates
            FROM rg JOIN gazetteer g ON g.lang = rg.lang
            WHERE strpos(g.name, rg.mention) > 0
            GROUP BY rg.recgroup_id, rg.mention
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
        "a7_export_manifest": W(
            """
            SELECT data_source,
                   CASE WHEN uid LIKE 'adm:%' THEN 'polygon' ELSE 'point' END AS point_or_polygon,
                   count(*) AS n
            FROM gazetteer GROUP BY 1, 2
            """,
            syn.GAZETTEER_CTE,
        ),
        "a8_topic_rollup": (
            "SELECT lang, source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars "
            "FROM documents GROUP BY lang, source"
        ),
    }
