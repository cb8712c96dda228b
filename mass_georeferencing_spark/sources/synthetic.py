"""Deterministic SQL-mirrored derivations of the engine's domain tables.

BASELINE.json's input_hint mandates the engine operate over a Common-Crawl-style
pages table ``(url, warc_ts, html, text, lang)``; the reference's gazetteer layers
(batch_georeferencing/queries.py:47-598) provide the candidate side. No external
data is allowed, so both are **derived deterministically from the driver's testdata
parquet** (documents / nation / region / part), with every derivation expressible in
both Spark (DataFrame API, below) and DuckDB SQL (the ``*_CTE`` strings) so the
driver's oracle can check each relational operator end-to-end.

Mapping (FIXTURES.md):
- ``documents``  → ``pages``: url pk, warc_ts, html = a REAL rendered page
  (skeleton + entity-encoded body, operators/extract.py) whose extractor wins
  the text bytes back exactly (the input_hint's byte-identical invariant,
  pinned by tests/test_extract.py), lang.
- page text     → ``mentions``: geoparsed locality strings (first word-pairs) with
  optional inline coordinates — the analog of ``mg_occurrences.locality``
  (database/mass_georef_database.sql:134-226).
- documents + nation⋈region → ``gazetteer``: normalized candidate schema
  ``(uid, name, stateprovince, data_source, lang, lon, lat, alternatenames,
  no_features)`` — the P1 projection every reference layer emits
  (batch_georeferencing/queries.py:57,241,410).
- region        → ``aoi``: rectangular AOI polygons (mg_polygons analog,
  database/mass_georef_database.sql:441-447). Rectangles are deliberate: the Spark
  side runs the real WKB + ray-cast PIP kernel while the oracle checks the same
  containment with pure bbox arithmetic — an independent cross-check of the kernel.
- part          → ``elev_grid``: gridded elevation points (raster analog for the
  zonal kNN lookup, batch_georeferencing/functions.py:145-230).

All arithmetic uses nonnegative integer keys so ``%`` agrees across dialects.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .tables import load_table

CRAWL_EPOCH = 1704067200  # 2024-01-01T00:00:00Z


# ---------------------------------------------------------------------------
# pages
# ---------------------------------------------------------------------------


def pages_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → pages(url, warc_ts, html, text, lang [, doc_id]).

    ``html`` is a REAL rendered page (skeleton + entity-encoded body —
    operators/extract.py), so the input_hint's byte-identical-extracted-text
    invariant is earned by the extractor, not true by construction;
    tests/test_extract.py pins extract_text_col(html) == text per url."""
    from ..operators.extract import render_html_col

    docs = load_table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://crawl.example/"), F.col("lang"), F.lit("/"), F.col("doc_id")
    )
    return docs.select(
        url.alias("url"),
        F.timestamp_seconds(F.lit(CRAWL_EPOCH) + F.col("doc_id") * F.lit(60)).alias("warc_ts"),
        render_html_col(url, F.col("text")).alias("html"),
        F.col("text"),
        F.col("lang"),
        F.col("doc_id"),
    )


def _pages_cte() -> str:
    from ..operators.extract import render_sql

    return f"""
pages AS (
  SELECT url,
         make_timestamp(({CRAWL_EPOCH} + doc_id * 60) * 1000000) AS warc_ts,
         {render_sql('url', 'text')} AS html,
         text,
         lang,
         doc_id
  FROM (SELECT 'https://crawl.example/' || lang || '/' || doc_id AS url, *
        FROM documents)
)"""


PAGES_CTE = _pages_cte()


# ---------------------------------------------------------------------------
# mentions (geoparse) — two mention slots per page (words 1-2 and words 4-5),
# inline coordinates on every 7th page.
# ---------------------------------------------------------------------------

_COORD_LAT = "(doc_id * 37) % 170 - 85 + 0.5"
_COORD_LON = "(doc_id * 53) % 360 - 180 + 0.5"


def _mention_slot(pages: DataFrame, pat: str) -> DataFrame:
    has_coords = F.col("doc_id") % 7 == 0
    return pages.select(
        F.col("url"),
        F.col("lang"),
        F.col("doc_id"),
        F.regexp_extract(F.col("text"), pat, 1).alias("mention"),
        F.regexp_extract(F.col("text"), r"^\w+ \w+ (\w+)", 1).alias("state"),
        F.when(has_coords, (F.col("doc_id") * 37) % 170 - 85 + 0.5).alias("lat"),
        F.when(has_coords, (F.col("doc_id") * 53) % 360 - 180 + 0.5).alias("lon"),
    ).where(F.col("mention") != "")


def mentions_from_pages(pages: DataFrame) -> DataFrame:
    """pages → mentions(url, lang, doc_id, mention, state, lat, lon).

    The geoparse analog of the reference's locality column: slot 1 = words 1-2,
    slot 2 = words 4-5 of the extracted text (deterministic template extraction,
    FIXTURES.md §1). ``state`` = word 3 (plays ``stateprovince``); ``lang`` plays
    the blocking role of ``countrycode`` (batch_georeferencing.py:132-138).
    """
    s1 = _mention_slot(pages, r"^(\w+ \w+)")
    s2 = _mention_slot(pages, r"^\w+ \w+ \w+ (\w+ \w+)")
    return s1.unionByName(s2)


def mentions_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mentions of the pages derived from ``sf_dir``."""
    return mentions_from_pages(pages_df(spark, sf_dir))


MENTIONS_CTE = f"""
mentions AS (
  SELECT url, lang, doc_id,
         regexp_extract(text, '^(\\w+ \\w+)', 1) AS mention,
         regexp_extract(text, '^\\w+ \\w+ (\\w+)', 1) AS state,
         CASE WHEN doc_id % 7 = 0 THEN {_COORD_LAT} END AS lat,
         CASE WHEN doc_id % 7 = 0 THEN {_COORD_LON} END AS lon
  FROM pages
  WHERE regexp_extract(text, '^(\\w+ \\w+)', 1) <> ''
  UNION ALL
  SELECT url, lang, doc_id,
         regexp_extract(text, '^\\w+ \\w+ \\w+ (\\w+ \\w+)', 1) AS mention,
         regexp_extract(text, '^\\w+ \\w+ (\\w+)', 1) AS state,
         CASE WHEN doc_id % 7 = 0 THEN {_COORD_LAT} END AS lat,
         CASE WHEN doc_id % 7 = 0 THEN {_COORD_LON} END AS lon
  FROM pages
  WHERE regexp_extract(text, '^\\w+ \\w+ \\w+ (\\w+ \\w+)', 1) <> ''
)"""


# ---------------------------------------------------------------------------
# gazetteer — two layers sharing the normalized candidate schema (P1)
# ---------------------------------------------------------------------------


def gazetteer_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized candidate union: 'webnames' (from documents) + 'admin'
    (nation⋈region, en-only — the P6 layer-gating analog,
    batch_georeferencing.py:232-393)."""
    docs = load_table(spark, sf_dir, "documents")
    name3 = F.regexp_extract(F.col("text"), r"^(\w+ \w+ \w+)", 1)
    webnames = (
        docs.where((F.col("doc_id") % 3 == 0) & (name3 != ""))
        .select(
            F.concat(F.lit("wn:"), F.col("doc_id")).alias("uid"),
            name3.alias("name"),
            F.regexp_extract(F.col("text"), r"^\w+ \w+ (\w+)", 1).alias("stateprovince"),
            F.lit("webnames").alias("data_source"),
            F.col("lang"),
            ((F.col("doc_id") * 53) % 3600) / 10.0 - 180.0 + 0.05,
            ((F.col("doc_id") * 37) % 1700) / 10.0 - 85.0 + 0.05,
            F.concat(name3, F.lit(","), F.upper(name3)).alias("alternatenames"),
            (F.lit(1) + F.col("doc_id") % 4).cast("int").alias("no_features"),
        )
        .toDF(
            "uid", "name", "stateprovince", "data_source", "lang",
            "lon", "lat", "alternatenames", "no_features",
        )
    )
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    admin = (
        nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select(
            F.concat(F.lit("adm:"), F.col("n_nationkey")).alias("uid"),
            F.replace(F.lower(F.col("n_name")), F.lit("_"), F.lit(" ")).alias("name"),
            F.lower(F.col("r_name")).alias("stateprovince"),
            F.lit("admin").alias("data_source"),
            F.lit("en").alias("lang"),
            ((F.col("n_nationkey") * 139) % 360 - 180 + 0.25).cast("double").alias("lon"),
            ((F.col("n_nationkey") * 83) % 170 - 85 + 0.25).cast("double").alias("lat"),
            F.concat(
                F.replace(F.lower(F.col("n_name")), F.lit("_"), F.lit(" ")),
                F.lit(","),
                F.lower(F.col("n_name")),
            ).alias("alternatenames"),
            F.lit(1).alias("no_features"),
        )
    )
    return webnames.unionByName(admin)


GAZETTEER_CTE = """
gazetteer AS (
  SELECT 'wn:' || doc_id AS uid,
         regexp_extract(text, '^(\\w+ \\w+ \\w+)', 1) AS name,
         regexp_extract(text, '^\\w+ \\w+ (\\w+)', 1) AS stateprovince,
         'webnames' AS data_source,
         lang,
         ((doc_id * 53) % 3600) / 10.0 - 180.0 + 0.05 AS lon,
         ((doc_id * 37) % 1700) / 10.0 - 85.0 + 0.05 AS lat,
         regexp_extract(text, '^(\\w+ \\w+ \\w+)', 1) || ',' ||
           upper(regexp_extract(text, '^(\\w+ \\w+ \\w+)', 1)) AS alternatenames,
         CAST(1 + doc_id % 4 AS INTEGER) AS no_features
  FROM documents
  WHERE doc_id % 3 = 0 AND regexp_extract(text, '^(\\w+ \\w+ \\w+)', 1) <> ''
  UNION ALL
  SELECT 'adm:' || n_nationkey,
         replace(lower(n_name), '_', ' '),
         lower(r_name),
         'admin',
         'en',
         CAST((n_nationkey * 139) % 360 - 180 + 0.25 AS DOUBLE),
         CAST((n_nationkey * 83) % 170 - 85 + 0.25 AS DOUBLE),
         replace(lower(n_name), '_', ' ') || ',' || lower(n_name),
         1
  FROM nation JOIN region ON n_regionkey = r_regionkey
)"""


# ---------------------------------------------------------------------------
# amplified sources — pages and gazetteer × factor with deterministic text
# mutation: replica r prepends a vocab word, shifting every mention/name
# extraction, so disjoint replica 'dialects' keep the pair space realistic
# instead of factor² duplicates. Pure JVM, no external data.
# ---------------------------------------------------------------------------

REPLICA_VOCAB = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliett kilo lima "
    "mike november oscar papa quebec romeo sierra tango"
).split()


def _replicate(df: DataFrame, factor: int) -> DataFrame:
    """``df`` × ``factor`` with a ``rep`` index column. The small
    pre-amplification side is spread first: the testdata parquet is one file →
    one scan partition, which the crossJoin (tiny replica side broadcast) would
    inherit and serialize. A real web-scale input arrives in thousands of
    splits."""
    spark = df.sparkSession
    reps = spark.range(factor).withColumnRenamed("id", "rep")
    return df.repartition(spark.sparkContext.defaultParallelism).crossJoin(reps)


def _replica_prefix(text: Column) -> Column:
    vocab = F.array(*[F.lit(w) for w in REPLICA_VOCAB])
    word = F.element_at(vocab, (F.col("rep") % len(REPLICA_VOCAB) + 1).cast("int"))
    return F.concat(word, F.lit(" "), text)


def amplified_pages(spark: SparkSession, sf_dir: str, factor: int) -> DataFrame:
    """pages × ``factor``; feed to :func:`mentions_from_pages`."""
    return (
        _replicate(pages_df(spark, sf_dir), factor)
        .withColumn("doc_id", F.col("doc_id") * factor + F.col("rep"))
        .withColumn("url", F.concat(F.col("url"), F.lit("/r"), F.col("rep")))
        .withColumn("text", _replica_prefix(F.col("text")))
        .drop("rep")
    )


def amplified_gazetteer(spark: SparkSession, sf_dir: str, factor: int) -> DataFrame:
    """gazetteer × ``factor``; replica coordinates shift by 0.001° per replica."""
    return (
        _replicate(gazetteer_df(spark, sf_dir), factor)
        .withColumn("uid", F.concat(F.col("uid"), F.lit("/r"), F.col("rep")))
        .withColumn("name", _replica_prefix(F.col("name")))
        .withColumn("lat", F.col("lat") + F.col("rep") * 0.001)
        .withColumn("lon", F.col("lon") + F.col("rep") * 0.001)
        .drop("rep")
    )


# ---------------------------------------------------------------------------
# gadm — administrative hierarchy (levels 1-5) in the wide shape the reference's
# gadm1..gadm5 tables share: a row at level N carries name_1..name_N (+ name_0
# country), its own-variant name, and the level-2 type. Derived from supplier.
# ---------------------------------------------------------------------------


def gadm_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """supplier → gadm(uid, level, name_0..name_5, varname, type_2).

    The U1 alias-expansion input (batch_georeferencing/queries.py:103-131):
    level = row's GADM depth; name_k is NULL above the row's level; varname is
    the optional variant name (NULL on every 3rd row, mirroring nullable
    varname_N); type_2 alternates County/Municipality for the US branches."""
    sup = load_table(spark, sf_dir, "supplier")
    k = F.col("s_suppkey")
    lvl = (k % 5 + 1).cast("int")

    def nm(prefix: str, mult: int, mod: int, min_lvl: int):
        return F.when(
            lvl >= min_lvl,
            F.concat(F.lit(prefix + " "), ((k * mult) % mod).cast("string")),
        )

    return sup.select(
        F.concat(F.lit("gadm:"), k.cast("string")).alias("uid"),
        lvl.alias("level"),
        F.when(k % 3 == 0, "United States")
        .when(k % 3 == 1, "Mexico")
        .otherwise("Canada")
        .alias("name_0"),
        nm("state", 7, 10, 1).alias("name_1"),
        nm("county", 11, 20, 2).alias("name_2"),
        nm("dist", 13, 25, 3).alias("name_3"),
        nm("ward", 17, 30, 4).alias("name_4"),
        nm("block", 19, 35, 5).alias("name_5"),
        F.when(k % 3 != 0, F.concat(F.lit("alt "), k.cast("string"))).alias("varname"),
        F.when(k % 2 == 0, "County").otherwise("Municipality").alias("type_2"),
    )


GADM_CTE = """
gadm AS (
  SELECT 'gadm:' || s_suppkey AS uid,
         CAST(s_suppkey % 5 + 1 AS INTEGER) AS level,
         CASE s_suppkey % 3 WHEN 0 THEN 'United States'
              WHEN 1 THEN 'Mexico' ELSE 'Canada' END AS name_0,
         CASE WHEN s_suppkey % 5 + 1 >= 1 THEN 'state ' || (s_suppkey * 7) % 10 END AS name_1,
         CASE WHEN s_suppkey % 5 + 1 >= 2 THEN 'county ' || (s_suppkey * 11) % 20 END AS name_2,
         CASE WHEN s_suppkey % 5 + 1 >= 3 THEN 'dist ' || (s_suppkey * 13) % 25 END AS name_3,
         CASE WHEN s_suppkey % 5 + 1 >= 4 THEN 'ward ' || (s_suppkey * 17) % 30 END AS name_4,
         CASE WHEN s_suppkey % 5 + 1 >= 5 THEN 'block ' || (s_suppkey * 19) % 35 END AS name_5,
         CASE WHEN s_suppkey % 3 <> 0 THEN 'alt ' || s_suppkey END AS varname,
         CASE WHEN s_suppkey % 2 = 0 THEN 'County' ELSE 'Municipality' END AS type_2
  FROM supplier
)"""


def state_abbreviations_df(spark: SparkSession) -> DataFrame:
    """us_state_abbreviations analog: 'state N' → 'STN' (deterministic range)."""
    return spark.range(10).select(
        F.concat(F.lit("state "), F.col("id").cast("string")).alias("state"),
        F.concat(F.lit("ST"), F.col("id").cast("string")).alias("abbreviation"),
    )


STATE_ABBREV_CTE = """
us_state_abbreviations AS (
  SELECT 'state ' || r AS state, 'ST' || r AS abbreviation FROM range(10) t(r)
)"""


# ---------------------------------------------------------------------------
# countries + verbatim-country occurrences — the F7 cleanup input
# (database/cleanup_countrycode.py:85-122). countries plays pycountry's dim
# (name / optional common_name / alpha-2 code); occ_country carries the messy
# verbatim strings exercising every reference branch: punctuation cleanup,
# direct-name hit, common-name fallback, '/'/' or '/' and ' multi-value
# splits, unmatched residue, the pre-coded row the unguarded UPDATE overwrites,
# and NULL verbatim.
# ---------------------------------------------------------------------------


# testdata nation names are NATION_<k> — the digits would vanish in the F7
# cleanup ([^a-zA-Z /]) and every lookup would miss, so derive a digit-free
# lowercase name per nation: 'nation ' + letter(k)
_COUNTRY_NAME_L = "concat('nation ', chr(CAST(97 + n_nationkey % 25 AS INTEGER)))"


def countries_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nation → countries(alpha_2, name, common_name) — the pycountry analog.
    name is capitalize(lowercase name); every even nation also gets a
    common_name ('The ' + lowercase name), so both lookup indices are hit."""
    nation = load_table(spark, sf_dir, "nation")
    name_l = F.expr(_COUNTRY_NAME_L)
    name_cap = F.concat(F.upper(F.substring(name_l, 1, 1)), F.substring(name_l, 2, 1 << 20))
    return nation.select(
        F.concat(F.lit("C"), F.col("n_nationkey").cast("string")).alias("alpha_2"),
        name_cap.alias("name"),
        F.when(F.col("n_nationkey") % 2 == 0, F.concat(F.lit("The "), name_l)).alias(
            "common_name"
        ),
    )


COUNTRIES_CTE = f"""
countries AS (
  SELECT 'C' || n_nationkey AS alpha_2,
         upper(substr({_COUNTRY_NAME_L}, 1, 1)) || substr({_COUNTRY_NAME_L}, 2) AS name,
         CASE WHEN n_nationkey % 2 = 0
              THEN 'The ' || {_COUNTRY_NAME_L} END AS common_name
  FROM nation
)"""


def occ_country_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer → occ_country(occ_id, countryverbatim, countrycode): verbatim
    country strings by branch (occ_id % 8), two deterministic nation picks."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    nm = nation.select(
        F.col("n_nationkey").alias("_nk"),
        F.expr(_COUNTRY_NAME_L).alias("_nl"),
    )
    k = F.col("c_custkey")
    j = (
        cust.select(k.alias("occ_id"))
        .join(F.broadcast(nm.withColumnRenamed("_nl", "name_a")),
              (F.col("occ_id") * 3) % 25 == F.col("_nk"))
        .drop("_nk")
        .join(F.broadcast(nm.withColumnRenamed("_nl", "name_b")),
              (F.col("occ_id") * 5 + 1) % 25 == F.col("_nk"))
        .drop("_nk")
    )
    m = F.col("occ_id") % 8
    verbatim = (
        F.when(m == 0, F.concat(F.upper(F.col("name_a")), F.lit("!!9")))
        .when(m == 1, F.concat(F.lit("The "), F.col("name_a"), F.lit("123")))
        .when(m == 2, F.concat(F.col("name_a"), F.lit(" / "), F.upper(F.col("name_b"))))
        .when(m == 3, F.concat(F.col("name_a"), F.lit(" or "), F.col("name_b")))
        .when(m == 4, F.concat(F.col("name_a"), F.lit(" and atlantis")))
        .when(m == 5, F.lit("terra incognita 99"))
        .when(m == 6, F.concat(F.upper(F.col("name_a")), F.lit("!!9")))
    )
    return j.select(
        "occ_id",
        verbatim.alias("countryverbatim"),
        F.when(m == 6, F.lit("ZZ")).alias("countrycode"),
    )


OCC_COUNTRY_CTE = f"""
occ_country AS (
  SELECT occ_id,
         CASE occ_id % 8
           WHEN 0 THEN upper(name_a) || '!!9'
           WHEN 1 THEN 'The ' || name_a || '123'
           WHEN 2 THEN name_a || ' / ' || upper(name_b)
           WHEN 3 THEN name_a || ' or ' || name_b
           WHEN 4 THEN name_a || ' and atlantis'
           WHEN 5 THEN 'terra incognita 99'
           WHEN 6 THEN upper(name_a) || '!!9'
         END AS countryverbatim,
         CASE WHEN occ_id % 8 = 6 THEN 'ZZ' END AS countrycode
  FROM (
    SELECT c_custkey AS occ_id, na._nl AS name_a, nb._nl AS name_b
    FROM customer
    JOIN (SELECT n_nationkey, {_COUNTRY_NAME_L} AS _nl FROM nation) na
      ON (c_custkey * 3) % 25 = na.n_nationkey
    JOIN (SELECT n_nationkey, {_COUNTRY_NAME_L} AS _nl FROM nation) nb
      ON (c_custkey * 5 + 1) % 25 = nb.n_nationkey)
)"""


# ---------------------------------------------------------------------------
# aoi — rectangular project polygons (bbox-checkable by the oracle)
# ---------------------------------------------------------------------------


def aoi_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """region → aoi(polygon_id, min_lon, min_lat, max_lon, max_lat)."""
    region = load_table(spark, sf_dir, "region")
    return region.select(
        F.concat(F.lit("aoi:"), F.col("r_regionkey")).alias("polygon_id"),
        (F.col("r_regionkey") * 60 - 170).cast("double").alias("min_lon"),
        (F.col("r_regionkey") * 30 - 80).cast("double").alias("min_lat"),
        (F.col("r_regionkey") * 60 - 120).cast("double").alias("max_lon"),
        (F.col("r_regionkey") * 30 - 40).cast("double").alias("max_lat"),
    )


AOI_CTE = """
aoi AS (
  SELECT 'aoi:' || r_regionkey AS polygon_id,
         CAST(r_regionkey * 60 - 170 AS DOUBLE) AS min_lon,
         CAST(r_regionkey * 30 - 80 AS DOUBLE) AS min_lat,
         CAST(r_regionkey * 60 - 120 AS DOUBLE) AS max_lon,
         CAST(r_regionkey * 30 - 40 AS DOUBLE) AS max_lat
  FROM region
)"""


# ---------------------------------------------------------------------------
# elev_grid — raster analog (gridded elevation points)
# ---------------------------------------------------------------------------


def elevation_grid_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """part → elev_grid(grid_id, lon, lat, elev_m)."""
    part = load_table(spark, sf_dir, "part")
    return part.select(
        F.col("p_partkey").alias("grid_id"),
        (((F.col("p_partkey") * 7) % 360) - 180 + 0.5).cast("double").alias("lon"),
        (((F.col("p_partkey") * 11) % 170) - 85 + 0.5).cast("double").alias("lat"),
        ((F.col("p_partkey") * 13) % 3000).cast("double").alias("elev_m"),
    )


def aoi_wkb_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AOI rectangles as real WKB polygons (the engine's PIP/zonal input shape).

    The oracle checks containment with bbox arithmetic on the same bounds, so the
    WKB codec + ray-cast kernel get an independent end-to-end cross-check.
    """
    import pandas as pd

    from ..functions.geo import wkb_polygon

    def to_wkb(batches):
        import numpy as np

        for pdf in batches:
            wkbs = []
            for _, r in pdf.iterrows():
                ring = np.array(
                    [
                        [r.min_lon, r.min_lat],
                        [r.max_lon, r.min_lat],
                        [r.max_lon, r.max_lat],
                        [r.min_lon, r.max_lat],
                        [r.min_lon, r.min_lat],
                    ]
                )
                wkbs.append(wkb_polygon([ring]))
            yield pd.DataFrame({"polygon_id": pdf.polygon_id, "geom_wkb": wkbs})

    return aoi_df(spark, sf_dir).mapInPandas(to_wkb, "polygon_id string, geom_wkb binary")


ELEV_CTE = """
elev_grid AS (
  SELECT p_partkey AS grid_id,
         CAST((p_partkey * 7) % 360 - 180 + 0.5 AS DOUBLE) AS lon,
         CAST((p_partkey * 11) % 170 - 85 + 0.5 AS DOUBLE) AS lat,
         CAST((p_partkey * 13) % 3000 AS DOUBLE) AS elev_m
  FROM part
)"""


ALL_CTES = (PAGES_CTE, MENTIONS_CTE, GAZETTEER_CTE, AOI_CTE, ELEV_CTE)


def with_ctes(sql: str, *ctes: str) -> str:
    """Prefix a DuckDB query with the derived-table WITH clause."""
    use = ctes or ALL_CTES
    return "WITH " + ",".join(c.strip() for c in use) + "\n" + sql
