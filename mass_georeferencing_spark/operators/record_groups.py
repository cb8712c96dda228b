"""Record grouping (A1/A2) — the reference's mg_recordgroups build.

Reference: ``GROUP BY locality, stateprovince, countrycode, species`` + count(*)
(batch_georeferencing/queries.py:18), garbage-locality filter (P2, same line),
uuid4 per group (batch_georeferencing/batch_georeferencing.py:144 — replaced with a
deterministic content hash so runs are reproducible and resumable, SURVEY.md §7.3).

Graft mapping (SURVEY.md §1.3): grouping key = (lang, mention_norm, state);
``lang`` plays countrycode, ``mention`` plays locality.

Scale notes: one shuffle on the group key; partial aggregation (map-side combine)
is automatic for count(). The group key is also the downstream blocking key, so the
shuffle partitioning is reused by the fuzzy join when
``spark.sql.shuffle.partitions`` is aligned.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.textnorm import (
    ascii_fold,
    garbage_locality_filter,
    normalize_key,
    strip_stopwords,
)


def group_id(*cols: Column) -> Column:
    """Deterministic group id: md5 over '|'-joined key columns (uuid4 analog,
    batch_georeferencing.py:144). md5 matches DuckDB's md5 byte-for-byte."""
    return F.md5(F.concat_ws("|", *[F.coalesce(c.cast("string"), F.lit("")) for c in cols]))


def build_record_groups(
    mentions: DataFrame,
    mention_col: str = "mention",
    state_col: str = "state",
    block_col: str = "lang",
    coord_cols: tuple[str, str] | None = None,
) -> DataFrame:
    """mentions → record groups with deterministic ids + normalized/folded text.

    Output columns: recgroup_id, lang, mention, state, mention_norm,
    mention_folded (ASCII fold of mention, functions.py:264),
    mention_nostop_folded (stopword-strip then fold, batch_georeferencing.py:149-151),
    no_records.
    """
    m = F.col(mention_col)
    aggs = [F.count(F.lit(1)).alias("no_records")]
    extra_cols: list[str] = []
    if coord_cols:
        lat_c, lon_c = coord_cols
        # group-representative coordinate (species-range analog for the J5
        # distance score): mean over member mentions that carried inline coords
        aggs.append(F.avg(F.col(lat_c)).alias("group_lat"))
        aggs.append(F.avg(F.col(lon_c)).alias("group_lon"))
        extra_cols = ["group_lat", "group_lon"]
    grouped = (
        mentions.where(garbage_locality_filter(m))
        .groupBy(
            F.col(block_col).alias("lang"),
            m.alias("mention"),
            F.coalesce(F.col(state_col), F.lit("")).alias("state"),
        )
        .agg(*aggs)
    )
    return grouped.select(
        *extra_cols,
        group_id(F.col("lang"), F.col("mention"), F.col("state")).alias("recgroup_id"),
        "lang",
        "mention",
        "state",
        normalize_key(F.col("mention")).alias("mention_norm"),
        ascii_fold(F.col("mention")).alias("mention_folded"),
        ascii_fold(strip_stopwords(F.col("mention"))).alias("mention_nostop_folded"),
        "no_records",
    )
