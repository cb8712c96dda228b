"""Gazetteer layer front-end: normalization, alias expansion, unions (P1, U1-U2,
F5-F6, J7-J8, A3-A4).

Reference: every layer query projects to ``(uid, name, stateprovince, data_source)``
(batch_georeferencing/queries.py:57,241,410 et al.); GADM expands 12 alias branches
(queries.py:103-131); geonames/wikidata explode comma-packed alternate names
(queries.py:444,494); unions dedup via GROUP BY with no aggregates (queries.py:57).

Scale notes: layers are dimension tables (10^5–10^9 rows, BASELINE.md) — the
normalization is narrow projections + generators (explode), no shuffles except the
exact-dedup (A4) ``dropDuplicates``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.textnorm import ascii_fold_udf

CANDIDATE_COLS = ("uid", "name", "stateprovince", "data_source")


def explode_alternate_names(
    layer: DataFrame,
    alt_col: str = "alternatenames",
    name_col: str = "name",
    sep: str = ",",
) -> DataFrame:
    """F6/U2: one candidate row per name variant — the primary name plus each
    entry of the comma-packed alternate list (queries.py:440-447
    ``unnest(string_to_array(alternatenames, ','))``)."""
    base = layer.drop(alt_col)
    alts = (
        layer.where(F.col(alt_col).isNotNull() & (F.col(alt_col) != ""))
        .withColumn(name_col, F.explode(F.split(F.col(alt_col), sep)))
        .drop(alt_col)
    )
    return base.unionByName(alts).where(F.col(name_col) != "")


def gadm_alias_names(
    gadm: DataFrame,
    state_abbrevs: DataFrame,
    data_source: str = "gadm",
) -> DataFrame:
    """U1 in full: the reference's 13-branch GADM alias expansion
    (batch_georeferencing/queries.py:103-131) over the wide hierarchy shape
    (level, name_0..name_5, varname, type_2):

    - per level N in 1..5: (name_N, stateprovince = name_{N-1}, …, name_0;
      level 1 uses name_1 itself) — and, for N ≤ 4, the same row again with
      varname_N when present;
    - US level-2 extras: '<name_2> Co., <name_1>' (type County only),
      '<name_2> <type_2>, <name_1>', and both abbreviation forms
      '<name_2>, <ST>' / '<name_2> Co., <ST>' via the state-abbreviation
      broadcast join.

    The reference UNIONs (distinct); mirrored with a final dropDuplicates on
    the candidate key. All branches are narrow projections + one broadcast
    join — zero shuffles before the dedup.
    """

    def sp(level: int):
        if level == 1:
            return F.col("name_1")
        return F.concat(
            *[
                c
                for k in range(level - 1, -1, -1)
                for c in ([F.col(f"name_{k}")] if k == level - 1 else [F.lit(", "), F.col(f"name_{k}")])
            ]
        )

    out: list[DataFrame] = []
    for level in range(1, 6):
        rows = gadm.where(F.col("level") == level)
        out.append(
            rows.select(
                "uid",
                F.col(f"name_{level}").alias("name"),
                sp(level).alias("stateprovince"),
            )
        )
        if level <= 4:
            out.append(
                rows.where(F.col("varname").isNotNull()).select(
                    "uid", F.col("varname").alias("name"), sp(level).alias("stateprovince")
                )
            )

    us2 = gadm.where((F.col("level") == 2) & (F.col("name_0") == "United States"))
    sp2 = sp(2)
    out.append(
        us2.where(F.col("type_2") == "County").select(
            "uid",
            F.concat(F.col("name_2"), F.lit(" Co., "), F.col("name_1")).alias("name"),
            sp2.alias("stateprovince"),
        )
    )
    out.append(
        us2.select(
            "uid",
            F.concat(F.col("name_2"), F.lit(" "), F.col("type_2"), F.lit(", "), F.col("name_1")).alias("name"),
            sp2.alias("stateprovince"),
        )
    )
    ab = us2.join(
        F.broadcast(state_abbrevs), us2["name_1"] == state_abbrevs["state"]
    )
    out.append(
        ab.select(
            "uid",
            F.concat(F.col("name_2"), F.lit(", "), F.col("abbreviation")).alias("name"),
            sp2.alias("stateprovince"),
        )
    )
    out.append(
        ab.select(
            "uid",
            F.concat(F.col("name_2"), F.lit(" Co., "), F.col("abbreviation")).alias("name"),
            sp2.alias("stateprovince"),
        )
    )

    unioned = out[0]
    for more in out[1:]:
        unioned = unioned.unionByName(more)
    return (
        unioned.where(F.col("name").isNotNull())
        .withColumn("data_source", F.lit(data_source))
        .dropDuplicates(["uid", "name", "stateprovince", "data_source"])
    )


def normalize_candidates(layer: DataFrame) -> DataFrame:
    """P1 + A4 + F2: ASCII-fold the fuzzy-join inputs (functions.py:264-265)
    and exact-dedup on the candidate key columns present (queries.py:57
    GROUP BY)."""
    return (
        layer.withColumn("name_folded", ascii_fold_udf(F.col("name")))
        .withColumn("stateprovince_folded", ascii_fold_udf(F.col("stateprovince")))
        .dropDuplicates([c for c in CANDIDATE_COLS if c in layer.columns])
    )


def union_layers(*layers: DataFrame, dedup: bool = False) -> DataFrame:
    """U1/U2: union candidate layers by name (missing columns null-filled)."""
    out = layers[0]
    for more in layers[1:]:
        out = out.unionByName(more, allowMissingColumns=True)
    if dedup:
        out = out.dropDuplicates(["uid", "name", "stateprovince", "data_source"])
    return out


def join_alternate_name_table(
    records: DataFrame,
    names: DataFrame,
    key: str = "source_id",
) -> DataFrame:
    """J8: wikidata records × names equi-join (queries.py:494). ``names`` is the
    smaller side at reference scale → broadcast."""
    return records.join(F.broadcast(names), on=key)


def collapse_duplicate_localities(
    occurrences: DataFrame,
    group_cols: list[str],
    uid_col: str = "uid",
) -> DataFrame:
    """A3: MAX(uid) as representative + count(*) multiplicity
    (queries.py:32 ``MAX(gbifid::bigint) AS uid, count(*) AS no_features``)."""
    return occurrences.groupBy(*group_cols).agg(
        F.max(uid_col).alias(uid_col), F.count(F.lit(1)).alias("no_features")
    )
