"""Interval (point-in-time) join: fact timestamp ∈ dimension validity window.

The reference carries historical-county validity windows but never joins on
them (start_date/end_date selected yet unused, batch_georeferencing/queries.py:
256-265; the date-range query exists only commented out at :253). The engine
resurrects the operator for the pages table: ``warc_ts`` × gazetteer-entity
validity (SURVEY.md §2.3 "absent" row → implemented).

Physical plan: both sides keyed to coarse time buckets (dim windows explode to
every bucket they overlap — bounded fan-out = window_span/bucket), hash
equi-join on bucket, exact range refine. The shuffle is keyed, there is no
nested loop, and skew is handled by AQE like any equi-join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SECONDS_PER_BUCKET = 30 * 24 * 3600  # ~month


def _bucket(ts_seconds: Column, bucket_seconds: int = SECONDS_PER_BUCKET) -> Column:
    return F.floor(ts_seconds / F.lit(bucket_seconds)).cast("long")


def interval_join(
    facts: DataFrame,
    dims: DataFrame,
    ts_col: str = "warc_ts",
    start_col: str = "valid_from",
    end_col: str = "valid_to",
    bucket_seconds: int = SECONDS_PER_BUCKET,
) -> DataFrame:
    """facts ⋈ dims where start ≤ ts < end (half-open, the temporal-table
    convention). Columns of both sides preserved."""
    ts = F.unix_timestamp(F.col(ts_col))
    lo = F.unix_timestamp(F.col(start_col))
    hi = F.unix_timestamp(F.col(end_col))
    f = facts.withColumn("_bucket", _bucket(ts, bucket_seconds))
    d = dims.withColumn(
        "_bucket",
        F.explode(
            F.sequence(
                _bucket(lo, bucket_seconds),
                # end is exclusive: the bucket containing (hi - 1s)
                _bucket(hi - F.lit(1), bucket_seconds),
            )
        ),
    )
    joined = f.join(d, on="_bucket")
    return joined.where(
        (F.col(ts_col) >= F.col(start_col)) & (F.col(ts_col) < F.col(end_col))
    ).drop("_bucket")


def as_of_join(
    facts: DataFrame,
    dims: DataFrame,
    on: list[str],
    ts_col: str = "warc_ts",
    version_ts_col: str = "version_ts",
) -> DataFrame:
    """As-of join: for each fact, the LATEST dim version with
    version_ts ≤ fact ts, per ``on`` key — the classic temporal-lookup
    (dimension snapshots, price tables).

    Built dedup-first so fact multiplicity is preserved exactly: DISTINCT
    (key, ts) pairs join the candidate versions, a row_number window picks the
    best version per (key, ts), and facts join back on (key, ts). Two distinct
    facts sharing a (key, ts) each keep their own output row (they map to the
    same best version), and identical duplicate fact rows keep their
    multiplicity — the window never partitions over fact payload columns.
    Dim versions tying on version_ts resolve deterministically by the remaining
    ORDERABLE dim payload columns ascending (map-typed and other unorderable
    columns are skipped — including them would fail at analysis; a dim with
    only unorderable payload falls back to nondeterministic tie choice, same
    as a plain row_number over an under-specified order).

    The distinct (key, ts) set is also the scale win: the non-equi version
    range join runs over the deduplicated keys, not every fact row.
    """
    from pyspark.sql import Window

    key_cols = [*on, ts_col]
    keys = facts.select(*key_cols).distinct()
    cond = [F.col(f"f.{c}") == F.col(f"d.{c}") for c in on]
    f = keys.alias("f")
    d = dims.alias("d")
    joined = f.join(d, on=[*cond, F.col(f"d.{version_ts_col}") <= F.col(f"f.{ts_col}")])
    dim_payload_names = [c for c in dims.columns if c not in on]
    sel = joined.select(
        *[F.col(f"f.{c}") for c in key_cols],
        *[F.col(f"d.{c}").alias(f"dim_{c}") for c in dim_payload_names],
    )
    def _orderable(dt) -> bool:
        from pyspark.sql.types import ArrayType, MapType, StructType

        if isinstance(dt, MapType):
            return False
        if isinstance(dt, ArrayType):
            return _orderable(dt.elementType)
        if isinstance(dt, StructType):
            return all(_orderable(fld.dataType) for fld in dt.fields)
        return True

    dim_types = {fld.name: fld.dataType for fld in dims.schema.fields}
    order = [F.col(f"dim_{version_ts_col}").desc()] + [
        F.col(f"dim_{c}").asc()
        for c in dim_payload_names
        if c != version_ts_col and _orderable(dim_types[c])
    ]
    w = Window.partitionBy(*key_cols).orderBy(*order)
    best = (
        sel.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
    return facts.join(best, on=key_cols)
