"""Deterministic stratified corpus sampling — the mixing step of a
training-data pipeline (downsample Common-Crawl-ish strata, upweight curated
ones) as a pure map-side filter.

Mechanism: a doc is kept iff the first 15 hex chars of
``md5(salt | doc_id)`` sort below a per-stratum threshold string precomputed
as ``floor(rate · 16^15)`` in hex. Properties the training pipeline needs:

- **deterministic & engine-portable**: md5 agrees byte-for-byte between
  Spark and DuckDB, so the exact kept-set is reproducible across runs,
  cluster sizes AND the driver's oracle (no RNG, no partition-order
  dependence — the W5 lesson);
- **exact thresholding**: string comparison on the fixed-width hex prefix is
  an unbiased uniform draw over 16^15 buckets (per-stratum error ~1/16^15);
- **scale shape**: zero shuffle — the filter rides the scan; changing the
  mix never re-reads more than the scan. Different ``salt`` values give
  independent samples (e.g. train/validation splits).

No reference counterpart (the reference's sample.sql is a display-order
random pick); this belongs to the brief's training-data family.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_HEX_WIDTH = 15  # 60 bits: exact in a BIGINT, far below double precision loss


def rate_threshold_hex(rate: float) -> str:
    """Fixed-width lowercase hex threshold for a keep-rate in [0, 1].
    rate 1.0 returns 'g' — one byte past the hex alphabet, so it sorts after
    EVERY 15-char hex key (a 16-char numeric threshold would break the
    fixed-width lexicographic compare: '1000…0' sorts before 'a…')."""
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"sampling rate {rate} outside [0, 1]")
    v = int(rate * (16**_HEX_WIDTH))
    if v >= 16**_HEX_WIDTH:
        return "g"
    return format(v, f"0{_HEX_WIDTH}x")


def sample_key(id_col: Column, salt: str) -> Column:
    """The uniform draw: first 15 hex chars of md5(salt | id). NULL ids are
    coalesced to '' BEFORE hashing — identically in :func:`sample_oracle_predicate`
    — so the Spark/DuckDB twins agree on NULL ids too (Spark's concat_ws would
    silently skip a NULL where DuckDB's ``||`` propagates it; ADVICE r4)."""
    return F.substring(
        F.md5(F.concat_ws("|", F.lit(salt), F.coalesce(id_col.cast("string"), F.lit("")))),
        1,
        _HEX_WIDTH,
    )


def stratified_sample(
    docs: DataFrame,
    rates: dict[str, float],
    strata_col: str = "lang",
    id_col: str = "doc_id",
    salt: str = "mgs",
    default_rate: float = 0.0,
) -> DataFrame:
    """Keep each row with its stratum's rate (deterministic, map-side).
    Strata missing from ``rates`` get ``default_rate`` (0.0 = drop —
    fail-closed for corpus mixing: an unlisted source never leaks in)."""
    thr: Column = F.lit(rate_threshold_hex(default_rate))
    for stratum, rate in sorted(rates.items()):
        thr = F.when(
            F.col(strata_col) == stratum, F.lit(rate_threshold_hex(rate))
        ).otherwise(thr)
    return docs.where(sample_key(F.col(id_col), salt) < thr)


def sample_oracle_predicate(
    rates: dict[str, float],
    strata_col: str = "lang",
    id_col: str = "doc_id",
    salt: str = "mgs",
    default_rate: float = 0.0,
) -> str:
    """DuckDB twin of the keep predicate (same md5, same hex compare).
    Strata values and ``salt`` become SQL string literals, quotes doubled."""
    branches = "".join(
        f"WHEN {strata_col} = {_sql_str(s)} THEN '{rate_threshold_hex(r)}' "
        for s, r in sorted(rates.items())
    )
    case = f"CASE {branches}ELSE '{rate_threshold_hex(default_rate)}' END"
    return (
        f"substr(md5({_sql_str(salt)} || '|' || coalesce(CAST({id_col} AS VARCHAR), '')), "
        f"1, {_HEX_WIDTH}) < {case}"
    )


def _sql_str(value: str) -> str:
    return "'" + value.replace("'", "''") + "'"
