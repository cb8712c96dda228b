"""Mini-verify harness: replicate the driver's Spark-vs-DuckDB correctness gate.

For each (name, spark_df, duckdb_sql) pair: run both, sort columns by name, sort
rows, compare row counts + dtypes + values (doubles to 1e-6). Used during
development to guarantee CORRECTNESS_r{N}.json comes back green.
"""

from __future__ import annotations

import duckdb
import pandas as pd


def duck_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in (
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(lambda v: v if v is None else str(v))
    return df.sort_values(by=list(df.columns), na_position="last").reset_index(drop=True)


def compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame, tol: float = 1e-6) -> list[str]:
    errs: list[str] = []
    if len(spark_pdf) != len(duck_pdf):
        errs.append(f"{name}: rowcount spark={len(spark_pdf)} duck={len(duck_pdf)}")
        return errs
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        errs.append(f"{name}: columns spark={sorted(spark_pdf.columns)} duck={sorted(duck_pdf.columns)}")
        return errs
    s = _canon(spark_pdf)
    d = _canon(duck_pdf)
    for c in s.columns:
        sv, dv = s[c], d[c]
        if pd.api.types.is_float_dtype(sv) or pd.api.types.is_float_dtype(dv):
            sa = pd.to_numeric(sv, errors="coerce")
            da = pd.to_numeric(dv, errors="coerce")
            bad = ~(
                (sa.isna() & da.isna())
                | ((sa - da).abs() <= tol + tol * da.abs().fillna(0))
            )
            if bad.any():
                i = bad.idxmax()
                errs.append(f"{name}.{c}: value mismatch at row {i}: {sv[i]!r} vs {dv[i]!r}")
        else:
            if not sv.astype(str).equals(dv.astype(str)):
                neq = sv.astype(str) != dv.astype(str)
                i = neq.idxmax()
                errs.append(f"{name}.{c}: value mismatch at row {i}: {sv[i]!r} vs {dv[i]!r}")
    # dtype check — strict: exact pandas dtype match approximates the driver's
    # schema gate (int32 vs int64 mismatches surface here)
    for c in s.columns:
        sk = _kind(s[c])
        dk = _kind(d[c])
        if sk != dk:
            errs.append(f"{name}.{c}: dtype kind {sk} vs {dk} ({s[c].dtype} vs {d[c].dtype})")
        elif str(s[c].dtype) != str(d[c].dtype):
            errs.append(
                f"{name}.{c}: STRICT dtype mismatch {s[c].dtype} vs {d[c].dtype}"
            )
    return errs


def _kind(col: pd.Series) -> str:
    if pd.api.types.is_float_dtype(col):
        return "f"
    if pd.api.types.is_integer_dtype(col):
        return "i"
    if pd.api.types.is_datetime64_any_dtype(col):
        return "t"
    if pd.api.types.is_bool_dtype(col):
        return "b"
    return "s"


def run_gate(sf_dir: str, only: set[str] | None = None) -> int:
    """Run every queries()/oracle_sql() pair through the comparator."""
    import sys
    from pathlib import Path

    # the checkout this file is in, so the gate checks (and ships) this tree
    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    import __spark_entry__ as entrymod
    from mass_georeferencing_spark.session import get_spark

    spark = get_spark()
    con = duck_connect(sf_dir)
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = 0
    for qname, fn in qs.items():
        if only and qname not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {qname}: spark error: {e}")
            failures += 1
            continue
        if qname not in oracles:
            print(f"ok   {qname}: rows-only ({len(sdf)} rows)")
            continue
        try:
            ddf = con.execute(oracles[qname]).fetchdf()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {qname}: duckdb error: {e}")
            failures += 1
            continue
        errs = compare(qname, sdf, ddf)
        if errs:
            failures += 1
            for e in errs[:5]:
                print(f"FAIL {e}")
        else:
            print(f"ok   {qname}: {len(sdf)} rows match oracle")
    return failures


if __name__ == "__main__":
    import sys

    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:]) or None
    raise SystemExit(1 if run_gate(sf, only) else 0)
