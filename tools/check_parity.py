"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same parquet tables, then compares row count, schema
(column names) and order-insensitive values. Usage:

    python tools/check_parity.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys
import time
import traceback
from pathlib import Path

import duckdb
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import __spark_entry__ as entrymod  # noqa: E402
from iatlas_cbioportal_export_spark import get_spark  # noqa: E402
from iatlas_cbioportal_export_spark.sources.readers import TESTDATA_TABLES  # noqa: E402


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]").astype(str)
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif pd.api.types.is_bool_dtype(df[c]):
            df[c] = df[c].astype(bool)
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
    return df.sort_values(by=list(df.columns), ignore_index=True)


def compare(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> list[str]:
    problems = []
    if sorted(spark_pdf.columns) != sorted(oracle_pdf.columns):
        problems.append(
            f"schema mismatch: spark={sorted(spark_pdf.columns)} "
            f"oracle={sorted(oracle_pdf.columns)}"
        )
        return problems
    if len(spark_pdf) != len(oracle_pdf):
        problems.append(f"row count: spark={len(spark_pdf)} oracle={len(oracle_pdf)}")
    s, o = _normalize(spark_pdf), _normalize(oracle_pdf)
    if len(s) == len(o):
        for c in s.columns:
            sv, ov = s[c], o[c]
            if pd.api.types.is_float_dtype(sv) and pd.api.types.is_float_dtype(ov):
                bad = ~(
                    (sv.isna() & ov.isna())
                    | (sv == ov)
                    | ((sv - ov).abs() < 1e-12)
                )
                exact_bad = ~((sv.isna() & ov.isna()) | (sv == ov))
                if exact_bad.any() and not bad.any():
                    problems.append(
                        f"col {c}: {int(exact_bad.sum())} float values differ "
                        f"only at <1e-12 (hash WILL mismatch!)"
                    )
                if bad.any():
                    i = bad.idxmax()
                    problems.append(
                        f"col {c}: {int(bad.sum())} mismatches, e.g. row {i}: "
                        f"spark={sv[i]!r} oracle={ov[i]!r}"
                    )
            else:
                bad = ~((sv.isna() & ov.isna()) | (sv.astype(str) == ov.astype(str)))
                if bad.any():
                    i = bad.idxmax()
                    problems.append(
                        f"col {c}: {int(bad.sum())} mismatches, e.g. row {i}: "
                        f"spark={sv[i]!r} oracle={ov[i]!r}"
                    )
    return problems


def main() -> int:
    args = [a for a in sys.argv[1:] if a != "--plain"]
    plain = "--plain" in sys.argv[1:]
    sf_dir = args[0] if args and "/" in args[0] else "/root/testdata/sf0.01"
    only = [a for a in args if "/" not in a]
    if plain:
        # Mimic the driver's harness: a bare session with none of the
        # engine confs from session.get_spark — queries must self-apply
        # whatever they need at runtime.
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[32]")
            .appName("parity-check-plain")
            .config("spark.sql.shuffle.partitions", "32")
            .config("spark.driver.memory", "8g")
            .getOrCreate()
        )
    else:
        spark = get_spark("parity-check")
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception:
            print(f"FAIL  {name}: spark raised")
            traceback.print_exc(limit=5)
            n_fail += 1
            continue
        t_spark = time.time() - t0
        if name not in oracles:
            print(f"rows  {name}: {len(sdf)} rows (no oracle) [{t_spark:.1f}s]")
            if len(sdf) == 0:
                print(f"WARN  {name}: 0 rows — weak check is vacuous")
            continue
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception:
            print(f"FAIL  {name}: oracle SQL raised")
            traceback.print_exc(limit=2)
            n_fail += 1
            continue
        problems = compare(sdf, odf)
        if problems:
            n_fail += 1
            print(f"FAIL  {name} ({len(sdf)} vs {len(odf)} rows) [{t_spark:.1f}s]")
            for p in problems[:6]:
                print(f"      {p}")
        else:
            print(f"OK    {name}: {len(sdf)} rows [{t_spark:.1f}s]")
    print(f"\n{'ALL OK' if n_fail == 0 else f'{n_fail} FAILURES'}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
