"""The operator workload: registry queries from ``__spark_entry__`` over
seeded parquet tables, each run through the noop sink so every computed
column is evaluated. Set-up checks each result against the query's DuckDB
oracle."""

from __future__ import annotations

import hashlib
import time

import pandas as pd

import gen_tables

# ROADMAP item 3 (the iterative graph loops) and the carried perf leads:
# dedup/containment verify narrowing, the overlap-able job chains of
# cluster_report / leakage splits / bundle cross checks / meta consistency,
# and the never-profiled grid DBSCAN.
QUERIES = (
    "graph_sssp",
    "graph_hits",
    "graph_pagerank",
    "dedup_containment_capped",
    "dedup_cluster_report",
    "sim_grid_dbscan",
    "sample_leakage_safe_splits",
    "bundle_cross_checks",
)
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


class Operators:
    def __init__(self, root: str, seed: int, rows: int):
        self.root = root
        gen_tables.generate(root, seed, rows)
        import __spark_entry__

        self.registry = __spark_entry__.queries()
        self.oracles = __spark_entry__.oracle_sql()

    def build(self, spark, name: str):
        return self.registry[name](spark, self.root)

    def run_query(self, spark, name: str, tracer=None) -> float:
        """One query through the noop sink; returns its wall in seconds.
        Persisted frames from the previous query are dropped first, outside
        the timed region."""
        spark.catalog.clearCache()

        def execute():
            self.build(spark, name).write.format("noop").mode("overwrite").save()

        t = time.perf_counter()
        if tracer is None:
            execute()
        else:
            tracer.call(f"query.{name}", execute, top=True)
        return time.perf_counter() - t

    def check(self, spark) -> tuple[list[str], float]:
        """Collect every query on Spark and compare it with its DuckDB
        oracle. Returns (failures, seconds spent in the oracle)."""
        import duckdb

        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.root}/{t}.parquet')")
        failures, oracle_s = [], 0.0
        for name in QUERIES:
            spark.catalog.clearCache()
            try:
                got = self.build(spark, name).toPandas()
            except Exception as exc:  # a raising query is a failed operation
                failures.append(f"{name}: spark raised {type(exc).__name__}: {exc}")
                continue
            t = time.perf_counter()
            want = con.execute(self.oracles[name]).fetchdf()
            oracle_s += time.perf_counter() - t
            if result_hash(got) != result_hash(want):
                failures.append(f"{name}: result differs from the DuckDB oracle "
                                f"({len(got)} vs {len(want)} rows)")
        con.close()
        return failures, oracle_s


def result_hash(df: pd.DataFrame) -> str:
    """Order-insensitive hash of a result: columns by name, rows sorted,
    integers as int64, floats rounded to 9 significant digits, timestamps
    at microseconds, nulls as one token."""
    df = df[sorted(df.columns)]
    cols = []
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            s = s.astype("datetime64[us]").astype(str)
        elif pd.api.types.is_bool_dtype(s):
            s = s.astype(str)
        elif pd.api.types.is_float_dtype(s):
            s = s.map(lambda v: "null" if pd.isna(v) else f"{v:.9g}")
        elif pd.api.types.is_integer_dtype(s):
            s = s.astype("Int64").astype(str)
        else:
            s = s.map(lambda v: "null" if v is None or (isinstance(v, float) and pd.isna(v)) else str(v))
        cols.append(s.astype(str).tolist())
    rows = sorted("\x1f".join(r) for r in zip(*cols)) if cols else []
    h = hashlib.sha256("\x1e".join(df.columns).encode())
    for r in rows:
        h.update(r.encode() + b"\n")
    return h.hexdigest()
