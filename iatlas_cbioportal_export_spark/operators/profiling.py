"""Shuffle-key skew profiling (north star §scale): the measurement that
decides WHEN the skew remedies elsewhere in this package apply —
``joins.salted_join`` (deterministic salting), AQE's runtime skew-join
split (on in ``session.py``), and bucketed layouts (``sources/bucketing``).

At 100 TB a single hot key holding more than one partition's worth of rows
turns a shuffle join/agg into one straggler task; the fix (salting factor,
bucket count) needs the key histogram FIRST. This operator produces that
histogram as a tiny, driver-safe report: one map-side-combined ``groupBy``
over the key (the only full-data pass), then KB-sized aggregates over the
per-key counts — the raw data never moves twice and nothing unbounded is
collected.

All derived statistics are integer arithmetic (parts-per-million shares,
x1000 skew ratios, ceil-division salt factors) so the report is exactly
reproducible in any engine — the DuckDB oracle reproduces every value.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def key_skew_report(
    df: DataFrame,
    key_col: str,
    top_k: int = 10,
    num_partitions: int = 32,
) -> DataFrame:
    """Top-``top_k`` heaviest shuffle keys with exact skew statistics.

    Output one row per heavy key, ordered by (count desc, key asc):

    - ``key_value``      — the key, cast to string (report surface);
    - ``cnt``            — exact row count for the key;
    - ``share_ppm``      — integer ``cnt * 1e6 div total`` (parts per
      million of all rows);
    - ``skew_x1000``     — ``cnt * n_keys * 1000 div total``: the key's
      load relative to the uniform per-key mean, x1000 (1000 = perfectly
      uniform; 32000 = this key carries 32 keys' worth of rows);
    - ``suggested_salt`` — ``ceil(cnt * num_partitions / total)``: how many
      salt buckets spread this key's rows back to ≤ one partition's uniform
      share; 1 means no salting needed. Feed values > 1 to
      :func:`~iatlas_cbioportal_export_spark.operators.joins.salted_join`.
    - ``rank``           — 1-based heaviness rank.

    Plan shape: ``groupBy(key).count()`` (partial aggregation JVM-side) →
    one single-row aggregate for (total, n_keys) broadcast back over the
    per-key counts → ``TakeOrderedAndProject`` for the top-k, whose ≤k rows
    are COLLECTED in their already-computed order and stamped with a
    1-based rank driver-side (r10: replaces a ``row_number()`` over an
    unpartitioned window — bounded at ≤k rows but the one warning-firing
    shape, and the rank is free in the TakeOrdered order; the oncoprint
    literal-rank pattern). Per-key counts are |distinct keys| rows — orders
    of magnitude smaller than the input; the tiny passes over them never
    touch the raw table again.
    """
    counts = df.groupBy(F.col(key_col).cast("string").alias("key_value")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    totals = counts.agg(
        F.sum("cnt").alias("__total"), F.count(F.lit(1)).alias("__n_keys")
    )
    # All ratios as exact INTEGER `div` (never float-divide-then-floor: a
    # double quotient can round up across an integer boundary and flip the
    # floor); ceil(a/b) for positive ints is (a + b - 1) div b.
    # Products are computed in DECIMAL(38,0): cnt * n_keys * 1000 overflows
    # BIGINT once cnt * n_keys > ~9.2e15 — easily reached at 100 TB (ANSI
    # mode would raise, non-ANSI would silently wrap). `div` on decimals is
    # still exact integer division returning BIGINT, so results and their
    # types are unchanged at small scale.
    dcnt = "CAST(cnt AS DECIMAL(38,0))"
    enriched = counts.crossJoin(F.broadcast(totals)).select(
        "key_value",
        "cnt",
        F.expr(f"{dcnt} * 1000000 div __total").alias("share_ppm"),
        F.expr(f"{dcnt} * __n_keys * 1000 div __total").alias("skew_x1000"),
        F.expr(
            f"({dcnt} * {int(num_partitions)} + __total - 1) div __total"
        ).alias("suggested_salt"),
    )
    # TakeOrdered heap via orderBy+limit (Spark plans TakeOrderedAndProject —
    # per-partition heaps, never a full sort); collect() preserves the sort,
    # so rank is an enumerate over the ≤top_k driver rows.
    rows = (
        enriched.orderBy(F.col("cnt").desc(), F.col("key_value").asc())
        .limit(top_k)
        .collect()
    )
    from pyspark.sql.types import IntegerType, StructField

    schema = enriched.schema.add(StructField("rank", IntegerType(), False))
    return df.sparkSession.createDataFrame(
        [(*r, i + 1) for i, r in enumerate(rows)], schema
    )


def table_profile(df: DataFrame) -> DataFrame:
    """Whole-table column profile in ONE pass over the data: per column —
    null count, distinct count, numeric min/max/mean, string/date min/max
    and mean length. The "what am I about to shuffle" reconnaissance step
    that sizes every downstream decision (broadcast eligibility, salt
    factors, bucketing counts) without N per-column scans.

    Plan shape: a single global ``agg`` carrying every statistic, then the
    one result row is exploded into the per-column long format — the table
    is read once. Spark plans the multi-``count(distinct)`` via one Expand
    (input replicated ×|columns| into the SAME shuffle — still one pass
    over storage).

    Determinism: means ride the DECIMAL(38,6)/(28,6) lane (a double sum
    over a shuffle merges in nondeterministic order), rounded to 6dp
    doubles at the surface. Numeric min/max are exact (double compare is
    order-free); string min/max are binary collation in both engines.

    Output: (col_name, n_nulls, n_distinct, num_min, num_max, num_avg,
    str_min, str_max, len_avg) — one row per profiled column, ordered by
    col_name.
    """
    cols = df.columns
    numeric = {"int", "bigint", "double", "float", "smallint", "tinyint",
               "decimal", "long", "short"}
    # r10: both the wide aggregate and the explode projection render as
    # SQL strings (guide §1 driver fixed costs) — the per-column Column
    # DSL cost ~3000 py4j round trips (~0.7 s driver wall) on a 16-column
    # table. Expression shapes are the old trees verbatim (the decimal
    # sum lane, the CASE WHEN guard, the greatest() clamp), so every
    # value — including the 6dp rounded means — is unchanged.
    dtypes = dict(df.dtypes)

    def _q(c: str) -> str:
        return "`" + c.replace("`", "``") + "`"

    def _lit_s(s: str) -> str:
        return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"

    aggs: list[str] = []
    for c in cols:
        dt = dtypes[c].split("(")[0]
        is_num = dt in numeric
        qc = _q(c)
        aggs.append(f"sum(cast(({qc} IS NULL) as bigint)) AS {_q('__nn_' + c)}")
        aggs.append(f"count(DISTINCT {qc}) AS {_q('__nd_' + c)}")
        if is_num:
            aggs.append(f"cast(min({qc}) as double) AS {_q('__mn_' + c)}")
            aggs.append(f"cast(max({qc}) as double) AS {_q('__mx_' + c)}")
            aggs.append(
                f"sum(cast({qc} as decimal(38,6))) AS {_q('__sm_' + c)}"
            )
            aggs.append(f"count({qc}) AS {_q('__ct_' + c)}")
        else:
            aggs.append(
                f"min(cast({qc} as string)) AS {_q('__smn_' + c)}"
            )
            aggs.append(
                f"max(cast({qc} as string)) AS {_q('__smx_' + c)}"
            )
            aggs.append(
                f"sum(cast(length(cast({qc} as string)) as decimal(28,6)))"
                f" AS {_q('__sl_' + c)}"
            )
            aggs.append(f"count({qc}) AS {_q('__ct_' + c)}")
    wide = df.agg(*[F.expr(e) for e in aggs])
    structs: list[str] = []
    for c in cols:
        dt = dtypes[c].split("(")[0]
        is_num = dt in numeric
        ct = _q(f"__ct_{c}")
        safe_ct = f"greatest({ct}, 1)"
        if is_num:
            num_min = _q(f"__mn_{c}")
            num_max = _q(f"__mx_{c}")
            # exact decimal SUM, then one double divide + round: decimal
            # DIVISION scale rules differ across engines, double divide
            # of an exactly-determined numerator does not
            num_avg = (
                f"CASE WHEN {ct} > 0 THEN round(cast({_q('__sm_' + c)} "
                f"as double) / {safe_ct}, 6) END"
            )
            str_min = str_max = "cast(null as string)"
            len_avg = "cast(null as double)"
        else:
            num_min = num_max = num_avg = "cast(null as double)"
            str_min = _q(f"__smn_{c}")
            str_max = _q(f"__smx_{c}")
            len_avg = (
                f"CASE WHEN {ct} > 0 THEN round(cast({_q('__sl_' + c)} "
                f"as double) / {safe_ct}, 6) END"
            )
        structs.append(
            f"named_struct('col_name', {_lit_s(c)}, "
            f"'n_nulls', {_q('__nn_' + c)}, "
            f"'n_distinct', cast({_q('__nd_' + c)} as bigint), "
            f"'num_min', {num_min}, 'num_max', {num_max}, "
            f"'num_avg', {num_avg}, 'str_min', {str_min}, "
            f"'str_max', {str_max}, 'len_avg', {len_avg})"
        )
    return (
        wide.selectExpr(f"explode(array({', '.join(structs)})) AS p")
        .select("p.*")
        .orderBy("col_name")
    )


def join_cardinality_report(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
) -> DataFrame:
    """EXACT inner-join output cardinality — computed WITHOUT running the
    join: est_inner_rows = sum over common keys of cnt_l(k) * cnt_r(k).
    The guardrail that belongs in front of every ad-hoc join at 100 TB:
    the report costs two map-side-combined key histograms plus a
    histogram-sized join (|distinct keys| rows — orders of magnitude
    smaller than the data), and tells you whether the real join emits a
    quadratic blow-up BEFORE you pay for it. Pairs with
    :func:`key_skew_report` (which key to salt) — this one says whether
    to run the join at all.

    Products and their sum accumulate in DECIMAL(38,0): per-key
    cnt_l * cnt_r overflows BIGINT exactly in the hot-key regime the
    report exists to catch.

    Output, one row: (n_left, n_right, n_keys_left, n_keys_right,
    n_common_keys, est_inner_rows, max_key_product, hottest_key).
    """
    lc = left.groupBy(F.col(left_key).cast("string").alias("k")).agg(
        F.count(F.lit(1)).alias("cl")
    )
    rc = right.groupBy(F.col(right_key).cast("string").alias("k")).agg(
        F.count(F.lit(1)).alias("cr")
    )
    common = lc.join(rc, on="k").select(
        "k",
        (
            F.col("cl").cast("decimal(38,0)")
            * F.col("cr").cast("decimal(38,0)")
        ).alias("prod"),
    )
    ltot = lc.agg(
        F.sum("cl").alias("n_left"), F.count(F.lit(1)).alias("n_keys_left")
    )
    rtot = rc.agg(
        F.sum("cr").alias("n_right"), F.count(F.lit(1)).alias("n_keys_right")
    )
    ctot = common.agg(
        F.count(F.lit(1)).alias("n_common_keys"),
        F.coalesce(F.sum("prod"), F.lit(0).cast("decimal(38,0)")).alias(
            "est_inner_rows"
        ),
        F.max(F.struct(F.col("prod"), F.col("k"))).alias("__hot"),
    )
    return (
        ltot.crossJoin(F.broadcast(rtot))
        .crossJoin(F.broadcast(ctot))
        .select(
            "n_left",
            "n_right",
            "n_keys_left",
            "n_keys_right",
            "n_common_keys",
            # exact DECIMAL(38,0) values surface as STRINGS: they can
            # exceed BIGINT in exactly the blow-up regime this report
            # exists to catch, and decimal render types differ per engine
            F.col("est_inner_rows").cast("string").alias("est_inner_rows"),
            F.col("__hot.prod").cast("string").alias("max_key_product"),
            F.col("__hot.k").alias("hottest_key"),
        )
    )
