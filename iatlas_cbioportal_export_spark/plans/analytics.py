"""TPC-H-style analytical plans over the star schema (engine showcase).

The reference has no numeric aggregations at all (SURVEY.md §2.4), so these
are extension queries proving the engine's analytical tier: multi-way joins
with broadcast dimensions, map-side partial aggregation, top-k.

Determinism contract: money math goes through decimal (exact, engine-
independent) and is cast to double only at the output edge, so results
hash-match any correct engine bit-for-bit. ``sum(double)`` would depend on
partitioning order — never used here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_D = "decimal(18,2)"


def _dec(c: str):
    return F.col(c).cast(_D)


def pricing_summary(lineitem: DataFrame) -> DataFrame:
    """TPC-H Q1 shape: per (returnflag, linestatus) pricing summary.

    One scan, one shuffle on a 6-value key; every sum partial-aggregates
    map-side. The date filter pushes down to the parquet scan.
    """
    disc_price = _dec("l_extendedprice") * (F.lit(1).cast(_D) - _dec("l_discount"))
    charge = disc_price * (F.lit(1).cast(_D) + _dec("l_tax"))
    return (
        lineitem.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(_dec("l_quantity")), 2).cast("double").alias("sum_qty"),
            F.round(F.sum(_dec("l_extendedprice")), 2).cast("double").alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).cast("double").alias("sum_disc_price"),
            F.round(F.sum(charge), 2).cast("double").alias("sum_charge"),
            F.round(
                F.sum(_dec("l_quantity")).cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_qty"),
            F.round(
                F.sum(_dec("l_extendedprice")).cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_price"),
            F.round(
                F.sum(_dec("l_discount")).cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def shipping_priority(
    customer: DataFrame, orders: DataFrame, lineitem: DataFrame
) -> DataFrame:
    """TPC-H Q3 shape: top-k open orders by discounted revenue.

    customer is the small side → broadcast into orders; the orders→lineitem
    join shuffles on orderkey (the only unavoidable shuffle); top-k is a
    global sort of the tiny aggregate, tie-broken by orderkey for
    determinism.
    """
    revenue = _dec("l_extendedprice") * (F.lit(1).cast(_D) - _dec("l_discount"))
    cut = F.lit("1998-03-15").cast("timestamp")
    open_orders = orders.filter(F.col("o_orderdate") < cut).join(
        F.broadcast(
            customer.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
        ),
        orders["o_custkey"] == F.col("c_custkey"),
    )
    return (
        lineitem.filter(F.col("l_shipdate") > cut)
        .join(open_orders, lineitem["l_orderkey"] == open_orders["o_orderkey"])
        .groupBy(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_orderpriority",
        )
        .agg(F.round(F.sum(revenue), 2).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


def volume_shipping(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
) -> DataFrame:
    """TPC-H Q7 shape: shipping volume between two nations by year.

    Both nation lookups broadcast (two aliases of the same tiny dim); the
    orders⋈lineitem shuffle on orderkey is the only fact shuffle — customer
    and supplier join broadcast after their nation filters cut them down.
    """
    vol = _dec("l_extendedprice") * (F.lit(1).cast(_D) - _dec("l_discount"))
    n1 = nation.select(
        F.col("n_nationkey").alias("s_nationkey"), F.col("n_name").alias("supp_nation")
    ).filter(F.col("supp_nation").isin("NATION_1", "NATION_2"))
    n2 = nation.select(
        F.col("n_nationkey").alias("c_nationkey"), F.col("n_name").alias("cust_nation")
    ).filter(F.col("cust_nation").isin("NATION_1", "NATION_2"))
    supp = supplier.join(F.broadcast(n1), "s_nationkey").select(
        "s_suppkey", "supp_nation"
    )
    cust = customer.join(F.broadcast(n2), "c_nationkey").select(
        "c_custkey", "cust_nation"
    )
    ord_c = orders.join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"]).select(
        "o_orderkey", "cust_nation"
    )
    return (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .join(F.broadcast(supp), lineitem["l_suppkey"] == supp["s_suppkey"])
        .join(ord_c, lineitem["l_orderkey"] == ord_c["o_orderkey"])
        .filter(
            (
                (F.col("supp_nation") == "NATION_1")
                & (F.col("cust_nation") == "NATION_2")
            )
            | (
                (F.col("supp_nation") == "NATION_2")
                & (F.col("cust_nation") == "NATION_1")
            )
        )
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(F.round(F.sum(vol), 2).cast("double").alias("revenue"))
    )


def returned_item_report(
    customer: DataFrame, orders: DataFrame, lineitem: DataFrame, nation: DataFrame
) -> DataFrame:
    """TPC-H Q10 shape: top-k customers by revenue lost to returned items in
    a quarter. Broadcast nation; orders date filter pushes to the scan;
    deterministic top-k tiebreak on custkey."""
    rev = _dec("l_extendedprice") * (F.lit(1).cast(_D) - _dec("l_discount"))
    ord_f = orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    returned = lineitem.filter(F.col("l_returnflag") == "R").select(
        "l_orderkey", rev.alias("rev")
    )
    return (
        returned.join(ord_f, returned["l_orderkey"] == ord_f["o_orderkey"])
        .join(customer, F.col("o_custkey") == customer["c_custkey"])
        .join(
            F.broadcast(nation),
            customer["c_nationkey"] == nation["n_nationkey"],
        )
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.round(F.sum("rev"), 2).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


def promo_revenue_share(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """TPC-H Q14 shape: promotional revenue share for one month — part
    broadcast into the date-filtered lineitem scan, conditional + total sums
    in one aggregate, ratio at the edge."""
    rev = _dec("l_extendedprice") * (F.lit(1).cast(_D) - _dec("l_discount"))
    joined = lineitem.filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    ).join(
        F.broadcast(part.select("p_partkey", "p_type")),
        lineitem["l_partkey"] == F.col("p_partkey"),
    )
    return joined.agg(
        F.round(
            F.lit(100.0)
            * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0).cast(_D))).cast("double")
            / F.sum(rev).cast("double"),
            6,
        ).alias("promo_revenue_pct")
    )


def large_volume_customers(
    customer: DataFrame, orders: DataFrame, lineitem: DataFrame
) -> DataFrame:
    """TPC-H Q18 shape: customers whose single orders exceed a quantity
    threshold — aggregate-filter on lineitem produces the (tiny) qualifying
    orderkey set, which re-joins as a broadcast; deterministic top-k."""
    big = (
        lineitem.groupBy("l_orderkey")
        .agg(F.round(F.sum(_dec("l_quantity")), 2).cast("double").alias("sum_qty"))
        .filter(F.col("sum_qty") > 250.0)
    )
    return (
        orders.join(F.broadcast(big), orders["o_orderkey"] == big["l_orderkey"])
        .join(customer, orders["o_custkey"] == customer["c_custkey"])
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_totalprice",
            "sum_qty",
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(100)
    )


def customer_order_distribution(
    customer: DataFrame, orders: DataFrame
) -> DataFrame:
    """TPC-H Q13 shape: histogram of customers by order count, INCLUDING
    zero-order customers — left outer join then two-level aggregation (the
    first groupBy keys on custkey, the second on the tiny count domain)."""
    per_cust = (
        customer.select("c_custkey")
        .join(orders.select("o_custkey", "o_orderkey"),
              customer["c_custkey"] == orders["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


def top_supplier(lineitem: DataFrame, supplier: DataFrame) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) with the maximum quarterly revenue — the
    revenue aggregate self-joins against its own max (a one-row broadcast),
    keeping ties like the spec's subquery formulation."""
    rev = _dec("l_extendedprice") * (F.lit(1).cast(_D) - _dec("l_discount"))
    by_supp = (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(F.round(F.sum(rev), 2).cast("double").alias("total_revenue"))
    )
    max_rev = by_supp.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        by_supp.join(F.broadcast(max_rev), by_supp["total_revenue"] == max_rev["max_revenue"])
        .join(supplier, by_supp["l_suppkey"] == supplier["s_suppkey"])
        .select(
            F.col("s_suppkey"), "s_name", "total_revenue"
        )
    )


def order_priority_check(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """TPC-H Q4 shape: order counts by priority for orders in a date window
    having at least one qualifying lineitem (EXISTS → left-semi join).

    (The driver's lineitem has no commit/receipt dates, so the EXISTS
    predicate is 'has a returned item' — the plan shape is Q4's: pushed-down
    date filter on orders, distinct-key semi join, 5-value groupBy.)
    """
    qualifying = lineitem.filter(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("o_orderkey")
    )
    return (
        orders.filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
        )
        .join(qualifying, on="o_orderkey", how="left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


def forecast_revenue_change(lineitem: DataFrame) -> DataFrame:
    """TPC-H Q6: one-row filtered aggregate — the pure pushdown showcase.
    Every predicate (shipdate range, discount band, quantity cap) reaches the
    parquet scan; the aggregate is a map-side partial over decimal (exact)."""
    rev = _dec("l_extendedprice") * _dec("l_discount")
    return (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24.0)
        )
        .agg(F.round(F.sum(rev), 2).cast("double").alias("revenue"))
    )


def local_supplier_volume(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    region: DataFrame,
) -> DataFrame:
    """TPC-H Q5 shape: revenue by nation where customer and supplier share
    the nation, within one region and order-date year.

    nation⋈region collapses to a broadcast dim; supplier joins broadcast;
    the two fact joins (orders⋈customer, lineitem⋈orders) shuffle on their
    keys with AQE handling skew. 'Local' = c_nationkey == s_nationkey.
    """
    revenue = _dec("l_extendedprice") * (F.lit(1).cast(_D) - _dec("l_discount"))
    nr = nation.join(
        F.broadcast(region.filter(F.col("r_name") == "ASIA")),
        nation["n_regionkey"] == F.col("r_regionkey"),
    ).select("n_nationkey", "n_name")
    cust = customer.join(
        F.broadcast(nr.withColumnRenamed("n_nationkey", "c_nationkey")), "c_nationkey"
    ).select("c_custkey", F.col("c_nationkey").alias("cust_nation"), "n_name")
    supp = supplier.select("s_suppkey", F.col("s_nationkey").alias("supp_nation"))
    ord_f = orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    return (
        lineitem.select("l_orderkey", "l_suppkey", revenue.alias("rev"))
        .join(ord_f, F.col("l_orderkey") == ord_f["o_orderkey"])
        .join(F.broadcast(cust), F.col("o_custkey") == cust["c_custkey"])
        .join(F.broadcast(supp), F.col("l_suppkey") == supp["s_suppkey"])
        .filter(F.col("cust_nation") == F.col("supp_nation"))
        .groupBy("n_name")
        .agg(F.round(F.sum("rev"), 2).cast("double").alias("revenue"))
    )


# ---------------------------------------------------------------------------
# Remaining TPC-H query shapes, adapted to the driver's star schema.
#
# The testdata has no partsupp table and lineitem carries no
# commit/receipt dates, shipmode, or phone columns, so each query below
# keeps its TPC-H plan SHAPE (the join/agg/subquery structure that makes
# the query interesting to an optimizer) with a semantically equivalent
# predicate over the columns that do exist. Substitutions are noted per
# function.
# ---------------------------------------------------------------------------


def min_cost_supplier(
    lineitem: DataFrame,
    part: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    region: DataFrame,
) -> DataFrame:
    """TPC-H Q2 shape: for each qualifying part, the supplier(s) offering it
    at the minimum cost within a region (partsupp → the observed
    (part, supplier) offer list derived from lineitem; cost = min extended
    price seen for the pair, exact under decimal).

    Plan shape preserved from Q2: an aggregate over the offer relation
    re-joined to its own per-part minimum (correlated-min subquery), with
    all dimension joins broadcast. The part filter is applied *before* the
    offer aggregation via a broadcast semi-join so the big scan only
    aggregates qualifying parts — at 100 TB the groupBy shuffles ~size/300
    after the cut instead of the full offer set.
    """
    parts = part.filter(
        (F.col("p_type") == "LARGE") & (F.col("p_size") <= 15)
    ).select("p_partkey", "p_name")
    supp_region = (
        supplier.join(
            F.broadcast(
                nation.join(
                    F.broadcast(region.filter(F.col("r_name") == "EUROPE")),
                    nation["n_regionkey"] == F.col("r_regionkey"),
                ).select("n_nationkey", "n_name")
            ),
            supplier["s_nationkey"] == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    offers = (
        lineitem.join(
            F.broadcast(parts), lineitem["l_partkey"] == parts["p_partkey"], "left_semi"
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min(_dec("l_extendedprice")).alias("cost"))
    )
    best = offers.groupBy(F.col("l_partkey").alias("b_partkey")).agg(
        F.min("cost").alias("min_cost")
    )
    return (
        offers.join(
            best,
            (offers["l_partkey"] == best["b_partkey"])
            & (offers["cost"] == best["min_cost"]),
        )
        .join(supp_region, offers["l_suppkey"] == supp_region["s_suppkey"])
        .join(F.broadcast(parts), offers["l_partkey"] == parts["p_partkey"])
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            "p_name",
            F.col("s_suppkey"),
            F.col("cost").cast("double").alias("min_supplycost"),
        )
        .orderBy(F.col("s_acctbal").desc(), F.col("p_partkey").asc(), F.col("s_suppkey").asc())
        .limit(100)
    )


def national_market_share(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    part: DataFrame,
    nation: DataFrame,
    region: DataFrame,
) -> DataFrame:
    """TPC-H Q8 shape: the target nation's share of revenue for one product
    type sold into one region's market, by order year.

    All four dimension joins (part filter, supplier→nation, customer→
    nation→region) broadcast; the two fact shuffles are lineitem⋈orders on
    orderkey. The share is a conditional-sum / total-sum ratio computed in
    one aggregate — no second pass.
    """
    vol = _dec("l_extendedprice") * (F.lit(1).cast(_D) - _dec("l_discount"))
    parts = part.filter(F.col("p_type") == "STANDARD").select("p_partkey")
    supp_n = supplier.join(
        F.broadcast(
            nation.select(
                F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
            )
        ),
        supplier["s_nationkey"] == F.col("sn_key"),
    ).select("s_suppkey", "supp_nation")
    cust_region = customer.join(
        F.broadcast(
            nation.join(
                F.broadcast(region.filter(F.col("r_name") == "ASIA")),
                nation["n_regionkey"] == F.col("r_regionkey"),
            ).select("n_nationkey")
        ),
        customer["c_nationkey"] == F.col("n_nationkey"),
    ).select("c_custkey")
    ord_f = (
        orders.filter(
            (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .join(F.broadcast(cust_region), orders["o_custkey"] == F.col("c_custkey"), "left_semi")
        .select("o_orderkey", F.year("o_orderdate").alias("o_year"))
    )
    return (
        lineitem.join(F.broadcast(parts), lineitem["l_partkey"] == parts["p_partkey"], "left_semi")
        .join(F.broadcast(supp_n), lineitem["l_suppkey"] == supp_n["s_suppkey"])
        .join(ord_f, lineitem["l_orderkey"] == ord_f["o_orderkey"])
        .groupBy("o_year")
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(
                        F.lit(0).cast(_D)
                    )
                ).cast("double")
                / F.sum(vol).cast("double"),
                6,
            ).alias("mkt_share")
        )
    )


def product_type_profit(
    lineitem: DataFrame,
    orders: DataFrame,
    supplier: DataFrame,
    part: DataFrame,
    nation: DataFrame,
) -> DataFrame:
    """TPC-H Q9 shape: profit by supplier nation and order year for parts
    whose name matches a pattern (ps_supplycost → p_retailprice × quantity,
    the only cost signal in this schema; profit can go negative, fine).

    part (name-filtered) and supplier→nation broadcast; lineitem⋈orders on
    orderkey is the one fact shuffle. All money math decimal until the edge.
    """
    amount = _dec("l_extendedprice") * (F.lit(1).cast(_D) - _dec("l_discount")) - _dec(
        "p_retailprice"
    ) * _dec("l_quantity")
    parts = part.filter(F.col("p_name").startswith("red")).select(
        "p_partkey", "p_retailprice"
    )
    supp_n = supplier.join(
        F.broadcast(
            nation.select("n_nationkey", F.col("n_name").alias("nation"))
        ),
        supplier["s_nationkey"] == F.col("n_nationkey"),
    ).select("s_suppkey", "nation")
    return (
        lineitem.join(F.broadcast(parts), lineitem["l_partkey"] == parts["p_partkey"])
        .join(F.broadcast(supp_n), lineitem["l_suppkey"] == supp_n["s_suppkey"])
        .join(
            orders.select("o_orderkey", F.year("o_orderdate").alias("o_year")),
            lineitem["l_orderkey"] == F.col("o_orderkey"),
        )
        .groupBy("nation", "o_year")
        .agg(F.round(F.sum(amount), 2).cast("double").alias("profit"))
    )


def important_part_value(
    lineitem: DataFrame, supplier: DataFrame, nation: DataFrame
) -> DataFrame:
    """TPC-H Q11 shape: parts whose revenue through one nation's suppliers
    exceeds a fraction of that nation's total (partsupp value → revenue
    observed in lineitem).

    The per-part aggregate and its grand total come from the SAME cached
    aggregate — the total is a one-row broadcast joined back, so the big
    scan runs once. HAVING-over-scalar-subquery becomes filter-over-
    broadcast-join, the idiomatic Spark translation.
    """
    vol = _dec("l_extendedprice") * (F.lit(1).cast(_D) - _dec("l_discount"))
    nation_supp = supplier.join(
        F.broadcast(
            nation.filter(F.col("n_name") == "NATION_5").select("n_nationkey")
        ),
        supplier["s_nationkey"] == F.col("n_nationkey"),
        "left_semi",
    ).select("s_suppkey")
    per_part = (
        lineitem.join(
            F.broadcast(nation_supp),
            lineitem["l_suppkey"] == nation_supp["s_suppkey"],
            "left_semi",
        )
        .groupBy("l_partkey")
        .agg(F.sum(vol).alias("value_dec"))
    )
    total = per_part.agg(
        (F.sum("value_dec").cast("double") * F.lit(0.001)).alias("threshold")
    )
    return (
        per_part.join(F.broadcast(total))
        .filter(F.col("value_dec").cast("double") > F.col("threshold"))
        .select("l_partkey", F.round(F.col("value_dec"), 2).cast("double").alias("part_value"))
    )


def late_shipment_priority(lineitem: DataFrame, orders: DataFrame) -> DataFrame:
    """TPC-H Q12 shape: per shipping class, how many high- vs low-priority
    orders shipped late (shipmode → l_returnflag, the only line-level
    category; receipt-vs-commit lateness → shipdate more than N days after
    the order date).

    One shuffle: lineitem⋈orders on orderkey; the two conditional counts
    fold into a single aggregate pass exactly like the spec query.
    """
    late = lineitem.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    joined = late.join(
        orders.select("o_orderkey", "o_orderdate", "o_orderpriority"),
        late["l_orderkey"] == F.col("o_orderkey"),
    ).filter(F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) > 90)
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return joined.groupBy("l_returnflag").agg(
        F.sum(F.when(is_high, 1).otherwise(0)).alias("high_line_count"),
        F.sum(F.when(is_high, 0).otherwise(1)).alias("low_line_count"),
    )


def parts_supplier_relationship(
    lineitem: DataFrame, part: DataFrame, supplier: DataFrame
) -> DataFrame:
    """TPC-H Q16 shape: distinct supplier count per (brand, type, size) for
    qualifying parts, excluding suppliers from a denylist built by a
    subquery (customer complaints → negative account balance).

    The NOT IN subquery compiles to a broadcast anti-join on the supplier
    key; part filters broadcast; the distinct-agg shuffles once on the
    (brand, type, size) grouping key with partial distinct map-side.
    """
    parts = part.filter(
        (F.col("p_brand") != "Brand#5")
        & (F.col("p_type") != "PROMO")
        & (F.col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 22))
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    bad_supp = supplier.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        lineitem.select("l_partkey", "l_suppkey")
        .join(F.broadcast(bad_supp), lineitem["l_suppkey"] == bad_supp["s_suppkey"], "left_anti")
        .join(F.broadcast(parts), F.col("l_partkey") == parts["p_partkey"])
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


def small_quantity_revenue(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """TPC-H Q17 shape: average yearly revenue lost if small-quantity orders
    were not taken — lineitem rows under 20% of their part's average
    quantity (container filter → p_type).

    The correlated per-part scalar subquery becomes: aggregate per-part
    averages over the brand-filtered keys (tiny), broadcast-join back, and
    filter. The average is computed as exact decimal sum / count cast at
    the edge so both engines derive the identical double threshold.
    """
    parts = part.filter(
        (F.col("p_brand") == "Brand#3") & (F.col("p_type") == "SMALL")
    ).select("p_partkey")
    li_parts = lineitem.join(
        F.broadcast(parts), lineitem["l_partkey"] == parts["p_partkey"], "left_semi"
    )
    per_part_avg = li_parts.groupBy(F.col("l_partkey").alias("a_partkey")).agg(
        (F.sum(_dec("l_quantity")).cast("double") / F.count(F.lit(1))).alias("avg_qty")
    )
    return (
        li_parts.join(F.broadcast(per_part_avg), li_parts["l_partkey"] == F.col("a_partkey"))
        .filter(F.col("l_quantity") < F.lit(0.2) * F.col("avg_qty"))
        .agg(
            F.round(F.sum(_dec("l_extendedprice")).cast("double") / F.lit(7.0), 2).alias(
                "avg_yearly"
            )
        )
    )


def discounted_brand_revenue(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """TPC-H Q19 shape: revenue from three disjunctive brand/size/quantity
    bands — the OR-of-ANDs predicate that exercises join-condition
    pushdown (container/shipmode legs → p_size bands, which exist here).

    part broadcasts; the quantity legs are pushed to the lineitem scan as
    `l_quantity <= 30` (the union bound) by Catalyst, and the OR evaluates
    post-join inside codegen — no fact shuffle at all.
    """
    rev = _dec("l_extendedprice") * (F.lit(1).cast(_D) - _dec("l_discount"))
    j = lineitem.join(
        F.broadcast(part.select("p_partkey", "p_brand", "p_size")),
        lineitem["l_partkey"] == F.col("p_partkey"),
    )
    band = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#14")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return j.filter(band).agg(
        F.round(F.sum(rev), 2).cast("double").alias("revenue")
    )


def excess_shipping_suppliers(
    lineitem: DataFrame, part: DataFrame, supplier: DataFrame, nation: DataFrame
) -> DataFrame:
    """TPC-H Q20 shape: suppliers in one nation who moved more than a
    threshold quantity of a name-matched part family (availqty-vs-shipped →
    total shipped per (supplier, part) over threshold).

    Nested subquery chain → two broadcast semi-joins: the per-(supp,part)
    aggregate (keyed shuffle) feeds a distinct supplier set that semi-joins
    into the nation-filtered supplier dim.
    """
    parts = part.filter(F.col("p_name").startswith("red")).select("p_partkey")
    heavy = (
        lineitem.join(F.broadcast(parts), lineitem["l_partkey"] == parts["p_partkey"], "left_semi")
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(_dec("l_quantity")).alias("qty"))
        .filter(F.col("qty").cast("double") > 100.0)
        .select("l_suppkey")
        .distinct()
    )
    return (
        supplier.join(
            F.broadcast(
                nation.filter(F.col("n_name") == "NATION_7").select("n_nationkey")
            ),
            supplier["s_nationkey"] == F.col("n_nationkey"),
            "left_semi",
        )
        .join(F.broadcast(heavy), supplier["s_suppkey"] == heavy["l_suppkey"], "left_semi")
        .select("s_name", "s_acctbal")
    )


def waiting_orders_suppliers(
    lineitem: DataFrame, orders: DataFrame, supplier: DataFrame, nation: DataFrame
) -> DataFrame:
    """TPC-H Q21 shape: suppliers in one nation who were the ONLY supplier
    with a returned line in a finished multi-supplier order (late-delivery
    EXISTS/NOT-EXISTS pair → returnflag, the available per-line fault
    signal).

    The two correlated subqueries collapse into ONE per-order aggregate
    (distinct suppliers, distinct faulting suppliers) joined back on
    orderkey: EXISTS(other supplier) ⇒ n_supp > 1; NOT EXISTS(other
    faulting supplier) ⇒ n_bad_supp == 1. Two shuffles on orderkey total —
    versus the naive four-scan correlated plan.
    """
    per_order = lineitem.groupBy(F.col("l_orderkey").alias("po_orderkey")).agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(
            F.when(F.col("l_returnflag") == "R", F.col("l_suppkey"))
        ).alias("n_bad_supp"),
    )
    nation_supp = supplier.join(
        F.broadcast(nation.filter(F.col("n_name") == "NATION_2").select("n_nationkey")),
        supplier["s_nationkey"] == F.col("n_nationkey"),
        "left_semi",
    ).select("s_suppkey", "s_name")
    finished = orders.filter(F.col("o_orderstatus") == "F").select("o_orderkey")
    return (
        lineitem.filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_suppkey")
        .join(F.broadcast(nation_supp), F.col("l_suppkey") == nation_supp["s_suppkey"])
        .join(finished, F.col("l_orderkey") == finished["o_orderkey"], "left_semi")
        .join(
            per_order.filter((F.col("n_supp") > 1) & (F.col("n_bad_supp") == 1)),
            F.col("l_orderkey") == F.col("po_orderkey"),
            "left_semi",
        )
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name").asc())
        .limit(100)
    )


def global_sales_opportunity(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """TPC-H Q22 shape: well-funded customers in chosen segments with no
    recent orders (phone country code → market segment; "no orders" → no
    orders on/after the cutoff, since every synthetic customer has some
    order).

    The scalar AVG subquery is a one-row broadcast (exact decimal sum /
    count → identical double on any engine); NOT EXISTS is a broadcast
    anti-join against the date-filtered order keys.
    """
    seg = customer.filter(
        F.col("c_mktsegment").isin("BUILDING", "AUTOMOBILE", "MACHINERY")
    )
    avg_bal = seg.filter(F.col("c_acctbal") > 0).agg(
        (F.sum(_dec("c_acctbal")).cast("double") / F.count(F.lit(1))).alias("avg_bal")
    )
    recent = orders.filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    ).select("o_custkey")
    return (
        seg.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, seg["c_custkey"] == recent["o_custkey"], "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum(_dec("c_acctbal")), 2).cast("double").alias("totacctbal"),
        )
    )


def daily_revenue_moving_avg(orders: DataFrame) -> DataFrame:
    """Trailing N-day moving average of daily order revenue over existing
    days only — identical to a RANGE ``-(N-1)..0`` frame on the day number.

    r10 plan: instead of an unpartitioned RANGE window over the daily
    aggregate (single-partition sort — bounded here by the calendar, but
    the one shape the no-global-window sweep forbids), each day's total
    CONTRIBUTES to the N target days it falls inside
    (``explode(sequence(day, day+N-1))`` — a fixed ×N fanout of the
    calendar-sized frame), target-day sums are one keyed groupBy, and an
    equi-join back to the daily frame keeps exactly the existing days (the
    RANGE frame's "present days only" denominator falls out as the
    contribution COUNT). Fully partitioned at every step; the fact table
    still contributes only the first keyed-shuffle groupBy.
    """
    daily = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(_dec("o_totalprice")).alias("rev_dec")
    )
    dn = F.unix_date(F.col("day"))
    contrib = daily.select(
        F.explode(
            F.sequence(dn, dn + F.lit(6))
        ).alias("__target"),
        F.col("rev_dec").alias("__rev"),
    )
    win = contrib.groupBy("__target").agg(
        F.sum("__rev").alias("__win_rev"),
        F.count(F.lit(1)).alias("__win_days"),
    )
    return daily.join(win, dn == F.col("__target")).select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.round("rev_dec", 2).cast("double").alias("day_revenue"),
        F.round(
            F.col("__win_rev").cast("double") / F.col("__win_days"), 4
        ).alias("ma7"),
    )


def price_percentiles_by_segment(
    orders: DataFrame, customer: DataFrame
) -> DataFrame:
    """Exact median and p90 of order value per market segment by
    rank-and-pick (percentile_disc semantics: the value at position
    ceil(q·n), ties broken by orderkey).

    Interpolated percentiles (Spark `percentile`, DuckDB `quantile_cont`)
    differ across engines in float rounding, so the discrete formulation is
    the hash-stable one. Plan: broadcast the customer dim, one shuffle on
    the segment key shared by the row_number window and the final
    aggregate.
    """
    j = orders.select("o_custkey", "o_totalprice", "o_orderkey").join(
        F.broadcast(customer.select("c_custkey", "c_mktsegment")),
        F.col("o_custkey") == F.col("c_custkey"),
    )
    w = Window.partitionBy("c_mktsegment").orderBy("o_totalprice", "o_orderkey")
    wn = Window.partitionBy("c_mktsegment")
    ranked = j.select(
        "c_mktsegment",
        "o_totalprice",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    return ranked.groupBy("c_mktsegment").agg(
        F.max(
            F.when(F.col("rn") == F.floor((F.col("n") + 1) / 2), F.col("o_totalprice"))
        ).alias("median_price"),
        F.max(
            F.when(
                F.col("rn") == F.ceil(F.lit(0.9) * F.col("n")).cast("long"),
                F.col("o_totalprice"),
            )
        ).alias("p90_price"),
    )


def cube_revenue(lineitem: DataFrame) -> DataFrame:
    """CUBE over (returnflag, linestatus): all four grouping sets computed
    in ONE Expand + ONE aggregate (a single shuffle) — not a union of
    per-level re-scans of the fact table."""
    rev = _dec("l_extendedprice") * (F.lit(1).cast(_D) - _dec("l_discount"))
    return (
        lineitem.cube("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(rev), 2).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "revenue",
            "n_rows",
        )
    )


def rank_suite(orders: DataFrame) -> DataFrame:
    """The remaining ranking/distribution window functions in one plan:
    rank, dense_rank, percent_rank, cume_dist, ntile(4), lag/lead — all
    over a single (o_orderpriority) partitioning with a deterministic
    (o_totalprice, o_orderkey) order, so Spark plans ONE window exchange
    + sort shared by every function (inspect: a single Window node).

    percent_rank/cume_dist are exact rational functions of integer ranks —
    engine-portable; lag/lead defaults surface as NULLs at partition edges.
    """
    w = Window.partitionBy("o_orderpriority").orderBy(
        "o_totalprice", "o_orderkey"
    )
    return orders.select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.round(F.percent_rank().over(w), 9).alias("prank"),
        F.round(F.cume_dist().over(w), 9).alias("cdist"),
        F.ntile(4).over(w).alias("quartile"),
        F.lag("o_totalprice", 1).over(w).alias("prev_price"),
        F.lead("o_totalprice", 1).over(w).alias("next_price"),
    )
