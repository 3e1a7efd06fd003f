"""General OLAP coverage queries: big aggregations, per-group top-N,
set operations, and the scalar-function surface (SURVEY.md §2.4-§2.7).

Determinism note: money/rate columns quantize per row through the
portable FLOOR integer-unit recipe (functions/money.py — an
engine-dependent DECIMAL(p,2) cast tie-breaks differently on .xx5
values); large-magnitude SUMs run in DECIMAL(38,0) on both engines —
decimal addition is exact, so the result is independent of reduction
order (then ONE double division at the output edge). Small-magnitude
aggregates use double + ROUND(6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from supplier_performance_data_pipeline_spark.functions.money import (
    percent_units,
    cents,
    cents_sql,
    revenue_e4,
)
from supplier_performance_data_pipeline_spark.functions.scalar import round_doubles
from supplier_performance_data_pipeline_spark.operators.windows import top_n_per_group
from supplier_performance_data_pipeline_spark.plans.registry import register
from supplier_performance_data_pipeline_spark.plans.tpch_domain import _t


# --- A1 at fact scale: TPC-H-Q1-style pricing summary ----------------------


@register(
    "pricing_summary",
    oracle="""
SELECT
    l_returnflag,
    l_linestatus,
    CAST(SUM(CAST(CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)
             AS DECIMAL(38,0))) AS DOUBLE) / 100 AS sum_qty,
    CAST(SUM(CAST(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)
             AS DECIMAL(38,0))) AS DOUBLE) / 100 AS sum_base_price,
    CAST(SUM(CAST(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)
             * (100 - CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT))
             AS DECIMAL(38,0))) AS DOUBLE) / 10000 AS sum_disc_price,
    CAST(SUM(CAST(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)
             * (100 - CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT))
             * (100 + CAST(FLOOR(l_tax * 100 + 0.5) AS BIGINT))
             AS DECIMAL(38,0))) AS DOUBLE) / 1000000 AS sum_charge,
    ROUND(CAST(SUM(CAST(CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)
             AS DECIMAL(38,0))) AS DOUBLE) / 100 / COUNT(*), 6) AS avg_qty,
    ROUND(CAST(SUM(CAST(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)
             AS DECIMAL(38,0))) AS DOUBLE) / 100 / COUNT(*), 6) AS avg_price,
    ROUND(CAST(SUM(CAST(CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT)
             AS DECIMAL(38,0))) AS DOUBLE) / 100 / COUNT(*), 6) AS avg_disc,
    COUNT(*) AS count_order
FROM lineitem
WHERE CAST(l_shipdate AS DATE) <= DATE '2000-12-01'
GROUP BY l_returnflag, l_linestatus
""".strip(),
)
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic 2-key groupBy + 8 mixed aggregates with a pushed-down
    date filter. DECIMAL sums → order-independent exact arithmetic."""
    li = _t(spark, sf_dir, "lineitem")
    qty = cents("l_quantity").cast("decimal(38,0)")
    price = cents("l_extendedprice").cast("decimal(38,0)")
    disc_bp = percent_units("l_discount")
    tax_bp = percent_units("l_tax")
    disc_e4 = (cents("l_extendedprice") * (F.lit(100) - disc_bp)).cast(
        "decimal(38,0)"
    )
    charge_e6 = (
        cents("l_extendedprice") * (F.lit(100) - disc_bp) * (F.lit(100) + tax_bp)
    ).cast("decimal(38,0)")
    out = (
        li.filter(F.col("l_shipdate").cast("date") <= F.lit("2000-12-01").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            (F.sum(qty).cast("double") / F.lit(100)).alias("sum_qty"),
            (F.sum(price).cast("double") / F.lit(100)).alias("sum_base_price"),
            (F.sum(disc_e4).cast("double") / F.lit(10000)).alias(
                "sum_disc_price"
            ),
            (F.sum(charge_e6).cast("double") / F.lit(1000000)).alias(
                "sum_charge"
            ),
            F.round(
                F.sum(qty).cast("double") / F.lit(100) / F.count("*"), 6
            ).alias("avg_qty"),
            F.round(
                F.sum(price).cast("double") / F.lit(100) / F.count("*"), 6
            ).alias("avg_price"),
            F.round(
                F.sum(disc_bp.cast("decimal(38,0)")).cast("double")
                / F.lit(100)
                / F.count("*"),
                6,
            ).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )
    return out


# --- top-N per group (window ranking) --------------------------------------


@register(
    "top3_suppliers_per_nation",
    oracle="""
WITH revenue AS (
    SELECT
        l_suppkey,
        CAST(SUM(CAST(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)
             * (100 - CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT))
             AS DECIMAL(38,0))) AS DOUBLE) / 10000 AS supplier_revenue
    FROM lineitem
    GROUP BY l_suppkey
),
ranked AS (
    SELECT
        n_name AS nation,
        s_suppkey AS supplier_id,
        s_name AS supplier_name,
        ROUND(supplier_revenue, 2) AS supplier_revenue,
        CAST(ROW_NUMBER() OVER (
            PARTITION BY n_name
            ORDER BY ROUND(supplier_revenue, 2) DESC, s_suppkey
        ) AS INTEGER) AS rank
    FROM revenue
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
)
SELECT * FROM ranked WHERE rank <= 3
""".strip(),
)
def q_top3_suppliers_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-N: partial agg on the fact table first (shrinks to
    one row per supplier), THEN the window rank over the small result —
    never a window over raw facts."""
    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    rev4 = revenue_e4("l_extendedprice", "l_discount")
    revenue = li.groupBy("l_suppkey").agg(
        (F.sum(rev4).cast("double") / F.lit(10000)).alias("supplier_revenue")
    )
    joined = (
        revenue.join(F.broadcast(sup), revenue.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .select(
            F.col("n_name").alias("nation"),
            F.col("s_suppkey").alias("supplier_id"),
            F.col("s_name").alias("supplier_name"),
            F.round("supplier_revenue", 2).alias("supplier_revenue"),
        )
    )
    return top_n_per_group(
        joined,
        ["nation"],
        [F.desc("supplier_revenue"), F.asc("supplier_id")],
        3,
    ).withColumn("rank", F.col("rank").cast("int"))


# --- §2.6 set operations ----------------------------------------------------


@register(
    "nation_set_ops",
    oracle="""
WITH c AS (SELECT DISTINCT c_nationkey AS k FROM customer),
     s AS (SELECT DISTINCT s_nationkey AS k FROM supplier)
SELECT 'both' AS op, COUNT(*) AS n_nations
    FROM (SELECT k FROM c INTERSECT SELECT k FROM s) t
UNION ALL
SELECT 'customers_only' AS op, COUNT(*) AS n_nations
    FROM (SELECT k FROM c EXCEPT SELECT k FROM s) t
UNION ALL
SELECT 'suppliers_only' AS op, COUNT(*) AS n_nations
    FROM (SELECT k FROM s EXCEPT SELECT k FROM c) t
UNION ALL
SELECT 'either' AS op, COUNT(*) AS n_nations
    FROM (SELECT k FROM c UNION SELECT k FROM s) t
""".strip(),
)
def q_nation_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION / INTERSECT / EXCEPT coverage (absent from the reference —
    SURVEY.md §2.6 — but part of the engine surface)."""
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("k")
    ).distinct()
    sup = _t(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("k")
    ).distinct()

    def count_as(df: DataFrame, op: str) -> DataFrame:
        return df.agg(F.count("*").alias("n_nations")).select(
            F.lit(op).alias("op"), F.col("n_nations")
        )

    return (
        count_as(cust.intersect(sup), "both")
        .unionAll(count_as(cust.subtract(sup), "customers_only"))
        .unionAll(count_as(sup.subtract(cust), "suppliers_only"))
        .unionAll(count_as(cust.union(sup).distinct(), "either"))
    )


# --- hierarchical aggregation: ROLLUP subtotals ----------------------------


@register(
    "orders_priority_rollup",
    oracle="""
SELECT
    COALESCE(o_orderpriority, 'ALL') AS orderpriority,
    COALESCE(o_orderstatus, 'ALL') AS orderstatus,
    COUNT(*) AS n_orders,
    CAST(SUM(CAST(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
            AS DECIMAL(38,0))) AS DOUBLE) / 100 AS total_price
FROM orders
GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
""".strip(),
)
def q_orders_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy (priority → status → grand total) in ONE pass —
    Spark expands grouping sets inside a single hash aggregate instead
    of unioning three scans. DECIMAL sums keep subtotals exact."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderpriority", "o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            (
                F.sum(cents("o_totalprice").cast("decimal(38,0)"))
                .cast("double")
                / F.lit(100)
            )
            .alias("total_price"),
        )
        .select(
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("orderpriority"),
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("orderstatus"),
            "n_orders",
            "total_price",
        )
    )


# --- ordered-statistic aggregates: exact percentiles -----------------------


@register(
    "quantity_percentiles_by_flag",
    oracle="""
SELECT
    l_returnflag,
    ROUND(quantile_cont(l_quantity, 0.25), 6) AS p25,
    ROUND(quantile_cont(l_quantity, 0.50), 6) AS p50,
    ROUND(quantile_cont(l_quantity, 0.75), 6) AS p75,
    ROUND(quantile_cont(l_quantity, 0.95), 6) AS p95,
    COUNT(*) AS n_rows
FROM lineitem
GROUP BY l_returnflag
""".strip(),
)
def q_quantity_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (sort-based ordered-set
    aggregate). At 100 TB swap to approx_percentile — same call shape,
    t-digest sketch, no global sort."""
    li = _t(spark, sf_dir, "lineitem")
    pct = F.expr(
        "percentile(l_quantity, array(0.25D, 0.50D, 0.75D, 0.95D))"
    )
    return (
        li.groupBy("l_returnflag")
        .agg(pct.alias("pcts"), F.count("*").alias("n_rows"))
        .select(
            "l_returnflag",
            F.round(F.col("pcts")[0], 6).alias("p25"),
            F.round(F.col("pcts")[1], 6).alias("p50"),
            F.round(F.col("pcts")[2], 6).alias("p75"),
            F.round(F.col("pcts")[3], 6).alias("p95"),
            "n_rows",
        )
    )


# --- DISTINCT aggregates ----------------------------------------------------


@register(
    "priority_distinct_customers",
    oracle="""
SELECT
    o_orderpriority AS orderpriority,
    COUNT(DISTINCT o_custkey) AS n_customers,
    COUNT(*) AS n_orders
FROM orders
GROUP BY o_orderpriority
""".strip(),
)
def q_priority_distinct_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact DISTINCT aggregate next to a plain COUNT: Spark plans the
    two-phase expand + partial-agg shape; at scale swap in
    approx_count_distinct where a ±2% answer is acceptable."""
    orders = _t(spark, sf_dir, "orders")
    return orders.groupBy(
        F.col("o_orderpriority").alias("orderpriority")
    ).agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.count("*").alias("n_orders"),
    )


# --- §2.7 scalar-function surface ------------------------------------------


@register(
    "scalar_function_surface",
    oracle="""
SELECT
    l_orderkey * 10 + l_linenumber AS line_id,
    printf('PO%07d', l_orderkey) AS po_label,
    substr(printf('PO%07d', l_orderkey), 1, 4) AS po_prefix,
    CAST(DATE_DIFF('day', DATE '1995-01-01', CAST(l_shipdate AS DATE)) AS BIGINT)
        AS days_since_epoch_start,
    CAST(l_shipdate AS DATE) + 30 AS promised_date,
    LEAST(GREATEST(l_quantity, 10.0), 40.0) AS qty_clamped,
    CAST(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)
         * (100 - CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT))
         AS DOUBLE) / 10000 AS net_price,
    CASE WHEN l_returnflag = 'R' THEN 'returned' ELSE 'kept' END AS return_status,
    CONCAT(l_returnflag, '-', l_linestatus) AS flag_status
FROM lineitem
""".strip(),
)
def q_scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scalar surface in one projection: date arithmetic, format
    strings, clamp via least/greatest, CASE, concat, round
    (SURVEY.md §2.7). Pure codegen — no shuffle, no Python."""
    li = _t(spark, sf_dir, "lineitem")
    label = F.format_string("PO%07d", F.col("l_orderkey"))
    ship = F.col("l_shipdate").cast("date")
    return li.select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("line_id"),
        label.alias("po_label"),
        label.substr(1, 4).alias("po_prefix"),
        F.datediff(ship, F.lit("1995-01-01").cast("date"))
        .cast("long")
        .alias("days_since_epoch_start"),
        F.date_add(ship, 30).alias("promised_date"),
        F.least(F.greatest(F.col("l_quantity"), F.lit(10.0)), F.lit(40.0)).alias(
            "qty_clamped"
        ),
        # Exact integer e4 product (no ROUND: double-ROUND half-way
        # semantics differ across engines; integer arithmetic + one
        # IEEE division is exact and portable on both).
        (
            (
                cents("l_extendedprice")
                * (F.lit(100) - percent_units("l_discount"))
            ).cast("double")
            / F.lit(10000)
        ).alias("net_price"),
        F.when(F.col("l_returnflag") == "R", "returned")
        .otherwise("kept")
        .alias("return_status"),
        F.concat(F.col("l_returnflag"), F.lit("-"), F.col("l_linestatus")).alias(
            "flag_status"
        ),
    )


# --- multi-way shuffle join + top-k (TPC-H Q3 shape) ------------------------


@register(
    "shipping_priority",
    oracle="""
SELECT
    l_orderkey,
    CAST(SUM(CAST(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)
             * (100 - CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT))
             AS DECIMAL(38,0))) AS DOUBLE) / 10000 AS revenue,
    CAST(o_orderdate AS DATE) AS order_date,
    o_orderpriority
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND CAST(o_orderdate AS DATE) < DATE '1998-06-01'
  AND CAST(l_shipdate AS DATE) > DATE '1998-06-01'
GROUP BY l_orderkey, CAST(o_orderdate AS DATE), o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
""".strip(),
)
def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping-priority (TPC-H Q3 shape): selective dim filter broadcast
    into the orders⋈lineitem shuffle join, agg per order, top-10. Both
    date filters push to the parquet scans; at 100 TB the customer side
    broadcasts after its filter and AQE picks the fact-join strategy."""
    cust = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").cast("date") < F.lit("1998-06-01").cast("date")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").cast("date") > F.lit("1998-06-01").cast("date")
    )
    rev4 = revenue_e4("l_extendedprice", "l_discount")
    joined = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
    )
    return (
        joined.groupBy(
            "l_orderkey",
            F.col("o_orderdate").cast("date").alias("order_date"),
            "o_orderpriority",
        )
        .agg((F.sum(rev4).cast("double") / F.lit(10000)).alias("revenue"))
        .select("l_orderkey", "revenue", "order_date", "o_orderpriority")
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


# --- 6-way join with region filter (TPC-H Q5 shape) -------------------------


@register(
    "nation_revenue_share",
    oracle="""
SELECT
    n_name AS nation,
    CAST(SUM(CAST(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)
             * (100 - CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT))
             AS DECIMAL(38,0))) AS DOUBLE) / 10000 AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'EUROPE'
GROUP BY n_name
""".strip(),
)
def q_nation_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-supplier volume (TPC-H Q5 shape): 6-way join where the
    supplier join carries a second equi-condition (customer and supplier
    share a nation). Dims broadcast; the only shuffles are the two fact
    joins — the canonical 100 TB plan."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    rev4 = revenue_e4("l_extendedprice", "l_discount")
    joined = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .join(
            F.broadcast(sup),
            (li.l_suppkey == sup.s_suppkey)
            & (cust.c_nationkey == sup.s_nationkey),
        )
        .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
    )
    return joined.groupBy(F.col("n_name").alias("nation")).agg(
        (F.sum(rev4).cast("double") / F.lit(10000)).alias("revenue")
    )


# --- CUBE: all grouping-set combinations in one pass ------------------------


@register(
    "orders_status_priority_cube",
    oracle="""
SELECT
    COALESCE(o_orderstatus, 'ALL') AS orderstatus,
    COALESCE(o_orderpriority, 'ALL') AS orderpriority,
    COUNT(*) AS n_orders,
    CAST(SUM(CAST(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
            AS DECIMAL(38,0))) AS DOUBLE) / 100 AS total_price
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
""".strip(),
)
def q_orders_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE: all 2^k grouping-set combinations in one expand +
    hash-aggregate pass (vs 4 unioned scans). DECIMAL keeps every
    subtotal exact across reduction orders."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            (
                F.sum(cents("o_totalprice").cast("decimal(38,0)"))
                .cast("double")
                / F.lit(100)
            )
            .alias("total_price"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("orderstatus"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("orderpriority"),
            "n_orders",
            "total_price",
        )
    )


# --- window frames: running total + sliding average --------------------------


@register(
    "customer_running_totals",
    oracle="""
SELECT
    o_custkey,
    o_orderkey,
    CAST(o_orderdate AS DATE) AS order_date,
    CAST(ROW_NUMBER() OVER w AS BIGINT) AS order_seq,
    CAST(SUM(CAST(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
         AS DECIMAL(38,0))) OVER w AS DOUBLE) / 100 AS cum_spend,
    ROUND(AVG(o_totalprice) OVER (
        PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS mov_avg_3
FROM orders
WINDOW w AS (
    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
""".strip(),
)
def q_customer_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-based window aggregates: per-customer running DECIMAL total
    and a 3-row moving average, one shuffle on the partition key. The
    (o_orderdate, o_orderkey) sort key is unique per customer, so every
    frame — and thus every output row — is deterministic."""
    from pyspark.sql import Window

    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    mov = w.rowsBetween(-2, Window.currentRow)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.col("o_orderdate").cast("date").alias("order_date"),
        F.row_number().over(w).cast("long").alias("order_seq"),
        (
            F.sum(cents("o_totalprice").cast("decimal(38,0)"))
            .over(cum)
            .cast("double")
            / F.lit(100)
        ).alias("cum_spend"),
        F.round(F.avg("o_totalprice").over(mov), 6).alias("mov_avg_3"),
    )


# --- approximate distinct count, verified against exact ----------------------


@register(
    "events_user_count_approx",
    oracle="""
SELECT
    event_type,
    COUNT(DISTINCT user_id) AS exact_users,
    TRUE AS approx_within_5pct
FROM events
GROUP BY event_type
""".strip(),
)
def q_events_user_count_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct count (the 100 TB path — sketch merge, no
    expand) computed NEXT TO the exact count, returning a checkable
    within-5% flag. The oracle asserts the flag is TRUE, so the sketch's
    accuracy is hash-verified, not just eyeballed."""
    from supplier_performance_data_pipeline_spark.plans.queries_events import (
        _events,
    )

    ev = _events(spark, sf_dir)
    exact = F.count_distinct(F.col("user_id"))
    approx = F.approx_count_distinct(F.col("user_id"), 0.02)
    return ev.groupBy("event_type").agg(
        exact.alias("exact_users"),
        (F.abs(approx - exact) <= 0.05 * exact).alias("approx_within_5pct"),
    )


# --- conditional-share aggregation over a broadcast dim (Q14 shape) ----------


@register(
    "brand_revenue_share",
    oracle="""
WITH per_brand AS (
    SELECT
        p_brand,
        SUM(CAST(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)
            * (100 - CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT))
            AS DECIMAL(38,0))) AS brand_revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand
)
SELECT
    p_brand,
    CAST(brand_revenue AS DOUBLE) / 10000 AS brand_revenue,
    ROUND(100.0 * CAST(brand_revenue AS DOUBLE)
          / CAST(SUM(brand_revenue) OVER () AS DOUBLE), 6) AS revenue_share_pct
FROM per_brand
""".strip(),
)
def q_brand_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue share per brand: fact⋈broadcast(part) → per-brand DECIMAL
    agg → global total attached via broadcast cross join (NOT an empty
    window, which would single-partition the rows — here it's 25 brands
    so either works, but the crossJoin shape is the one that scales)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    rev4 = revenue_e4("l_extendedprice", "l_discount")
    per_brand = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(F.sum(rev4).alias("brand_revenue_dec"))
    )
    total = per_brand.agg(
        F.sum("brand_revenue_dec").alias("total_revenue_dec")
    )
    return per_brand.crossJoin(F.broadcast(total)).select(
        "p_brand",
        (F.col("brand_revenue_dec").cast("double") / F.lit(10000)).alias(
            "brand_revenue"
        ),
        F.round(
            100.0
            * F.col("brand_revenue_dec").cast("double")
            / F.col("total_revenue_dec").cast("double"),
            6,
        ).alias("revenue_share_pct"),
    )


# --- approximate percentile (t-digest), verified within bound ---------------


@register(
    "quantity_percentiles_approx",
    oracle="""
SELECT
    l_returnflag,
    ROUND(quantile_cont(l_quantity, 0.50), 6) AS p50_exact,
    TRUE AS approx_within_5pct
FROM lineitem
GROUP BY l_returnflag
""".strip(),
)
def q_quantity_percentiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (the 100 TB path — bounded-memory sketch, no
    global sort) computed NEXT TO the exact interpolated percentile; the
    oracle hash-verifies the within-5% flag, same pattern as the HLL
    distinct count."""
    li = _t(spark, sf_dir, "lineitem")
    exact = F.expr("percentile(l_quantity, 0.50D)")
    approx = F.expr("approx_percentile(l_quantity, 0.50D, 10000)")
    return li.groupBy("l_returnflag").agg(
        F.round(exact, 6).alias("p50_exact"),
        (F.abs(approx - exact) <= 0.05 * exact).alias("approx_within_5pct"),
    )


# --- semi-join: EXISTS with a compound correlated predicate (Q4 shape) ------


@register(
    "late_orders_by_priority",
    oracle="""
SELECT o_orderpriority, COUNT(*) AS n_orders
FROM orders o
WHERE EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey
      AND CAST(l.l_shipdate AS DATE) > CAST(o.o_orderdate AS DATE) + 90
)
GROUP BY o_orderpriority
""".strip(),
)
def q_late_orders_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: count orders per priority having AT LEAST ONE
    lineitem shipped >90 days after the order date. The EXISTS becomes a
    LEFT SEMI join whose condition references both sides (equi key +
    cross-table date comparison) — the probe side emits each order at
    most once, so no post-join distinct is needed. At scale this is one
    orderkey-keyed shuffle; the 90-day predicate can't push below the
    join (it spans both tables) but the semi short-circuits per key."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    cond = (F.col("o_orderkey") == F.col("l_orderkey")) & (
        F.col("l_shipdate").cast("date")
        > F.date_add(F.col("o_orderdate").cast("date"), 90)
    )
    return (
        o.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
    )


# --- per-key aggregate rejoined to the fact (Q17 shape), exact arithmetic ---


@register(
    "small_order_revenue",
    oracle="""
WITH per_part AS (
    SELECT l_partkey,
           SUM(CAST(CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)
               AS DECIMAL(38,0))) AS sum_qty,
           COUNT(*) AS cnt
    FROM lineitem GROUP BY l_partkey
)
SELECT ROUND(CAST(SUM(CAST(CAST(FLOOR(l.l_extendedprice * 100 + 0.5) AS BIGINT)
             AS DECIMAL(38,0))) AS DOUBLE) / 100
             / 7.0, 6) AS avg_yearly
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
JOIN per_part a ON l.l_partkey = a.l_partkey
WHERE p.p_brand = 'Brand#1'
  AND CAST(FLOOR(l.l_quantity * 100 + 0.5) AS BIGINT) * 5 * a.cnt < a.sum_qty
""".strip(),
)
def q_small_order_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue from orders below 20% of the part's
    average quantity. The correlated scalar subquery is decorrelated
    into a per-partkey pre-aggregate joined back on the SAME key the
    fact shuffles on — co-partitioned, so AQE reuses one exchange; the
    brand filter is a broadcast dim join pushed to the scan. The
    ``qty < 0.2 * avg`` comparison is rewritten ``5*qty*cnt < sum`` in
    exact DECIMAL/integer arithmetic: no double division, so the filter
    can't flip on last-ulp reduction-order differences between engines."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    qty_c = cents("l_quantity")
    per_part = li.groupBy("l_partkey").agg(
        F.sum(qty_c.cast("decimal(38,0)")).alias("sum_qty"),
        F.count("*").alias("cnt"),
    )
    brand = part.filter(F.col("p_brand") == "Brand#1").select("p_partkey")
    return (
        li.join(F.broadcast(brand), li.l_partkey == brand.p_partkey)
        .join(per_part, "l_partkey")
        .filter(qty_c * F.lit(5) * F.col("cnt") < F.col("sum_qty"))
        .agg(
            F.round(
                F.sum(cents("l_extendedprice").cast("decimal(38,0)"))
                .cast("double")
                / F.lit(100)
                / 7.0,
                6,
            ).alias("avg_yearly")
        )
    )


# --- window-function surface (ranking/offset/frame families) ----------------


@register(
    "window_function_surface",
    oracle="""
SELECT
    o_orderkey,
    o_custkey,
    CAST(ROW_NUMBER() OVER w AS INTEGER) AS rn,
    LAG(o_totalprice) OVER w AS prev_price,
    LEAD(o_totalprice) OVER w AS next_price,
    CAST(NTILE(4) OVER w AS INTEGER) AS quartile,
    ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
    ROUND(CUME_DIST() OVER w, 6) AS cume_dist,
    FIRST_VALUE(o_totalprice) OVER
        (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_price,
    LAST_VALUE(o_totalprice) OVER
        (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_price
FROM orders
WINDOW w AS (PARTITION BY o_custkey
             ORDER BY CAST(o_orderdate AS DATE), o_orderkey)
""".strip(),
)
def q_window_function_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete window-function families in one projection —
    ranking (row_number, ntile), relative rank (percent_rank,
    cume_dist: integer-ratio doubles, deterministic), offset
    (lag/lead: values MOVE, never recomputed), and explicit-frame
    first/last. One per-customer window over a unique (date, key)
    ordering — a single shuffle, no global sort; every function shares
    the same window definition so Spark evaluates them in one pass."""
    o = _t(spark, sf_dir, "orders")
    from pyspark.sql.window import Window

    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").cast("date"), "o_orderkey"
    )
    wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.row_number().over(w).alias("rn"),
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume_dist"),
        F.first("o_totalprice").over(wf).alias("first_price"),
        F.last("o_totalprice").over(wf).alias("last_price"),
    )


# --- GROUPING SETS with grouping_id -----------------------------------------


@register(
    "orders_grouping_sets",
    oracle="""
SELECT o_orderstatus, o_orderpriority,
       CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_status,
       CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_priority,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
            AS DECIMAL(38,0))) AS DOUBLE) / 100 AS total_price
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
""".strip(),
)
def q_orders_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (two independent marginals + grand total
    in ONE expand pass — completes the rollup/cube family) with
    grouping() flags disambiguating the NULL dimension values. DECIMAL
    sum, order-free."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupingSets(
            [["o_orderstatus"], ["o_orderpriority"], []],
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(
            F.grouping("o_orderstatus").cast("int").alias("g_status"),
            F.grouping("o_orderpriority").cast("int").alias("g_priority"),
            F.count("*").alias("n_orders"),
            (
                F.sum(cents("o_totalprice").cast("decimal(38,0)"))
                .cast("double")
                / F.lit(100)
            )
            .alias("total_price"),
        )
        .select(
            "o_orderstatus", "o_orderpriority", "g_status", "g_priority",
            "n_orders", "total_price",
        )
    )


# --- keyed snapshot upsert (MERGE semantics) --------------------------------

from supplier_performance_data_pipeline_spark.operators.merge import (  # noqa: E402
    upsert,
)


@register(
    "supplier_snapshot_upsert",
    oracle="""
WITH updates AS (
    SELECT s_suppkey, s_name, s_nationkey, s_acctbal + 1000.0 AS s_acctbal
    FROM supplier WHERE s_suppkey % 10 = 0
    UNION ALL
    SELECT s_suppkey + 1000000, concat('NEW#', s_name), s_nationkey,
           0.0 AS s_acctbal
    FROM supplier WHERE s_suppkey % 97 = 0
),
tagged AS (
    SELECT s_suppkey, s_name, s_nationkey, s_acctbal, 1 AS _prio FROM updates
    UNION ALL
    SELECT s_suppkey, s_name, s_nationkey, s_acctbal, 0 AS _prio FROM supplier
),
r AS (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY s_suppkey ORDER BY _prio DESC) AS _rn
    FROM tagged
)
SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM r WHERE _rn = 1
""".strip(),
)
def q_supplier_snapshot_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics on the supplier snapshot: a derived update
    batch (modified balances for every 10th supplier + brand-new rows
    keyed past the existing range) applied last-writer-wins via
    operators/merge.py — tag, union, top-1 per key; ONE key shuffle,
    the base never materializes twice."""
    sup = _t(spark, sf_dir, "supplier")
    mods = sup.filter(F.col("s_suppkey") % 10 == 0).withColumn(
        "s_acctbal", F.col("s_acctbal") + 1000.0
    )
    inserts = sup.filter(F.col("s_suppkey") % 97 == 0).select(
        (F.col("s_suppkey") + 1000000).alias("s_suppkey"),
        F.concat(F.lit("NEW#"), F.col("s_name")).alias("s_name"),
        "s_nationkey",
        F.lit(0.0).alias("s_acctbal"),
    )
    return upsert(sup, mods.unionByName(inserts), ["s_suppkey"])


# --- SCD-2 versioned dimension history --------------------------------------

from supplier_performance_data_pipeline_spark.operators.merge import (  # noqa: E402
    scd2_apply,
)


@register(
    "supplier_scd2_history",
    oracle="""
WITH base AS (
    SELECT s_suppkey, s_nationkey, s_acctbal,
           DATE '2024-01-01' AS valid_from
    FROM supplier
),
upd AS (
    SELECT s_suppkey, s_nationkey, 0.0 AS s_acctbal,
           DATE '2024-06-01' AS valid_from
    FROM supplier WHERE s_acctbal < 0.0
),
hist AS (SELECT * FROM base UNION ALL SELECT * FROM upd)
SELECT s_suppkey, s_nationkey, s_acctbal, valid_from,
       COALESCE(LEAD(valid_from) OVER (
           PARTITION BY s_suppkey ORDER BY valid_from),
           DATE '9999-12-31') AS valid_to,
       LEAD(valid_from) OVER (
           PARTITION BY s_suppkey ORDER BY valid_from) IS NULL AS is_current
FROM hist
""".strip(),
)
def q_supplier_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2 on the supplier snapshot: a CDC
    batch (negative balances written down to zero, effective June 1)
    folded into a versioned history — superseded rows close with
    ``valid_to``, every key's latest row is flagged current. The
    warehouse-dimension sibling of ``supplier_snapshot_upsert``: upsert
    keeps only the latest truth, SCD-2 keeps when each truth held.

    operators/merge.py::scd2_apply derives the row closing from a
    per-key ``lead(valid_from)`` window over the unioned history — ONE
    key-keyed shuffle, no join, the base never materializes twice."""
    sup = _t(spark, sf_dir, "supplier")
    base = sup.select(
        "s_suppkey",
        "s_nationkey",
        "s_acctbal",
        F.lit("2024-01-01").cast("date").alias("valid_from"),
    )
    upd = (
        sup.filter(F.col("s_acctbal") < 0.0)
        .select(
            "s_suppkey",
            "s_nationkey",
            F.lit(0.0).alias("s_acctbal"),
            F.lit("2024-06-01").cast("date").alias("valid_from"),
        )
    )
    hist = scd2_apply(base, upd, ["s_suppkey"])
    # Open rows carry the standard SCD-2 high-date sentinel instead of
    # NULL so the cross-engine compare sees a concrete date either way.
    return hist.withColumn(
        "valid_to",
        F.coalesce(F.col("valid_to"), F.lit("9999-12-31").cast("date")),
    )


# --- mergeable KLL quantile sketches (incremental percentile tables) --------


@register(
    "quantity_kll_sketch_rollup",
    oracle="""
SELECT
    l_returnflag,
    ROUND(quantile_cont(l_quantity, 0.50), 6) AS p50_exact,
    TRUE AS sketch_within_5pct
FROM lineitem
GROUP BY l_returnflag
""".strip(),
)
def q_quantity_kll_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile twin of the HLL rollup: per-(flag, ship-month) KLL
    sketches — the partials a monthly job would materialize — merged to
    the per-flag median estimate without rescanning raw rows.
    kll_sketch_merge_double is a BINARY scalar (no union aggregate like
    HLL's), so the partials are collect_list'ed per flag (bounded:
    one sketch per month) and folded left-to-right. Verified like every
    approx query: exact interpolated median + a within-5% flag computed
    next to the merge."""
    li = _t(spark, sf_dir, "lineitem")
    monthly = li.groupBy(
        "l_returnflag",
        F.date_trunc("month", F.col("l_shipdate").cast("date")).alias("m"),
    ).agg(F.kll_sketch_agg_double(F.col("l_quantity").cast("double")).alias("sk"))
    merged = monthly.groupBy("l_returnflag").agg(
        F.collect_list("sk").alias("sks")
    ).select(
        "l_returnflag",
        F.expr(
            "kll_sketch_get_quantile_double("
            "aggregate(slice(sks, 2, size(sks) - 1), sks[0], "
            "(acc, x) -> kll_sketch_merge_double(acc, x)), 0.5D)"
        ).alias("p50_est"),
    )
    exact = li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_quantity, 0.50D)"), 6).alias("p50_exact")
    )
    return exact.join(F.broadcast(merged), "l_returnflag").select(
        "l_returnflag",
        "p50_exact",
        (
            F.abs(F.col("p50_est") - F.col("p50_exact"))
            <= 0.05 * F.col("p50_exact")
        ).alias("sketch_within_5pct"),
    )


# --- disjunctive multi-clause predicate over a join (Q19 shape) -------------


@register(
    "brand_size_quantity_revenue",
    oracle="""
SELECT CAST(SUM(CAST(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)
             * (100 - CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT))
             AS DECIMAL(38,0))) AS DOUBLE) / 10000 AS revenue,
       COUNT(*) AS n_lineitems
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
       AND l_quantity BETWEEN 20 AND 30)
""".strip(),
)
def q_brand_size_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: an OR of per-brand conjunctive clauses spanning
    BOTH join sides, so the disjunction itself can only be evaluated
    post-join — but Catalyst extracts the single-side implications
    (brand IN-list onto the part scan, the quantity envelope onto the
    lineitem scan) as pushed-down prefilters, and the part side stays a
    broadcast. The classic test that complex predicates don't silently
    turn into scan-everything plans."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    clause = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 30)
        )
    )
    rev4 = revenue_e4("l_extendedprice", "l_discount")
    return j.filter(clause).agg(
        (F.sum(rev4).cast("double") / F.lit(10000)).alias("revenue"),
        F.count("*").alias("n_lineitems"),
    )


# --- entity resolution: blocked fuzzy name matching -------------------------


@register(
    "supplier_name_fuzzy_matches",
    oracle="""
SELECT a.s_suppkey AS id_a, b.s_suppkey AS id_b,
       CAST(levenshtein(a.s_name, b.s_name) AS INTEGER) AS edit_dist
FROM supplier a JOIN supplier b
  ON a.s_nationkey = b.s_nationkey
 AND a.s_suppkey < b.s_suppkey
WHERE levenshtein(a.s_name, b.s_name) <= 2
""".strip(),
)
def q_supplier_name_fuzzy_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution: candidate pairs meet only inside a BLOCK (the
    nation equi-key — the same bucket-join discipline as LSH dedup:
    never an all-pairs cross join), then exact edit distance keeps pairs
    within 2 edits. At scale the block key is what bounds the per-block
    quadratic cost — pick one with O(1) expected block size (sorted
    prefix, phonetic key, …); the integer distance is bit-identical in
    both engines."""
    sup = _t(spark, sf_dir, "supplier")
    a = sup.select(
        F.col("s_suppkey").alias("id_a"),
        F.col("s_name").alias("name_a"),
        F.col("s_nationkey").alias("nk"),
    )
    b = sup.select(
        F.col("s_suppkey").alias("id_b"),
        F.col("s_name").alias("name_b"),
        F.col("s_nationkey").alias("nk"),
    )
    dist = F.levenshtein(F.col("name_a"), F.col("name_b"))
    return (
        a.join(b, "nk")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(dist <= 2)
        .select("id_a", "id_b", dist.cast("int").alias("edit_dist"))
    )


# --- Q6 shape: pure pushed-filter aggregate ---------------------------------


@register(
    "discount_revenue_forecast",
    oracle="""
SELECT CAST(SUM(CAST(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)
             * CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT)
             AS DECIMAL(38,0))) AS DOUBLE) / 10000 AS revenue_delta,
       COUNT(*) AS n_lineitems
FROM lineitem
WHERE CAST(l_shipdate AS DATE) >= DATE '1994-01-01'
  AND CAST(l_shipdate AS DATE) < DATE '1995-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""".strip(),
)
def q_discount_revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: a scan-filter-aggregate with NO join — the purest
    test that conjunctive predicates (date range, discount band,
    quantity cap) reach the parquet reader as pushed filters and the
    scan prunes to exactly four columns. DECIMAL product sum."""
    li = _t(spark, sf_dir, "lineitem")
    d = F.col("l_shipdate").cast("date")
    return (
        li.filter(
            (d >= F.lit("1994-01-01").cast("date"))
            & (d < F.lit("1995-01-01").cast("date"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            (
                F.sum(
                    (cents("l_extendedprice") * percent_units("l_discount"))
                    .cast("decimal(38,0)")
                ).cast("double")
                / F.lit(10000)
            ).alias("revenue_delta"),
            F.count("*").alias("n_lineitems"),
        )
    )


# --- Q10 shape: returned-revenue customer ranking ---------------------------


@register(
    "customer_returns_ranking",
    oracle="""
SELECT c_custkey, c_name, n_name AS nation,
       CAST(SUM(CAST(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)
             * (100 - CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT))
             AS DECIMAL(38,0))) AS DOUBLE) / 10000
           AS lost_revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY lost_revenue DESC, c_custkey
LIMIT 20
""".strip(),
)
def q_customer_returns_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: revenue lost to returns per customer, top 20.
    The returnflag filter pushes to the lineitem scan BEFORE the join
    chain; nation broadcasts; the agg keys on the customer grain and
    the final top-20 is TakeOrdered over the aggregated table (ties
    broken by key for a deterministic cut). DECIMAL revenue."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nat = _t(spark, sf_dir, "nation")
    rev4 = revenue_e4("l_extendedprice", "l_discount")
    j = (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
    )
    return (
        j.groupBy("c_custkey", "c_name", F.col("n_name").alias("nation"))
        .agg((F.sum(rev4).cast("double") / F.lit(10000)).alias("lost_revenue"))
        .orderBy(F.desc("lost_revenue"), F.asc("c_custkey"))
        .limit(20)
    )


# --- winsorized (percentile-clipped) robust aggregate -----------------------


@register(
    "winsorized_price_stats",
    oracle="""
WITH cents AS (
    SELECT l_returnflag,
           CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS c
    FROM lineitem
),
bounds AS (
    SELECT CAST(FLOOR(quantile_cont(c, 0.01) + 0.5) AS BIGINT) AS p01,
           CAST(FLOOR(quantile_cont(c, 0.99) + 0.5) AS BIGINT) AS p99
    FROM cents
),
clipped AS (
    SELECT l_returnflag,
           CASE WHEN c < p01 THEN p01
                WHEN c > p99 THEN p99
                ELSE c END AS v
    FROM cents CROSS JOIN bounds
)
SELECT l_returnflag,
       COUNT(*) AS n_rows,
       CAST(SUM(CAST(v AS DECIMAL(38,0))) AS DOUBLE) / 100 AS clipped_sum,
       ROUND(CAST(SUM(CAST(v AS DECIMAL(38,0))) AS DOUBLE) / 100
             / COUNT(*), 6) AS clipped_mean
FROM clipped GROUP BY l_returnflag
""".strip(),
)
def q_winsorized_price_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized price statistics: clip at the global [p01, p99] then
    aggregate — the robust-stats shape that stops a handful of outliers
    from dominating a mean (feature normalization / reward clipping use
    the identical plan). The percentile bounds attach as a broadcast
    1-row cross join (the risk-bounds shape). All money math runs in
    exact integer CENTS via the portable `FLOOR(x*100 + 0.5)`
    quantization (identical IEEE steps both engines): the round-4 red
    proved both that DuckDB's LEAST/GREATEST over DECIMAL silently
    promotes to DOUBLE (the oracle summed floats while Spark summed
    DECIMAL) and that `CAST(double AS DECIMAL(12,2))` itself
    tie-breaks differently per engine on .xx5 prices — so the clip is
    a CASE over BIGINT cents (no type promotion anywhere), percentile
    interpolation runs over integer cents (both engines interpolate
    (1-f)·a + f·b on the same integers → identical doubles), and the
    sums stay DECIMAL-exact until one double division at the edge.
    Two passes over the fact (bounds + clipped agg) is the price of
    exact percentiles; at 100 TB the bounds pass switches to
    approx_percentile, same plan."""
    li = _t(spark, sf_dir, "lineitem")
    cents = li.select(
        "l_returnflag",
        F.expr("CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)").alias("c"),
    )
    # ONE array-percentile aggregate (a separate percentile(c, q) per
    # bound would build two full sort buffers — measured 2x the query).
    bounds = cents.agg(
        F.expr("percentile(c, array(0.01D, 0.99D))").alias("pq")
    ).select(
        F.expr("CAST(FLOOR(pq[0] + 0.5) AS BIGINT)").alias("p01"),
        F.expr("CAST(FLOOR(pq[1] + 0.5) AS BIGINT)").alias("p99"),
    )
    clipped = cents.crossJoin(F.broadcast(bounds)).select(
        "l_returnflag",
        F.expr(
            "CASE WHEN c < p01 THEN p01 WHEN c > p99 THEN p99 ELSE c END"
        ).alias("v"),
    )
    return clipped.groupBy("l_returnflag").agg(
        F.count("*").alias("n_rows"),
        F.expr("CAST(SUM(CAST(v AS DECIMAL(38,0))) AS DOUBLE) / 100").alias(
            "clipped_sum"
        ),
        F.expr(
            "ROUND(CAST(SUM(CAST(v AS DECIMAL(38,0))) AS DOUBLE) / 100"
            " / COUNT(*), 6)"
        ).alias("clipped_mean"),
    )


# --- bucketed co-located fact join ------------------------------------------

from supplier_performance_data_pipeline_spark.sources.writers import (  # noqa: E402
    write_table,
)

_BUCKETS = 8


@register(
    "orders_lineitem_bucketed_join",
    oracle="""
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(CAST(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)
             * (100 - CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT))
             AS DECIMAL(38,0))) AS DOUBLE) / 10000
           AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderstatus
""".strip(),
)
def q_orders_lineitem_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located fact-fact join: both fact tables are CTAS'd
    bucketed+sorted on the order key (sources/writers.py::write_table),
    then joined WITHOUT a shuffle — the bucketed scans are already
    hash-co-located, so the only exchange left in the plan is the final
    status rollup (pinned in tests/test_plans.py). This is the scale
    path for a fact pair joined repeatedly: pay the orderkey shuffle
    ONCE at write time, amortize it over every later join — at 100 TB
    the per-query saving is the entire fact-fact exchange, usually the
    single largest cost in the plan. The merge hint keeps the planner
    honest (a broadcast would hide the co-location being demonstrated);
    results are proven identical to the plain unbucketed join by the
    oracle."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    from supplier_performance_data_pipeline_spark.sources.writers import (
        sweep_stale_artifacts,
    )

    wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    wh = wh.removeprefix("file:")
    # spark passed so the catalog entry drops with the directory —
    # prefix-keyed CTAS tables, not plain files (writers.py contract).
    sweep_stale_artifacts(wh, "li_bkt_", spark=spark)
    sweep_stale_artifacts(wh, "ord_bkt_", spark=spark)
    app = spark.sparkContext.applicationId.replace("-", "_")
    lt, ot = f"li_bkt_{app}", f"ord_bkt_{app}"
    write_table(li, lt, bucket_by=(_BUCKETS, "l_orderkey"))
    write_table(orders, ot, bucket_by=(_BUCKETS, "o_orderkey"))
    lb, ob = spark.table(lt), spark.table(ot)
    rev = revenue_e4("l_extendedprice", "l_discount")
    return (
        lb.hint("merge")
        .join(ob, lb.l_orderkey == ob.o_orderkey)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_lines"),
            (F.sum(rev).cast("double") / F.lit(10000)).alias("revenue"),
        )
    )


# --- data-quality expectation report ----------------------------------------


@register(
    "lineitem_quality_report",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN l_extendedprice <= 0.0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_nonpositive_price,
       CAST(SUM(CASE WHEN l_discount < 0.0 OR l_discount > 0.1
            THEN 1 ELSE 0 END) AS BIGINT) AS n_discount_oob,
       CAST(SUM(CASE WHEN l_tax < 0.0 OR l_tax > 0.08 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_tax_oob,
       CAST(SUM(CASE WHEN l_quantity < 1.0 OR l_quantity > 50.0
            THEN 1 ELSE 0 END) AS BIGINT) AS n_quantity_oob,
       CAST(SUM(CASE WHEN l_returnflag NOT IN ('R', 'A', 'N')
            THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_returnflag,
       CAST(SUM(CASE WHEN l_linestatus NOT IN ('O', 'F')
            THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_linestatus,
       CAST(SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_null_shipdate,
       CAST(SUM(CASE WHEN CAST(l_shipdate AS DATE) < DATE '1992-01-01'
                       OR CAST(l_shipdate AS DATE) > DATE '1999-12-31'
            THEN 1 ELSE 0 END) AS BIGINT) AS n_shipdate_oor
FROM lineitem
""".strip(),
)
def q_lineitem_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expectation-suite data-quality gate over the biggest fact table:
    every domain rule (positive prices, discount/tax/quantity in their
    TPC-H ranges, closed enum columns, non-null in-range ship dates)
    checked in ONE scan as conditional sums — the ingest-time
    contract check a 100 TB pipeline runs before publishing a
    partition, shaped like ``orphan_checks``' union-agg (no joins, no
    second scan per rule; partial aggregation collapses map-side, so
    the exchange carries one row per partition)."""
    li = _t(spark, sf_dir, "lineitem")

    def viol(cond):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("long")

    d = F.col("l_shipdate").cast("date")
    return li.agg(
        F.count("*").alias("n_rows"),
        viol(F.col("l_extendedprice") <= 0.0).alias("n_nonpositive_price"),
        viol(
            (F.col("l_discount") < 0.0) | (F.col("l_discount") > 0.1)
        ).alias("n_discount_oob"),
        viol((F.col("l_tax") < 0.0) | (F.col("l_tax") > 0.08)).alias(
            "n_tax_oob"
        ),
        viol(
            (F.col("l_quantity") < 1.0) | (F.col("l_quantity") > 50.0)
        ).alias("n_quantity_oob"),
        viol(~F.col("l_returnflag").isin("R", "A", "N")).alias(
            "n_bad_returnflag"
        ),
        viol(~F.col("l_linestatus").isin("O", "F")).alias(
            "n_bad_linestatus"
        ),
        viol(F.col("l_shipdate").isNull()).alias("n_null_shipdate"),
        viol(
            (d < F.lit("1992-01-01").cast("date"))
            | (d > F.lit("1999-12-31").cast("date"))
        ).alias("n_shipdate_oor"),
    )


# --- incremental rollup maintenance (exact partial merge) -------------------

_INCR_CUTOFF = "1997-01-01"


@register(
    "orders_incremental_rollup_merge",
    oracle="""
SELECT CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE)
           AS month_start,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
            AS DECIMAL(38,0))) AS DOUBLE) / 100
           AS total_price
FROM orders
GROUP BY date_trunc('month', CAST(o_orderdate AS DATE))
""".strip(),
)
def q_orders_incremental_rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view maintenance as a driver-verified identity: the
    monthly order rollup is built INCREMENTALLY — partials over the
    history before the cutoff and partials over the new arrivals after
    it, merged by re-aggregating the unioned partials — and must equal
    the full recompute (the oracle). COUNT and DECIMAL SUM are
    mergeable aggregates, so merge(partial(A), partial(B)) ==
    full(A ∪ B) exactly; this is the exact-aggregate sibling of the
    HLL/KLL sketch rollups, and the reason a daily 100 TB pipeline
    never rescans history: each day contributes month-keyed partial
    rows, and publishing is a partial-merge agg over table-of-partials
    rows, not raw facts."""
    orders = _t(spark, sf_dir, "orders")
    cutoff = F.lit(_INCR_CUTOFF).cast("date")
    month = F.date_trunc("month", F.col("o_orderdate")).cast("date")

    def partial(df):
        return df.groupBy(month.alias("month_start")).agg(
            F.count("*").alias("pn"),
            F.sum(cents("o_totalprice").cast("decimal(38,0)")).alias("ps"),
        )

    hist = partial(orders.filter(F.col("o_orderdate").cast("date") < cutoff))
    incr = partial(orders.filter(F.col("o_orderdate").cast("date") >= cutoff))
    return (
        hist.unionByName(incr)
        .groupBy("month_start")
        .agg(
            F.sum("pn").cast("long").alias("n_orders"),
            (F.sum("ps").cast("double") / F.lit(100)).alias("total_price"),
        )
    )


# --- point-in-time join against the SCD-2 dimension -------------------------

_PIT_CHANGE = "1996-01-01"


@register(
    "lineitem_scd2_point_in_time",
    oracle=f"""
WITH base AS (
    SELECT s_suppkey, s_acctbal, DATE '1992-01-01' AS valid_from
    FROM supplier
),
upd AS (
    SELECT s_suppkey, 0.0 AS s_acctbal, DATE '{_PIT_CHANGE}' AS valid_from
    FROM supplier WHERE s_acctbal < 0.0
),
hist0 AS (SELECT * FROM base UNION ALL SELECT * FROM upd),
hist AS (
    SELECT s_suppkey, s_acctbal, valid_from,
           COALESCE(LEAD(valid_from) OVER (
               PARTITION BY s_suppkey ORDER BY valid_from),
               DATE '9999-12-31') AS valid_to
    FROM hist0
)
SELECT h.s_acctbal < 0.0 AS neg_balance_at_ship,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(CAST(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)
             * (100 - CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT))
             AS DECIMAL(38,0))) AS DOUBLE) / 10000
           AS revenue
FROM lineitem l
JOIN hist h
  ON l.l_suppkey = h.s_suppkey
 AND CAST(l.l_shipdate AS DATE) >= h.valid_from
 AND CAST(l.l_shipdate AS DATE) < h.valid_to
GROUP BY h.s_acctbal < 0.0
""".strip(),
)
def q_lineitem_scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time dimensional join — the reason SCD-2 history exists:
    every line item joins the supplier VERSION in effect on its ship
    date (validity-window membership), not today's row. Suppliers with
    negative balances are written down to zero effective {chg}, so
    shipments before the change attribute to the negative-balance
    version and later ones to the repaired version; joining the
    current row for both (the classic SCD-1 mistake) would put every
    line in the repaired bucket and hash-fail the oracle.

    Plan: the history table is dimension-sized (<= 2 versions/key) and
    BROADCASTS; the validity-window predicates ride the equi hash join
    on the supplier key as residual conditions — no range-join blowup,
    no second fact pass; the rollup is one 2-group agg with DECIMAL
    revenue."""
    sup = _t(spark, sf_dir, "supplier")
    li = _t(spark, sf_dir, "lineitem")
    from supplier_performance_data_pipeline_spark.operators.merge import (
        scd2_apply,
    )

    base = sup.select(
        "s_suppkey",
        "s_acctbal",
        F.lit("1992-01-01").cast("date").alias("valid_from"),
    )
    upd = sup.filter(F.col("s_acctbal") < 0.0).select(
        "s_suppkey",
        F.lit(0.0).alias("s_acctbal"),
        F.lit(_PIT_CHANGE).cast("date").alias("valid_from"),
    )
    hist = scd2_apply(base, upd, ["s_suppkey"]).withColumn(
        "valid_to",
        F.coalesce(F.col("valid_to"), F.lit("9999-12-31").cast("date")),
    )
    ship = F.col("l_shipdate").cast("date")
    rev = revenue_e4("l_extendedprice", "l_discount")
    return (
        li.join(
            F.broadcast(hist),
            (li.l_suppkey == hist.s_suppkey)
            & (ship >= hist.valid_from)
            & (ship < hist.valid_to),
        )
        .groupBy((F.col("s_acctbal") < 0.0).alias("neg_balance_at_ship"))
        .agg(
            F.count("*").alias("n_lines"),
            (F.sum(rev).cast("double") / F.lit(10000)).alias("revenue"),
        )
    )


q_lineitem_scd2_point_in_time.__doc__ = (
    q_lineitem_scd2_point_in_time.__doc__.format(chg=_PIT_CHANGE)
)


# --- order-insensitive table fingerprint ------------------------------------

# Canonical per-row string: every column cast to a fixed textual form
# shared by both engines (ints/strings as-is, money through DECIMAL so
# the scale is pinned, dates as ISO). Shared spec => the two dialects
# cannot drift.
_FP_COLS = [
    "CAST(l_orderkey AS STRING)",
    "CAST(l_linenumber AS STRING)",
    # money/rate columns canonicalize through the portable FLOOR
    # integer-units recipe (functions/money.py) — a DECIMAL cast here
    # would make the row bytes engine-dependent on .xx5 ties.
    "CAST(CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT) AS STRING)",
    "CAST(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS STRING)",
    "CAST(CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT) AS STRING)",
    "CAST(CAST(FLOOR(l_tax * 100 + 0.5) AS BIGINT) AS STRING)",
    "l_returnflag",
    "l_linestatus",
    "CAST(CAST(l_shipdate AS DATE) AS STRING)",
]
_FP_ROW = "concat_ws('|', " + ", ".join(_FP_COLS) + ")"


@register(
    "lineitem_table_fingerprint",
    oracle=f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       bit_xor(CAST(concat('0x', substr(md5({_FP_ROW.replace("AS STRING", "AS VARCHAR")}), 1, 14))
               AS BIGINT)) AS fingerprint,
       CAST(CAST(SUM(CAST(concat('0x', substr(md5({_FP_ROW.replace("AS STRING", "AS VARCHAR")}), 1, 14))
               AS BIGINT)) AS DECIMAL(38,0)) AS VARCHAR) AS fingerprint_sum
FROM lineitem
""".strip(),
)
def q_lineitem_table_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive whole-table fingerprint: XOR of per-row
    56-bit md5 hashes + the row count — the anti-entropy check two
    replicas (or two engines, or pre/post-migration copies) compare to
    prove a 100 TB table identical WITHOUT moving it: one scan each
    side, ~32 bytes exchanged. XOR is commutative/associative, so the
    fingerprint is independent of partitioning and row order, and any
    single-row difference flips it; rows are canonicalized through a
    shared textual spec (pinned DECIMAL scales, ISO dates) so both
    engines hash identical bytes. Map-side partial agg collapses each
    partition to one row — the exchange carries one row per partition.

    XOR alone has an even-multiplicity blind spot: hashes cancel in
    PAIRS, so corruption that swaps an identical row pair {x,x} for a
    different pair {y,y} (any even-multiplicity substitution) leaves
    both the XOR and n_rows unchanged. ``fingerprint_sum`` — the
    order-free arithmetic SUM of the same 56-bit row hashes, exact in
    DECIMAL(38,0) (max 2^56 per row × 10^15 rows < 10^38, no overflow,
    no modular wraparound to reconcile across engines; surfaced as its
    exact STRING digits because client decimal→double conversion would
    silently round past 2^53) — closes it:
    the paired substitution shifts the sum by 2·(h(y)−h(x)), so
    defeating both digests needs a simultaneous hash coincidence.

    (This very query is the engine's own cross-engine proof: the
    DuckDB oracle computes the fingerprint from the same parquet and
    the driver hash-compares the two.)"""
    li = _t(spark, sf_dir, "lineitem")
    row_hash = f"CAST(conv(substring(md5({_FP_ROW}), 1, 14), 16, 10) AS BIGINT)"
    return li.agg(
        F.count("*").alias("n_rows"),
        F.expr(f"bit_xor({row_hash})").alias("fingerprint"),
        F.expr(
            f"CAST(CAST(sum(CAST({row_hash} AS DECIMAL(38,0)))"
            " AS DECIMAL(38,0)) AS STRING)"
        ).alias("fingerprint_sum"),
    )


# --- per-partition Merkle fingerprints (anti-entropy drill-down) ------------

_OFP_COLS = [
    "CAST(o_orderkey AS STRING)",
    "CAST(o_custkey AS STRING)",
    "o_orderstatus",
    "CAST(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS STRING)",
    "CAST(CAST(o_orderdate AS DATE) AS STRING)",
    "o_orderpriority",
]
_OFP_ROW = "concat_ws('|', " + ", ".join(_OFP_COLS) + ")"
_OFP_ROW_DUCK = _OFP_ROW.replace("AS STRING", "AS VARCHAR")


@register(
    "orders_month_fingerprints",
    oracle=f"""
SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS month,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       bit_xor(CAST(concat('0x', substr(md5({_OFP_ROW_DUCK}), 1, 14))
               AS BIGINT)) AS fingerprint,
       CAST(CAST(SUM(CAST(concat('0x', substr(md5({_OFP_ROW_DUCK}), 1, 14))
               AS BIGINT)) AS DECIMAL(38,0)) AS VARCHAR) AS fingerprint_sum
FROM orders
GROUP BY 1
""".strip(),
)
def q_orders_month_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-month table fingerprints — the Merkle drill-down step of the
    anti-entropy protocol: when the whole-table digest
    (``lineitem_table_fingerprint``) says two replicas diverge, the
    partition-level digests LOCATE the divergence, so reconciliation
    re-ships one partition instead of 100 TB. Same digest pair per
    group as the whole-table check (order-free XOR of 56-bit row
    hashes + their exact DECIMAL sum as string digits, identical
    canonical row spec both engines); grouping by the table's natural
    time-partition key means each output row prices out one
    partition-directory comparison.

    Plan: one scan, one month-keyed hash agg with map-side partials —
    the exchange carries (months × partitions) digest rows, bytes not
    data."""
    o = _t(spark, sf_dir, "orders")
    row_hash = (
        f"CAST(conv(substring(md5({_OFP_ROW}), 1, 14), 16, 10) AS BIGINT)"
    )
    return (
        o.groupBy(
            F.date_format("o_orderdate", "yyyy-MM").alias("month")
        ).agg(
            F.count("*").alias("n_rows"),
            F.expr(f"bit_xor({row_hash})").alias("fingerprint"),
            F.expr(
                f"CAST(CAST(sum(CAST({row_hash} AS DECIMAL(38,0)))"
                " AS DECIMAL(38,0)) AS STRING)"
            ).alias("fingerprint_sum"),
        )
    )


# --- market concentration: per-nation supplier HHI --------------------------


@register(
    "nation_supplier_hhi",
    oracle="""
WITH rev AS (
    SELECT s.s_nationkey, l.l_suppkey,
           SUM(CAST(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)
               * (100 - CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT))
               AS DECIMAL(38,0))) AS rev_e4
    FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
    GROUP BY s.s_nationkey, l.l_suppkey
)
SELECT n.n_name AS nation_name,
       CAST(COUNT(*) AS BIGINT) AS n_suppliers,
       CAST(SUM(rev_e4) AS DOUBLE) / 10000 AS total_revenue,
       ROUND(
         CAST(SUM(CAST(rev_e4 AS DECIMAL(19,0)) * CAST(rev_e4 AS DECIMAL(19,0))) AS DOUBLE)
         / (CAST(SUM(rev_e4) AS DOUBLE) * CAST(SUM(rev_e4) AS DOUBLE)),
         6) AS hhi
FROM rev JOIN nation n ON rev.s_nationkey = n.n_nationkey
GROUP BY n.n_name
""".strip(),
)
def q_nation_supplier_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman concentration of supplier revenue within
    each nation — the market-structure rollup behind "is this nation's
    supply chain one bankruptcy away from collapse". HHI = Σ share_i²
    = Σ rev_i² / (Σ rev_i)², computed WITHOUT per-supplier division:
    each row reduces to an exact integer in 1e-4-dollar units via the
    portable quantization `FLOOR(x*100 + 0.5)` (price→cents, discount→
    basis points; identical IEEE double steps in both engines — the
    round-4 red proved that casting a DECIMAL sum down a scale, e.g.
    `CAST(dec(…,4)*100 AS DECIMAL(19,0))`, ties-breaks differently per
    engine: Spark HALF_UP, DuckDB truncation, 1-cent drift on 43/100
    suppliers). Squares and sums stay in DECIMAL(38,0) (exact,
    order-free — a float Σ share² would be reduction-order-dependent);
    the single double division happens once per nation at the edge.

    Plan: fact-keyed agg to (nation, supplier) grain, then a
    dimension-sized second agg; the nation dim broadcasts. Bound:
    per-row rev_e4 ≤ ~1e9 ≪ BIGINT; per-supplier rev_e4² needs
    DECIMAL(38,0) up to ~1e15 dollars/supplier — document, don't
    guess, at 100 TB.
    """
    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    rev = (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .groupBy("s_nationkey", "l_suppkey")
        .agg(
            F.expr(
                "SUM(CAST(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)"
                " * (100 - CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT))"
                " AS DECIMAL(38,0)))"
            ).alias("rev_e4")
        )
    )
    return (
        rev.join(F.broadcast(nat), rev.s_nationkey == nat.n_nationkey)
        .groupBy(F.col("n_name").alias("nation_name"))
        .agg(
            F.count("*").alias("n_suppliers"),
            F.expr(
                "CAST(SUM(rev_e4) AS DOUBLE) / 10000"
            ).alias("total_revenue"),
            F.expr(
                "ROUND(CAST(SUM(CAST(rev_e4 AS DECIMAL(19,0))"
                " * CAST(rev_e4 AS DECIMAL(19,0))) AS DOUBLE)"
                " / (CAST(SUM(rev_e4) AS DOUBLE)"
                " * CAST(SUM(rev_e4) AS DOUBLE)), 6)"
            ).alias("hhi"),
        )
    )


# --- exact-moments correlation per brand ------------------------------------


@register(
    "discount_quantity_correlation",
    oracle="""
WITH m AS (
    SELECT p.p_brand,
           COUNT(*) AS n,
           SUM(CAST(CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT)
               AS DECIMAL(38,0))) AS sx,
           SUM(CAST(CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)
               AS DECIMAL(38,0))) AS sy,
           SUM(CAST(CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT)
               * CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)
               AS DECIMAL(38,0))) AS sxy,
           SUM(CAST(CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT)
               * CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT)
               AS DECIMAL(38,0))) AS sxx,
           SUM(CAST(CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)
               * CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)
               AS DECIMAL(38,0))) AS syy
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_brand
)
SELECT p_brand,
       CAST(n AS BIGINT) AS n_lines,
       ROUND((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
           / NULLIF(sqrt(n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * sqrt(n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)), 0),
         6) AS corr_disc_qty,
       ROUND((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
           / (CAST(n AS DOUBLE) * (n - 1)) / 10000, 6) AS covar_disc_qty
FROM m
""".strip(),
)
def q_discount_quantity_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation + sample covariance of discount vs quantity
    per brand — the statistical-aggregate surface, built from EXACT
    DECIMAL moments instead of the engines' native corr()/covar_samp()
    (whose accumulation schemes — Welford vs naive, different
    reduction orders — cannot hash-match across engines). The five
    moment sums are exact and order-free; the correlation is then ONE
    fixed double expression over them, structured identically in both
    engines. This is also the right 100 TB shape: moments merge
    associatively (map-side partials), so the correlation of a
    quadrillion rows still exchanges five numbers per group.

    NULL when a brand's discount or quantity is constant (zero
    variance → NULLIF guard)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    m = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n"),
            F.sum(
                percent_units("l_discount").cast("decimal(38,0)")
            ).alias("sx"),
            F.sum(cents("l_quantity").cast("decimal(38,0)")).alias("sy"),
            F.sum(
                (percent_units("l_discount") * cents("l_quantity")).cast(
                    "decimal(38,0)"
                )
            ).alias("sxy"),
            F.sum(
                (percent_units("l_discount") * percent_units("l_discount"))
                .cast("decimal(38,0)")
            ).alias("sxx"),
            F.sum(
                (cents("l_quantity") * cents("l_quantity")).cast(
                    "decimal(38,0)"
                )
            ).alias("syy"),
        )
    )
    num = (
        "(n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    )
    return m.select(
        "p_brand",
        F.col("n").cast("long").alias("n_lines"),
        F.expr(
            f"ROUND({num} / NULLIF("
            "sqrt(n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
            " * sqrt(n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))"
            ", 0), 6)"
        ).alias("corr_disc_qty"),
        F.expr(
            f"ROUND({num} / (CAST(n AS DOUBLE) * (n - 1)) / 10000, 6)"
        ).alias("covar_disc_qty"),
    )


# --- one-scan multi-column profile ------------------------------------------


@register(
    "lineitem_column_profile",
    oracle="""
WITH a AS (
    SELECT COUNT(*) AS n_rows,
           COUNT(l_returnflag) AS c_rf, COUNT(DISTINCT l_returnflag) AS d_rf,
           MIN(l_returnflag) AS mn_rf, MAX(l_returnflag) AS mx_rf,
           COUNT(l_linestatus) AS c_ls, COUNT(DISTINCT l_linestatus) AS d_ls,
           MIN(l_linestatus) AS mn_ls, MAX(l_linestatus) AS mx_ls,
           COUNT(l_shipdate) AS c_sd, COUNT(DISTINCT l_shipdate) AS d_sd,
           CAST(CAST(MIN(l_shipdate) AS DATE) AS VARCHAR) AS mn_sd,
           CAST(CAST(MAX(l_shipdate) AS DATE) AS VARCHAR) AS mx_sd,
           COUNT(l_quantity) AS c_q, COUNT(DISTINCT l_quantity) AS d_q,
           CAST(CAST(FLOOR(MIN(l_quantity) * 100 + 0.5) AS BIGINT) AS VARCHAR) AS mn_q,
           CAST(CAST(FLOOR(MAX(l_quantity) * 100 + 0.5) AS BIGINT) AS VARCHAR) AS mx_q,
           COUNT(l_discount) AS c_d, COUNT(DISTINCT l_discount) AS d_d,
           CAST(CAST(FLOOR(MIN(l_discount) * 100 + 0.5) AS BIGINT) AS VARCHAR) AS mn_d,
           CAST(CAST(FLOOR(MAX(l_discount) * 100 + 0.5) AS BIGINT) AS VARCHAR) AS mx_d
    FROM lineitem
)
SELECT 'l_returnflag' AS column_name, CAST(n_rows - c_rf AS BIGINT) AS n_nulls,
       CAST(d_rf AS BIGINT) AS n_distinct, mn_rf AS min_value, mx_rf AS max_value FROM a
UNION ALL
SELECT 'l_linestatus', CAST(n_rows - c_ls AS BIGINT), CAST(d_ls AS BIGINT), mn_ls, mx_ls FROM a
UNION ALL
SELECT 'l_shipdate', CAST(n_rows - c_sd AS BIGINT), CAST(d_sd AS BIGINT), mn_sd, mx_sd FROM a
UNION ALL
SELECT 'l_quantity', CAST(n_rows - c_q AS BIGINT), CAST(d_q AS BIGINT), mn_q, mx_q FROM a
UNION ALL
SELECT 'l_discount', CAST(n_rows - c_d AS BIGINT), CAST(d_d AS BIGINT), mn_d, mx_d FROM a
""".strip(),
)
def q_lineitem_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column data profile (nulls, exact distinct cardinality,
    canonical min/max) for five lineitem columns in ONE scan — the
    ingest-time profiling pass every pipeline runs before trusting a
    new 100 TB drop. The five COUNT(DISTINCT)s compile to a single
    Expand-based aggregate (one scan, one shuffle of ×5 expanded
    partials), not five passes; min/max canonicalize through pinned
    types (DATE / DECIMAL scales) so both engines render identical
    strings. The wide one-row aggregate then unpivots to the long
    (column, stats) form with a zero-cost stack projection.

    Scale note: the Expand multiplies the SCAN ×6 (one replica per
    distinct-counted column plus the base), so at 100 TB this exact
    profile is the wrong plan — ``lineitem_hll_profile`` is the
    sketch-based variant with no Expand (fixed-size mergeable buffers),
    registered and driver-graded alongside this one."""
    from supplier_performance_data_pipeline_spark.sources.readers import (
        spread_scan,
    )

    # r13: the Expand multiplies the scan x6 BEFORE the first
    # exchange, so a single-split local fixture runs 3.6M expanded
    # rows in ONE task (measured 7.5 s). spread_scan parallelizes the
    # expand across the cluster and is a no-op on a wide 100 TB scan.
    li = spread_scan(_t(spark, sf_dir, "lineitem"), "l_orderkey")
    a = li.agg(
        F.count("*").alias("n_rows"),
        F.count("l_returnflag").alias("c_rf"),
        F.countDistinct("l_returnflag").alias("d_rf"),
        F.min("l_returnflag").alias("mn_rf"),
        F.max("l_returnflag").alias("mx_rf"),
        F.count("l_linestatus").alias("c_ls"),
        F.countDistinct("l_linestatus").alias("d_ls"),
        F.min("l_linestatus").alias("mn_ls"),
        F.max("l_linestatus").alias("mx_ls"),
        F.count("l_shipdate").alias("c_sd"),
        F.countDistinct("l_shipdate").alias("d_sd"),
        F.expr("CAST(CAST(MIN(l_shipdate) AS DATE) AS STRING)").alias("mn_sd"),
        F.expr("CAST(CAST(MAX(l_shipdate) AS DATE) AS STRING)").alias("mx_sd"),
        F.count("l_quantity").alias("c_q"),
        F.countDistinct("l_quantity").alias("d_q"),
        F.expr(
            "CAST(CAST(FLOOR(MIN(l_quantity) * 100 + 0.5) AS BIGINT) AS STRING)"
        ).alias("mn_q"),
        F.expr(
            "CAST(CAST(FLOOR(MAX(l_quantity) * 100 + 0.5) AS BIGINT) AS STRING)"
        ).alias("mx_q"),
        F.count("l_discount").alias("c_d"),
        F.countDistinct("l_discount").alias("d_d"),
        F.expr(
            "CAST(CAST(FLOOR(MIN(l_discount) * 100 + 0.5) AS BIGINT) AS STRING)"
        ).alias("mn_d"),
        F.expr(
            "CAST(CAST(FLOOR(MAX(l_discount) * 100 + 0.5) AS BIGINT) AS STRING)"
        ).alias("mx_d"),
    )
    return a.select(
        F.expr(
            "stack(5,"
            " 'l_returnflag', n_rows - c_rf, d_rf, mn_rf, mx_rf,"
            " 'l_linestatus', n_rows - c_ls, d_ls, mn_ls, mx_ls,"
            " 'l_shipdate',   n_rows - c_sd, d_sd, mn_sd, mx_sd,"
            " 'l_quantity',   n_rows - c_q,  d_q,  mn_q,  mx_q,"
            " 'l_discount',   n_rows - c_d,  d_d,  mn_d,  mx_d)"
            " AS (column_name, n_nulls, n_distinct, min_value, max_value)"
        )
    )


@register(
    "lineitem_hll_profile",
    oracle="""
WITH a AS (
    SELECT COUNT(DISTINCT l_returnflag) AS d_rf,
           COUNT(DISTINCT l_linestatus) AS d_ls,
           COUNT(DISTINCT l_shipdate) AS d_sd,
           COUNT(DISTINCT l_quantity) AS d_q,
           COUNT(DISTINCT l_suppkey) AS d_sk
    FROM lineitem
)
SELECT 'l_returnflag' AS column_name, CAST(d_rf AS BIGINT) AS n_distinct_exact,
       TRUE AS hll_within_5pct FROM a
UNION ALL
SELECT 'l_linestatus', CAST(d_ls AS BIGINT), TRUE FROM a
UNION ALL
SELECT 'l_shipdate', CAST(d_sd AS BIGINT), TRUE FROM a
UNION ALL
SELECT 'l_quantity', CAST(d_q AS BIGINT), TRUE FROM a
UNION ALL
SELECT 'l_suppkey', CAST(d_sk AS BIGINT), TRUE FROM a
""".strip(),
)
def q_lineitem_hll_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB HALF of ``lineitem_column_profile``'s documented
    trade, driver-graded: five per-column distinct cardinalities in ONE
    scan via HLL sketches (``hll_sketch_agg``), with NO Expand — the
    exact profile's five COUNT(DISTINCT)s compile to an Expand that
    multiplies the scan ×6 and shuffles expanded partials, which is
    the wrong plan against a 100 TB drop. Sketch buffers are fixed-size
    and mergeable (the same DataSketches partials
    ``events_user_sketch_rollup`` re-aggregates across days), so the
    sketch arm's shuffle is five constant-size buffers per partition
    regardless of row count.

    Verified like every approx query: the EXACT distinct counts are
    computed alongside (the verification arm, at driver scale only —
    precisely the Expand plan the sketch arm exists to retire) and the
    hashed surface is (exact count, sketch-within-5% flag), since HLL
    estimates themselves are implementation-specific and would never
    match another engine bit-for-bit."""
    li = _t(spark, sf_dir, "lineitem")
    cols = {
        "l_returnflag": "rf",
        "l_linestatus": "ls",
        "l_shipdate": "sd",
        "l_quantity": "q",
        "l_suppkey": "sk",
    }
    # hll_sketch_agg accepts int/long/string/binary only — date/double
    # columns hash via their canonical string rendering (injective, so
    # the sketched domain is the same one the exact arm counts).
    sk = li.agg(
        *[
            F.hll_sketch_estimate(
                F.hll_sketch_agg(F.col(c).cast("string"))
            ).alias(f"e_{t}")
            for c, t in cols.items()
        ]
    )
    ex = li.agg(
        *[F.countDistinct(c).alias(f"d_{t}") for c, t in cols.items()]
    )
    joined = ex.crossJoin(F.broadcast(sk))
    stack = ", ".join(
        f"'{c}', CAST(d_{t} AS BIGINT), "
        f"abs(e_{t} - d_{t}) <= 0.05 * d_{t}"
        for c, t in cols.items()
    )
    return joined.select(
        F.expr(
            f"stack({len(cols)}, {stack}) AS "
            "(column_name, n_distinct_exact, hll_within_5pct)"
        )
    )


# --- incremental moment-merge profile (append-table twin) --------------------

_MM_COLS = (("l_quantity", "q"), ("l_extendedprice", "p"), ("l_discount", "d"))


def _mm_direct_sql(col: str, t: str) -> str:
    c = cents_sql(col)
    return (
        f"COUNT({col}) AS c_{t}, "
        f"SUM(CAST({c} AS HUGEINT)) AS s_{t}, "
        f"SUM(CAST({c} AS HUGEINT) * CAST({c} AS HUGEINT)) AS s2_{t}, "
        f"MIN({c}) AS mn_{t}, MAX({c}) AS mx_{t}"
    )


def _mm_stats_sql(col: str, t: str) -> str:
    # The variance numerator c*Σx² − (Σx)² is computed EXACTLY in the
    # integer domain (HUGEINT here, DECIMAL(38,0) on the Spark side:
    # ~1.2e25 max at sf0.1, well inside both) and cast to double ONCE;
    # the denominator c(c−1)·100² is < 2^53 so its double is exact.
    # One cast + one divide + one ROUND in NATURAL units — where the
    # 6dp quantum exceeds the double ulp — is cross-engine
    # deterministic. The earlier form (two double products subtracted,
    # ROUND at 6dp on a ~9e12 cents² value whose ulp is ~2e-3) diverged
    # by 3 ulps between engines at sf0.1 ONLY — caught by the sf0.1
    # parity net, the -0.0 lesson all over again.
    return (
        f"SELECT '{col}' AS column_name, "
        f"CAST(n_rows - c_{t} AS BIGINT) AS n_nulls, "
        f"ROUND(CAST(s_{t} AS DOUBLE) / c_{t} / 100, 6) AS mean_value, "
        f"ROUND(CAST(c_{t} * s2_{t} - s_{t} * s_{t} AS DOUBLE) "
        f"/ (CAST(c_{t} * (c_{t} - 1) AS DOUBLE) * 10000), 6) "
        f"AS var_value, "
        f"CAST(mn_{t} AS BIGINT) AS min_scaled, "
        f"CAST(mx_{t} AS BIGINT) AS max_scaled FROM a"
    )


@register(
    "lineitem_profile_moment_merge",
    oracle=f"""
WITH a AS (
    SELECT COUNT(*) AS n_rows,
           {", ".join(_mm_direct_sql(c, t) for c, t in _MM_COLS)}
    FROM lineitem
)
{" UNION ALL ".join(_mm_stats_sql(c, t) for c, t in _MM_COLS)}
""".strip(),
)
def q_lineitem_profile_moment_merge(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental profiling of an APPEND table via mergeable moment
    partials — the streaming twin of ``lineitem_column_profile`` (r9
    VERDICT #8): per-ingest-batch (ship-year) partials
    (n, Σx, Σx², min, max) merge into the global profile by pure
    addition/min/max, so when a new batch lands only THAT batch is
    scanned and folded into the stored partials — the same
    one-pass-over-the-delta identity as ``incremental_components``.
    The oracle computes the profile DIRECTLY over the full table, so
    the driver hash proves merge(partials) == direct, exactly.

    Numerical honesty at 100 TB: naive float Σx/Σx² loses
    catastrophically to cancellation at scale, and Welford/Chan
    (Chan, Golub & LeVeque '79) is the float-domain merge that avoids
    it. This engine gets the same merge-stability EXACTLY instead:
    moments accumulate over scaled integers (cents / percent units)
    in DECIMAL — order-independent, partition-independent,
    bit-portable (the x² term is widened to DECIMAL BEFORE the
    multiply: cents(l_extendedprice)² alone overflows int64 at ~6e19
    across sf0.1). The variance numerator c·Σx² − (Σx)² is ALSO kept
    exact-integer (DECIMAL(38,0) / HUGEINT) and cast to double once,
    because the first cut — two double products subtracted, then
    ROUND at 6dp on a ~9e12 cents² value whose double ulp is ~2e-3 —
    diverged from DuckDB by 3 ulps at sf0.1 ONLY (sf0.001/0.01 both
    passed): the sf0.1 parity net exists for exactly this class.
    mean/var report in NATURAL units (the 6dp quantum must exceed the
    ulp); min/max stay exact scaled integers.

    Plan: stage 1 is one scan groupBy(year) with map-side partial agg
    (the partials are what an ingest pipeline would PERSIST per
    batch); stage 2 merges the ~7-row partial table — broadcast-sized
    forever, however old the corpus grows."""
    li = _t(spark, sf_dir, "lineitem")
    aggs = [F.count("*").alias("n_rows")]
    for c, t in _MM_COLS:
        v = cents(c)
        vd = v.cast("decimal(19,0)")
        aggs += [
            F.count(c).alias(f"c_{t}"),
            F.sum(vd).alias(f"s_{t}"),
            F.sum(vd * vd).alias(f"s2_{t}"),
            F.min(v).alias(f"mn_{t}"),
            F.max(v).alias(f"mx_{t}"),
        ]
    per_batch = li.groupBy(F.year("l_shipdate").alias("batch")).agg(*aggs)
    merged = per_batch.agg(
        F.sum("n_rows").alias("n_rows"),
        *[
            agg
            for _, t in _MM_COLS
            for agg in (
                F.sum(f"c_{t}").alias(f"c_{t}"),
                F.sum(f"s_{t}").alias(f"s_{t}"),
                F.sum(f"s2_{t}").alias(f"s2_{t}"),
                F.min(f"mn_{t}").alias(f"mn_{t}"),
                F.max(f"mx_{t}").alias(f"mx_{t}"),
            )
        ],
    )
    stats = []
    for c, t in _MM_COLS:
        stats += [
            f"'{c}'",
            f"CAST(n_rows - c_{t} AS BIGINT)",
            f"ROUND(CAST(s_{t} AS DOUBLE) / c_{t} / 100, 6)",
            # Exact-integer variance numerator, one cast, one divide —
            # see _mm_stats_sql for why (ulp-level cross-engine
            # divergence at sf0.1 with the double-products form).
            (
                f"ROUND(CAST(c_{t} * s2_{t} - s_{t} * s_{t} AS DOUBLE) "
                f"/ (CAST(c_{t} * (c_{t} - 1) AS DOUBLE) * 10000), 6)"
            ),
            f"CAST(mn_{t} AS BIGINT)",
            f"CAST(mx_{t} AS BIGINT)",
        ]
    return merged.select(
        F.expr(
            f"stack({len(_MM_COLS)}, {', '.join(stats)}) AS "
            "(column_name, n_nulls, mean_value, var_value, "
            "min_scaled, max_scaled)"
        )
    )


# --- RFM customer segmentation ----------------------------------------------


@register(
    "customer_rfm_segments",
    oracle="""
WITH per_cust AS (
    SELECT o_custkey,
           MAX(CAST(o_orderdate AS DATE)) AS last_order,
           COUNT(*) AS n_orders,
           SUM(CAST(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
               AS DECIMAL(38,0))) AS monetary
    FROM orders GROUP BY o_custkey
),
anchored AS (
    SELECT p.*,
           date_diff('day', p.last_order,
                     (SELECT MAX(CAST(o_orderdate AS DATE)) FROM orders))
               AS recency_days
    FROM per_cust p
),
scored AS (
    SELECT o_custkey, recency_days, n_orders, monetary,
           NTILE(4) OVER (ORDER BY recency_days, o_custkey) AS r_quartile,
           NTILE(4) OVER (ORDER BY n_orders DESC, o_custkey) AS f_quartile,
           NTILE(4) OVER (ORDER BY monetary DESC, o_custkey) AS m_quartile
    FROM anchored
)
SELECT r_quartile, f_quartile, m_quartile,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       ROUND(CAST(SUM(monetary) AS DOUBLE) / 100 / COUNT(*), 6) AS avg_monetary
FROM scored
GROUP BY r_quartile, f_quartile, m_quartile
""".strip(),
)
def q_customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) quartile segmentation —
    the classic customer-base rollup (who's churning, who's whale).
    Each customer lands in an (R,F,M) quartile cell; the output is the
    cell census plus average spend.

    Determinism: quartiles follow NTILE(4)'s SQL-standard split over a
    TOTAL order (metric + custkey tie-break) — but computed WITHOUT an
    unpartitioned window: the global rank comes from the two-level
    parallel prefix in operators/ranking.py (blocks monotone with each
    sort order, per-block offsets over a tiny block table, partitioned
    intra-block row_number), and the quartile is the closed-form
    remainder-first split of (rank, total) — bit-identical to the
    oracle's plain NTILE. Monetary stays exact DECIMAL until the one
    output division. The recency anchor is the table's own MAX order
    date (broadcast 1-row cross join), not wall-clock — reruns are
    reproducible.

    Scale: one fact shuffle compacts to customer grain; each quartile
    then costs one partitioned-window shuffle over that aggregate plus
    two broadcast joins — no single-partition sort over the customer
    dimension anywhere. Blocks: recency_days and n_orders are
    bounded-domain integers (the value IS the block); monetary is
    near-unique, so its blocks come from approx_percentile cuts (cut
    placement only balances work — the rank is exact regardless)."""
    from supplier_performance_data_pipeline_spark.operators.ranking import (
        blocked_row_number,
        ntile_from_rank,
        quantile_blocks,
    )

    o = _t(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.max(F.col("o_orderdate").cast("date")).alias("last_order"),
        F.count("*").alias("n_orders"),
        F.sum(cents("o_totalprice").cast("decimal(38,0)")).alias("monetary"),
    )
    anchor = o.agg(
        F.max(F.col("o_orderdate").cast("date")).alias("now_date")
    )
    anchored = per_cust.crossJoin(F.broadcast(anchor)).select(
        "o_custkey",
        "n_orders",
        "monetary",
        F.datediff("now_date", "last_order").alias("recency_days"),
    )
    # Three FLAT rank tables joined back on custkey — nesting the
    # ranking stages would replicate the upstream lineage once per
    # branch per stage (exponential plan blow-up); flat composition
    # references `anchored` a constant number of times and the joins
    # are entity-grain equi-joins Spark co-partitions on o_custkey.
    def quartile(blocked, order_by, out, keep=()):
        ranked = blocked_row_number(blocked, order_by, rn="_rn", total="_nt")
        return ranked.select(
            "o_custkey",
            *keep,
            ntile_from_rank(F.col("_rn"), F.col("_nt"), 4).alias(out),
        )

    r_q = quartile(
        anchored.withColumn("_blk", F.col("recency_days")),
        [F.asc("recency_days"), F.asc("o_custkey")],
        "r_quartile",
    )
    f_q = quartile(
        anchored.withColumn("_blk", -F.col("n_orders")),
        [F.desc("n_orders"), F.asc("o_custkey")],
        "f_quartile",
    )
    m_q = quartile(
        quantile_blocks(anchored, "monetary", desc=True),
        [F.desc("monetary"), F.asc("o_custkey")],
        "m_quartile",
        keep=("monetary",),
    )
    scored = m_q.join(r_q, "o_custkey").join(f_q, "o_custkey")
    return scored.groupBy("r_quartile", "f_quartile", "m_quartile").agg(
        F.count("*").cast("long").alias("n_customers"),
        F.round(
            F.sum("monetary").cast("double") / F.lit(100) / F.count("*"), 6
        ).alias("avg_monetary"),
    )


# --- CDC snapshot diff ------------------------------------------------------


@register(
    "supplier_snapshot_diff",
    oracle="""
WITH oldt AS (
    SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier
),
newt AS (
    SELECT s_suppkey, s_name, s_nationkey,
           CASE WHEN s_suppkey % 7 = 0 THEN s_acctbal + 10
                ELSE s_acctbal END AS s_acctbal
    FROM supplier WHERE s_suppkey % 13 <> 0
    UNION ALL
    SELECT s_suppkey + 100000, s_name, s_nationkey, s_acctbal
    FROM supplier WHERE s_suppkey % 17 = 0
),
j AS (
    SELECT COALESCE(o.s_suppkey, n.s_suppkey) AS k,
           CASE WHEN o.s_suppkey IS NULL THEN 'added'
                WHEN n.s_suppkey IS NULL THEN 'removed'
                WHEN o.s_name IS DISTINCT FROM n.s_name
                  OR o.s_nationkey IS DISTINCT FROM n.s_nationkey
                  OR o.s_acctbal IS DISTINCT FROM n.s_acctbal
                    THEN 'changed'
                ELSE 'unchanged' END AS change_type
    FROM oldt o FULL OUTER JOIN newt n ON o.s_suppkey = n.s_suppkey
)
SELECT change_type,
       CAST(COUNT(*) AS BIGINT) AS n_keys,
       CAST(MIN(k) AS BIGINT) AS min_key,
       CAST(MAX(k) AS BIGINT) AS max_key
FROM j GROUP BY 1
""".strip(),
)
def q_supplier_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC reconciliation on the board: diff two keyed snapshots into
    added/removed/changed/unchanged and aggregate per class. The "new"
    snapshot derives deterministically from supplier (every 13th key
    dropped, every 7th rebalanced, every 17th re-added under a shifted
    key), so both engines construct it independently; the Spark arm
    classifies via operators/merge.py::snapshot_diff — ONE full-outer
    join on (key, row-digest) where wide rows cross the shuffle as a
    32-char md5 — while the oracle classifies by direct column
    comparison (IS DISTINCT FROM), so the digest construction itself
    is under differential test: any digest collision/instability
    (column-order drift, NULL-sentinel bug) splits the class counts
    and hash-fails the row."""
    from supplier_performance_data_pipeline_spark.operators.merge import (
        snapshot_diff,
    )

    sup = _t(spark, sf_dir, "supplier")
    old = sup.select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
    new = (
        old.filter(F.col("s_suppkey") % 13 != 0)
        .withColumn(
            "s_acctbal",
            F.when(
                F.col("s_suppkey") % 7 == 0, F.col("s_acctbal") + 10
            ).otherwise(F.col("s_acctbal")),
        )
        .unionByName(
            old.filter(F.col("s_suppkey") % 17 == 0).withColumn(
                "s_suppkey", F.col("s_suppkey") + 100000
            )
        )
    )
    d = snapshot_diff(old, new, ["s_suppkey"])
    return d.groupBy("change_type").agg(
        F.count("*").cast("long").alias("n_keys"),
        F.min("s_suppkey").cast("long").alias("min_key"),
        F.max("s_suppkey").cast("long").alias("max_key"),
    )


# --- robust outlier gate: median/MAD z-score --------------------------------

_MAD_K = 10  # flag |x - med| > K * MAD


@register(
    "price_mad_outliers",
    oracle=f"""
WITH cents AS (
    SELECT l_returnflag,
           CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS c
    FROM lineitem
),
med AS (
    SELECT l_returnflag, quantile_cont(c, 0.5) AS med_c
    FROM cents GROUP BY l_returnflag
),
dev AS (
    SELECT c.l_returnflag, c.c, m.med_c, ABS(c.c - m.med_c) AS ad
    FROM cents c JOIN med m ON c.l_returnflag = m.l_returnflag
),
mad AS (
    SELECT l_returnflag, quantile_cont(ad, 0.5) AS mad_c
    FROM dev GROUP BY l_returnflag
)
SELECT d.l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(FLOOR(MAX(d.med_c) + 0.5) AS BIGINT) AS median_cents,
       CAST(FLOOR(MAX(m.mad_c) + 0.5) AS BIGINT) AS mad_cents,
       CAST(SUM(CASE WHEN d.ad > {_MAD_K} * m.mad_c THEN 1 ELSE 0 END)
            AS BIGINT) AS n_outliers
FROM dev d JOIN mad m ON d.l_returnflag = m.l_returnflag
GROUP BY d.l_returnflag
""".strip(),
)
def q_price_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier gate per return flag: flag rows whose price sits
    more than {k}x the Median Absolute Deviation from the group
    median — the heavy-tail-safe sibling of winsorization (a handful
    of extreme rows cannot move the median or the MAD, where they drag
    a mean/stddev z-score arbitrarily). The training-data shape: gate
    documents/features on med±K·MAD before they poison normalization.

    Portability: prices quantize to integer CENTS via the canonical
    FLOOR recipe; both medians interpolate over integers ((1-f)a + fb,
    identical doubles both engines); the outlier test compares an
    exact integer deviation against K·MAD — one IEEE multiply each
    side. Output medians re-quantize by the same FLOOR(x+0.5) rule.

    Plan: two percentile aggregates over the 3-group key (group-keyed,
    map-side partials; never a global sort) with the 3-row med/MAD
    tables broadcast back onto the scan each pass; one final count
    agg. Three passes over one pruned column is the price of EXACT
    medians; at 100 TB both swap to approx_percentile, same shape."""
    li = _t(spark, sf_dir, "lineitem")
    cents_df = li.select(
        "l_returnflag", cents("l_extendedprice").alias("c")
    )
    med = cents_df.groupBy("l_returnflag").agg(
        F.expr("percentile(c, 0.5D)").alias("med_c")
    )
    dev = cents_df.join(F.broadcast(med), "l_returnflag").select(
        "l_returnflag", "c", "med_c",
        F.abs(F.col("c") - F.col("med_c")).alias("ad"),
    )
    mad = dev.groupBy("l_returnflag").agg(
        F.expr("percentile(ad, 0.5D)").alias("mad_c")
    )
    return (
        dev.join(F.broadcast(mad), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.expr("CAST(FLOOR(MAX(med_c) + 0.5) AS BIGINT)").alias(
                "median_cents"
            ),
            F.expr("CAST(FLOOR(MAX(mad_c) + 0.5) AS BIGINT)").alias(
                "mad_cents"
            ),
            F.expr(
                f"CAST(SUM(CASE WHEN ad > {_MAD_K} * mad_c"
                " THEN 1 ELSE 0 END) AS BIGINT)"
            ).alias("n_outliers"),
        )
    )


q_price_mad_outliers.__doc__ = q_price_mad_outliers.__doc__.format(k=_MAD_K)


# --- equi-depth (equal-frequency) binning -----------------------------------

_EDB_BINS = 8


@register(
    "price_equi_depth_bins",
    oracle=f"""
WITH cents AS (
    SELECT CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS c
    FROM lineitem
),
bounds AS (
    SELECT [{", ".join(
        f"quantile_cont(c, {i}.0 / {_EDB_BINS})" for i in range(1, _EDB_BINS)
    )}] AS bs
    FROM cents
),
binned AS (
    SELECT c, CAST(1 + len(list_filter(bs, b -> b <= c)) AS INTEGER) AS bin
    FROM cents CROSS JOIN bounds
)
SELECT bin,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       MIN(c) AS lo_cents,
       MAX(c) AS hi_cents
FROM binned GROUP BY bin
""".strip(),
)
def q_price_equi_depth_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH (equal-frequency) binning of prices into {n} buckets —
    the feature-bucketing primitive (quantile discretization before a
    model, or histogram equalization for skewed columns), where
    equi-WIDTH bins would put 90% of rows in one bucket on a heavy
    tail. Bin b = 1 + #(bounds <= x) over the {nm1} interior
    (k/{n})-quantiles.

    Portability: prices quantize to integer cents (canonical FLOOR
    recipe); the bounds interpolate over integers — identical doubles
    both engines — and bin assignment counts `bound <= x` comparisons
    against the SAME doubles, so every row lands in the same bin on
    both engines. Counts and integer min/max cross the hash boundary.

    Plan: one exact array-percentile aggregate (ONE sort buffer — the
    winsorized lesson), the 1-row bounds broadcast-crossJoined onto the
    scan (risk-bounds shape), bin assignment a pure projection
    (array filter + size), one bin-keyed agg. At 100 TB the bounds
    pass switches to approx_percentile; assignment and rollup are
    unchanged."""
    li = _t(spark, sf_dir, "lineitem")
    cents_df = li.select(cents("l_extendedprice").alias("c"))
    qs = ", ".join(
        f"{i}.0D / {_EDB_BINS}" for i in range(1, _EDB_BINS)
    )
    bounds = cents_df.agg(
        F.expr(f"percentile(c, array({qs}))").alias("bs")
    )
    binned = cents_df.crossJoin(F.broadcast(bounds)).select(
        "c",
        (
            F.lit(1)
            + F.size(F.filter("bs", lambda b: b <= F.col("c")))
        ).cast("int").alias("bin"),
    )
    return binned.groupBy("bin").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.min("c").alias("lo_cents"),
        F.max("c").alias("hi_cents"),
    )


q_price_equi_depth_bins.__doc__ = q_price_equi_depth_bins.__doc__.format(
    n=_EDB_BINS, nm1=_EDB_BINS - 1
)


# --- Benford first-digit audit ----------------------------------------------

# log10(1 + 1/d) to 12dp, inlined as identical literals in BOTH arms —
# computed once offline so neither engine's libm is in the loop.
_BENFORD_P = {
    1: "0.301029995664", 2: "0.176091259056", 3: "0.124938736608",
    4: "0.096910013008", 5: "0.079181246048", 6: "0.066946789631",
    7: "0.057991946978", 8: "0.051152522447", 9: "0.045757490561",
}
_BENFORD_CASE = "CASE digit " + " ".join(
    f"WHEN {d} THEN {p}" for d, p in _BENFORD_P.items()
) + " END"


@register(
    "totalprice_benford_audit",
    oracle=f"""
WITH cents AS (
    SELECT CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS c
    FROM orders WHERE o_totalprice > 0
),
digits AS (
    SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS INTEGER) AS digit
    FROM cents
),
counts AS (
    SELECT digit, COUNT(*) AS n_obs FROM digits GROUP BY digit
),
tot AS (SELECT SUM(n_obs) AS n FROM counts)
SELECT digit,
       CAST(n_obs AS BIGINT) AS n_obs,
       ROUND(CAST(n_obs AS DOUBLE) / n, 6) AS obs_freq,
       CAST(ROUND({_BENFORD_CASE}, 6) AS DOUBLE) AS benford_freq,
       ROUND((CAST(n_obs AS DOUBLE) - n * ({_BENFORD_CASE}))
             * (CAST(n_obs AS DOUBLE) - n * ({_BENFORD_CASE}))
             / (n * ({_BENFORD_CASE})), 6) AS chi2_term
FROM counts CROSS JOIN tot
""".strip(),
)
def q_totalprice_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order values — the classic
    forensic-accounting / data-quality screen (fabricated or
    unit-mangled money columns flunk the log-uniform first-digit
    distribution; Benford 1938, Nigrini '96 audit practice). Emits the
    per-digit observed count/frequency, the Benford expectation, and
    the chi-square term, whose sum the auditor compares to the 8-df
    critical value.

    Portability: the first digit comes from STRING math over integer
    cents (substr of the digits — no log10 and so no libm anywhere);
    the Benford expectations are 12dp literals computed offline and
    inlined IDENTICALLY in both arms; the chi-square terms are a fixed
    chain of IEEE multiply/divide over exact integers and those
    literals. `benford_freq` is rounded in DECIMAL domain (exact) then
    cast to DOUBLE at the output edge in BOTH arms — Spark's bare
    ROUND over decimal literals types as decimal(7,6) and renders
    "0.301030" where the driver's DuckDB fetch renders 0.30103: a
    hash drift with bit-identical values (the round-5 red).

    Plan: projection → 9-key hash agg (map-side combined) → 1-row
    total broadcast-crossJoined back — one fact scan, one tiny
    shuffle. A 100 TB audit is the identical plan."""
    o = _t(spark, sf_dir, "orders")
    cents_df = o.filter(F.col("o_totalprice") > 0).select(
        cents("o_totalprice").alias("c")
    )
    digits = cents_df.select(
        F.substring(F.col("c").cast("string"), 1, 1).cast("int").alias("digit")
    )
    counts = digits.groupBy("digit").agg(F.count("*").alias("n_obs"))
    tot = counts.agg(F.sum("n_obs").alias("n"))
    bf = _BENFORD_CASE
    return counts.crossJoin(F.broadcast(tot)).select(
        "digit",
        F.col("n_obs").cast("long").alias("n_obs"),
        F.expr("ROUND(CAST(n_obs AS DOUBLE) / n, 6)").alias("obs_freq"),
        F.expr(f"CAST(ROUND({bf}, 6) AS DOUBLE)").alias("benford_freq"),
        F.expr(
            f"ROUND((CAST(n_obs AS DOUBLE) - n * ({bf}))"
            f" * (CAST(n_obs AS DOUBLE) - n * ({bf}))"
            f" / (n * ({bf})), 6)"
        ).alias("chi2_term"),
    )


# --- monthly revenue trend decomposition (centered moving average) ----------


@register(
    "orders_monthly_ma_decomposition",
    oracle="""
WITH m AS (
    SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS month,
           COUNT(*) AS n_orders,
           SUM(CAST(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
               AS DECIMAL(38,0))) AS cents
    FROM orders GROUP BY 1
),
w AS (
    SELECT month, n_orders, cents,
           SUM(cents) OVER win AS wc,
           COUNT(*) OVER win AS wn
    FROM m
    WINDOW win AS (ORDER BY month ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING)
)
SELECT month,
       CAST(n_orders AS BIGINT) AS n_orders,
       ROUND(CAST(cents AS DOUBLE) / 100.0, 6) AS revenue,
       ROUND(CAST(wc AS DOUBLE) / (100.0 * wn), 6) AS trend_ma3,
       ROUND(CAST(cents AS DOUBLE) / 100.0
             - CAST(wc AS DOUBLE) / (100.0 * wn), 6) AS residual
FROM w
""".strip(),
)
def q_orders_monthly_ma_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series trend decomposition of monthly order revenue: the
    classical moving-average decomposition (value = trend + residual)
    with a CENTERED 3-month window — the no-transcendentals subset of
    seasonal decomposition (a multiplicative/STL variant needs
    logs/loess, which the cross-engine determinism contract bans).
    Residual spikes flag demand anomalies the way the MAD gate flags
    price outliers.

    Portability: monthly sums are exact DECIMAL cents (THE money
    recipe); the windowed trend is an exact (decimal sum, count) pair
    divided ONCE at the output edge, and the residual subtracts the
    same two doubles both engines derived from identical integers.
    Edge months average their 2-element window in both engines (ROWS
    framing, not RANGE).

    Plan: one fact scan → month-keyed hash agg (map-side combined) →
    a window over the ~month-count aggregate grain. The window is
    unpartitioned BY DESIGN at aggregate grain (3 years = 36 rows —
    driver-scale in any engine); the event-grain scan never sees a
    window."""
    from pyspark.sql.window import Window

    o = _t(spark, sf_dir, "orders")
    m = o.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("month")
    ).agg(
        F.count("*").alias("n_orders"),
        F.sum(cents("o_totalprice").cast("decimal(38,0)")).alias("cents"),
    )
    win = Window.orderBy("month").rowsBetween(-1, 1)
    w = m.select(
        "month",
        "n_orders",
        "cents",
        F.sum("cents").over(win).alias("wc"),
        F.count("*").over(win).alias("wn"),
    )
    rev = F.col("cents").cast("double") / 100.0
    trend = F.col("wc").cast("double") / (100.0 * F.col("wn"))
    return w.select(
        "month",
        F.col("n_orders").cast("long").alias("n_orders"),
        F.round(rev, 6).alias("revenue"),
        F.round(trend, 6).alias("trend_ma3"),
        F.round(rev - trend, 6).alias("residual"),
    )


# --- 2-D Pareto frontier (skyline) -------------------------------------------

from supplier_performance_data_pipeline_spark.functions.money import (  # noqa: E402
    revenue_e4_sql,
)


@register(
    "supplier_efficiency_frontier",
    oracle=f"""
WITH per_s AS (
    SELECT l.l_suppkey,
           SUM({revenue_e4_sql("l.l_extendedprice", "l.l_discount")}) AS e4,
           SUM(date_diff('day', o.o_orderdate, l.l_shipdate)) AS delay_days,
           COUNT(*) AS n
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    GROUP BY l.l_suppkey
),
scored AS (
    SELECT l_suppkey, e4,
           CAST(delay_days AS DOUBLE) / n AS avg_delay
    FROM per_s
),
by_rev AS (
    SELECT e4, MIN(avg_delay) AS min_delay
    FROM scored GROUP BY e4
),
fr AS (
    SELECT e4, min_delay,
           MIN(min_delay) OVER (ORDER BY e4 DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS m1,
           MIN(min_delay) OVER (ORDER BY e4 DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m2
    FROM by_rev
)
SELECT s.l_suppkey AS supplier_id,
       sup.s_name AS supplier_name,
       ROUND(CAST(s.e4 AS DOUBLE) / 10000, 2) AS revenue,
       ROUND(s.avg_delay, 6) AS avg_delay_days
FROM scored s
JOIN fr ON fr.e4 = s.e4
JOIN supplier sup ON sup.s_suppkey = s.l_suppkey
WHERE NOT (COALESCE(fr.m1 <= s.avg_delay, FALSE)
           OR fr.m2 < s.avg_delay)
""".strip(),
)
def q_supplier_efficiency_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D Pareto FRONTIER (skyline operator, Borzsony et al. ICDE '01):
    the suppliers not dominated on (revenue UP, average
    order-to-ship delay DOWN) — supplier s is dominated iff some
    s' has strictly more revenue with no worse delay, or no less
    revenue with strictly better delay. The sort-based skyline: group
    to DISTINCT revenue values first (so a ROWS frame expresses the
    'strictly greater revenue' prefix exactly — no RANGE-frame
    engine-semantics gamble), take the running MIN of delay over
    revenues above (m1, strict) and at-or-above (m2, peers), and keep
    rows neither min beats. Ties on both axes stay on the frontier.

    Determinism: revenue is the exact integer e4 money unit (the
    engine-wide FLOOR recipe) so window ORDER and the group-join key
    are integer-exact; delay is integer day-sums with ONE IEEE
    division per supplier; the dominance comparisons are double
    compares of identical values. Plan: fact scan -> supplier-grain
    hash agg; the skyline runs over DISTINCT revenue values (<=
    supplier count) in one window sort; supplier names broadcast-join
    at the edge. At 100 TB the window input is supplier-grain — tiny;
    the known skyline scale-out (grid prefilter per partition, then
    merge) is unnecessary below ~1e8 distinct keys and this plan
    degrades to exactly that shape if revenue is pre-bucketed."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    sup = _t(spark, sf_dir, "supplier")
    rev4 = revenue_e4("l_extendedprice", "l_discount")
    joined_li = li.join(
        orders.select("o_orderkey", "o_orderdate"),
        li["l_orderkey"] == F.col("o_orderkey"),
    )
    per_s = joined_li.groupBy("l_suppkey").agg(
        F.sum(rev4).alias("e4"),
        F.sum(
            F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
        ).alias("delay_days"),
        F.count("*").alias("n"),
    )
    scored = per_s.select(
        "l_suppkey",
        "e4",
        (F.col("delay_days").cast("double") / F.col("n")).alias("avg_delay"),
    )
    by_rev = scored.groupBy("e4").agg(F.min("avg_delay").alias("min_delay"))
    from pyspark.sql.window import Window

    from supplier_performance_data_pipeline_spark.operators.ranking import (
        quantile_blocks,
    )

    # Two-level parallel prefix for the running MIN (round 8): the
    # r7 verdict accepted the unpartitioned window here as borderline
    # (supplier grain), but the same blocks-offsets-partitioned-window
    # rewrite the ranking queries got applies verbatim to a prefix
    # aggregate, so nothing single-partition remains over the distinct-
    # revenue table either. e4 values are unique (post-groupBy), so the
    # desc order is total and the quantile blocks are monotone with it.
    blocked = quantile_blocks(by_rev, "e4", desc=True)
    w_prev = Window.orderBy("_blk").rowsBetween(
        Window.unboundedPreceding, -1
    )
    prev = (
        blocked.groupBy("_blk")
        .agg(F.min("min_delay").alias("_bm"))
        .select("_blk", F.min("_bm").over(w_prev).alias("_pm"))
    )
    w_strict = (
        Window.partitionBy("_blk")
        .orderBy(F.desc("e4"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_peer = (
        Window.partitionBy("_blk")
        .orderBy(F.desc("e4"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # least() skips NULLs (same contract the lateness histogram relies
    # on for greatest()), so the first block / first row need no
    # coalesce and m1 stays NULL exactly where the single-window form
    # left it NULL (the global frontier head).
    fr = (
        blocked.join(F.broadcast(prev), "_blk")
        .select(
            "e4",
            F.least(
                F.col("_pm"), F.min("min_delay").over(w_strict)
            ).alias("m1"),
            F.least(
                F.col("_pm"), F.min("min_delay").over(w_peer)
            ).alias("m2"),
        )
    )
    return (
        scored.join(fr, "e4")
        .join(F.broadcast(sup), scored["l_suppkey"] == sup["s_suppkey"])
        .filter(
            ~(
                F.coalesce(F.col("m1") <= F.col("avg_delay"), F.lit(False))
                | (F.col("m2") < F.col("avg_delay"))
            )
        )
        .select(
            F.col("l_suppkey").alias("supplier_id"),
            F.col("s_name").alias("supplier_name"),
            F.round(F.col("e4").cast("double") / F.lit(10000), 2).alias(
                "revenue"
            ),
            F.round("avg_delay", 6).alias("avg_delay_days"),
        )
    )


# --- ROLLUP / grouping-sets surface (subtotals + grand total) -----------------

from supplier_performance_data_pipeline_spark.functions.money import (  # noqa: E402
    revenue_e4_sql as _rev_e4_sql,
)


@register(
    "revenue_rollup_grouping_sets",
    oracle=f"""
WITH per AS (
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n_items,
           SUM({_rev_e4_sql("l_extendedprice", "l_discount")}) AS rev
    FROM lineitem GROUP BY 1, 2
)
SELECT COALESCE(l_returnflag, 'ALL') AS return_flag,
       COALESCE(l_linestatus, 'ALL') AS line_status,
       CAST(CAST(l_returnflag IS NULL AS INTEGER)
            + CAST(l_linestatus IS NULL AS INTEGER) AS INTEGER)
           AS grouping_level,
       CAST(SUM(n_items) AS BIGINT) AS n_items,
       CAST(SUM(rev) AS DOUBLE) / 10000 AS revenue
FROM per
GROUP BY ROLLUP (l_returnflag, l_linestatus)
""".strip(),
)
def q_revenue_rollup_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over (returnflag, linestatus): leaf cells, per-flag
    subtotals, and the grand total in ONE result — the grouping-sets
    operator family (Spark ``rollup``/``cube``/GROUPING SETS; the
    Expand-based plan), reported with an explicit ``grouping_level``
    so every row's grain is self-describing (0 = leaf, 1 = flag
    subtotal, 2 = grand total; NULL group keys surface as 'ALL').

    Scale shape: the rollup runs over the PRE-AGGREGATED leaf table
    (6 rows), not the fact table — Expand multiplies its input by the
    number of grouping sets, so expanding a 100 TB scan x3 is the
    wrong plan when the leaf grain is tiny and DECIMAL sums
    re-aggregate exactly (order-free). Money follows THE contract:
    integer e4 units summed in DECIMAL(38,0), one double division at
    the output edge; COUNT rolls up as a SUM of leaf counts
    (bit-identical by associativity of integer addition)."""
    li = _t(spark, sf_dir, "lineitem")
    rev4 = revenue_e4("l_extendedprice", "l_discount")
    per = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n_items"), F.sum(rev4).alias("rev")
    )
    rolled = per.rollup("l_returnflag", "l_linestatus").agg(
        F.sum("n_items").cast("long").alias("n_items"),
        F.sum("rev").alias("rev"),
    )
    level = (
        F.when(F.col("l_returnflag").isNull(), 1).otherwise(0)
        + F.when(F.col("l_linestatus").isNull(), 1).otherwise(0)
    ).cast("int")
    return rolled.select(
        F.coalesce("l_returnflag", F.lit("ALL")).alias("return_flag"),
        F.coalesce("l_linestatus", F.lit("ALL")).alias("line_status"),
        level.alias("grouping_level"),
        "n_items",
        (F.col("rev").cast("double") / F.lit(10000)).alias("revenue"),
    )


# --- Gini concentration of customer revenue (two-level rank prefix) -----------

from supplier_performance_data_pipeline_spark.functions.money import (  # noqa: E402
    cents_sql as _cents_sql,
)

_GINI_BLOCKS = 64


@register(
    "customer_revenue_gini",
    oracle=f"""
WITH x AS (
    SELECT c.c_custkey,
           COALESCE(SUM({_cents_sql("o.o_totalprice")}), 0) AS v
    FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey
),
r AS (
    SELECT v, ROW_NUMBER() OVER (ORDER BY v, c_custkey) AS i FROM x
),
s AS (
    SELECT COUNT(*) AS n,
           SUM(CAST(v AS DECIMAL(38,0))) AS t,
           SUM(CAST(i * v AS DECIMAL(38,0))) AS s
    FROM r
)
SELECT CAST(n AS BIGINT) AS n_customers,
       CAST(t AS DOUBLE) / 100 AS total_revenue,
       ROUND((2 * CAST(s AS DOUBLE) - (n + 1) * CAST(t AS DOUBLE))
             / (n * CAST(t AS DOUBLE)), 6) AS gini
FROM s WHERE t > 0
""".strip(),
)
def q_customer_revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-customer order revenue (zero-order
    customers included) — the revenue-concentration statistic next to
    the nation-level HHI: G = (2*SUM(rank*x) - (n+1)*SUM(x)) / (n*SUM(x))
    over ascending-sorted integer-cents revenues. Every term is exact
    until the single double division: x is THE cents recipe, rank*x is
    a BIGINT product (exact while rank*cents < 2^63 — rebucket first
    past ~1e9 customers x 1e9 cents), and both sums accumulate in
    DECIMAL(38,0). Ties in x are rank-order-invariant (equal values
    contribute i*x + j*x either way), so the (v, custkey) total order
    is for determinism of the plan, not the value.

    Plan: global ranks WITHOUT a global window — the KS/lateness
    two-level prefix: revenue-range blocks (monotone in v) carry
    cross-block row-count offsets through a {b}-row window, intra-block
    ranks are a block-partitioned row_number, and the three sufficient
    statistics reduce in one order-free agg. At 100 TB the customer
    table shuffles twice (block map, block window is dimension-sized) —
    never a SinglePartition sort of the grain."""
    from pyspark.sql.window import Window

    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    orders = _t(spark, sf_dir, "orders")
    v = (
        cust.join(
            orders, cust.c_custkey == orders.o_custkey, "left"
        )
        .groupBy("c_custkey")
        .agg(
            F.coalesce(F.sum(cents("o_totalprice")), F.lit(0)).alias("v")
        )
    )
    bounds = v.agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
    bv = v.crossJoin(F.broadcast(bounds)).select(
        "c_custkey",
        "v",
        F.coalesce(
            F.least(
                F.floor(
                    (F.col("v") - F.col("mn")).cast("double")
                    * _GINI_BLOCKS
                    / F.nullif(
                        (F.col("mx") - F.col("mn")).cast("double"),
                        F.lit(0.0),
                    )
                ),
                F.lit(_GINI_BLOCKS - 1),
            ).cast("int"),
            F.lit(0),
        ).alias("block"),
    )
    blocks = bv.groupBy("block").agg(F.count("*").alias("n_b"))
    wprev = Window.orderBy("block").rowsBetween(
        Window.unboundedPreceding, -1
    )
    prev = blocks.select(
        "block", F.coalesce(F.sum("n_b").over(wprev), F.lit(0)).alias("off")
    )
    wib = Window.partitionBy("block").orderBy("v", "c_custkey")
    r = bv.join(F.broadcast(prev), "block").select(
        "v", (F.col("off") + F.row_number().over(wib)).alias("i")
    )
    s = r.agg(
        F.count("*").alias("n"),
        F.sum(F.col("v").cast("decimal(38,0)")).alias("t"),
        F.sum((F.col("i") * F.col("v")).cast("decimal(38,0)")).alias("s"),
    )
    sd = F.col("s").cast("double")
    td = F.col("t").cast("double")
    return s.filter(F.col("t") > 0).select(
        F.col("n").cast("long").alias("n_customers"),
        (td / F.lit(100)).alias("total_revenue"),
        F.round(
            (F.lit(2) * sd - (F.col("n") + 1) * td) / (F.col("n") * td), 6
        ).alias("gini"),
    )


q_customer_revenue_gini.__doc__ = q_customer_revenue_gini.__doc__.format(
    b=_GINI_BLOCKS
)


# --- Theil-Sen robust monthly revenue trend -----------------------------------


@register(
    "orders_theil_sen_trend",
    oracle=f"""
WITH monthly AS (
    SELECT CAST(YEAR(CAST(l_shipdate AS DATE)) * 12
                + MONTH(CAST(l_shipdate AS DATE)) AS BIGINT) AS mi,
           SUM({_rev_e4_sql("l_extendedprice", "l_discount")}) AS rev
    FROM lineitem GROUP BY 1
),
slopes AS (
    SELECT CAST(b.rev - a.rev AS DOUBLE)
           / (10000.0 * (b.mi - a.mi)) AS slope
    FROM monthly a JOIN monthly b ON b.mi > a.mi
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM monthly) AS n_months,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       ROUND(quantile_cont(slope, 0.5), 6) AS median_slope
FROM slopes
""".strip(),
)
def q_orders_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend of monthly shipped revenue: the median of
    all pairwise month-over-month slopes — the outlier-resistant
    alternative to least-squares the seasonal/backtest family needs
    when single months spike (a one-month promo shifts an OLS fit but
    not the pairwise-slope median). Slopes are exact-integer
    differences (DECIMAL e4 revenue, integer month index year*12+month)
    with ONE double division each; the median is the shared exact
    interpolating percentile both engines implement identically.

    Plan: one fact shuffle down to the month grain, then the pair
    self-join and median run on a CALENDAR-BOUNDED table (~84 months of
    TPC-H dates — the month table cannot grow with data volume, so the
    O(months^2) pair set is a constant ~3.5k rows at ANY scale)."""
    li = _t(spark, sf_dir, "lineitem")
    d = F.col("l_shipdate").cast("date")
    monthly = li.groupBy(
        (F.year(d) * 12 + F.month(d)).cast("long").alias("mi")
    ).agg(F.sum(revenue_e4("l_extendedprice", "l_discount")).alias("rev"))
    a = monthly.select(F.col("mi").alias("mi_a"), F.col("rev").alias("rev_a"))
    b = monthly.select(F.col("mi").alias("mi_b"), F.col("rev").alias("rev_b"))
    slopes = a.join(b, F.col("mi_b") > F.col("mi_a")).select(
        (
            (F.col("rev_b") - F.col("rev_a")).cast("double")
            / (F.lit(10000.0) * (F.col("mi_b") - F.col("mi_a")))
        ).alias("slope")
    )
    n_months = monthly.agg(F.count("*").cast("long").alias("n_months"))
    return (
        slopes.agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.round(F.expr("percentile(slope, 0.5D)"), 6).alias(
                "median_slope"
            ),
        )
        .crossJoin(F.broadcast(n_months))
        .select("n_months", "n_pairs", "median_slope")
    )


# --- Poisson-bootstrap CI for mean order value ------------------------------

from supplier_performance_data_pipeline_spark.operators.dedup import (  # noqa: E402
    P61,
)

_BOOT_R = 100  # bootstrap replicates
_BOOT_SALT = "boot1|"
_BOOT_GRAIN = 10**12
# Poisson(1) CDF at 1e12 grain, GENERATED once from math.exp (the
# literal ints below are the shared cross-engine contract; the draw is
# k = #{i: h >= T_i} so P(k=0) = T_0/grain, P(k<=1) = T_1/grain, ...,
# capped at 8 where the residual mass is ~1e-5).
_BOOT_CDF = [
    367879441171, 735758882343, 919698602929, 981011843124,
    996340153173, 999405815182, 999916758851, 999989750803,
]
# nearest-rank CI bounds for R replicates: ceil(0.025*R), ceil(0.975*R)
_BOOT_LO_RANK = 3
_BOOT_HI_RANK = 98


def _boot_k_sql(h: str) -> str:
    return " + ".join(
        f"(CASE WHEN {h} >= {t} THEN 1 ELSE 0 END)" for t in _BOOT_CDF
    )


@register(
    "orders_poisson_bootstrap_ci",
    oracle=f"""
WITH reps AS (SELECT r FROM range(0, {_BOOT_R}) t(r)),
hp AS (
    SELECT md5(concat('{_BOOT_SALT}', o_orderkey)) AS m,
           {cents_sql("o_totalprice")} AS vc
    FROM orders
),
seeds AS (
    SELECT CAST(concat('0x', substr(m, 1, 14)) AS BIGINT) AS h1,
           CAST(concat('0x', substr(m, 15, 14)) AS BIGINT) AS h2,
           vc
    FROM hp
),
draws AS (
    SELECT r.r,
           {_boot_k_sql(f"(((h1 + r.r * h2) % {P61}) % {_BOOT_GRAIN})")}
               AS w,
           vc
    FROM seeds CROSS JOIN reps r
),
rep_means AS (
    SELECT r,
           ROUND(CAST(SUM(w * vc) AS DOUBLE)
                 / NULLIF(CAST(SUM(w) AS DOUBLE), 0.0) / 100, 6) AS m
    FROM draws GROUP BY r
),
ranked AS (
    SELECT m, ROW_NUMBER() OVER (ORDER BY m NULLS LAST, r) AS rk
    FROM rep_means
),
point AS (
    SELECT ROUND(CAST(SUM({cents_sql("o_totalprice")}) AS DOUBLE)
                 / COUNT(*) / 100, 6) AS point_mean
    FROM orders
)
SELECT CAST({_BOOT_R} AS BIGINT) AS n_replicates,
       point.point_mean,
       ROUND(CAST(SUM(CAST(m AS DECIMAL(18,6))) AS DOUBLE)
             / {_BOOT_R}, 6) AS boot_mean,
       MAX(CASE WHEN rk = {_BOOT_LO_RANK} THEN m END) AS ci_low,
       MAX(CASE WHEN rk = {_BOOT_HI_RANK} THEN m END) AS ci_high
FROM ranked CROSS JOIN point
GROUP BY point.point_mean
""".strip(),
)
def q_orders_poisson_bootstrap_ci(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Poisson bootstrap (Chamandy et al., Google '12) confidence
    interval for mean order value — the resampling pattern that works
    at 100 TB because it never materializes a resample: each of the
    {R} replicates weights every order by an independent Poisson(1)
    draw, so one scan computes ALL replicate sums as a (replicate x
    weighted-sum) agg, and the data never shuffles at fact grain more
    than once. Classic bootstrap (sample n WITH replacement per
    replicate) needs global coordination; the Poisson approximation
    doesn't, which is exactly why it's the distributed-systems
    standard.

    Determinism: the Poisson draw inverts the CDF at integer grain
    against PRECOMPUTED integer thresholds (shared literals in both
    arms), so both engines draw the identical weight for every
    (replicate, order). The per-replicate uniform comes from the SAME
    affine family MinHash uses — ONE md5 per order split into 56-bit
    halves (h1, h2), replicate r drawing (h1 + r*h2) mod P61 mod 1e12 —
    because an md5 per (order, replicate) made the hash 100x the query
    (14s at sf0.1; the family costs one digest plus integer ops and
    keeps the pairwise-independence the estimator needs). Replicate
    means are ONE double division of two exact integer sums (cents,
    weights), rounded to 6; the bootstrap mean is an exact DECIMAL sum
    of those rounded means; the CI bounds are nearest-rank order
    statistics (ranks {lo}/{hi} of {R}) picked by ROW_NUMBER with a
    replicate-id tie-break — never interpolated percentiles, whose
    conventions differ across engines.

    Plan: fact scan x {R}-way explode (map-side, no shuffle), one
    replicate-keyed agg ({R} groups), then the CI is a {R}-row sort.
    One md5 per ORDER (not per draw) is the dominant cost and it's
    embarrassingly parallel."""
    digest = F.md5(
        F.concat(F.lit(_BOOT_SALT), F.col("o_orderkey").cast("string"))
    )
    o = _t(spark, sf_dir, "orders").select(
        cents("o_totalprice").alias("vc"),
        F.conv(F.substring(digest, 1, 14), 16, 10)
        .cast("long")
        .alias("h1"),
        F.conv(F.substring(digest, 15, 14), 16, 10)
        .cast("long")
        .alias("h2"),
    )
    reps = F.explode(
        F.sequence(F.lit(0), F.lit(_BOOT_R - 1))
    ).alias("r")
    h = F.pmod(
        F.pmod(F.col("h1") + F.col("r") * F.col("h2"), F.lit(P61)),
        F.lit(_BOOT_GRAIN),
    )
    w = None
    for t in _BOOT_CDF:
        term = F.when(h >= t, 1).otherwise(0)
        w = term if w is None else w + term
    draws = o.select("vc", "h1", "h2", reps).select(
        "r", w.alias("w"), "vc"
    )
    rep_means = draws.groupBy("r").agg(
        F.round(
            F.sum(F.col("w") * F.col("vc")).cast("double")
            / F.nullif(F.sum("w").cast("double"), F.lit(0.0))
            / F.lit(100),
            6,
        ).alias("m")
    )
    from pyspark.sql.window import Window

    ranked = rep_means.select(
        "m",
        F.row_number()
        # NULLS LAST pinned in BOTH arms: an all-zero-weight replicate
        # (NULLIF -> NULL mean; P ~ e^-n, unreachable in practice)
        # would otherwise rank first in Spark and last in DuckDB,
        # shifting the nearest-rank CI bounds across engines.
        .over(Window.orderBy(F.asc_nulls_last("m"), F.asc("r")))
        .alias("rk"),
    )
    point = _t(spark, sf_dir, "orders").agg(
        F.round(
            F.sum(cents("o_totalprice")).cast("double")
            / F.count(F.lit(1))
            / F.lit(100),
            6,
        ).alias("point_mean")
    )
    return (
        ranked.crossJoin(F.broadcast(point))
        .groupBy("point_mean")
        .agg(
            F.lit(_BOOT_R).cast("long").alias("n_replicates"),
            F.round(
                F.sum(F.col("m").cast("decimal(18,6)")).cast("double")
                / F.lit(_BOOT_R),
                6,
            ).alias("boot_mean"),
            F.max(
                F.when(F.col("rk") == _BOOT_LO_RANK, F.col("m"))
            ).alias("ci_low"),
            F.max(
                F.when(F.col("rk") == _BOOT_HI_RANK, F.col("m"))
            ).alias("ci_high"),
        )
        .select(
            "n_replicates", "point_mean", "boot_mean", "ci_low", "ci_high"
        )
    )


q_orders_poisson_bootstrap_ci.__doc__ = (
    q_orders_poisson_bootstrap_ci.__doc__.format(
        R=_BOOT_R, lo=_BOOT_LO_RANK, hi=_BOOT_HI_RANK
    )
)


# --- closed-form OLS: extendedprice on quantity per return flag --------------


@register(
    "price_quantity_ols",
    oracle=f"""
WITH pts AS (
    SELECT l_returnflag,
           CAST(floor(l_quantity) AS BIGINT) AS x,
           {cents_sql("l_extendedprice")} AS y
    FROM lineitem
),
s AS (
    SELECT l_returnflag,
           COUNT(*) AS n,
           SUM(CAST(x AS DECIMAL(38,0))) AS sx,
           SUM(CAST(y AS DECIMAL(38,0))) AS sy,
           SUM(CAST(x * y AS DECIMAL(38,0))) AS sxy,
           SUM(CAST(x * x AS DECIMAL(38,0))) AS sxx,
           SUM(CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS syy
    FROM pts GROUP BY l_returnflag
),
d AS (
    SELECT l_returnflag, n,
           CAST(n * sxy - sx * sy AS DOUBLE) AS cov_n,
           CAST(n * sxx - sx * sx AS DOUBLE) AS varx_n,
           CAST(n * syy - sy * sy AS DOUBLE) AS vary_n,
           CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd
    FROM s
)
SELECT l_returnflag, CAST(n AS BIGINT) AS n_points,
       ROUND(cov_n / varx_n / 100, 6) AS slope_dollars_per_unit,
       ROUND((syd - cov_n / varx_n * sxd) / n / 100, 6)
           AS intercept_dollars,
       ROUND(cov_n * cov_n / (varx_n * vary_n), 6) AS r2
FROM d ORDER BY l_returnflag
""".strip(),
)
def q_price_quantity_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form simple OLS regression of line price on quantity per
    return flag — slope, intercept, and R² from the five sufficient
    moments (n, Σx, Σy, Σxy, Σx², Σy²), the single-pass formulation
    that scales to any data size because the moments are mergeable
    partial aggregates (one scan, one 3-group agg, map-side combined).
    The iterative sibling is ``orders_theil_sen_trend``; this is the
    parametric baseline every feature-importance sanity check starts
    from.

    Determinism: x (whole TPC-H quantities — FLOORed, because a bare
    BIGINT cast truncates in Spark but rounds in DuckDB on fractional
    input) and y (integer cents) are exact; all six moments accumulate in DECIMAL(38,0) — order-free —
    and the slope/intercept/R² combinations are a handful of double
    ops on those exact operands, rounded to 6 at the edge. The n*Σxy −
    ΣxΣy cross terms stay inside DECIMAL(38,0) (~1e25 at sf100); only
    R²'s square of that difference would overflow, so it's formed in
    double AFTER the exact subtraction."""
    li = _t(spark, sf_dir, "lineitem")
    pts = li.select(
        "l_returnflag",
        F.floor("l_quantity").cast("long").alias("x"),
        cents("l_extendedprice").alias("y"),
    )
    s = pts.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast("decimal(38,0)")).alias("sx"),
        F.sum(F.col("y").cast("decimal(38,0)")).alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(38,0)")).alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,0)")).alias("sxx"),
        F.sum(
            F.col("y").cast("decimal(38,0)") * F.col("y").cast("decimal(38,0)")
        ).alias("syy"),
    )
    d = s.select(
        "l_returnflag",
        "n",
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        .cast("double")
        .alias("cov_n"),
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        .cast("double")
        .alias("varx_n"),
        (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
        .cast("double")
        .alias("vary_n"),
        F.col("sx").cast("double").alias("sxd"),
        F.col("sy").cast("double").alias("syd"),
    )
    return d.select(
        "l_returnflag",
        F.col("n").cast("long").alias("n_points"),
        F.round(F.col("cov_n") / F.col("varx_n") / 100, 6).alias(
            "slope_dollars_per_unit"
        ),
        F.round(
            (F.col("syd") - F.col("cov_n") / F.col("varx_n") * F.col("sxd"))
            / F.col("n")
            / 100,
            6,
        ).alias("intercept_dollars"),
        F.round(
            F.col("cov_n") * F.col("cov_n")
            / (F.col("varx_n") * F.col("vary_n")),
            6,
        ).alias("r2"),
    ).orderBy("l_returnflag")


# --- Theil inequality index with between/within-nation decomposition ---------

_THEIL_TERM_SCALE = 12


@register(
    "customer_revenue_theil",
    oracle=f"""
WITH x AS (
    SELECT c.c_custkey, c.c_nationkey,
           COALESCE(SUM({cents_sql("o.o_totalprice")}), 0) AS v
    FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey, c.c_nationkey
),
g AS (SELECT COUNT(*) AS n, SUM(CAST(v AS DECIMAL(38,0))) AS t FROM x),
tot_terms AS (
    SELECT CASE WHEN v > 0 THEN
        CAST(ROUND((CAST(v AS DOUBLE) / (CAST(t AS DOUBLE) / n))
                   * LN(CAST(v AS DOUBLE) / (CAST(t AS DOUBLE) / n)),
                   {_THEIL_TERM_SCALE}) AS DECIMAL(28,12)) END AS term
    FROM x CROSS JOIN g
),
nat AS (
    SELECT c_nationkey, COUNT(*) AS ng,
           SUM(CAST(v AS DECIMAL(38,0))) AS tg
    FROM x GROUP BY c_nationkey
),
btw_terms AS (
    SELECT CASE WHEN tg > 0 THEN
        CAST(ROUND((CAST(tg AS DOUBLE) / CAST(t AS DOUBLE))
                   * LN((CAST(tg AS DOUBLE) / ng)
                        / (CAST(t AS DOUBLE) / n)),
                   {_THEIL_TERM_SCALE}) AS DECIMAL(28,12)) END AS term
    FROM nat CROSS JOIN g
),
within_grp AS (
    SELECT x.c_nationkey,
        CAST(ROUND(CASE WHEN v > 0 THEN
            (CAST(v AS DOUBLE) / (CAST(tg AS DOUBLE) / ng))
            * LN(CAST(v AS DOUBLE) / (CAST(tg AS DOUBLE) / ng))
            ELSE 0.0 END, {_THEIL_TERM_SCALE}) AS DECIMAL(28,12)) AS term,
        ng, tg
    FROM x JOIN nat ON x.c_nationkey = nat.c_nationkey
    WHERE tg > 0
),
theil_g AS (
    SELECT c_nationkey,
           ROUND(CAST(SUM(term) AS DOUBLE) / ANY_VALUE(ng),
                 {_THEIL_TERM_SCALE}) AS tg_theil,
           ANY_VALUE(tg) AS tg
    FROM within_grp GROUP BY c_nationkey
),
within AS (
    SELECT SUM(CAST(ROUND((CAST(tg AS DOUBLE) / CAST(t AS DOUBLE))
                          * tg_theil, {_THEIL_TERM_SCALE})
               AS DECIMAL(28,12))) AS w
    FROM theil_g CROSS JOIN g
)
SELECT CAST(n AS BIGINT) AS n_customers,
       ROUND(CAST((SELECT SUM(term) FROM tot_terms) AS DOUBLE) / n, 6)
           AS theil_total,
       ROUND(CAST((SELECT SUM(term) FROM btw_terms) AS DOUBLE), 6)
           AS theil_between,
       ROUND(CAST((SELECT w FROM within) AS DOUBLE), 6) AS theil_within
FROM g
""".strip(),
)
def q_customer_revenue_theil(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T inequality index of per-customer revenue WITH the
    between/within-nation decomposition — the property that makes Theil
    the inequality measure for segmented analysis (Gini doesn't
    decompose additively; the engine's ``customer_revenue_gini`` gives
    the headline number, this query explains WHERE the concentration
    lives: across nations or inside them).

    Determinism (the PSI/BM25 libm recipe): every LN term is computed
    on doubles derived from exact integer cents, ROUNDED to {S}dp, and
    summed as exact DECIMAL; group Theils round again before the
    share-weighted within-sum. Zero-revenue customers contribute the
    standard 0*ln(0) = 0 limit via CASE, never LN(0). Within-group
    means use each nation's exact (tg, ng) — no double accumulates
    across rows anywhere.

    Plan: one customer-grain agg (the only fact-scale shuffle — orders
    pre-aggregate map-side), then nation-grain (25 rows) and scalar
    CTEs, all broadcast. At 100 TB the customer table is the largest
    intermediate and it's already the grain the Gini/RFM family
    materializes."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    x = (
        c.select("c_custkey", "c_nationkey")
        .join(
            o.select(
                F.col("o_custkey").alias("c_custkey"),
                cents("o_totalprice").alias("vc"),
            ),
            "c_custkey",
            "left",
        )
        .groupBy("c_custkey", "c_nationkey")
        .agg(F.coalesce(F.sum("vc"), F.lit(0)).alias("v"))
    )
    g = x.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("v").cast("decimal(38,0)")).alias("t"),
    )
    xd = x.crossJoin(F.broadcast(g))
    mu = F.col("t").cast("double") / F.col("n")
    ratio = F.col("v").cast("double") / mu
    tot = xd.select(
        F.when(
            F.col("v") > 0,
            F.round(ratio * F.log(ratio), _THEIL_TERM_SCALE).cast(
                "decimal(28,12)"
            ),
        ).alias("term")
    ).agg(F.sum("term").alias("tsum"))
    nat = x.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("ng"),
        F.sum(F.col("v").cast("decimal(38,0)")).alias("tg"),
    )
    natd = nat.crossJoin(F.broadcast(g))
    share = F.col("tg").cast("double") / F.col("t").cast("double")
    mug = F.col("tg").cast("double") / F.col("ng")
    btw = natd.select(
        F.when(
            F.col("tg") > 0,
            F.round(
                share * F.log(mug / mu), _THEIL_TERM_SCALE
            ).cast("decimal(28,12)"),
        ).alias("term")
    ).agg(F.sum("term").alias("bsum"))
    wg = x.join(F.broadcast(nat), "c_nationkey").filter(F.col("tg") > 0)
    ratio_g = F.col("v").cast("double") / (
        F.col("tg").cast("double") / F.col("ng")
    )
    theil_g = (
        wg.select(
            "c_nationkey",
            "ng",
            "tg",
            F.round(
                F.when(F.col("v") > 0, ratio_g * F.log(ratio_g)).otherwise(
                    0.0
                ),
                _THEIL_TERM_SCALE,
            )
            .cast("decimal(28,12)")
            .alias("term"),
        )
        .groupBy("c_nationkey")
        .agg(
            F.round(
                F.sum("term").cast("double") / F.any_value("ng"),
                _THEIL_TERM_SCALE,
            ).alias("tg_theil"),
            F.any_value("tg").alias("tg"),
        )
    )
    within = (
        theil_g.crossJoin(F.broadcast(g))
        .select(
            F.round(
                (F.col("tg").cast("double") / F.col("t").cast("double"))
                * F.col("tg_theil"),
                _THEIL_TERM_SCALE,
            )
            .cast("decimal(28,12)")
            .alias("term")
        )
        .agg(F.sum("term").alias("wsum"))
    )
    return (
        g.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(btw))
        .crossJoin(F.broadcast(within))
        .select(
            F.col("n").cast("long").alias("n_customers"),
            F.round(F.col("tsum").cast("double") / F.col("n"), 6).alias(
                "theil_total"
            ),
            F.round(F.col("bsum").cast("double"), 6).alias("theil_between"),
            F.round(F.col("wsum").cast("double"), 6).alias("theil_within"),
        )
    )


q_customer_revenue_theil.__doc__ = q_customer_revenue_theil.__doc__.format(
    S=_THEIL_TERM_SCALE
)


# --- customer cohort LTV curve ------------------------------------------------


@register(
    "customer_cohort_ltv",
    oracle=f"""
WITH o AS (
    SELECT o_custkey,
           CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT)
               AS om,
           {cents_sql("o_totalprice")} AS vc
    FROM orders
),
firsts AS (
    SELECT o_custkey, MIN(om) AS cohort_m FROM o GROUP BY o_custkey
),
cohort_sizes AS (
    SELECT cohort_m, CAST(COUNT(*) AS BIGINT) AS n_cohort
    FROM firsts GROUP BY cohort_m
),
cells AS (
    SELECT f.cohort_m, o.om - f.cohort_m AS age_months,
           CAST(COUNT(DISTINCT o.o_custkey) AS BIGINT) AS n_active,
           SUM(o.vc) AS rev_c
    FROM o JOIN firsts f ON o.o_custkey = f.o_custkey
    GROUP BY f.cohort_m, o.om - f.cohort_m
),
cum AS (
    SELECT cohort_m, age_months, n_active, rev_c,
           SUM(rev_c) OVER (PARTITION BY cohort_m ORDER BY age_months
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_c
    FROM cells
)
SELECT make_date(CAST((cohort_m - 1) // 12 AS INTEGER),
                 CAST((cohort_m - 1) % 12 + 1 AS INTEGER), 1)
           AS cohort_month,
       CAST(age_months AS BIGINT) AS age_months,
       n_cohort AS n_cohort_customers,
       n_active,
       CAST(rev_c AS DOUBLE) / 100 AS revenue,
       ROUND(CAST(cum_c AS DOUBLE) / 100 / n_cohort, 6)
           AS cum_ltv_per_customer
FROM cum JOIN cohort_sizes USING (cohort_m)
""".strip(),
)
def q_customer_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curve: customers cohorted by first-order
    month, revenue accumulated by cohort age in months, normalized per
    cohort member — THE growth-analytics readout next to the events
    table's cohort retention (that one counts activity; this one
    follows the money and answers "how much is a customer acquired in
    month M worth after K months").

    Integer discipline: months are year*12+month integers (no date
    arithmetic conventions to drift), revenue accumulates as exact
    integer cents, and the per-customer normalization is one double
    division at the edge. The cumulative window partitions by cohort
    and runs over at most the calendar span in months.

    Plan: first-order table = one customer-grain agg; the cells agg is
    the only other fact-scale shuffle (cohort x age grain after an
    equi-join with the broadcastable firsts table — customer-grain,
    dimension-sized relative to orders). At 100 TB the firsts table is
    the thing to bucket or broadcast per AQE; nothing else grows."""
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
        .cast("long")
        .alias("om"),
        cents("o_totalprice").alias("vc"),
    )
    firsts = o.groupBy("o_custkey").agg(F.min("om").alias("cohort_m"))
    sizes = firsts.groupBy("cohort_m").agg(
        F.count(F.lit(1)).cast("long").alias("n_cohort")
    )
    cells = (
        o.join(firsts, "o_custkey")
        .groupBy(
            "cohort_m", (F.col("om") - F.col("cohort_m")).alias("age_months")
        )
        .agg(
            F.count_distinct("o_custkey").cast("long").alias("n_active"),
            F.sum("vc").alias("rev_c"),
        )
    )
    from pyspark.sql.window import Window

    wcum = Window.partitionBy("cohort_m").orderBy("age_months").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = cells.withColumn("cum_c", F.sum("rev_c").over(wcum))
    return cum.join(sizes, "cohort_m").select(
        F.make_date(
            ((F.col("cohort_m") - 1) / 12).cast("int"),
            (F.pmod(F.col("cohort_m") - 1, F.lit(12)) + 1).cast("int"),
            F.lit(1),
        ).alias("cohort_month"),
        F.col("age_months").cast("long").alias("age_months"),
        F.col("n_cohort").alias("n_cohort_customers"),
        "n_active",
        (F.col("rev_c").cast("double") / F.lit(100)).alias("revenue"),
        F.round(
            F.col("cum_c").cast("double") / F.lit(100) / F.col("n_cohort"),
            6,
        ).alias("cum_ltv_per_customer"),
    )


# --- entity resolution end-to-end: fuzzy pairs -> clusters -> survivors ------

from supplier_performance_data_pipeline_spark.operators.graph import (  # noqa: E402
    connected_components,
)

# Unrolled oracle rounds: the Spark arm (connected_components) always
# iterates to the exact fixed point; the oracle must unroll AT LEAST as many
# alternating rounds as convergence takes. 6 full iterations (12
# half-rounds) has slack over the <=40-node per-nation blocks here —
# extra rounds past the fixed point are no-ops in both engines.
_ER_ORACLE_ITERS = 6

_ER_PAIRS_SQL = """
SELECT a.s_suppkey AS id_a, b.s_suppkey AS id_b
FROM supplier a JOIN supplier b
  ON a.s_nationkey = b.s_nationkey
 AND a.s_suppkey < b.s_suppkey
WHERE levenshtein(a.s_name, b.s_name) <= 2
""".strip()


def _er_cc_ctes(iters: int) -> list[str]:
    """Alternating large-star/small-star rounds over the fuzzy-match
    pairs — the same unroll as the dedup_components oracle
    (queries_text._cc_ctes), re-derived here over supplier ids."""
    ctes = [
        f"pairs0 AS MATERIALIZED ({_ER_PAIRS_SQL})",
        "verts AS MATERIALIZED (SELECT id_a AS v FROM pairs0 "
        "UNION SELECT id_b FROM pairs0)",
        "e_0 AS MATERIALIZED (SELECT DISTINCT GREATEST(id_a, id_b) AS src, "
        "LEAST(id_a, id_b) AS dst FROM pairs0 WHERE id_a <> id_b)",
    ]
    for t in range(2 * iters):
        cond = "s.dst > s.src" if t % 2 == 0 else "s.dst <= s.src"
        ctes.append(
            f"sym_{t} AS MATERIALIZED (SELECT src, dst FROM e_{t} "
            f"UNION SELECT dst, src FROM e_{t} "
            "UNION SELECT v, v FROM verts)"
        )
        ctes.append(
            f"mins_{t} AS MATERIALIZED (SELECT src, MIN(dst) AS m "
            f"FROM sym_{t} GROUP BY src)"
        )
        ctes.append(
            f"e_{t + 1} AS MATERIALIZED "
            f"(SELECT DISTINCT s.dst AS src, mi.m AS dst "
            f"FROM sym_{t} s JOIN mins_{t} mi ON s.src = mi.src "
            f"WHERE {cond} AND s.dst <> mi.m)"
        )
    ctes.append(
        f"mn AS (SELECT src, MIN(dst) AS m FROM e_{2 * iters} "
        "GROUP BY src)"
    )
    return ctes


_ER_CTES_SQL = ",\n".join(_er_cc_ctes(_ER_ORACLE_ITERS))


@register(
    "supplier_entity_resolution",
    oracle=f"""
WITH {_ER_CTES_SQL},
comp AS (
    SELECT verts.v AS s_suppkey, COALESCE(mn.m, verts.v) AS cluster_id
    FROM verts LEFT JOIN mn ON verts.v = mn.src
),
clusters AS (
    SELECT cluster_id,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           MIN(s_suppkey) AS survivor_key
    FROM comp GROUP BY cluster_id
)
SELECT c.cluster_id, c.n_members, c.survivor_key,
       s.s_name AS survivor_name,
       CAST(s.s_nationkey AS BIGINT) AS s_nationkey
FROM clusters c JOIN supplier s ON c.survivor_key = s.s_suppkey
WHERE c.n_members >= 2
""".strip(),
)
def q_supplier_entity_resolution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """End-to-end entity resolution — the MDM composite that chains the
    engine's ER primitives the way a dedup service runs them: BLOCK
    (nation key bounds the candidate quadratic), MATCH (exact
    levenshtein <= 2 inside blocks — ``supplier_name_fuzzy_matches``),
    CLUSTER (transitive closure via the alternating large/small-star
    connected components the doc-dedup stack uses), SURVIVE (min-key
    canonical record per cluster, the same survivor rule as
    ``dedup_canonical_selection``). Output: every multi-member cluster
    with its size and surviving golden record.

    The Spark arm iterates CC to the exact fixed point; the oracle
    unrolls {iters} alternating iterations — strictly more than
    convergence needs on nation-bounded blocks — and rounds past the
    fixed point are no-ops in both engines, so the match is exact by
    construction, not by luck. All-integer rounds; no floats anywhere.

    Plan at scale: the block self-join is the only quadratic (bounded
    per block), CC rounds shuffle edge-sized tables with lineage cut
    per round, and the survivor join is dimension-sized. Swap the
    nation block for a sorted-neighborhood or phonetic key at higher
    cardinality — the composite shape is unchanged."""
    sup = _t(spark, sf_dir, "supplier")
    a = sup.select(
        F.col("s_suppkey").alias("id_a"),
        F.col("s_name").alias("name_a"),
        F.col("s_nationkey").alias("nk"),
    )
    b = sup.select(
        F.col("s_suppkey").alias("id_b"),
        F.col("s_name").alias("name_b"),
        F.col("s_nationkey").alias("nk"),
    )
    pairs = (
        a.join(b, "nk")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(F.levenshtein(F.col("name_a"), F.col("name_b")) <= 2)
        .select("id_a", "id_b")
        .localCheckpoint()
    )
    comp = connected_components(pairs, a_col="id_a", b_col="id_b")
    clusters = (
        comp.groupBy("component")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.min("id").alias("survivor_key"),
        )
        .filter(F.col("n_members") >= 2)
        .withColumnRenamed("component", "cluster_id")
    )
    return clusters.join(
        F.broadcast(
            sup.select(
                F.col("s_suppkey").alias("survivor_key"),
                F.col("s_name").alias("survivor_name"),
                F.col("s_nationkey").cast("long").alias("s_nationkey"),
            )
        ),
        "survivor_key",
    ).select(
        "cluster_id",
        "n_members",
        "survivor_key",
        "survivor_name",
        "s_nationkey",
    )


q_supplier_entity_resolution.__doc__ = (
    q_supplier_entity_resolution.__doc__.format(iters=_ER_ORACLE_ITERS)
)


# --- weekday seasonality chi-square -------------------------------------------


@register(
    "orders_weekday_chi2",
    oracle="""
WITH dow AS (
    SELECT CAST(dayofweek(CAST(o_orderdate AS DATE)) AS BIGINT) AS dw
    FROM orders
),
counts AS (
    SELECT dw, CAST(COUNT(*) AS BIGINT) AS n FROM dow GROUP BY dw
),
tot AS (SELECT SUM(n) AS t, COUNT(*) AS k FROM counts)
SELECT CAST(t AS BIGINT) AS n_orders,
       CAST(k AS BIGINT) AS n_cells,
       ROUND(CAST(SUM(CAST(ROUND(
           (n - CAST(t AS DOUBLE) / k) * (n - CAST(t AS DOUBLE) / k)
           / (CAST(t AS DOUBLE) / k), 6) AS DECIMAL(28,6))) AS DOUBLE), 6)
           AS chi2_uniform
FROM counts CROSS JOIN tot
GROUP BY t, k
""".strip(),
)
def q_orders_weekday_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square goodness-of-fit of order volume against a uniform
    weekday distribution — the seasonality-detection primitive (is
    there day-of-week structure worth modeling?) and the categorical
    sibling of the Benford first-digit audit, sharing its recipe:
    integer cell counts, per-cell chi-square terms ROUNDED to 6dp
    before an exact DECIMAL sum, one row out. The two engines do NOT
    agree on dayofweek numbering (Spark: 1=Sunday..7=Saturday; DuckDB:
    0=Sunday..6=Saturday) — the query is safe anyway because dw is
    grouped away and chi2/n_cells are label-invariant; if a per-weekday
    output ever exposes dw, normalize it explicitly in both arms.

    Plan: one scan, one 7-cell agg (map-side combined), broadcast
    1-row total — nothing grows with data."""
    o = _t(spark, sf_dir, "orders")
    counts = o.select(
        F.dayofweek(F.col("o_orderdate").cast("date")).cast("long").alias("dw")
    ).groupBy("dw").agg(F.count(F.lit(1)).cast("long").alias("n"))
    tot = counts.agg(
        F.sum("n").alias("t"), F.count(F.lit(1)).alias("k")
    )
    exp_n = F.col("t").cast("double") / F.col("k")
    term = F.round(
        (F.col("n") - exp_n) * (F.col("n") - exp_n) / exp_n, 6
    ).cast("decimal(28,6)")
    return (
        counts.crossJoin(F.broadcast(tot))
        .groupBy("t", "k")
        .agg(F.round(F.sum(term).cast("double"), 6).alias("chi2_uniform"))
        .select(
            F.col("t").cast("long").alias("n_orders"),
            F.col("k").cast("long").alias("n_cells"),
            "chi2_uniform",
        )
    )
