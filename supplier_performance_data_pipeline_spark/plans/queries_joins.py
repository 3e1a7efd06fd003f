"""Join-heavy analytical shapes (engine extension; TPC-H Q7/Q9/Q13/
Q15/Q18/Q22 analogs adapted to the driver's testdata schema — no
partsupp/commitdate/phone columns, so the predicates use what exists).

Determinism contract (same as queries_analytics.py): money quantizes
per row through the portable FLOOR integer-unit recipe
(functions/money.py — never an engine-dependent DECIMAL cast), sums
run in DECIMAL(38,0) on both engines — exact, reduction-order-
independent — and one double division lands at the output edge;
comparisons that gate rows (max-equality, above-average) happen on
the exact integer/DECIMAL value or on a single deterministic double
division, never on a multi-step float reduction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from supplier_performance_data_pipeline_spark.functions.money import (
    cents,
    revenue_e4,
    revenue_e4_sql,
)
from supplier_performance_data_pipeline_spark.plans.registry import register
from supplier_performance_data_pipeline_spark.plans.tpch_domain import _t


def _spread_li(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem spread to cluster parallelism for graph-building
    queries whose first op is a distinct + self-join fan-out — the
    local fixture is one parquet split, so that fan-out otherwise runs
    single-threaded. spread_scan no-ops on a wide scan."""
    from supplier_performance_data_pipeline_spark.sources.readers import (
        spread_scan,
    )

    return spread_scan(_t(spark, sf_dir, "lineitem"), "l_orderkey")



def _revenue_cols():
    """Discounted revenue in exact integer 1e-4 dollars (the portable
    FLOOR cents×basis-points recipe from functions/money.py); callers
    report CAST(SUM(...) AS DOUBLE) / 10000 at the output edge."""
    return revenue_e4("l_extendedprice", "l_discount")


_REV_SQL = revenue_e4_sql("l_extendedprice", "l_discount")


# --- Q13 shape: customer order-count distribution ---------------------------


@register(
    "customer_order_distribution",
    oracle="""
WITH per_cust AS (
    SELECT c_custkey, COUNT(o_orderkey) AS n_orders
    FROM customer
    LEFT JOIN (
        SELECT o_orderkey, o_custkey FROM orders
        WHERE o_orderpriority <> '1-URGENT'
    ) o ON c_custkey = o_custkey
    GROUP BY c_custkey
)
SELECT n_orders, COUNT(*) AS n_customers
FROM per_cust GROUP BY n_orders
""".strip(),
)
def q_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-count distribution over ALL customers including zero-order
    ones (TPC-H Q13 shape): the outer join is what distinguishes this
    from a plain fact agg. Plan: pre-aggregate orders per custkey FIRST
    (map-side combine, one fact shuffle carrying one row per customer),
    LEFT join customer onto the compacted counts (custkey shuffle join;
    never join raw orders to customer), coalesce null→0, then the
    distribution agg runs over one row per customer and the second
    groupBy keys on the tiny n_orders domain. All-integer output."""
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    orders = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") != "1-URGENT")
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n_orders"))
    )
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .select(F.coalesce(F.col("n_orders"), F.lit(0)).alias("n_orders"))
    )
    return per_cust.groupBy("n_orders").agg(
        F.count("*").alias("n_customers")
    )


# --- Q18 shape: large-volume orders -----------------------------------------

_LARGE_ORDER_QTY = 300


@register(
    "large_order_customers",
    oracle=f"""
WITH big AS (
    SELECT l_orderkey,
           SUM(CAST(CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)
               AS DECIMAL(38,0))) AS total_qty
    FROM lineitem GROUP BY l_orderkey
    HAVING SUM(CAST(CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)
               AS DECIMAL(38,0))) > {_LARGE_ORDER_QTY} * 100
)
SELECT c_name, c_custkey, o_orderkey,
       CAST(o_orderdate AS DATE) AS o_orderdate,
       o_totalprice,
       CAST(total_qty AS DOUBLE) / 100 AS total_qty
FROM big
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey LIMIT 20
""".strip(),
)
def q_large_order_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders whose total quantity exceeds {qty} with their customers,
    top-20 by order value (TPC-H Q18 shape — the group-HAVING-join-back
    pattern). Plan: one fact shuffle aggregates quantity per orderkey
    with map-side combine, the HAVING filter shrinks the key list
    drastically, and AQE picks the join strategy for the surviving keys
    against orders/customer (at 100 TB the filtered list can exceed the
    broadcast threshold, so no hardcoded hint). DECIMAL quantity sum →
    exact HAVING cut; final order keyed on (o_totalprice, o_orderkey) —
    a deterministic total order."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(
            F.sum(cents("l_quantity").cast("decimal(38,0)")).alias("total_qty")
        )
        .filter(F.col("total_qty") > _LARGE_ORDER_QTY * 100)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("o_orderdate"),
            "o_totalprice",
            (F.col("total_qty").cast("double") / F.lit(100)).alias("total_qty"),
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(20)
    )


q_large_order_customers.__doc__ = q_large_order_customers.__doc__.format(
    qty=_LARGE_ORDER_QTY
)


# --- Q15 shape: top supplier(s) by windowed revenue -------------------------

_TOP_REV_START = "1996-01-01"
_TOP_REV_END = "1996-04-01"


@register(
    "top_revenue_suppliers",
    oracle=f"""
WITH rev AS (
    SELECT l_suppkey, SUM({_REV_SQL}) AS total_revenue
    FROM lineitem
    WHERE CAST(l_shipdate AS DATE) >= DATE '{_TOP_REV_START}'
      AND CAST(l_shipdate AS DATE) < DATE '{_TOP_REV_END}'
    GROUP BY l_suppkey
),
mx AS (SELECT MAX(total_revenue) AS max_revenue FROM rev)
SELECT s_suppkey, s_name,
       CAST(total_revenue AS DOUBLE) / 10000 AS total_revenue
FROM rev CROSS JOIN mx
JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = max_revenue
""".strip(),
)
def q_top_revenue_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier(s) with the maximum revenue over a 3-month ship window
    (TPC-H Q15 shape — the view + max-equality join). Plan: pushed date
    filter → one suppkey-keyed fact agg; the global max attaches as a
    broadcast 1-row cross join (the risk-bounds shape, never an empty
    window over all suppliers); the equality gate compares exact
    DECIMALs, so ties are real ties on both engines, not float luck;
    the surviving winner rows (usually one) broadcast into the supplier
    dim join rather than shuffling the dim."""
    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier")
    ship = F.col("l_shipdate").cast("date")
    rev = (
        li.filter(
            (ship >= F.lit(_TOP_REV_START).cast("date"))
            & (ship < F.lit(_TOP_REV_END).cast("date"))
        )
        .groupBy("l_suppkey")
        .agg(F.sum(_revenue_cols()).alias("total_revenue"))
    )
    mx = rev.agg(F.max("total_revenue").alias("max_revenue"))
    winners = rev.crossJoin(F.broadcast(mx)).filter(
        F.col("total_revenue") == F.col("max_revenue")
    )
    return (
        sup.join(F.broadcast(winners), sup.s_suppkey == winners.l_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            (F.col("total_revenue").cast("double") / F.lit(10000)).alias(
                "total_revenue"
            ),
        )
    )


# --- Q7 shape: bilateral trade volume between two nations -------------------

_TRADE_A = "NATION_1"
_TRADE_B = "NATION_2"


@register(
    "nation_pair_trade_volume",
    oracle=f"""
SELECT ns.n_name AS supp_nation,
       nc.n_name AS cust_nation,
       CAST(year(CAST(l_shipdate AS DATE)) AS INTEGER) AS ship_year,
       CAST(SUM({_REV_SQL}) AS DOUBLE) / 10000 AS volume
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ns ON s_nationkey = ns.n_nationkey
JOIN nation nc ON c_nationkey = nc.n_nationkey
WHERE (ns.n_name = '{_TRADE_A}' AND nc.n_name = '{_TRADE_B}')
   OR (ns.n_name = '{_TRADE_B}' AND nc.n_name = '{_TRADE_A}')
GROUP BY ns.n_name, nc.n_name, year(CAST(l_shipdate AS DATE))
""".strip(),
)
def q_nation_pair_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue shipped between two nations per year and direction
    (TPC-H Q7 shape). Plan: the nation pair filter is pushed into the
    supplier and customer SIDES before any fact join — each side
    shrinks ~2/N_nations, so the fact joins carry only qualifying rows;
    lineitem joins the filtered suppliers on suppkey, orders joins the
    filtered customers on custkey, and the two reduced streams meet on
    orderkey. The residual cross-direction disjunction evaluates on the
    joined row (both single-side implications already applied). Nation
    dims broadcast; everything else is AQE's choice."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    sup = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    pair = [_TRADE_A, _TRADE_B]
    supp_n = (
        sup.join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .filter(F.col("n_name").isin(pair))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust_n = (
        cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .filter(F.col("n_name").isin(pair))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    li_s = li.join(supp_n, li.l_suppkey == supp_n.s_suppkey)
    ord_c = orders.join(cust_n, orders.o_custkey == cust_n.c_custkey)
    joined = li_s.join(ord_c, li_s.l_orderkey == ord_c.o_orderkey).filter(
        (
            (F.col("supp_nation") == _TRADE_A)
            & (F.col("cust_nation") == _TRADE_B)
        )
        | (
            (F.col("supp_nation") == _TRADE_B)
            & (F.col("cust_nation") == _TRADE_A)
        )
    )
    return (
        joined.groupBy(
            "supp_nation",
            "cust_nation",
            F.year(F.col("l_shipdate").cast("date")).alias("ship_year"),
        )
        .agg((F.sum(_revenue_cols()).cast("double") / F.lit(10000)).alias("volume"))
    )


# --- Q9 shape: product-type revenue by supplier nation and year -------------

_PROFIT_PTYPE = "PROMO"


@register(
    "product_type_revenue_by_nation",
    oracle=f"""
SELECT n_name AS nation,
       CAST(year(CAST(o_orderdate AS DATE)) AS INTEGER) AS order_year,
       CAST(SUM({_REV_SQL}) AS DOUBLE) / 10000 AS revenue
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN orders ON l_orderkey = o_orderkey
WHERE p_type = '{_PROFIT_PTYPE}'
GROUP BY n_name, year(CAST(o_orderdate AS DATE))
""".strip(),
)
def q_product_type_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue from one product type by supplier nation and order year
    (TPC-H Q9 shape, the join-heaviest query in the registry: lineitem
    meets part, supplier, nation, and orders). Plan: the p_type
    equality filter pushes into the part scan, so the partkey join
    only keeps ~1/|types| of the fact; supplier joins on suppkey with
    nation broadcast onto it; orders joins on orderkey purely to
    supply the year. Three fact-keyed shuffles is the canonical floor
    for this shape — each is on a different key, so none can be
    reused; AQE broadcasts whichever build side collapses below the
    threshold after filtering."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(
        F.col("p_type") == _PROFIT_PTYPE
    ).select("p_partkey")
    sup = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    orders = _t(spark, sf_dir, "orders")
    sup_n = sup.join(
        F.broadcast(nat), sup.s_nationkey == nat.n_nationkey
    ).select("s_suppkey", F.col("n_name").alias("nation"))
    joined = (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(sup_n, li.l_suppkey == sup_n.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
    )
    return (
        joined.groupBy(
            "nation",
            F.year(F.col("o_orderdate").cast("date")).alias("order_year"),
        )
        .agg((F.sum(_revenue_cols()).cast("double") / F.lit(10000)).alias("revenue"))
    )


# --- Q22 shape: dormant high-balance customers ------------------------------

_DORMANT_CUTOFF = "1999-01-01"


@register(
    "dormant_high_value_customers",
    oracle=f"""
WITH bounds AS (
    SELECT CAST(SUM(CAST(CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT)
               AS DECIMAL(38,0))) AS DOUBLE) / 100
           / COUNT(*) AS avg_bal
    FROM customer WHERE c_acctbal > 0.0
),
dormant AS (
    SELECT c_custkey, c_nationkey, c_acctbal
    FROM customer CROSS JOIN bounds
    WHERE c_acctbal > avg_bal
      AND NOT EXISTS (
        SELECT 1 FROM orders
        WHERE o_custkey = c_custkey
          AND CAST(o_orderdate AS DATE) >= DATE '{_DORMANT_CUTOFF}'
      )
)
SELECT n_name AS nation,
       COUNT(*) AS n_customers,
       CAST(SUM(CAST(CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT)
                AS DECIMAL(38,0))) AS DOUBLE) / 100 AS total_balance
FROM dormant JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
""".strip(),
)
def q_dormant_high_value_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with above-average positive balance and no recent
    orders, rolled up by nation (TPC-H Q22 shape — scalar subquery +
    anti-join). Plan: the global average attaches as a broadcast 1-row
    cross join; its value is DECIMAL-sum / count — ONE double division
    on exactly-represented operands, so the above-average cut is
    deterministic across engines and partitionings (a naive double AVG
    is not). The anti-join runs against orders pre-filtered by the
    pushed date predicate, keyed on custkey; nation broadcasts onto
    the small survivor set."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    nat = _t(spark, sf_dir, "nation")
    bounds = cust.filter(F.col("c_acctbal") > 0.0).agg(
        (
            F.sum(cents("c_acctbal").cast("decimal(38,0)")).cast("double")
            / F.lit(100)
            / F.count("*")
        ).alias("avg_bal")
    )
    recent = orders.filter(
        F.col("o_orderdate").cast("date")
        >= F.lit(_DORMANT_CUTOFF).cast("date")
    ).select("o_custkey")
    dormant = (
        cust.crossJoin(F.broadcast(bounds))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, cust.c_custkey == recent.o_custkey, "left_anti")
    )
    return (
        dormant.join(F.broadcast(nat), dormant.c_nationkey == nat.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count("*").alias("n_customers"),
            (
                F.sum(cents("c_acctbal").cast("decimal(38,0)")).cast("double")
                / F.lit(100)
            ).alias("total_balance"),
        )
    )


# --- month-over-month revenue growth ----------------------------------------


@register(
    "monthly_revenue_growth",
    oracle=f"""
WITH monthly AS (
    SELECT CAST(date_trunc('month', CAST(l_shipdate AS DATE)) AS DATE)
               AS month_start,
           CAST(SUM({_REV_SQL}) AS DOUBLE) / 10000 AS revenue
    FROM lineitem
    GROUP BY date_trunc('month', CAST(l_shipdate AS DATE))
)
SELECT month_start,
       revenue,
       LAG(revenue) OVER (ORDER BY month_start) AS prev_revenue,
       ROUND((revenue - LAG(revenue) OVER (ORDER BY month_start))
             / LAG(revenue) OVER (ORDER BY month_start) * 100.0, 6)
           AS growth_pct
FROM monthly
""".strip(),
)
def q_monthly_revenue_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month shipped-revenue growth — the KPI-trend shape:
    aggregate FIRST (one fact shuffle down to one row per month), then
    lag/growth over the tiny result series. The unpartitioned window is
    deliberate and safe here: it sorts ~|months| rows, never raw facts
    — the general rule (never an empty-frame window over fact tables)
    doesn't apply to a post-aggregate series bounded by the calendar.
    Revenue sums are exact DECIMAL cast to double at the edge; the
    growth ratio is one double division of those exact values."""
    from pyspark.sql.window import Window

    li = _t(spark, sf_dir, "lineitem")
    monthly = (
        li.groupBy(
            F.trunc(F.col("l_shipdate").cast("date"), "month").alias(
                "month_start"
            )
        )
        .agg((F.sum(_revenue_cols()).cast("double") / F.lit(10000)).alias("revenue"))
    )
    w = Window.orderBy("month_start")
    prev = F.lag("revenue").over(w)
    return monthly.select(
        "month_start",
        "revenue",
        prev.alias("prev_revenue"),
        F.round((F.col("revenue") - prev) / prev * 100.0, 6).alias(
            "growth_pct"
        ),
    )


# --- Q21 shape: suppliers solely to blame for multi-supplier delays ---------

_BLAME_LATE_DAYS = 60
_BLAME_TOP = 10


@register(
    "order_delay_blame",
    oracle=f"""
WITH lo AS (
    SELECT l_orderkey, l_suppkey,
           CASE WHEN CAST(l_shipdate AS DATE)
                     > CAST(o_orderdate AS DATE) + INTERVAL {_BLAME_LATE_DAYS} DAY
                THEN 1 ELSE 0 END AS late
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
per_order AS (
    SELECT l_orderkey,
           COUNT(DISTINCT l_suppkey) AS n_supp,
           COUNT(DISTINCT CASE WHEN late = 1 THEN l_suppkey END) AS n_late_supp,
           MIN(CASE WHEN late = 1 THEN l_suppkey END) AS blamed
    FROM lo GROUP BY l_orderkey
)
SELECT s_name, COUNT(*) AS numwait
FROM per_order JOIN supplier ON blamed = s_suppkey
WHERE n_supp >= 2 AND n_late_supp = 1
GROUP BY s_name
ORDER BY numwait DESC, s_name LIMIT {_BLAME_TOP}
""".strip(),
)
def q_order_delay_blame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers SOLELY responsible for delaying multi-supplier orders
    (TPC-H Q21 shape — the exists/not-exists pair over co-suppliers).
    Instead of two correlated subqueries re-scanning lineitem, ONE
    order-keyed aggregate computes both quantifiers at once: distinct
    suppliers on the order (exists another supplier), distinct LATE
    suppliers (not exists another late one ⇔ exactly one), and — since
    the late supplier is then unique — MIN over the late suppkeys
    recovers the culprit in the same pass. One orderkey join + one
    orderkey agg + one tiny suppkey agg; the supplier dim joins the
    per-order survivors; top-10 is TakeOrdered. All-integer pipeline;
    the sort keys on (count, name) — a deterministic total order."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    sup = _t(spark, sf_dir, "supplier")
    late = F.when(
        F.col("l_shipdate").cast("date")
        > F.date_add(F.col("o_orderdate").cast("date"), _BLAME_LATE_DAYS),
        F.col("l_suppkey"),
    )
    per_order = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select("l_orderkey", "l_suppkey", late.alias("late_supp"))
        .groupBy("l_orderkey")
        .agg(
            F.count_distinct("l_suppkey").alias("n_supp"),
            F.count_distinct("late_supp").alias("n_late_supp"),
            F.min("late_supp").alias("blamed"),
        )
        .filter((F.col("n_supp") >= 2) & (F.col("n_late_supp") == 1))
    )
    return (
        per_order.join(F.broadcast(sup), per_order.blamed == sup.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(_BLAME_TOP)
    )


# --- market-basket part-pair affinity ---------------------------------------

_AFFINITY_TOP = 20


@register(
    "part_pair_affinity",
    oracle=f"""
WITH op AS (
    SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
n_orders AS (SELECT COUNT(DISTINCT l_orderkey) AS n FROM op),
marg AS (SELECT l_partkey, COUNT(*) AS n_part FROM op GROUP BY l_partkey),
pairs AS (
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
           COUNT(*) AS n_together
    FROM op a JOIN op b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY a.l_partkey, b.l_partkey
)
SELECT part_a, part_b, n_together,
       ROUND(CAST(n_together * n AS DOUBLE)
             / CAST(ma.n_part * mb.n_part AS DOUBLE), 6) AS lift
FROM pairs
CROSS JOIN n_orders
JOIN marg ma ON ma.l_partkey = part_a
JOIN marg mb ON mb.l_partkey = part_b
ORDER BY n_together DESC, part_a, part_b
LIMIT {_AFFINITY_TOP}
""".strip(),
)
def q_part_pair_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket affinity: part pairs co-ordered in the same order,
    ranked by support with lift against independence. The engine-side
    pattern behind "frequently bought together".

    Scale: the order×part table is deduplicated once (one shuffle) and
    materialized (localCheckpoint) because four subplans read it — the
    self-join's two sides, the per-part marginals, and the order count;
    recomputing the distinct per consumer would quadruple the fact
    scans. The pair generation is an equi-join on l_orderkey, so the
    fan-out is bounded by per-order line count (≤7 in TPC-H-shaped
    data), never all-pairs over parts. Marginals are part-dimension
    sized and broadcast; the order count attaches as a broadcast 1-row
    cross join. Support counts and both lift factors are exact BIGINTs;
    lift itself is ONE double division of exact operands (+ round 6) so
    ranking and values are engine- and partitioning-independent. The
    final top-k is a TakeOrderedAndProject with a total-order tie-break
    (support desc, part_a, part_b), not a global sort.
    """
    li = _t(spark, sf_dir, "lineitem")
    op = li.select("l_orderkey", "l_partkey").distinct().localCheckpoint()
    n_orders = op.agg(F.count_distinct("l_orderkey").alias("n"))
    marg = op.groupBy("l_partkey").agg(F.count("*").alias("n_part"))
    a = op.select(
        F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("part_a")
    )
    b = op.select(
        F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("part_b")
    )
    pairs = (
        a.join(b, "k")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count("*").alias("n_together"))
    )
    ma = F.broadcast(
        marg.select(
            F.col("l_partkey").alias("part_a"), F.col("n_part").alias("n_a")
        )
    )
    mb = F.broadcast(
        marg.select(
            F.col("l_partkey").alias("part_b"), F.col("n_part").alias("n_b")
        )
    )
    return (
        pairs.join(ma, "part_a")
        .join(mb, "part_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part_a",
            "part_b",
            "n_together",
            F.round(
                (F.col("n_together") * F.col("n")).cast("double")
                / (F.col("n_a") * F.col("n_b")).cast("double"),
                6,
            ).alias("lift"),
        )
        .orderBy(F.desc("n_together"), F.asc("part_a"), F.asc("part_b"))
        .limit(_AFFINITY_TOP)
    )


# --- revenue concentration by customer decile -------------------------------


@register(
    "revenue_decile_shares",
    oracle="""
WITH per_cust AS (
    SELECT o_custkey,
           SUM(CAST(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
               AS DECIMAL(38,0))) AS rev
    FROM orders GROUP BY o_custkey
),
tot AS (SELECT SUM(rev) AS total FROM per_cust),
deciles AS (
    SELECT o_custkey, rev,
           NTILE(10) OVER (ORDER BY rev DESC, o_custkey) AS decile
    FROM per_cust
)
SELECT decile,
       COUNT(*) AS n_customers,
       CAST(SUM(rev) AS DOUBLE) / 100 AS decile_revenue,
       ROUND(CAST(SUM(rev) AS DOUBLE) / CAST(total AS DOUBLE) * 100.0, 6)
           AS share_pct
FROM deciles CROSS JOIN tot
GROUP BY decile, total
""".strip(),
)
def q_revenue_decile_shares(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration: customers bucketed into spend deciles
    (ntile over the per-customer total), each decile's share of global
    revenue — the "top 10% of customers drive X% of revenue" curve.

    Scale: the expensive work (per-customer DECIMAL sum) is one
    fact-table shuffle. The decile assignment is NOT an unpartitioned
    NTILE window (a single-partition sort over the full customer
    dimension — billions of rows at 100 TB): the global rank comes from
    operators/ranking.py's two-level parallel prefix — approx_percentile
    blocks (cut placement only balances work; the rank is exact wherever
    the cuts land), per-block offsets over the ~64-row block table, an
    intra-block PARTITIONED row_number — and the decile is the closed-
    form SQL-standard NTILE split of (rank, total), so the oracle's
    plain NTILE stays bit-identical. Ties are broken (rev desc, custkey)
    so the rank is a total order and both engines bucket identically;
    sums stay DECIMAL until the output edge, and the share is one double
    division of exact operands.
    """
    orders = _t(spark, sf_dir, "orders")
    from supplier_performance_data_pipeline_spark.operators.ranking import (
        blocked_row_number,
        ntile_from_rank,
        quantile_blocks,
    )

    per_cust = orders.groupBy("o_custkey").agg(
        F.sum(cents("o_totalprice").cast("decimal(38,0)")).alias("rev")
    )
    # tot branches off per_cust, NOT the decile aggregate: the fact
    # shuffle is identical in both branches so runtime executes it once
    # (ReusedExchange); a total derived from the decile table would
    # instead duplicate the whole rank lineage in the plan.
    tot = per_cust.agg(F.sum("rev").alias("total"))
    ranked = blocked_row_number(
        quantile_blocks(per_cust, "rev", desc=True),
        [F.desc("rev"), F.asc("o_custkey")],
    )
    deciles = ranked.withColumn(
        "decile", ntile_from_rank(F.col("rn"), F.col("n_total"), 10)
    ).select("o_custkey", "rev", "decile")
    per_decile = deciles.groupBy("decile").agg(
        F.count("*").alias("n_customers"),
        F.sum("rev").alias("rev_sum"),
    )
    return (
        per_decile.crossJoin(F.broadcast(tot))
        .select(
            "decile",
            "n_customers",
            (F.col("rev_sum").cast("double") / F.lit(100)).alias(
                "decile_revenue"
            ),
            F.round(
                F.col("rev_sum").cast("double")
                / F.col("total").cast("double")
                * 100.0,
                6,
            ).alias("share_pct"),
        )
    )


# --- PageRank over the supplier co-supply graph -----------------------------

from supplier_performance_data_pipeline_spark.operators.graph import (  # noqa: E402
    PR_CONTRIB_SCALE,
    PR_DAMP,
    PR_ITERS,
    PR_RANK_SCALE,
    pagerank,
)

_PR_TOP = 20


def _pr_ctes(iters: int) -> list[str]:
    """PageRank iterations unrolled for DuckDB — the same rounded
    contributions / DECIMAL inbound sums / damped update as
    operators/graph.py::pagerank, so a float iterative algorithm
    hash-matches across engines. The damping literals are generated
    with repr() from the SAME Python constants the operator uses:
    1.0 - 0.85 is NOT the double 0.15, and a hand-written 0.15 here
    would diverge in the last ulp. AS MATERIALIZED for every CTE each
    round references more than once — the same lineage-branching cut
    the Spark side makes with localCheckpoint."""
    damp, rest = repr(PR_DAMP), repr(1.0 - PR_DAMP)
    ctes = [
        "op AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_suppkey "
        "FROM lineitem)",
        "e AS MATERIALIZED (SELECT DISTINCT a.l_suppkey AS u, "
        "b.l_suppkey AS v FROM op a JOIN op b "
        "ON a.l_orderkey = b.l_orderkey AND a.l_suppkey <> b.l_suppkey)",
        "deg AS MATERIALIZED (SELECT u, COUNT(*) AS deg FROM e GROUP BY u)",
        "nodes AS MATERIALIZED (SELECT DISTINCT u AS s FROM e)",
        "nn AS MATERIALIZED (SELECT COUNT(*) AS n FROM nodes)",
        "r_0 AS MATERIALIZED (SELECT s, 1.0 / n AS r "
        "FROM nodes CROSS JOIN nn)",
    ]
    for t in range(iters):
        ctes.append(
            f"c_{t} AS MATERIALIZED (SELECT e.v, "
            f"ROUND(r.r / deg.deg, {PR_CONTRIB_SCALE}) AS c "
            f"FROM e JOIN r_{t} r ON e.u = r.s JOIN deg ON e.u = deg.u)"
        )
        ctes.append(
            f"s_{t} AS MATERIALIZED (SELECT v, "
            "CAST(SUM(CAST(c AS DECIMAL(28,12))) AS DOUBLE) AS sm "
            f"FROM c_{t} GROUP BY v)"
        )
        ctes.append(
            f"r_{t + 1} AS MATERIALIZED (SELECT nodes.s, "
            f"ROUND({rest} / nn.n + {damp} * COALESCE(s_{t}.sm, 0.0), "
            f"{PR_RANK_SCALE}) AS r "
            f"FROM nodes LEFT JOIN s_{t} ON nodes.s = s_{t}.v "
            "CROSS JOIN nn)"
        )
    return ctes


@register(
    "supplier_pagerank",
    oracle=(
        "WITH "
        + ",\n".join(_pr_ctes(PR_ITERS))
        + f"""
SELECT s AS s_suppkey, ROUND(r, 6) AS pagerank
FROM r_{PR_ITERS} ORDER BY r DESC, s LIMIT {_PR_TOP}
"""
    ).strip(),
)
def q_supplier_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the supplier co-supply graph (suppliers
    sharing an order are linked): the top-20 most structurally central
    suppliers — the second iterative graph algorithm next to the
    dedup connected components, and the canonical "does the engine do
    fixed-point iteration at scale" probe.

    Graph build: the distinct order×supplier table self-joins on the
    order key — per-order bounded fan-out, never all-pairs over
    suppliers; the symmetric edge list guarantees out-degree >= 1
    (pagerank's no-dangling contract). Per iteration the NODE-sized
    rank/degree tables broadcast onto the edge scan; the only
    data-scale exchange is the inbound DECIMAL sum keyed by target.
    The top-k is TakeOrdered on the node table with a key tie-break."""
    # r13: spread the single-split local scan before the distinct +
    # self-join fan-out (spread_scan: no-op on a wide 100 TB scan).
    li = _spread_li(spark, sf_dir)
    op = li.select("l_orderkey", "l_suppkey").distinct()
    a = op.select(F.col("l_orderkey").alias("k"), F.col("l_suppkey").alias("u"))
    b = op.select(F.col("l_orderkey").alias("k"), F.col("l_suppkey").alias("v"))
    edges = (
        a.join(b, "k")
        .filter(F.col("u") != F.col("v"))
        .select("u", "v")
        .distinct()
    )
    ranks = pagerank(edges)
    return (
        ranks.orderBy(F.desc("r"), F.asc("s"))
        .limit(_PR_TOP)
        .select(
            F.col("s").alias("s_suppkey"),
            F.round("r", 6).alias("pagerank"),
        )
    )


# --- BFS reach from the hub supplier ----------------------------------------

from supplier_performance_data_pipeline_spark.operators.graph import (  # noqa: E402
    BFS_ROUNDS,
    bfs_distances,
)

_BFS_SOURCE = 1


def _bfs_ctes(rounds: int) -> list[str]:
    """BFS rounds unrolled for DuckDB — the same union + per-node MIN
    the operator runs; all-integer, so bit-identical at any round
    count. Edge CTEs shared with the PageRank oracle shape."""
    ctes = [
        "op AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_suppkey "
        "FROM lineitem)",
        "e AS MATERIALIZED (SELECT DISTINCT a.l_suppkey AS u, "
        "b.l_suppkey AS v FROM op a JOIN op b "
        "ON a.l_orderkey = b.l_orderkey AND a.l_suppkey <> b.l_suppkey)",
        f"d_0 AS MATERIALIZED (SELECT CAST({_BFS_SOURCE} AS BIGINT) AS node, "
        "0 AS dist)",
    ]
    for t in range(rounds):
        ctes.append(
            f"d_{t + 1} AS MATERIALIZED (SELECT node, MIN(dist) AS dist "
            f"FROM (SELECT node, dist FROM d_{t} "
            f"UNION ALL SELECT e.v, d.dist + 1 FROM e "
            f"JOIN d_{t} d ON e.u = d.node) x GROUP BY node)"
        )
    return ctes


@register(
    "supplier_bfs_reach",
    oracle=(
        "WITH "
        + ",\n".join(_bfs_ctes(BFS_ROUNDS))
        + f"""
SELECT dist, CAST(COUNT(*) AS BIGINT) AS n_suppliers
FROM d_{BFS_ROUNDS} GROUP BY dist
"""
    ).strip(),
)
def q_supplier_bfs_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source BFS reach: how many suppliers sit at each hop
    distance from the hub supplier in the co-supply graph — the
    blast-radius / network-proximity probe, and the third iterative
    graph algorithm beside connected components and PageRank (frontier
    expansion instead of edge rewriting or power iteration).

    All-integer rounds (union + per-node MIN), so the oracle unrolls
    the identical recurrence and matches bit-for-bit at any round
    count. The distance table is node-sized and broadcasts onto the
    edge scan each round; the only data-scale exchange per round is
    the min-agg, and lineage truncates round-by-round."""
    # r13: spread the single-split local scan before the distinct +
    # self-join fan-out (spread_scan: no-op on a wide 100 TB scan).
    li = _spread_li(spark, sf_dir)
    op = li.select("l_orderkey", "l_suppkey").distinct()
    a = op.select(F.col("l_orderkey").alias("k"), F.col("l_suppkey").alias("u"))
    b = op.select(F.col("l_orderkey").alias("k"), F.col("l_suppkey").alias("v"))
    edges = (
        a.join(b, "k")
        .filter(F.col("u") != F.col("v"))
        .select("u", "v")
        .distinct()
        .localCheckpoint()
    )
    dist = bfs_distances(edges, _BFS_SOURCE)
    return dist.groupBy("dist").agg(F.count("*").alias("n_suppliers"))


# --- triangle counting over the co-supply graph -----------------------------


_TRI_MIN_SHARED = 5  # strong-tie edge: pair co-supplied >= 5 orders.
# The raw co-supply graph saturates toward COMPLETE as orders accumulate
# (every supplier pair eventually shares some order: ~91% dense at
# sf0.1, where triangle count degenerates to ~C(n,3) and the closure
# join materializes 10^8 wedges). Thresholding on shared-order count is
# the domain-standard sparsifier (strong ties only) and the knob that
# keeps the graph sparse at ANY scale — raise it as order volume grows.


@register(
    "supplier_triangle_count",
    oracle=f"""
WITH op AS MATERIALIZED (
    SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
),
ce AS MATERIALIZED (
    SELECT a.l_suppkey AS x, b.l_suppkey AS y
    FROM op a JOIN op b
      ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
    GROUP BY 1, 2
    HAVING COUNT(*) >= {_TRI_MIN_SHARED}
),
deg AS MATERIALIZED (
    SELECT k, COUNT(*) AS d FROM (
        SELECT x AS k FROM ce UNION ALL SELECT y AS k FROM ce
    ) GROUP BY k
),
oriented AS MATERIALIZED (
    SELECT CASE WHEN (dx.d < dy.d) OR (dx.d = dy.d AND ce.x < ce.y)
                THEN ce.x ELSE ce.y END AS u,
           CASE WHEN (dx.d < dy.d) OR (dx.d = dy.d AND ce.x < ce.y)
                THEN ce.y ELSE ce.x END AS v
    FROM ce JOIN deg dx ON ce.x = dx.k JOIN deg dy ON ce.y = dy.k
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_nodes,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM ce) AS n_edges,
       (SELECT CAST(COUNT(*) AS BIGINT)
        FROM oriented e1
        JOIN oriented e2 ON e1.v = e2.u
        JOIN oriented e3 ON e3.u = e1.u AND e3.v = e2.v) AS n_triangles
""".strip(),
)
def q_supplier_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count of the STRONG-TIE co-supply graph — the
    graph-density / clustering probe beside the three iterative
    algorithms (CC, PageRank, BFS): how many supplier triples all
    pairwise share at least ``_TRI_MIN_SHARED`` orders.

    The threshold is load-bearing for scale: the RAW co-supply graph
    saturates toward complete as order volume grows (any two active
    suppliers eventually share an order), and triangle counting on a
    near-complete graph is the degenerate all-triples cube. The
    shared-order HAVING keeps edge density a policy knob instead of a
    function of data volume.

    Degree-oriented wedge counting (the MapReduce-era standard, cf.
    Suri & Vassilvitskii WWW '11): every undirected edge points from
    its LOWER-degree endpoint (id tie-break), which makes each
    triangle counted exactly once AND bounds every vertex's out-degree
    by O(sqrt(m)) — so the wedge equi-join fans out ~m^1.5 worst-case
    instead of sum-of-squares-of-degrees; a hub supplier on a billion
    orders contributes wedges only through its low-degree neighbors.
    All joins are equi-joins (wedge: e1.v = e2.u; closure: both
    endpoints); everything is integer-exact. Counting core:
    operators/graph.py::triangle_count (property-tested against brute
    force on adversarial random graphs)."""
    from supplier_performance_data_pipeline_spark.operators.graph import (
        triangle_count,
    )

    # r13: spread the single-split local scan before the distinct +
    # self-join fan-out (spread_scan: no-op on a wide 100 TB scan).
    li = _spread_li(spark, sf_dir)
    op = li.select("l_orderkey", "l_suppkey").distinct()
    a = op.select(F.col("l_orderkey").alias("k"), F.col("l_suppkey").alias("x"))
    b = op.select(F.col("l_orderkey").alias("k"), F.col("l_suppkey").alias("y"))
    ce = (
        a.join(b, "k")
        .filter(F.col("x") < F.col("y"))
        .groupBy("x", "y")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= _TRI_MIN_SHARED)
        .select("x", "y")
    )
    return triangle_count(ce)


# --- Q2 shape: per-part argmin supplier -------------------------------------


@register(
    "part_cheapest_supplier",
    oracle="""
WITH unit AS (
    SELECT l_partkey, l_suppkey,
           l_extendedprice / l_quantity AS unit_price
    FROM lineitem WHERE l_quantity > 0
),
w AS (
    SELECT l_partkey, l_suppkey, unit_price,
           MIN(unit_price) OVER (PARTITION BY l_partkey) AS best
    FROM unit
),
pick AS (
    SELECT l_partkey, MIN(l_suppkey) AS cheapest_suppkey,
           MIN(unit_price) AS best_unit_price
    FROM w WHERE unit_price = best
    GROUP BY l_partkey
)
SELECT p.p_partkey, p.p_brand, p.p_type,
       pick.cheapest_suppkey,
       FLOOR(pick.best_unit_price * 1e6) / 1e6 AS best_unit_price
FROM pick JOIN part p ON pick.l_partkey = p.p_partkey
""".strip(),
)
def q_part_cheapest_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part cheapest supplier — the TPC-H Q2 correlated-subquery
    shape ("supplier achieving the minimum cost") expressed the modern
    way: a window MIN over the part key instead of a correlated
    rescan, then the achievers filtered and reduced to the min-key
    supplier (deterministic tie-break). One fact shuffle keyed by
    part; the part dim broadcasts onto the result.

    Determinism across engines: the unit price is a SINGLE IEEE double
    division of identical parquet doubles (bit-identical both sides),
    MIN over identical bit patterns matches, and the achiever filter
    compares those same bits. The display value truncates at 6 dp via
    FLOOR (multiply, floor, divide — three IEEE-exact-identical steps);
    ROUND is avoided because price/qty quotients with power-of-two
    divisors produce EXACT half-way ties at any fixed scale, where
    Spark (half-up) and DuckDB (half-even) legitimately disagree."""
    from pyspark.sql.window import Window

    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    unit = li.filter(F.col("l_quantity") > 0).select(
        "l_partkey",
        "l_suppkey",
        (F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_price"),
    )
    w = Window.partitionBy("l_partkey")
    pick = (
        unit.withColumn("best", F.min("unit_price").over(w))
        .filter(F.col("unit_price") == F.col("best"))
        .groupBy("l_partkey")
        .agg(
            F.min("l_suppkey").alias("cheapest_suppkey"),
            F.min("unit_price").alias("best_unit_price"),
        )
    )
    return pick.join(
        F.broadcast(part), pick.l_partkey == part.p_partkey
    ).select(
        "p_partkey",
        "p_brand",
        "p_type",
        "cheapest_suppkey",
        (F.floor(F.col("best_unit_price") * 1e6) / 1e6).alias(
            "best_unit_price"
        ),
    )


# --- Q14 shape: promo revenue share per ship month --------------------------


@register(
    "promo_revenue_share",
    oracle=f"""
SELECT ship_month, promo_revenue, total_revenue,
       ROUND(100.0 * promo_revenue / total_revenue, 6) AS promo_share_pct
FROM (
    SELECT strftime(CAST(l_shipdate AS DATE), '%Y-%m') AS ship_month,
           CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                         THEN {_REV_SQL}
                         ELSE CAST(0 AS DECIMAL(38,0)) END)
                AS DOUBLE) / 10000 AS promo_revenue,
           CAST(SUM({_REV_SQL}) AS DOUBLE) / 10000 AS total_revenue
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY 1
) t
""".strip(),
)
def q_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 analog: monthly share of revenue from PROMO-type
    parts — the conditional-aggregate ratio shape (CASE inside SUM,
    one division per group at the output edge). Both sums are exact
    DECIMAL (order-free); the part dim broadcasts onto the fact scan;
    one month-keyed shuffle of map-side partials."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    rev = _revenue_cols()
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(
        F.lit(0).cast("decimal(38,0)")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy(F.date_format("l_shipdate", "yyyy-MM").alias("ship_month"))
        .agg(
            (F.sum(promo).cast("double") / F.lit(10000)).alias("promo_revenue"),
            (F.sum(rev).cast("double") / F.lit(10000)).alias("total_revenue"),
        )
        .select(
            "ship_month",
            "promo_revenue",
            "total_revenue",
            F.round(
                F.lit(100.0) * F.col("promo_revenue") / F.col("total_revenue"),
                6,
            ).alias("promo_share_pct"),
        )
    )


# --- dominance: suppliers owning >= half a part's volume --------------------


@register(
    "suppliers_of_heavy_parts",
    oracle="""
WITH ps AS (
    SELECT l_partkey, l_suppkey,
           SUM(CAST(CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)
               AS DECIMAL(38,0))) AS qty
    FROM lineitem GROUP BY l_partkey, l_suppkey
),
tot AS (
    SELECT l_partkey, l_suppkey, qty,
           SUM(qty) OVER (PARTITION BY l_partkey) AS part_qty
    FROM ps
),
dom AS (
    SELECT l_suppkey, COUNT(*) AS n_dominated_parts
    FROM tot WHERE qty * 8 >= part_qty
    GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name,
       CAST(d.n_dominated_parts AS BIGINT) AS n_dominated_parts
FROM dom d JOIN supplier s ON d.l_suppkey = s.s_suppkey
ORDER BY n_dominated_parts DESC, s.s_suppkey
LIMIT 20
""".strip(),
)
def q_suppliers_of_heavy_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supply-chain dominance: suppliers shipping at least an EIGHTH
    of a part's total volume (the major-supplier register; with ~20
    candidate suppliers per part a 1/8 share is 2-3x the uniform
    share), ranked by how many parts they dominate — TPC-H Q20's
    "excess availability" semi-join family, adapted to the
    no-partsupp schema. The threshold is the business knob; the test
    stays division-free at any value.

    The share test is division-free: ``8·qty_ps >= qty_part`` on exact
    DECIMAL sums — no float share, nothing order-dependent. Plan: one
    fact agg to (part, supplier) grain, a window SUM over the part key
    on that REDUCED table (never raw lineitem), an integer-exact
    filter, a supplier-keyed count, broadcast name join, TakeOrdered
    top-20."""
    from pyspark.sql.window import Window

    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier")
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(cents("l_quantity").cast("decimal(38,0)")).alias("qty")
    )
    w = Window.partitionBy("l_partkey")
    dom = (
        ps.withColumn("part_qty", F.sum("qty").over(w))
        .filter(F.col("qty") * 8 >= F.col("part_qty"))
        .groupBy("l_suppkey")
        .agg(F.count("*").alias("n_dominated_parts"))
    )
    return (
        dom.join(F.broadcast(sup), dom.l_suppkey == sup.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            F.col("n_dominated_parts").cast("long").alias("n_dominated_parts"),
        )
        .orderBy(F.desc("n_dominated_parts"), F.asc("s_suppkey"))
        .limit(20)
    )


# --- Q8 shape: nation market share per year ---------------------------------


@register(
    "nation_market_share_by_year",
    oracle=f"""
SELECT order_year, target_revenue, market_revenue,
       ROUND(100.0 * target_revenue / market_revenue, 6) AS mkt_share_pct
FROM (
    SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS order_year,
           CAST(SUM(CASE WHEN n2.n_name = 'NATION_7'
                         THEN {_REV_SQL}
                         ELSE CAST(0 AS DECIMAL(38,0)) END)
                AS DOUBLE) / 10000 AS target_revenue,
           CAST(SUM({_REV_SQL}) AS DOUBLE) / 10000 AS market_revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN part     ON l_partkey = p_partkey AND p_type = 'STANDARD'
    JOIN customer ON o_custkey = c_custkey
    JOIN nation n1 ON c_nationkey = n1.n_nationkey
    JOIN region   ON n1.n_regionkey = r_regionkey AND r_name = 'EUROPE'
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation n2 ON s_nationkey = n2.n_nationkey
    GROUP BY 1
) t
""".strip(),
)
def q_nation_market_share_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: NATION_7's share of the STANDARD-part market in
    EUROPE per order year — the national-market-share query, an 8-way
    join whose share is a conditional aggregate over the SAME joined
    rows (numerator is a CASE on the supplier's nation, denominator the
    whole market). Dims (part pre-filtered on type, supplier, both
    nation roles, region) broadcast onto the fact side, so the only
    shuffles are the two fact joins (lineitem⋈orders on orderkey,
    then ⋈customer on custkey) — the same two-exchange skeleton as the
    Q5 shape. Both sums are exact DECIMAL; ONE double division per
    output year."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    part = _t(spark, sf_dir, "part").filter(F.col("p_type") == "STANDARD")
    cust = _t(spark, sf_dir, "customer")
    sup = _t(spark, sf_dir, "supplier")
    nat_c = _t(spark, sf_dir, "nation").alias("n1")
    nat_s = _t(spark, sf_dir, "nation").alias("n2")
    reg = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    rev = _revenue_cols()
    target = F.when(F.col("n2.n_name") == "NATION_7", rev).otherwise(
        F.lit(0).cast("decimal(38,0)")
    )
    joined = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat_c), cust.c_nationkey == F.col("n1.n_nationkey"))
        .join(F.broadcast(reg), F.col("n1.n_regionkey") == reg.r_regionkey)
        .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat_s), sup.s_nationkey == F.col("n2.n_nationkey"))
    )
    return (
        joined.groupBy(F.year("o_orderdate").cast("int").alias("order_year"))
        .agg(
            (F.sum(target).cast("double") / F.lit(10000)).alias(
                "target_revenue"
            ),
            (F.sum(rev).cast("double") / F.lit(10000)).alias("market_revenue"),
        )
        .select(
            "order_year",
            "target_revenue",
            "market_revenue",
            F.round(
                F.lit(100.0)
                * F.col("target_revenue")
                / F.col("market_revenue"),
                6,
            ).alias("mkt_share_pct"),
        )
    )


# --- Q12 shape: priority mix by ship-delay bucket ---------------------------


@register(
    "ship_delay_priority_counts",
    oracle="""
SELECT CASE WHEN datediff('day', CAST(o_orderdate AS DATE),
                          CAST(l_shipdate AS DATE)) <= 30 THEN 'FAST'
            WHEN datediff('day', CAST(o_orderdate AS DATE),
                          CAST(l_shipdate AS DATE)) <= 90 THEN 'MEDIUM'
            ELSE 'SLOW' END AS delay_bucket,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1
""".strip(),
)
def q_ship_delay_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: line counts of high- vs low-priority orders per
    ship-delay bucket (the testdata has no l_shipmode, so the grouping
    dimension is the order→ship latency bucket — same join, same pair
    of complementary CASE counters). One fact-fact shuffle join on the
    order key, then a 3-group integer aggregate; the priority test is
    evaluated once per row with complementary counters so the two
    columns always sum to the bucket's line count."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    delay = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    bucket = (
        F.when(delay <= 30, "FAST").when(delay <= 90, "MEDIUM").otherwise("SLOW")
    )
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(bucket.alias("delay_bucket"))
        .agg(
            F.sum(F.when(is_high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(is_high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


# --- Q16 shape: supplier breadth per part segment ---------------------------


@register(
    "brand_type_supplier_counts",
    oracle="""
SELECT p_brand, p_type,
       CAST(CASE WHEN p_size <= 10 THEN 'S'
                 WHEN p_size <= 30 THEN 'M' ELSE 'L' END AS VARCHAR)
           AS size_class,
       COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem
JOIN part ON l_partkey = p_partkey AND p_brand <> 'Brand#1'
WHERE l_suppkey NOT IN (
    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
)
GROUP BY 1, 2, 3
""".strip(),
)
def q_brand_type_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: how many distinct suppliers serve each
    (brand, type, size-class) part segment, excluding one brand and a
    blocklist of suppliers (negative account balance standing in for
    Q16's complaint predicate; the no-partsupp schema observes supply
    from lineitem). The blocklist is a dim-sized broadcast LEFT ANTI
    join — never a NOT IN re-scan per row; the part dim broadcasts
    pre-filtered. One distinct-aggregate shuffle on the segment keys
    (Spark plans COUNT DISTINCT as a two-phase partial aggregate, so
    the (segment, suppkey) pairs are deduplicated map-side before the
    exchange)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_brand") != "Brand#1")
    bad = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    size_class = (
        F.when(F.col("p_size") <= 10, "S")
        .when(F.col("p_size") <= 30, "M")
        .otherwise("L")
    )
    return (
        li.join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(part), F.col("l_partkey") == part.p_partkey)
        .groupBy(
            "p_brand", "p_type", size_class.alias("size_class")
        )
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


# --- sweep-line: open-order backlog over time -------------------------------


@register(
    "orders_open_backlog_timeline",
    oracle="""
WITH oi AS (
    SELECT o_orderkey,
           CAST(o_orderdate AS DATE) AS sd,
           MAX(CAST(l_shipdate AS DATE)) AS ed
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    GROUP BY 1, 2
),
d AS (
    SELECT sd AS day, 1 AS delta FROM oi
    UNION ALL
    SELECT ed + 1, -1 FROM oi
),
g AS (SELECT day, SUM(delta) AS delta FROM d GROUP BY day)
SELECT day,
       CAST(SUM(delta) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
            AS BIGINT) AS n_open
FROM g
""".strip(),
)
def q_orders_open_backlog_timeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How many orders are in flight on any given day — the classic
    INTERVAL-OVERLAP COUNT, done as a sweep line: each order (interval
    [orderdate, last shipdate]) contributes +1 at its start and -1 the
    day after its end; the running sum of day-grouped deltas is the
    step function of concurrent intervals, emitted at its breakpoints
    (the value between breakpoints is the preceding row's — no
    day-per-interval densification). This is the shape that survives
    100 TB where the naive explode-each-interval-to-its-days plan is
    quadratic in interval length: one order-keyed aggregate (the only
    fact shuffle) reduces lineitem to per-order spans, the delta table
    is 2 rows per ORDER collapsing to <=2 rows per DAY, and the global
    running sum windows over the DAY-grain table — thousands of rows
    on one partition, not billions (a calendar is dimension-sized by
    construction)."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    oi = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderkey", F.col("o_orderdate").cast("date").alias("sd"))
        .agg(F.max(F.col("l_shipdate").cast("date")).alias("ed"))
    )
    # Both deltas from ONE pass: a UNION of two selects over oi would
    # duplicate the whole fact subtree (lazy plans re-derive it); the
    # 2-element generator expansion is a projection on a single pass.
    deltas = oi.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("sd").alias("day"), F.lit(1).alias("delta")
                ),
                F.struct(
                    F.date_add("ed", 1).alias("day"),
                    F.lit(-1).alias("delta"),
                ),
            )
        ).alias("d")
    ).select("d.day", "d.delta")
    g = deltas.groupBy("day").agg(F.sum("delta").alias("delta"))
    from pyspark.sql.window import Window

    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return g.select(
        "day", F.sum("delta").over(w).cast("long").alias("n_open")
    )


# --- HITS hubs & authorities over the customer->supplier purchase graph -----

from supplier_performance_data_pipeline_spark.operators.graph import (  # noqa: E402
    HITS_ITERS,
    HITS_SCALE,
    hits_scores,
)

_HITS_TOP = 20


def _hits_ctes(iters: int) -> list[str]:
    """HITS half-steps unrolled for DuckDB — the same rounded scores /
    exact DECIMAL sums / L1 normalization as operators/graph.py::
    hits_scores, so the float mutual-reinforcement loop hash-matches
    across engines. AS MATERIALIZED for every CTE referenced more than
    once — the lineage cut the Spark side makes with localCheckpoint."""
    ctes = [
        "e AS MATERIALIZED (SELECT DISTINCT o.o_custkey AS u, "
        "l.l_suppkey AS v FROM orders o "
        "JOIN lineitem l ON o.o_orderkey = l.l_orderkey)",
        "hubs AS MATERIALIZED (SELECT DISTINCT u FROM e)",
        "nh AS (SELECT COUNT(*) AS n FROM hubs)",
        f"h_0 AS MATERIALIZED (SELECT u, "
        f"ROUND(CAST(1.0 AS DOUBLE) / n, {HITS_SCALE}) AS h "
        "FROM hubs CROSS JOIN nh)",
    ]
    for t in range(iters):
        ctes.append(
            f"as_{t} AS MATERIALIZED (SELECT e.v, "
            "SUM(CAST(h.h AS DECIMAL(28,12))) AS sm "
            f"FROM e JOIN h_{t} h ON e.u = h.u GROUP BY e.v)"
        )
        ctes.append(f"at_{t} AS (SELECT SUM(sm) AS tot FROM as_{t})")
        ctes.append(
            f"a_{t} AS MATERIALIZED (SELECT v, "
            "ROUND(CAST(sm AS DOUBLE) / CAST(tot AS DOUBLE), "
            f"{HITS_SCALE}) AS a FROM as_{t} CROSS JOIN at_{t})"
        )
        ctes.append(
            f"hs_{t} AS MATERIALIZED (SELECT e.u, "
            "SUM(CAST(a.a AS DECIMAL(28,12))) AS sm "
            f"FROM e JOIN a_{t} a ON e.v = a.v GROUP BY e.u)"
        )
        ctes.append(f"ht_{t} AS (SELECT SUM(sm) AS tot FROM hs_{t})")
        ctes.append(
            f"h_{t + 1} AS MATERIALIZED (SELECT u, "
            "ROUND(CAST(sm AS DOUBLE) / CAST(tot AS DOUBLE), "
            f"{HITS_SCALE}) AS h FROM hs_{t} CROSS JOIN ht_{t})"
        )
    return ctes


@register(
    "supplier_hits_authority",
    oracle=(
        "WITH "
        + ",\n".join(_hits_ctes(HITS_ITERS))
        + f"""
SELECT v AS s_suppkey, ROUND(a, 6) AS authority
FROM a_{HITS_ITERS - 1} ORDER BY a DESC, v LIMIT {_HITS_TOP}
"""
    ).strip(),
)
def q_supplier_hits_authority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS authority scores (Kleinberg, JACM'99) over the bipartite
    customer->supplier purchase graph: which suppliers are endorsed by
    the customers who buy most broadly — the mutual-reinforcement
    centrality that complements PageRank's random-walk centrality
    (PageRank runs on the supplier co-supply projection; HITS runs on
    the RAW bipartite graph, so it never pays the quadratic projection
    join). Top-20 authorities after {iters} fixed iterations.

    The edge build is one orders x lineitem equi-join projected to the
    distinct (custkey, suppkey) pairs; per half-step the node-sized
    score table broadcasts onto the edge scan and the only data-scale
    exchange is the endpoint-keyed exact DECIMAL sum. L1 normalization
    = one scalar division per half-step (no sqrt, no libm divergence);
    every score carries 12dp, so the oracle's unrolled CTEs match
    bit-for-bit at any iteration count. At 100 TB: edges localCheckpoint
    once and score tables are node-sized (the broadcast's scale limit is
    in the operators/graph.py module docstring)."""
    o = _t(spark, sf_dir, "orders")
    # r13: spread before the join + distinct fan-out (no-op at scale).
    li = _spread_li(spark, sf_dir)
    edges = (
        o.select(F.col("o_orderkey").alias("k"), F.col("o_custkey").alias("u"))
        .join(li.select(F.col("l_orderkey").alias("k"),
                        F.col("l_suppkey").alias("v")), "k")
        .select("u", "v")
        .distinct()
    )
    auth, _hubs = hits_scores(edges)
    return (
        auth.orderBy(F.desc("a"), F.asc("v"))
        .limit(_HITS_TOP)
        .select(
            F.col("v").alias("s_suppkey"),
            F.round("a", 6).alias("authority"),
        )
    )


q_supplier_hits_authority.__doc__ = q_supplier_hits_authority.__doc__.format(
    iters=HITS_ITERS
)


# --- market-basket association: co-ordered part pairs (round-8) ---------------

_BASKET_MIN_PAIR = 3   # minimum co-occurrence count (support floor)
_BASKET_TOPK = 20


@register(
    "part_basket_lift",
    oracle=f"""
WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM op),
marg AS (SELECT l_partkey, COUNT(*) AS n_ord FROM op GROUP BY l_partkey),
pairs AS (
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
           COUNT(*) AS n_pair
    FROM op a JOIN op b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
),
scored AS (
    SELECT p.part_a, p.part_b,
           CAST(p.n_pair AS BIGINT) AS n_pair,
           CAST(ma.n_ord AS BIGINT) AS n_a,
           CAST(mb.n_ord AS BIGINT) AS n_b,
           CAST(n.n_orders AS BIGINT) AS n_orders,
           ROUND(CAST(p.n_pair AS DOUBLE) / ma.n_ord, 6) AS confidence_ab,
           ROUND(CAST(p.n_pair AS DOUBLE) * n.n_orders
                 / (CAST(ma.n_ord AS DOUBLE) * mb.n_ord), 6) AS lift
    FROM pairs p
    JOIN marg ma ON p.part_a = ma.l_partkey
    JOIN marg mb ON p.part_b = mb.l_partkey
    CROSS JOIN n
    WHERE p.n_pair >= {_BASKET_MIN_PAIR}
),
keyed AS (
    SELECT *,
           (n_pair * n_orders * 1000000) // (n_a * n_b) AS lift_key
    FROM scored
)
SELECT part_a, part_b, n_pair, n_a, n_b, confidence_ab, lift
FROM keyed
ORDER BY lift_key DESC, part_a, part_b LIMIT {_BASKET_TOPK}
""".strip(),
)
def q_part_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MARKET-BASKET association over co-ordered parts (support /
    confidence / lift — the Agrawal-Srikant a-priori readout at pair
    depth): which parts appear in the same order far more often than
    independence predicts. The procurement twin of retail basket
    analysis: high-lift pairs drive kitting, bundled sourcing, and
    co-forecasting.

    Semantics: basket = DISTINCT parts per order; support floor
    n_pair >= {mp}; confidence = P(b|a) with a < b canonical pair
    order; lift = n_pair * N / (n_a * n_b). Counts are exact integers;
    the two display ratios are single double divisions rounded to 6,
    but the top-{k} cut orders on an EXACT integer key — lift on a
    1e-6 grid via pure integer arithmetic,
    (n_pair * N * 1000000) div (n_a * n_b) — because the two engines'
    double ROUND can disagree in last-ulp cases and flip rows at the
    LIMIT boundary (ORACLES.md item 5). All terms nonnegative, so
    Spark's truncating ``div`` and DuckDB's floor ``//`` agree; the
    product fits int64 while n_pair * N < 2^63/1e6 ≈ 9.2e12 (ANSI mode
    overflows loudly in both engines past that — switch the key to
    DECIMAL(38,0) if baskets ever get there).

    Scale: the pair explosion is per-order (O(k^2) on basket size k —
    TPC-H baskets are ~4 lines), generated by an equi-join on
    l_orderkey, never all-pairs; the marginals join back on part keys
    (equi; broadcastable when the part dim is); the final cut is
    TakeOrderedAndProject over the pair-aggregate, never a global
    sort. Oracle authored per ORACLES.md."""
    li = _t(spark, sf_dir, "lineitem")
    op = li.select("l_orderkey", "l_partkey").distinct()
    n_orders = op.agg(
        F.countDistinct("l_orderkey").alias("n_orders")
    )
    marg = op.groupBy("l_partkey").agg(F.count("*").alias("n_ord"))
    a = op.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_a")
    )
    b = op.select(
        F.col("l_orderkey").alias("ok2"), F.col("l_partkey").alias("part_b")
    )
    pairs = (
        a.join(
            b,
            (F.col("ok") == F.col("ok2"))
            & (F.col("part_a") < F.col("part_b")),
        )
        .groupBy("part_a", "part_b")
        .agg(F.count("*").alias("n_pair"))
        .filter(F.col("n_pair") >= _BASKET_MIN_PAIR)
    )
    ma = marg.select(
        F.col("l_partkey").alias("part_a"), F.col("n_ord").alias("n_a")
    )
    mb = marg.select(
        F.col("l_partkey").alias("part_b"), F.col("n_ord").alias("n_b")
    )
    scored = (
        pairs.join(ma, "part_a")
        .join(mb, "part_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part_a",
            "part_b",
            F.col("n_pair").cast("long").alias("n_pair"),
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.round(
                F.col("n_pair").cast("double") / F.col("n_a"), 6
            ).alias("confidence_ab"),
            F.round(
                F.col("n_pair").cast("double") * F.col("n_orders")
                / (F.col("n_a").cast("double") * F.col("n_b")),
                6,
            ).alias("lift"),
            F.expr(
                "(n_pair * n_orders * 1000000L) div (n_a * n_b)"
            ).alias("_lift_key"),
        )
    )
    return (
        scored.orderBy(
            F.desc("_lift_key"), F.asc("part_a"), F.asc("part_b")
        )
        .limit(_BASKET_TOPK)
        .drop("_lift_key")
    )


q_part_basket_lift.__doc__ = q_part_basket_lift.__doc__.format(
    mp=_BASKET_MIN_PAIR, k=_BASKET_TOPK
)
