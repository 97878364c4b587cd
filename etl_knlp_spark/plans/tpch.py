"""TPC-H-style showcase analytics (adapted to the driver's star schema).

The reference's only query is a 3-table left join (dag-knlp.py:65-80);
this module proves the engine on every harder shape an analytics user
actually runs — ALL 22 TPC-H query shapes are adapted to this schema
(q1-q22; partsupp-dependent ones substitute lineitem as the
part↔supplier bridge and p_retailprice-derived cost), with Catalyst
choosing join order/strategy and AQE re-planning at runtime. Each
docstring names the shape's scale-critical plan property; the load-
bearing ones are pinned in tests/test_plans.py.

Determinism note (round 11): every money aggregate accumulates in
EXACT integer units (`_rev_u` and friends — cents / 1e-4 / 1e-6 per
the addends' decimal granularity), because ROUND(SUM(double), 2) is
layout-dependent: the float sum's last ulp varies with partition
combine order, and a group landing on a half-cent boundary flips a
cent between layouts (caught live by tools/determinism_probe.py on
q9). Integer sums are associative — same total under ANY layout, any
join strategy, and both engines. Ratios divide the exact integer
units (identical IEEE doubles on both engines). Orderings rank on
the exact values with a unique key tiebreak.

Accumulator width (round-11 review hardening): per-group BIGINT unit
sums overflow 9.2e18 once a group's row count times its per-row unit
value crosses that bar — a 1e-4-unit revenue sum over a whole-table
group does so near sf~2e4, inside the 100 TB posture (sf~1e5).
Policy: groups whose row count GROWS with the corpus (the global /
per-year / per-nation shapes — q1, q5–q9, q11's total, q14, q17,
q19, groupby_agg, conditional_agg) accumulate via `_sum_u_dec`:
DECIMAL(38,0) unit sums (1e38 headroom; DuckDB mirrors with its
native HUGEINT sum), cast to DOUBLE once at the end. Groups keyed by
an entity whose per-key activity is bounded by construction
(per-order q3, per-customer q10, per-supplier q15, per-nation
account balances q22) keep plain BIGINT sums — their headroom
analysis lives in each docstring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import query


def _rev_u():
    """Per-row revenue in EXACT 1e-4 dollar units (BIGINT).

    l_extendedprice and l_discount are 2-decimal, so ep*(1-d) is an
    exact 4-decimal value; the double product lands within ~1e-9 of
    that integer multiple of 1e-4 and FLOOR(x + 0.5) recovers it
    exactly — no half boundary exists at the row level, and floor is
    a native double op (Spark's ROUND(double) routes through per-row
    BigDecimal: the A/B measured it 1.8x slower on groupby_agg). Summing the BIGINT units is
    associative, so group totals are independent of partition layout
    and combine order. This replaces ROUND(SUM(double), 2), which the
    round-11 layout-perturbation probe (tools/determinism_probe.py)
    caught flipping a cent whenever a group's float sum landed on a
    half-cent boundary under a different combine order — a ~1%/group
    event on 4-decimal addends. BIGINT headroom: ~9.2e18 units ≈
    $9.2e14 per group. The same q11/q22 integer-unit recipe,
    generalized to the whole batch-analytics family."""
    return F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000 + 0.5
    ).cast("bigint")


def _sum_u_dec(u, divisor: float):
    """SUM of integer money units with DECIMAL(38,0) accumulation,
    scaled back to dollars as a DOUBLE.

    For groups whose row count grows with the corpus (global sums,
    per-year, per-nation), BIGINT unit sums cross 9.2e18 inside the
    100 TB posture; DECIMAL(38,0) raises the ceiling to 1e38 (~1e19×
    margin) while staying exact and associative. DuckDB needs no
    mirror change — its SUM(BIGINT) already accumulates in HUGEINT
    (1.7e38); its oracle-side cast is `CAST(SUM(...) AS DOUBLE)`,
    matching the single decimal→double rounding here (both engines
    round the same exact integer to the nearest IEEE double, then
    divide by the same power of ten — bit-identical results; below
    2^53 units the double is the integer exactly)."""
    return F.sum(u.cast("decimal(38,0)")).cast("double") / F.lit(divisor)


@query(
    "q3_shipping_priority",
    oracle="""
    SELECT l.l_orderkey,
           CAST(SUM(CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount) * 10000 + 0.5) AS BIGINT)) AS BIGINT) / 10000.0 AS revenue,
           CAST(o.o_orderdate AS DATE) AS order_date
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-01-01'
      AND l.l_shipdate  > TIMESTAMP '1998-01-01'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue DESC, l.l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: segment-filtered 3-way join → per-order revenue
    → top-10. Filters push into all three scans; TakeOrderedAndProject
    caps the result without a global sort.

    r15 optimization (guide §3.1): the join tree is FACT-LEFT-DEEP —
    lineitem is the streamed side of every join, orders/customer are
    the build sides. The previous dim-first tree ((c⋈o)⋈li) made the
    filtered FACT table the build-right side, so the local plan
    broadcast lineitem (the biggest input) while streaming the dims;
    at scale the equivalent hazard is shuffling the fact table into
    the dim chain's partitioning twice. Inner joins commute: results
    identical (same oracle hash)."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, c.c_custkey == o.o_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg((F.sum(_rev_u()) / F.lit(10000.0)).alias("revenue"))
        .select(
            "l_orderkey", "revenue", F.col("o_orderdate").cast("date").alias("order_date")
        )
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


@query(
    "q5_nation_volume",
    oracle="""
    SELECT n.n_name,
           CAST(SUM(CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount) * 10000 + 0.5) AS BIGINT)) AS DOUBLE) / 10000.0 AS revenue
    FROM region r
    JOIN nation n   ON n.n_regionkey = r.r_regionkey
    JOIN supplier s ON s.s_nationkey = n.n_nationkey
    JOIN lineitem l ON l.l_suppkey = s.s_suppkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey AND c.c_nationkey = s.s_nationkey
    WHERE r.r_name = 'ASIA'
    GROUP BY n.n_name
    """,
)
def q5_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join (region→nation→supplier→lineitem→
    orders→customer) with a local-supplier condition (customer and
    supplier share a nation).

    r15 optimization (guide §3.1): the bounded dim chain
    (region⋈nation⋈supplier, ≤|supplier| rows after the ASIA filter)
    pre-joins into ONE build side and the FACT table streams through
    every join. The previous dim-first left-deep tree accumulated the
    dims on the streamed side, so each fact/dim join built its hash
    relation over the BIGGER input — the local plan broadcast
    lineitem, orders AND customer (5 broadcast builds, the largest
    over the fact table itself).

    r16 optimization (guide §3.1, r15 verdict #1): the join ORDER
    alone did not control the BUILD side — the 4-column-pruned
    lineitem estimate fit under the session's 32 MB
    autoBroadcastJoinThreshold, so the planner still picked the fact
    table as the (BuildLeft) broadcast side of the li⋈dims join. An
    explicit F.broadcast(dims) pins the bounded dim chain as the
    build side at every SF. Size argument: dims projects to
    (s_suppkey, s_nationkey, n_name) ≈ 20 bytes/row over the
    region-filtered supplier set (1/5 of suppliers) — ~4 bytes/row of
    that per SF unit, orders of magnitude under the broadcast cap at
    any SF where a single-exchange plan is sane, versus the unbounded
    fact table it replaces. orders/customer stay planner-chosen:
    locally they broadcast; at real SFs their estimates exceed the
    threshold and AQE plans shuffle joins with the fact stream.
    Inner joins commute: results identical (same oracle hash)."""
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = load_table(spark, sf_dir, "nation")
    s = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    dims = s.join(
        n.join(r, n.n_regionkey == r.r_regionkey),
        s.s_nationkey == n.n_nationkey,
    )
    return (
        li.join(F.broadcast(dims), li.l_suppkey == dims.s_suppkey)
        .join(o, o.o_orderkey == li.l_orderkey)
        .join(c, (c.c_custkey == o.o_custkey) & (c.c_nationkey == s.s_nationkey))
        .groupBy("n_name")
        .agg(_sum_u_dec(_rev_u(), 10000.0).alias("revenue"))
    )


@query(
    "q10_returned_items",
    oracle="""
    SELECT c.c_custkey, c.c_name,
           CAST(SUM(CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount) * 10000 + 0.5) AS BIGINT)) AS BIGINT) / 10000.0 AS revenue,
           n.n_name
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returned-item revenue per customer, top-20.
    The returnflag filter pushes into the lineitem scan (reads a
    fraction of the fact table); nation broadcast-decorates at the end.

    r15 optimization (guide §3.1): fact-left-deep join tree — the
    filtered lineitem streams, orders/customer/nation are build
    sides. The previous dim-first tree ((c⋈o)⋈li) made the filtered
    fact table the build-right side (broadcast locally, the wrong
    side to materialize at any scale). Inner joins commute: results
    identical (same oracle hash)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, c.c_custkey == o.o_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg((F.sum(_rev_u()) / F.lit(10000.0)).alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "n_name")
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@query(
    "q6_forecast_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(FLOOR(l_extendedprice * l_discount * 10000 + 0.5) AS BIGINT)) AS DOUBLE) / 10000.0 AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan-filter-aggregate with every predicate
    pushed to the parquet scan (date range + two numeric ranges reach
    PushedFilters, so row groups outside them never decompress) and a
    two-value global aggregate — the cheapest possible full-table
    plan, and the canonical test that pushdown actually works. Revenue
    accumulates in exact 1e-4 integer units (ep*d is an exact
    4-decimal value per row) — layout-independent (r11 recipe)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            _sum_u_dec(
                F.floor(
                    F.col("l_extendedprice") * F.col("l_discount") * 10000 + 0.5
                ).cast("bigint"),
                10000.0,
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "q18_large_orders",
    oracle="""
    WITH big AS (
      SELECT l_orderkey
      FROM lineitem GROUP BY l_orderkey
      HAVING SUM(l_quantity) > 150
    )
    SELECT c.c_name, o.o_custkey, o.o_orderkey,
           CAST(o.o_orderdate AS TIMESTAMP)        AS o_orderdate,
           ROUND(o.o_totalprice, 2)                AS o_totalprice,
           CAST(SUM(l.l_quantity) AS BIGINT)       AS total_qty
    FROM orders o
    JOIN big ON o.o_orderkey = big.l_orderkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1, 2, 3, 4, 5
    """,
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume customers): a grouped HAVING
    pre-aggregate of the fact table feeds back as a semi-filter on
    itself before the customer join. The scale property: the big-order
    key set partial-aggregates map-side and is TINY (orders over the
    quantity cap are rare), so AQE broadcasts it and the fact table is
    filtered BEFORE the wide join — the anti-pattern this replaces
    joins first and filters last. total_qty is an exact integer-valued
    sum cast to BIGINT."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("tq"))
        .filter(F.col("tq") > 150)
        .select(F.col("l_orderkey").alias("big_orderkey"))
    )
    return (
        orders.join(big, orders.o_orderkey == big.big_orderkey)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy(
            "c_name",
            "o_custkey",
            "o_orderkey",
            "o_orderdate",
            F.round("o_totalprice", 2).alias("o_totalprice"),
        )
        .agg(F.sum("l_quantity").cast("bigint").alias("total_qty"))
    )


@query(
    "q4_priority_check",
    oracle="""
    SELECT o.o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
    GROUP BY o.o_orderpriority
    ORDER BY o.o_orderpriority
    """,
)
def q4_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (order-priority check): correlated EXISTS over
    the fact table → per-priority counts. The schema here has no
    l_commitdate/l_receiptdate, so "late" is shipdate > orderdate + 60
    days — same correlated-predicate shape. Spark plans the EXISTS as
    a left-semi hash join on o_orderkey with the date comparison as a
    residual condition; the orders date filter pushes to the scan, so
    the probe side is one year of orders, not the table. Counts are
    exact integers — no rounding needed."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    late = o.join(
        li,
        (li.l_orderkey == o.o_orderkey)
        & (li.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


@query(
    "q7_nation_trade",
    oracle="""
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           EXTRACT(YEAR FROM l.l_shipdate)::BIGINT AS l_year,
           CAST(SUM(CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount) * 10000 + 0.5) AS BIGINT)) AS DOUBLE) / 10000.0 AS revenue
    FROM supplier s
    JOIN lineitem l ON s.s_suppkey = l.l_suppkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation sn  ON s.s_nationkey = sn.n_nationkey
    JOIN nation cn  ON c.c_nationkey = cn.n_nationkey
    WHERE ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
        OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
      AND l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY 1, 2, 3
    ORDER BY 1, 2, 3
    """,
)
def q7_nation_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape (volume shipping): bidirectional two-nation
    trade flow by ship year. The same dim table (nation) joins twice
    under different roles — supplier side and customer side — and the
    disjunctive nation-pair predicate can only be evaluated after
    both are attached. Both nation joins broadcast (25 rows); the
    only real shuffle at scale is lineitem⋈orders. The date range
    pushes to the lineitem scan."""
    s = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    sn = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cn = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2") | (
        F.col("supp_nation") == "NATION_2"
    ) & (F.col("cust_nation") == "NATION_1")
    return (
        s.join(li, s.s_suppkey == li.l_suppkey)
        .join(o, o.o_orderkey == li.l_orderkey)
        .join(c, c.c_custkey == o.o_custkey)
        .join(sn, F.col("s_nationkey") == F.col("sn_key"))
        .join(cn, F.col("c_nationkey") == F.col("cn_key"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("bigint").alias("l_year"),
        )
        .agg(_sum_u_dec(_rev_u(), 10000.0).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@query(
    "q12_late_priority",
    oracle="""
    SELECT l.l_linestatus,
           CAST(COUNT(*) FILTER (o.o_orderpriority IN ('1-URGENT', '2-HIGH'))
                AS BIGINT) AS high_line_count,
           CAST(COUNT(*) FILTER (o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH'))
                AS BIGINT) AS low_line_count
    FROM orders o
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
      AND l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate <  TIMESTAMP '1997-01-01'
    GROUP BY l.l_linestatus
    ORDER BY l.l_linestatus
    """,
)
def q12_late_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipping-mode / priority split): join with a
    non-equi residual (shipped >30 days after ordering), then
    conditional counts split one pass into high/low priority — the
    CASE-inside-aggregate idiom that avoids scanning twice. The
    schema has no l_shipmode, so l_linestatus plays the grouping
    role. Counts are exact."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(
            li,
            (o.o_orderkey == li.l_orderkey)
            & (li.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")),
        )
        .groupBy("l_linestatus")
        .agg(
            F.count(F.when(high, 1)).alias("high_line_count"),
            F.count(F.when(~high, 1)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


@query(
    "q13_order_distribution",
    oracle="""
    WITH per_cust AS (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c
      LEFT JOIN orders o
        ON c.c_custkey = o.o_custkey AND o.o_orderstatus <> 'F'
      GROUP BY c.c_custkey
    )
    SELECT CAST(c_count AS BIGINT) AS c_count,
           CAST(COUNT(*) AS BIGINT) AS custdist
    FROM per_cust
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape (customer order-count distribution): LEFT OUTER
    join with the filter in the JOIN CONDITION (not WHERE — moving it
    would silently drop zero-order customers), then a second
    aggregation over the first's result. Two chained shuffles by
    design; the first groups on the join key so AQE coalesces it into
    the join exchange. Counts exact."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") != "F")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy(F.col("c_count").cast("bigint").alias("c_count"))
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


@query(
    "q14_promo_share",
    oracle="""
    WITH sums AS (
      SELECT
        SUM(CASE WHEN p.p_type = 'PROMO'
            THEN CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount)
                            * 10000 + 0.5) AS BIGINT) END)
          AS promo_u,
        SUM(CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount)
                       * 10000 + 0.5) AS BIGINT))
          AS total_u
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      WHERE l.l_shipdate >= TIMESTAMP '1996-09-01'
        AND l.l_shipdate <  TIMESTAMP '1996-10-01'
    )
    SELECT CAST(promo_u AS DOUBLE) / 10000.0 AS promo_revenue,
           CAST(total_u AS DOUBLE) / 10000.0 AS total_revenue,
           (CAST(promo_u AS DOUBLE) * 100) / CAST(total_u AS DOUBLE)
             AS promo_pct
    FROM sums
    """,
)
def q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape (promotion effect): conditional-sum ratio over
    one month of shipments. Determinism: both sums accumulate in
    exact 1e-4 integer units in DECIMAL(38,0) (global groups grow
    with the corpus — module accumulator-width note), and the
    percentage divides the exact totals after one decimal→double
    cast each — both engines compute it identically, with no float
    sum and no final rounding to flip (r11 determinism-probe
    hardening). The month filter pushes to the lineitem scan; part
    broadcasts."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part")
    rev_u = _rev_u()
    sums = (
        li.join(p, li.l_partkey == p.p_partkey)
        .agg(
            F.sum(
                F.when(F.col("p_type") == "PROMO", rev_u).cast("decimal(38,0)")
            ).alias("promo_u"),
            F.sum(rev_u.cast("decimal(38,0)")).alias("total_u"),
        )
    )
    return sums.select(
        (F.col("promo_u").cast("double") / F.lit(10000.0)).alias("promo_revenue"),
        (F.col("total_u").cast("double") / F.lit(10000.0)).alias("total_revenue"),
        (
            (F.col("promo_u").cast("double") * 100)
            / F.col("total_u").cast("double")
        ).alias("promo_pct"),
    )


@query(
    "q17_small_quantity",
    oracle="""
    WITH per_part AS (
      SELECT l_partkey,
             CAST(SUM(l_quantity) AS BIGINT) AS sum_qty,
             CAST(COUNT(*) AS BIGINT)        AS cnt_qty
      FROM lineitem GROUP BY l_partkey
    )
    SELECT CAST(SUM(CAST(FLOOR(l.l_extendedprice * 100 + 0.5) AS BIGINT)) AS DOUBLE)
           / 700.0 AS avg_yearly
    FROM lineitem l
    JOIN part p     ON p.p_partkey = l.l_partkey
    JOIN per_part a ON a.l_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#23' AND p.p_size < 10
      AND CAST(l.l_quantity AS BIGINT) * 5 * a.cnt_qty < a.sum_qty
    """,
)
def q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (small-quantity-order revenue): the classic
    correlated aggregate — lineitems below 20% of their part's average
    quantity. Determinism: `q < 0.2 * AVG(q)` is rewritten to the
    integer inequality `5*q*cnt < sum` (quantities are integral, so
    the sums are exact in both engines and no float boundary exists).
    The per-part aggregate partial-aggregates map-side and joins back
    on l_partkey; the brand/size filter prunes the part side before
    the join."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") == "Brand#23") & (F.col("p_size") < 10)
    )
    per_part = li.groupBy(F.col("l_partkey").alias("a_partkey")).agg(
        F.sum("l_quantity").cast("bigint").alias("sum_qty"),
        F.count(F.lit(1)).alias("cnt_qty"),
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(per_part, li.l_partkey == F.col("a_partkey"))
        .filter(
            F.col("l_quantity").cast("bigint") * 5 * F.col("cnt_qty")
            < F.col("sum_qty")
        )
        .agg(
            _sum_u_dec(
                F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("bigint"), 700.0
            ).alias("avg_yearly")
        )
    )


@query(
    "q19_disjunctive_filter",
    oracle="""
    SELECT CAST(SUM(CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount) * 10000 + 0.5) AS BIGINT)) AS DOUBLE) / 10000.0 AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def q19_disjunctive_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (discounted revenue, OR-of-ANDs): three
    brand/size/quantity conjunctions OR'd together across two tables.
    The optimizer test: Catalyst factors the single-table parts of
    the disjunction and pushes `p_size BETWEEN 1 AND 15` (the union
    of the size ranges) and the quantity hull to the scans, instead
    of evaluating the whole predicate post-join. Part broadcasts;
    sums round at 2."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    q = F.col("l_quantity")
    cond = (
        (F.col("p_brand") == "Brand#12")
        & F.col("p_size").between(1, 5)
        & q.between(1, 11)
        | (F.col("p_brand") == "Brand#23")
        & F.col("p_size").between(1, 10)
        & q.between(10, 20)
        | (F.col("p_brand") == "Brand#34")
        & F.col("p_size").between(1, 15)
        & q.between(20, 30)
    )
    return (
        li.join(p, p.p_partkey == li.l_partkey)
        .filter(cond)
        .agg(
            _sum_u_dec(_rev_u(), 10000.0).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "q21_waiting_suppliers",
    oracle="""
    SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
    JOIN orders o    ON o.o_orderkey = l1.l_orderkey
    WHERE o.o_orderstatus = 'F'
      AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey
          AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey
          AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    LIMIT 20
    """,
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting): the
    hardest subquery shape in the suite — the fact table referenced
    three times, once positively (EXISTS: multi-supplier order) and
    once negatively (NOT EXISTS: no OTHER supplier was also late),
    both correlated on the outer row's orderkey AND suppkey, with the
    NOT EXISTS also correlated through the orders row's date. Spark
    plans these as a left-semi and a left-anti hash join on
    l_orderkey with the suppkey/date conditions as residuals — three
    scans of lineitem, no nested loops. "Late" = shipped >60 days
    after ordering (schema has no receiptdate/commitdate)."""
    s = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    l1 = li.alias("l1")
    l2 = li.alias("l2")
    l3 = li.alias("l3")
    late1 = (
        l1.join(o, F.col("l1.l_orderkey") == o.o_orderkey)
        .filter(
            F.col("l1.l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
        )
    )
    multi = late1.join(
        l2,
        (F.col("l2.l_orderkey") == F.col("l1.l_orderkey"))
        & (F.col("l2.l_suppkey") != F.col("l1.l_suppkey")),
        "left_semi",
    )
    only_late = multi.join(
        l3,
        (F.col("l3.l_orderkey") == F.col("l1.l_orderkey"))
        & (F.col("l3.l_suppkey") != F.col("l1.l_suppkey"))
        & (F.col("l3.l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        "left_anti",
    )
    return (
        only_late.join(s, F.col("l1.l_suppkey") == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )


@query(
    "q22_idle_balances",
    oracle="""
    WITH pos AS (
      SELECT CAST(SUM(CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS sum_cents,
             CAST(COUNT(*) AS BIGINT) AS n_pos
      FROM customer WHERE c_acctbal > 0.0
    )
    SELECT c.c_nationkey,
           CAST(COUNT(*) AS BIGINT) AS numcust,
           SUM(CAST(FLOOR(c.c_acctbal * 100 + 0.5) AS BIGINT)) / 100.0 AS totacctbal
    FROM customer c, pos
    WHERE CAST(FLOOR(c.c_acctbal * 100 + 0.5) AS BIGINT) * pos.n_pos > pos.sum_cents
      AND NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey
          AND o.o_orderpriority = '1-URGENT')
    GROUP BY c.c_nationkey
    ORDER BY c.c_nationkey
    """,
)
def q22_idle_balances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (global-customer opportunity): a scalar
    aggregate subquery (average positive balance) gates the outer
    scan, combined with NOT EXISTS (customers with no urgent orders —
    every sf0.01 customer has SOME order, so the classic "no orders"
    filter would be empty). Determinism: `bal > AVG(bal)` is
    rewritten exactly — balances are 2-decimal, so compare integer
    cents: `cents * n > sum_cents`; the group sums are also summed
    as cents then divided once, bit-identical across engines. The
    scalar subquery broadcasts (one row); the anti-join is the only
    shuffle."""
    c = load_table(spark, sf_dir, "customer")
    cents = F.floor(F.col("c_acctbal") * 100 + 0.5).cast("bigint")
    pos = c.filter(F.col("c_acctbal") > 0.0).agg(
        F.sum(cents).alias("sum_cents"), F.count(F.lit(1)).alias("n_pos")
    )
    urgent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return (
        c.crossJoin(F.broadcast(pos))
        .filter(cents * F.col("n_pos") > F.col("sum_cents"))
        .join(urgent, c.c_custkey == urgent.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            (F.sum(cents) / 100.0).alias("totacctbal"),
        )
        .orderBy("c_nationkey")
    )


@query(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(l_quantity) AS BIGINT)                          AS sum_qty,
           CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS DOUBLE)
             / 100.0                                                AS sum_base_price,
           CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 10000 + 0.5)
                         AS BIGINT)) AS DOUBLE) / 10000.0           AS sum_disc_price,
           CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                               * 1000000 + 0.5) AS BIGINT)) AS DOUBLE)
             / 1000000.0                                            AS sum_charge,
           CAST(SUM(l_quantity) AS BIGINT) / CAST(COUNT(*) AS BIGINT)   AS avg_qty,
           CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS DOUBLE)
             / CAST(100 * COUNT(*) AS BIGINT)                       AS avg_price,
           CAST(SUM(CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT)) AS BIGINT)
             / CAST(100 * COUNT(*) AS BIGINT)                       AS avg_disc,
           CAST(COUNT(*) AS BIGINT)                                 AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-01'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 (pricing summary report): THE canonical scan-heavy
    aggregate — one pass over ~all of lineitem, eight aggregates, a
    4-group output. The plan to demand: predicate pushed to the scan,
    whole-stage-codegen'd partial HashAggregate doing ~all the work
    map-side, a 4-row exchange, final aggregate. Determinism: every
    money sum accumulates in exact integer units (cents for the
    2-decimal base price, 1e-4 for the 4-decimal discounted price,
    1e-6 for the 6-decimal charge) in DECIMAL(38,0) — the 4-group
    whole-table shape is the worst overflow case in the module: its
    1e-6-unit charge sum crosses BIGINT near sf~100 (r11 review) —
    and every AVG divides the exact sums by the exact count,
    identically on both engines. No float accumulation
    anywhere, so no layout or combine-order sensitivity (r11
    determinism-probe hardening)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("2000-09-01").cast("timestamp")
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    ep_c = F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("bigint")
    dp_u = F.floor(disc_price * 10000 + 0.5).cast("bigint")
    ch_u = F.floor(disc_price * (1 + F.col("l_tax")) * 1000000 + 0.5).cast("bigint")
    disc_c = F.floor(F.col("l_discount") * 100 + 0.5).cast("bigint")
    cnt = F.count(F.lit(1))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").cast("bigint").alias("sum_qty"),
            _sum_u_dec(ep_c, 100.0).alias("sum_base_price"),
            _sum_u_dec(dp_u, 10000.0).alias("sum_disc_price"),
            _sum_u_dec(ch_u, 1000000.0).alias("sum_charge"),
            (F.sum("l_quantity").cast("bigint") / cnt.cast("bigint")).alias(
                "avg_qty"
            ),
            (
                F.sum(ep_c.cast("decimal(38,0)")).cast("double")
                / (F.lit(100) * cnt).cast("bigint")
            ).alias("avg_price"),
            (F.sum(disc_c) / (F.lit(100) * cnt).cast("bigint")).alias("avg_disc"),
            cnt.alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "q2_min_cost_supplier",
    oracle="""
    WITH cost AS (
      SELECT l.l_partkey, l.l_suppkey,
             MIN(l.l_extendedprice / l.l_quantity) AS unit_cost
      FROM lineitem l GROUP BY l.l_partkey, l.l_suppkey
    )
    SELECT p.p_partkey, p.p_name, s.s_name, n.n_name,
           c.unit_cost
    FROM part p
    JOIN cost c     ON c.l_partkey = p.p_partkey
    JOIN supplier s ON s.s_suppkey = c.l_suppkey
    JOIN nation n   ON n.n_nationkey = s.s_nationkey
    WHERE p.p_size = 15 AND p.p_type = 'STANDARD'
      AND c.unit_cost = (
        SELECT MIN(c2.unit_cost) FROM cost c2
        WHERE c2.l_partkey = p.p_partkey)
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (minimum-cost supplier): for each qualifying
    part, the supplier(s) achieving its minimum unit cost — the
    correlated-MIN subquery pattern. The schema has no partsupp, so
    observed unit cost (extendedprice/quantity, aggregated per
    part+supplier from lineitem) plays ps_supplycost. Determinism:
    the floats are never summed — MIN over per-row divisions of
    identical doubles is bit-identical in both engines, so the
    equality against the correlated minimum selects the same rows.
    Spark expresses the correlation as a window MIN over the
    per-part+supplier aggregate — one shuffle, no self-join."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_size") == 15) & (F.col("p_type") == "STANDARD")
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    cost = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost")
    )
    w = Window.partitionBy("l_partkey")
    best = cost.withColumn("min_cost", F.min("unit_cost").over(w)).filter(
        F.col("unit_cost") == F.col("min_cost")
    )
    return (
        p.join(best, p.p_partkey == best.l_partkey)
        .join(s, best.l_suppkey == s.s_suppkey)
        .join(n, s.s_nationkey == n.n_nationkey)
        .select("p_partkey", "p_name", "s_name", "n_name", "unit_cost")
    )


@query(
    "q8_market_share",
    oracle="""
    WITH vol AS (
      SELECT EXTRACT(YEAR FROM o.o_orderdate)::BIGINT AS o_year,
             SUM(CASE WHEN sn.n_name = 'NATION_3'
                 THEN CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount)
                                 * 10000 + 0.5) AS BIGINT) END)
               AS nation_u,
             SUM(CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount)
                            * 10000 + 0.5) AS BIGINT))
               AS total_u
      FROM lineitem l
      JOIN part p     ON p.p_partkey = l.l_partkey
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation cn  ON cn.n_nationkey = c.c_nationkey
      JOIN region r   ON r.r_regionkey = cn.n_regionkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation sn  ON sn.n_nationkey = s.s_nationkey
      WHERE r.r_name = 'ASIA' AND p.p_type = 'ECONOMY'
        AND o.o_orderdate >= TIMESTAMP '1996-01-01'
        AND o.o_orderdate <  TIMESTAMP '1998-01-01'
      GROUP BY 1
    )
    SELECT o_year,
           CAST(COALESCE(nation_u, 0) AS DOUBLE) / CAST(total_u AS DOUBLE)
             AS mkt_share
    FROM vol ORDER BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape (national market share): one nation's share of
    regional order volume per year — an 8-table join where nation
    attaches TWICE (customer's nation restricts the market to a
    region; supplier's nation is the share numerator), then a
    conditional-sum ratio. All dims broadcast; lineitem⋈orders is the
    only at-scale shuffle. Both volumes accumulate in exact 1e-4
    integer units in DECIMAL(38,0) (per-year groups grow with the
    corpus — see the module accumulator-width note); the share
    divides the two exact totals after one decimal→double cast each,
    identically on both engines (DuckDB sums into HUGEINT and casts
    the same exact integers)."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    c = load_table(spark, sf_dir, "customer")
    cn = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_region")
    )
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    s = load_table(spark, sf_dir, "supplier")
    sn = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    rev_u = _rev_u()
    vol = (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(o, o.o_orderkey == li.l_orderkey)
        .join(c, c.c_custkey == o.o_custkey)
        .join(cn, F.col("c_nationkey") == F.col("cn_key"))
        .join(r, F.col("cn_region") == F.col("r_regionkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(sn, F.col("s_nationkey") == F.col("sn_key"))
        .groupBy(F.year("o_orderdate").cast("bigint").alias("o_year"))
        .agg(
            F.sum(
                F.when(F.col("supp_nation") == "NATION_3", rev_u).cast(
                    "decimal(38,0)"
                )
            ).alias("nation_u"),
            F.sum(rev_u.cast("decimal(38,0)")).alias("total_u"),
        )
    )
    return vol.select(
        "o_year",
        (
            F.coalesce(F.col("nation_u"), F.lit(0)).cast("double")
            / F.col("total_u").cast("double")
        ).alias("mkt_share"),
    ).orderBy("o_year")


@query(
    "q9_product_profit",
    oracle="""
    SELECT n.n_name AS nation,
           EXTRACT(YEAR FROM o.o_orderdate)::BIGINT AS o_year,
           CAST(SUM(CAST(FLOOR((l.l_extendedprice * (1 - l.l_discount)
                     - CAST(0.6 AS DOUBLE) * p.p_retailprice * l.l_quantity)
                     * 10000 + 0.5) AS BIGINT)) AS DOUBLE) / 10000.0 AS sum_profit
    FROM lineitem l
    JOIN part p     ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n   ON n.n_nationkey = s.s_nationkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    WHERE p.p_name LIKE '%widget%'
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product-type profit): profit per supplier
    nation per year over a name-matched part subset. The schema has
    no partsupp, so cost is modeled as 60% of retail price — the
    join/aggregate shape (LIKE-filtered part ⋈ fact, dims decorating,
    two-key group) is what matters. The LIKE pushes to the part scan
    as a string-contains filter; part then broadcasts.

    Profit accumulates in EXACT 10^-4 units (per-row double formula in
    identical IEEE op order on both engines — an exact 4-decimal value
    that FLOOR(x*10000 + 0.5) recovers precisely, for negative values
    too since the argument sits within 1e-9 of an integer — summed as
    BIGINT, the q11/q22 recipe): the original
    ROUND(SUM(double), 2) was layout-dependent, flipping a cent when a
    group's float sum landed on a half-cent boundary under a different
    partition combine order (caught by tools/determinism_probe.py at
    sf0.001, round 11). Nation×year groups have FIXED cardinality, so
    per-group rows grow linearly with the corpus — the sum accumulates
    in DECIMAL(38,0) via `_sum_u_dec` (r11 review hardening; BIGINT
    crossed 9.2e18 within ~30× of the 100 TB posture)."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%"))
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders")
    profit_u = F.floor(
        (
            F.col("l_extendedprice") * (1 - F.col("l_discount"))
            - 0.6 * F.col("p_retailprice") * F.col("l_quantity")
        )
        * 10000
        + 0.5
    ).cast("bigint")
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(n, s.s_nationkey == n.n_nationkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("bigint").alias("o_year"),
        )
        .agg(_sum_u_dec(profit_u, 10000.0).alias("sum_profit"))
        .orderBy("nation", "o_year")
    )


@query(
    "q11_revenue_concentration",
    oracle="""
    WITH cents AS (
      SELECT l_partkey,
             CAST(FLOOR(l_extendedprice * (1 - l_discount) * 10000 + 0.5)
                  AS BIGINT) AS rev_c
      FROM lineitem
    ), total AS (
      SELECT SUM(rev_c) AS total_c,
             COUNT(DISTINCT l_partkey) AS n_parts
      FROM cents
    )
    SELECT c.l_partkey AS p_partkey,
           SUM(c.rev_c) / 10000.0 AS part_value
    FROM cents c, total
    GROUP BY c.l_partkey, total.total_c, total.n_parts
    HAVING SUM(c.rev_c) * total.n_parts * 2 > 3 * total.total_c
    ORDER BY p_partkey
    """,
)
def q11_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (important stock): groups whose value exceeds a
    threshold derived from the GLOBAL total — the
    scalar-subquery-in-HAVING pattern. The cut is scale-free (parts
    earning >1.5× the mean part revenue) so the result is non-trivial
    at every SF, and the compare is exact integer arithmetic
    (revenue scaled to 10^-4 units; per-part sums stay BIGINT — rows
    per part are bounded — while the GLOBAL total and the
    `sum·n_parts` product run in DECIMAL(38,0), since both cross
    9.2e18 inside the 100 TB posture) because a float group-sum
    sitting exactly on the boundary would flip between engines
    (DuckDB's HUGEINT arithmetic is the exact mirror). The global
    total is one broadcast row; the group aggregate
    partial-aggregates map-side."""
    li = load_table(spark, sf_dir, "lineitem")
    rev_c = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000 + 0.5
    ).cast("bigint")
    cents = li.select(F.col("l_partkey"), rev_c.alias("rev_c"))
    total = cents.agg(
        F.sum(F.col("rev_c").cast("decimal(38,0)")).alias("total_c"),
        F.countDistinct("l_partkey").alias("n_parts"),
    )
    return (
        cents.groupBy("l_partkey")
        .agg(F.sum("rev_c").alias("part_c"))
        .crossJoin(F.broadcast(total))
        .filter(
            F.col("part_c").cast("decimal(38,0)") * F.col("n_parts") * 2
            > 3 * F.col("total_c")
        )
        .select(
            F.col("l_partkey").alias("p_partkey"),
            (F.col("part_c") / 10000.0).alias("part_value"),
        )
        .orderBy("p_partkey")
    )


@query(
    "q15_top_supplier",
    oracle="""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 10000 + 0.5) AS BIGINT)) AS BIGINT) / 10000.0 AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s
    JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 (top supplier): the view-then-self-reference shape —
    a derived per-supplier revenue relation used twice, once as the
    join input and once reduced to its MAX for the filter. Spark
    reuses one DataFrame for both roles (and the MAX is a one-row
    broadcast, not a rescan, under AQE subquery reuse). Revenue
    accumulates in exact 1e-4 integer units, so the MAX-equality
    compares doubles derived from identical BIGINTs — exact on both
    engines and under any layout (r11 recipe)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    s = load_table(spark, sf_dir, "supplier")
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        (F.sum(_rev_u()) / F.lit(10000.0)).alias("total_revenue")
    )
    mx = revenue.agg(F.max("total_revenue").alias("mx"))
    return (
        s.join(revenue, s.s_suppkey == revenue.supplier_no)
        .crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("mx"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@query(
    "q16_supplier_part_types",
    oracle="""
    SELECT p.p_brand, p.p_type, p.p_size,
           CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM part p
    JOIN lineitem l ON l.l_partkey = p.p_partkey
    WHERE p.p_brand <> 'Brand#1' AND p.p_type <> 'PROMO'
      AND p.p_size IN (1, 4, 9, 16, 25, 36, 49)
      AND l.l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p.p_brand, p.p_type, p.p_size
    ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size
    """,
)
def q16_supplier_part_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (supplier diversity per part profile): COUNT
    DISTINCT suppliers per (brand, type, size) with a NOT IN
    blacklist subquery (negative-balance suppliers standing in for
    the complaints LIKE). The schema has no partsupp, so lineitem is
    the part↔supplier bridge. NOT IN over a non-nullable key column
    plans as a broadcast anti-join, NOT the null-paranoid
    nested-loop — the blacklist is tiny. COUNT DISTINCT expands to a
    two-level aggregate (distinct-expand then count) with map-side
    partials at both levels."""
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49)
    )
    li = load_table(spark, sf_dir, "lineitem")
    bad = load_table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    return (
        li.join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti")
        .join(p, li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
    )


@query(
    "q20_excess_suppliers",
    oracle="""
    SELECT s.s_name, n.n_name
    FROM supplier s
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE s.s_suppkey IN (
      SELECT l.l_suppkey
      FROM lineitem l
      WHERE l.l_partkey IN (
        SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
        AND l.l_shipdate >= TIMESTAMP '1996-01-01'
        AND l.l_shipdate <  TIMESTAMP '1997-01-01'
      GROUP BY l.l_suppkey, l.l_partkey
      HAVING SUM(l.l_quantity) > 50)
    ORDER BY s.s_name
    """,
)
def q20_excess_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (suppliers with excess volume): doubly-nested
    IN — suppliers who moved >50 units of some 'small%' part in a
    year. Both INs become semi joins: part's prefix LIKE pushes to
    its scan (StringStartsWith reaches PushedFilters) and
    broadcast-semi-filters lineitem BEFORE the per-(supplier, part)
    aggregate; the HAVING output is a tiny key set that semi-filters
    supplier. Quantity sums are integral — the HAVING threshold is
    exact."""
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    small = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").like("small%")
    ).select("p_partkey")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    movers = (
        li.join(F.broadcast(small), li.l_partkey == small.p_partkey, "left_semi")
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 50)
        .select("l_suppkey")
        .distinct()
    )
    return (
        s.join(movers, s.s_suppkey == movers.l_suppkey, "left_semi")
        .join(n, s.s_nationkey == n.n_nationkey)
        .select("s_name", "n_name")
        .orderBy("s_name")
    )
