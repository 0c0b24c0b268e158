"""TPC-H-adapted relational suite (q4..q22 over the harness's
TPC-H-lite tables) — completes the classic decision-support surface
next to the existing q1/q3/q5/q17.

The harness tables are TPC-H-shaped but slimmer (no partsupp; lineitem
has no commitdate/receiptdate/shipmode/shipinstruct; part has no
container; customer has no phone), so queries whose predicates need a
missing column are ADAPTED: the join/subquery/aggregation SHAPE — the
thing that stresses the planner — is preserved exactly, and the filter
is re-expressed over an available column.  Each docstring names the
adaptation.  q2/q11 are partsupp-native (min-cost supplier /
inventory value); their partsupp is DERIVED relationally from
lineitem's observed (l_partkey, l_suppkey) pairs with supplycost and
availqty as deterministic integer functions of the keys
(PARTSUPP_TEMPLATE) — the identical CTE text runs in both engines, so
nothing external is faked and the q2 correlated-min / q11
group-vs-global-threshold planner shapes are exercised for real.

Cross-engine parity (CLAUDE.md gotchas 7/8): every money fold is
exact-integer — price snaps to cents via FLOOR(x*100+0.5), discount to
a 0..10 pct integer, and revenue accumulates as cents×pct BIGINTs
("centi-cents", cc) so Spark and DuckDB sum identical integers; the
few ratio outputs divide as IEEE doubles over textually identical
expressions and FLOOR to micros at the end.  DuckDB SUM(BIGINT) is
HUGEINT, so every SUM is wrapped CAST(... AS BIGINT) in the shared
text.  Date filters compare CAST(col AS DATE) under the UTC session
pin; date + INT arithmetic parses identically in both engines.

Scale notes (the 100 TB story): every dim side (part, supplier,
nation, customer-at-dim-position) is broadcast-hinted where the
DataFrame API is used; the SQL forms keep correlated EXISTS /
IN-subqueries that Catalyst decorrelates to existence/semi joins
(never per-row subquery execution — pinned for q21 in
tests/test_plans.py); the only shuffles left are the fact-table
aggregations on their natural grouping keys.  cc sums stay inside
int64 far past sf100 (6e9 rows x ~5e8 cc/row needs ~2^61).

Registered into queries.QUERIES via QUERIES_TPCH.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .qcommon import _t


# Exact-integer money fragments — the SINGLE source of truth shared by
# the engine (via F.expr / format into spark.sql) and the DuckDB
# oracles (via format in oracles_tpch.py).  gotcha 7: FLOOR, never
# CAST(double AS INT).
CENTS = "CAST(FLOOR({col} * 100 + 0.5) AS BIGINT)"
PCT = CENTS.format(col="l_discount")
CC = f"({CENTS.format(col='l_extendedprice')} * (100 - {PCT}))"
SUM_CC = f"CAST(SUM({CC}) AS BIGINT)"


def _views(spark: SparkSession, sf_dir: str, prefix: str, tables) -> dict:
    """Register per-query temp views; returns the {{table: view}} map
    used to format the shared SQL template (the oracle formats the
    same template with the bare table names DuckDB pre-registers)."""
    names = {}
    for t in tables:
        v = f"_{prefix}_{t}"
        _t(spark, sf_dir, t).createOrReplaceTempView(v)
        names[t] = v
    return names


# ---------------------------------------------------------------------------
# Shared SQL templates (engine + oracle run the SAME text modulo table
# names) — used where the SQL feature itself is the surface under test
# (correlated EXISTS / NOT EXISTS, IN-subquery, scalar subquery).
# ---------------------------------------------------------------------------

Q4_TEMPLATE = """
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders
FROM {orders}
WHERE CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
  AND CAST(o_orderdate AS DATE) < DATE '1996-07-01'
  AND EXISTS (
    SELECT 1 FROM {lineitem}
    WHERE l_orderkey = o_orderkey
      AND CAST(l_shipdate AS DATE) > CAST(o_orderdate AS DATE) + 30)
GROUP BY o_orderpriority
"""

Q7_TEMPLATE = f"""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       year(l_shipdate) AS l_year,
       {SUM_CC} AS revenue_cc,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM {{supplier}}, {{lineitem}}, {{orders}}, {{customer}},
     {{nation}} n1, {{nation}} n2
WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
  AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
  AND c_nationkey = n2.n_nationkey
  AND n1.n_name <> n2.n_name
  AND year(l_shipdate) IN (1996, 1997)
GROUP BY n1.n_name, n2.n_name, year(l_shipdate)
"""

Q8_TEMPLATE = f"""
WITH rev AS (
  SELECT year(o_orderdate) AS o_year, n2.n_name AS supp_nation,
         {SUM_CC} AS rev_cc
  FROM {{part}}, {{supplier}}, {{lineitem}}, {{orders}}, {{customer}},
       {{nation}} n1, {{nation}} n2, {{region}}
  WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
    AND l_orderkey = o_orderkey AND o_custkey = c_custkey
    AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
    AND r_name = 'ASIA' AND s_nationkey = n2.n_nationkey
    AND p_type = 'PROMO'
    AND year(o_orderdate) IN (1996, 1997)
  GROUP BY year(o_orderdate), n2.n_name
)
SELECT o_year, supp_nation, rev_cc,
       CAST(FLOOR(1000000.0 * rev_cc
                  / SUM(rev_cc) OVER (PARTITION BY o_year))
            AS BIGINT) AS share_micros
FROM rev
"""

Q9_TEMPLATE = f"""
SELECT n_name AS supp_nation, year(o_orderdate) AS o_year,
       CAST(SUM({CC}
                - {CENTS.format(col='p_retailprice')}
                  * CAST(FLOOR(l_quantity) AS BIGINT) * 50)
            AS BIGINT) AS profit_cc,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM {{part}}, {{supplier}}, {{lineitem}}, {{orders}}, {{nation}}
WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
  AND l_orderkey = o_orderkey AND s_nationkey = n_nationkey
  AND p_name LIKE '%widget%'
GROUP BY n_name, year(o_orderdate)
"""

Q15_TEMPLATE = f"""
WITH srev AS (
  SELECT l_suppkey, {SUM_CC} AS total_cc
  FROM {{lineitem}}
  WHERE CAST(l_shipdate AS DATE) >= DATE '1997-01-01'
    AND CAST(l_shipdate AS DATE) < DATE '1997-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_cc
FROM srev, {{supplier}}
WHERE s_suppkey = l_suppkey
  AND total_cc = (SELECT MAX(total_cc) FROM srev)
"""

Q20_TEMPLATE = """
SELECT s_suppkey, s_name, n_name
FROM {supplier}, {nation}
WHERE s_nationkey = n_nationkey
  AND s_suppkey IN (
    SELECT l_suppkey
    FROM {lineitem}, {part}
    WHERE p_partkey = l_partkey AND p_type = 'PROMO'
      AND year(l_shipdate) = 1997
    GROUP BY l_suppkey
    HAVING SUM(l_quantity) > 400)
"""

Q21_TEMPLATE = """
SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
FROM {supplier}, {lineitem} l1, {orders}
WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
  AND o_orderstatus = 'F'
  AND EXISTS (
    SELECT 1 FROM {lineitem} l2
    WHERE l2.l_orderkey = l1.l_orderkey
      AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (
    SELECT 1 FROM {lineitem} l3
    WHERE l3.l_orderkey = l1.l_orderkey
      AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_shipdate >= l1.l_shipdate)
GROUP BY s_name
"""

Q22_TEMPLATE = f"""
WITH bal AS (
  SELECT CAST(SUM({CENTS.format(col='c_acctbal')}) AS BIGINT) AS s,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM {{customer}} WHERE c_acctbal > 0.0
)
SELECT c_nationkey % 5 AS cust_group,
       CAST(COUNT(*) AS BIGINT) AS numcust,
       CAST(SUM({CENTS.format(col='c_acctbal')}) AS BIGINT) AS total_cents
FROM {{customer}}, bal
WHERE {CENTS.format(col='c_acctbal')} * n > s
  AND NOT EXISTS (
    SELECT 1 FROM {{orders}}
    WHERE o_custkey = c_custkey
      AND CAST(o_orderdate AS DATE) >= DATE '1999-01-01')
GROUP BY c_nationkey % 5
"""


# ---------------------------------------------------------------------------
# SQL-template queries
# ---------------------------------------------------------------------------


def q4_late_shipments(spark, sf_dir):
    """TPC-H Q4 shape (order-priority checking): count orders per
    priority that had at least one LATE line.  Adapted: lineitem has no
    commitdate/receiptdate, so "late" = shipped more than 30 days after
    the order date.  The correlated EXISTS is the surface — Catalyst
    rewrites it to a left-semi join on o_orderkey (the date predicate
    rides along as the join condition's residual), never a per-row
    probe."""
    v = _views(spark, sf_dir, "q4", ["orders", "lineitem"])
    return spark.sql(Q4_TEMPLATE.format(**v))


def q7_volume_shipping(spark, sf_dir):
    """TPC-H Q7 (volume shipping): cross-border revenue by (supplier
    nation, customer nation, ship year).  Adapted: instead of one fixed
    nation pair (the 10-supplier sf0.001 fixture may miss any given
    nation), ALL cross-border pairs group — same join tree, denser
    output.  nation joins twice under different roles; both sides are
    broadcast dims."""
    v = _views(spark, sf_dir, "q7",
               ["supplier", "lineitem", "orders", "customer", "nation"])
    return spark.sql(Q7_TEMPLATE.format(**v))


def q8_market_share(spark, sf_dir):
    """TPC-H Q8 (national market share): for PROMO parts sold to ASIA
    customers, each supplier nation's revenue share per order year.
    Adapted: emits every supplier nation's share (the reference pins
    one nation; the fixture's supplier set is too small to guarantee
    any single one), so the window total replaces the scalar divide —
    share_micros = floor(1e6 * rev / sum(rev) OVER year), an identical
    double chain in both engines."""
    v = _views(spark, sf_dir, "q8",
               ["part", "supplier", "lineitem", "orders", "customer",
                "nation", "region"])
    return spark.sql(Q8_TEMPLATE.format(**v))


def q9_product_profit(spark, sf_dir):
    """TPC-H Q9 shape (product-type profit by nation x year).  Adapted:
    no partsupp means no ps_supplycost, so cost is proxied at 50% of
    p_retailprice (retail_cents * qty * 50 in centi-cents — still an
    exact-integer fold); the part filter keeps Q9's p_name LIKE form.
    Join tree (part ⋈ supplier ⋈ lineitem ⋈ orders ⋈ nation) and the
    group-by are the reference shape."""
    v = _views(spark, sf_dir, "q9",
               ["part", "supplier", "lineitem", "orders", "nation"])
    return spark.sql(Q9_TEMPLATE.format(**v))


def q15_top_supplier(spark, sf_dir):
    """TPC-H Q15 (top supplier): revenue per supplier over one quarter,
    returning the max-revenue supplier(s) via a scalar subquery over
    the same CTE — exactly the reference's view-then-max shape.
    Catalyst evaluates the scalar MAX once (single-row broadcast), not
    per row; ties return multiple rows as in the spec."""
    v = _views(spark, sf_dir, "q15", ["lineitem", "supplier"])
    return spark.sql(Q15_TEMPLATE.format(**v))


def q20_promo_suppliers(spark, sf_dir):
    """TPC-H Q20 shape (potential part promotion): suppliers who moved
    > 400 units of PROMO parts in 1997.  Adapted: no partsupp, so the
    availability check (agg > threshold inside an IN-subquery) runs
    over shipped lineitem quantity instead of stock.  The IN-subquery
    over a grouped HAVING is the surface — planned as an aggregate +
    left-semi join."""
    v = _views(spark, sf_dir, "q20",
               ["supplier", "nation", "lineitem", "part"])
    return spark.sql(Q20_TEMPLATE.format(**v))


def q21_latest_shipper(spark, sf_dir):
    """TPC-H Q21 shape (suppliers kept waiting): per supplier, count
    finished multi-supplier orders where THIS supplier's line shipped
    strictly later than every other supplier's.  Adapted: "late" uses
    l_shipdate order (no receipt/commit dates).  The EXISTS + NOT
    EXISTS pair over the same fact table is the classic decorrelation
    stress — Catalyst plans existence + left-anti joins on l_orderkey
    (pinned: no per-row subquery, tests/test_plans.py)."""
    v = _views(spark, sf_dir, "q21", ["supplier", "lineitem", "orders"])
    return spark.sql(Q21_TEMPLATE.format(**v))


def q22_dormant_customers(spark, sf_dir):
    """TPC-H Q22 shape (global sales opportunity): customers with
    above-average positive balance and no recent orders, grouped into
    5 buckets.  Adapted: no c_phone, so the country-code substring
    becomes c_nationkey % 5.  The above-average test is EXACT-INTEGER:
    cents*n > sum_cents replaces acctbal > AVG(...) (identical
    semantics, no float average on the comparison path); the no-orders
    test is a correlated NOT EXISTS → left-anti join."""
    v = _views(spark, sf_dir, "q22", ["customer", "orders"])
    return spark.sql(Q22_TEMPLATE.format(**v))


# Derived partsupp: the observed (partkey, suppkey) pairs from lineitem
# with supplycost/availqty as deterministic integer functions of the
# keys — the IDENTICAL text runs as a CTE in both engines, so the
# relation is reproducible anywhere and nothing external is faked.
PARTSUPP_TEMPLATE = """
  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
         CAST((l_partkey * 7 + l_suppkey * 13) % 90000 + 10000 AS BIGINT)
           AS ps_supplycost_cents,
         CAST((l_partkey * 31 + l_suppkey * 17) % 9991 + 10 AS BIGINT)
           AS ps_availqty
  FROM (SELECT DISTINCT l_partkey, l_suppkey FROM {lineitem}) ps0
"""

Q2_TEMPLATE = f"""
WITH partsupp AS ({PARTSUPP_TEMPLATE})
SELECT {CENTS.format(col='s_acctbal')} AS s_acctbal_cents,
       s_name, n_name, p_partkey, p_brand, ps_supplycost_cents
FROM partsupp, {{part}}, {{supplier}}, {{nation}}, {{region}}
WHERE p_partkey = ps_partkey AND s_suppkey = ps_suppkey
  AND p_size = 15
  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
  AND r_name = 'EUROPE'
  AND ps_supplycost_cents = (
    SELECT MIN(ps2.ps_supplycost_cents)
    FROM partsupp ps2, {{supplier}} s2, {{nation}} n2, {{region}} r2
    WHERE ps2.ps_partkey = p_partkey AND s2.s_suppkey = ps2.ps_suppkey
      AND s2.s_nationkey = n2.n_nationkey
      AND n2.n_regionkey = r2.r_regionkey AND r2.r_name = 'EUROPE')
"""

# Above-1.2x-mean threshold kept ALL-INTEGER by cross-multiplying
# (group_value * n_groups * 5 > grand_total * 6) — selectivity is
# scale-free, unlike TPC-H's 0.0001/SF literal.
Q11_TEMPLATE = f"""
WITH partsupp AS ({PARTSUPP_TEMPLATE}),
nat AS (
  SELECT ps_partkey,
         CAST(SUM(ps_supplycost_cents * ps_availqty) AS BIGINT) AS value_cc
  FROM partsupp, {{supplier}}, {{nation}}
  WHERE ps_suppkey = s_suppkey AND s_nationkey = n_nationkey
    AND n_name IN ('NATION_3', 'NATION_7')
  GROUP BY ps_partkey
),
tot AS (
  SELECT CAST(SUM(value_cc) AS BIGINT) AS total_cc,
         CAST(COUNT(*) AS BIGINT) AS n_parts
  FROM nat
)
SELECT ps_partkey, value_cc
FROM nat, tot
WHERE value_cc * n_parts * 5 > total_cc * 6
"""


def q2_min_cost_supplier(spark, sf_dir):
    """TPC-H Q2 (minimum-cost supplier): for size-15 parts, the
    EUROPE supplier(s) achieving the minimum supply cost, via the
    classic correlated scalar subquery.  partsupp is DERIVED
    (PARTSUPP_TEMPLATE — deterministic integer cost/qty over the
    observed lineitem pairs; identical text in both engines).  The
    surface is the decorrelation: Catalyst rewrites the correlated MIN
    to a per-part aggregate + equi-join (no per-row subquery); part /
    supplier / nation / region are broadcast dims, so the only wide
    work is the distinct over lineitem's (partkey, suppkey) pairs."""
    v = _views(spark, sf_dir, "q2",
               ["lineitem", "part", "supplier", "nation", "region"])
    return spark.sql(Q2_TEMPLATE.format(**v))


def q11_important_stock(spark, sf_dir):
    """TPC-H Q11 (important stock identification): per-part inventory
    value within a nation group, kept where the part's value exceeds
    1.2x the mean part value — the group-vs-global-scalar-threshold
    shape, held ALL-INTEGER by cross-multiplying instead of TPC-H's
    float fraction (scale-free selectivity; gotcha 8: no float
    compare on the oracle-checked path).  partsupp is DERIVED
    (PARTSUPP_TEMPLATE).  The global total folds to ONE broadcast row;
    nothing joins wider than the per-part aggregate."""
    v = _views(spark, sf_dir, "q11", ["lineitem", "supplier", "nation"])
    return spark.sql(Q11_TEMPLATE.format(**v))


# ---------------------------------------------------------------------------
# DataFrame-API queries (oracle twins share the cents fragments)
# ---------------------------------------------------------------------------


def q6_revenue_band(spark, sf_dir):
    """TPC-H Q6 (forecasting revenue change): one scan, band filters,
    exact discount-revenue fold (cents x pct BIGINTs).  The discount
    band compares the SNAPPED pct integer (5..7), not raw doubles —
    0.05/0.07 have no exact float64 form and a raw BETWEEN would be
    epsilon-fragile across engines.  Fully pushdown-able scan-side
    filters; single partial-aggregated global sum."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.expr("CAST(l_shipdate AS DATE) >= DATE '1996-01-01'"))
        .filter(F.expr("CAST(l_shipdate AS DATE) < DATE '1997-01-01'"))
        .filter(F.expr(f"{PCT} BETWEEN 5 AND 7"))
        .filter(F.col("l_quantity") < 24)
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.expr(
                f"CAST(SUM({CENTS.format(col='l_extendedprice')} * {PCT})"
                " AS BIGINT)"
            ).alias("discount_cc"),
        )
    )


def q10_returned_revenue(spark, sf_dir):
    """TPC-H Q10 (returned-item reporting): top-20 customers by revenue
    on RETURNED lines for orders placed in 1996H1.  Deterministic
    top-k: rank by (revenue desc, custkey asc) — a total order, so the
    LIMIT set is engine-independent.  nation broadcasts; the ranking
    window runs over the customer-sized aggregate, never the fact
    table."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        F.expr("CAST(o_orderdate AS DATE) >= DATE '1996-01-01'")
    ).filter(F.expr("CAST(o_orderdate AS DATE) < DATE '1996-07-01'"))
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = _t(spark, sf_dir, "nation")
    rev = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.expr(SUM_CC).alias("revenue_cc"))
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.col("revenue_cc").desc(), F.col("c_custkey").asc())
    return (
        rev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .select("c_custkey", "c_name", "n_name", "revenue_cc")
    )


def q12_priority_lines(spark, sf_dir):
    """TPC-H Q12 shape (shipping-mode priority gauge): per line status,
    how many 1997-shipped lines belong to high- vs low-priority orders.
    Adapted: lineitem has no l_shipmode, so l_linestatus is the
    grouping dimension; the CASE-sum pair over o_orderpriority is the
    reference's exact aggregation form."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(
        F.expr("year(l_shipdate) = 1997")
    )
    hi = "o_orderpriority IN ('1-URGENT', '2-HIGH')"
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.expr(
                f"CAST(SUM(CASE WHEN {hi} THEN 1 ELSE 0 END) AS BIGINT)"
            ).alias("high_line_count"),
            F.expr(
                f"CAST(SUM(CASE WHEN {hi} THEN 0 ELSE 1 END) AS BIGINT)"
            ).alias("low_line_count"),
        )
    )


def q13_order_distribution(spark, sf_dir):
    """TPC-H Q13 (customer order-count distribution): LEFT OUTER join
    customer→orders with the filter IN THE JOIN CONDITION (the Q13
    signature — a WHERE would turn the outer join inner and lose the
    zero-order customers), then a two-level aggregate: orders per
    customer, customers per order-count.  Adapted: the excluded-comment
    predicate becomes o_orderpriority <> '5-LOW'."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    per_cust = (
        cust.join(
            orders,
            (cust.c_custkey == orders.o_custkey)
            & (orders.o_orderpriority != "5-LOW"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("custdist")
    )


def q14_promo_share(spark, sf_dir):
    """TPC-H Q14 (promotion effect): PROMO revenue share of one month,
    in exact centi-cents plus a micros ratio (identical double chain
    both sides).  part broadcasts into the fact scan; one global
    aggregate row."""
    li = _t(spark, sf_dir, "lineitem").filter(
        F.expr(
            "CAST(l_shipdate AS DATE) >= DATE '1996-09-01'"
            " AND CAST(l_shipdate AS DATE) < DATE '1996-10-01'"
        )
    )
    part = _t(spark, sf_dir, "part")
    promo_cc = f"CAST(SUM(CASE WHEN p_type = 'PROMO' THEN {CC} ELSE 0 END) AS BIGINT)"
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            F.expr(promo_cc).alias("promo_cc"),
            F.expr(SUM_CC).alias("total_cc"),
        )
        .select(
            "promo_cc",
            "total_cc",
            F.expr(
                "CAST(FLOOR(1000000.0 * promo_cc / total_cc) AS BIGINT)"
            ).alias("promo_micros"),
        )
    )


def q16_part_supplier_variety(spark, sf_dir):
    """TPC-H Q16 shape (parts/supplier relationship): distinct
    suppliers per (brand, type, size), excluding one brand and a size
    set.  Adapted: supplier-part pairs come from shipped lineitem (no
    partsupp); the distinct-count aggregation + exclusion filters are
    the reference shape.  part broadcasts; COUNT(DISTINCT) shuffles
    once on the 3-column group key."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#5")
        & F.col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35)
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


def q18_large_volume_orders(spark, sf_dir):
    """TPC-H Q18 (large-volume customers): orders whose total quantity
    exceeds 300, with customer and year.  The HAVING aggregate runs
    BEFORE the joins (orderkey-grouped fact scan, then the small
    survivor set joins orders/customer) — the reference's
    IN-(grouped-subquery) shape, planned as agg → broadcast-able tiny
    side."""
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.expr("CAST(FLOOR(SUM(l_quantity)) AS BIGINT)").alias("total_qty"))
        .filter(F.col("total_qty") > 300)
    )
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.expr("year(o_orderdate)").alias("o_year"),
            F.expr(CENTS.format(col="o_totalprice")).alias("price_cents"),
            "total_qty",
        )
    )


def q19_bracketed_revenue(spark, sf_dir):
    """TPC-H Q19 (discounted revenue, disjunctive brackets): three
    brand x size x quantity brackets OR-ed inside one join predicate.
    Adapted: no container/shipmode/shipinstruct legs — brand+size+qty
    carry the bracket structure.  The surface is the disjunctive
    join condition: Catalyst keeps the p_partkey equi-key (hash join,
    brackets as residual filter), never a nested loop; part
    broadcasts."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    joined = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    bracket = (
        "(p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10"
        " AND l_quantity >= 1 AND l_quantity <= 11)"
        " OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 20"
        " AND l_quantity >= 10 AND l_quantity <= 20)"
        " OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 30"
        " AND l_quantity >= 20 AND l_quantity <= 30)"
    )
    return joined.filter(F.expr(bracket)).agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.expr(SUM_CC).alias("revenue_cc"),
    )


QUERIES_TPCH = {
    "q2_min_cost_supplier": q2_min_cost_supplier,
    "q11_important_stock": q11_important_stock,
    "q4_late_shipments": q4_late_shipments,
    "q6_revenue_band": q6_revenue_band,
    "q7_volume_shipping": q7_volume_shipping,
    "q8_market_share": q8_market_share,
    "q9_product_profit": q9_product_profit,
    "q10_returned_revenue": q10_returned_revenue,
    "q12_priority_lines": q12_priority_lines,
    "q13_order_distribution": q13_order_distribution,
    "q14_promo_share": q14_promo_share,
    "q16_part_supplier_variety": q16_part_supplier_variety,
    "q15_top_supplier": q15_top_supplier,
    "q18_large_volume_orders": q18_large_volume_orders,
    "q19_bracketed_revenue": q19_bracketed_revenue,
    "q20_promo_suppliers": q20_promo_suppliers,
    "q21_latest_shipper": q21_latest_shipper,
    "q22_dormant_customers": q22_dormant_customers,
}
