"""The SQL entry path: temp views + `spark.sql` with join hints, and a
Python UDTF consumed via LATERAL — the §2.10 table-function surface.

Every other catalog query uses the DataFrame API; these prove the same
engine serves ANSI SQL texts unchanged (the reference is 68 dbt SQL models —
a user porting them verbatim lands on this path).
"""

from __future__ import annotations

from pyspark.sql.functions import udtf

from importer_spark.io import Tables
from importer_spark.queries.registry import query

_NATION_REVENUE_SQL = """
SELECT n.n_name AS nation,
  CAST(year(o.o_orderdate) AS INTEGER) AS order_year,
  COUNT(*) AS n_orders,
  CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY 1, 2
"""


@query("sql_nation_revenue", oracle=_NATION_REVENUE_SQL)
def sql_nation_revenue(spark, sf_dir):
    """Pure-SQL execution path: register views, run the oracle's own ANSI
    text (plus a BROADCAST hint on the dims — the SQL-surface form of the
    broadcast() the DataFrame queries use). One fact shuffle; both dims
    broadcast."""
    t = Tables(spark, sf_dir)
    t.orders.createOrReplaceTempView("v_orders")
    t.customer.createOrReplaceTempView("v_customer")
    t.nation.createOrReplaceTempView("v_nation")
    return spark.sql(
        """
        SELECT /*+ BROADCAST(n), BROADCAST(c) */
          n.n_name AS nation,
          CAST(year(o.o_orderdate) AS INT) AS order_year,
          COUNT(*) AS n_orders,
          CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        FROM v_orders o
        JOIN v_customer c ON o.o_custkey = c.c_custkey
        JOIN v_nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY 1, 2
        """
    )


@udtf(returnType="opt_key string, opt_value string")
class ParseOptions:
    """Table function: 'k=v;k=v' option string → one row per pair.
    UDTFs are the Spark shape for one-to-many parsers that genuinely need
    Python (here the parse is trivial — the point is the surface: eval()
    yields rows, LATERAL correlates them to the driving row)."""

    def eval(self, s: str):
        for part in (s or "").split(";"):
            if "=" in part:
                k, v = part.split("=", 1)
                yield (k, v)


_KV_SQL = """
WITH blob AS (
  SELECT o_orderkey,
    'status=' || o_orderstatus || ';priority=' || o_orderpriority AS opts
  FROM orders
),
pairs AS MATERIALIZED (
  -- MATERIALIZED is runtime-only (values identical): the wide outer
  -- projection otherwise re-inlines this CTE and re-executes the
  -- select-list unnest per split_part reference -- 70 s vs 4 s at sf1.
  SELECT o_orderkey, unnest(string_split(opts, ';')) AS kv FROM blob
)
SELECT o_orderkey,
  split_part(kv, '=', 1) AS opt_key,
  split_part(kv, '=', 2) AS opt_value
FROM pairs
"""


@query("order_options_kv", oracle=_KV_SQL)
def order_options_kv(spark, sf_dir):
    """Python UDTF via LATERAL: each order's option blob explodes into
    typed key/value rows. UDTFs run Arrow-batched in the Python worker —
    fine for parse-heavy edges, but the oracle shows the same result is
    expressible with split/unnest when the grammar is this regular (and
    the column-expression form is the 100 TB default)."""
    t = Tables(spark, sf_dir)
    spark.udtf.register("parse_options", ParseOptions)
    t.orders.selectExpr(
        "o_orderkey",
        "concat('status=', o_orderstatus, ';priority=', o_orderpriority) AS opts",
    ).createOrReplaceTempView("v_order_opts")
    return spark.sql(
        """
        SELECT b.o_orderkey, p.opt_key, p.opt_value
        FROM v_order_opts b, LATERAL parse_options(b.opts) p
        """
    )


# --- classic TPC-H-shaped analytics, ONE SQL text for both engines ---------
# The strongest portability statement the catalog makes: these strings run
# UNCHANGED on Spark (temp views over the parquet tables) and on the DuckDB
# oracle (driver-registered views of the same names). Decimal/date
# conventions follow functions/core.py (exact-decimal sums cast to DOUBLE,
# dates emitted as yyyy-MM-dd string slices).

_TPCH_VIEWS = ("customer", "orders", "lineitem", "nation", "supplier", "region", "part")


def _register_tpch_views(t):
    for name in _TPCH_VIEWS:
        getattr(t, name).createOrReplaceTempView(name)


_Q3_TEXT = """
SELECT l_orderkey AS order_key,
  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
    AS revenue,
  SUBSTR(CAST(o_orderdate AS STRING), 1, 10) AS order_date,
  o_orderpriority AS order_priority
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
  AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
GROUP BY l_orderkey, SUBSTR(CAST(o_orderdate AS STRING), 1, 10), o_orderpriority
"""


@query("tpch_q3_shipping_priority", oracle=_Q3_TEXT)
def tpch_q3_shipping_priority(spark, sf_dir):
    """TPC-H Q3 shape (unshipped-order revenue by order): the oracle string
    itself executes on Spark — zero translation. Catalyst broadcasts
    customer/nation-sized dims and pushes both date predicates into the
    scans (plan-audited family: test_plans.py)."""
    t = Tables(spark, sf_dir)
    _register_tpch_views(t)
    return spark.sql(_Q3_TEXT)


_Q10_TEXT = """
SELECT c_custkey AS cust_key,
  c_name AS cust_name,
  n_name AS nation,
  COUNT(*) AS n_return_lines,
  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
    AS lost_revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1993-10-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1994-01-01 00:00:00'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
"""


@query("tpch_q10_returned_items", oracle=_Q10_TEXT)
def tpch_q10_returned_items(spark, sf_dir):
    """TPC-H Q10 shape (revenue lost to returns per customer), same
    one-text-two-engines contract as Q3."""
    t = Tables(spark, sf_dir)
    _register_tpch_views(t)
    return spark.sql(_Q10_TEXT)


_Q5_TEXT = """
SELECT n_name AS nation,
  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
    AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name
"""


@query("tpch_q5_local_supplier_volume", oracle=_Q5_TEXT)
def tpch_q5_local_supplier_volume(spark, sf_dir):
    """TPC-H Q5 shape (revenue by nation where supplier and customer share a
    nation, one region, one order year). Six-table star: Catalyst broadcasts
    supplier/nation/region, the orders date filter pushes to the scan, and
    the only large shuffle keys on orderkey — the same plan a 100 TB run
    wants. The extra c_nationkey = s_nationkey equi-condition rides the
    supplier join, not a post-filter."""
    t = Tables(spark, sf_dir)
    _register_tpch_views(t)
    return spark.sql(_Q5_TEXT)


_Q7_TEXT = """
SELECT supp_nation, cust_nation, ship_year,
  CAST(SUM(volume) AS DOUBLE) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation,
    n2.n_name AS cust_nation,
    CAST(year(l_shipdate) AS INTEGER) AS ship_year,
    CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)) AS volume
  FROM supplier
  JOIN lineitem ON s_suppkey = l_suppkey
  JOIN orders ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
     OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
) shipping
GROUP BY supp_nation, cust_nation, ship_year
"""


@query("tpch_q7_volume_shipping", oracle=_Q7_TEXT)
def tpch_q7_volume_shipping(spark, sf_dir):
    """TPC-H Q7 shape (bilateral trade volume by ship year): the same
    dimension joined twice under different aliases (supplier's nation vs
    customer's nation) with a symmetric OR pair predicate. Both nation
    copies broadcast; the OR does not block pushdown because each branch is
    a constant test on broadcast-joined columns."""
    t = Tables(spark, sf_dir)
    _register_tpch_views(t)
    return spark.sql(_Q7_TEXT)


# Q14's headline is a ratio. Both engines sum in exact DECIMAL, cast the two
# exact sums to DOUBLE, and perform the identical IEEE multiply+divide — so
# the float compares bitwise across engines (the repo-wide convention:
# decimals until the last operation).
_Q14_TEXT = """
SELECT CAST(
    100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
        THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))
        ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
    / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
        AS DOUBLE)
  AS DOUBLE) AS promo_revenue_pct
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
"""


@query("tpch_q14_promo_effect", oracle=_Q14_TEXT)
def tpch_q14_promo_effect(spark, sf_dir):
    """TPC-H Q14 shape (promotion revenue share for one ship month): a
    conditional-aggregate ratio over a fact-dim join. One scan computes both
    sums (no per-branch re-scan); the month predicate pushes to the
    lineitem scan so only ~1/60 of the fact is read."""
    t = Tables(spark, sf_dir)
    _register_tpch_views(t)
    return spark.sql(_Q14_TEXT)


# The HAVING subquery compares exact decimals (l_quantity is integral-valued
# but stored as DOUBLE; summing doubles is addition-order-dependent, so both
# engines cast to DECIMAL inside SUM to make the >150 threshold exact).
_Q18_TEXT = """
SELECT c_name AS cust_name,
  c_custkey AS cust_key,
  o_orderkey AS order_key,
  SUBSTR(CAST(o_orderdate AS STRING), 1, 10) AS order_date,
  CAST(o_totalprice AS DOUBLE) AS total_price,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (
  SELECT l_orderkey FROM lineitem
  GROUP BY l_orderkey
  HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 150
)
GROUP BY c_name, c_custkey, o_orderkey,
  SUBSTR(CAST(o_orderdate AS STRING), 1, 10), o_totalprice
"""


@query("tpch_q18_large_volume_customers", oracle=_Q18_TEXT)
def tpch_q18_large_volume_customers(spark, sf_dir):
    """TPC-H Q18 shape (orders above a total-quantity threshold, with
    customer detail): IN over a grouped-HAVING subquery. Catalyst plans the
    subquery as an aggregate + left-semi join on orderkey — the same key the
    outer join and group use, so AQE reuses one partitioning end to end
    instead of re-shuffling per stage."""
    t = Tables(spark, sf_dir)
    _register_tpch_views(t)
    return spark.sql(_Q18_TEXT)


# The shipped schema has no l_commitdate/l_receiptdate, so "late" is a line
# shipped more than 60 days after its order date — same correlated-EXISTS
# shape as the spec's Q4 (priority-order checking).
_Q4_TEXT = """
SELECT o_orderpriority AS order_priority,
  COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey
      AND l_shipdate > o_orderdate + INTERVAL 60 DAY
  )
GROUP BY o_orderpriority
"""


@query("tpch_q4_order_priority", oracle=_Q4_TEXT)
def tpch_q4_order_priority(spark, sf_dir):
    """TPC-H Q4 shape (priority counts for orders with a late line):
    correlated EXISTS with an inequality on both tables' columns. Catalyst
    decorrelates it into a left-semi join on orderkey (the inequality rides
    as the join's extra condition) — one fact shuffle, never a per-order
    subquery loop; the quarter predicate prunes the orders scan first."""
    t = Tables(spark, sf_dir)
    _register_tpch_views(t)
    return spark.sql(_Q4_TEXT)


# No l_shipmode column — l_returnflag plays the two-valued ship-group role;
# the shape is Q12's: one fact join, CASE-split dual counts by priority class.
_Q12_TEXT = """
SELECT l_returnflag AS ship_group,
  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
  CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
      THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders
JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY l_returnflag
"""


@query("tpch_q12_shipmode_priority", oracle=_Q12_TEXT)
def tpch_q12_shipmode_priority(spark, sf_dir):
    """TPC-H Q12 shape (priority-class counts per ship group): both CASE
    branches evaluate in ONE pass over the joined fact (no per-branch
    re-scan), and the ship-year predicate pushes into the lineitem scan so
    the join only sees one year of lines."""
    t = Tables(spark, sf_dir)
    _register_tpch_views(t)
    # Parameterized wide lineitem (the tpch_q1 pattern): the ship-date
    # filter pushes into the scan and orders broadcasts, so the join probe +
    # CASE aggregation run in the single-split scan stage (r11 interleaved
    # A/B: 0.79 -> 0.64 s; the rest of the join family measured 1.2-1.8x
    # WORSE under the same widening and stays plain).
    return spark.sql(
        _Q12_TEXT.replace("JOIN lineitem ", "JOIN {li} "), li=t.wide("lineitem")
    )


# No partsupp table — lineitem's (l_partkey, l_suppkey) pairs are the
# supplier-part relation; the shape is Q16's: negated dim predicates, an
# IN size list, a NOT IN supplier blacklist subquery, COUNT(DISTINCT).
_Q16_TEXT = """
SELECT p_brand AS brand,
  p_type AS part_type,
  p_size AS part_size,
  COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#1'
  AND p_type <> 'PROMO'
  AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
  AND l_suppkey NOT IN (
    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
  )
GROUP BY p_brand, p_type, p_size
"""


@query("tpch_q16_supplier_part_types", oracle=_Q16_TEXT)
def tpch_q16_supplier_part_types(spark, sf_dir):
    """TPC-H Q16 shape (distinct suppliers per excluded-part group): NOT IN
    over a subquery plans as a null-aware anti join (broadcast — the
    blacklist is tiny), the <>/IN dim predicates push into the part scan,
    and COUNT(DISTINCT) expands to a two-level aggregate, partial-combined
    map-side before the one shuffle on the group keys."""
    t = Tables(spark, sf_dir)
    _register_tpch_views(t)
    return spark.sql(_Q16_TEXT)


# No p_container — each OR branch gates on (brand, size range, quantity
# range) only; the shape is Q19's: a disjunction of conjunctive range
# predicates spanning both join sides.
_Q19_TEXT = """
SELECT CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
    AS DOUBLE) AS revenue,
  COUNT(*) AS n_lines
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
        AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 25
        AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#14' AND p_size BETWEEN 1 AND 35
        AND l_quantity BETWEEN 20 AND 30)
"""


@query("tpch_q19_discounted_revenue", oracle=_Q19_TEXT)
def tpch_q19_discounted_revenue(spark, sf_dir):
    """TPC-H Q19 shape (revenue under a disjunction of brand/size/quantity
    windows): the classic pushdown stress — Catalyst factors the
    single-side conjuncts out of the OR, so the part scan prunes on
    (brand OR brand OR brand) and the lineitem scan on the quantity hull,
    before the join evaluates the full disjunction."""
    t = Tables(spark, sf_dir)
    _register_tpch_views(t)
    return spark.sql(_Q19_TEXT)


# Q22's "rich but inactive" shape. The average-balance threshold is computed
# in exact arithmetic (balance × count > sum over positive balances) so the
# cut compares identically on both engines — a double AVG would be
# addition-order-dependent and could flip boundary customers.
_Q22_TEXT = """
WITH stats AS (
  SELECT COUNT(*) AS n_pos,
    SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS bal_sum
  FROM customer
  WHERE c_acctbal > 0
)
SELECT c_mktsegment AS segment,
  COUNT(*) AS n_rich_inactive,
  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
FROM customer, stats
WHERE CAST(c_acctbal AS DECIMAL(18,2)) * n_pos > bal_sum
  AND NOT EXISTS (
    SELECT 1 FROM orders
    WHERE o_custkey = c_custkey
      AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
  )
GROUP BY c_mktsegment
"""


@query("tpch_q22_global_sales_opportunity", oracle=_Q22_TEXT)
def tpch_q22_global_sales_opportunity(spark, sf_dir):
    """TPC-H Q22 shape (above-average-balance customers with no recent
    orders, by segment): a one-row aggregate broadcast via CROSS JOIN plus
    NOT EXISTS planned as a left-anti join on custkey. The anti join's
    build side is the date-pruned orders slice, broadcast at dim size."""
    t = Tables(spark, sf_dir)
    _register_tpch_views(t)
    return spark.sql(_Q22_TEXT)


# --- round-4 part 2: the sweep completes — every remaining TPC-H shape -----
# (Q1, Q6, Q13, Q15, Q17, Q8, Q9, Q2, Q11, Q20, Q21, adapted to the shipped
# schema where a spec column/table is absent; each keeps the SPEC query's
# relational shape and runs the identical text on both engines.)

_Q1_TEXT = """
SELECT l_returnflag AS return_flag,
  l_linestatus AS line_status,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
    AS sum_disc_price,
  CAST(CAST(FLOOR(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
          * CAST(1 - l_discount AS DECIMAL(8,2))
          * CAST(1 + l_tax AS DECIMAL(8,2))) * 100 + 0.5) AS DECIMAL(38,0))
      * CAST(0.01 AS DECIMAL(3,2)) AS DOUBLE) AS sum_charge,
  CAST(COUNT(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2001-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


@query("tpch_q1_pricing_summary_sql", oracle=_Q1_TEXT)
def tpch_q1_pricing_summary_sql(spark, sf_dir):
    """TPC-H Q1 as ONE SQL text (the DataFrame form of the same semantics
    is `pricing_summary`): the canonical map-side-partial aggregation —
    six aggregates over two low-cardinality keys, one scan, one tiny
    shuffle of partial states. The 3-factor charge is computed entirely
    in exact decimals (each FACTOR cast to decimal, then decimal
    multiplies), and its 6-decimal total is emitted as half-up cents via
    floor(x*100 + 0.5) IN DECIMAL SPACE before the double cast. Two
    real cross-engine traps, both caught by the sf1 gate at 6M rows and
    invisible below it: (1) casting the double product to DECIMAL(18,6)
    hits the engines' different double->decimal conversions at the 6th
    decimal; (2) a 6-decimal total above ~9e9 scales past 2^53, where
    decimal->double conversion itself diverges by 1 ulp (and decimal
    RESCALING can't fix it: Spark rescales ties half-up, DuckDB
    half-even — measured). The floor trick uses only exact decimal ops,
    so no rounding mode is ever consulted; the cents total is back under
    2^53 and converts exactly."""
    t = Tables(spark, sf_dir)
    # Parameterized table ref instead of the shared temp view: Q1 is the one
    # pure full-scan aggregate in the SQL family, and its exact-decimal agg
    # work serializes on the single-split bench scan (r11 A/B: 2.01 → 1.30 s
    # with the widened scan; the SAME widening measured 1.4–1.8× SLOWER on
    # the join-heavy family — q3/q9/q17/q21 — so the views stay plain). The
    # {li} substitution is per-call and thread-local, so the concurrent
    # bench never sees a racy view redefinition. Oracle text is unchanged.
    return spark.sql(_Q1_TEXT.replace("FROM lineitem", "FROM {li}"), li=t.wide("lineitem"))


_Q6_TEXT = """
SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))) AS DOUBLE)
    AS revenue,
  CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


@query("tpch_q6_forecast_revenue", oracle=_Q6_TEXT)
def tpch_q6_forecast_revenue(spark, sf_dir):
    """TPC-H Q6 (forecast revenue change): the pushdown benchmark — every
    predicate is scan-evaluable, so the whole query is a parquet scan with
    three pushed filters feeding one codegen'd aggregate. No join, no
    wide shuffle; the plan's only exchange carries one partial-agg row per
    partition."""
    t = Tables(spark, sf_dir)
    _register_tpch_views(t)
    return spark.sql(_Q6_TEXT)


# No o_comment column — the spec's NOT LIKE '%special%requests%' exclusion
# becomes an order-priority exclusion; the customer-distribution shape
# (LEFT join so zero-order customers count, two-level aggregation) is intact.
_Q13_TEXT = """
SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
FROM (
  SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
  FROM customer
  LEFT JOIN orders ON c_custkey = o_custkey
    AND o_orderpriority <> '4-NOT SPECIFIED'
  GROUP BY c_custkey
) c_orders
GROUP BY c_count
"""


@query("tpch_q13_customer_distribution", oracle=_Q13_TEXT)
def tpch_q13_customer_distribution(spark, sf_dir):
    """TPC-H Q13 (customer order-count distribution): LEFT join with an
    extra join-side predicate (NOT a WHERE — zero-order customers must
    survive with count 0), then a second aggregation over the first's
    output. Both aggregations key small (custkey, then count), and the
    join's filter rides the join condition so it never turns the LEFT join
    inner."""
    t = Tables(spark, sf_dir)
    _register_tpch_views(t)
    return spark.sql(_Q13_TEXT)


# The spec's CREATE VIEW revenue0 is a CTE here (same text both engines);
# the top supplier is selected with the spec's correlated MAX subquery.
_Q15_TEXT = """
WITH revenue0 AS (
  SELECT l_suppkey AS supplier_no,
    SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s_suppkey AS supp_key,
  s_name AS supp_name,
  CAST(total_revenue AS DOUBLE) AS total_revenue
FROM supplier
JOIN revenue0 ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue0)
"""


@query("tpch_q15_top_supplier", oracle=_Q15_TEXT)
def tpch_q15_top_supplier(spark, sf_dir):
    """TPC-H Q15 (top supplier for a quarter): a reused CTE consumed twice
    (once joined, once under MAX) with a scalar subquery in the WHERE.
    Catalyst evaluates the MAX branch as a one-row subquery broadcast;
    ties all surface (the spec's semantics) because the comparison is on
    the EXACT decimal revenue, not a double."""
    t = Tables(spark, sf_dir)
    _register_tpch_views(t)
    return spark.sql(_Q15_TEXT)


# Q8: the customer's region gates the market; the supplier's nation is the
# "national" share numerator. p_type plays the spec's product filter.
_Q8_TEXT = """
SELECT order_year,
  CAST(
    CAST(SUM(CASE WHEN supp_nation = 'NATION_2' THEN volume
        ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
    / CAST(SUM(volume) AS DOUBLE)
  AS DOUBLE) AS mkt_share
FROM (
  SELECT CAST(year(o_orderdate) AS INTEGER) AS order_year,
    CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)) AS volume,
    n2.n_name AS supp_nation
  FROM part
  JOIN lineitem ON p_partkey = l_partkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region ON n1.n_regionkey = r_regionkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE r_name = 'ASIA'
    AND p_type = 'PROMO'
    AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
) all_nations
GROUP BY order_year
"""


@query("tpch_q8_market_share", oracle=_Q8_TEXT)
def tpch_q8_market_share(spark, sf_dir):
    """TPC-H Q8 shape (one nation's market share inside a region, by
    year): an eight-table join where nation participates twice under
    aliases on OPPOSITE sides of the fact (customer's nation gates the
    market, supplier's nation is the numerator), finished by a
    conditional-aggregate ratio. Every dim broadcasts; the fact shuffles
    once on orderkey; both ratio legs come out of ONE pass. Exact-decimal
    volumes; the two exact sums cast to DOUBLE for one IEEE divide."""
    t = Tables(spark, sf_dir)
    _register_tpch_views(t)
    return spark.sql(_Q8_TEXT)


# No ps_supplycost — profit proxies as revenue minus 60% of the part's
# retail price per unit. The spec's shape survives: part-gated fact join,
# supplier nation grouping, year extraction, exact-decimal amounts.
_Q9_TEXT = """
SELECT nation, order_year,
  CAST(SUM(amount) AS DOUBLE) AS sum_profit
FROM (
  SELECT n_name AS nation,
    CAST(year(o_orderdate) AS INTEGER) AS order_year,
    CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))
      - CAST(0.6 * p_retailprice * l_quantity AS DECIMAL(18,4)) AS amount
  FROM part
  JOIN lineitem ON p_partkey = l_partkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN orders ON o_orderkey = l_orderkey
  WHERE p_name LIKE '%gear%'
) profit
GROUP BY nation, order_year
"""


@query("tpch_q9_product_profit", oracle=_Q9_TEXT)
def tpch_q9_product_profit(spark, sf_dir):
    """TPC-H Q9 shape (profit by supplier nation and year for a product
    family): a LIKE-gated part filter pushes into the dim scan BEFORE the
    fact join, the five-table join broadcasts everything but lineitem,
    and profit arithmetic stays in exact decimals until the final cast."""
    t = Tables(spark, sf_dir)
    _register_tpch_views(t)
    return spark.sql(_Q9_TEXT)


# Q17: the spec's 0.2*avg(quantity) correlated threshold, verbatim shape
# (Brand/container → brand + size gate here). The headline divide-by-7
# ("average yearly revenue") is kept.
_Q17_TEXT = """
SELECT CAST(
    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0
  AS DOUBLE) AS avg_yearly,
  CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#11'
  AND p_size <= 20
  AND l_quantity < (
    SELECT 0.2 * AVG(l_quantity)
    FROM lineitem l2
    WHERE l2.l_partkey = p_partkey
  )
"""


@query("tpch_q17_small_quantity_revenue", oracle=_Q17_TEXT)
def tpch_q17_small_quantity_revenue(spark, sf_dir):
    """TPC-H Q17 shape (revenue locked in small-quantity orders): the
    classic correlated AGGREGATE subquery — each line compares against
    0.2x its part's average quantity. Catalyst decorrelates into an
    aggregate on partkey joined back to the gated fact: one extra
    aggregation instead of a per-row subquery loop. The threshold itself
    (0.2*avg of integral-valued doubles) is exact in IEEE, so the strict
    < compares identically on both engines."""
    t = Tables(spark, sf_dir)
    _register_tpch_views(t)
    return spark.sql(_Q17_TEXT)


# No partsupp table — lineitem's observed per-unit prices play the supply
# offers: a (part, supplier) pair's offer is its MINIMUM observed unit
# price (raw IEEE division, deliberately un-rounded: both engines compare
# and minimize the identical doubles; rounding at a decimal boundary is
# the one thing that diverges cross-engine — see the retail_ratio note).
_Q2_TEXT = """
WITH ps AS (
  SELECT l_partkey AS partkey, l_suppkey AS suppkey,
    MIN(l_extendedprice / l_quantity) AS offer_price
  FROM lineitem
  GROUP BY l_partkey, l_suppkey
)
SELECT s_name AS supp_name,
  n_name AS nation,
  p_partkey AS part_key,
  p_name AS part_name,
  offer_price
FROM part
JOIN ps ON p_partkey = ps.partkey
JOIN supplier ON s_suppkey = ps.suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE p_size = 15
  AND p_type = 'SMALL'
  AND r_name = 'EUROPE'
  AND offer_price = (
    SELECT MIN(ps2.offer_price)
    FROM ps ps2
    JOIN supplier s2 ON s2.s_suppkey = ps2.suppkey
    JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
    JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
    WHERE ps2.partkey = p_partkey
      AND r2.r_name = 'EUROPE'
  )
"""


@query("tpch_q2_min_cost_supplier", oracle=_Q2_TEXT)
def tpch_q2_min_cost_supplier(spark, sf_dir):
    """TPC-H Q2 shape (minimum-cost supplier per part within a region):
    the classic correlated-MIN subquery over a derived supply relation,
    consumed twice (join + per-part minimum). Catalyst decorrelates the
    scalar subquery into a min-aggregate joined back on partkey; all dims
    broadcast; ties (two suppliers at the same exact minimum) surface,
    per spec."""
    t = Tables(spark, sf_dir)
    _register_tpch_views(t)
    return spark.sql(_Q2_TEXT)


# No ps_availqty — a part's "stock value" is its shipped revenue via the
# region's suppliers. Q11's shape survives: grouped sum filtered by a
# scalar subquery over the SAME relation. The spec's fixed fraction is
# 1/SF-scaled (a share threshold shrinks as parts multiply), so this form
# self-scales instead: value > 1.5x the average part value, cross-
# multiplied to EXACT integer/decimal arithmetic (2*value*count > 3*total)
# so no engine ever rounds the cut.
_Q11_TEXT = """
WITH v AS (
  SELECT l_partkey AS part_key,
    SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS pv
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE n_regionkey = 2
  GROUP BY l_partkey
)
SELECT part_key, CAST(pv AS DOUBLE) AS part_value
FROM v
WHERE pv * (SELECT 2 * COUNT(*) FROM v) > (SELECT 3 * SUM(pv) FROM v)
"""


@query("tpch_q11_important_stock", oracle=_Q11_TEXT)
def tpch_q11_important_stock(spark, sf_dir):
    """TPC-H Q11 shape (parts whose value exceeds a fraction of the
    global total): HAVING against an uncorrelated scalar subquery over
    the same filtered relation. The scalar branch evaluates once and
    broadcasts as a one-row literal; the threshold compares EXACT
    decimals (sum × an exact decimal literal), so the cut is
    engine-independent down to the last cent."""
    t = Tables(spark, sf_dir)
    _register_tpch_views(t)
    return spark.sql(_Q11_TEXT)


# No ps_availqty — "excess" inverts to dominance: suppliers who shipped
# more than 1/8 of some ECONOMY part's total quantity (x8 keeps the cut
# in exact decimal arithmetic; 1/8 holds rows at every tested scale since
# per-part supplier shares concentrate near 1/n_suppliers). The spec's
# nested IN → grouped-HAVING → correlated-scalar chain is intact.
_Q20_TEXT = """
SELECT s_name AS supp_name,
  n_name AS nation
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
WHERE n_regionkey = 1
  AND s_suppkey IN (
    SELECT l1.l_suppkey
    FROM lineitem l1
    JOIN part ON p_partkey = l1.l_partkey
    WHERE p_type = 'ECONOMY'
    GROUP BY l1.l_suppkey, l1.l_partkey
    HAVING SUM(CAST(l1.l_quantity AS DECIMAL(18,2))) * 8 > (
      SELECT SUM(CAST(l2.l_quantity AS DECIMAL(18,2)))
      FROM lineitem l2
      WHERE l2.l_partkey = l1.l_partkey
    )
  )
"""


@query("tpch_q20_dominant_suppliers", oracle=_Q20_TEXT)
def tpch_q20_dominant_suppliers(spark, sf_dir):
    """TPC-H Q20 shape (suppliers dominating a part's volume): an IN
    subquery whose HAVING carries a CORRELATED scalar aggregate (each
    (supplier, part) group compares against that part's total). Catalyst
    decorrelates the inner aggregate on partkey, joins it back, and plans
    the IN as a semi join on suppkey — three aggregation levels, zero
    per-row subquery execution. Exact-decimal quantity sums."""
    t = Tables(spark, sf_dir)
    _register_tpch_views(t)
    return spark.sql(_Q20_TEXT)


# No l_commitdate/l_receiptdate — "kept the order waiting" is shipping
# more than 90 days after the order date. The spec's EXISTS / NOT EXISTS
# pair (another supplier participated; no OTHER supplier was late) is
# verbatim.
_Q21_TEXT = """
SELECT s_name AS supp_name,
  CAST(COUNT(*) AS BIGINT) AS numwait
FROM supplier
JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
JOIN orders ON o_orderkey = l1.l_orderkey
JOIN nation ON s_nationkey = n_nationkey
WHERE o_orderstatus = 'F'
  AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey
      AND l2.l_suppkey <> l1.l_suppkey
  )
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    WHERE l3.l_orderkey = l1.l_orderkey
      AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_shipdate > o_orderdate + INTERVAL 90 DAY
  )
  AND n_regionkey = 1
GROUP BY s_name
"""


@query("tpch_q21_suppliers_kept_waiting", oracle=_Q21_TEXT)
def tpch_q21_suppliers_kept_waiting(spark, sf_dir):
    """TPC-H Q21 shape (the sole late supplier in multi-supplier orders):
    the hardest decorrelation in the suite — an EXISTS and a NOT EXISTS
    over the same fact, both correlated on orderkey with an outer-column
    (o_orderdate) inside the anti branch. Catalyst plans them as a
    left-semi and a left-anti join stacked on the orderkey partitioning
    the main join already established — the fact shuffles once, not three
    times."""
    t = Tables(spark, sf_dir)
    _register_tpch_views(t)
    return spark.sql(_Q21_TEXT)
