"""Product pricing-history composition (reference:
fct_product_pricing_history.sql — the reference's heaviest window stack:
observed prices, 30-day rolling clusters W8, running-max fallback W9, lag
trend W5, retail comparison) and inventory deltas (I2/W5:
fct_inventory_history.sql:39-47).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from importer_spark.functions import dec, growth_pct, out_double
from importer_spark.io import Tables
from importer_spark.queries.core import D2
from importer_spark.queries.registry import query

_PRICING_SQL = """
WITH obs AS (
  SELECT l.l_partkey AS part_key,
         l.l_orderkey, l.l_linenumber,
         l.l_shipdate,
         strftime(l.l_shipdate, '%Y-%m-%d') AS ship_date,
         -- scale 8: cents/qty can terminate exactly at <=7dp (qty a 2^a*5^b),
         -- and round(x,6) at an exact boundary is not engine-portable
         ROUND(l.l_extendedprice / l.l_quantity, 8) AS obs_price,
         p.p_retailprice
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
)
SELECT part_key, ship_date, l_orderkey AS order_key, l_linenumber AS line_number,
  obs_price,
  LAG(obs_price) OVER w_seq AS prev_price,
  ROUND((obs_price - LAG(obs_price) OVER w_seq)
        / NULLIF(LAG(obs_price) OVER w_seq, 0) * 100.0, 6) AS price_change_pct,
  COUNT(*) OVER w_range AS obs_30d,
  ROUND(MAX(obs_price) OVER w_run, 8) AS running_max_price,
  -- FLOOR(x*1e6 + 0.5)/1e6, not ROUND(x, 6): an 8dp/2dp quotient double can
  -- land exactly on a 7th-digit '5' (sf0.1 hits two), and the engines'
  -- ROUNDs then disagree (binary-expansion HALF_UP vs shortest-repr). The
  -- floor formula is the same IEEE mul/add/floor/div in both engines.
  FLOOR(obs_price / NULLIF(p_retailprice, 0) * 1000000 + 0.5) / 1000000
    AS retail_ratio
FROM obs
WINDOW
  -- obs_price is the LAST tiebreak: the synthetic lineitem's
  -- (l_orderkey, l_linenumber) is NOT unique (118k dup pairs at sf0.1),
  -- and the r8 skew axis collided dup pairs onto one hot part_key — 213
  -- exact (part, shipdate, orderkey, linenumber) ties whose LAG/running-
  -- max became engine-order-dependent. With the value tiebreak, rows
  -- still tied are identical in every output column, so the OUTPUT
  -- multiset is deterministic on both engines.
  w_seq AS (PARTITION BY part_key ORDER BY l_shipdate NULLS FIRST, l_orderkey, l_linenumber,
            obs_price NULLS FIRST),
  w_range AS (PARTITION BY part_key ORDER BY epoch_us(l_shipdate) NULLS FIRST
              RANGE BETWEEN 2592000000000 PRECEDING AND CURRENT ROW),
  w_run AS (PARTITION BY part_key ORDER BY l_shipdate NULLS FIRST, l_orderkey, l_linenumber,
            obs_price NULLS FIRST
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


@query("product_pricing_history", oracle=_PRICING_SQL)
def product_pricing_history(spark, sf_dir):
    """The reference's heaviest window composition in ONE plan: per-part
    observed prices with lag trend (W5), 30-day RANGE-frame observation
    clusters (W8), running-max fallback price (W9), and retail comparison
    (fct_product_pricing_history.sql:118-252). All four windows share the
    part_key partitioning — one shuffle, one in-partition sort serves the
    sequence windows, the range frame rides the same sort on epoch micros."""
    t = Tables(spark, sf_dir)
    obs = (
        t.lineitem.join(F.broadcast(t.part), F.col("l_partkey") == F.col("p_partkey"))
        .select(
            F.col("l_partkey").alias("part_key"),
            "l_orderkey",
            "l_linenumber",
            "l_shipdate",
            F.date_format("l_shipdate", "yyyy-MM-dd").alias("ship_date"),
            F.round(F.col("l_extendedprice") / F.col("l_quantity"), 8).alias("obs_price"),
            "p_retailprice",
        )
    )
    # obs_price as last tiebreak — see the oracle's WINDOW comment (r8 skew
    # axis: duplicate (orderkey, linenumber) pairs collide on a hot part).
    w_seq = Window.partitionBy("part_key").orderBy(
        "l_shipdate", "l_orderkey", "l_linenumber", "obs_price"
    )
    w_range = (
        Window.partitionBy("part_key")
        .orderBy(F.unix_micros(F.col("l_shipdate").cast("timestamp")))
        .rangeBetween(-2_592_000_000_000, 0)
    )
    w_run = w_seq.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev = F.lag("obs_price").over(w_seq)
    return obs.select(
        "part_key",
        "ship_date",
        F.col("l_orderkey").alias("order_key"),
        F.col("l_linenumber").alias("line_number"),
        "obs_price",
        prev.alias("prev_price"),
        growth_pct(F.col("obs_price"), prev).alias("price_change_pct"),
        F.count("*").over(w_range).alias("obs_30d"),
        F.round(F.max("obs_price").over(w_run), 8).alias("running_max_price"),
        # Portable half-up (see the oracle text): identical IEEE op sequence
        # on both engines, immune to the decimal-boundary ROUND divergence.
        (
            F.floor(
                F.col("obs_price") / F.nullif(F.col("p_retailprice"), F.lit(0)) * 1e6
                + F.lit(0.5)
            )
            / 1e6
        ).alias("retail_ratio"),
    )


_INVENTORY_SQL = f"""
WITH monthly AS (
  SELECT l_partkey AS part_key,
         strftime(date_trunc('month', l_shipdate), '%Y-%m') AS ship_month,
         CAST(SUM(CAST(l_quantity AS {D2})) AS DOUBLE) AS units_shipped
  FROM lineitem GROUP BY 1, 2
)
SELECT part_key, ship_month, units_shipped,
  LAG(units_shipped) OVER w AS prev_month_units,
  ROUND(units_shipped - COALESCE(LAG(units_shipped) OVER w, 0), 6) AS units_delta,
  ROUND((units_shipped - LAG(units_shipped) OVER w)
        / NULLIF(LAG(units_shipped) OVER w, 0) * 100.0, 6) AS mom_change_pct
FROM monthly
WINDOW w AS (PARTITION BY part_key ORDER BY ship_month NULLS FIRST)
"""


@query("inventory_deltas", oracle=_INVENTORY_SQL)
def inventory_deltas(spark, sf_dir):
    """Snapshot-series deltas (reference I2/W5: inventory history keyed by
    (item, snapshot) with lag deltas, fct_inventory_history.sql:39-47) —
    monthly shipped units per part with month-over-month change."""
    t = Tables(spark, sf_dir)
    monthly = t.lineitem.groupBy(
        F.col("l_partkey").alias("part_key"),
        F.date_format(F.date_trunc("month", "l_shipdate"), "yyyy-MM").alias("ship_month"),
    ).agg(out_double(F.sum(dec(F.col("l_quantity")))).alias("units_shipped"))
    w = Window.partitionBy("part_key").orderBy("ship_month")
    prev = F.lag("units_shipped").over(w)
    return monthly.select(
        "part_key",
        "ship_month",
        "units_shipped",
        prev.alias("prev_month_units"),
        F.round(F.col("units_shipped") - F.coalesce(prev, F.lit(0.0)), 6).alias("units_delta"),
        growth_pct(F.col("units_shipped"), prev).alias("mom_change_pct"),
    )


# Definitional interval-join oracle — the INDEPENDENT formulation (version
# validity intervals via LEAD, facts join the covering interval). Default
# on every axis where it is affordable (r9 ADVICE, medium): an oracle that
# shares the engine's as-of algorithm would certify a shared conceptual
# bug silently. Quadratic on a hot part_key, so the SKEW gate swaps in the
# as-of form below (tools/run_local_gate.py --pit-oracle asof; the r8 skew
# gate's DuckDB side spilled 22 GiB on this form and died while the engine
# finished 5.8M rows in 44 s). tests/test_pit_oracle_crosscheck.py proves
# the two oracle forms identical in DuckDB at the driver scales each
# round, so the as-of form stays anchored to the definitional one.
_PIT_SQL_INTERVAL = """
WITH daily AS (
  SELECT l_partkey AS part_key, l_shipdate AS valid_from,
         MIN(ROUND(l_extendedprice / l_quantity, 8)) AS price
  FROM lineitem
  -- a version without a date has no place on the validity axis (and the
  -- engines' as-of/interval NULL conventions differ) — dates required
  WHERE l_shipdate IS NOT NULL
  GROUP BY 1, 2
),
versions AS (
  SELECT part_key, valid_from, price,
         LEAD(valid_from) OVER (
           PARTITION BY part_key ORDER BY valid_from
         ) AS valid_to
  FROM daily
),
-- point-in-time: the version whose [valid_from, valid_to) covers the order
pit AS (
  SELECT o.o_orderkey, l.l_partkey, o.o_orderdate, v.price
  FROM orders o
  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  JOIN versions v
    ON v.part_key = l.l_partkey
   AND v.valid_from <= o.o_orderdate
   AND (v.valid_to IS NULL OR o.o_orderdate < v.valid_to)
)
SELECT o_orderkey AS order_key,
       l_partkey AS part_key,
       strftime(o_orderdate, '%Y-%m-%d') AS order_date,
       CAST(price AS DOUBLE) AS pit_price
FROM pit
"""

_PIT_SQL_ASOF = """
WITH daily AS (
  SELECT l_partkey AS part_key, l_shipdate AS valid_from,
         MIN(ROUND(l_extendedprice / l_quantity, 8)) AS price
  FROM lineitem
  -- a version without a date has no place on the validity axis (and the
  -- engines' as-of/interval NULL conventions differ) — dates required
  WHERE l_shipdate IS NOT NULL
  GROUP BY 1, 2
),
facts AS (
  SELECT o.o_orderkey, l.l_partkey AS part_key, o.o_orderdate
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
),
-- union-and-window as-of (SURVEY §2.4 J8), replacing the definitional
-- interval join: the former oracle's versions-range join is quadratic on
-- a hot part_key (the r8 skew gate's DuckDB side spilled 22 GiB and died
-- on one key while the engine finished 5.8M rows in 44 s). Version rows
-- (kind 0) sort before fact rows (kind 1) at equal dates — a version is
-- valid ON its from-date — and each fact reads the latest carried
-- version STRUCT (struct, not bare price: a NULL-price version still
-- covers the date and must surface as pit_price NULL, never fall through
-- to an older version). Linear per key, same as the engine's asof_join.
tl AS (
  SELECT part_key, valid_from AS ts, 0 AS kind,
         {'p': price, 'vf': valid_from} AS v,
         NULL::BIGINT AS o_orderkey, NULL::DATE AS o_orderdate
  FROM daily
  UNION ALL
  SELECT part_key, o_orderdate AS ts, 1 AS kind, NULL AS v,
         o_orderkey, o_orderdate
  FROM facts
),
filled AS (
  SELECT part_key, kind, o_orderkey, o_orderdate,
    -- NULLS FIRST explicitly: Spark's ASC default is nulls-first, DuckDB's
    -- is nulls-LAST — without it a NULL-date fact (the NULL fuzz axis)
    -- sorts after every version and picks up the newest price, where the
    -- engine and the definitional interval join both drop it
    LAST_VALUE(v IGNORE NULLS) OVER (
      PARTITION BY part_key ORDER BY ts NULLS FIRST, kind
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
    ) AS pv
  FROM tl
)
SELECT o_orderkey AS order_key,
       part_key,
       strftime(o_orderdate, '%Y-%m-%d') AS order_date,
       CAST(struct_extract(pv, 'p') AS DOUBLE) AS pit_price
FROM filled
WHERE kind = 1 AND pv IS NOT NULL
"""

@query("point_in_time_price", oracle=_PIT_SQL_INTERVAL)
def point_in_time_price(spark, sf_dir):
    """SCD2 point-in-time lookup — the temporal-snapshot pattern every
    warehouse needs (reference: fct_product_pricing_history tracks price
    versions; this query closes the loop by joining facts BACK to the
    version valid at their date). A versioned dimension is derived from
    the data itself: one row per (part, observation day) with
    deterministic representative price, validity intervals via LEAD.

    Scale shape: version building is one shuffle on part_key, and the
    lookup is the repo's single-shuffle AS-OF operator (union-and-fill,
    operators/joins.py) — the latest version ≤ order date IS the version
    whose [valid_from, next_valid_from) interval covers it, so the as-of
    rewrite is semantics-identical to the definitional interval join while
    doing LINEAR in-partition work instead of scanning every version of a
    part per fact row (26.4 s → 9.5 s at sf1). Orders whose date precedes
    a part's first version drop (inner semantics), matching the oracle.
    TWO oracle forms (r9 ADVICE): the definitional interval join is the
    default — an algorithm-independent check — and the union-and-window
    as-of twin runs only on the skew gate (run_local_gate.py --pit-oracle asof),
    where the interval join is quadratic on a hot part_key (the r8 skew
    gate's DuckDB side spilled 22 GiB and died). The two forms are proven
    identical in DuckDB at the driver scales each pytest run
    (tests/test_pit_oracle_crosscheck.py)."""
    from importer_spark.operators.joins import asof_join

    t = Tables(spark, sf_dir)
    daily = (
        t.lineitem.filter(F.col("l_shipdate").isNotNull()).groupBy(
            F.col("l_partkey").alias("part_key"),
            F.col("l_shipdate").alias("valid_from"),
        )
        .agg(
            F.min(
                F.round(F.col("l_extendedprice") / F.col("l_quantity"), 8)
            ).alias("price")
        )
    )
    facts = t.orders.join(
        t.lineitem.select("l_orderkey", F.col("l_partkey").alias("part_key")),
        F.col("l_orderkey") == F.col("o_orderkey"),
    ).select("o_orderkey", "part_key", "o_orderdate")
    pit = asof_join(
        facts,
        daily,
        on=["part_key"],
        left_ts="o_orderdate",
        right_ts="valid_from",
        right_value_cols=["price"],
        keep_match_ts=True,  # matched = a version exists (filter on the TS,
        # not the price — a null-price version still covers the date and
        # must surface as pit_price NULL). Requested explicitly: filtering
        # on the dropped column only worked via ResolveMissingReferences.
    ).filter(F.col("_asof_match_ts_asof").isNotNull())
    return pit.select(
        F.col("o_orderkey").alias("order_key"),
        F.col("part_key"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
        F.col("price_asof").cast("double").alias("pit_price"),
    )
