"""Relational query catalog (SURVEY.md section 2 operator demos).

Every query here exists to demonstrate one operator family from the
reference on the driver's TPC-H-ish tables (FIXTURES.md section B
mapping) and is paired with DuckDB oracle SQL.

Cross-engine determinism rules (applied throughout):

- Double reductions (SUM/AVG) are order-sensitive in the last ULPs,
  and Spark rounds a double's shortest decimal repr (BigDecimal
  HALF_UP) while DuckDB rounds the binary value — they disagree
  whenever a value is decimal-exact at the rounding boundary.  Rules:
  (1) money columns are 2dp-exact -> SUM through DECIMAL casts (exact,
  order-independent, and the right answer at 100 TB anyway);
  (2) per-row arithmetic with an identical expression tree is
  bit-deterministic -> never round it;
  (3) a single division of identical operands is bit-deterministic ->
  AVG = exact-decimal-sum cast to double / count, unrounded;
  (4) round(x, d) only when x is decimal-exact at exactly d digits;
  (5) DECIMAL never crosses the output boundary.  Spark.toPandas()
  renders DecimalType as scale-preserving ``Decimal('123.4500')``
  objects while DuckDB's pandas fetch renders DECIMAL as float64
  ``123.45`` — any repr-level value hash diverges on trailing zeros
  (round-1 CORRECTNESS fails: star_rollup / topn_revenue /
  customer_rollup).  Aggregate exactly THROUGH decimal, then cast the
  final column to DOUBLE in both the Spark plan and the oracle SQL:
  the exact decimal -> nearest-double conversion is correctly rounded
  in both engines while the unscaled value fits in 2^53.
- ``row_number()`` is INT in Spark, BIGINT in DuckDB -> cast to bigint.
- ``year()`` etc. are INT in Spark, BIGINT in DuckDB -> oracle casts.
- events.ts is TIMESTAMP(NANOS): Spark truncates to micros at load
  (tables.load_table); oracle mirrors via the ``EV`` CTE below.
- Every window/top-k ordering includes a unique tie-break column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..checkpoints import checkpoint
from ..operators import aggregates as agg_ops
from ..operators import cms as cms_ops
from ..operators import dedup as dedup_ops
from ..operators import joins as join_ops
from ..operators import windows as win_ops
from ..tables import load_table

# Oracle-side mirror of tables.load_table's ns->us truncation.
EV = (
    "WITH ev AS (SELECT event_id, make_timestamp(epoch_ns(ts)//1000) AS ts, "
    "user_id, event_type, value, props FROM events) "
)


# ---------------------------------------------------------------- S/P: scans, projections, filters


def q_typed_projection(spark: SparkSession, sf: str) -> DataFrame:
    """S2 typed projection + 2.8 scalar family: CASE ladder, COALESCE/
    NULLIF, CONCAT_WS with NULL-dropping, SUBSTRING, date parts
    (reference cast block ``validate_bronze.py:26-43``)."""
    o = load_table(spark, sf, "orders")
    return o.select(
        F.col("o_orderkey"),
        F.when(F.col("o_orderstatus") == "O", "OPEN")
        .when(F.col("o_orderstatus") == "F", "FULFILLED")
        .otherwise("PARTIAL")
        .alias("status_desc"),
        F.substring("o_orderpriority", 1, 1).cast("int").alias("priority_code"),
        F.col("o_orderdate").cast("date").alias("order_date"),
        F.year("o_orderdate").alias("order_year"),
        F.concat_ws(
            ";",
            F.when(F.col("o_totalprice") > 300000, "HIGH_VALUE"),
            F.when(F.col("o_orderpriority").like("1%"), "URGENT"),
        ).alias("flags"),
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("price_cents"),
        F.coalesce(F.nullif("o_orderstatus", F.lit("P")), F.lit("PENDING")).alias(
            "status_norm"
        ),
    )


ORACLE_TYPED_PROJECTION = """
SELECT o_orderkey,
       CASE WHEN o_orderstatus = 'O' THEN 'OPEN'
            WHEN o_orderstatus = 'F' THEN 'FULFILLED'
            ELSE 'PARTIAL' END AS status_desc,
       CAST(substring(o_orderpriority, 1, 1) AS INTEGER) AS priority_code,
       CAST(o_orderdate AS DATE) AS order_date,
       CAST(year(o_orderdate) AS INTEGER) AS order_year,
       concat_ws(';',
                 CASE WHEN o_totalprice > 300000 THEN 'HIGH_VALUE' END,
                 CASE WHEN o_orderpriority LIKE '1%' THEN 'URGENT' END) AS flags,
       CAST(round(o_totalprice * 100, 0) AS BIGINT) AS price_cents,
       COALESCE(NULLIF(o_orderstatus, 'P'), 'PENDING') AS status_norm
FROM orders
"""


def q_watermark_filter(spark: SparkSession, sf: str) -> DataFrame:
    """P1 high-watermark incremental filter: new rows OR late-arriving
    updates past the bookmark (``validate_bronze.py:44``)."""
    ev = load_table(spark, sf, "events")
    w = F.lit("2024-01-20 00:00:00").cast("timestamp")
    return ev.filter(
        (F.col("ts") > w) | ((F.col("ts") <= w) & (F.col("value") > 900))
    ).select("event_id", "ts", "user_id", "event_type", "value")


ORACLE_WATERMARK_FILTER = EV + """
SELECT event_id, ts, user_id, event_type, value
FROM ev
WHERE ts > TIMESTAMP '2024-01-20 00:00:00'
   OR (ts <= TIMESTAMP '2024-01-20 00:00:00' AND value > 900)
"""


def q_date_range_filter(spark: SparkSession, sf: str) -> DataFrame:
    """P3 backfill date-range slice (``bronze_backfill.py:47``)."""
    o = load_table(spark, sf, "orders")
    return o.filter(
        F.col("o_orderdate")
        .cast("date")
        .between(F.lit("1997-01-01"), F.lit("1997-12-31"))
    ).select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")


ORACLE_DATE_RANGE_FILTER = """
SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice
FROM orders
WHERE CAST(o_orderdate AS DATE) BETWEEN DATE '1997-01-01' AND DATE '1997-12-31'
"""

# C1 tier-1 quarantine predicate over lineitem (validate_bronze.py:100-104):
# NULL key fields, non-positive quantity, "future" ship date.
_T1_PRED = (
    "l_quantity IS NULL OR l_quantity <= 0 OR l_shipdate IS NULL "
    "OR l_shipdate > TIMESTAMP '2001-09-01 00:00:00' OR l_discount < 0"
)


def q_validation_quarantine(spark: SparkSession, sf: str) -> DataFrame:
    """C1/P4 quarantine branch with CASE error classification
    (``validate_bronze.py:65-105``)."""
    li = load_table(spark, sf, "lineitem")
    return li.filter(F.expr(_T1_PRED)).select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        "l_shipdate",
        F.when(F.col("l_quantity").isNull(), "NULL_QUANTITY")
        .when(F.col("l_quantity") <= 0, "NON_POSITIVE_QUANTITY")
        .when(F.col("l_shipdate").isNull(), "NULL_SHIP_DATE")
        .when(
            F.col("l_shipdate") > F.lit("2001-09-01 00:00:00").cast("timestamp"),
            "FUTURE_SHIP_DATE",
        )
        .otherwise("NEGATIVE_DISCOUNT")
        .alias("error_reason"),
        F.lit("TIER1").alias("error_tier"),
    )


ORACLE_VALIDATION_QUARANTINE = f"""
SELECT l_orderkey, l_linenumber, l_quantity, l_shipdate,
       CASE WHEN l_quantity IS NULL THEN 'NULL_QUANTITY'
            WHEN l_quantity <= 0 THEN 'NON_POSITIVE_QUANTITY'
            WHEN l_shipdate IS NULL THEN 'NULL_SHIP_DATE'
            WHEN l_shipdate > TIMESTAMP '2001-09-01 00:00:00' THEN 'FUTURE_SHIP_DATE'
            ELSE 'NEGATIVE_DISCOUNT' END AS error_reason,
       'TIER1' AS error_tier
FROM lineitem
WHERE {_T1_PRED}
"""


def q_validation_kept(spark: SparkSession, sf: str) -> DataFrame:
    """C1 survivor branch: negated tier-1 predicate + tier-2 quality
    flag + CONCAT_WS error list + tier-3 COALESCE fix
    (``validate_bronze.py:114-168``)."""
    li = load_table(spark, sf, "lineitem")
    return li.filter(~F.expr(_T1_PRED)).select(
        "l_orderkey",
        "l_linenumber",
        F.coalesce("l_returnflag", F.lit("N")).alias("returnflag_fixed"),
        F.when(
            (F.col("l_discount") > 0.09) | (F.col("l_tax") > 0.07),
            "FAILED_VALIDATION",
        )
        .otherwise("PASSED")
        .alias("data_quality_flag"),
        F.concat_ws(
            ";",
            F.when(F.col("l_discount") > 0.09, "HIGH_DISCOUNT"),
            F.when(F.col("l_tax") > 0.07, "HIGH_TAX"),
        ).alias("validation_errors"),
    )


ORACLE_VALIDATION_KEPT = f"""
SELECT l_orderkey, l_linenumber,
       COALESCE(l_returnflag, 'N') AS returnflag_fixed,
       CASE WHEN l_discount > 0.09 OR l_tax > 0.07 THEN 'FAILED_VALIDATION'
            ELSE 'PASSED' END AS data_quality_flag,
       concat_ws(';',
                 CASE WHEN l_discount > 0.09 THEN 'HIGH_DISCOUNT' END,
                 CASE WHEN l_tax > 0.07 THEN 'HIGH_TAX' END) AS validation_errors
FROM lineitem
WHERE NOT ({_T1_PRED})
"""


def q_soft_delete_filter(spark: SparkSession, sf: str) -> DataFrame:
    """P5 NULL-tolerant soft-delete filter — three-valued logic form
    ``(flag = false OR flag IS NULL)`` (``validate_silver.py:77``)."""
    ev = load_table(spark, sf, "events")
    return ev.filter(
        (F.col("value") < 900) | F.col("value").isNull()
    ).select("event_id", "user_id", "value")


ORACLE_SOFT_DELETE_FILTER = EV + """
SELECT event_id, user_id, value
FROM ev
WHERE value < 900 OR value IS NULL
"""


# ---------------------------------------------------------------- J: joins


def q_star_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Flagship C8-shaped star aggregation: fact lineitem joined through
    orders -> customer -> nation -> region with broadcast dims, derived
    revenue measure, multi-key rollup
    (``validate_fact_transactions.py:201-224`` shape)."""
    li = load_table(spark, sf, "lineitem")
    o = load_table(spark, sf, "orders")
    c = load_table(spark, sf, "customer")
    n = load_table(spark, sf, "nation")
    r = load_table(spark, sf, "region")
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return (
        joined.groupBy("r_name", "n_name")
        .agg(
            F.countDistinct("o_orderkey").alias("order_count"),
            F.count("*").alias("lineitem_count"),
            F.sum(
                F.col("l_extendedprice").cast("decimal(12,2)")
                * (1 - F.col("l_discount")).cast("decimal(8,2)")
            )
            .cast("decimal(30,4)")
            .cast("double")
            .alias("revenue"),
            (
                F.sum(F.col("l_discount").cast("decimal(8,2)")).cast("double")
                / F.count("*")
            ).alias("avg_discount"),
        )
    )


ORACLE_STAR_ROLLUP = """
SELECT r_name, n_name,
       count(DISTINCT o_orderkey) AS order_count,
       count(*) AS lineitem_count,
       CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(8,2)))
            AS DECIMAL(30,4)) AS DOUBLE) AS revenue,
       CAST(sum(CAST(l_discount AS DECIMAL(8,2))) AS DOUBLE) / count(*) AS avg_discount
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
"""


def q_supplier_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """J1 star rollup through the SUPPLIER dim chain — the TPC-H analog
    of the reference's merchant-sliced revenue report through
    ``merchant_key`` (``Gold Layer README.md:417-431``,
    ``validate_fact_transactions.py:208-211``): the fact joined to a
    second independent dim hierarchy, top suppliers by revenue."""
    li = load_table(spark, sf, "lineitem")
    s = load_table(spark, sf, "supplier")
    n = load_table(spark, sf, "nation")
    rolled = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("s_suppkey", "s_name", "n_name")
        .agg(
            F.count("*").alias("lineitem_count"),
            F.sum(
                F.col("l_extendedprice").cast("decimal(12,2)")
                * (1 - F.col("l_discount")).cast("decimal(8,2)")
            )
            .cast("decimal(30,4)")
            .cast("double")
            .alias("revenue"),
        )
    )
    return win_ops.top_k(rolled, [F.col("revenue").desc(), F.col("s_suppkey")], 25)


ORACLE_SUPPLIER_ROLLUP = """
SELECT s_suppkey, s_name, n_name,
       count(*) AS lineitem_count,
       CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(8,2)))
            AS DECIMAL(30,4)) AS DOUBLE) AS revenue
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
GROUP BY s_suppkey, s_name, n_name
ORDER BY revenue DESC, s_suppkey
LIMIT 25
"""


def q_fact_build(spark: SparkSession, sf: str) -> DataFrame:
    """C8 row-level fact build: J1 five-way star join + derived measures
    (net amount shape of ``validate_fact_transactions.py:178-180``) +
    UNIX-epoch hour delta (``validate_bronze.py:146``)."""
    li = load_table(spark, sf, "lineitem")
    o = load_table(spark, sf, "orders")
    c = load_table(spark, sf, "customer")
    n = load_table(spark, sf, "nation")
    r = load_table(spark, sf, "region")
    fact = join_ops.star_join(
        li.join(o, li.l_orderkey == o.o_orderkey),
        [
            (c, F.col("o_custkey") == F.col("c_custkey")),
            (n, F.col("c_nationkey") == F.col("n_nationkey")),
            (r, F.col("n_regionkey") == F.col("r_regionkey")),
        ],
    )
    return fact.select(
        "l_orderkey",
        "l_linenumber",
        "c_custkey",
        "n_name",
        "r_name",
        (
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))
        ).alias("net_amount"),
        (
            (F.unix_timestamp("l_shipdate") - F.unix_timestamp("o_orderdate"))
            / F.lit(3600)
        )
        .cast("bigint")
        .alias("ship_delay_hours"),
    )


ORACLE_FACT_BUILD = """
SELECT l_orderkey, l_linenumber, c_custkey, n_name, r_name,
       l_extendedprice * (1 - l_discount) * (1 + l_tax) AS net_amount,
       CAST((CAST(epoch(l_shipdate) AS BIGINT) - CAST(epoch(o_orderdate) AS BIGINT)) / 3600 AS BIGINT)
           AS ship_delay_hours
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
LEFT JOIN customer ON o_custkey = c_custkey
LEFT JOIN nation ON c_nationkey = n_nationkey
LEFT JOIN region ON n_regionkey = r_regionkey
"""


def q_promo_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """J1/A4 product-dimension slice (TPC-H Q14 shape): monthly share
    of revenue from PROMO-type parts — equi-join lineitem to part,
    conditional decimal-exact sums, one final double division.
    ``part`` is broadcast here (small at test SF); at 100 TB the part
    dim exceeds broadcast size and this becomes a plain shuffled
    equi-join on l_partkey — same plan text minus the hint."""
    li = load_table(spark, sf, "lineitem")
    p = load_table(spark, sf, "part")
    rev = F.col("l_extendedprice").cast("decimal(12,2)") * (
        1 - F.col("l_discount")
    ).cast("decimal(8,2)")
    return (
        li.join(F.broadcast(p.select("p_partkey", "p_type")),
                li.l_partkey == p.p_partkey)
        .groupBy(F.date_format("l_shipdate", "yyyy-MM").alias("ship_month"))
        .agg(
            (
                F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(
                    F.lit(0).cast("decimal(21,4)")
                )).cast("double")
                * 100.0
                / F.sum(rev).cast("double")
            ).alias("promo_pct"),
            F.sum(rev).cast("decimal(30,4)").cast("double").alias("total_revenue"),
        )
    )


ORACLE_PROMO_REVENUE = """
SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
       CAST(sum(CASE WHEN p_type = 'PROMO'
                THEN CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(8,2))
                ELSE CAST(0 AS DECIMAL(21,4)) END) AS DOUBLE) * 100.0
           / CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(8,2)))
                  AS DOUBLE) AS promo_pct,
       CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(8,2)))
            AS DECIMAL(30,4)) AS DOUBLE) AS total_revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY strftime(l_shipdate, '%Y-%m')
"""


def q_anti_join(spark: SparkSession, sf: str) -> DataFrame:
    """J3 anti join: customers with no orders (NOT EXISTS new-member
    shape, ``gold_dim_customer_scd2.py:76-96``)."""
    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders").filter(
        F.col("o_orderdate") < F.lit("1996-01-01 00:00:00").cast("timestamp")
    )
    return join_ops.anti_join(
        c, o.select(F.col("o_custkey").alias("c_custkey")), ["c_custkey"]
    ).select("c_custkey", "c_name", "c_mktsegment")


ORACLE_ANTI_JOIN = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderdate < TIMESTAMP '1996-01-01 00:00:00')
"""


def q_semi_join(spark: SparkSession, sf: str) -> DataFrame:
    """J4 semi join: customers with at least one 1997 order (EXISTS
    shape, ``silver_propagate_deletes.py:53-62``)."""
    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders").filter(
        F.year("o_orderdate") == 1997
    )
    return join_ops.semi_join(
        c, o.select(F.col("o_custkey").alias("c_custkey")), ["c_custkey"]
    ).select("c_custkey", "c_name")


ORACLE_SEMI_JOIN = """
SELECT c_custkey, c_name
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND year(o_orderdate) = 1997)
"""


def q_point_in_time(spark: SparkSession, sf: str) -> DataFrame:
    """C7/SCD2 point-in-time lookup: build per-customer effective-dated
    versions from order dates (lead window), select the version covering
    the as-of date — the reference's documented range-predicate query
    (``README.md:311-319``)."""
    o = load_table(spark, sf, "orders")
    versions = (
        o.select("o_custkey", F.col("o_orderdate").alias("effective_start"))
        .distinct()
    )
    w = Window.partitionBy("o_custkey").orderBy("effective_start")
    dim = versions.withColumn(
        "effective_end",
        F.coalesce(
            F.lead("effective_start").over(w) - F.expr("INTERVAL 1 SECOND"),
            F.lit("2200-01-01 00:00:00").cast("timestamp"),
        ),
    )
    as_of = F.lit("1998-06-15 00:00:00").cast("timestamp")
    return dim.filter((as_of >= F.col("effective_start")) & (as_of <= F.col("effective_end"))).select(
        "o_custkey", "effective_start", "effective_end"
    )


ORACLE_POINT_IN_TIME = """
WITH versions AS (
    SELECT DISTINCT o_custkey, o_orderdate AS effective_start FROM orders
), dim AS (
    SELECT o_custkey, effective_start,
           COALESCE(lead(effective_start) OVER (PARTITION BY o_custkey ORDER BY effective_start)
                    - INTERVAL 1 SECOND,
                    TIMESTAMP '2200-01-01 00:00:00') AS effective_end
    FROM versions
)
SELECT o_custkey, effective_start, effective_end
FROM dim
WHERE TIMESTAMP '1998-06-15 00:00:00' BETWEEN effective_start AND effective_end
"""


# ---------------------------------------------------------------- A: aggregations


def q_customer_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """A2 lifetime rollup + tier CASE ladder
    (``gold_dim_customer_scd2.py:32-54``)."""
    o = load_table(spark, sf, "orders")
    out = agg_ops.customer_rollup(
        o,
        key="o_custkey",
        ts_col="o_orderdate",
        amount_col=F.col("o_totalprice").cast("decimal(12,2)"),
        active_pred=F.col("o_orderstatus") == "O",
        tier_bounds=(15, 10, 5),
    )
    return out.select(
        "o_custkey",
        "transaction_count",
        "first_transaction_date",
        "last_transaction_date",
        F.col("lifetime_value")
        .cast("decimal(30,2)")
        .cast("double")
        .alias("lifetime_value"),
        "is_active",
        "customer_tier",
    )


ORACLE_CUSTOMER_ROLLUP = """
SELECT o_custkey,
       count(*) AS transaction_count,
       min(o_orderdate) AS first_transaction_date,
       max(o_orderdate) AS last_transaction_date,
       CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(30,2)) AS DOUBLE)
           AS lifetime_value,
       max(CASE WHEN o_orderstatus = 'O' THEN true ELSE false END) AS is_active,
       CASE WHEN count(*) >= 15 THEN 'Platinum'
            WHEN count(*) >= 10 THEN 'Gold'
            WHEN count(*) >= 5 THEN 'Silver'
            ELSE 'Bronze' END AS customer_tier
FROM orders
GROUP BY o_custkey
"""


def q_tier_analysis(spark: SparkSession, sf: str) -> DataFrame:
    """BI tier analysis (``Gold Layer README.md:433-447``): derive the
    customer tier ladder, then roll revenue up BY tier — the two-stage
    agg every tier dashboard runs.  Tier table is customer-grained and
    broadcast back onto orders."""
    o = load_table(spark, sf, "orders")
    tiers = o.groupBy("o_custkey").agg(
        F.count("*").alias("n_orders")
    ).select(
        "o_custkey",
        F.when(F.col("n_orders") >= 15, "Platinum")
        .when(F.col("n_orders") >= 10, "Gold")
        .when(F.col("n_orders") >= 5, "Silver")
        .otherwise("Bronze")
        .alias("customer_tier"),
    )
    return (
        o.join(F.broadcast(tiers), "o_custkey")
        .groupBy("customer_tier")
        .agg(
            F.countDistinct("o_custkey").alias("customers"),
            F.count("*").alias("transactions"),
            F.sum(F.col("o_totalprice").cast("decimal(12,2)"))
            .cast("decimal(30,2)")
            .cast("double")
            .alias("total_amount"),
            (
                F.sum(F.col("o_totalprice").cast("decimal(12,2)")).cast("double")
                / F.count("*")
            ).alias("avg_amount"),
        )
    )


ORACLE_TIER_ANALYSIS = """
WITH tiers AS (
    SELECT o_custkey,
           CASE WHEN count(*) >= 15 THEN 'Platinum'
                WHEN count(*) >= 10 THEN 'Gold'
                WHEN count(*) >= 5 THEN 'Silver'
                ELSE 'Bronze' END AS customer_tier
    FROM orders GROUP BY o_custkey
)
SELECT customer_tier,
       count(DISTINCT o.o_custkey) AS customers,
       count(*) AS transactions,
       CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(30,2)) AS DOUBLE)
           AS total_amount,
       CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_amount
FROM orders o JOIN tiers t ON o.o_custkey = t.o_custkey
GROUP BY customer_tier
"""


def q_multikey_distinct_agg(spark: SparkSession, sf: str) -> DataFrame:
    """A3 multi-key group with COUNT(DISTINCT)
    (``gold_dim_merchant_scd2.py:33-47``)."""
    o = load_table(spark, sf, "orders")
    return o.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("distinct_customers"),
        F.max("o_orderdate").alias("last_order_date"),
        F.count("*").alias("order_count"),
    )


ORACLE_MULTIKEY_DISTINCT_AGG = """
SELECT o_orderstatus, o_orderpriority,
       count(DISTINCT o_custkey) AS distinct_customers,
       max(o_orderdate) AS last_order_date,
       count(*) AS order_count
FROM orders
GROUP BY o_orderstatus, o_orderpriority
"""


def q_conditional_agg(spark: SparkSession, sf: str) -> DataFrame:
    """A4 SUM(CASE WHEN ...) audit block
    (``validate_fact_transactions.py:233-241``)."""
    li = load_table(spark, sf, "lineitem")
    return agg_ops.conditional_counts(
        li,
        {
            "returned_count": F.col("l_returnflag") == "R",
            "high_discount_count": F.col("l_discount") > 0.09,
            "zero_tax_count": F.col("l_tax") == 0,
            "null_quantity_count": F.col("l_quantity").isNull(),
        },
    )


ORACLE_CONDITIONAL_AGG = """
SELECT CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS returned_count,
       CAST(sum(CASE WHEN l_discount > 0.09 THEN 1 ELSE 0 END) AS BIGINT) AS high_discount_count,
       CAST(sum(CASE WHEN l_tax = 0 THEN 1 ELSE 0 END) AS BIGINT) AS zero_tax_count,
       CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_quantity_count
FROM lineitem
"""


def q_summary_stats(spark: SparkSession, sf: str) -> DataFrame:
    """A5 summary-stats block (``validate_fact_transactions.py:324-333``).

    ``scale_out`` first (r15): a one-file scan would single-thread the
    partial aggregation (measured: the 2 s single-task stage at
    sf0.1).  Every aggregate here is exact (counts + decimal sums), so
    the result is partitioning-invariant; at real corpus scale the
    repartition is a no-op.

    Split aggregations (r16, guide §2.2): fusing the three
    COUNT(DISTINCT)s with the sums planned ONE shared Expand — a 4x
    row multiply with the decimal sums evaluated on the expanded
    stream (measured 55.7 s at 100x).  Each distinct count as its own
    two-phase aggregate reads one column-pruned int column and
    shuffles only partial distinct sets (9.9 s at 100x, same values);
    the 1-row arms recombine via broadcast cross joins — no shuffle."""
    li = load_table(spark, sf, "lineitem")
    from ..tables import scale_out

    li = scale_out(li)
    out = li.agg(
        F.count("*").alias("row_count"),
        F.sum(F.col("l_extendedprice").cast("decimal(12,2)"))
        .cast("decimal(30,2)")
        .cast("double")
        .alias("gross_total"),
        F.sum(
            F.col("l_extendedprice").cast("decimal(12,2)")
            * F.col("l_discount").cast("decimal(8,2)")
        )
        .cast("decimal(30,4)")
        .cast("double")
        .alias("discount_total"),
    )
    for col, alias in [
        ("l_orderkey", "distinct_orders"),
        ("l_partkey", "distinct_parts"),
        ("l_suppkey", "distinct_suppliers"),
    ]:
        out = out.crossJoin(F.broadcast(li.agg(F.countDistinct(col).alias(alias))))
    return out.select(
        "row_count", "distinct_orders", "distinct_parts",
        "distinct_suppliers", "gross_total", "discount_total",
    )


ORACLE_SUMMARY_STATS = """
SELECT count(*) AS row_count,
       count(DISTINCT l_orderkey) AS distinct_orders,
       count(DISTINCT l_partkey) AS distinct_parts,
       count(DISTINCT l_suppkey) AS distinct_suppliers,
       CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DECIMAL(30,2)) AS DOUBLE)
           AS gross_total,
       CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(8,2)))
            AS DECIMAL(30,4)) AS DOUBLE) AS discount_total
FROM lineitem
"""


def q_distinct_projection(spark: SparkSession, sf: str) -> DataFrame:
    """A6 DISTINCT projection (``gold_dim_payment_methods.py:53-56``)."""
    c = load_table(spark, sf, "customer")
    return c.select("c_mktsegment").distinct()


ORACLE_DISTINCT_PROJECTION = "SELECT DISTINCT c_mktsegment FROM customer"


def q_greatest_watermark(spark: SparkSession, sf: str) -> DataFrame:
    """A7 GREATEST(MAX, MAX) next-watermark (``load_bronze.py:113-116``)
    across two tables via 1-row cross join (broadcast, no shuffle)."""
    o = load_table(spark, sf, "orders")
    li = load_table(spark, sf, "lineitem")
    a = o.agg(F.max("o_orderdate").alias("max_order"))
    b = li.agg(F.max("l_shipdate").alias("max_ship"))
    return a.crossJoin(F.broadcast(b)).select(
        F.greatest("max_order", "max_ship").alias("next_watermark")
    )


ORACLE_GREATEST_WATERMARK = """
SELECT GREATEST((SELECT max(o_orderdate) FROM orders),
                (SELECT max(l_shipdate) FROM lineitem)) AS next_watermark
"""


def q_max_key_seed(spark: SparkSession, sf: str) -> DataFrame:
    """A8 COALESCE(MAX(key), 0) surrogate seed on an empty slice
    (``gold_dim_customer_scd2.py:64-67``)."""
    c = load_table(spark, sf, "customer")
    return c.filter(F.col("c_mktsegment") == "NO_SUCH_SEGMENT").agg(
        F.coalesce(F.max("c_custkey"), F.lit(0)).alias("max_key")
    )


ORACLE_MAX_KEY_SEED = """
SELECT COALESCE(max(c_custkey), 0) AS max_key
FROM customer WHERE c_mktsegment = 'NO_SUCH_SEGMENT'
"""


def q_having_dup_audit(spark: SparkSession, sf: str) -> DataFrame:
    """A9 GROUP BY + HAVING duplicate audit
    (``bronze/TESTING_GUIDE.md:110-118``)."""
    o = load_table(spark, sf, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(F.count("*").alias("order_count"))
        .filter(F.col("order_count") > 15)
    )


ORACLE_HAVING_DUP_AUDIT = """
SELECT o_custkey, count(*) AS order_count
FROM orders GROUP BY o_custkey HAVING count(*) > 15
"""


def q_pct_breakdown(spark: SparkSession, sf: str) -> DataFrame:
    """A10 grouped breakdown with percent-of-total
    (``bronze/README.md:386``) — broadcast total, no OVER() single
    partition."""
    o = load_table(spark, sf, "orders")
    return agg_ops.pct_of_total(o, "o_orderstatus")


ORACLE_PCT_BREAKDOWN = """
SELECT o_orderstatus, count(*) AS cnt,
       100.0 * count(*) / (SELECT count(*) FROM orders) AS pct
FROM orders GROUP BY o_orderstatus
"""


# ---------------------------------------------------------------- W: windows


def q_dedup_first_version(spark: SparkSession, sf: str) -> DataFrame:
    """W1 intra-batch dedup: one row per (user_id, event_type), first by
    (ts, event_id) (``validate_bronze.py:161``)."""
    ev = load_table(spark, sf, "events")
    return dedup_ops.keep_first_version(
        ev, ["user_id", "event_type"], [F.col("ts"), F.col("event_id")]
    ).select("event_id", "user_id", "event_type", "ts")


ORACLE_DEDUP_FIRST_VERSION = EV + """
, ranked AS (
    SELECT event_id, user_id, event_type, ts,
           row_number() OVER (PARTITION BY user_id, event_type
                              ORDER BY ts, event_id) AS rn
    FROM ev
)
SELECT event_id, user_id, event_type, ts FROM ranked WHERE rn = 1
"""


def q_dedup_latest_version(spark: SparkSession, sf: str) -> DataFrame:
    """W2 CDC collapse to latest version per key
    (``validate_silver.py:121-129``)."""
    ev = load_table(spark, sf, "events")
    return dedup_ops.keep_latest(
        ev, ["user_id"], "ts", [F.col("event_id").desc()]
    ).select("event_id", "user_id", "event_type", "ts", "value")


ORACLE_DEDUP_LATEST_VERSION = EV + """
, ranked AS (
    SELECT event_id, user_id, event_type, ts, value,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM ev
)
SELECT event_id, user_id, event_type, ts, value FROM ranked WHERE rn = 1
"""


def q_surrogate_keys(spark: SparkSession, sf: str) -> DataFrame:
    """W3 dense surrogate keys ordered by business key
    (``gold_dim_customer_scd2.py:79``)."""
    n = load_table(spark, sf, "nation")
    return win_ops.surrogate_keys(
        n.select("n_name"), order_by=["n_name"], key_col="nation_key", start_at=100
    ).select("nation_key", "n_name")


ORACLE_SURROGATE_KEYS = """
SELECT CAST(row_number() OVER (ORDER BY n_name) + 100 AS BIGINT) AS nation_key, n_name
FROM nation
"""


def q_best_record(spark: SparkSession, sf: str) -> DataFrame:
    """W4 best-record pick with multi-key ordering
    (``gold_dim_merchant_scd2.py:59-82``)."""
    li = load_table(spark, sf, "lineitem")
    return win_ops.best_record(
        li,
        ["l_suppkey"],
        [
            F.col("l_shipdate").desc(),
            F.col("l_extendedprice").desc(),
            F.col("l_orderkey"),
            F.col("l_linenumber"),
        ],
    ).select("l_suppkey", "l_orderkey", "l_linenumber", "l_shipdate", "l_extendedprice")


ORACLE_BEST_RECORD = """
WITH ranked AS (
    SELECT l_suppkey, l_orderkey, l_linenumber, l_shipdate, l_extendedprice,
           row_number() OVER (PARTITION BY l_suppkey
                              ORDER BY l_shipdate DESC, l_extendedprice DESC,
                                       l_orderkey, l_linenumber) AS rn
    FROM lineitem
)
SELECT l_suppkey, l_orderkey, l_linenumber, l_shipdate, l_extendedprice
FROM ranked WHERE rn = 1
"""


def q_lag_transitions(spark: SparkSession, sf: str) -> DataFrame:
    """W5 LAG status-transition audit
    (``bronze/TESTING_GUIDE.md:408-425``)."""
    ev = load_table(spark, sf, "events")
    out = win_ops.lag_transitions(
        ev, "user_id", [F.col("ts"), F.col("event_id")], "event_type"
    )
    return out.select("event_id", "user_id", "event_type", "prev_event_type", "transition")


ORACLE_LAG_TRANSITIONS = EV + """
SELECT event_id, user_id, event_type,
       lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_event_type,
       concat_ws(' -> ',
                 lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                 event_type) AS transition
FROM ev
"""


# ---------------------------------------------------------------- O/U: top-k, union


def q_watermark_top1(spark: SparkSession, sf: str) -> DataFrame:
    """O1 watermark read: latest row by timestamp
    (``read_watermark.py:32-35``)."""
    ev = load_table(spark, sf, "events")
    return win_ops.top_k(
        ev, [F.col("ts").desc(), F.col("event_id").desc()], 1
    ).select("event_id", "ts", "user_id")


ORACLE_WATERMARK_TOP1 = EV + """
SELECT event_id, ts, user_id FROM ev ORDER BY ts DESC, event_id DESC LIMIT 1
"""


def q_topn_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """O2 top-10 revenue report (``Gold Layer README.md:417-431``) —
    rank by the ROUNDED measure + unique tie-break for cross-engine
    determinism."""
    li = load_table(spark, sf, "lineitem")
    o = load_table(spark, sf, "orders")
    rev = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_custkey")
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(12,2)")
                * (1 - F.col("l_discount")).cast("decimal(8,2)")
            )
            .cast("decimal(30,4)")
            .cast("double")
            .alias("revenue")
        )
    )
    return win_ops.top_k(rev, [F.col("revenue").desc(), F.col("o_custkey")], 10)


ORACLE_TOPN_REVENUE = """
SELECT o_custkey,
       CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(8,2)))
            AS DECIMAL(30,4)) AS DOUBLE) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_custkey
ORDER BY revenue DESC, o_custkey
LIMIT 10
"""


def q_union_slices(spark: SparkSession, sf: str) -> DataFrame:
    """U1 UNION ALL of two audit slices (``docs/RUNBOOK.md:224-250``)."""
    o = load_table(spark, sf, "orders")
    hi = o.filter(F.col("o_totalprice") > 400000).select(
        "o_orderkey", "o_totalprice", F.lit("HIGH_VALUE").alias("bucket")
    )
    lo = o.filter(F.col("o_totalprice") < 1000).select(
        "o_orderkey", "o_totalprice", F.lit("LOW_VALUE").alias("bucket")
    )
    return hi.unionByName(lo)


ORACLE_UNION_SLICES = """
SELECT o_orderkey, o_totalprice, 'HIGH_VALUE' AS bucket FROM orders WHERE o_totalprice > 400000
UNION ALL
SELECT o_orderkey, o_totalprice, 'LOW_VALUE' AS bucket FROM orders WHERE o_totalprice < 1000
"""


# ---------------------------------------------------------------- pipeline-shaped queries


def q_dim_date(spark: SparkSession, sf: str) -> DataFrame:
    """C10 date dimension (``gold_dim_date.py:35-87``) as a query:
    native sequence() spine + 10 calendar attributes incl. the yyyyMMdd
    bigint date_key.  (sf-independent; generated, not scanned.)"""
    spine = spark.sql(
        "SELECT explode(sequence(to_date('2024-01-01'), to_date('2024-12-31')))"
        " AS full_date"
    )
    return spine.select(
        F.date_format("full_date", "yyyyMMdd").cast("bigint").alias("date_key"),
        "full_date",
        F.year("full_date").alias("year"),
        F.quarter("full_date").alias("quarter"),
        F.month("full_date").alias("month"),
        F.date_format("full_date", "MMMM").alias("month_name"),
        F.dayofmonth("full_date").alias("day_of_month"),
        F.dayofweek("full_date").alias("day_of_week"),
        F.date_format("full_date", "EEEE").alias("day_name"),
        F.dayofyear("full_date").alias("day_of_year"),
        F.dayofweek("full_date").isin([1, 7]).alias("is_weekend"),
    )


ORACLE_DIM_DATE = """
WITH spine AS (
    SELECT CAST(unnest(generate_series(DATE '2024-01-01', DATE '2024-12-31',
                                       INTERVAL 1 DAY)) AS DATE) AS full_date
)
SELECT CAST(strftime(full_date, '%Y%m%d') AS BIGINT) AS date_key,
       full_date,
       CAST(year(full_date) AS INTEGER) AS year,
       CAST(quarter(full_date) AS INTEGER) AS quarter,
       CAST(month(full_date) AS INTEGER) AS month,
       monthname(full_date) AS month_name,
       CAST(dayofmonth(full_date) AS INTEGER) AS day_of_month,
       CAST(dayofweek(full_date) + 1 AS INTEGER) AS day_of_week,
       dayname(full_date) AS day_name,
       CAST(dayofyear(full_date) AS INTEGER) AS day_of_year,
       dayofweek(full_date) IN (0, 6) AS is_weekend
FROM spine
"""

_TIER = (
    lambda cnt: F.when(cnt >= 15, "Platinum")
    .when(cnt >= 10, "Gold")
    .when(cnt >= 5, "Silver")
    .otherwise("Bronze")
)

_TIER_SQL = """CASE WHEN cnt >= 15 THEN 'Platinum'
            WHEN cnt >= 10 THEN 'Gold'
            WHEN cnt >= 5 THEN 'Silver'
            ELSE 'Bronze' END"""


def q_scd2_delta(spark: SparkSession, sf: str) -> DataFrame:
    """C7 SCD2 delta computation as a pure query: 'current dim' = tier
    rollup over pre-1997 orders; 'incoming aggregates' = rollup over
    all orders; emit INSERT_NEW_MEMBER rows (new members, J3 anti-join
    semantics) and CLOSE_AND_INSERT rows (J2 change detection) — the
    exact merge-input the SCD2 maintenance jobs compute
    (``gold_dim_customer_scd2.py:76-121``).

    Round-10 fusion: the r2 form computed the two rollups as separate
    aggregations and reconciled them with an anti join + an inner join
    (4 scans of orders, 3 shuffles).  Because both rollups group by the
    SAME key over the SAME table, one conditional aggregation computes
    the all-time count and the pre-cutoff count in a single pass — ONE
    scan, ONE shuffle, zero joins; anti-join membership degenerates to
    ``cnt_old = 0``.  The mutation-path twin in ``pipeline/medallion``
    keeps the real two-table merge-input joins (there the 'current dim'
    is a separately stored table, not a slice of the same source)."""
    o = load_table(spark, sf, "orders")
    cutoff = F.lit("1997-01-01 00:00:00").cast("timestamp")
    per_cust = o.groupBy("o_custkey").agg(
        F.count("*").alias("cnt_all"),
        F.count(F.when(F.col("o_orderdate") < cutoff, F.lit(1))).alias(
            "cnt_old"
        ),
    )
    is_new = F.col("cnt_old") == 0
    new_tier = _TIER(F.col("cnt_all"))
    old_tier = _TIER(F.col("cnt_old"))
    return (
        per_cust.filter(is_new | (new_tier != old_tier))
        .select(
            "o_custkey",
            F.when(is_new, "INSERT_NEW_MEMBER")
            .otherwise("CLOSE_AND_INSERT")
            .alias("action"),
            new_tier.alias("new_tier"),
            F.when(is_new, F.lit(None).cast("string"))
            .otherwise(old_tier)
            .alias("old_tier"),
        )
    )


ORACLE_SCD2_DELTA = f"""
WITH cur AS (
    SELECT o_custkey, {_TIER_SQL} AS old_tier
    FROM (SELECT o_custkey, count(*) AS cnt FROM orders
          WHERE o_orderdate < TIMESTAMP '1997-01-01 00:00:00' GROUP BY o_custkey)
), new AS (
    SELECT o_custkey, {_TIER_SQL} AS new_tier
    FROM (SELECT o_custkey, count(*) AS cnt FROM orders GROUP BY o_custkey)
)
SELECT n.o_custkey, 'INSERT_NEW_MEMBER' AS action, n.new_tier,
       CAST(NULL AS VARCHAR) AS old_tier
FROM new n WHERE NOT EXISTS (SELECT 1 FROM cur c WHERE c.o_custkey = n.o_custkey)
UNION ALL
SELECT n.o_custkey, 'CLOSE_AND_INSERT' AS action, n.new_tier, c.old_tier
FROM new n JOIN cur c ON n.o_custkey = c.o_custkey
WHERE n.new_tier <> c.old_tier
"""


# ---------------------------------------------------------------- time windows / JSON


def q_tumbling_window(spark: SparkSession, sf: str) -> DataFrame:
    """Tumbling 1-hour event-time window aggregation — batch analog of
    the Structured Streaming path (SURVEY.md section 2.9 extension)."""
    ev = load_table(spark, sf, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


ORACLE_TUMBLING_WINDOW = EV + """
SELECT date_trunc('hour', ts) AS window_start, event_type,
       count(*) AS n_events, round(sum(value), 2) AS sum_value
FROM ev GROUP BY 1, 2
"""


def q_session_window(spark: SparkSession, sf: str) -> DataFrame:
    """Session windows (30-min inactivity gap) per user — Spark
    ``session_window``; oracle reproduces via gaps-and-islands."""
    ev = load_table(spark, sf, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
        )
    )


ORACLE_SESSION_WINDOW = EV + """
, flagged AS (
    SELECT user_id, ts,
           CASE WHEN lag(ts) OVER w IS NULL
                     OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                THEN 1 ELSE 0 END AS new_session
    FROM ev
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
    SELECT user_id, ts,
           sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                  ROWS UNBOUNDED PRECEDING) AS session_no
    FROM flagged
)
SELECT user_id, min(ts) AS session_start, count(*) AS n_events
FROM numbered GROUP BY user_id, session_no
"""


def q_json_extract(spark: SparkSession, sf: str) -> DataFrame:
    """JSON scalar extraction from the events props column (extension —
    the reference serializes JSON driver-side only)."""
    ev = load_table(spark, sf, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("bigint").alias("props_k"),
    )


ORACLE_JSON_EXTRACT = EV + """
SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS props_k
FROM ev
"""


# ---------------------------------------------------------------- hierarchy / top-k / percentile / as-of extensions


def q_rollup_hierarchy(spark: SparkSession, sf: str) -> DataFrame:
    """Hierarchical subtotals via ROLLUP (extension of the A-family:
    the reference computes year and grand totals as separate queries,
    e.g. the revenue report in ``Gold Layer README.md:417-431``; ROLLUP
    emits detail + per-year + grand-total rows in ONE pass).  Catalyst
    plans rollup as a single Expand + hash aggregate — each input row
    is replicated once per grouping set BEFORE the shuffle, so partial
    aggregation still applies and no extra pass over the fact is
    needed.  ``grouping_id`` disambiguates subtotal rows from genuine
    NULL group values (bit order: first rollup column = MSB, identical
    in Spark and DuckDB)."""
    o = load_table(spark, sf, "orders")
    base = o.select(
        F.year("o_orderdate").cast("int").alias("order_year"),
        F.col("o_orderstatus").alias("status"),
        "o_totalprice",
    )
    return base.rollup("order_year", "status").agg(
        F.count("*").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(12,2)"))
        .cast("double")
        .alias("revenue"),
        F.grouping_id().cast("int").alias("grp_id"),
    )


ORACLE_ROLLUP_HIERARCHY = """
SELECT CAST(year(o_orderdate) AS INTEGER) AS order_year,
       o_orderstatus AS status,
       count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
       CAST(GROUPING(CAST(year(o_orderdate) AS INTEGER), o_orderstatus) AS INTEGER) AS grp_id
FROM orders
GROUP BY ROLLUP(CAST(year(o_orderdate) AS INTEGER), o_orderstatus)
"""


def q_group_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Per-group top-k (O2 generalized from global top-N to top-k
    WITHIN each group): top 5 orders by price per order status.  Runs
    the two-phase salted plan (``windows.topk_per_group`` with
    ``n_salts=8``): with only a handful of groups a plain per-group
    window funnels every row of a group through one reducer — the salt
    phase bounds reducer input to ≤ k·n_salts rows per group, which is
    what survives 1000 executors × 100 TB.  Result is provably
    identical to the plain window (each salt keeps its own top-k, and
    the global top-k is contained in the union of salt-local top-ks)."""
    o = load_table(spark, sf, "orders")
    top = win_ops.topk_per_group(
        o,
        ["o_orderstatus"],
        [F.col("o_totalprice").desc(), F.col("o_orderkey")],
        k=5,
        n_salts=8,
    )
    return top.select(
        F.col("o_orderstatus").alias("status"),
        "rn",
        F.col("o_orderkey").alias("order_key"),
        F.col("o_totalprice").alias("total_price"),
    )


ORACLE_GROUP_TOPK = """
SELECT status, rn, order_key, total_price
FROM (
  SELECT o_orderstatus AS status,
         CAST(row_number() OVER (PARTITION BY o_orderstatus
                                 ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn,
         o_orderkey AS order_key,
         o_totalprice AS total_price
  FROM orders)
WHERE rn <= 5
"""


def q_percentile_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Exact grouped PERCENTILE_CONT (A5 extended to order statistics):
    p50/p90 of event value per event type via
    ``aggregates.percentile_cont_grouped`` — rank + two-point pick +
    interpolation, one window shuffle, no full sort and nothing
    collected.  The oracle mirrors the identical expression tree
    (interpolation literals cast to DOUBLE on the DuckDB side, where a
    bare ``0.5`` would be DECIMAL and change the arithmetic)."""
    ev = load_table(spark, sf, "events")
    return agg_ops.percentile_cont_grouped(
        ev,
        "event_type",
        "value",
        "event_id",
        {"p50_value": 0.5, "p90_value": 0.9},
        count_alias="n_events",
    )


ORACLE_PERCENTILE_STATS = EV + """
, ranked AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM ev),
picked AS (
  SELECT event_type,
         CAST(max(n) AS BIGINT) AS n_events,
         max(CASE WHEN rn = floor((n - 1) * CAST(0.5 AS DOUBLE)) + 1 THEN value END) AS lo50,
         max(CASE WHEN rn = ceil((n - 1) * CAST(0.5 AS DOUBLE)) + 1 THEN value END) AS hi50,
         max(CASE WHEN rn = floor((n - 1) * CAST(0.9 AS DOUBLE)) + 1 THEN value END) AS lo90,
         max(CASE WHEN rn = ceil((n - 1) * CAST(0.9 AS DOUBLE)) + 1 THEN value END) AS hi90
  FROM ranked GROUP BY event_type)
SELECT event_type, n_events,
       lo50 + (hi50 - lo50) * ((n_events - 1) * CAST(0.5 AS DOUBLE)
                               - floor((n_events - 1) * CAST(0.5 AS DOUBLE))) AS p50_value,
       lo90 + (hi90 - lo90) * ((n_events - 1) * CAST(0.9 AS DOUBLE)
                               - floor((n_events - 1) * CAST(0.9 AS DOUBLE))) AS p90_value
FROM picked
"""


def q_table_profile(spark: SparkSession, sf: str) -> DataFrame:
    """Per-column data-profiling block (the ANALYZE TABLE / data-quality
    report shape every ingestion pipeline runs): one row per column
    with null count, distinct count, and min/max rendered as strings.
    ONE pass over the table — all per-column aggregates sit in a single
    hash aggregation (Spark computes the COUNT(DISTINCT)s via a shared
    Expand, not one scan per column) — then a zero-shuffle unpivot of
    the 1-row result to the long report layout.

    ``scale_out`` first (r15): a one-file scan pins the partial
    aggregation on one core (the 2 s single-task stage at sf0.1); all
    aggregates are exact, so results are partitioning-invariant, and
    at corpus scale the spread is a no-op.

    Split aggregations (r16, guide §2.2): the four COUNT(DISTINCT)s
    used to share one Expand — a 5x row multiply with every null/min/
    max aggregate evaluated on the expanded stream (the summary_stats
    pathology, 55.7 -> 9.9 s at 100x there).  The null/min/max block
    is one clean codegen aggregation; each distinct count is its own
    two-phase aggregate over one column-pruned column; the 1-row arms
    recombine via broadcast cross joins."""
    o = load_table(spark, sf, "orders")
    from ..tables import scale_out

    o = scale_out(o)
    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"]
    aggs = []
    for c in cols:
        aggs += [
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias(f"{c}__nulls"),
            F.min(c).cast("string").alias(f"{c}__min"),
            F.max(c).cast("string").alias(f"{c}__max"),
        ]
    wide = o.agg(*aggs)
    for c in cols:
        wide = wide.crossJoin(
            F.broadcast(o.agg(F.countDistinct(c).alias(f"{c}__distinct")))
        )
    per_col = [
        F.struct(
            F.lit(c).alias("column_name"),
            F.col(f"{c}__nulls").alias("n_nulls"),
            F.col(f"{c}__distinct").alias("n_distinct"),
            F.col(f"{c}__min").alias("min_repr"),
            F.col(f"{c}__max").alias("max_repr"),
        )
        for c in cols
    ]
    return wide.select(F.explode(F.array(*per_col)).alias("p")).select("p.*")


def _sql_profile_col(c: str) -> str:
    return f"""SELECT '{c}' AS column_name,
       CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
       count(DISTINCT {c}) AS n_distinct,
       CAST(min({c}) AS VARCHAR) AS min_repr,
       CAST(max({c}) AS VARCHAR) AS max_repr
FROM orders"""


ORACLE_TABLE_PROFILE = "\nUNION ALL\n".join(
    _sql_profile_col(c)
    for c in ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"]
)


def q_set_ops(spark: SparkSession, sf: str) -> DataFrame:
    """U-family completion: INTERSECT and EXCEPT (DISTINCT set
    semantics) — customers active in both 1995 and 1996 vs churned
    after 1995.  Catalyst plans both as semi/anti hash joins over the
    de-duplicated keys (same single-shuffle shape as J3/J4), tagged and
    unioned into one result."""
    o = load_table(spark, sf, "orders")
    y95 = o.filter(F.year("o_orderdate") == 1995).select("o_custkey").distinct()
    y96 = o.filter(F.year("o_orderdate") == 1996).select("o_custkey").distinct()
    both = y95.intersect(y96).select(
        F.col("o_custkey").alias("cust_key"), F.lit("retained").alias("cohort")
    )
    churned = y95.exceptAll(y96).select(
        F.col("o_custkey").alias("cust_key"), F.lit("churned").alias("cohort")
    )
    return both.unionByName(churned)


ORACLE_SET_OPS = """
SELECT cust_key, 'retained' AS cohort FROM (
  SELECT o_custkey AS cust_key FROM orders WHERE year(o_orderdate) = 1995
  INTERSECT
  SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996)
UNION ALL
SELECT cust_key, 'churned' AS cohort FROM (
  SELECT DISTINCT o_custkey AS cust_key FROM orders WHERE year(o_orderdate) = 1995
  EXCEPT
  SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996)
"""


def q_running_total(spark: SparkSession, sf: str) -> DataFrame:
    """Cumulative window frame (ROWS UNBOUNDED PRECEDING .. CURRENT):
    per-customer running order count and revenue in order-date order —
    the running-balance shape.  Hash-partitioned on the entity key like
    every other window here; the frame is evaluated incrementally per
    partition (no per-row rescan).  Money accumulates through DECIMAL
    (exact at any prefix length), cast to DOUBLE only at the output
    boundary."""
    o = load_table(spark, sf, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        F.col("o_custkey").alias("cust_key"),
        F.col("o_orderkey").alias("order_key"),
        F.col("o_orderdate").alias("order_date"),
        F.count("*").over(w).cast("bigint").alias("running_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(12,2)"))
        .over(w)
        .cast("double")
        .alias("running_revenue"),
    )


ORACLE_RUNNING_TOTAL = """
SELECT o_custkey AS cust_key,
       o_orderkey AS order_key,
       o_orderdate AS order_date,
       CAST(count(*) OVER w AS BIGINT) AS running_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) OVER w AS DOUBLE) AS running_revenue
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


def q_trailing_window(spark: SparkSession, sf: str) -> DataFrame:
    """Time-range window frame (RANGE BETWEEN 3600 PRECEDING AND
    CURRENT ROW over epoch seconds): per event, how many same-user
    events landed in the trailing hour and their max value — the
    sliding-feature shape of a behavioral pipeline.  The frame
    aggregates (count/max) are order-independent inside the frame, so
    the result is deterministic under timestamp ties in both engines
    (a SUM of doubles here would be association-order-dependent —
    DuckDB evaluates large frames with a segment tree)."""
    ev = load_table(spark, sf, "events")
    sec = F.unix_timestamp("ts")
    w = (
        Window.partitionBy("user_id")
        .orderBy(sec)
        .rangeBetween(-3600, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.count("*").over(w).cast("bigint").alias("events_1h"),
        F.max("value").over(w).alias("max_value_1h"),
    )


ORACLE_TRAILING_WINDOW = EV + """
SELECT event_id, user_id, ts,
       CAST(count(*) OVER w AS BIGINT) AS events_1h,
       max(value) OVER w AS max_value_1h
FROM ev
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts) // 1000000000
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
"""


def q_grouping_sets(spark: SparkSession, sf: str) -> DataFrame:
    """GROUPING SETS with disjoint sets — two independent breakdowns
    (by year, by status) in ONE pass of the fact (same Expand + single
    hash-agg plan as ROLLUP; arbitrary set lists have no DataFrame API,
    so this goes through ``spark.sql``, which is the same Catalyst
    front door).  ``grouping_id()`` tags which breakdown each row
    belongs to (1 = by-year set, 2 = by-status set)."""
    o = load_table(spark, sf, "orders")
    o.select(
        F.year("o_orderdate").cast("int").alias("order_year"),
        F.col("o_orderstatus").alias("status"),
        "o_totalprice",
    ).createOrReplaceTempView("__gs_orders")
    return spark.sql(
        """
        SELECT order_year, status,
               count(*) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
               CAST(grouping_id() AS INT) AS grp_id
        FROM __gs_orders
        GROUP BY GROUPING SETS ((order_year), (status))
        """
    )


ORACLE_GROUPING_SETS = """
SELECT CAST(year(o_orderdate) AS INTEGER) AS order_year,
       o_orderstatus AS status,
       count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
       CAST(GROUPING(CAST(year(o_orderdate) AS INTEGER), o_orderstatus) AS INTEGER) AS grp_id
FROM orders
GROUP BY GROUPING SETS ((CAST(year(o_orderdate) AS INTEGER)), (o_orderstatus))
"""


def q_pivot_status(spark: SparkSession, sf: str) -> DataFrame:
    """PIVOT: order counts and revenue per year spread across status
    columns (the cross-tab report shape).  Values are enumerated
    explicitly (``pivot(col, values)``) — with an explicit value list
    Catalyst compiles the pivot to ONE pass of conditional aggregates
    (no second distinct-values job, no extra shuffle), which is also
    exactly how the oracle expresses it, keeping both engines on the
    same single-aggregation plan."""
    o = load_table(spark, sf, "orders")
    return (
        o.select(
            F.year("o_orderdate").cast("int").alias("order_year"),
            "o_orderstatus",
            "o_totalprice",
        )
        .groupBy("order_year")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(
            # count(*) is invalid inside a pivot aggregate; count(lit(1))
            # is the same count.  Empty cells are NULL (both measures) —
            # the oracle mirrors with NULLIF(count FILTER ..., 0)
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(12,2)"))
            .cast("double")
            .alias("rev"),
        )
    )


ORACLE_PIVOT_STATUS = """
SELECT CAST(year(o_orderdate) AS INTEGER) AS order_year,
       NULLIF(count(*) FILTER (WHERE o_orderstatus = 'O'), 0) AS O_n,
       CAST(sum(CAST(o_totalprice AS DECIMAL(12,2)))
            FILTER (WHERE o_orderstatus = 'O') AS DOUBLE) AS O_rev,
       NULLIF(count(*) FILTER (WHERE o_orderstatus = 'F'), 0) AS F_n,
       CAST(sum(CAST(o_totalprice AS DECIMAL(12,2)))
            FILTER (WHERE o_orderstatus = 'F') AS DOUBLE) AS F_rev,
       NULLIF(count(*) FILTER (WHERE o_orderstatus = 'P'), 0) AS P_n,
       CAST(sum(CAST(o_totalprice AS DECIMAL(12,2)))
            FILTER (WHERE o_orderstatus = 'P') AS DOUBLE) AS P_rev
FROM orders
GROUP BY 1
"""


def q_unpivot_measures(spark: SparkSession, sf: str) -> DataFrame:
    """UNPIVOT (melt): lineitem's four measure columns to long
    (measure_name, measure_value) rows — the normalization step before
    generic per-measure profiling.  ``unpivot`` is a zero-shuffle
    narrow transform (each row expands in place); the oracle is the
    equivalent UNION ALL over one scan."""
    li = load_table(spark, sf, "lineitem")
    return li.unpivot(
        ids=["l_orderkey", "l_linenumber"],
        values=["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        variableColumnName="measure_name",
        valueColumnName="measure_value",
    )


ORACLE_UNPIVOT_MEASURES = """
SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure_name,
       l_quantity AS measure_value FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem
"""


def q_sketch_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Sketch aggregations — the 100 TB path for distinct counts and
    percentiles: HyperLogLog++ (``approx_count_distinct``, rsd 2%) and
    KLL-style quantile sketch (``percentile_approx``).  Exact
    COUNT(DISTINCT) shuffles every distinct value; the sketch shuffles
    a KB-sized mergeable summary per partition — same single-shuffle
    hash-agg shape, constant-size state.

    Verdict-query shape (sketch internals are engine-specific, so the
    raw estimates cannot hash-match DuckDB): the output carries the
    EXACT companions (``n_events``, ``n_users_exact`` — fully
    oracle-checked) plus in-bounds booleans computed in-Spark — HLL
    estimate within 10% of exact (5x the 2% rsd), sketch p50 inside
    the exact interquartile range.  The oracle asserts the booleans
    TRUE, so an estimator regression flips the hash.  The exact
    companions exist only for the verdict; production callers use the
    sketch columns alone (constant-size state at 100 TB).

    ``scale_out`` first (r15): the partial aggregation builds an HLL
    register set, a KLL sketch and an exact-percentile buffer per
    group — CPU-heavy per row — and a one-file scan single-threads it
    (the 2 s 1-task stage at sf0.1).  Exact companions are
    partitioning-invariant; the sketch estimates may merge in a
    different order but the verdict booleans carry 10% / IQR margins
    versus a 2% rsd, so the hash is unaffected.  At corpus scale the
    spread is a no-op.

    Split aggregations (r16, guide §2.2): COUNT(DISTINCT) fused with
    the sketch/percentile buffers planned an Expand that pushed every
    buffering aggregate through the doubled row stream — 83 s at 100x;
    the distinct count as its own two-phase aggregate plus a 5-row
    broadcast join back is 3.2 s with identical values (null-safe on
    the group key, matching the single-agg's null-group semantics)."""
    ev = load_table(spark, sf, "events")
    from ..tables import scale_out

    ev = scale_out(ev)
    agg = ev.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.approx_count_distinct("user_id", rsd=0.02).alias("_hll_users"),
        F.percentile_approx("value", 0.5, 10_000).alias("_p50_sketch"),
        F.expr("percentile(value, array(0.25, 0.75))").alias("_iqr_exact"),
    )
    nd = ev.groupBy(F.col("event_type").alias("_et")).agg(
        F.countDistinct("user_id").cast("bigint").alias("n_users_exact")
    )
    agg = agg.join(
        F.broadcast(nd), F.col("event_type").eqNullSafe(F.col("_et"))
    ).drop("_et")
    return agg.select(
        "event_type",
        "n_events",
        "n_users_exact",
        (
            F.abs(F.col("_hll_users") - F.col("n_users_exact"))
            <= F.greatest(F.lit(3.0), 0.1 * F.col("n_users_exact"))
        ).alias("hll_ok"),
        F.coalesce(  # all-null value group: nothing to bound -> ok
            (F.col("_p50_sketch") >= F.col("_iqr_exact")[0])
            & (F.col("_p50_sketch") <= F.col("_iqr_exact")[1]),
            F.lit(True),
        ).alias("p50_ok"),
    )


ORACLE_SKETCH_STATS = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users_exact,
       TRUE AS hll_ok,
       TRUE AS p50_ok
FROM events
GROUP BY event_type
"""


def q_asof_join(spark: SparkSession, sf: str) -> DataFrame:
    """Time-series as-of join (the event-stream generalization of the
    SCD2 point-in-time join): each click event picks up the latest
    prior-or-simultaneous purchase by the same user.  Spark side is the
    union-and-sweep plan (``joins.asof_join``): ONE hash shuffle on
    user_id, linear sweep, no candidate fan-out — the oracle is
    DuckDB's native ASOF LEFT JOIN, a genuinely independent
    implementation of the same semantics."""
    ev = load_table(spark, sf, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id",
        "user_id",
        F.col("ts").alias("click_ts"),
        F.col("value").alias("click_value"),
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("purchase_value"))
    )
    return join_ops.asof_join(
        clicks,
        purchases,
        key="user_id",
        left_ts="click_ts",
        right_ts="ts",
        right_value="purchase_value",
        out_ts="last_purchase_ts",
        out_value="last_purchase_value",
    )


def q_interval_join(spark: SparkSession, sf: str) -> DataFrame:
    """Interval (range) join: every click paired with EVERY purchase by
    the same user in the preceding 60 minutes — the attribution-window
    generalization of the as-of join (all candidates, not just the
    latest).  Catalyst executes the user_id equality as the hash-join
    key and the time range as a post-join filter, so this stays a
    single-shuffle hash join — no nested-loop, no broadcast
    requirement.  Batch twin of the stream-stream
    ``streaming.jobs.click_purchase_join`` (same condition tree; parity
    asserted in tests)."""
    ev = load_table(spark, sf, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", "value"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_event_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("p_ts"),
        F.col("value").alias("p_value"),
    )
    cond = (
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("p_ts") <= F.col("ts"))
        & (F.col("p_ts") >= F.col("ts") - F.expr("INTERVAL 60 MINUTES"))
    )
    return clicks.join(purchases, cond, "inner").select(
        "event_id", "user_id", "ts", "p_event_id", "p_ts", "p_value"
    )


ORACLE_INTERVAL_JOIN = EV + """
SELECT c.event_id, c.user_id, c.ts,
       p.event_id AS p_event_id, p.ts AS p_ts, p.value AS p_value
FROM ev c
JOIN ev p
  ON c.user_id = p.user_id
 AND p.ts <= c.ts
 AND p.ts >= c.ts - INTERVAL 60 MINUTE
WHERE c.event_type = 'click' AND p.event_type = 'purchase'
"""


ORACLE_ASOF_JOIN = EV + """
, clicks AS (
  SELECT event_id, user_id, ts, value FROM ev WHERE event_type = 'click'),
purchases AS (
  SELECT user_id, ts, max(value) AS purchase_value
  FROM ev WHERE event_type = 'purchase' GROUP BY user_id, ts)
SELECT c.event_id, c.user_id, c.ts AS click_ts, c.value AS click_value,
       p.ts AS last_purchase_ts, p.purchase_value AS last_purchase_value
FROM clicks c ASOF LEFT JOIN purchases p
  ON c.user_id = p.user_id AND c.ts >= p.ts
"""


def q_above_avg_spenders(spark: SparkSession, sf: str) -> DataFrame:
    """Correlated scalar-subquery shape (``WHERE total > (SELECT
    avg(...) ... WHERE same nation)``), written the way Catalyst
    decorrelates it: per-customer order totals, the nation's average
    attached by an unpartitioned-frame window over c_nationkey, keep
    customers above their nation's average.  Round-10 fusion: the r3
    form re-derived the per-customer rollup for both the per-nation
    aggregate and the probe side it joined back to (4 scans — 2 of
    each source); the window computes the nation average from the
    SAME per-customer stream in one pass — one scan per source, one
    exchange on the bounded nation key instead of a second rollup +
    join.  Money goes through exact integer cents (sum is associative
    — shuffle-order-proof; the window sum is the identical bigint sum
    the grouped form produced) and the avg stays an exact-int
    division, so the > comparison is cross-engine deterministic with
    no decimal boundary risk."""
    o = load_table(spark, sf, "orders")
    c = load_table(spark, sf, "customer")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    per_cust = (
        o.groupBy("o_custkey")
        .agg(F.sum(cents).alias("total_cents"))
        .join(
            c.select(F.col("c_custkey").alias("o_custkey"), "c_nationkey"),
            "o_custkey",
        )
    )
    nation_w = Window.partitionBy("c_nationkey")
    avg_cents = (
        F.sum("total_cents").over(nation_w).cast("double")
        / F.count(F.lit(1)).over(nation_w)
    )
    return (
        per_cust.withColumn("avg_cents", avg_cents)
        .filter(F.col("total_cents") > F.col("avg_cents"))
        .select(
            F.col("o_custkey").alias("c_custkey"),
            "c_nationkey",
            (F.col("total_cents").cast("double") / F.lit(100.0)).alias(
                "total_spend"
            ),
            (F.col("avg_cents") / F.lit(100.0)).alias("nation_avg_spend"),
        )
    )


ORACLE_ABOVE_AVG_SPENDERS = """
WITH per_cust AS (
    SELECT o.o_custkey AS c_custkey, c.c_nationkey,
           SUM(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS total_cents
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    GROUP BY o.o_custkey, c.c_nationkey
),
per_nation AS (
    SELECT c_nationkey,
           CAST(SUM(total_cents) AS DOUBLE) / COUNT(*) AS avg_cents
    FROM per_cust GROUP BY c_nationkey
)
SELECT p.c_custkey, p.c_nationkey,
       CAST(p.total_cents AS DOUBLE) / CAST(100 AS DOUBLE) AS total_spend,
       n.avg_cents / CAST(100 AS DOUBLE) AS nation_avg_spend
FROM per_cust p JOIN per_nation n USING (c_nationkey)
WHERE p.total_cents > n.avg_cents
"""


_HIST_WIDTH = 50_000  # bucket width in currency units


def q_order_histogram(spark: SparkSession, sf: str) -> DataFrame:
    """Value-distribution histogram: orders bucketed by floor(total /
    50k), per-bucket count, revenue, and share of orders.  A single
    hash aggregation on a derived key — the bucket expression stays in
    whole-stage codegen, the agg combines map-side, and the bucket
    count (~12) means the final shuffle is trivially small at any
    corpus size.  Revenue goes through exact integer cents; the share
    is an exact-int division, so every output is cross-engine
    deterministic."""
    o = load_table(spark, sf, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    bucket = F.floor(F.col("o_totalprice") / F.lit(float(_HIST_WIDTH))).cast(
        "bigint"
    )
    total = o.agg(F.count(F.lit(1)).alias("n_total"))
    return (
        o.select(bucket.alias("bucket"), cents.alias("cents"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_orders"), F.sum("cents").alias("sum_cents"))
        .join(F.broadcast(total))
        .select(
            "bucket",
            (F.col("bucket") * _HIST_WIDTH).cast("double").alias("bucket_lo"),
            F.col("n_orders").cast("bigint").alias("n_orders"),
            (F.col("sum_cents").cast("double") / F.lit(100.0)).alias(
                "bucket_revenue"
            ),
            (
                F.col("n_orders").cast("double") / F.col("n_total").cast("double")
            ).alias("order_share"),
        )
    )


ORACLE_ORDER_HISTOGRAM = f"""
WITH b AS (
    SELECT CAST(floor(o_totalprice / CAST({_HIST_WIDTH} AS DOUBLE)) AS BIGINT)
               AS bucket,
           CAST(round(o_totalprice * 100) AS BIGINT) AS cents
    FROM orders
),
agg AS (
    SELECT bucket, count(*) AS n_orders, SUM(cents) AS sum_cents
    FROM b GROUP BY bucket
),
n AS (SELECT count(*) AS n_total FROM orders)
SELECT bucket,
       CAST(bucket * {_HIST_WIDTH} AS DOUBLE) AS bucket_lo,
       CAST(n_orders AS BIGINT) AS n_orders,
       CAST(sum_cents AS DOUBLE) / CAST(100 AS DOUBLE) AS bucket_revenue,
       CAST(n_orders AS DOUBLE) / CAST(n_total AS DOUBLE) AS order_share
FROM agg CROSS JOIN n
"""


# ---------------------------------------------------------------- analytic windows / BI patterns (round 3)


def q_analytic_ranks(spark: SparkSession, sf: str) -> DataFrame:
    """Analytic ranking family the reference stops short of (SURVEY
    §2.5 notes ROW_NUMBER only): NTILE equi-depth quartiles,
    PERCENT_RANK, CUME_DIST, and FIRST_VALUE, per nation over customer
    balance.  One hash-partitioned window (partitionBy nation) — the
    same shuffle serves all four functions, and per-nation partitions
    are bounded, so the sort inside each partition stays local at any
    corpus size.  The ordering key includes c_custkey as a unique
    tie-break, which makes rank-derived ratios (r-1)/(n-1) and r/n
    exact integer divisions — bit-identical cross-engine."""
    c = load_table(spark, sf, "customer")
    w = Window.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    return c.select(
        "c_custkey",
        "c_nationkey",
        "c_acctbal",
        F.ntile(4).over(w).cast("bigint").alias("balance_quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.first_value(F.col("c_custkey")).over(w).cast("bigint").alias(
            "poorest_custkey"
        ),
    )


ORACLE_ANALYTIC_RANKS = """
SELECT c_custkey, c_nationkey, c_acctbal,
       CAST(NTILE(4) OVER w AS BIGINT) AS balance_quartile,
       PERCENT_RANK() OVER w AS pct_rank,
       CUME_DIST() OVER w AS cume,
       CAST(FIRST_VALUE(c_custkey) OVER w AS BIGINT) AS poorest_custkey
FROM customer
WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)
"""


def q_cohort_retention(spark: SparkSession, sf: str) -> DataFrame:
    """Cohort retention matrix: customers grouped by first-order month,
    counted per months-elapsed offset.  Two hash aggregations (min
    order month per customer; distinct customers per cell) and one
    equi-join on customer key — no window, no global sort, every stage
    shuffles on a bounded key set.  The canonical BI companion to the
    star schema (reference's Gold layer serves exactly this class of
    query through BigQuery, ``Gold/Gold Layer README.md``)."""
    o = load_table(spark, sf, "orders")
    om = o.select(
        "o_custkey", F.trunc("o_orderdate", "month").alias("order_month")
    )
    cohort = om.groupBy("o_custkey").agg(
        F.min("order_month").alias("cohort_month")
    )
    return (
        om.join(cohort, "o_custkey")
        .groupBy(
            "cohort_month",
            (
                (F.year("order_month") - F.year("cohort_month")) * 12
                + (F.month("order_month") - F.month("cohort_month"))
            ).cast("bigint").alias("month_offset"),
        )
        .agg(F.count_distinct(F.col("o_custkey")).alias("active_customers"))
    )


ORACLE_COHORT_RETENTION = """
WITH om AS (
    SELECT o_custkey, CAST(date_trunc('month', o_orderdate) AS DATE) AS order_month
    FROM orders
),
cohort AS (
    SELECT o_custkey, MIN(order_month) AS cohort_month FROM om GROUP BY o_custkey
)
SELECT c.cohort_month,
       CAST((YEAR(o.order_month) - YEAR(c.cohort_month)) * 12
            + (MONTH(o.order_month) - MONTH(c.cohort_month)) AS BIGINT)
           AS month_offset,
       CAST(COUNT(DISTINCT o.o_custkey) AS BIGINT) AS active_customers
FROM om o JOIN cohort c USING (o_custkey)
GROUP BY 1, 2
"""


def q_funnel_analysis(spark: SparkSession, sf: str) -> DataFrame:
    """Ordered-funnel analysis over the event stream: users who
    viewed, then clicked at-or-after their first view, then purchased
    at-or-after that click.  Each stage is a conditional-min hash
    aggregation keyed on user_id followed by an equi-join back — the
    progression constraint (strictly ordered stages) never needs a
    self-join on time, so the plan is three bounded shuffles on
    user_id.  Stage counts come out as one tiny frame."""
    ev = load_table(spark, sf, "events")
    views = ev.filter(F.col("event_type") == "view").groupBy("user_id").agg(
        F.min("ts").alias("first_view_ts")
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .join(views, "user_id")
        .filter(F.col("ts") >= F.col("first_view_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_click_ts"))
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .join(clicks, "user_id")
        .filter(F.col("ts") >= F.col("first_click_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_purchase_ts"))
    )
    def stage(name, df):
        return df.agg(
            F.lit(name).alias("stage"), F.count(F.lit(1)).alias("users")
        )

    return (
        stage("1_view", views)
        .unionByName(stage("2_click_after_view", clicks))
        .unionByName(stage("3_purchase_after_click", purchases))
    )


ORACLE_FUNNEL_ANALYSIS = EV + """
, views AS (
    SELECT user_id, MIN(ts) AS first_view_ts FROM ev
    WHERE event_type = 'view' GROUP BY user_id
),
clicks AS (
    SELECT e.user_id, MIN(e.ts) AS first_click_ts
    FROM ev e JOIN views v USING (user_id)
    WHERE e.event_type = 'click' AND e.ts >= v.first_view_ts
    GROUP BY e.user_id
),
purchases AS (
    SELECT e.user_id, MIN(e.ts) AS first_purchase_ts
    FROM ev e JOIN clicks c USING (user_id)
    WHERE e.event_type = 'purchase' AND e.ts >= c.first_click_ts
    GROUP BY e.user_id
)
SELECT '1_view' AS stage, CAST(COUNT(*) AS BIGINT) AS users FROM views
UNION ALL
SELECT '2_click_after_view', CAST(COUNT(*) AS BIGINT) FROM clicks
UNION ALL
SELECT '3_purchase_after_click', CAST(COUNT(*) AS BIGINT) FROM purchases
"""


def q_dense_grid_fill(spark: SparkSession, sf: str) -> DataFrame:
    """Report densification: a generated month spine (native
    ``sequence()``, the S4 pattern) cross-joined with the distinct
    status dimension, LEFT-joined to monthly aggregates, zero-filled.
    The spine and status list are tiny generated frames — the cross
    join is dims-only and broadcast; the single real shuffle is the
    monthly aggregation of orders.  Guarantees every (month, status)
    cell exists even where no orders landed — the shape BI tools need
    for gap-free charts."""
    o = load_table(spark, sf, "orders")
    bounds = o.agg(
        F.min(F.trunc("o_orderdate", "month")).alias("lo"),
        F.max(F.trunc("o_orderdate", "month")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(
            F.expr("sequence(lo, hi, interval 1 month)")
        ).alias("month")
    )
    statuses = o.select(F.col("o_orderstatus").alias("status")).distinct()
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    monthly = o.groupBy(
        F.trunc("o_orderdate", "month").alias("month"),
        F.col("o_orderstatus").alias("status"),
    ).agg(
        F.count(F.lit(1)).alias("n_orders"), F.sum(cents).alias("cents")
    )
    return (
        spine.crossJoin(statuses)
        .join(monthly, ["month", "status"], "left")
        .select(
            "month",
            "status",
            F.coalesce(F.col("n_orders"), F.lit(0)).cast("bigint").alias(
                "n_orders"
            ),
            (
                F.coalesce(F.col("cents"), F.lit(0)).cast("double")
                / F.lit(100.0)
            ).alias("revenue"),
        )
    )


ORACLE_DENSE_GRID_FILL = """
WITH bounds AS (
    SELECT CAST(date_trunc('month', MIN(o_orderdate)) AS DATE) AS lo,
           CAST(date_trunc('month', MAX(o_orderdate)) AS DATE) AS hi
    FROM orders
),
spine AS (
    SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 MONTH)) AS DATE)
               AS month
    FROM bounds
),
statuses AS (SELECT DISTINCT o_orderstatus AS status FROM orders),
monthly AS (
    SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
           o_orderstatus AS status,
           COUNT(*) AS n_orders,
           SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
    FROM orders GROUP BY 1, 2
)
SELECT s.month, st.status,
       CAST(COALESCE(m.n_orders, 0) AS BIGINT) AS n_orders,
       CAST(COALESCE(m.cents, 0) AS DOUBLE) / CAST(100 AS DOUBLE) AS revenue
FROM spine s CROSS JOIN statuses st
LEFT JOIN monthly m ON m.month = s.month AND m.status = st.status
"""


_FUZZY_MAX_DIST = 3
# length-bucket width must EXCEED the edit-distance bound: then any
# true pair (length diff <= max_dist) sits in the same or an adjacent
# bucket, so joining each row against buckets {lb-1, lb, lb+1} loses
# nothing while cutting within-block pair enumeration ~bucket-fold
_FUZZY_LB_WIDTH = _FUZZY_MAX_DIST + 1
# Salted 32x replication of the id table only pays when the matched
# names are FEW and hot (the 100x part table: 64 distinct names over
# 2M rows).  Past this many distinct matched names the keys are no
# longer individually hot and the plain equi-join + AQE skew split
# wins — replication would cost 32x shuffle volume for nothing.
_FUZZY_SALT_MAX_NAMES = 4096


def q_fuzzy_name_match(spark: SparkSession, sf: str) -> DataFrame:
    """Entity-resolution fuzzy join: part-name pairs within Levenshtein
    distance 3.  Round-9 rewrite after the full-catalog 100x sweep
    TIMED THIS OUT (>300 s; the r6 form compared row pairs inside
    (first-token, length-bucket) blocks, and the 100x part table has
    2M rows over only 64 DISTINCT names — 4.2e11 candidate pairs, all
    duplication):

    1. Dedupe to DISTINCT names first — edit distance is a function of
       the name, never the row.  The fuzzy comparison runs on the
       distinct-name relation inside the same exact blocking key
       (first token + overlapping name-length bucket: levenshtein <= 3
       implies length difference <= 3, so bucket width 4 with the
       probe side exploded to lb-1..lb+1 loses nothing; a length guard
       still precedes the levenshtein kernel).  Candidate work is now
       quadratic in DISTINCT names, linear in rows.
    2. Expand matched name pairs back to id pairs with two equi-joins.
       The matched-pair side is small (broadcast); the second join
       keys on name_b, whose 64 distinct values are the textbook
       hot-key regime — it goes through ``operators.joins.salted_join``
       (result-identical to the plain join, proven by
       ``test_salted_join_equals_plain_join``), spreading each hot
       name over n_salts reducers instead of one.

    On high-cardinality registries (distinct ~ rows) step 1 degrades
    gracefully to the r6 plan; on duplicate-heavy ones it collapses
    the edit-distance work entirely.  100x: >300 s -> seconds of
    fuzzy work + output-bound expansion (the result set itself is
    quadratic in ids-per-name — that is the answer's size, not plan
    waste).

    Round-10 gates (ADVICE r9): the matched-pair frame broadcasts via
    ``maybe_broadcast`` (Catalyst size estimate of the MATERIALIZED
    checkpoint, so a quadratic pair blowup on a high-cardinality
    registry falls back to a shuffle join instead of a driver OOM),
    and the 32x salted replication only engages in the regime it
    exists for — few distinct matched names (hot keys); otherwise the
    plain equi-join runs and AQE's skew split handles the residue.
    Both gates read the checkpointed frame, so the probes are a
    metadata lookup + one tiny agg, never a source re-scan."""
    from ..operators.joins import salted_join
    from ..operators.sizing import maybe_broadcast
    from ..tables import scale_out

    p = load_table(spark, sf, "part")
    ids = p.select("p_partkey", "p_name")
    lb = F.floor(F.length("p_name") / _FUZZY_LB_WIDTH)
    named = ids.select("p_name").distinct().select(
        "p_name",
        F.split(F.col("p_name"), " ").getItem(0).alias("block"),
        lb.alias("lb"),
    )
    left = scale_out(named).select(
        F.col("block"),
        F.explode(
            F.array(F.col("lb") - 1, F.col("lb"), F.col("lb") + 1)
        ).alias("lbk"),
        F.col("p_name").alias("name_a"),
    )
    right = named.select(
        F.col("block"),
        F.col("lb").alias("lbk"),
        F.col("p_name").alias("name_b"),
    )
    name_pairs = (
        left.join(right, ["block", "lbk"])
        .filter(F.col("name_a") != F.col("name_b"))
        .filter(
            F.abs(F.length("name_a") - F.length("name_b")) <= _FUZZY_MAX_DIST
        )
        .select(
            "name_a",
            "name_b",
            F.levenshtein("name_a", "name_b").cast("bigint").alias("edit_dist"),
        )
        .filter(F.col("edit_dist") <= _FUZZY_MAX_DIST)
        .transform(checkpoint)  # distinct-name pairs: tiny, feeds two joins
    )
    a_side = ids.select(
        F.col("p_partkey").alias("key_a"), F.col("p_name").alias("name_a")
    ).join(maybe_broadcast(name_pairs), "name_a")
    b_side = ids.select(
        F.col("p_partkey").alias("key_b"), F.col("p_name").alias("name_b")
    )
    n_hot_names = (
        name_pairs.select("name_b").distinct().limit(_FUZZY_SALT_MAX_NAMES + 1).count()
    )
    if n_hot_names <= _FUZZY_SALT_MAX_NAMES:
        expanded = salted_join(a_side, b_side, "name_b", n_salts=32)
    else:
        expanded = a_side.join(b_side, "name_b")
    return (
        expanded
        .filter(F.col("key_a") < F.col("key_b"))
        .select("key_a", "key_b", "name_a", "name_b", "edit_dist")
    )


ORACLE_FUZZY_NAME_MATCH = f"""
WITH named AS (
    SELECT p_partkey, p_name, string_split(p_name, ' ')[1] AS block,
           CAST(floor(length(p_name) / {_FUZZY_LB_WIDTH}) AS BIGINT) AS lb
    FROM part
)
SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
       a.p_name AS name_a, b.p_name AS name_b,
       CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS edit_dist
FROM named a JOIN named b
  ON a.block = b.block AND b.lb BETWEEN a.lb - 1 AND a.lb + 1
WHERE a.p_partkey < b.p_partkey
  AND a.p_name <> b.p_name
  AND abs(length(a.p_name) - length(b.p_name)) <= {_FUZZY_MAX_DIST}
  AND levenshtein(a.p_name, b.p_name) <= {_FUZZY_MAX_DIST}
"""


_PATH_K = 10


def q_event_path_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Sequence mining over the event stream: top-10 most frequent
    per-user event-type trigrams (path fragments like
    view>click>purchase).  LAG twice over a user-partitioned window
    (one shuffle, bounded per-user partitions), then the two-phase
    count + TakeOrdered top-k.  The window ordering carries event_id
    as a unique tie-break so trigram extraction is deterministic under
    equal timestamps."""
    ev = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tri = (
        ev.select(
            F.lag("event_type", 2).over(w).alias("e1"),
            F.lag("event_type", 1).over(w).alias("e2"),
            F.col("event_type").alias("e3"),
        )
        .filter(F.col("e1").isNotNull())
        .select(F.concat_ws(">", "e1", "e2", "e3").alias("path"))
    )
    return (
        tri.groupBy("path")
        .agg(F.count(F.lit(1)).alias("occurrences"))
        .orderBy(F.col("occurrences").desc(), "path")
        .limit(_PATH_K)
    )


ORACLE_EVENT_PATH_TOPK = EV + f"""
, tri AS (
    SELECT LAG(event_type, 2) OVER w AS e1,
           LAG(event_type, 1) OVER w AS e2,
           event_type AS e3
    FROM ev
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT e1 || '>' || e2 || '>' || e3 AS path,
       CAST(COUNT(*) AS BIGINT) AS occurrences
FROM tri WHERE e1 IS NOT NULL
GROUP BY 1
ORDER BY occurrences DESC, path
LIMIT {_PATH_K}
"""


# ------------------------------------------------- approximate-quantile sketch verdict (round 5)

_AQ_ACCURACY = 10000  # approx_percentile sketch accuracy (1/accuracy relative rank error)
_AQ_RTOL = 0.01  # verdict bound: |approx - exact| <= 1% of exact


def q_approx_quantile_verdict(spark: SparkSession, sf: str) -> DataFrame:
    """Approximate-quantile sketch (Greenwald-Khanna via Spark's
    ``percentile_approx``) checked against the exact grouped
    PERCENTILE_CONT — the quantile member of the estimator family
    ``q_sketch_stats`` started for COUNT(DISTINCT).  Verdict-query
    shape (same pattern as sketch_stats / ann_ivf_trained): the exact
    percentiles are fully oracle-checked columns, the sketch arm folds
    into ``ok_p50`` / ``ok_p90`` booleans asserting the estimate lands
    within 1% relative error — the GK sketch at accuracy 10k is ~100x
    inside that bound, so the boolean only trips on structural
    breakage (wrong column, wrong group, broken sketch merge).

    Scale shape: the sketch is the 100 TB path — single-pass, mergeable
    per-partition state, no window shuffle; the exact arm (one window
    + hash agg via ``percentile_cont_grouped``) is the test-scale
    referee.  At production scale only the sketch runs.
    """
    li = load_table(spark, sf, "lineitem").withColumn(
        "_tb", F.col("l_orderkey") * 10 + F.col("l_linenumber")
    )
    exact = agg_ops.percentile_cont_grouped(
        li,
        "l_returnflag",
        "l_extendedprice",
        "_tb",
        {"p50_price": 0.5, "p90_price": 0.9},
        count_alias="n_rows",
    )
    approx = li.groupBy("l_returnflag").agg(
        F.percentile_approx("l_extendedprice", 0.5, _AQ_ACCURACY).alias("ap50"),
        F.percentile_approx("l_extendedprice", 0.9, _AQ_ACCURACY).alias("ap90"),
    )
    return (
        exact.join(approx, "l_returnflag")
        .select(
            "l_returnflag",
            "n_rows",
            "p50_price",
            "p90_price",
            (
                F.abs(F.col("ap50") - F.col("p50_price"))
                <= F.lit(_AQ_RTOL) * F.col("p50_price")
            ).alias("ok_p50"),
            (
                F.abs(F.col("ap90") - F.col("p90_price"))
                <= F.lit(_AQ_RTOL) * F.col("p90_price")
            ).alias("ok_p90"),
        )
    )


ORACLE_APPROX_QUANTILE_VERDICT = """
WITH ranked AS (
  SELECT l_returnflag, l_extendedprice AS v,
         row_number() OVER (PARTITION BY l_returnflag
                            ORDER BY l_extendedprice,
                                     l_orderkey * 10 + l_linenumber) AS rn,
         count(*) OVER (PARTITION BY l_returnflag) AS n
  FROM lineitem),
picked AS (
  SELECT l_returnflag,
         CAST(max(n) AS BIGINT) AS n_rows,
         max(CASE WHEN rn = floor((n - 1) * CAST(0.5 AS DOUBLE)) + 1 THEN v END) AS lo50,
         max(CASE WHEN rn = ceil((n - 1) * CAST(0.5 AS DOUBLE)) + 1 THEN v END) AS hi50,
         max(CASE WHEN rn = floor((n - 1) * CAST(0.9 AS DOUBLE)) + 1 THEN v END) AS lo90,
         max(CASE WHEN rn = ceil((n - 1) * CAST(0.9 AS DOUBLE)) + 1 THEN v END) AS hi90
  FROM ranked GROUP BY l_returnflag)
SELECT l_returnflag, n_rows,
       lo50 + (hi50 - lo50) * ((n_rows - 1) * CAST(0.5 AS DOUBLE)
                               - floor((n_rows - 1) * CAST(0.5 AS DOUBLE))) AS p50_price,
       lo90 + (hi90 - lo90) * ((n_rows - 1) * CAST(0.9 AS DOUBLE)
                               - floor((n_rows - 1) * CAST(0.9 AS DOUBLE))) AS p90_price,
       TRUE AS ok_p50,
       TRUE AS ok_p90
FROM picked
"""


# ------------------------------------------------- exact grouped OLS regression (round 5)

_OLS_ANCHOR = "2024-01-01"  # x = days since anchor (small, exact ints)


def q_ols_trend(spark: SparkSession, sf: str) -> DataFrame:
    """Per-group ordinary-least-squares trend (value vs event day) in
    closed form — the regression/corr aggregate family (REGR_SLOPE /
    REGR_INTERCEPT / R2) built from plain sums, the way a distributed
    engine should: ONE hash aggregation over exact integers, no second
    pass, no collect.

    Cross-engine determinism (rule (1)/(3) of the module header taken
    further): y is 2dp-exact so it sums as INTEGER CENTS, x is integer
    days since a fixed anchor — n, Σx, Σy, Σxy, Σx², Σy² are all exact
    BIGINTs; slope/intercept/r² then evaluate in IDENTICAL double
    expression trees on identical operands in both engines.  Overflow
    headroom: n·Σy² stays under 2^63 through ~1e5 rows/group at these
    value magnitudes; at corpus scale widen the sums to DECIMAL(38,0)
    (same plan, same tree).
    """
    ev = load_table(spark, sf, "events")
    base = ev.select(
        "event_type",
        F.datediff(F.col("ts").cast("date"), F.lit(_OLS_ANCHOR).cast("date"))
        .cast("bigint")
        .alias("x"),
        F.round(F.col("value") * 100, 0).cast("bigint").alias("yc"),
    )
    sums = base.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("yc").alias("syc"),
        F.sum(F.col("x") * F.col("yc")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("yc") * F.col("yc")).alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("syc")).cast("double")
    den_x = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    den_y = (F.col("n") * F.col("syy") - F.col("syc") * F.col("syc")).cast("double")
    slope = F.when(den_x != 0.0, num / den_x / F.lit(100.0))
    intercept = F.when(
        den_x != 0.0,
        F.col("syc").cast("double") / (F.lit(100.0) * F.col("n").cast("double"))
        - (num / den_x / F.lit(100.0))
        * (F.col("sx").cast("double") / F.col("n").cast("double")),
    )
    r2 = F.when(
        (den_x != 0.0) & (den_y != 0.0), num * num / (den_x * den_y)
    )
    return sums.select(
        "event_type",
        F.col("n").alias("n_events"),
        slope.alias("slope_per_day"),
        intercept.alias("intercept"),
        r2.alias("r2"),
    )


ORACLE_OLS_TREND = f"""
WITH ev AS (
    SELECT event_type,
           CAST(date_diff('day', DATE '{_OLS_ANCHOR}',
                          CAST(make_timestamp(epoch_ns(ts)//1000) AS DATE)) AS BIGINT) AS x,
           CAST(round(value * 100) AS BIGINT) AS yc
    FROM events
),
sums AS (
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           sum(x) AS sx, sum(yc) AS syc,
           sum(x * yc) AS sxy, sum(x * x) AS sxx, sum(yc * yc) AS syy
    FROM ev GROUP BY event_type
)
SELECT event_type,
       n AS n_events,
       CASE WHEN CAST(n * sxx - sx * sx AS DOUBLE) <> 0.0 THEN
            CAST(n * sxy - sx * syc AS DOUBLE)
              / CAST(n * sxx - sx * sx AS DOUBLE) / 100.0 END AS slope_per_day,
       CASE WHEN CAST(n * sxx - sx * sx AS DOUBLE) <> 0.0 THEN
            CAST(syc AS DOUBLE) / (100.0 * CAST(n AS DOUBLE))
            - (CAST(n * sxy - sx * syc AS DOUBLE)
               / CAST(n * sxx - sx * sx AS DOUBLE) / 100.0)
              * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) END AS intercept,
       CASE WHEN CAST(n * sxx - sx * sx AS DOUBLE) <> 0.0
             AND CAST(n * syy - syc * syc AS DOUBLE) <> 0.0 THEN
            CAST(n * sxy - sx * syc AS DOUBLE) * CAST(n * sxy - sx * syc AS DOUBLE)
              / (CAST(n * sxx - sx * sx AS DOUBLE)
                 * CAST(n * syy - syc * syc AS DOUBLE)) END AS r2
FROM sums
"""


# ------------------------------------------------- data-quality expectation suite (round 5)

_DQ_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")


def q_dq_expectations(spark: SparkSession, sf: str) -> DataFrame:
    """dbt-test-style data-quality expectation suite over the star
    schema, ONE row per expectation: primary-key uniqueness,
    referential integrity, accepted-values, not-null, and range checks
    — the pre-publish gate every warehouse load runs (the reference's
    tier-1 validation generalized to declarative expectations).

    Scale shape (round-9 fusion; the r6 form scanned orders 5x,
    lineitem 4x, customer 2x — one scan per expectation arm): each
    table's row count AND its predicate-violation counts come from ONE
    conditional aggregation (count_if), checkpointed as a 1-row frame
    its expectations share; only the two structurally different checks
    keep their own subtree (the pk dup-agg needs a groupBy, the fk
    check an anti-join).  11 scans -> 6 executed (3 in the returned
    plan — one per distinct table).  Violations counted, not
    materialized — the quarantine path (`validation_quarantine`) is
    the row-level twin.
    """
    o = load_table(spark, sf, "orders")
    li = load_table(spark, sf, "lineitem")
    c = load_table(spark, sf, "customer")

    one = F.count(F.lit(1)).cast("bigint")

    def viol_sum(cond):
        # F.sum over an empty table is NULL, not 0; the DuckDB oracle's
        # count-based arms return 0/true on empty inputs (ADVICE r9) —
        # coalesce keeps the two engines aligned there.
        return F.coalesce(
            F.sum(cond.cast("bigint")), F.lit(0).cast("bigint")
        ).cast("bigint")

    # one pass per table: total + every filter-shaped violation count
    o_stats = o.agg(
        one.alias("checked"),
        viol_sum(F.col("o_orderstatus").isNull()).alias("nn_viol"),
    ).transform(checkpoint)
    li_stats = li.agg(
        one.alias("checked"),
        viol_sum(
            F.col("l_quantity").isNull()
            | (F.col("l_quantity") < 1)
            | (F.col("l_quantity") > 50)
        ).alias("rng_viol"),
    ).transform(checkpoint)
    c_stats = c.agg(
        one.alias("checked"),
        viol_sum(~F.col("c_mktsegment").isin(*_DQ_SEGMENTS)).alias("seg_viol"),
    ).transform(checkpoint)

    def row(name: str, checked, violations):
        return (
            checked.crossJoin(violations)
            .select(
                F.lit(name).alias("expectation"),
                F.col("checked").cast("bigint").alias("checked"),
                F.col("violations").cast("bigint").alias("violations"),
                (F.col("violations") == 0).alias("passed"),
            )
        )

    pk = row(
        "orders_pk_unique",
        o_stats.select("checked"),
        o.groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > 1)
        .agg(F.coalesce(F.sum("_n"), F.lit(0)).alias("violations")),
    )
    fk = row(
        "lineitem_fk_orders",
        li_stats.select("checked"),
        li.join(o.select("o_orderkey"), li.l_orderkey == o.o_orderkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("violations")),
    )
    seg = row(
        "customer_segment_accepted",
        c_stats.select("checked"),
        c_stats.select(F.col("seg_viol").alias("violations")),
    )
    nn = row(
        "orders_status_not_null",
        o_stats.select("checked"),
        o_stats.select(F.col("nn_viol").alias("violations")),
    )
    rng = row(
        "lineitem_quantity_range",
        li_stats.select("checked"),
        li_stats.select(F.col("rng_viol").alias("violations")),
    )
    out = pk
    for nxt in (fk, seg, nn, rng):
        out = out.unionByName(nxt)
    return out


_DQ_SEG_IN = ", ".join(f"'{s}'" for s in _DQ_SEGMENTS)

ORACLE_DQ_EXPECTATIONS = f"""
SELECT 'orders_pk_unique' AS expectation,
       CAST((SELECT count(*) FROM orders) AS BIGINT) AS checked,
       CAST(COALESCE((SELECT sum(n) FROM (
            SELECT count(*) AS n FROM orders GROUP BY o_orderkey HAVING count(*) > 1)), 0) AS BIGINT)
           AS violations,
       COALESCE((SELECT sum(n) FROM (
            SELECT count(*) AS n FROM orders GROUP BY o_orderkey HAVING count(*) > 1)), 0) = 0
           AS passed
UNION ALL
SELECT 'lineitem_fk_orders',
       CAST((SELECT count(*) FROM lineitem) AS BIGINT),
       CAST((SELECT count(*) FROM lineitem l WHERE NOT EXISTS (
            SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT),
       (SELECT count(*) FROM lineitem l WHERE NOT EXISTS (
            SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) = 0
UNION ALL
SELECT 'customer_segment_accepted',
       CAST((SELECT count(*) FROM customer) AS BIGINT),
       CAST((SELECT count(*) FROM customer
             WHERE c_mktsegment NOT IN ({_DQ_SEG_IN})) AS BIGINT),
       (SELECT count(*) FROM customer WHERE c_mktsegment NOT IN ({_DQ_SEG_IN})) = 0
UNION ALL
SELECT 'orders_status_not_null',
       CAST((SELECT count(*) FROM orders) AS BIGINT),
       CAST((SELECT count(*) FROM orders WHERE o_orderstatus IS NULL) AS BIGINT),
       (SELECT count(*) FROM orders WHERE o_orderstatus IS NULL) = 0
UNION ALL
SELECT 'lineitem_quantity_range',
       CAST((SELECT count(*) FROM lineitem) AS BIGINT),
       CAST((SELECT count(*) FROM lineitem
             WHERE l_quantity IS NULL OR l_quantity < 1 OR l_quantity > 50) AS BIGINT),
       (SELECT count(*) FROM lineitem
        WHERE l_quantity IS NULL OR l_quantity < 1 OR l_quantity > 50) = 0
"""


def q_sliding_window(spark: SparkSession, sf: str) -> DataFrame:
    """Sliding (hopping) event-time window — 1-hour width, 30-minute
    slide, so every event lands in exactly two windows.  Completes the
    window family next to tumbling (`q_tumbling_window`) and session
    (`q_session_window`); the Structured Streaming twin is the same
    expression with a watermark.  Value sums go through exact integer
    cents (module header rule (1)); the oracle replays Spark's
    epoch-aligned window grid with integer epoch arithmetic."""
    ev = load_table(spark, sf, "events")
    return (
        ev.groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(F.round(F.col("value") * 100, 0).cast("bigint")).alias("_c"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            (F.col("_c").cast("double") / F.lit(100.0)).alias("sum_value"),
        )
    )


ORACLE_SLIDING_WINDOW = EV + """
, grid AS (
    SELECT event_type, CAST(round(value * 100) AS BIGINT) AS yc,
           make_timestamp((epoch_us(ts) // 1800000000) * 1800000000) AS s0
    FROM ev
),
hops AS (
    SELECT event_type, yc, s0 AS window_start FROM grid
    UNION ALL
    SELECT event_type, yc, s0 - INTERVAL 30 MINUTE FROM grid
)
SELECT window_start, event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(yc) AS DOUBLE) / 100.0 AS sum_value
FROM hops
GROUP BY window_start, event_type
"""


# ------------------------------------------------- count-min sketch (round 5)


def q_count_min_verdict(spark: SparkSession, sf: str) -> DataFrame:
    """Count-min heavy-hitter verdict: build a (3 x 512) CMS over event
    user_ids, estimate the top-20 users' event counts from the sketch,
    and assert the CMS guarantees per item — never an undercount, and
    over by at most 2N/width.

    Unlike HLL (``q_sketch_stats``), the sketch here is md5-derived and
    deterministic, so the DuckDB oracle replays it CELL-FOR-CELL and
    the estimates hash-match exactly — the bound booleans are verified
    values, not just asserted-true flags.

    Scale shape: the build shuffles at most depth*width counter rows
    regardless of input size (map-side combined); the probe joins the
    broadcast grid.  Exact counts exist for the verdict only."""
    ev = load_table(spark, sf, "events")
    sketch = cms_ops.build_count_min(ev, "user_id")
    exact = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact_cnt"))
        .orderBy(F.col("exact_cnt").desc(), "user_id")
        .limit(20)
    )
    est = cms_ops.estimate_counts(exact, sketch, "user_id")
    n_tot = F.broadcast(
        ev.agg(F.count(F.lit(1)).cast("bigint").alias("n_tot"))
    )
    slack = F.expr(f"(2 * n_tot) DIV {cms_ops.WIDTH}")
    return est.crossJoin(n_tot).select(
        "user_id",
        "exact_cnt",
        "cms_est",
        (F.col("cms_est") >= F.col("exact_cnt")).alias("over_ok"),
        (F.col("cms_est") <= F.col("exact_cnt") + slack).alias("bound_ok"),
    )


def _sql_cms_bucket(item_expr: str, d_expr: str) -> str:
    return (
        f"('0x' || substr(md5(CAST({item_expr} AS VARCHAR) || ':' "
        f"|| {d_expr}), 1, 15))::BIGINT % {cms_ops.WIDTH}"
    )


ORACLE_COUNT_MIN_VERDICT = f"""
WITH depths(d) AS (VALUES (0), (1), (2)),
cells AS (
    SELECT t.d, {_sql_cms_bucket('e.user_id', 't.d')} AS bucket,
           CAST(count(*) AS BIGINT) AS total
    FROM events e CROSS JOIN depths t
    GROUP BY 1, 2
),
exact AS (
    SELECT user_id, CAST(count(*) AS BIGINT) AS exact_cnt
    FROM events GROUP BY user_id
    ORDER BY exact_cnt DESC, user_id LIMIT 20
),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_tot FROM events),
est AS (
    SELECT x.user_id, x.exact_cnt, min(c.total) AS cms_est
    FROM exact x CROSS JOIN depths t
    JOIN cells c
      ON c.d = t.d AND c.bucket = {_sql_cms_bucket('x.user_id', 't.d')}
    GROUP BY x.user_id, x.exact_cnt
)
SELECT user_id, exact_cnt, cms_est,
       cms_est >= exact_cnt AS over_ok,
       cms_est <= exact_cnt + (2 * n_tot) // {cms_ops.WIDTH} AS bound_ok
FROM est CROSS JOIN n
"""


# ------------------------------------- correlated-agg subquery (round 5)


def q_dominant_suppliers(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q20-shape correlated aggregate subquery, decorrelated the
    Spark-first way: "suppliers shipping more than 30% of a part's
    total volume" — the correlated `WHERE qty > 0.3 * (SELECT sum(..)
    WHERE partkey = outer.partkey)` becomes two shared-scan hash aggs
    and an equi-join (what Catalyst's decorrelation produces for the
    SQL form, written explicitly so the plan is guaranteed).

    Exactness: quantities are integral doubles -> BIGINT sums; the 30%
    test cross-multiplies integers (qty*10 > tot*3) so no float
    threshold; share is a single final division.

    Scale shape: both aggs shuffle on (partkey[, suppkey]) — map-side
    combined; the parts total re-joins on its agg key (no re-shuffle
    under AQE same-key partitioning); supplier names broadcast."""
    li = load_table(spark, sf, "lineitem").filter(
        F.year("l_shipdate") == 1996
    )
    per = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum("l_quantity").cast("bigint").alias("qty_sup")
    )
    tot = li.groupBy("l_partkey").agg(
        F.sum("l_quantity").cast("bigint").alias("qty_part")
    )
    s = load_table(spark, sf, "supplier").select("s_suppkey", "s_name")
    return (
        per.join(tot, "l_partkey")
        .filter(
            (F.col("qty_sup") * 10 > F.col("qty_part") * 3)
            & (F.col("qty_part") >= 50)
        )
        .join(F.broadcast(s), per["l_suppkey"] == s["s_suppkey"])
        .select(
            "s_suppkey",
            "s_name",
            F.col("l_partkey").alias("p_partkey"),
            "qty_sup",
            "qty_part",
            (F.col("qty_sup").cast("double") / F.col("qty_part").cast("double")).alias(
                "share"
            ),
        )
    )


ORACLE_DOMINANT_SUPPLIERS = """
WITH li AS (
    SELECT * FROM lineitem WHERE year(l_shipdate) = 1996
),
per AS (
    SELECT l_partkey, l_suppkey, CAST(sum(l_quantity) AS BIGINT) AS qty_sup
    FROM li GROUP BY 1, 2
),
tot AS (
    SELECT l_partkey, CAST(sum(l_quantity) AS BIGINT) AS qty_part
    FROM li GROUP BY 1
)
SELECT s.s_suppkey, s.s_name, per.l_partkey AS p_partkey,
       per.qty_sup, tot.qty_part,
       CAST(per.qty_sup AS DOUBLE) / CAST(tot.qty_part AS DOUBLE) AS share
FROM per
JOIN tot USING (l_partkey)
JOIN supplier s ON per.l_suppkey = s.s_suppkey
WHERE per.qty_sup * 10 > tot.qty_part * 3 AND tot.qty_part >= 50
"""


# ------------------------------------------------- equi-depth bins (round 5)

_EDB_BINS = 8


def q_equi_depth_bins(spark: SparkSession, sf: str) -> DataFrame:
    """Equi-depth (quantile) binning of order totals — the feature-
    engineering discretizer (each bin holds ~the same row count, so
    skewed value distributions don't starve bins) over a DETERMINISTIC
    order (value, then key — ties must not depend on partitioning) +
    per-bin stats in exact cents.

    Scale shape (round-9 rewrite; the r5 form ran ``ntile`` over a
    global window = every row through ONE partition, flagged by the
    full-catalog 100x sweep as the only remaining single-partition
    cliff): exact global rank without a global sort —
    ``repartitionByRange`` on the sort key gives ordered partition
    ranges, ranks are computed per partition in parallel, and each
    partition's global offset is the running sum of the tiny
    per-partition counts (broadcast back).  The ntile bucket is then
    integer arithmetic on the global rank (first N%k buckets take one
    extra row — Spark/DuckDB ntile semantics reproduced exactly).
    One range shuffle + parallel windows; nothing single-partition.
    The approximate path at 100 TB is percentile_approx cut points
    (``q_approx_quantile_verdict``); this operator is the exact twin."""
    o = load_table(spark, sf, "orders")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("bigint")
    vals = o.select("o_orderkey", cents.alias("cents"))
    # ordered range partitions, materialized once for the two
    # consumers (per-partition counts; per-partition ranking)
    ranged = (
        vals.repartitionByRange("cents", "o_orderkey")
        .withColumn("pid", F.spark_partition_id())
        .transform(checkpoint)
    )
    sizes = ranged.groupBy("pid").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_part")
    )
    ow = Window.orderBy("pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = sizes.select(
        "pid",
        F.coalesce(F.sum("n_part").over(ow), F.lit(0).cast("bigint")).alias(
            "offset"
        ),
        F.sum("n_part").over(
            Window.orderBy("pid").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("n_total"),
    )
    lw = Window.partitionBy("pid").orderBy("cents", "o_orderkey")
    ranked = (
        ranged.withColumn("lrn", F.row_number().over(lw).cast("bigint"))
        .join(F.broadcast(offsets), "pid")
        .select(
            "o_orderkey",
            "cents",
            (F.col("lrn") + F.col("offset")).alias("rn"),
            "n_total",
        )
    )
    k = F.lit(_EDB_BINS).cast("bigint")
    q = F.expr(f"n_total DIV {_EDB_BINS}")
    r = F.col("n_total") % k
    head = r * (q + 1)  # rows covered by the (q+1)-sized buckets
    bin_col = F.when(
        F.col("rn") <= head,
        F.expr(f"(rn + (n_total DIV {_EDB_BINS})) DIV "
               f"((n_total DIV {_EDB_BINS}) + 1)"),
    ).otherwise(
        r + F.expr(
            f"(rn - (n_total % {_EDB_BINS}) * ((n_total DIV {_EDB_BINS}) + 1)"
            f" + (n_total DIV {_EDB_BINS}) - 1) DIV (n_total DIV {_EDB_BINS})"
        )
    ).cast("bigint")
    binned = ranked.withColumn("bin", bin_col)
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        (F.min("cents").cast("double") / 100).alias("lo_price"),
        (F.max("cents").cast("double") / 100).alias("hi_price"),
        (F.sum("cents").cast("double") / 100).alias("sum_price"),
    )


ORACLE_EQUI_DEPTH_BINS = f"""
WITH binned AS (
    SELECT o_orderkey,
           CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents,
           CAST(ntile({_EDB_BINS}) OVER (
               ORDER BY CAST(round(o_totalprice * 100, 0) AS BIGINT),
                        o_orderkey)
             AS BIGINT) AS bin
    FROM orders
)
SELECT bin,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(min(cents) AS DOUBLE) / 100 AS lo_price,
       CAST(max(cents) AS DOUBLE) / 100 AS hi_price,
       CAST(sum(cents) AS DOUBLE) / 100 AS sum_price
FROM binned GROUP BY bin
"""


# ------------------------------------------------- 2D skyline (round 5)


def q_pareto_parts(spark: SparkSession, sf: str) -> DataFrame:
    """2D skyline (Pareto front): parts where no other part is both
    cheaper AND smaller (strictly better on one axis, no worse on the
    other).  The naive formulation is a quadratic dominance self-join;
    expressed as ONE sort + a running minimum it is O(n log n): after
    ordering by (price asc, size asc), a part is dominated iff some
    EARLIER part has strictly smaller size — i.e. the exclusive
    running-min of size undercuts it — plus the duplicate-point case
    (an identical (price, size) seen earlier dominates by key order).

    Exactness: prices compared in integer cents; window frame is
    rows-between so ties are handled by the explicit key order."""
    p = load_table(spark, sf, "part")
    cents = F.round(F.col("p_retailprice") * 100, 0).cast("bigint")
    base = p.select(
        "p_partkey", cents.alias("price_cents"), F.col("p_size").cast("bigint").alias("size")
    )
    w = (
        Window.orderBy("price_cents", "size", "p_partkey")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = base.withColumn("prev_min_size", F.min("size").over(w))
    dominated = F.col("prev_min_size").isNotNull() & (
        F.col("prev_min_size") <= F.col("size")
    )
    return flagged.filter(~dominated).select(
        "p_partkey",
        (F.col("price_cents").cast("double") / 100).alias("p_retailprice"),
        F.col("size").alias("p_size"),
    )


ORACLE_PARETO_PARTS = """
WITH base AS (
    SELECT p_partkey,
           CAST(round(p_retailprice * 100, 0) AS BIGINT) AS price_cents,
           CAST(p_size AS BIGINT) AS size
    FROM part
),
flagged AS (
    SELECT *,
           min(size) OVER (
               ORDER BY price_cents, size, p_partkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ) AS prev_min_size
    FROM base
)
SELECT p_partkey,
       CAST(price_cents AS DOUBLE) / 100 AS p_retailprice,
       size AS p_size
FROM flagged
WHERE prev_min_size IS NULL OR prev_min_size > size
"""


# ------------------------------------------------- record linkage (round 5)

_RL_MATCH = 14  # score >= -> match
_RL_POSSIBLE = 8  # score >= -> possible (clerical review)


def q_record_linkage(spark: SparkSession, sf: str) -> DataFrame:
    """Fellegi-Sunter-shape record linkage between the customer and
    supplier registries: candidate pairs via BLOCKING (same nation —
    never the cross product), then per-field agreement weights in
    integer "bits" summed into a link score and classified
    match / possible / non-match.  The entity-resolution workload:
    blocking bounds the pair space, weights make agreement evidence
    additive.

    Fields: entity-number edit distance (levenshtein over the numeric
    suffix), account-balance proximity (exact cents), plus the
    blocking field itself.  All-integer scoring — exact cross-engine.

    Scale shape (round-9 rewrite — the full-catalog 100x sweep TIMED
    OUT the r5 form, which joined on nation alone: 25 fixed blocks
    mean pairs grow n^2 with BOTH registries): the possible threshold
    (8) is unreachable without the entity-number agreeing within edit
    distance 1 (w_bal + blocking = 6 < 8), so the candidate join is
    EXACT on a 1-deletion-neighborhood key — two strings within edit
    distance 1 always share a member of {s} UNION {s minus one
    character} (equal: s itself; substitution at i: both i-deletions
    equal; insert/delete: the shorter string is a deletion of the
    longer).  Each side explodes
    to length+1 keys, the join runs on (nation, key) — linear in rows
    — and the exact levenshtein verifies the survivors; false
    neighborhood collisions (ED=2 pairs sharing a key) are filtered by
    the same score threshold as before.  The oracle keeps the naive
    nation-block form: DuckDB verifies RESULTS at sf0.01, not plans."""
    c = load_table(spark, sf, "customer").select(
        "c_custkey",
        F.col("c_nationkey").alias("nation"),
        F.regexp_extract("c_name", r"(\d+)$", 1).alias("c_num"),
        F.round(F.col("c_acctbal") * 100, 0).cast("bigint").alias("c_bal"),
    )
    s = load_table(spark, sf, "supplier").select(
        "s_suppkey",
        F.col("s_nationkey").alias("nation"),
        F.regexp_extract("s_name", r"(\d+)$", 1).alias("s_num"),
        F.round(F.col("s_acctbal") * 100, 0).cast("bigint").alias("s_bal"),
    )

    def del_neighborhood(col: str):
        # the string plus every 1-deletion variant, deduplicated
        return F.expr(
            f"array_union(array({col}), transform(sequence(1, "
            f"greatest(length({col}), 1)), i -> concat(substring({col}, "
            f"1, i - 1), substring({col}, i + 1, length({col})))))"
        )

    c_keys = c.select(
        "c_custkey", "nation", "c_num", "c_bal",
        F.explode(del_neighborhood("c_num")).alias("nk"),
    )
    s_keys = s.select(
        "s_suppkey", "nation", "s_num", "s_bal",
        F.explode(del_neighborhood("s_num")).alias("nk"),
    )
    pairs = (
        c_keys.join(s_keys, ["nation", "nk"])
        .dropDuplicates(["c_custkey", "s_suppkey"])
    )
    lev = F.levenshtein("c_num", "s_num")
    w_num = (
        F.when(lev == 0, F.lit(12))
        .when(lev == 1, F.lit(6))
        .otherwise(F.lit(0))
    )
    bal_close = F.abs(F.col("c_bal") - F.col("s_bal")) <= F.lit(50_000)
    w_bal = F.when(bal_close, F.lit(4)).otherwise(F.lit(0))
    score = (w_num + w_bal + F.lit(2)).cast("bigint")  # +2: blocking field
    out = pairs.select(
        "c_custkey",
        "s_suppkey",
        lev.cast("bigint").alias("num_distance"),
        bal_close.alias("bal_close"),
        score.alias("link_score"),
        F.when(score >= _RL_MATCH, F.lit("match"))
        .when(score >= _RL_POSSIBLE, F.lit("possible"))
        .otherwise(F.lit("non_match"))
        .alias("link_class"),
    )
    return out.filter(F.col("link_score") >= _RL_POSSIBLE)


ORACLE_RECORD_LINKAGE = f"""
WITH c AS (
    SELECT c_custkey, c_nationkey AS nation,
           regexp_extract(c_name, '([0-9]+)$', 1) AS c_num,
           CAST(round(c_acctbal * 100, 0) AS BIGINT) AS c_bal
    FROM customer
),
s AS (
    SELECT s_suppkey, s_nationkey AS nation,
           regexp_extract(s_name, '([0-9]+)$', 1) AS s_num,
           CAST(round(s_acctbal * 100, 0) AS BIGINT) AS s_bal
    FROM supplier
),
pairs AS (
    SELECT c.c_custkey, s.s_suppkey,
           CAST(levenshtein(c.c_num, s.s_num) AS BIGINT) AS num_distance,
           abs(c.c_bal - s.s_bal) <= 50000 AS bal_close
    FROM c JOIN s USING (nation)
),
scored AS (
    SELECT *,
           CAST(CASE WHEN num_distance = 0 THEN 12
                     WHEN num_distance = 1 THEN 6 ELSE 0 END
                + CASE WHEN bal_close THEN 4 ELSE 0 END + 2 AS BIGINT)
             AS link_score
    FROM pairs
)
SELECT c_custkey, s_suppkey, num_distance, bal_close, link_score,
       CASE WHEN link_score >= {_RL_MATCH} THEN 'match'
            WHEN link_score >= {_RL_POSSIBLE} THEN 'possible'
            ELSE 'non_match' END AS link_class
FROM scored
WHERE link_score >= {_RL_POSSIBLE}
"""


# --------------------------------------------- linear interpolation (round 5)

_LI_USERS = 40  # bounded user subset for the catalog query


def q_linear_interpolate(spark: SparkSession, sf: str) -> DataFrame:
    """Time-series gap filling with LINEAR interpolation: per user, a
    dense daily grid over their active range; missing days interpolate
    between the surrounding observed daily totals (floor-integer cents,
    so the ramp is exact).  ``dense_grid_fill`` fills with zeros/nulls;
    this is the resample-and-interpolate twin every metrics pipeline
    needs.

    Exactness: interpolation is prev + (delta * offset) DIV span on
    integer cents — no float ramps.  Edge days outside the observed
    range stay NULL (no extrapolation).

    Scale shape: one grouped agg, a per-user sequence explode (bounded
    by the date span), and two per-user ordered windows (forward +
    backward IGNORE NULLS carry) — all partitioned on user_id."""
    ev = load_table(spark, sf, "events").filter(F.col("user_id") < _LI_USERS)
    daily = ev.groupBy(
        "user_id", F.to_date("ts").alias("day")
    ).agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("bigint")).alias("cents")
    )
    span = daily.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    grid = span.select(
        "user_id", F.explode(F.sequence("d0", "d1")).alias("day")
    )
    g = grid.join(daily, ["user_id", "day"], "left")
    wb = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    obs_day = F.when(F.col("cents").isNotNull(), F.col("day"))
    prev_c = F.last("cents", ignorenulls=True).over(wb)
    prev_d = F.last(obs_day, ignorenulls=True).over(wb)
    next_c = F.first("cents", ignorenulls=True).over(wf)
    next_d = F.first(obs_day, ignorenulls=True).over(wf)
    off = F.datediff(F.col("day"), prev_d).cast("bigint")
    span_d = F.datediff(next_d, prev_d).cast("bigint")
    staged = g.select(
        "user_id",
        "day",
        "cents",
        prev_c.alias("__pc"),
        next_c.alias("__nc"),
        off.alias("__off"),
        span_d.alias("__span"),
    )
    fill = F.when(F.col("cents").isNotNull(), F.col("cents")).otherwise(
        F.when(
            F.col("__pc").isNotNull() & F.col("__nc").isNotNull(),
            # floor (not truncate-toward-zero) so falling ramps round
            # the same way as the oracle's // on negative deltas
            F.col("__pc")
            + F.floor(
                ((F.col("__nc") - F.col("__pc")) * F.col("__off")).cast("double")
                / F.col("__span").cast("double")
            ).cast("bigint"),
        )
    )
    return staged.select(
        "user_id",
        "day",
        F.col("cents").isNotNull().alias("observed"),
        fill.cast("bigint").alias("value_cents"),
    )


ORACLE_LINEAR_INTERPOLATE = f"""
WITH daily AS (
    SELECT user_id, CAST(ts AS DATE) AS day,
           CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
    FROM events WHERE user_id < {_LI_USERS}
    GROUP BY 1, 2
),
span AS (
    SELECT user_id, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY 1
),
grid AS (
    SELECT user_id, CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
    FROM span
),
g AS (
    SELECT grid.user_id, grid.day, daily.cents
    FROM grid LEFT JOIN daily USING (user_id, day)
),
carried AS (
    SELECT *,
           last_value(cents IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pc,
           last_value(CASE WHEN cents IS NOT NULL THEN day END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
           first_value(cents IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY day
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nc,
           first_value(CASE WHEN cents IS NOT NULL THEN day END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY day
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
    FROM g
)
SELECT user_id, day,
       cents IS NOT NULL AS observed,
       CAST(CASE WHEN cents IS NOT NULL THEN cents
                 WHEN pc IS NOT NULL AND nc IS NOT NULL
                 THEN pc + CAST(floor(
                           CAST((nc - pc) * date_diff('day', pd, day) AS DOUBLE)
                           / CAST(date_diff('day', pd, nd) AS DOUBLE)) AS BIGINT)
            END AS BIGINT) AS value_cents
FROM carried
"""


# ------------------------------------------------- sessionization (round 5)

_SESS_GAP_MIN = 30


def q_session_ids(spark: SparkSession, sf: str) -> DataFrame:
    """Session-ID assignment (the event-level twin of the aggregated
    ``session_window``): an event starts a new session when it follows
    the user's previous event by more than {gap} minutes; the running
    sum of session starts numbers each user's sessions and tags EVERY
    event — what attribution/journey analyses join against.

    Plan shape: two stacked windows over the same (user_id, ts)
    ordering — one pass after one shuffle."""
    ev = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_s = _SESS_GAP_MIN * 60
    prev_ts = F.lag("ts").over(w)
    is_new = (
        prev_ts.isNull()
        | (F.unix_timestamp("ts") - F.unix_timestamp(prev_ts) > gap_s)
    ).cast("bigint")
    return (
        ev.select("event_id", "user_id", "ts", is_new.alias("is_new"))
        .withColumn(
            "session_idx",
            F.sum("is_new")
            .over(
                Window.partitionBy("user_id")
                .orderBy("ts", "event_id")
                .rowsBetween(Window.unboundedPreceding, 0)
            )
            .cast("bigint"),
        )
        .select(
            "event_id",
            "user_id",
            (F.col("is_new") == 1).alias("session_start"),
            "session_idx",
        )
    )


ORACLE_SESSION_IDS = f"""
WITH marked AS (
    SELECT event_id, user_id, ts,
           CAST(CASE WHEN lag(ts) OVER w IS NULL
                     OR epoch(ts) - epoch(lag(ts) OVER w) > {_SESS_GAP_MIN * 60}
                THEN 1 ELSE 0 END AS BIGINT) AS is_new
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT event_id, user_id,
       is_new = 1 AS session_start,
       CAST(sum(is_new) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS session_idx
FROM marked
"""


# --------------------------------------------- exponential smoothing (round 5)


def q_ses_forecast(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user simple exponential smoothing (alpha = 1/4) over the
    daily spend series — the one-number-per-key forecasting baseline
    every metrics warehouse ships.  The recurrence
    ``s_t = (x_t + 3 s_{t-1}) DIV 4`` runs in FIXED-POINT INTEGER
    arithmetic as a JVM-side fold over each user's ordered daily
    array, so this inherently sequential computation is exact,
    engine-reproducible, and fully SQL-replayable (DuckDB
    ``list_reduce`` — same seed-with-first-element convention as
    ``F.aggregate``).

    Scale shape: one grouped agg to daily cents, one per-user ordered
    collect (bounded by each user's day count), one fold — linear, no
    iteration-per-round jobs because the recurrence lives INSIDE the
    row as an array fold, unlike pagerank's cross-row message passing.

    Precondition: series values are non-negative (spend totals), so
    Spark ``DIV`` (truncating) and DuckDB ``//`` (flooring) agree; a
    signed series would need the explicit-floor device of
    ``q_linear_interpolate``."""
    ev = load_table(spark, sf, "events")
    daily = ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("bigint")).alias("cents")
    )
    series = daily.groupBy("user_id").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("day", "cents"))),
            lambda s: s["cents"],
        ).alias("xs")
    )
    # integer recurrence via expr: (x + 3*acc) DIV 4 — a Column lambda's
    # `/` would lift to doubles
    ses_int = F.expr(
        "aggregate(slice(xs, 2, greatest(size(xs) - 1, 0)), xs[0], "
        "(acc, x) -> (x + 3L * acc) DIV 4L)"
    )
    return series.select(
        "user_id",
        F.size("xs").cast("bigint").alias("n_days"),
        F.element_at("xs", -1).cast("bigint").alias("last_cents"),
        ses_int.cast("bigint").alias("ses_cents"),
    )


ORACLE_SES_FORECAST = """
WITH daily AS (
    SELECT user_id, CAST(ts AS DATE) AS day,
           CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
    FROM events GROUP BY 1, 2
),
series AS (
    SELECT user_id, list(cents ORDER BY day) AS xs
    FROM daily GROUP BY user_id
)
SELECT user_id,
       CAST(len(xs) AS BIGINT) AS n_days,
       CAST(xs[-1] AS BIGINT) AS last_cents,
       CAST(list_reduce(xs, (acc, x) -> (x + 3 * acc) // 4) AS BIGINT)
           AS ses_cents
FROM series
"""


# ------------------------------------------------- outlier days (round 5)


def q_outlier_days(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user spend-anomaly detection: days whose daily total sits
    more than 3 population standard deviations from that user's mean —
    the monitoring/data-quality staple — computed ENTIRELY in integer
    arithmetic: |x - mean| > 3*sigma is squared into
    ``(n*x - sum)^2 > 9 * (n*sumsq - sum^2)`` (both sides exact
    BIGINTs), so no float mean/stddev ever enters the comparison and
    the oracle matches bit-for-bit.

    Overflow headroom: daily cents < ~2^20, n_days < 2^10, so
    ``(n*x - sum)^2`` stays far under 2^63.

    Scale shape: one daily agg, one per-user moment agg joined back
    broadcast-size, one map-side filter — no windows."""
    ev = load_table(spark, sf, "events")
    daily = ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("bigint")).alias("x")
    )
    mom = daily.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("s"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sq"),
    )
    j = daily.join(F.broadcast(mom), "user_id")
    dev = F.col("n") * F.col("x") - F.col("s")
    var_n2 = F.col("n") * F.col("sq") - F.col("s") * F.col("s")
    return (
        j.filter(F.col("n") >= 3)
        .filter(dev * dev > 9 * var_n2)
        .select(
            "user_id",
            "day",
            F.col("x").alias("day_cents"),
            "n",
            F.col("s").alias("sum_cents"),
        )
    )


ORACLE_OUTLIER_DAYS = """
WITH daily AS (
    SELECT user_id, CAST(ts AS DATE) AS day,
           CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS x
    FROM events GROUP BY 1, 2
),
mom AS (
    SELECT user_id, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(x) AS BIGINT) AS s,
           CAST(sum(x * x) AS BIGINT) AS sq
    FROM daily GROUP BY user_id
)
SELECT d.user_id, d.day, d.x AS day_cents, m.n, m.s AS sum_cents
FROM daily d JOIN mom m USING (user_id)
WHERE m.n >= 3
  AND (m.n * d.x - m.s) * (m.n * d.x - m.s) > 9 * (m.n * m.sq - m.s * m.s)
"""


# ------------------------------------------------- deterministic HLL (round 5)

_HLL_M = 256  # registers (2^8 buckets, 52-bit rank field)
#: combined estimator constant alpha_m * m^2 * 2^53, precomputed once so
#: both engines use the SAME double (and DuckDB parses one e-notation
#: literal as DOUBLE instead of overflowing DECIMAL arithmetic)
_HLL_C = 0.7213 / (1.0 + 1.079 / _HLL_M) * float(_HLL_M) ** 2 * float(2 ** 53)


def q_hll_verdict(spark: SparkSession, sf: str) -> DataFrame:
    """Hand-built HyperLogLog, register-replayable: per event_type,
    distinct users estimated from 256 md5-derived registers.  Unlike
    ``q_sketch_stats`` (engine-internal HLL, bounds-checkable only),
    every register here is a deterministic function of the data, so
    the oracle reproduces the sketch REGISTER-FOR-REGISTER and the
    integer register aggregates hash-match exactly; the float estimate
    itself stays internal to the in-bounds boolean (the no-
    transcendentals-in-compared-output rule).

    Emitted: exact distinct (verdict companion), n_zero_buckets and
    the 2^53-scaled harmonic sum (both exact BIGINTs — the full
    sketch state), and the standard-estimator in-bounds flag.

    Scale shape: one map-side-combined (type, bucket) max-agg — at
    most types*256 shuffled rows regardless of input; the register
    spine join is broadcast-size.  Mergeable: registers combine by
    max, the HLL property."""
    ev = load_table(spark, sf, "events")
    h = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10
    ).cast("bigint")
    # v = h DIV m in INTEGER arithmetic: h is a 60-bit value, and a
    # double division would shave the low bits past 2^53
    rows = ev.select(
        "event_type",
        (h % _HLL_M).alias("bucket"),
        h.alias("h"),
    ).select(
        "event_type", "bucket", F.expr(f"h DIV {_HLL_M}").alias("v")
    )
    rank = F.when(F.col("v") == 0, F.lit(53)).otherwise(
        F.lit(53) - F.length(F.bin("v"))
    )
    regs = rows.select("event_type", "bucket", rank.alias("r")).groupBy(
        "event_type", "bucket"
    ).agg(F.max("r").alias("M"))
    spine = (
        ev.select("event_type")
        .distinct()
        .crossJoin(
            spark.range(_HLL_M).select(F.col("id").cast("bigint").alias("bucket"))
        )
    )
    full = spine.join(regs, ["event_type", "bucket"], "left").select(
        "event_type",
        "bucket",
        F.coalesce("M", F.lit(0)).cast("int").alias("M0"),
    )
    per = full.groupBy("event_type").agg(
        F.sum((F.col("M0") == 0).cast("bigint")).alias("n_zero_buckets"),
        F.sum(
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(53 - M0 AS INT))")
        ).cast("bigint").alias("inv_sum_scaled"),
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("bigint").alias("n_exact")
    )
    m = float(_HLL_M)
    raw_est = F.lit(_HLL_C) / F.col("inv_sum_scaled").cast("double")
    est = F.when(
        (raw_est <= F.lit(2.5 * m)) & (F.col("n_zero_buckets") > 0),
        F.lit(m) * F.log(F.lit(m) / F.col("n_zero_buckets").cast("double")),
    ).otherwise(raw_est)
    j = per.join(exact, "event_type")
    ok = (
        F.abs(est - F.col("n_exact").cast("double"))
        <= F.greatest(F.lit(5.0), 0.15 * F.col("n_exact").cast("double"))
    )
    return j.select(
        "event_type", "n_exact", "n_zero_buckets", "inv_sum_scaled",
        ok.alias("hll_ok"),
    )


ORACLE_HLL_VERDICT = f"""
WITH h AS (
    SELECT event_type,
           ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS hv
    FROM events
),
rows_ AS (
    SELECT event_type, hv % {_HLL_M} AS bucket, hv // {_HLL_M} AS v FROM h
),
regs AS (
    SELECT event_type, bucket,
           max(CASE WHEN v = 0 THEN 53 ELSE 53 - len(bin(v)) END) AS M
    FROM rows_ GROUP BY event_type, bucket
),
spine AS (
    SELECT t.event_type, CAST(b.i AS BIGINT) AS bucket
    FROM (SELECT DISTINCT event_type FROM events) t,
         unnest(range(0, {_HLL_M})) AS b(i)
),
full_ AS (
    SELECT s.event_type, s.bucket,
           CAST(coalesce(r.M, 0) AS INT) AS M0
    FROM spine s LEFT JOIN regs r
      ON s.event_type = r.event_type AND s.bucket = r.bucket
),
per AS (
    SELECT event_type,
           CAST(sum(CASE WHEN M0 = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_zero_buckets,
           CAST(sum(CAST(1 AS BIGINT) << (53 - M0)) AS BIGINT)
               AS inv_sum_scaled
    FROM full_ GROUP BY event_type
),
exact AS (
    SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
    FROM events GROUP BY event_type
),
est AS (
    SELECT p.event_type, p.n_zero_buckets, p.inv_sum_scaled, e.n_exact,
           CASE WHEN {_HLL_C!r} / CAST(p.inv_sum_scaled AS DOUBLE)
                     <= {2.5 * _HLL_M!r}
                 AND p.n_zero_buckets > 0
                THEN {float(_HLL_M)!r}
                     * ln({float(_HLL_M)!r} / CAST(p.n_zero_buckets AS DOUBLE))
                ELSE {_HLL_C!r} / CAST(p.inv_sum_scaled AS DOUBLE)
           END AS est
    FROM per p JOIN exact e USING (event_type)
)
SELECT event_type, n_exact, n_zero_buckets, inv_sum_scaled,
       abs(est - CAST(n_exact AS DOUBLE))
         <= greatest(5.0, 0.15 * CAST(n_exact AS DOUBLE)) AS hll_ok
FROM est
"""


# ------------------------------------------------- concurrency sweep (round 5)


def q_max_concurrency(spark: SparkSession, sf: str) -> DataFrame:
    """Peak concurrent sessions per day — the interval-overlap sweep
    (capacity planning's load question): sessions come from the same
    30-minute gap rule as ``q_session_ids``, become +1/-1 boundary
    events, and a running sum over the global time order yields
    instantaneous concurrency; per day, the max and its first peak
    instant.  Tie rule: starts sort before ends at the same instant
    (inclusive overlap), then user for total determinism.

    Scale shape: the sweep is DAY-PARTITIONED with carry-in (r6 — the
    100x rehearsal measured the former global-order sweep at 50.3 s vs
    0.87 s at sf0.1: a single-partition window serializes the whole
    boundary stream on one core).  concurrent(t) = carry_in(day) +
    within-day running sum, where carry_in(day) = sum of ALL boundary
    deltas on prior days = sessions open entering the day; the per-day
    totals table is O(#days) rows, so its one ordered cumsum is a
    bounded-size device, not a data-scale window.  Exactly equal to the
    global sweep: days are disjoint time ranges, so the global order
    never interleaves two days.  The oracle keeps the global-sweep SQL
    (same math, and DuckDB at sf0.01 has no partitioning concern)."""
    ev = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_s = 30 * 60
    prev_ts = F.lag("ts").over(w)
    is_new = (
        prev_ts.isNull()
        | (F.unix_timestamp("ts") - F.unix_timestamp(prev_ts) > gap_s)
    ).cast("bigint")
    marked = ev.select("user_id", "ts", "event_id", is_new.alias("is_new"))
    sess = (
        marked.withColumn(
            "session_idx",
            F.sum("is_new").over(
                Window.partitionBy("user_id")
                .orderBy("ts", "event_id")
                .rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .groupBy("user_id", "session_idx")
        .agg(F.min("ts").alias("s_start"), F.max("ts").alias("s_end"))
    )
    starts = sess.select(
        F.col("s_start").alias("t"), F.lit(1).alias("delta"), "user_id"
    )
    ends = sess.select(
        F.col("s_end").alias("t"), F.lit(-1).alias("delta"), "user_id"
    )
    # boundary set feeds both the within-day sweep and the per-day
    # totals; materialize once (a lazy plan would recompute the whole
    # sessionization per consumer)
    bounds = (
        starts.union(ends)
        .withColumn("day", F.to_date("t"))
        .transform(checkpoint)
    )
    sweep = Window.partitionBy("day").orderBy(
        "t", F.col("delta").desc(), "user_id"
    ).rowsBetween(Window.unboundedPreceding, 0)
    within = bounds.withColumn("run", F.sum("delta").over(sweep))
    day_totals = bounds.groupBy("day").agg(F.sum("delta").alias("d_tot"))
    prior_days = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, -1
    )
    carry = day_totals.select(
        "day",
        F.coalesce(F.sum("d_tot").over(prior_days), F.lit(0)).alias(
            "carry_in"
        ),
    )
    conc = within.join(F.broadcast(carry), "day").withColumn(
        "concurrent", (F.col("carry_in") + F.col("run")).cast("bigint")
    )
    pick = Window.partitionBy("day").orderBy(
        F.col("concurrent").desc(), "t", "user_id"
    )
    return (
        conc.withColumn("rn", F.row_number().over(pick))
        .filter(F.col("rn") == 1)
        .select(
            "day",
            F.col("concurrent").alias("max_concurrent"),
            F.col("t").alias("first_peak_ts"),
        )
    )


ORACLE_MAX_CONCURRENCY = """
WITH marked AS (
    SELECT user_id, ts, event_id,
           CAST(CASE WHEN lag(ts) OVER w IS NULL
                     OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                THEN 1 ELSE 0 END AS BIGINT) AS is_new
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
    SELECT user_id, session_idx, min(ts) AS s_start, max(ts) AS s_end
    FROM (
        SELECT *, sum(is_new) OVER (
            PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
        FROM marked)
    GROUP BY user_id, session_idx
),
bounds AS (
    SELECT s_start AS t, 1 AS delta, user_id FROM sess
    UNION ALL
    SELECT s_end AS t, -1 AS delta, user_id FROM sess
),
conc AS (
    SELECT *, CAST(sum(delta) OVER (
        ORDER BY t, delta DESC, user_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        AS concurrent
    FROM bounds
)
SELECT CAST(t AS DATE) AS day, concurrent AS max_concurrent,
       t AS first_peak_ts
FROM (
    SELECT *, row_number() OVER (
        PARTITION BY CAST(t AS DATE)
        ORDER BY concurrent DESC, t, user_id) AS rn
    FROM conc)
WHERE rn = 1
"""


# ------------------------------------------------- A/B significance (round 5)


def q_ab_test_verdict(spark: SparkSession, sf: str) -> DataFrame:
    """Two-proportion significance test (the experimentation-platform
    primitive): users split into variants by id parity, success =
    converted (>= 1 purchase event); the chi-square statistic is
    compared against the 5% critical value ENTIRELY in integers —
    ``1000 * n * (ad-bc)^2 > 3841 * (a+b)(c+d)(a+c)(b+d)`` — so the
    verdict boolean is exact cross-engine (no float chi-square in the
    compared output).

    Overflow headroom: user counts here are ~10^3, products stay far
    under 2^63; at billion-user scale the comparison drops to doubles
    (where +-1 ULP cannot flip a meaningful experiment anyway).

    Scale shape: one per-user agg, one 4-cell contingency agg, one-row
    output."""
    ev = load_table(spark, sf, "events")
    per_user = ev.groupBy("user_id").agg(
        F.max((F.col("event_type") == "purchase").cast("int")).alias("conv")
    )
    cells = per_user.select(
        (F.col("user_id") % 2 == 0).alias("variant_a"), "conv"
    ).groupBy().agg(
        F.sum(F.when(F.col("variant_a") & (F.col("conv") == 1), 1).otherwise(0))
        .cast("bigint").alias("a_conv"),
        F.sum(F.when(F.col("variant_a") & (F.col("conv") == 0), 1).otherwise(0))
        .cast("bigint").alias("a_no"),
        F.sum(F.when(~F.col("variant_a") & (F.col("conv") == 1), 1).otherwise(0))
        .cast("bigint").alias("b_conv"),
        F.sum(F.when(~F.col("variant_a") & (F.col("conv") == 0), 1).otherwise(0))
        .cast("bigint").alias("b_no"),
    )
    a, b = F.col("a_conv"), F.col("a_no")
    c, d = F.col("b_conv"), F.col("b_no")
    n = a + b + c + d
    det = a * d - b * c
    lhs = F.lit(1000).cast("bigint") * n * det * det
    rhs = (
        F.lit(3841).cast("bigint")
        * (a + b) * (c + d) * (a + c) * (b + d)
    )
    return cells.select(
        "a_conv", "a_no", "b_conv", "b_no",
        (lhs > rhs).alias("significant_5pct"),
    )


ORACLE_AB_TEST_VERDICT = """
WITH per_user AS (
    SELECT user_id,
           max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
    FROM events GROUP BY user_id
),
cells AS (
    SELECT
        CAST(sum(CASE WHEN user_id % 2 = 0 AND conv = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a_conv,
        CAST(sum(CASE WHEN user_id % 2 = 0 AND conv = 0 THEN 1 ELSE 0 END) AS BIGINT) AS a_no,
        CAST(sum(CASE WHEN user_id % 2 <> 0 AND conv = 1 THEN 1 ELSE 0 END) AS BIGINT) AS b_conv,
        CAST(sum(CASE WHEN user_id % 2 <> 0 AND conv = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b_no
    FROM per_user
)
SELECT a_conv, a_no, b_conv, b_no,
       1000 * (a_conv + a_no + b_conv + b_no)
            * (a_conv * b_no - a_no * b_conv)
            * (a_conv * b_no - a_no * b_conv)
       > 3841 * (a_conv + a_no) * (b_conv + b_no)
              * (a_conv + b_conv) * (a_no + b_no) AS significant_5pct
FROM cells
"""


# ------------------------------------------------- TPC-H classics (round 5)


def q_market_share(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q8 shape — national market share: the fraction of ASIA
    customers' yearly lineitem revenue supplied by CHINA-region
    (ASIA-nation) suppliers.  Exercises the deep star join (lineitem ->
    orders -> customer -> nation -> region AND lineitem -> supplier ->
    nation -> region) with a conditional-share aggregation.

    Exactness: revenue in DECIMAL cents summed exactly, share is one
    final division of exact operands; dims broadcast (nation/region/
    supplier/customer are all dim-sized).

    Scale shape: one shuffle on l_orderkey for the orders join at most
    — every dimension join is a broadcast; the agg is map-side
    combinable on (year)."""
    li = load_table(spark, sf, "lineitem")
    o = load_table(spark, sf, "orders")
    c = load_table(spark, sf, "customer")
    s = load_table(spark, sf, "supplier")
    n = load_table(spark, sf, "nation")
    r = load_table(spark, sf, "region")
    asia_nations = (
        n.join(r, n["n_regionkey"] == r["r_regionkey"])
        .filter(F.col("r_name") == "ASIA")
        .select(F.col("n_nationkey").alias("nk"))
    )
    cust = c.join(
        F.broadcast(asia_nations), c["c_nationkey"] == F.col("nk")
    ).select(F.col("c_custkey"))
    supp = s.join(
        F.broadcast(asia_nations.withColumnRenamed("nk", "snk")),
        s["s_nationkey"] == F.col("snk"),
        "left",
    ).select(
        "s_suppkey", F.col("snk").isNotNull().alias("is_local")
    )
    rev_cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0
    ).cast("bigint")
    j = (
        li.join(o.select("o_orderkey", "o_custkey"), li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp), li["l_suppkey"] == supp["s_suppkey"])
        .select(
            F.year("l_shipdate").cast("bigint").alias("year"),
            rev_cents.alias("rev"),
            F.col("is_local"),
        )
    )
    agg = j.groupBy("year").agg(
        F.sum(F.when(F.col("is_local"), F.col("rev")).otherwise(0))
        .cast("bigint").alias("local_cents"),
        F.sum("rev").cast("bigint").alias("total_cents"),
    )
    return agg.select(
        "year",
        "local_cents",
        "total_cents",
        (
            F.col("local_cents").cast("double")
            / F.col("total_cents").cast("double")
        ).alias("mkt_share"),
    )


ORACLE_MARKET_SHARE = """
WITH asia AS (
    SELECT n_nationkey AS nk FROM nation
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
),
j AS (
    SELECT year(l.l_shipdate) AS year,
           CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100, 0)
                AS BIGINT) AS rev,
           s.s_nationkey IN (SELECT nk FROM asia) AS is_local
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    WHERE c.c_nationkey IN (SELECT nk FROM asia)
)
SELECT CAST(year AS BIGINT) AS year,
       CAST(sum(CASE WHEN is_local THEN rev ELSE 0 END) AS BIGINT)
           AS local_cents,
       CAST(sum(rev) AS BIGINT) AS total_cents,
       CAST(sum(CASE WHEN is_local THEN rev ELSE 0 END) AS DOUBLE)
         / CAST(sum(rev) AS DOUBLE) AS mkt_share
FROM j GROUP BY year
"""


def q_custdist(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q13 shape — customer distribution by order count,
    INCLUDING zero-order customers (the left-outer-join-then-
    redistribute pattern: group a grouped result)."""
    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders")
    per = (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("bigint").alias("n_orders"))
    )
    return per.groupBy("n_orders").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers")
    )


ORACLE_CUSTDIST = """
SELECT n_orders, CAST(count(*) AS BIGINT) AS n_customers
FROM (
    SELECT c.c_custkey, CAST(count(o.o_orderkey) AS BIGINT) AS n_orders
    FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey
)
GROUP BY n_orders
"""


def q_dormant_rich_customers(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q22 shape — above-average-balance customers with no
    RECENT orders (nothing since 2000-01-01): the anti-join +
    scalar-average filter, i.e. the win-back audience query.  Average
    balance in exact cents via a 1-row broadcast; anti join against
    the date-filtered order slice (predicate pushed to the scan)."""
    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders")
    bal = F.round(F.col("c_acctbal") * 100, 0).cast("bigint")
    cc = c.select("c_custkey", "c_mktsegment", bal.alias("bal_cents"))
    avg_b = F.broadcast(
        cc.filter(F.col("bal_cents") > 0).agg(
            F.sum("bal_cents").cast("bigint").alias("s"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
    )
    rich = (
        cc.crossJoin(avg_b)
        .filter(F.col("bal_cents") * F.col("n") > F.col("s"))
        .select("c_custkey", "c_mktsegment", "bal_cents")
    )
    recent = o.filter(F.col("o_orderdate") >= "2000-01-01").select("o_custkey")
    dormant = rich.join(
        recent, rich["c_custkey"] == F.col("o_custkey"), "left_anti"
    )
    return dormant.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum("bal_cents").cast("bigint").alias("sum_bal_cents"),
    )


ORACLE_DORMANT_RICH_CUSTOMERS = """
WITH cc AS (
    SELECT c_custkey, c_mktsegment,
           CAST(round(c_acctbal * 100, 0) AS BIGINT) AS bal_cents
    FROM customer
),
avg_b AS (
    SELECT CAST(sum(bal_cents) AS BIGINT) AS s,
           CAST(count(*) AS BIGINT) AS n
    FROM cc WHERE bal_cents > 0
),
rich AS (
    SELECT cc.* FROM cc CROSS JOIN avg_b
    WHERE cc.bal_cents * avg_b.n > avg_b.s
)
SELECT c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(sum(bal_cents) AS BIGINT) AS sum_bal_cents
FROM rich
WHERE NOT EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = rich.c_custkey
      AND o.o_orderdate >= DATE '2000-01-01'
)
GROUP BY c_mktsegment
"""


def q_big_orders(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q18 shape — large-volume orders: orders whose total
    lineitem quantity exceeds a threshold, rejoined to customer and
    their lineitems (the HAVING-subquery-as-semi-join pattern: the
    heavy groupBy runs once, its qualifying keys drive a semi join
    instead of recomputing the sum in a correlated subquery)."""
    li = load_table(spark, sf, "lineitem")
    o = load_table(spark, sf, "orders")
    c = load_table(spark, sf, "customer")
    qty = li.groupBy("l_orderkey").agg(
        F.sum("l_quantity").cast("bigint").alias("total_qty")
    )
    big = qty.filter(F.col("total_qty") > 300)
    return (
        o.join(big, o["o_orderkey"] == big["l_orderkey"])
        .join(F.broadcast(c.select("c_custkey", "c_name")),
              F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("o_orderdate"),
            F.round(F.col("o_totalprice") * 100, 0).cast("bigint")
            .alias("total_cents"),
            "total_qty",
        )
    )


ORACLE_BIG_ORDERS = """
WITH qty AS (
    SELECT l_orderkey, CAST(sum(l_quantity) AS BIGINT) AS total_qty
    FROM lineitem GROUP BY l_orderkey
    HAVING sum(l_quantity) > 300
)
SELECT c.c_custkey, c.c_name, o.o_orderkey,
       CAST(o.o_orderdate AS DATE) AS o_orderdate,
       CAST(round(o.o_totalprice * 100, 0) AS BIGINT) AS total_cents,
       q.total_qty
FROM orders o
JOIN qty q ON o.o_orderkey = q.l_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
"""


def q_cheapest_supplier(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q2 shape — per-part argmin over a correlated aggregate:
    each part's cheapest supplier by observed average unit price,
    expressed as one (part, supplier) agg + a per-part argmin window
    (the decorrelated form of `price = (SELECT min(...) WHERE partkey
    = outer.partkey)`).  Unit price ranks via one IEEE division of
    exact integer sums (identical rounding both engines); suppkey
    breaks ties."""
    li = load_table(spark, sf, "lineitem")
    s = load_table(spark, sf, "supplier")
    per = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(F.round(F.col("l_extendedprice") * 100, 0).cast("bigint"))
        .alias("sum_cents"),
        F.sum("l_quantity").cast("bigint").alias("qty"),
    )
    unit = (F.col("sum_cents").cast("double") / F.col("qty").cast("double"))
    w = Window.partitionBy("l_partkey").orderBy(
        unit.asc(), F.col("l_suppkey")
    )
    best = (
        per.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    return best.join(
        F.broadcast(s.select("s_suppkey", "s_name")),
        best["l_suppkey"] == F.col("s_suppkey"),
    ).select(
        F.col("l_partkey").alias("p_partkey"),
        "s_suppkey",
        "s_name",
        "sum_cents",
        "qty",
        unit.alias("unit_price_cents"),
    )


ORACLE_CHEAPEST_SUPPLIER = """
WITH per AS (
    SELECT l_partkey, l_suppkey,
           CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
                AS BIGINT) AS sum_cents,
           CAST(sum(l_quantity) AS BIGINT) AS qty
    FROM lineitem GROUP BY 1, 2
),
best AS (
    SELECT * FROM (
        SELECT *, row_number() OVER (
            PARTITION BY l_partkey
            ORDER BY CAST(sum_cents AS DOUBLE) / CAST(qty AS DOUBLE),
                     l_suppkey) AS rn
        FROM per)
    WHERE rn = 1
)
SELECT b.l_partkey AS p_partkey, s.s_suppkey, s.s_name,
       b.sum_cents, b.qty,
       CAST(b.sum_cents AS DOUBLE) / CAST(b.qty AS DOUBLE)
           AS unit_price_cents
FROM best b JOIN supplier s ON b.l_suppkey = s.s_suppkey
"""


def q_rolling_wau(spark: SparkSession, sf: str) -> DataFrame:
    """Rolling 7-day active users — the growth-metrics staple that
    needs DISTINCT over a sliding window (not sum-decomposable, so no
    window-function shortcut exists): the (day, user) distinct pairs
    join a day spine covering their next 7 days, then one distinct
    count per day.  Exact, linear at 7x the pair count.

    Round-10 plan note: the r3 form re-ran the full distinct — a
    whole-stream shuffle — for both the date-bounds arm and the window
    fan-out.  The fix is NOT a checkpoint (measured at 9M events:
    materializing the distinct-pair frame cost more than it saved):
    the bounds are min/max of the DAY, which the raw source answers
    with a column-pruned scan and a 1-row agg — identical values, no
    second distinct, no materialization.  The distinct then has a
    single consumer and runs exactly once.

    Scale note: the 7x fan-out is the honest exact algorithm; the
    sketch path at 100 TB merges per-day HLL registers
    (``q_rolling_wau_hll``'s registers combine by max across days)."""
    ev = load_table(spark, sf, "events")
    pairs = ev.select(
        F.to_date("ts").alias("day"), "user_id"
    ).distinct()
    offsets = spark.range(7).select(F.col("id").cast("int").alias("off"))
    contrib = pairs.crossJoin(F.broadcast(offsets)).select(
        F.date_add("day", F.col("off")).alias("as_of_day"), "user_id"
    )
    bounds = F.broadcast(
        ev.agg(
            F.min(F.to_date("ts")).alias("d0"),
            F.max(F.to_date("ts")).alias("d1"),
        )
    )
    return (
        contrib.crossJoin(bounds)
        .filter(
            (F.col("as_of_day") >= F.col("d0"))
            & (F.col("as_of_day") <= F.col("d1"))
        )
        .groupBy("as_of_day")
        .agg(F.countDistinct("user_id").cast("bigint").alias("wau"))
    )


ORACLE_ROLLING_WAU = """
WITH pairs AS (
    SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
),
bounds AS (SELECT min(day) AS d0, max(day) AS d1 FROM pairs),
contrib AS (
    SELECT day + CAST(o.i AS INT) AS as_of_day, user_id
    FROM pairs, unnest(range(0, 7)) AS o(i)
)
SELECT as_of_day, CAST(count(DISTINCT user_id) AS BIGINT) AS wau
FROM contrib CROSS JOIN bounds
WHERE as_of_day >= d0 AND as_of_day <= d1
GROUP BY as_of_day
"""


def q_rolling_wau_hll(spark: SparkSession, sf: str) -> DataFrame:
    """Rolling 7-day active users via MERGED per-day HLL registers —
    the sketch path ``q_rolling_wau``'s docstring promises for 100 TB
    (r6, production-knob twin).  The exact algorithm fans every
    (day, user) pair out 7x; this one reduces each day to 256
    registers FIRST (one map-side-combined max-agg, <= days*256
    shuffled rows regardless of input), then merges windows by max —
    the HLL merge property — so the window fan-out touches 7*256 rows
    per day instead of 7x the distinct-pair stream.

    Register math is ``q_hll_verdict``'s md5 device, so the oracle
    replays every merged register and the integer sketch state
    (n_zero_buckets, scaled harmonic sum) hash-matches exactly; the
    float estimate stays inside the in-bounds boolean vs the exact WAU
    companion."""
    ev = load_table(spark, sf, "events")
    h = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10
    ).cast("bigint")
    rows = ev.select(
        F.to_date("ts").alias("day"),
        (h % _HLL_M).alias("bucket"),
        h.alias("h"),
    ).select("day", "bucket", F.expr(f"h DIV {_HLL_M}").alias("v"))
    rank = F.when(F.col("v") == 0, F.lit(53)).otherwise(
        F.lit(53) - F.length(F.bin("v"))
    )
    # days*256 rows after the first reduction; checkpointed because
    # three subtrees (bounds, the window fan-out, and via `merged` the
    # spine + left join) would each re-scan events otherwise (r8 plan
    # audit: 6 scans/0 reuse).
    day_regs = (
        rows.select("day", "bucket", rank.alias("r"))
        .groupBy("day", "bucket")
        .agg(F.max("r").alias("M"))
        .transform(checkpoint)
    )
    offsets = spark.range(7).select(F.col("id").cast("int").alias("off"))
    bounds = F.broadcast(
        day_regs.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    )
    merged = (
        day_regs.crossJoin(F.broadcast(offsets))
        .select(
            F.date_add("day", F.col("off")).alias("as_of_day"),
            "bucket",
            "M",
        )
        .crossJoin(bounds)
        .filter(
            (F.col("as_of_day") >= F.col("d0"))
            & (F.col("as_of_day") <= F.col("d1"))
        )
        .groupBy("as_of_day", "bucket")
        .agg(F.max("M").alias("M"))
        .transform(checkpoint)
    )
    # days*256 rows on both sides: broadcast (stats don't reveal the
    # bounded size, so Catalyst would sort-merge otherwise)
    spine = merged.select("as_of_day").distinct().crossJoin(
        spark.range(_HLL_M).select(F.col("id").cast("bigint").alias("bucket"))
    )
    full = spine.join(F.broadcast(merged), ["as_of_day", "bucket"], "left").select(
        "as_of_day",
        F.coalesce("M", F.lit(0)).cast("int").alias("M0"),
    )
    per = full.groupBy("as_of_day").agg(
        F.sum((F.col("M0") == 0).cast("bigint")).alias("n_zero_buckets"),
        F.sum(
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(53 - M0 AS INT))")
        ).cast("bigint").alias("inv_sum_scaled"),
    )
    exact = q_rolling_wau(spark, sf).withColumnRenamed("wau", "wau_exact")
    m = float(_HLL_M)
    raw_est = F.lit(_HLL_C) / F.col("inv_sum_scaled").cast("double")
    est = F.when(
        (raw_est <= F.lit(2.5 * m)) & (F.col("n_zero_buckets") > 0),
        F.lit(m) * F.log(F.lit(m) / F.col("n_zero_buckets").cast("double")),
    ).otherwise(raw_est)
    j = per.join(F.broadcast(exact), per.as_of_day == exact.as_of_day).drop(
        exact.as_of_day
    )
    ok = (
        F.abs(est - F.col("wau_exact").cast("double"))
        <= F.greatest(F.lit(5.0), 0.15 * F.col("wau_exact").cast("double"))
    )
    return j.select(
        "as_of_day", "wau_exact", "n_zero_buckets", "inv_sum_scaled",
        ok.alias("wau_hll_ok"),
    )


ORACLE_ROLLING_WAU_HLL = f"""
WITH h AS (
    SELECT CAST(ts AS DATE) AS day,
           ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS hv
    FROM events
),
rows_ AS (
    SELECT day, hv % {_HLL_M} AS bucket, hv // {_HLL_M} AS v FROM h
),
day_regs AS (
    SELECT day, bucket,
           max(CASE WHEN v = 0 THEN 53 ELSE 53 - len(bin(v)) END) AS M
    FROM rows_ GROUP BY day, bucket
),
bounds AS (SELECT min(day) AS d0, max(day) AS d1 FROM day_regs),
merged AS (
    SELECT day + CAST(o.i AS INT) AS as_of_day, bucket, max(M) AS M
    FROM day_regs, unnest(range(0, 7)) AS o(i), bounds
    WHERE day + CAST(o.i AS INT) >= d0 AND day + CAST(o.i AS INT) <= d1
    GROUP BY 1, 2
),
spine AS (
    SELECT d.as_of_day, CAST(b.i AS BIGINT) AS bucket
    FROM (SELECT DISTINCT as_of_day FROM merged) d,
         unnest(range(0, {_HLL_M})) AS b(i)
),
full_ AS (
    SELECT s.as_of_day, CAST(coalesce(m.M, 0) AS INT) AS M0
    FROM spine s LEFT JOIN merged m
      ON s.as_of_day = m.as_of_day AND s.bucket = m.bucket
),
per AS (
    SELECT as_of_day,
           CAST(sum(CASE WHEN M0 = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_zero_buckets,
           CAST(sum(CAST(1 AS BIGINT) << (53 - M0)) AS BIGINT)
               AS inv_sum_scaled
    FROM full_ GROUP BY as_of_day
),
pairs AS (
    SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
),
pbounds AS (SELECT min(day) AS d0, max(day) AS d1 FROM pairs),
contrib AS (
    SELECT day + CAST(o.i AS INT) AS as_of_day, user_id
    FROM pairs, unnest(range(0, 7)) AS o(i)
),
exact AS (
    SELECT as_of_day, CAST(count(DISTINCT user_id) AS BIGINT) AS wau_exact
    FROM contrib CROSS JOIN pbounds
    WHERE as_of_day >= d0 AND as_of_day <= d1
    GROUP BY as_of_day
),
est AS (
    SELECT p.as_of_day, e.wau_exact, p.n_zero_buckets, p.inv_sum_scaled,
           CASE WHEN {_HLL_C!r} / CAST(p.inv_sum_scaled AS DOUBLE)
                     <= {2.5 * _HLL_M!r}
                 AND p.n_zero_buckets > 0
                THEN {float(_HLL_M)!r}
                     * ln({float(_HLL_M)!r} / CAST(p.n_zero_buckets AS DOUBLE))
                ELSE {_HLL_C!r} / CAST(p.inv_sum_scaled AS DOUBLE)
           END AS est
    FROM per p JOIN exact e USING (as_of_day)
)
SELECT as_of_day, wau_exact, n_zero_buckets, inv_sum_scaled,
       abs(est - CAST(wau_exact AS DOUBLE))
         <= greatest(5.0, 0.15 * CAST(wau_exact AS DOUBLE)) AS wau_hll_ok
FROM est
"""


# ---------------------------------------------------------------- r7: repeat-purchase cadence


def q_repeat_purchase_interval(spark: SparkSession, sf: str) -> DataFrame:
    """Repeat-purchase cadence per market segment: LAG each customer's
    order dates, take the day gaps, and roll them up by segment — the
    retention-cadence report shape (inter-event intervals partitioned
    by entity, aggregated by cohort).

    Scale shape: the window partitions by o_custkey (uniform hash keys,
    no single-partition sweep), the customer join is a co-partitioned
    equi-join on the same key, and the final agg has |segments| groups.
    Day gaps are exact integers; the average is one sum/count division
    per module determinism rules."""
    o = load_table(spark, sf, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate"
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = (
        o.withColumn("_prev", F.lag("o_orderdate").over(w))
        .filter(F.col("_prev").isNotNull())
        .select(
            "o_custkey",
            F.datediff(
                F.to_date("o_orderdate"), F.to_date("_prev")
            ).alias("gap"),
        )
    )
    c = load_table(spark, sf, "customer").select("c_custkey", "c_mktsegment")
    return (
        gaps.join(c, gaps.o_custkey == c.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("mktsegment"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
            F.countDistinct("o_custkey")
            .cast("bigint")
            .alias("n_repeat_customers"),
            (
                F.sum("gap").cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("avg_gap_days"),
            F.max("gap").cast("bigint").alias("max_gap_days"),
            F.min("gap").cast("bigint").alias("min_gap_days"),
        )
    )


ORACLE_REPEAT_PURCHASE_INTERVAL = """
WITH g AS (
    SELECT o_custkey,
           date_diff('day',
               CAST(lag(o_orderdate) OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey) AS DATE),
               CAST(o_orderdate AS DATE)) AS gap
    FROM orders
),
j AS (
    SELECT c.c_mktsegment AS mktsegment, g.gap, g.o_custkey
    FROM g JOIN customer c ON c.c_custkey = g.o_custkey
    WHERE g.gap IS NOT NULL
)
SELECT mktsegment,
       CAST(count(*) AS BIGINT) AS n_gaps,
       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_repeat_customers,
       CAST(sum(gap) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_gap_days,
       CAST(max(gap) AS BIGINT) AS max_gap_days,
       CAST(min(gap) AS BIGINT) AS min_gap_days
FROM j GROUP BY mktsegment
"""


# ------------------------------------- grouped sketch verdict (round 8)


def q_grouped_approx_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """Grouped ``approx_count_distinct`` verdict: per (event_type,
    day), exact distinct users (fully oracle-compared) plus an
    in-bounds flag for Spark's engine-internal HLL++ at rsd=0.05 —
    the GROUPED form of the sketch family (``q_sketch_stats`` checks
    the global sketch; ``q_hll_verdict`` register-replays a hand-built
    HLL).  The engine sketch itself is not replayable cross-engine, so
    per the verdict-query contract the float estimate stays internal
    to the boolean: the tolerance max(5, 25% of exact) is 5x the
    configured rsd, so ``approx_ok`` trips only on structural
    breakage (wrong grouping, wrong column, broken sketch merge).

    Scale shape: one map-side-combined hash aggregation; sketches are
    constant-size mergeable state, so the shuffle carries |groups| x
    ~1 KB regardless of input rows — the 100 TB dashboard cardinality
    pattern (distinct users per type/day without a two-pass exact
    count)."""
    ev = load_table(spark, sf, "events")
    g = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.countDistinct("user_id").cast("bigint").alias("n_exact"),
        F.approx_count_distinct("user_id", rsd=0.05).alias("_n_approx"),
    )
    ok = (
        F.abs(
            F.col("_n_approx").cast("double")
            - F.col("n_exact").cast("double")
        )
        <= F.greatest(F.lit(5.0), 0.25 * F.col("n_exact").cast("double"))
    )
    return g.select(
        "event_type", "day", "n_events", "n_exact", ok.alias("approx_ok")
    )


ORACLE_GROUPED_APPROX_DISTINCT = """
SELECT event_type,
       CAST(ts AS DATE) AS day,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
       TRUE AS approx_ok
FROM events
GROUP BY event_type, CAST(ts AS DATE)
"""


# ------------------------------- quarantine re-validation (round 8)

#: validation rulesets, v1 (original) and v2 (relaxed after a rules
#: change): plain tuples so the predicates below and the oracle SQL
#: visibly encode the same constants
_QREPROC_V1_CAP = 200.0
_QREPROC_V2_CAP = 350.0
_QREPROC_ERROR_CAP = 100.0


def q_quarantine_reprocess(spark: SparkSession, sf: str) -> DataFrame:
    """Quarantine re-validation after a rules change: rows that failed
    ruleset v1 (quarantined) are replayed against the relaxed ruleset
    v2, and rows that now pass are RESCUED back into the pipeline with
    an audit reason — the reprocessing path the reference documents
    for its tier-1 quarantine (docs/VALIDATION_RULES.md:15-107 rules;
    validate_bronze.py quarantine split): quarantine is never a dead
    end, it is re-validated when rules evolve.

    v1: value <= 200 and event_type <> 'error'.
    v2: value cap raised to 350; 'error' events admitted up to 100.
    The two rescue reasons are mutually exclusive by construction
    (an 'error' row rescued by v2 has value <= 100 <= 200, so its v1
    failure was the type rule; a non-error rescue must be the cap).

    Scale shape: one pass, filter + project only — both predicates
    reach the parquet scan as pushed filters, no shuffle, no UDF."""
    ev = load_table(spark, sf, "events")
    v1_pass = (F.col("value") <= _QREPROC_V1_CAP) & (
        F.col("event_type") != "error"
    )
    v2_pass = (F.col("value") <= _QREPROC_V2_CAP) & (
        (F.col("event_type") != "error")
        | (F.col("value") <= _QREPROC_ERROR_CAP)
    )
    reason = F.when(
        F.col("event_type") == "error", F.lit("error_type_allowed")
    ).otherwise(F.lit("value_cap_raised"))
    return (
        ev.filter(~v1_pass & v2_pass)
        .select(
            F.col("event_id").cast("bigint").alias("event_id"),
            "event_type",
            "value",
            reason.alias("rescue_reason"),
        )
    )


ORACLE_QUARANTINE_REPROCESS = f"""
SELECT CAST(event_id AS BIGINT) AS event_id,
       event_type,
       value,
       CASE WHEN event_type = 'error' THEN 'error_type_allowed'
            ELSE 'value_cap_raised' END AS rescue_reason
FROM events
WHERE NOT (value <= {_QREPROC_V1_CAP} AND event_type <> 'error')
  AND (value <= {_QREPROC_V2_CAP}
       AND (event_type <> 'error' OR value <= {_QREPROC_ERROR_CAP}))
"""


# --------------------------------------- skew-safe two-phase aggregation (round 10)


def q_two_phase_skew_agg(spark: SparkSession, sf: str) -> DataFrame:
    """Skew-safe grouped rollup over the event stream via
    ``operators.joins.two_phase_aggregate``: events carry a handful of
    hot event_type keys (millions of rows over <10 distinct values —
    the textbook aggregation-skew regime), so the rollup
    partial-aggregates on (event_type, salt) first — every hot key
    spread over 32 reducers — then final-aggregates on event_type.
    Map-side combine already absorbs most of the skew for pure counts;
    the two-phase shape is what survives when the per-key state is too
    wide to combine early or AQE cannot split the hot partition (the
    r9 ``salted_join`` story, aggregation-shaped).  Equivalence to the
    plain groupBy is pytest-proven
    (``test_two_phase_aggregate_equals_plain``); this key pins the
    oracle row so the audited catalog demonstrates the operator.

    Money goes through exact integer cents BEFORE the decimal partial
    sums (associative, shuffle-order-proof; the decimal cast of an
    integral cents value is exact), so the final bigint is
    cross-engine deterministic."""
    from ..operators.joins import two_phase_aggregate

    ev = load_table(spark, sf, "events")
    cents = ev.select(
        "event_type",
        F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
    )
    agg = two_phase_aggregate(cents, "event_type", "cents", n_salts=32)
    return agg.select(
        "event_type",
        F.col("cnt").cast("bigint").alias("n_events"),
        F.col("total").cast("bigint").alias("sum_cents"),
    )


ORACLE_TWO_PHASE_SKEW_AGG = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
           AS sum_cents
FROM events
GROUP BY event_type
"""


def q_incremental_rollup_verdict(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental materialized-aggregate maintenance, demonstrated in
    an oracle-checked plan (r10 verdict item 6): fold the orders table
    into a stored per-customer SUM/COUNT rollup as THREE append-only
    delta batches through
    :func:`..pipeline.maintenance.refresh_agg_incremental` (the Delta
    Live Tables / Materialize additive-view pattern — each fold costs
    O(delta + touched keys), never O(base)), then return the persisted
    rollup.  The DuckDB oracle recomputes the rollup from scratch with
    one GROUP BY, so a green row IS the incremental-vs-full-recompute
    equivalence, end-to-end through the real TableStore upsert path.

    Money folds as exact integer cents (associative, shuffle-order- and
    batch-order-proof), per the module header's cross-engine money
    rule.  Same throwaway-store device as ``corpus_ingest_verdict``:
    the verdict frame is localCheckpoint-materialized before the store
    root is deleted."""
    import shutil
    import tempfile

    from ..pipeline.maintenance import refresh_agg_incremental
    from ..pipeline.storage import TableStore

    orders = load_table(spark, sf, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100, 0)
        .cast("bigint")
        .alias("sum_price_cents"),
    )
    root = tempfile.mkdtemp(prefix="rollup_verdict_")
    try:
        store = TableStore(spark, root)
        for b in range(3):
            refresh_agg_incremental(
                store,
                "gold.cust_rollup",
                orders.filter(F.col("o_orderkey") % 3 == b).select(
                    "o_custkey", "sum_price_cents"
                ),
                keys=["o_custkey"],
                sum_cols=["sum_price_cents"],
            )
        return (
            store.read("gold.cust_rollup")
            .select(
                "o_custkey",
                F.col("sum_price_cents").cast("bigint").alias(
                    "sum_price_cents"
                ),
                F.col("n_rows").cast("bigint").alias("n_rows"),
            )
            .transform(checkpoint)
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


ORACLE_INCREMENTAL_ROLLUP_VERDICT = """
SELECT o_custkey,
       CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
           AS sum_price_cents,
       CAST(count(*) AS BIGINT) AS n_rows
FROM orders
GROUP BY o_custkey
"""


def q_scalable_keys_verdict(spark: SparkSession, sf: str) -> DataFrame:
    """W3 verdict: both surrogate-key strategies really assign one
    globally unique key per row (``gold_dim_customer_scd2.py:79``).

    Per market segment we compare ``count(*)`` against
    ``countDistinct`` of (a) ``scalable_keys`` —
    ``monotonically_increasing_id``, the shuffle-free 100 TB path —
    and (b) ``surrogate_keys`` — the reference's dense single-window
    ints.  The oracle is ``count(*)`` three ways, so the hash matches
    iff both strategies were collision-free over every row.
    """
    c = load_table(spark, sf, "customer").select("c_custkey", "c_mktsegment")
    keyed = win_ops.scalable_keys(
        win_ops.surrogate_keys(c, order_by=["c_custkey"], key_col="dense_key"),
        key_col="scalable_key",
    )
    return keyed.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.countDistinct("scalable_key").cast("bigint").alias("n_scalable"),
        F.countDistinct("dense_key").cast("bigint").alias("n_dense"),
    )


ORACLE_SCALABLE_KEYS_VERDICT = """
SELECT c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_scalable,
       CAST(count(*) AS BIGINT) AS n_dense
FROM customer
GROUP BY c_mktsegment
"""
