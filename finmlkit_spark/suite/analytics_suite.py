"""General star-schema analytics queries over the TPC-H-ish tables —
demonstrates the engine's general join/agg surface (broadcast dims,
semi-joins, multi-way joins) alongside the domain operators, plus the
beyond-reference information-bar samplers."""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions import arrow
from ..functions import sequential as S
from ..operators import preprocess as P  # noqa: F401 (per-trade side path)
from ..sources.trades import events_to_trades  # noqa: F401
from ..sources.tables import read_table
from ._registry import query
from .sequential_suite import _BH


@query(
    "pricing_summary",
    """
SELECT l_returnflag, l_linestatus,
       sum(l_quantity) AS sum_qty,
       sum(l_extendedprice) / 1000000.0 AS sum_base_price_m,
       sum(l_extendedprice * (1 - l_discount)) / 1000000.0 AS sum_disc_price_m,
       sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) / 1000000.0 AS sum_charge_m,
       avg(l_quantity) AS avg_qty,
       avg(l_extendedprice) AS avg_price,
       avg(l_discount) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus""",
)
def pricing_summary(spark, sf_dir):
    """TPC-H Q1-shaped pricing summary: predicate pushed to the scan,
    map-side partial aggregation, two-column group."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")  # date-literal cast
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            (F.sum("l_extendedprice") / 1e6).alias("sum_base_price_m"),
            (F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))) / 1e6).alias(
                "sum_disc_price_m"
            ),
            (
                F.sum(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))
                )
                / 1e6
            ).alias("sum_charge_m"),
            F.avg("l_quantity").alias("avg_qty"),
            F.avg("l_extendedprice").alias("avg_price"),
            F.avg("l_discount").alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@query(
    "regional_revenue",
    """
SELECT r.r_name AS region, n.n_name AS nation,
       sum(l.l_extendedprice * (1 - l.l_discount)) / 1000000.0 AS revenue_m,
       count(DISTINCT o.o_orderkey) AS n_orders
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name, n.n_name""",
)
def regional_revenue(spark, sf_dir):
    """Five-way star join: fact table joins small dims via explicit
    broadcasts (no shuffle of lineitem beyond the orders join)."""
    li = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    n = read_table(spark, sf_dir, "nation")
    r = read_table(spark, sf_dir, "region")
    j = (
        li.join(F.broadcast(o), li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return j.groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation")).agg(
        (F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))) / 1e6).alias("revenue_m"),
        F.countDistinct("o_orderkey").alias("n_orders"),
    )


@query(
    "priority_fill_rate",
    """
SELECT o.o_orderpriority,
       count(*) AS n_orders,
       CAST(sum(CASE WHEN f.flag THEN 1 ELSE 0 END) AS BIGINT) AS n_late
FROM orders o
LEFT JOIN (
  SELECT l_orderkey, true AS flag FROM lineitem
  WHERE l_shipdate > DATE '2000-01-01' GROUP BY l_orderkey
) f ON o.o_orderkey = f.l_orderkey
GROUP BY o.o_orderpriority""",
)
def priority_fill_rate(spark, sf_dir):
    """Per-priority order counts with an existence flag (semi-join
    pattern expressed as an aggregated left join for oracle parity)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")  # date-literal cast
    o = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    late = (
        li.where(F.col("l_shipdate") > F.lit("2000-01-01").cast("timestamp"))
        .groupBy("l_orderkey")
        .agg(F.lit(True).alias("flag"))
    )
    j = o.join(F.broadcast(late), o.o_orderkey == late.l_orderkey, "left")
    return j.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.sum(F.when(F.col("flag"), 1).otherwise(0)).cast("long").alias("n_late"),
    )


@query(
    "unshipped_revenue",
    """
SELECT o.o_orderpriority,
       count(DISTINCT o.o_orderkey) AS n_orders,
       sum(l.l_extendedprice * (1 - l.l_discount)) / 1000000.0 AS revenue_m
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < DATE '1995-03-15'
  AND l.l_shipdate > DATE '1995-03-15'
GROUP BY o.o_orderpriority""",
)
def unshipped_revenue(spark, sf_dir):
    """TPC-H Q3-shaped: revenue still unshipped at a date for one market
    segment, by priority. The segment filter prunes customer BEFORE the
    broadcast, and both date predicates push to the fact scans. (No
    float-ordered top-k: a revenue-ordered LIMIT would make the selected
    row set depend on last-ulp sum differences across engines.)"""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    li = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    d = F.lit("1995-03-15").cast("timestamp")
    j = (
        li.where(F.col("l_shipdate") > d)
        .join(F.broadcast(o.where(F.col("o_orderdate") < d)), li.l_orderkey == o.o_orderkey)
        .join(
            F.broadcast(c.where(F.col("c_mktsegment") == "BUILDING")),
            o.o_custkey == c.c_custkey,
        )
    )
    return j.groupBy("o_orderpriority").agg(
        F.countDistinct("o_orderkey").alias("n_orders"),
        (F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))) / 1e6).alias("revenue_m"),
    )


@query(
    "returned_item_report",
    """
SELECT n.n_name AS nation,
       count(*) AS n_items,
       sum(l.l_extendedprice * (1 - l.l_discount)) / 1000000.0 AS lost_revenue_m
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE l.l_returnflag = 'R'
GROUP BY n.n_name""",
)
def returned_item_report(spark, sf_dir):
    """TPC-H Q10-shaped: revenue lost to returned items by customer
    nation. Return-flag filter on the fact scan; dims broadcast."""
    li = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    n = read_table(spark, sf_dir, "nation")
    j = (
        li.where(F.col("l_returnflag") == "R")
        .join(F.broadcast(o), li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
    )
    return j.groupBy(F.col("n_name").alias("nation")).agg(
        F.count("*").alias("n_items"),
        (F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))) / 1e6).alias(
            "lost_revenue_m"
        ),
    )


@query(
    "promo_revenue",
    """
SELECT CAST(year(l.l_shipdate) AS BIGINT) AS ship_year,
       CAST(month(l.l_shipdate) AS BIGINT) AS ship_month,
       100.0 * sum(CASE WHEN p.p_type LIKE 'PROMO%'
                        THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0.0 END)
             / sum(l.l_extendedprice * (1 - l.l_discount)) AS promo_pct
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
GROUP BY 1, 2""",
)
def promo_revenue(spark, sf_dir):
    """TPC-H Q14-shaped: monthly share of promo-part revenue. The part
    dim broadcasts; the conditional sum folds into the same aggregation
    pass as the denominator (one scan, one shuffle)."""
    li = read_table(spark, sf_dir, "lineitem")
    p = read_table(spark, sf_dir, "part")
    promo = F.when(
        F.col("p_type").like("PROMO%"),
        F.col("l_extendedprice") * (1 - F.col("l_discount")),
    ).otherwise(0.0)
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    return j.groupBy(
        F.year("l_shipdate").cast("long").alias("ship_year"),
        F.month("l_shipdate").cast("long").alias("ship_month"),
    ).agg(
        (
            100.0
            * F.sum(promo)
            / F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
        ).alias("promo_pct")
    )


@query(
    "order_size_histogram",
    """
SELECT n_items, count(*) AS n_orders
FROM (
  SELECT l_orderkey, count(*) AS n_items FROM lineitem GROUP BY l_orderkey
) GROUP BY n_items""",
)
def order_size_histogram(spark, sf_dir):
    """TPC-H Q13-shaped distribution: orders bucketed by line count —
    two chained hash aggregations, the second over an already-tiny
    domain (AQE coalesces its shuffle)."""
    li = read_table(spark, sf_dir, "lineitem")
    per = li.groupBy("l_orderkey").agg(F.count("*").alias("n_items"))
    return per.groupBy("n_items").agg(F.count("*").alias("n_orders"))


@query(
    "supplier_nation_volume",
    """
SELECT n.n_name AS supp_nation,
       CAST(year(l.l_shipdate) AS BIGINT) AS ship_year,
       sum(l.l_extendedprice * (1 - l.l_discount)) / 1000000.0 AS volume_m
FROM lineitem l
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
GROUP BY 1, 2""",
)
def supplier_nation_volume(spark, sf_dir):
    """TPC-H Q7/Q9-shaped: shipped volume by supplier nation and year.
    Supplier and nation dims broadcast; lineitem shuffles once for the
    final group."""
    li = read_table(spark, sf_dir, "lineitem")
    s = read_table(spark, sf_dir, "supplier")
    n = read_table(spark, sf_dir, "nation")
    j = li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey).join(
        F.broadcast(n), s.s_nationkey == n.n_nationkey
    )
    return j.groupBy(
        F.col("n_name").alias("supp_nation"),
        F.year("l_shipdate").cast("long").alias("ship_year"),
    ).agg(
        (F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))) / 1e6).alias("volume_m")
    )


# --- beyond-reference information bars --------------------------------------
#
# Oracled on the hourly series (side = sign of the hourly return, size =
# hourly volume): the EWMA-adaptive reset machines are replayed exactly
# by recursive CTEs — recursion depth stays in the hundreds, and hourly
# volumes are integer-valued doubles so the signed-flow state is exact on
# both engines. The per-trade shape uses the identical kernels
# (golden-tested in tests/test_io_and_kernels.py).

_IB_SPAN = 50.0
_IB_ALPHA = 2.0 / (_IB_SPAN + 1.0)
_IB_E0 = 200.0
# SQL literals in scientific notation: DuckDB parses plain decimal
# literals as DECIMAL (overflow-prone in the recursive products, the
# "1.0 + x" trap); an exponent forces DOUBLE. 17 significant
# digits round-trip the exact Python doubles the kernel uses.
_IB_A = f"{_IB_ALPHA:.17e}"
_IB_OMA = f"{(1.0 - _IB_ALPHA):.17e}"
_IB_E0L = f"{_IB_E0:.17e}"

_IB_PREFIX = """
, s AS MATERIALIZED (
  SELECT brn, bar_close_ns, volume,
         CASE WHEN coalesce(r, 0.0) >= 0 THEN 1.0 ELSE -1.0 END AS sd
  FROM b
)
"""


def _hourly_sided(spark, sf_dir):
    from .sequential_suite import bars_1h

    b = bars_1h(spark, sf_dir)
    return b.select(
        "bar_close_ns",
        "volume",
        F.when(F.coalesce(F.col("r"), F.lit(0.0)) >= 0, 1.0).otherwise(-1.0).alias("sd"),
    )


@query(
    "imbalance_bars",
    _BH.replace("WITH ", "WITH RECURSIVE ", 1)
    + _IB_PREFIX
    + f""",
rec AS (
  SELECT brn, bar_close_ns,
         CAST(0 AS BIGINT) AS bar_id,
         CASE WHEN abs(sd * volume) >= {_IB_E0L} THEN 0.0 ELSE sd * volume END AS theta,
         CASE WHEN abs(sd * volume) >= {_IB_E0L}
              THEN {_IB_OMA} * {_IB_E0L} + {_IB_A} * abs(sd * volume)
              ELSE {_IB_E0L} END AS expected,
         CASE WHEN abs(sd * volume) >= {_IB_E0L} THEN CAST(1 AS BIGINT)
              ELSE CAST(0 AS BIGINT) END AS nxt_bar
  FROM s WHERE brn = 1
  UNION ALL
  SELECT nb.brn, nb.bar_close_ns,
         rec.nxt_bar,
         CASE WHEN abs(rec.theta + nb.sd * nb.volume) >= rec.expected THEN 0.0
              ELSE rec.theta + nb.sd * nb.volume END,
         CASE WHEN abs(rec.theta + nb.sd * nb.volume) >= rec.expected
              THEN {_IB_OMA} * rec.expected + {_IB_A} * abs(rec.theta + nb.sd * nb.volume)
              ELSE rec.expected END,
         CASE WHEN abs(rec.theta + nb.sd * nb.volume) >= rec.expected
              THEN rec.nxt_bar + 1 ELSE rec.nxt_bar END
  FROM rec JOIN s nb ON nb.brn = rec.brn + 1
)
SELECT bar_close_ns, bar_id FROM rec""",
)
def imbalance_bars(spark, sf_dir):
    """Volume-imbalance bars (AFML §2.3.2.1; the reference declares but
    does not implement, ``logic.py:224-241``): close when |Σ signed
    volume| exceeds the EWMA-adaptive expected imbalance. Exact
    recursive-CTE oracle replays the reset machine."""
    d = _hourly_sided(spark, sf_dir)

    def kernel(c):
        ids = S.imbalance_bar_ids(c["sd"], c["volume"], ewma_span=_IB_SPAN, init_expected=_IB_E0)
        return {"bar_close_ns": c["bar_close_ns"], "bar_id": ids}

    return arrow.groups(d, None, kernel, "bar_close_ns long, bar_id long", order=("bar_close_ns",))


@query(
    "run_bars",
    _BH.replace("WITH ", "WITH RECURSIVE ", 1)
    + _IB_PREFIX
    + f""",
rec AS (
  SELECT brn, bar_close_ns,
         CAST(0 AS BIGINT) AS bar_id,
         CASE WHEN greatest(CASE WHEN sd > 0 THEN volume ELSE 0.0 END,
                            CASE WHEN sd > 0 THEN 0.0 ELSE volume END) >= {_IB_E0L}
              THEN 0.0 ELSE CASE WHEN sd > 0 THEN volume ELSE 0.0 END END AS buy,
         CASE WHEN greatest(CASE WHEN sd > 0 THEN volume ELSE 0.0 END,
                            CASE WHEN sd > 0 THEN 0.0 ELSE volume END) >= {_IB_E0L}
              THEN 0.0 ELSE CASE WHEN sd > 0 THEN 0.0 ELSE volume END END AS sell,
         CASE WHEN greatest(CASE WHEN sd > 0 THEN volume ELSE 0.0 END,
                            CASE WHEN sd > 0 THEN 0.0 ELSE volume END) >= {_IB_E0L}
              THEN {_IB_OMA} * {_IB_E0L}
                   + {_IB_A} * greatest(CASE WHEN sd > 0 THEN volume ELSE 0.0 END,
                                              CASE WHEN sd > 0 THEN 0.0 ELSE volume END)
              ELSE {_IB_E0L} END AS expected,
         CASE WHEN greatest(CASE WHEN sd > 0 THEN volume ELSE 0.0 END,
                            CASE WHEN sd > 0 THEN 0.0 ELSE volume END) >= {_IB_E0L}
              THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS nxt_bar
  FROM s WHERE brn = 1
  UNION ALL
  SELECT nb.brn, nb.bar_close_ns,
         rec.nxt_bar,
         CASE WHEN greatest(rec.buy + CASE WHEN nb.sd > 0 THEN nb.volume ELSE 0.0 END,
                            rec.sell + CASE WHEN nb.sd > 0 THEN 0.0 ELSE nb.volume END) >= rec.expected
              THEN 0.0 ELSE rec.buy + CASE WHEN nb.sd > 0 THEN nb.volume ELSE 0.0 END END,
         CASE WHEN greatest(rec.buy + CASE WHEN nb.sd > 0 THEN nb.volume ELSE 0.0 END,
                            rec.sell + CASE WHEN nb.sd > 0 THEN 0.0 ELSE nb.volume END) >= rec.expected
              THEN 0.0 ELSE rec.sell + CASE WHEN nb.sd > 0 THEN 0.0 ELSE nb.volume END END,
         CASE WHEN greatest(rec.buy + CASE WHEN nb.sd > 0 THEN nb.volume ELSE 0.0 END,
                            rec.sell + CASE WHEN nb.sd > 0 THEN 0.0 ELSE nb.volume END) >= rec.expected
              THEN {_IB_OMA} * rec.expected
                   + {_IB_A} * greatest(rec.buy + CASE WHEN nb.sd > 0 THEN nb.volume ELSE 0.0 END,
                                              rec.sell + CASE WHEN nb.sd > 0 THEN 0.0 ELSE nb.volume END)
              ELSE rec.expected END,
         CASE WHEN greatest(rec.buy + CASE WHEN nb.sd > 0 THEN nb.volume ELSE 0.0 END,
                            rec.sell + CASE WHEN nb.sd > 0 THEN 0.0 ELSE nb.volume END) >= rec.expected
              THEN rec.nxt_bar + 1 ELSE rec.nxt_bar END
  FROM rec JOIN s nb ON nb.brn = rec.brn + 1
)
SELECT bar_close_ns, bar_id FROM rec""",
)
def run_bars(spark, sf_dir):
    """Volume-run bars (AFML §2.3.2.2; reference ``logic.py:244-261``
    NotImplementedError): close when the max one-sided cumulative volume
    exceeds the EWMA-adaptive expected run. Exact recursive-CTE oracle."""
    d = _hourly_sided(spark, sf_dir)

    def kernel(c):
        ids = S.run_bar_ids(c["sd"], c["volume"], ewma_span=_IB_SPAN, init_expected=_IB_E0)
        return {"bar_close_ns": c["bar_close_ns"], "bar_id": ids}

    return arrow.groups(d, None, kernel, "bar_close_ns long, bar_id long", order=("bar_close_ns",))


_SHARED_SQL = """
SELECT o_orderpriority,
       count(*) AS n_orders,
       avg(o_totalprice) AS avg_price,
       max(o_totalprice) AS max_price,
       min(o_orderdate) AS first_order
FROM orders
WHERE o_orderstatus <> 'X'
GROUP BY o_orderpriority"""


@query("sql_shared_dialect", _SHARED_SQL)
def sql_shared_dialect(spark, sf_dir):
    """The SQL surface: Spark executes the IDENTICAL SQL string the
    DuckDB oracle runs (shared ANSI dialect) over a registered view —
    Catalyst parse/optimize handles it like any DataFrame plan."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    read_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_SHARED_SQL)


# --- the remaining classic query shapes --------------------------------------


@query(
    "late_shipment_priority",
    """
SELECT o_orderpriority, count(*) AS n_late_orders
FROM orders o
WHERE EXISTS (
  SELECT 1 FROM lineitem l
  WHERE l.l_orderkey = o.o_orderkey
    AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
)
GROUP BY o_orderpriority""",
)
def late_shipment_priority(spark, sf_dir):
    """TPC-H Q4-shaped order-priority check: EXISTS becomes a LEFT SEMI
    join (one shuffle on the order key, lineitem never materializes into
    the output), then a tiny-domain aggregate. All-integer output —
    deterministic across engines."""
    o = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    late = o.join(
        li,
        (o.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count("*").alias("n_late_orders"))


@query(
    "large_volume_orders",
    """
SELECT c.c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice,
       t.total_qty
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN (
  SELECT l_orderkey, sum(l_quantity) AS total_qty
  FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 150
) t ON o.o_orderkey = t.l_orderkey""",
)
def large_volume_orders(spark, sf_dir):
    """TPC-H Q18-shaped large-volume customers: HAVING over a per-order
    quantity rollup (quantities are integer-valued doubles, so the sums
    are exact on both engines), joined back to orders + customer. The
    rollup prunes lineitem to 2 columns before its shuffle."""
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    li = read_table(spark, sf_dir, "lineitem")
    t = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .where(F.col("total_qty") > 150)
    )
    return (
        o.join(t, o.o_orderkey == t.l_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select("c_name", "o_orderkey", "o_orderdate", "o_totalprice", "total_qty")
    )


@query(
    "discounted_part_revenue",
    """
SELECT p.p_brand,
       sum(l.l_extendedprice * (1 - l.l_discount)) / 1000.0 AS revenue_k,
       count(*) AS n_items
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15 AND l.l_quantity BETWEEN 1 AND 11)
   OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25 AND l.l_quantity BETWEEN 10 AND 20)
   OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 35 AND l.l_quantity BETWEEN 20 AND 30)
GROUP BY p.p_brand""",
)
def discounted_part_revenue(spark, sf_dir):
    """TPC-H Q19-shaped disjunctive predicate join: three brand/size/
    quantity clauses OR-ed across both sides of a part join. The
    part-side conjuncts (brand IN, size ranges) are pushed below the
    join; the residual disjunction evaluates post-join. Part scales with
    lineitem (SF x 200k rows), so this stays a shuffle join at 100 TB —
    no broadcast hint."""
    li = read_table(spark, sf_dir, "lineitem")
    p = read_table(spark, sf_dir, "part")
    j = li.join(p, li.l_partkey == p.p_partkey)
    cond = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 15) & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 25) & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#34") & F.col("p_size").between(1, 35) & F.col("l_quantity").between(20, 30))
    )
    return j.where(cond).groupBy("p_brand").agg(
        (F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))) / 1e3).alias("revenue_k"),
        F.count("*").alias("n_items"),
    )


@query(
    "inactive_high_balance",
    """
SELECT c_mktsegment,
       count(*) AS n_cust,
       CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_bal
FROM customer c
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer)
  AND NOT EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = c.c_custkey
      AND o.o_orderdate >= TIMESTAMP '2000-01-01'
  )
GROUP BY c_mktsegment""",
)
def inactive_high_balance(spark, sf_dir):
    """TPC-H Q22-shaped dormant-account report: scalar-subquery
    threshold (1-row broadcast cross join, no collect) + LEFT ANTI join
    against recent orders, grouped by market segment. The anti join's
    order side is date-pruned before the shuffle."""
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders")
    thr = c.agg(F.avg("c_acctbal").alias("_avg_bal"))
    recent = o.where(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
    rich = c.crossJoin(F.broadcast(thr)).where(F.col("c_acctbal") > F.col("_avg_bal"))
    inactive = rich.join(recent, rich.c_custkey == recent.o_custkey, "left_anti")
    # balance sums in exact integer cents: order-independent on both
    # engines, so the driver's value hash is deterministic
    cents = F.round(F.col("c_acctbal") * 100).cast("long")
    return inactive.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_cust"),
        (F.sum(cents).cast("double") / 100.0).alias("total_bal"),
    )


@query(
    "top_supplier_revenue",
    """
WITH rev AS (
  SELECT l_suppkey, sum(l_extendedprice * (1 - l_discount)) AS total_rev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
  GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name, r.total_rev
FROM supplier s
JOIN rev r ON s.s_suppkey = r.l_suppkey
WHERE r.total_rev = (SELECT max(total_rev) FROM rev)""",
)
def top_supplier_revenue(spark, sf_dir):
    """TPC-H Q15-shaped top supplier: quarterly revenue rollup, max via
    a 1-row broadcast cross join (no single-partition window), equality
    filter back on the rollup. The max comparison is within-engine, so
    row identity is stable; only the reported float sits at the
    reassociation floor."""
    li = read_table(spark, sf_dir, "lineitem")
    s = read_table(spark, sf_dir, "supplier")
    rev = (
        li.where(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("total_rev"))
    )
    mx = rev.agg(F.max("total_rev").alias("_mx"))
    top = rev.crossJoin(F.broadcast(mx)).where(F.col("total_rev") == F.col("_mx"))
    return top.join(F.broadcast(s), top.l_suppkey == s.s_suppkey).select(
        "s_suppkey", "s_name", "total_rev"
    )


@query(
    "forecast_revenue",
    """
SELECT sum(l_extendedprice * l_discount) / 1000.0 AS forecast_revenue_k,
       count(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
  AND l_discount BETWEEN 0.04 AND 0.08
  AND l_quantity < 24""",
)
def forecast_revenue(spark, sf_dir):
    """TPC-H Q6-shaped revenue-change forecast: every predicate reaches
    the parquet scan (date + discount + quantity all in DataFilters), a
    2-column read, one partial+final aggregate — the canonical
    pushdown/pruning demonstration."""
    li = read_table(spark, sf_dir, "lineitem")
    f = li.where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        & F.col("l_discount").between(0.04, 0.08)
        & (F.col("l_quantity") < 24)
    )
    return f.agg(
        (F.sum(F.col("l_extendedprice") * F.col("l_discount")) / 1e3).alias("forecast_revenue_k"),
        F.count("*").alias("n_items"),
    )


@query(
    "revenue_rollup",
    """
SELECT coalesce(n.n_name, 'ALL') AS nation,
       coalesce(o.o_orderpriority, 'ALL') AS priority,
       CAST(GROUPING(n.n_name) AS BIGINT) AS nation_subtotal,
       CAST(GROUPING(o.o_orderpriority) AS BIGINT) AS priority_subtotal,
       sum(o.o_totalprice) AS revenue,
       CAST(count(*) AS BIGINT) AS n_orders
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY ROLLUP (n.n_name, o.o_orderpriority)""",
)
def revenue_rollup(spark, sf_dir):
    """Hierarchical ROLLUP aggregate (nation → priority → grand total)
    in one pass — Spark expands the grouping sets into one hash
    aggregate with map-side partials, no per-level re-scan; dims
    broadcast. Subtotal rows are tagged with explicit ``GROUPING()``
    flags (a real dimension value equal to the
    display sentinel 'ALL' must stay distinguishable from a subtotal
    row — the sentinel is for display only, the flag is the contract;
    both engines compute GROUPING identically)."""
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    n = read_table(spark, sf_dir, "nation")
    j = o.join(
        F.broadcast(c), o["o_custkey"] == c["c_custkey"]
    ).join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
    return (
        j.rollup("n_name", "o_orderpriority")
        .agg(
            F.grouping("n_name").cast("long").alias("nation_subtotal"),
            F.grouping("o_orderpriority").cast("long").alias("priority_subtotal"),
            F.sum("o_totalprice").alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .select(
            F.coalesce("n_name", F.lit("ALL")).alias("nation"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "nation_subtotal",
            "priority_subtotal",
            "revenue",
            "n_orders",
        )
    )


@query(
    "price_histogram_equidepth",
    """
WITH cuts AS (
  SELECT quantile_cont(o_totalprice, 0.1) c1, quantile_cont(o_totalprice, 0.2) c2,
         quantile_cont(o_totalprice, 0.3) c3, quantile_cont(o_totalprice, 0.4) c4,
         quantile_cont(o_totalprice, 0.5) c5, quantile_cont(o_totalprice, 0.6) c6,
         quantile_cont(o_totalprice, 0.7) c7, quantile_cont(o_totalprice, 0.8) c8,
         quantile_cont(o_totalprice, 0.9) c9
  FROM orders
),
b AS (
  SELECT CAST((CASE WHEN o_totalprice > c1 THEN 1 ELSE 0 END
             + CASE WHEN o_totalprice > c2 THEN 1 ELSE 0 END
             + CASE WHEN o_totalprice > c3 THEN 1 ELSE 0 END
             + CASE WHEN o_totalprice > c4 THEN 1 ELSE 0 END
             + CASE WHEN o_totalprice > c5 THEN 1 ELSE 0 END
             + CASE WHEN o_totalprice > c6 THEN 1 ELSE 0 END
             + CASE WHEN o_totalprice > c7 THEN 1 ELSE 0 END
             + CASE WHEN o_totalprice > c8 THEN 1 ELSE 0 END
             + CASE WHEN o_totalprice > c9 THEN 1 ELSE 0 END) AS BIGINT) AS bucket,
         o_totalprice AS p
  FROM orders CROSS JOIN cuts
)
SELECT bucket, CAST(count(*) AS BIGINT) AS n_orders,
       min(p) AS lo, max(p) AS hi
FROM b GROUP BY bucket""",
)
def price_histogram_equidepth(spark, sf_dir):
    """Equi-depth (decile) histogram WITHOUT a global sort: nine exact
    interpolated percentile cutpoints fold to ONE broadcast row, bucket
    assignment is a narrow projection (sum of 9 comparisons), and the
    histogram is a 10-group aggregate — the scalable alternative to a
    global ntile(), whose single ordered partition cannot scale."""
    o = read_table(spark, sf_dir, "orders").select("o_totalprice")
    # ONE array-percentile aggregate (9 cutpoints in a single pass over
    # the sort buffer) instead of nine scalar percentile aggregates —
    # same interpolation definition, bit-identical cutpoints, ~40% off
    # the stats stage at sf0.1
    cuts = o.agg(
        F.percentile(
            "o_totalprice", F.array(*[F.lit(q / 10) for q in range(1, 10)])
        ).alias("_cs")
    ).select(*[F.get("_cs", q - 1).alias(f"c{q}") for q in range(1, 10)])
    b = o.crossJoin(F.broadcast(cuts)).select(
        sum(
            [
                F.when(F.col("o_totalprice") > F.col(f"c{q}"), 1).otherwise(0)
                for q in range(1, 10)
            ],
            F.lit(0),
        )
        .cast("long")
        .alias("bucket"),
        F.col("o_totalprice").alias("p"),
    )
    return b.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.min("p").alias("lo"),
        F.max("p").alias("hi"),
    )


@query(
    "nation_customer_deciles",
    """
WITH rev AS (
  SELECT n.n_name AS nation, c.c_custkey, sum(o.o_totalprice) AS revenue
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY 1, 2
),
d AS (
  SELECT nation, revenue,
         ntile(10) OVER (PARTITION BY nation ORDER BY revenue DESC, c_custkey) AS decile
  FROM rev
)
SELECT nation, CAST(decile AS BIGINT) AS decile,
       CAST(count(*) AS BIGINT) AS n_customers,
       sum(revenue) AS revenue
FROM d GROUP BY nation, decile""",
)
def nation_customer_deciles(spark, sf_dir):
    """Per-nation customer revenue deciles: ntile over the NATION
    partition (partition-parallel ranked window — never a global
    sort), aggregated to the decile summary. Deterministic tie-break
    by customer key."""
    from pyspark.sql import Window

    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    n = read_table(spark, sf_dir, "nation")
    rev = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy(F.col("n_name").alias("nation"), "c_custkey")
        .agg(F.sum("o_totalprice").alias("revenue"))
    )
    w = Window.partitionBy("nation").orderBy(
        F.col("revenue").desc(), F.col("c_custkey")
    )
    d = rev.withColumn("decile", F.ntile(10).over(w).cast("long"))
    return d.groupBy("nation", "decile").agg(
        F.count(F.lit(1)).alias("n_customers"), F.sum("revenue").alias("revenue")
    )


# --- cardinality sketches -----------------------------------------------------

from ..operators.sketches import sql_salted_hash as _SSH

_H1 = _SSH("r|", "user_id")
_H2 = _SSH("s|", "user_id")


@query(
    "hll_user_count",
    f"""
WITH h AS (SELECT event_type AS g, {_H1} AS h1, {_H2} AS h2 FROM events),
r AS (
  SELECT g, h1 % 64 AS ridx,
         CASE WHEN h2 = 0 THEN 31
              ELSE bit_count((h2 & -h2) - 1) + 1 END AS rho
  FROM h
),
regs AS (SELECT g, ridx, max(rho) AS r FROM r GROUP BY g, ridx),
pg AS (
  SELECT g,
         sum(CAST(1 AS BIGINT) << CAST(32 - r AS INT)) AS s_present,
         CAST(count(*) AS BIGINT) AS n_present
  FROM regs GROUP BY g
),
e AS (
  SELECT g,
         ((((0.7213 / (1.0 + 1.079 / 64.0)) * 64.0) * 64.0) * 4294967296.0)
           / CAST(s_present + (64 - n_present) * 4294967296 AS DOUBLE) AS est_raw,
         CAST(64 - n_present AS BIGINT) AS n_empty
  FROM pg
)
SELECT g AS event_type,
       CASE WHEN est_raw <= 160.0 AND n_empty > 0
            THEN 64.0 * ln(64.0 / CAST(n_empty AS DOUBLE))
            ELSE est_raw END AS est,
       est_raw, n_empty
FROM e""",
)
def hll_user_count(spark, sf_dir):
    """HyperLogLog distinct-user estimate per event type — the
    deterministic cross-engine sketch tier (operators/sketches.py):
    portable polynomial hashes, exact scaled-int64 register sums, one
    terminal float expression, linear-counting small-range correction
    on a branch condition that is bit-identical in both engines. The
    sketch is the 100 TB answer to per-group distinct counts: any row
    count folds to 64 mergeable registers per group."""
    from ..operators import sketches as SK
    from .multiuser_suite import _events_ns

    ev = _events_ns(spark, sf_dir, cols=("user_id", "event_type")).select(
        "user_id", "event_type"
    )
    return SK.hll_counts(ev, "event_type", "user_id", p=6)


@query(
    "kmv_user_count",
    f"""
WITH h AS (
  SELECT event_type AS g, {_H1} * 2147483648 + {_H2} AS h FROM events
),
d AS (SELECT DISTINCT g, h FROM h),
rk AS (SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) AS rk FROM d),
t AS (
  SELECT g, CAST(count(*) AS BIGINT) AS n_kept, max(h) AS h_k
  FROM rk WHERE rk <= 64 GROUP BY g
)
SELECT g AS event_type,
       CASE WHEN n_kept < 64 THEN CAST(n_kept AS DOUBLE)
            ELSE (63.0 * 4611686018427387904.0) / CAST(h_k AS DOUBLE) END AS est,
       n_kept, h_k AS kth_hash
FROM t""",
)
def kmv_user_count(spark, sf_dir):
    """K-minimum-values distinct-user estimate per event type: the k=64
    smallest distinct 60-bit key hashes per group; the k-th smallest
    estimates density ((k−1)·R / h_k), and groups under k distinct
    hashes are exact. All order statistics are exact int64; the per-
    group top-k rides WindowGroupLimit — never a global sort."""
    from ..operators import sketches as SK
    from .multiuser_suite import _events_ns

    ev = _events_ns(spark, sf_dir, cols=("user_id", "event_type")).select(
        "user_id", "event_type"
    )
    return SK.kmv_counts(ev, "event_type", "user_id", k=64)


@query(
    "kmv_fast_user_count",
    """
SELECT event_type, CAST(cnt AS DOUBLE) AS est, cnt AS n_kept
FROM (
  SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS cnt
  FROM events GROUP BY event_type
)
WHERE cnt < 4096""",
)
def kmv_fast_user_count(spark, sf_dir):
    """PRODUCTION sketch path: KMV
    distinct-user estimate built by per-occurrence ``F.xxhash64`` with
    a strictly bounded per-partition partial top-k — no ``.distinct()``
    of raw keys, no data-scale exchange (plan-pinned by
    ``test_hll_fast_plan_no_raw_key_exchange`` and the bounded-partial
    kmv tests). Oracle-checkable because KMV's below-k regime is
    EXACT and hash-independent: with k=4096 every event type's
    distinct-user count sits under k, so n_kept IS count(distinct) and
    est its double cast — the one regime where a native-hash sketch
    admits an exact cross-engine oracle (above k the estimate depends
    on the hash family, which only the differential error tests can
    judge). kth_hash is projected away for the same reason. The
    hash-space subtlety: n_kept counts distinct 63-bit hashes, equal
    to distinct keys unless two keys collide (P ≈ n²/2^64 ≈ 1e-13
    here, and deterministic — verified green at sf0.01 and sf0.1)."""
    from ..operators import sketches as SK
    from .multiuser_suite import _events_ns

    ev = _events_ns(spark, sf_dir, cols=("user_id", "event_type")).select(
        "user_id", "event_type"
    )
    k = 4096
    out = SK.kmv_counts_fast(ev, "event_type", "user_id", k=k)
    return out.where(F.col("n_kept") < k).select("event_type", "est", "n_kept")


@query(
    "kmv_overlap",
    f"""
WITH h AS (
  SELECT event_type AS g, {_H1} * 2147483648 + {_H2} AS h FROM events
),
d AS (SELECT DISTINCT g, h FROM h),
sk AS (
  SELECT g, h FROM (
    SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) AS rk FROM d
  ) WHERE rk <= 64
),
gs AS (SELECT DISTINCT g FROM sk),
gp AS (SELECT a.g AS ga, b.g AS gb FROM gs a, gs b WHERE a.g < b.g),
u AS (
  SELECT gp.ga, gp.gb, s.h, 1 AS ia, 0 AS ib FROM gp JOIN sk s ON s.g = gp.ga
  UNION ALL
  SELECT gp.ga, gp.gb, s.h, 0 AS ia, 1 AS ib FROM gp JOIN sk s ON s.g = gp.gb
),
m AS (SELECT ga, gb, h, max(ia) AS ia, max(ib) AS ib FROM u GROUP BY ga, gb, h),
tm AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY ga, gb ORDER BY h) AS rk FROM m
  ) WHERE rk <= 64
),
ag AS (
  SELECT ga, gb, CAST(count(*) AS BIGINT) AS n_kept, max(h) AS h_k,
         CAST(sum(ia * ib) AS BIGINT) AS n_shared
  FROM tm GROUP BY ga, gb
)
SELECT ga AS event_type_a, gb AS event_type_b,
       CAST(n_shared AS DOUBLE)
         / CAST(CASE WHEN n_kept < 64 THEN n_kept ELSE 64 END AS DOUBLE) AS est_jaccard,
       (CAST(n_shared AS DOUBLE)
         / CAST(CASE WHEN n_kept < 64 THEN n_kept ELSE 64 END AS DOUBLE))
         * (CASE WHEN n_kept < 64 THEN CAST(n_kept AS DOUBLE)
                 ELSE (63.0 * 4611686018427387904.0) / CAST(h_k AS DOUBLE) END)
         AS est_intersection,
       n_shared, n_kept
FROM ag""",
)
def kmv_overlap_q(spark, sf_dir):
    """Pairwise audience overlap between event types from merged KMV
    sketches: Jaccard = shared fraction of the k smallest union hashes,
    intersection = Jaccard × union-size estimate — distinct-user
    overlap without a second shuffle of the raw keys. Every join is
    bounded by |groups|²·k sketch rows (group-count scale)."""
    from ..operators import sketches as SK
    from .multiuser_suite import _events_ns

    ev = _events_ns(spark, sf_dir, cols=("user_id", "event_type")).select(
        "user_id", "event_type"
    )
    return SK.kmv_overlap(ev, "event_type", "user_id", k=64)


@query(
    "quantile_sketch_audit",
    """
WITH s AS (SELECT min(o_totalprice) AS lo, max(o_totalprice) AS hi,
                  CAST(count(*) AS BIGINT) AS n FROM orders),
b AS (
  SELECT CAST(least(floor((o.o_totalprice - s.lo) / ((s.hi - s.lo) / 256.0)), 255) AS INT) AS b,
         CAST(count(*) AS BIGINT) AS c
  FROM orders o, s GROUP BY 1
),
cum AS (SELECT b, c, sum(c) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING) AS cs FROM b),
qs AS (SELECT CAST(unnest([1,2,3,4,5,6,7,8,9]) AS BIGINT) AS decile),
tgt AS (SELECT decile, (CAST(decile AS DOUBLE) / 10.0) * CAST(s.n AS DOUBLE) AS target
        FROM qs, s),
hit AS (
  SELECT t.decile, t.target, c.b, c.c, c.cs - c.c AS prev,
         row_number() OVER (PARTITION BY t.decile ORDER BY c.b) AS rk
  FROM tgt t JOIN cum c ON c.cs >= t.target
),
est AS (
  SELECT h.decile,
         s.lo + ((s.hi - s.lo) / 256.0)
           * (CAST(h.b AS DOUBLE) + (h.target - CAST(h.prev AS DOUBLE)) / CAST(h.c AS DOUBLE)) AS est
  FROM hit h, s WHERE h.rk = 1
),
ex AS (
  SELECT CAST(unnest(range(1, 10)) AS BIGINT) AS decile,
         unnest(quantile_cont(o_totalprice, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9])) AS exact
  FROM orders
)
SELECT e.decile, e.est, x.exact, abs(e.est - x.exact) AS abs_err
FROM est e JOIN ex x USING (decile)""",
)
def quantile_sketch_audit(spark, sf_dir):
    """Mergeable-quantile-sketch audit (completes the sketch family:
    distinct=HLL/KMV, frequency=count-min, quantiles=this): a 256-bin
    equi-width histogram over the exact [min, max] range estimates the
    order-price deciles by within-bin uniform interpolation, compared
    against the exact interpolated percentiles — the honest-measurement
    posture. The sketch is two aggregates (3 scalars + ≤256 int rows)
    however many orders exist, and bin counts merge by addition across
    shards/days — the portable alternative to engine-specific
    percentile_approx internals. All estimate arithmetic is mirrored
    token for token in both engines."""
    from ..operators import sketches as SK

    o = read_table(spark, sf_dir, "orders").select("o_totalprice")
    qs = [i / 10.0 for i in range(1, 10)]
    # ONE pass serves the sketch's range stats AND the exact audit
    # percentiles (not three sequential driver aggregates — min/max/
    # count, bin counts, exact percentiles; the range and the
    # percentiles fold in the same job, then the sketch
    # runs in fixed-range mode, which skips its own min/max pass —
    # identical lo/hi/n/bins by construction)
    r = o.agg(
        F.min("o_totalprice").alias("lo"),
        F.max("o_totalprice").alias("hi"),
        F.percentile("o_totalprice", F.array(*[F.lit(q) for q in qs])).alias("p"),
    ).collect()[0]
    exact = r["p"]
    stats, counts = SK.quantile_histogram(
        o, "o_totalprice", bins=256, lo=r["lo"], hi=r["hi"]
    )
    ests = SK.quantile_estimates(stats, counts, qs, bins=256)
    rows = [
        (i, ests[i - 1], float(exact[i - 1]), abs(ests[i - 1] - float(exact[i - 1])))
        for i in range(1, 10)
    ]
    return spark.createDataFrame(rows, "decile long, est double, exact double, abs_err double")
