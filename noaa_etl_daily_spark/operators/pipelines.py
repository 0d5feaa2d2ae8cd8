"""End-to-end analytic pipelines (TPC-H Q3/Q5 shapes) — multi-join
queries that exercise the optimizer as a whole: join ordering, filter
pushdown into every scan, dimension broadcasting, and partial
aggregation, in one plan.

Scale design (SURVEY.md §6 discipline):

- Selective dimension filters (``c_mktsegment``, ``r_name``) reach their
  parquet scans as PushedFilters; the fact tables (lineitem, orders)
  are joined AFTER those reductions so Catalyst can reorder freely.
- nation/region are genuinely fixed-size → explicit broadcast hints;
  customer/orders/supplier/lineitem SCALE with the corpus, so their
  join strategy is left to AQE (shuffled hash / sort-merge at 100 TB,
  auto-broadcast at fixture scale) — the round-1 verdict's "never
  force-broadcast a scaling table" rule.
- Aggregations sit on top of the join tree where Spark's partial
  (map-side) aggregation applies before the final shuffle.
- Float sums are ``round(...)``-ed identically on both engine sides,
  and top-k orderings tie-break on a unique key (SURVEY §7.4 G2/G3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..tables import file_fp, load, path_for
from .materialize import input_size_bytes, pin

Q3_CUTOFF = "1998-03-15 00:00:00"
Q5_START = "1996-01-01 00:00:00"
Q5_END = "1997-01-01 00:00:00"


@register(
    "pipeline_shipping_priority",
    oracle=f"""
    SELECT l_orderkey,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           o_orderdate,
           o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '{Q3_CUTOFF}'
      AND l_shipdate  > TIMESTAMP '{Q3_CUTOFF}'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
)
def pipeline_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: segment-filtered customers × in-flight orders ×
    unshipped lineitems, revenue per order, top-10.

    Plan intent: the ``c_mktsegment`` and date predicates push into the
    three scans (verified in tests/test_layout.py-style plan checks);
    customer⋈orders⋈lineitem build up smallest-first; the final top-10
    is a TakeOrderedAndProject — no global sort materializes. The
    ordering tie-breaks on (o_orderdate, l_orderkey) so LIMIT is
    deterministic cross-engine."""
    cutoff = F.lit(Q3_CUTOFF).cast("timestamp_ntz")
    cust = load(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), "o_orderdate", "l_orderkey")
        .limit(10)
    )


@register(
    "pipeline_regional_volume",
    oracle=f"""
    SELECT n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '{Q5_START}'
      AND o_orderdate <  TIMESTAMP '{Q5_END}'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
)
def pipeline_regional_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: revenue by nation where the supplier and the
    customer share a nation, restricted to one region and one year.

    Plan intent (r4 restructure): the region predicate's biggest
    selectivity lever is applied FIRST — lineitem joins the
    region-reduced supplier before any other wide join, so ~4/5 of
    lineitem is dropped before the orders and customer joins ever see
    it (at 100 TB, that join is AQE's choice of strategy since
    supplier scales with the corpus; at any scale it is a 5× cut in
    the bytes entering the two remaining exchanges). ONE broadcast
    nation⋈region subtree (fixed-size dims — safe at any scale, and
    projected identically so ReuseExchange serves both consumers)
    reduces supplier and semi-reduces customer before their first
    exchange; the c_nationkey = s_nationkey local-supplier constraint
    rides the customer join as an extra equi-key, never a post-join
    filter. The final ORDER BY runs as a single-partition sort — the
    output is bounded by |nations in region| rows at ANY corpus size,
    so a sampled range exchange would cost a stage for nothing."""
    start = F.lit(Q5_START).cast("timestamp_ntz")
    end = F.lit(Q5_END).cast("timestamp_ntz")
    region = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load(spark, sf_dir, "nation")
    # fixed-size dims: broadcast is safe at any corpus scale
    local_nations = F.broadcast(
        nation.join(region, nation.n_regionkey == region.r_regionkey).select(
            "n_nationkey", "n_name"
        )
    )
    supp = (
        load(spark, sf_dir, "supplier")
        .join(local_nations, F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_nationkey", "n_name")
    )
    # Size-GATED broadcast of the region-reduced supplier (r9 VERDICT
    # task 8, accepted on a same-minute interleaved A/B: 0.336 s fused
    # vs 0.547 s at sf0.1, identical answers): Catalyst can't estimate
    # a join OUTPUT's size, so with AQE off it shuffle-joins a table it
    # would happily broadcast — the gate supplies the missing stat from
    # the source file's actual bytes, and stays OFF for a corpus-scale
    # supplier (never force-broadcast a scaling table: at 100 TB this
    # join is AQE's runtime choice, exactly as before).
    # ADVICE r10 hardening: (a) file_fp is None for a non-regular path,
    # matching _src_fp's single-file-fixture contract — the size of a
    # directory-shaped fixture is the tiny dir-inode size and would
    # silently pass the gate for an arbitrarily large table, so a
    # non-file shape disables the forced broadcast instead; (b)
    # threshold 16 MB of on-disk parquet ≈ 64 MB in-memory at the ~4×
    # snappy+encoding inflation the fixtures measure — conservative
    # against the classic compressed-size-vs-memory broadcast OOM.
    supplier_fp = file_fp(path_for(sf_dir, "supplier"))
    if supplier_fp is not None and supplier_fp[0] < (16 << 20):
        supp = F.broadcast(supp)
    cust = (
        load(spark, sf_dir, "customer")
        .select("c_custkey", "c_nationkey")
        .join(
            local_nations,
            F.col("c_nationkey") == F.col("n_nationkey"),
            "left_semi",
        )
    )
    orders = (
        load(spark, sf_dir, "orders")
        .filter((F.col("o_orderdate") >= start) & (F.col("o_orderdate") < end))
        .select("o_orderkey", "o_custkey")
    )
    li = (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
    )
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            cust,
            (F.col("o_custkey") == F.col("c_custkey"))
            & (F.col("s_nationkey") == F.col("c_nationkey")),
        )
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .coalesce(1)
        .sortWithinPartitions(F.col("revenue").desc(), "n_name")
    )


@register(
    "pipeline_top_supplier",
    oracle=f"""
    WITH rev AS (
      SELECT l_suppkey AS supplier_no,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '{Q5_START}'
        AND l_shipdate <  TIMESTAMP '{Q5_END}'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN rev ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
    ORDER BY s_suppkey
    """,
)
def pipeline_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: the supplier(s) with the maximum windowed
    revenue. The textbook SQL references the revenue CTE twice (once
    for rows, once for its max) — naively two full aggregations of
    lineitem. Here the max rides a WINDOW over the already-aggregated
    per-supplier rows (one lineitem scan + one shuffle; the window's
    global max runs over supplier-count rows, not lineitem rows), then
    a broadcast-sized join picks up the supplier dimension. The oracle
    keeps the two-reference form — same rows, proving the rewrite."""
    from pyspark.sql.window import Window as W

    start = F.lit(Q5_START).cast("timestamp_ntz")
    end = F.lit(Q5_END).cast("timestamp_ntz")
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= start) & (F.col("l_shipdate") < end)
    )
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
        .alias("total_revenue")
    )
    best = rev.withColumn(
        "mx", F.max("total_revenue").over(W.partitionBy())
    ).where(F.col("total_revenue") == F.col("mx"))
    supp = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        best.join(supp, best.supplier_no == supp.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


@register(
    "pipeline_promo_effect",
    oracle=f"""
    SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS month,
           round(sum(CASE WHEN p_type = 'PROMO'
                          THEN l_extendedprice * (1 - l_discount)
                          ELSE 0 END), 2) AS promo_revenue,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue,
           round(round(sum(CASE WHEN p_type = 'PROMO'
                                THEN l_extendedprice * (1 - l_discount)
                                ELSE 0 END), 2)
                 / round(sum(l_extendedprice * (1 - l_discount)), 2), 6)
               AS promo_share
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '{Q5_START}'
      AND l_shipdate <  TIMESTAMP '{Q5_END}'
    GROUP BY 1
    """,
)
def pipeline_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promotion revenue share per ship month — a
    conditional-aggregate ratio over a fact⋈dim join.

    Plan intent: the date range pushes into the lineitem scan; part is
    joined on the pure equi-key and only (p_partkey, p_type) survives
    column pruning, so the build side is two slim columns no matter how
    wide the part table is. Both the promo and total sums come out of
    ONE partial+final aggregate (two CASE branches in the same codegen
    span) — never two passes. The ratio divides the two
    identically-rounded sums, so cross-engine floats agree."""
    start = F.lit(Q5_START).cast("timestamp_ntz")
    end = F.lit(Q5_END).cast("timestamp_ntz")
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= start) & (F.col("l_shipdate") < end)
    )
    part = load(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.round(
        F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))), 2
    )
    total = F.round(F.sum(rev), 2)
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(F.to_date(F.date_trunc("month", "l_shipdate")).alias("month"))
        .agg(
            promo.alias("promo_revenue"),
            total.alias("total_revenue"),
            F.round(promo / total, 6).alias("promo_share"),
        )
    )


@register(
    "pipeline_market_share",
    oracle=f"""
    WITH base AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
             s_nationkey,
             l_extendedprice * (1 - l_discount) AS rev
      FROM customer
      JOIN nation cn ON c_nationkey = cn.n_nationkey
      JOIN region    ON cn.n_regionkey = r_regionkey
      JOIN orders    ON c_custkey = o_custkey
      JOIN lineitem  ON l_orderkey = o_orderkey
      JOIN supplier  ON l_suppkey = s_suppkey
      WHERE r_name = 'ASIA'
        AND o_orderdate >= TIMESTAMP '{Q5_START}'
        AND o_orderdate <  TIMESTAMP '{Q5_END}'
    )
    SELECT month,
           round(sum(CASE WHEN s_nationkey = 3 THEN rev ELSE 0 END), 2)
               AS nation_revenue,
           round(sum(rev), 2) AS market_revenue,
           round(round(sum(CASE WHEN s_nationkey = 3 THEN rev ELSE 0 END), 2)
                 / round(sum(rev), 2), 6) AS market_share
    FROM base
    GROUP BY month
    """,
)
def pipeline_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one supplier nation's share of a region's market
    per order month. Five joins feed a single conditional-aggregate
    ratio — the classic 'share of …' analytic.

    Plan intent: region(5)⋈nation(25) is a broadcast-built reduction of
    customer (the ASIA filter cuts the fact side before the big joins);
    supplier contributes only (s_suppkey, s_nationkey) after pruning;
    the share numerator is a CASE branch inside the same aggregate as
    the denominator (one pass, one exchange). The nation of interest is
    an equality on the integer key — no string compare in the hot
    loop."""
    start = F.lit(Q5_START).cast("timestamp_ntz")
    end = F.lit(Q5_END).cast("timestamp_ntz")
    region = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load(spark, sf_dir, "nation")
    asia_nations = F.broadcast(
        nation.join(region, nation.n_regionkey == region.r_regionkey).select(
            "n_nationkey"
        )
    )
    cust = (
        load(spark, sf_dir, "customer")
        .join(asia_nations, F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey")
    )
    orders = (
        load(spark, sf_dir, "orders")
        .filter((F.col("o_orderdate") >= start) & (F.col("o_orderdate") < end))
        .select("o_orderkey", "o_custkey", "o_orderdate")
    )
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    supp = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    nat_rev = F.round(
        F.sum(F.when(F.col("s_nationkey") == 3, rev).otherwise(F.lit(0.0))), 2
    )
    mkt_rev = F.round(F.sum(rev), 2)
    return (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(
            F.to_date(F.date_trunc("month", "o_orderdate")).alias("month")
        )
        .agg(
            nat_rev.alias("nation_revenue"),
            mkt_rev.alias("market_revenue"),
            F.round(nat_rev / mkt_rev, 6).alias("market_share"),
        )
    )


@register(
    "pipeline_min_cost_supplier",
    oracle="""
    WITH cost AS (
      SELECT l_partkey, l_suppkey,
             min(l_extendedprice / l_quantity) AS unit_cost
      FROM lineitem
      WHERE l_quantity > 0
      GROUP BY l_partkey, l_suppkey
    ), ranked AS (
      SELECT l_partkey, l_suppkey, unit_cost,
             min(unit_cost) OVER (PARTITION BY l_partkey) AS best_cost
      FROM cost
    )
    SELECT r.l_partkey AS p_partkey,
           p_brand,
           CAST(min(r.l_suppkey) AS BIGINT) AS best_suppkey,
           floor(min(r.unit_cost) * 10000) / 10000 AS best_unit_cost
    FROM ranked r JOIN part ON r.l_partkey = p_partkey
    WHERE r.unit_cost = r.best_cost
    GROUP BY r.l_partkey, p_brand
    """,
)
def pipeline_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: the minimum-cost supplier per part. The textbook
    form is a correlated subquery (cost = (SELECT min(cost) ... WHERE
    same part)); here it is decorrelated by construction: per-(part,
    supplier) unit costs → per-part window min → filter to the
    achievers → deterministic tie-break (min suppkey).

    Plan shape: one groupBy on (partkey, suppkey) — map-side
    combinable; the window min re-uses the partkey prefix of that
    partitioning (no second wide shuffle of raw lineitem); part joins
    in after the reduction, pruned to (p_partkey, p_brand). The
    min-over-window + equality filter is the scalable replacement for
    joining an aggregate back to itself. Unit costs are per-row double
    divisions (identical on both engines), so the min-selection and
    equality are exact; the displayed cost uses floor-truncation
    (floor(x·1e4)/1e4) rather than round() because engines disagree on
    round-half of binary doubles (the fn_try_arithmetic pattern)."""
    from pyspark.sql.window import Window as W

    li = load(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 0)
    cost = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias(
            "unit_cost"
        )
    )
    ranked = cost.withColumn(
        "best_cost", F.min("unit_cost").over(W.partitionBy("l_partkey"))
    ).where(F.col("unit_cost") == F.col("best_cost"))
    part = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    return (
        ranked.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(F.col("l_partkey").alias("p_partkey"), "p_brand")
        .agg(
            F.min("l_suppkey").alias("best_suppkey"),
            (F.floor(F.min("unit_cost") * 10000) / 10000).alias(
                "best_unit_cost"
            ),
        )
    )


@register(
    "pipeline_order_priority_check",
    oracle=f"""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '{Q5_START}'
      AND o_orderdate <  TIMESTAMP '{Q5_END}'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    """,
)
def pipeline_order_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: orders (in a date range) having at least one
    line item shipped after the order date, counted per priority — the
    EXISTS-driven data-quality census.

    Plan shape: the correlated EXISTS is a LEFT SEMI hash join on
    l_orderkey with the l_shipdate > o_orderdate residual — lineitem
    contributes only (l_orderkey, l_shipdate) after pruning, each
    order row is emitted at most once regardless of matching lines (no
    fan-out then re-dedup), and the priority census aggregates the
    semi-join output. At 100 TB both sides shuffle once on orderkey;
    no distinct, no count-then-filter detour."""
    start = F.lit(Q5_START).cast("timestamp_ntz")
    end = F.lit(Q5_END).cast("timestamp_ntz")
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= start) & (F.col("o_orderdate") < end)
    )
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        orders.join(
            li,
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@register(
    "pipeline_nation_trade_volume",
    oracle=f"""
    SELECT cn.n_name AS cust_nation,
           sn.n_name AS supp_nation,
           CAST(extract(year FROM l_shipdate) AS BIGINT) AS ship_year,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS volume
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    WHERE cn.n_nationkey IN (1, 2) AND sn.n_nationkey IN (1, 2)
      AND cn.n_nationkey <> sn.n_nationkey
      AND l_shipdate >= TIMESTAMP '{Q5_START}'
    GROUP BY 1, 2, 3
    """,
)
def pipeline_nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral trade volume between two nations by
    ship year (customer in one, supplier in the other, both
    directions).

    Plan shape: the two-nation filter is applied to customer and
    supplier BEFORE the fact joins (via the broadcast nation dim), so
    orders/lineitem rows from uninvolved nations never reach the big
    joins' build sides; the asymmetric-pair condition is an integer
    inequality riding the join. One final hash aggregate on
    (nation, nation, year)."""
    start = F.lit(Q5_START).cast("timestamp_ntz")
    nation = load(spark, sf_dir, "nation").filter(
        F.col("n_nationkey").isin(1, 2)
    )
    cust = (
        load(spark, sf_dir, "customer")
        .join(
            F.broadcast(
                nation.select(
                    F.col("n_nationkey").alias("cnk"),
                    F.col("n_name").alias("cust_nation"),
                )
            ),
            F.col("c_nationkey") == F.col("cnk"),
        )
        .select("c_custkey", "cnk", "cust_nation")
    )
    supp = (
        load(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                nation.select(
                    F.col("n_nationkey").alias("snk"),
                    F.col("n_name").alias("supp_nation"),
                )
            ),
            F.col("s_nationkey") == F.col("snk"),
        )
        .select("s_suppkey", "snk", "supp_nation")
    )
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") >= start
    ).select(
        "l_orderkey", "l_suppkey", "l_shipdate",
        "l_extendedprice", "l_discount",
    )
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .where(F.col("cnk") != F.col("snk"))
        .groupBy(
            "cust_nation",
            "supp_nation",
            F.year("l_shipdate").cast("long").alias("ship_year"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("volume")
        )
    )


@register(
    "pipeline_returned_top_customers",
    oracle=f"""
    SELECT c_custkey, c_name, n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS lost_revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '{Q5_START}'
      AND o_orderdate <  TIMESTAMP '{Q5_END}'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY lost_revenue DESC, c_custkey
    LIMIT 20
    """,
)
def pipeline_returned_top_customers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q10 shape: the 20 customers with the most returned-item
    revenue in a quarter-year window — the churn-risk report.

    Plan shape: l_returnflag = 'R' and the date range are PushedFilters
    on their scans; the revenue aggregate reduces to |customers| rows
    before the nation broadcast join; top-20 executes as
    TakeOrderedAndProject (per-partition heads merged on the driver,
    no global sort), tie-broken on c_custkey for cross-engine LIMIT
    determinism."""
    start = F.lit(Q5_START).cast("timestamp_ntz")
    end = F.lit(Q5_END).cast("timestamp_ntz")
    cust = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    orders = (
        load(spark, sf_dir, "orders")
        .filter((F.col("o_orderdate") >= start) & (F.col("o_orderdate") < end))
        .select("o_orderkey", "o_custkey")
    )
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    ).select("l_orderkey", "l_extendedprice", "l_discount")
    nation = F.broadcast(
        load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    )
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_custkey", "c_name", "c_nationkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("lost_revenue")
        )
        .join(nation, F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", "c_name", "n_name", "lost_revenue")
        .orderBy(F.col("lost_revenue").desc(), "c_custkey")
        .limit(20)
    )


@register(
    "pipeline_large_volume_customers",
    oracle="""
    WITH big AS (
      SELECT l_orderkey
      FROM lineitem
      GROUP BY l_orderkey
      HAVING sum(l_quantity) > 250
    )
    SELECT c_custkey, c_name, o_orderkey, o_orderdate,
           round(o_totalprice, 2) AS o_totalprice,
           round(qty_sum, 2) AS total_qty
    FROM (
      SELECT l_orderkey, sum(l_quantity) AS qty_sum
      FROM lineitem
      WHERE l_orderkey IN (SELECT l_orderkey FROM big)
      GROUP BY l_orderkey
    )
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 50
    """,
)
def pipeline_large_volume_customers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q18 shape: customers whose orders exceed a quantity
    threshold (the 'large-volume' HAVING-subquery query).

    Plan shape: ONE aggregation of lineitem by orderkey with the
    HAVING filter applied to it directly — the textbook IN-subquery is
    the same aggregate referenced twice, which Spark need not compute
    twice; the filtered (orderkey, qty) rows (a tiny fraction of
    orders) then drive hash joins to orders and customer, so the big
    tables join AFTER the data-reducing aggregate, not before. Top-50
    via TakeOrderedAndProject, tie-broken on o_orderkey. The quantity
    sums are integral doubles (whole quantities), so round(...,2) is
    boundary-safe."""
    li = load(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("qty_sum"))
        .where(F.col("qty_sum") > 250)
    )
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        big.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            "o_orderdate",
            F.round("o_totalprice", 2).alias("o_totalprice"),
            F.round("qty_sum", 2).alias("total_qty"),
        )
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(50)
    )


@register(
    "pipeline_revenue_forecast",
    oracle=f"""
    SELECT round(sum(l_extendedprice * l_discount), 2) AS potential_revenue,
           CAST(count(*) AS BIGINT) AS n_qualifying
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '{Q5_START}'
      AND l_shipdate <  TIMESTAMP '{Q5_END}'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
    """,
)
def pipeline_revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: the what-if revenue delta from dropping small
    discounts — a pure scan-and-aggregate with three conjunctive
    predicates and no join at all.

    Plan shape: this is the query that should be SCAN-BOUND: all three
    predicates (date range, discount band, quantity cap) push into the
    parquet scan as PushedFilters over row-group statistics, the
    5-column ReadSchema prunes the other 11 columns, and the global
    aggregate is one partial buffer per split + a single-row reduce.
    At 100 TB the cost is exactly 'read the surviving row groups of 5
    columns' — if this query is slow, the storage layout (not the
    plan) is wrong."""
    start = F.lit(Q5_START).cast("timestamp_ntz")
    end = F.lit(Q5_END).cast("timestamp_ntz")
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= start)
            & (F.col("l_shipdate") < end)
            & (F.col("l_discount") >= 0.03)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2
            ).alias("potential_revenue"),
            F.count(F.lit(1)).alias("n_qualifying"),
        )
    )


@register(
    "pipeline_customer_distribution",
    oracle="""
    SELECT n_orders, CAST(count(*) AS BIGINT) AS n_customers
    FROM (
      SELECT c.c_custkey, CAST(count(o.o_orderkey) AS BIGINT) AS n_orders
      FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
      GROUP BY c.c_custkey
    )
    GROUP BY n_orders
    """,
)
def pipeline_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: the order-count distribution over customers —
    "how many customers placed exactly N orders", INCLUDING the
    zero-order customers the left join preserves (count(o_orderkey)
    counts non-NULL only, so no-order customers land in the N=0
    bucket, the bucket an inner join would silently lose).

    Scale shape: one shuffle co-partitions customer and orders on the
    customer key (orders pre-counted map-side by AQE's partial
    aggregate); the second aggregate runs over distribution-cardinality
    rows (max orders per customer — tiny at any scale). No window, no
    distinct — two hash aggregates and one join."""
    cust = load(spark, sf_dir, "customer").select("c_custkey")
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return per_cust.groupBy("n_orders").agg(
        F.count(F.lit(1)).alias("n_customers")
    )


@register(
    "pipeline_small_qty_revenue",
    oracle="""
    WITH avgq AS (
      SELECT l_partkey, avg(l_quantity) AS aq
      FROM lineitem GROUP BY l_partkey
    )
    SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly,
           CAST(count(*) AS BIGINT) AS n_small_lines
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey AND p.p_size <= 5
    JOIN avgq a ON l.l_partkey = a.l_partkey
    WHERE l.l_quantity < 0.5 * a.aq
    """,
)
def pipeline_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue lost to below-half-average-quantity
    orders of small parts. The textbook form is a correlated scalar
    subquery per lineitem row (avg quantity of the SAME part); the
    scalable plan DECORRELATES it by hand: one per-part average
    aggregate (map-side combinable, |parts| rows out), joined back on
    the part key, with the small-part predicate pushed into the part
    scan. Both joins share the l_partkey key, so after the first
    exchange everything is co-partitioned — at 100 TB this is two
    scans of lineitem (one reduced to per-part rows) and one logical
    shuffle, vs the subquery's rescan-per-row.

    The 0.5·avg comparison is float-vs-float on both engines
    (avg = double division of the same sum/count), so the row set is
    deterministic cross-engine; only the final sum is rounded."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    part = load(spark, sf_dir, "part").filter(F.col("p_size") <= 5).select(
        "p_partkey"
    )
    avgq = li.groupBy("l_partkey").agg(F.avg("l_quantity").alias("aq"))
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .join(avgq.withColumnRenamed("l_partkey", "a_partkey"),
              F.col("l_partkey") == F.col("a_partkey"))
        .filter(F.col("l_quantity") < 0.5 * F.col("aq"))
        .agg(
            F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_small_lines"),
        )
    )


@register(
    "pipeline_disjunctive_filter",
    oracle="""
    SELECT round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 25
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 35
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def pipeline_disjunctive_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-ANDs predicate spanning both join sides.
    The optimizer lesson this encodes: Catalyst keeps the p_partkey =
    l_partkey conjunct as the JOIN key and extracts the
    side-local implications of the disjunction — the p_brand/p_size
    constraint (derivable from the OR) is pushed into the part scan
    and the l_quantity range union into the lineitem scan
    (constraint propagation over disjunctions), while the full OR
    stays as a residual join filter. The plan is therefore one
    ordinary equi-join over two pre-filtered scans — NOT the theta
    join a naive reading of the predicate suggests. Q19 is the
    classic test that an engine does this extraction; PushedFilters
    in the scan node is the observable evidence."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    part = load(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    cond = (
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
    return (
        li.join(part, F.col("p_partkey") == F.col("l_partkey"))
        .filter(cond)
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "pipeline_dormant_customers",
    oracle="""
    WITH rich AS (
      SELECT c_custkey, c_nationkey, c_acctbal FROM customer
      WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer
                         WHERE c_acctbal > 0.0)
    )
    SELECT c_nationkey,
           CAST(count(*) AS BIGINT) AS n_custs,
           round(sum(c_acctbal), 2) AS total_bal
    FROM rich r
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = r.c_custkey)
    GROUP BY c_nationkey
    """,
)
def pipeline_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: positive-balance-above-average customers who
    have never ordered — the dormant-capital report. Two classic plan
    elements in one query: an UNCORRELATED scalar subquery (the global
    average becomes a 1-row broadcast the filter rides — computed once,
    never per row) and a LEFT ANTI hash join against orders (NOT
    EXISTS; null-safe by construction, unlike NOT IN — the
    sql_not_in_null_aware lesson applied). Both full-table passes are
    aggregates with map-side combine; the anti join is the only
    customer-cardinality shuffle."""
    cust = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    avg_bal = cust.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("ab")
    )
    rich = cust.join(F.broadcast(avg_bal)).filter(
        F.col("c_acctbal") > F.col("ab")
    )
    orders = load(spark, sf_dir, "orders").select("o_custkey")
    return (
        rich.join(orders, rich.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_custs"),
            F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
        )
    )


@register(
    "pipeline_supplier_part_census",
    oracle="""
    SELECT p.p_brand, p.p_size,
           CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS n_suppliers
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand <> 'Brand#5'
      AND p.p_size IN (1, 5, 9, 13, 17, 21, 25)
    GROUP BY p.p_brand, p.p_size
    """,
)
def pipeline_supplier_part_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: how many distinct suppliers can provide each
    surviving (brand, size) part class — the sourcing-diversity census.
    The brand exclusion and the size IN-list push into the part scan
    (PushedFilters: Not(EqualTo), In); the count(DISTINCT supplier) is
    the expensive exact-distinct path, planned as dedup-then-count over
    (brand, size, suppkey) — at 100 TB the HLL sibling
    (agg_approx_count_distinct) substitutes with the same join tree."""
    part = (
        load(spark, sf_dir, "part")
        .filter(
            (F.col("p_brand") != "Brand#5")
            & F.col("p_size").isin(1, 5, 9, 13, 17, 21, 25)
        )
        .select("p_partkey", "p_brand", "p_size")
    )
    li = load(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(part, F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("n_suppliers"))
    )


@register(
    "pipeline_waiting_suppliers",
    oracle="""
    SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
    FROM lineitem l1
    JOIN orders o ON l1.l_orderkey = o.o_orderkey
    JOIN supplier s ON l1.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE o.o_orderstatus = 'F'
      AND n.n_name = 'NATION_3'
      AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o.o_orderdate
                                            + INTERVAL 60 DAY)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 20
    """,
)
def pipeline_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who were the SOLE late shipper on
    multi-supplier finalized orders ("kept orders waiting" — late =
    shipped >60 days after order date, adapted to this schema's
    columns). The textbook form is a correlated EXISTS + NOT EXISTS
    double self-join on lineitem (the oracle SQL runs it literally);
    this plan DECORRELATES it into one per-order aggregate —

      n_suppliers >= 2          ⟺  EXISTS other-supplier line
      n_late_suppliers = 1      ⟺  NOT EXISTS other late supplier
      numwait += n_late_lines   (all late lines belong to that one)

    — so the fact table is touched once (join orders, one groupBy
    l_orderkey) instead of three times, the classic rewrite a 100 TB
    plan needs (two fact shuffles total: orderkey agg, suppkey join).
    Deterministic: counts are integers; top-20 ties break on s_name.
    """
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    orders_f = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr(
        "INTERVAL 60 DAYS"
    )
    per_order = (
        li.join(orders_f, li.l_orderkey == orders_f.o_orderkey)
        .groupBy("l_orderkey")
        .agg(
            F.countDistinct("l_suppkey").alias("n_supp"),
            F.countDistinct(F.when(late, F.col("l_suppkey"))).alias(
                "n_late_supp"
            ),
            F.min(F.when(late, F.col("l_suppkey"))).alias("late_supp"),
            F.sum(F.when(late, 1).otherwise(0)).alias("n_late_lines"),
        )
    )
    waiting = per_order.filter(
        (F.col("n_supp") >= 2) & (F.col("n_late_supp") == 1)
    ).select("late_supp", "n_late_lines")
    nation = (
        load(spark, sf_dir, "nation")
        .filter(F.col("n_name") == "NATION_3")
        .select("n_nationkey")
    )
    supp = load(spark, sf_dir, "supplier").join(
        F.broadcast(nation),
        F.col("s_nationkey") == F.col("n_nationkey"),
        "left_semi",
    )
    return (
        waiting.join(supp, waiting.late_supp == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.sum("n_late_lines").cast("bigint").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )


@register(
    "pipeline_important_stock",
    oracle="""
    WITH supply AS (
      SELECT l_partkey,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS value_cents
      FROM lineitem l
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      WHERE n.n_name = 'NATION_7'
      GROUP BY l_partkey
    ),
    tot AS (SELECT CAST(sum(value_cents) AS BIGINT) AS t FROM supply)
    SELECT l_partkey AS partkey, value_cents,
           CAST(value_cents * 1000000 // t AS BIGINT) AS share_ppm
    FROM supply CROSS JOIN tot
    WHERE value_cents * 1000 > t
    ORDER BY value_cents DESC, partkey
    """,
)
def pipeline_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose supply value from one nation's
    suppliers exceeds 0.1% of that nation's total supply value
    (adapted: supply value = shipped line value, this schema having no
    partsupp table). The plan elements Q11 exercises: a GROUP BY whose
    HAVING compares against an uncorrelated scalar aggregate OVER THE
    SAME derived table — computed once from the part-grain rows (never
    a second fact pass) and broadcast into a map-only filter. The
    nation's suppliers reduce lineitem via a semi-join BEFORE the
    part-grain shuffle. Integer cents; share in ppm floor division.
    """
    nation = (
        load(spark, sf_dir, "nation")
        .filter(F.col("n_name") == "NATION_7")
        .select("n_nationkey")
    )
    supp = (
        load(spark, sf_dir, "supplier")
        .join(
            F.broadcast(nation),
            F.col("s_nationkey") == F.col("n_nationkey"),
            "left_semi",
        )
        .select("s_suppkey")
    )
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice"
    )
    supply = (
        li.join(supp, li.l_suppkey == supp.s_suppkey, "left_semi")
        .groupBy("l_partkey")
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * 100).cast("bigint")
            ).alias("value_cents")
        )
    )
    tot = supply.agg(F.sum("value_cents").alias("t"))
    return (
        supply.crossJoin(F.broadcast(tot))
        .filter(F.col("value_cents") * 1000 > F.col("t"))
        .select(
            F.col("l_partkey").alias("partkey"),
            "value_cents",
            F.expr("value_cents * 1000000L div t").alias("share_ppm"),
        )
        .orderBy(F.col("value_cents").desc(), "partkey")
    )


@register(
    "pipeline_promo_part_suppliers",
    oracle="""
    WITH shipped AS (
      SELECT l_suppkey, l_partkey, CAST(sum(l_quantity) AS BIGINT) AS qty
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate <  TIMESTAMP '1998-01-01'
      GROUP BY 1, 2
    )
    SELECT s_name, round(s_acctbal, 2) AS acctbal
    FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE n.n_name = 'NATION_5'
      AND EXISTS (SELECT 1 FROM shipped sh
                  JOIN part p ON sh.l_partkey = p.p_partkey
                  WHERE p.p_name LIKE 'red%'
                    AND sh.l_suppkey = s.s_suppkey
                    AND sh.qty > 40)
    ORDER BY s_name
    """,
)
def pipeline_promo_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: one nation's suppliers who shipped a meaningful
    volume (>40 units in 1997) of promotion-candidate ('red%') parts —
    the "who can stock this promo" sourcing query (adapted: shipped
    volume stands in for partsupp availability). Plan elements: an
    aggregated-subquery EXISTS decorrelated into semi-join chains —
    part-name filter semi-reduces the (supp, part) shipping aggregate,
    the qualifying suppkeys semi-reduce the nation's suppliers; the
    fact table is aggregated once with its date filter pushed to the
    scan. Every join is an equi-semi-join on a real key.
    """
    shipped = (
        load(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
        )
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").cast("bigint").alias("qty"))
    )
    red = (
        load(spark, sf_dir, "part")
        .filter(F.col("p_name").like("red%"))
        .select("p_partkey")
    )
    qualified = (
        shipped.join(red, shipped.l_partkey == red.p_partkey, "left_semi")
        .filter(F.col("qty") > 40)
        .select("l_suppkey")
        .distinct()
    )
    nation = (
        load(spark, sf_dir, "nation")
        .filter(F.col("n_name") == "NATION_5")
        .select("n_nationkey")
    )
    return (
        load(spark, sf_dir, "supplier")
        .join(
            F.broadcast(nation),
            F.col("s_nationkey") == F.col("n_nationkey"),
            "left_semi",
        )
        .join(qualified, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_name", F.round("s_acctbal", 2).alias("acctbal"))
        .orderBy("s_name")
    )


@register(
    "pipeline_multimodal_curation",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang,
             list_filter(string_split(lower(text), ' '), t -> t <> '') AS toks
      FROM documents
    ), q AS (
      SELECT doc_id, lang, toks,
             CASE WHEN len(toks) = 0 THEN NULL ELSE
               round(0.4 * least(len(toks) / 400.0, 1.0)
                     + 0.4 * round(len(list_distinct(toks)) * 1.0
                                   / len(toks), 4)
                     + 0.2 * (1.0 - round(len(list_filter(toks,
                           t -> list_contains(['the','a','of','and','to'], t)))
                           * 1.0 / len(toks), 4)), 4)
             END AS quality
      FROM toks
    ), surv1 AS (
      SELECT doc_id, toks FROM q WHERE quality >= 0.42
    ), shingles AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(toks) - 2),
                    i -> array_to_string(toks[i:i+2], ' '))) AS sh
      FROM surv1
    ), per_doc AS (
      SELECT doc_id,
             min(md5(sh || '#0')) AS h0, min(md5(sh || '#1')) AS h1,
             min(md5(sh || '#2')) AS h2, min(md5(sh || '#3')) AS h3,
             min(md5(sh || '#4')) AS h4, min(md5(sh || '#5')) AS h5,
             min(md5(sh || '#6')) AS h6, min(md5(sh || '#7')) AS h7,
             list(DISTINCT sh) AS hs, count(DISTINCT sh) AS n_sh
      FROM shingles GROUP BY doc_id
    ), bands AS (
      SELECT doc_id, band_id, sig FROM per_doc, LATERAL (VALUES
        (0, h0 || h1), (1, h2 || h3),
        (2, h4 || h5), (3, h6 || h7)) AS b(band_id, sig)
    ), cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a
      JOIN bands b ON a.band_id = b.band_id AND a.sig = b.sig
                  AND a.doc_id < b.doc_id
    ), neardup AS (
      SELECT DISTINCT c.doc_b AS doc_id
      FROM cand c
      JOIN per_doc pa ON pa.doc_id = c.doc_a
      JOIN per_doc pb ON pb.doc_id = c.doc_b
      WHERE round(len(list_intersect(pa.hs, pb.hs)) * 1.0
                  / (pa.n_sh + pb.n_sh
                     - len(list_intersect(pa.hs, pb.hs))), 4) >= 0.8
    ), emb AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e,
             list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                                     x -> x * x)) AS nrm
      FROM embeddings
    ), rem AS (
      SELECT s.doc_id, e.label,
             list_transform(e.e, x -> CAST(round(x * 1000000) AS BIGINT)) AS m
      FROM surv1 s
      JOIN emb e ON s.doc_id = e.vec_id AND e.nrm > 0
      WHERE s.doc_id NOT IN (SELECT doc_id FROM neardup)
    ), sums AS (
      SELECT label AS cell, CAST(i AS INT) AS i,
             CAST(sum(m[CAST(i AS INT)]) AS BIGINT) AS s
      FROM rem, unnest(generate_series(1, 64)) u(i)
      GROUP BY label, i
    ), cb AS (SELECT cell, list(s ORDER BY i) AS c FROM sums GROUP BY cell),
    scored AS (
      SELECT r.doc_id, r.m, cb.cell,
             round(list_sum(list_transform(generate_series(1, 64),
                     i -> CAST(r.m[CAST(i AS INT)] AS DOUBLE)
                          * CAST(cb.c[CAST(i AS INT)] AS DOUBLE)))
                   / sqrt(list_sum(list_transform(r.m,
                            x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
                          * list_sum(list_transform(cb.c,
                            x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))),
                   9) AS sim
      FROM rem r CROSS JOIN cb
    ), assign AS (
      SELECT doc_id, m, cell,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY sim DESC, cell) AS rn
      FROM scored
    ), mine AS (SELECT doc_id, m, cell FROM assign WHERE rn = 1),
    semdup AS (
      SELECT DISTINCT b.doc_id
      FROM mine a JOIN mine b
        ON a.cell = b.cell AND a.doc_id < b.doc_id
      WHERE round(list_sum(list_transform(generate_series(1, 64),
                    i -> CAST(a.m[CAST(i AS INT)] AS DOUBLE)
                         * CAST(b.m[CAST(i AS INT)] AS DOUBLE)))
                  / sqrt(list_sum(list_transform(a.m,
                           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
                         * list_sum(list_transform(b.m,
                           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))),
                  4) >= 0.25
    ), manifest AS (
      SELECT q.doc_id, q.lang, q.quality,
             CASE WHEN q.quality IS NULL OR q.quality < 0.42
                    THEN 'low_quality'
                  WHEN q.doc_id IN (SELECT doc_id FROM neardup)
                    THEN 'near_dup'
                  WHEN e.vec_id IS NULL OR e.nrm IS NULL OR e.nrm <= 0
                    THEN 'no_embedding'
                  WHEN q.doc_id IN (SELECT doc_id FROM semdup)
                    THEN 'semantic_dup'
                  ELSE 'kept' END AS disposition
      FROM q LEFT JOIN emb e ON q.doc_id = e.vec_id
    )
    SELECT doc_id, lang, quality, disposition,
           CAST(count(*) OVER (PARTITION BY disposition) AS BIGINT)
               AS n_in_disposition
    FROM manifest
    ORDER BY doc_id
    """,
)
def pipeline_multimodal_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data curation over documents ⋈ embeddings
    (WAVE9 candidate 3) — the full "what actually runs before training"
    pipeline in ONE plan, each stage reusing a certified operator's
    construction: (1) heuristic quality gate (llm_text_quality_score's
    formula, keep quality ≥ 0.42), (2) near-dup removal among survivors
    via banded MinHash candidates + exact candidate-only Jaccard ≥ 0.8
    keep-first (llm_dedup_near_minhash's construction), (3) join
    survivors to their embedding on doc_id = vec_id (docs with a
    missing or zero-norm embedding are quarantined 'no_embedding'),
    (4) SemDeDup within nearest-centroid cells at cosine ≥ 0.25
    keep-first (llm_semdedup_cells' construction, codebook computed
    over the SURVIVING population). Output: the doc-grain audit
    manifest — disposition ∈ {low_quality, near_dup, no_embedding,
    semantic_dup, kept} with the first failing stage winning — plus the
    per-stage attrition count as a window over disposition (the
    bounded, post-reduction grain).

    Scale shape, stage by stage: the quality gate and the MinHash
    signatures are scan-stage higher-order functions (zero shuffles —
    the exploded shingle stream never crosses an exchange); near-dup
    candidates come from the slim band self-join (ReuseExchange shares
    the one hashpartitioning, shuffle_hash hint as in
    llm_dedup_near_minhash); the drop lists (near-dup, semantic-dup)
    are CANDIDATE-grain — tiny by construction — so their application
    back onto the doc table is a broadcast join; documents ⋈ embeddings
    is the only corpus-grain equi-join (doc_id = vec_id, shuffle on the
    id); the SemDeDup codebook is K×64 integers broadcast back, and the
    within-cell pair space is bounded by cell population. Every stage's
    100 TB argument is inherited from its certified standalone twin;
    the composition adds exactly one new exchange (the doc⋈emb id
    shuffle). The per-disposition attrition totals are a map-side-
    combinable groupBy (5 rows) broadcast-joined back onto the manifest
    — not a window over the 5-value key, which would funnel the whole
    corpus through <=5 reducers (r12, guide §2.5)."""
    from .llm import (
        _dot,
        _explode_bands,
        _minhash_sig_cols,
        _nearest_cell,
        _shingle_arrays,
        _tokens,
    )

    docs = load(spark, sf_dir, "documents")
    stop = F.array(*[F.lit(w) for w in ("the", "a", "of", "and", "to")])
    toks = _tokens()
    n = F.size(toks)
    uniq = F.round(F.size(F.array_distinct(toks)) / n, 4)
    stop_ratio = F.round(
        F.size(F.filter(toks, lambda t: F.array_contains(stop, t))) / n, 4
    )
    quality = F.when(
        n > 0,
        F.round(
            0.4 * F.least(n / 400.0, F.lit(1.0))
            + 0.4 * uniq
            + 0.2 * (1.0 - stop_ratio),
            4,
        ),
    )
    q = docs.select("doc_id", "lang", "text", quality.alias("quality"))

    # stage 2: banded MinHash candidates among quality survivors, exact
    # Jaccard on candidates only — llm_dedup_near_minhash's shape with
    # the survivor filter pushed below the shingle HOFs
    surv1 = q.where(F.col("quality") >= 0.42).select("doc_id", "text")
    sh_tbl = _shingle_arrays(surv1)
    sigs = sh_tbl.select("doc_id", *_minhash_sig_cols())
    bands = _explode_bands(sigs)
    cand = (
        bands.alias("a")
        .hint("shuffle_hash")
        .join(bands.alias("b"), ["band_id", "sig"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    hs_tbl = sh_tbl.select("doc_id", F.array_distinct("sh").alias("hs"))
    melted = cand.select(
        "doc_a", "doc_b",
        F.explode(F.array("doc_a", "doc_b")).alias("doc_id"),
    )
    pair = (
        melted.join(hs_tbl, "doc_id")
        .groupBy("doc_a", "doc_b")
        .agg(
            F.max(
                F.when(F.col("doc_id") == F.col("doc_a"), F.col("hs"))
            ).alias("hs_a"),
            F.max(
                F.when(F.col("doc_id") == F.col("doc_b"), F.col("hs"))
            ).alias("hs_b"),
        )
    )
    inter = F.size(F.array_intersect(F.col("hs_a"), F.col("hs_b")))
    n_a, n_b = F.size(F.col("hs_a")), F.size(F.col("hs_b"))
    neardup = (
        pair.where(
            F.round(inter / (n_a + n_b - inter), 4) >= 0.8
        )
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )

    # stage 3: survivors ⋈ embeddings — the one corpus-grain id shuffle
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        "embedding",
        _dot(F.col("embedding"), F.col("embedding")).alias("nrm"),
    )
    micro = F.transform(
        F.col("embedding"), lambda x: F.round(x * 1000000).cast("bigint")
    )
    rem = (
        surv1.select("doc_id")
        .join(F.broadcast(neardup), "doc_id", "left_anti")
        .join(emb.where(F.col("nrm") > 0), F.col("doc_id") == F.col("vec_id"))
        .select("doc_id", "label", micro.alias("m"))
    )

    # stage 4: SemDeDup within nearest-centroid cells over the survivors
    # (llm_semdedup_cells' integer-sum codebook + try_divide NULL-sim
    # discipline; K×64 broadcast, within-cell equi-join pair space)
    cb = rem.groupBy(F.col("label").alias("cell")).agg(
        F.array(
            *[F.sum(F.col("m")[i]).alias(f"s{i}") for i in range(64)]
        ).alias("c")
    )
    # r12: scan-stage argmax over the ONE-row broadcast codebook array
    # (_nearest_cell) replaces crossJoin(K) + doc_id window — same
    # (round(sim,9) DESC NULLS LAST, cell ASC) order, no K× row
    # explosion, no corpus-grain exchange, no window sort (guide §2.1)
    mine = _nearest_cell(rem, cb, "doc_id")
    a = mine.select(
        "cell", F.col("doc_id").alias("keep_id"), F.col("m").alias("ma")
    )
    b = mine.select(
        "cell", F.col("doc_id").alias("drop_id"), F.col("m").alias("mb")
    )
    pair_sim = F.round(
        F.try_divide(
            _dot(F.col("ma"), F.col("mb")),
            F.sqrt(
                _dot(F.col("ma"), F.col("ma")) * _dot(F.col("mb"), F.col("mb"))
            ),
        ),
        4,
    )
    semdup = (
        a.join(b, "cell")
        .where(F.col("keep_id") < F.col("drop_id"))
        .where(pair_sim >= 0.25)
        .select(F.col("drop_id").alias("doc_id"))
        .distinct()
    )

    # manifest: first failing stage wins; drop lists broadcast back
    manifest = (
        q.join(emb, q.doc_id == emb.vec_id, "left")
        .join(
            F.broadcast(neardup.withColumn("is_neardup", F.lit(True))),
            "doc_id",
            "left",
        )
        .join(
            F.broadcast(semdup.withColumn("is_semdup", F.lit(True))),
            "doc_id",
            "left",
        )
        .select(
            "doc_id",
            "lang",
            "quality",
            F.when(
                F.col("quality").isNull() | (F.col("quality") < 0.42),
                "low_quality",
            )
            .when(F.col("is_neardup"), "near_dup")
            .when(
                F.col("vec_id").isNull()
                | F.col("nrm").isNull()
                | (F.col("nrm") <= 0),
                "no_embedding",
            )
            .when(F.col("is_semdup"), "semantic_dup")
            .otherwise("kept")
            .alias("disposition"),
        )
    )
    # r12: per-disposition totals via groupBy + broadcast join back, not
    # count().over(partitionBy(disposition)) — the window hashed the
    # ENTIRE doc-grain manifest into <=5 reducers (one per disposition
    # value) and sorted it there, the guide §2.5 hot-key shape with no
    # AQE rescue (skew handling covers joins only). The groupBy is
    # map-side combinable (5 rows per task into a 5-row exchange) and
    # the attach is a broadcast hash join. The size-gated pin (r13 —
    # the manifest is DOC-GRAIN, one row per corpus document, so at
    # corpus scale the gate falls back to recompute rather than pinning
    # corpus-sized non-replicated blocks) lets the counts branch and
    # the attach read ONE evaluation of the manifest spine at fixture/
    # small-estate scale instead of re-running the quality-gate scan.
    manifest = pin(
        manifest,
        approx_input_bytes=input_size_bytes(
            sf_dir, "documents", "embeddings"
        ),
    )
    counts = manifest.groupBy("disposition").agg(
        F.count(F.lit(1)).alias("n_in_disposition")
    )
    return (
        manifest.join(F.broadcast(counts), "disposition")
        .select(
            "doc_id", "lang", "quality", "disposition", "n_in_disposition"
        )
        .orderBy("doc_id")
    )


@register(
    "pipeline_incremental_curation",
    oracle="""
    WITH tk AS (
      SELECT doc_id, lang,
             list_filter(string_split(lower(text), ' '), t -> t <> '') AS toks
      FROM documents
    ), q AS (
      SELECT doc_id, lang, toks,
             CASE WHEN len(toks) = 0 THEN NULL ELSE
               round(0.4 * least(len(toks) / 400.0, 1.0)
                     + 0.4 * round(len(list_distinct(toks)) * 1.0
                                   / len(toks), 4)
                     + 0.2 * (1.0 - round(len(list_filter(toks,
                           t -> list_contains(['the','a','of','and','to'], t)))
                           * 1.0 / len(toks), 4)), 4)
             END AS quality
      FROM tk WHERE doc_id % 5 = 4
    ), surv1 AS (
      SELECT doc_id, toks FROM q WHERE quality >= 0.42
    ), standing AS (
      SELECT doc_id, toks FROM tk WHERE doc_id % 5 <> 4 OR doc_id IS NULL
    ), shn AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(toks) - 2),
                    i -> array_to_string(toks[i:i+2], ' '))) AS sh
      FROM surv1
    ), shs AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(toks) - 2),
                    i -> array_to_string(toks[i:i+2], ' '))) AS sh
      FROM standing
    ), pdn AS (
      SELECT doc_id,
             min(md5(sh || '#0')) AS h0, min(md5(sh || '#1')) AS h1,
             min(md5(sh || '#2')) AS h2, min(md5(sh || '#3')) AS h3,
             min(md5(sh || '#4')) AS h4, min(md5(sh || '#5')) AS h5,
             min(md5(sh || '#6')) AS h6, min(md5(sh || '#7')) AS h7,
             list(DISTINCT sh) AS hs, count(DISTINCT sh) AS n_sh
      FROM shn GROUP BY doc_id
    ), pds AS (
      SELECT doc_id,
             min(md5(sh || '#0')) AS h0, min(md5(sh || '#1')) AS h1,
             min(md5(sh || '#2')) AS h2, min(md5(sh || '#3')) AS h3,
             min(md5(sh || '#4')) AS h4, min(md5(sh || '#5')) AS h5,
             min(md5(sh || '#6')) AS h6, min(md5(sh || '#7')) AS h7,
             list(DISTINCT sh) AS hs, count(DISTINCT sh) AS n_sh
      FROM shs GROUP BY doc_id
    ), bn AS (
      SELECT doc_id, band_id, sig FROM pdn, LATERAL (VALUES
        (0, h0 || h1), (1, h2 || h3),
        (2, h4 || h5), (3, h6 || h7)) AS b(band_id, sig)
    ), bs AS (
      SELECT doc_id, band_id, sig FROM pds, LATERAL (VALUES
        (0, h0 || h1), (1, h2 || h3),
        (2, h4 || h5), (3, h6 || h7)) AS b(band_id, sig)
    ), dup_corpus AS (
      SELECT DISTINCT c.new_id AS doc_id
      FROM (SELECT DISTINCT n.doc_id AS new_id, s.doc_id AS st_id
            FROM bn n JOIN bs s
              ON n.band_id = s.band_id AND n.sig = s.sig) c
      JOIN pdn pa ON pa.doc_id = c.new_id
      JOIN pds pb ON pb.doc_id = c.st_id
      WHERE round(len(list_intersect(pa.hs, pb.hs)) * 1.0
                  / (pa.n_sh + pb.n_sh
                     - len(list_intersect(pa.hs, pb.hs))), 4) >= 0.8
    ), dup_batch AS (
      SELECT DISTINCT c.doc_b AS doc_id
      FROM (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bn a JOIN bn b
              ON a.band_id = b.band_id AND a.sig = b.sig
             AND a.doc_id < b.doc_id) c
      JOIN pdn pa ON pa.doc_id = c.doc_a
      JOIN pdn pb ON pb.doc_id = c.doc_b
      WHERE round(len(list_intersect(pa.hs, pb.hs)) * 1.0
                  / (pa.n_sh + pb.n_sh
                     - len(list_intersect(pa.hs, pb.hs))), 4) >= 0.8
    ), emb AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e,
             list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                                     x -> x * x)) AS nrm
      FROM embeddings
    ), semb AS (
      SELECT s.doc_id, e.label,
             list_transform(e.e, x -> CAST(round(x * 1000000) AS BIGINT)) AS m
      FROM standing s JOIN emb e ON s.doc_id = e.vec_id AND e.nrm > 0
    ), remn AS (
      SELECT s.doc_id,
             list_transform(e.e, x -> CAST(round(x * 1000000) AS BIGINT)) AS m
      FROM surv1 s JOIN emb e ON s.doc_id = e.vec_id AND e.nrm > 0
      WHERE s.doc_id NOT IN (SELECT doc_id FROM dup_corpus)
        AND s.doc_id NOT IN (SELECT doc_id FROM dup_batch)
    ), sums AS (
      SELECT label AS cell, CAST(i AS INT) AS i,
             CAST(sum(m[CAST(i AS INT)]) AS BIGINT) AS s
      FROM semb, unnest(generate_series(1, 64)) u(i)
      GROUP BY label, i
    ), cb AS (SELECT cell, list(s ORDER BY i) AS c FROM sums GROUP BY cell),
    assign_n AS (
      SELECT doc_id, m, cell FROM (
        SELECT r.doc_id, r.m, cb.cell,
               row_number() OVER (PARTITION BY r.doc_id ORDER BY
                 round(list_sum(list_transform(generate_series(1, 64),
                         i -> CAST(r.m[CAST(i AS INT)] AS DOUBLE)
                              * CAST(cb.c[CAST(i AS INT)] AS DOUBLE)))
                       / sqrt(list_sum(list_transform(r.m,
                                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
                              * list_sum(list_transform(cb.c,
                                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))),
                       9) DESC, cb.cell) AS rn
        FROM remn r CROSS JOIN cb)
      WHERE rn = 1
    ), assign_s AS (
      SELECT doc_id, m, cell FROM (
        SELECT r.doc_id, r.m, cb.cell,
               row_number() OVER (PARTITION BY r.doc_id ORDER BY
                 round(list_sum(list_transform(generate_series(1, 64),
                         i -> CAST(r.m[CAST(i AS INT)] AS DOUBLE)
                              * CAST(cb.c[CAST(i AS INT)] AS DOUBLE)))
                       / sqrt(list_sum(list_transform(r.m,
                                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
                              * list_sum(list_transform(cb.c,
                                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))),
                       9) DESC, cb.cell) AS rn
        FROM semb r CROSS JOIN cb)
      WHERE rn = 1
    ), semdup AS (
      SELECT DISTINCT n.doc_id
      FROM assign_n n JOIN assign_s s ON n.cell = s.cell
      WHERE round(list_sum(list_transform(generate_series(1, 64),
                    i -> CAST(n.m[CAST(i AS INT)] AS DOUBLE)
                         * CAST(s.m[CAST(i AS INT)] AS DOUBLE)))
                  / sqrt(list_sum(list_transform(n.m,
                           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
                         * list_sum(list_transform(s.m,
                           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))),
                  4) >= 0.25
    ), manifest AS (
      SELECT q.doc_id, q.lang, q.quality,
             CASE WHEN q.quality IS NULL OR q.quality < 0.42
                    THEN 'low_quality'
                  WHEN q.doc_id IN (SELECT doc_id FROM dup_corpus)
                    THEN 'dup_of_corpus'
                  WHEN q.doc_id IN (SELECT doc_id FROM dup_batch)
                    THEN 'near_dup_in_batch'
                  WHEN e.vec_id IS NULL OR e.nrm IS NULL OR e.nrm <= 0
                    THEN 'no_embedding'
                  WHEN q.doc_id IN (SELECT doc_id FROM semdup)
                    THEN 'semantic_dup_of_corpus'
                  ELSE 'admitted' END AS disposition
      FROM q LEFT JOIN emb e ON q.doc_id = e.vec_id
    )
    SELECT doc_id, lang, quality, disposition,
           CAST(count(*) OVER (PARTITION BY disposition) AS BIGINT)
               AS n_in_disposition
    FROM manifest
    ORDER BY doc_id
    """,
)
def pipeline_incremental_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-INCREMENTAL curation (WAVE10 candidate 2): a new-docs
    batch (doc_id % 5 = 4, the arriving 20%) is admitted against the
    STANDING corpus (the other 80%) with O(batch) work — the re-curation
    shape a training-data pipeline actually runs daily, complementing
    the full-corpus pipeline_multimodal_curation:

    1. quality gate on the BATCH only (standing docs are never
       re-scored);
    2. duplicate-of-corpus: the batch's MinHash bands probe the
       standing band index ONE-DIRECTIONALLY (new ⋈ standing on
       (band, sig) — candidates are O(batch × bucket), never
       O(corpus²)), exact Jaccard ≥ 0.8 on candidates only;
    3. within-batch near-dup keep-first (new ⋈ new band self-join,
       batch-sized);
    4. semantic dup-of-corpus: batch embeddings assigned to the
       STANDING centroid codebook's nearest cell and compared against
       that cell's standing occupants only (cosine ≥ 0.25) —
       batch-internal semantic dups intentionally fall to the next
       full rebuild, keeping this pass O(batch × cell).

    Output: per-new-doc audit manifest, first failing stage wins, plus
    the per-disposition attrition count.

    At 100 TB the standing band index and cell assignments are
    MATERIALIZED tables (written once by the full pipeline, probed by
    every increment — here they are recomputed in-plan so the DuckDB
    oracle can replicate the whole flow); everything batch-sided is
    candidate-blocked equi-joins, the codebook is a K×64 integer
    broadcast, and the one corpus-grain input (standing bands/cells)
    is touched via equi-keys only. Same integer-µ cosine and
    try_divide NULL-sim discipline as llm_semdedup_cells."""
    from .llm import (
        _dot,
        _explode_bands,
        _minhash_sig_cols,
        _nearest_cell,
        _shingle_arrays,
        _tokens,
    )

    docs = load(spark, sf_dir, "documents")
    is_new = F.col("doc_id") % 5 == 4
    stop = F.array(*[F.lit(w) for w in ("the", "a", "of", "and", "to")])
    toks = _tokens()
    n = F.size(toks)
    uniq = F.round(F.size(F.array_distinct(toks)) / n, 4)
    stop_ratio = F.round(
        F.size(F.filter(toks, lambda t: F.array_contains(stop, t))) / n, 4
    )
    quality = F.when(
        n > 0,
        F.round(
            0.4 * F.least(n / 400.0, F.lit(1.0))
            + 0.4 * uniq
            + 0.2 * (1.0 - stop_ratio),
            4,
        ),
    )
    q = docs.where(is_new).select(
        "doc_id", "lang", "text", quality.alias("quality")
    )
    standing = docs.where(~is_new | F.col("doc_id").isNull()).select(
        "doc_id", "text"
    )
    surv1 = q.where(F.col("quality") >= 0.42).select("doc_id", "text")

    shn = _shingle_arrays(surv1)
    shs = _shingle_arrays(standing)
    bn = _explode_bands(shn.select("doc_id", *_minhash_sig_cols()))
    bs = _explode_bands(shs.select("doc_id", *_minhash_sig_cols()))
    hsn = shn.select("doc_id", F.array_distinct("sh").alias("hs"))
    hss = shs.select("doc_id", F.array_distinct("sh").alias("hs"))

    def _jaccard_drops(cand, hs_a, hs_b, a_col, b_col, keep_col):
        pair = (
            cand.join(
                hs_a.select(
                    F.col("doc_id").alias(a_col), F.col("hs").alias("hs_a")
                ),
                a_col,
            )
            .join(
                hs_b.select(
                    F.col("doc_id").alias(b_col), F.col("hs").alias("hs_b")
                ),
                b_col,
            )
        )
        inter = F.size(F.array_intersect(F.col("hs_a"), F.col("hs_b")))
        na, nb = F.size(F.col("hs_a")), F.size(F.col("hs_b"))
        return (
            pair.where(F.round(inter / (na + nb - inter), 4) >= 0.8)
            .select(F.col(keep_col).alias("doc_id"))
            .distinct()
        )

    cand_corpus = (
        bn.select(F.col("doc_id").alias("new_id"), "band_id", "sig")
        .join(
            bs.select(F.col("doc_id").alias("st_id"), "band_id", "sig"),
            ["band_id", "sig"],
        )
        .select("new_id", "st_id")
        .distinct()
    )
    dup_corpus = _jaccard_drops(
        cand_corpus, hsn, hss, "new_id", "st_id", "new_id"
    )
    cand_batch = (
        bn.alias("a")
        .join(bn.alias("b"), ["band_id", "sig"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    dup_batch = _jaccard_drops(
        cand_batch, hsn, hsn, "doc_a", "doc_b", "doc_b"
    )

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        "embedding",
        _dot(F.col("embedding"), F.col("embedding")).alias("nrm"),
    )
    micro = F.transform(
        F.col("embedding"), lambda x: F.round(x * 1000000).cast("bigint")
    )
    semb = standing.select("doc_id").join(
        emb.where(F.col("nrm") > 0), F.col("doc_id") == F.col("vec_id")
    ).select("doc_id", "label", micro.alias("m"))
    remn = (
        surv1.select("doc_id")
        .join(F.broadcast(dup_corpus), "doc_id", "left_anti")
        .join(F.broadcast(dup_batch), "doc_id", "left_anti")
        .join(emb.where(F.col("nrm") > 0), F.col("doc_id") == F.col("vec_id"))
        .select("doc_id", micro.alias("m"))
    )

    cb = semb.groupBy(F.col("label").alias("cell")).agg(
        F.array(
            *[F.sum(F.col("m")[i]).alias(f"s{i}") for i in range(64)]
        ).alias("c")
    )
    # r12: scan-stage argmax (_nearest_cell) replaces the two
    # crossJoin(K) + doc_id-window assignment passes (guide §2.1)
    an = _nearest_cell(remn, cb, "doc_id")
    asg = _nearest_cell(semb.select("doc_id", "m"), cb, "doc_id")
    pair_sim = F.round(
        F.try_divide(
            _dot(F.col("mn"), F.col("ms")),
            F.sqrt(
                _dot(F.col("mn"), F.col("mn")) * _dot(F.col("ms"), F.col("ms"))
            ),
        ),
        4,
    )
    semdup = (
        an.select("cell", F.col("doc_id").alias("new_id"), F.col("m").alias("mn"))
        .join(
            asg.select("cell", F.col("m").alias("ms")),
            "cell",
        )
        .where(pair_sim >= 0.25)
        .select(F.col("new_id").alias("doc_id"))
        .distinct()
    )

    manifest = (
        q.join(emb, q.doc_id == emb.vec_id, "left")
        .join(
            F.broadcast(dup_corpus.withColumn("is_dupc", F.lit(True))),
            "doc_id",
            "left",
        )
        .join(
            F.broadcast(dup_batch.withColumn("is_dupb", F.lit(True))),
            "doc_id",
            "left",
        )
        .join(
            F.broadcast(semdup.withColumn("is_semdup", F.lit(True))),
            "doc_id",
            "left",
        )
        .select(
            "doc_id",
            "lang",
            "quality",
            F.when(
                F.col("quality").isNull() | (F.col("quality") < 0.42),
                "low_quality",
            )
            .when(F.col("is_dupc"), "dup_of_corpus")
            .when(F.col("is_dupb"), "near_dup_in_batch")
            .when(
                F.col("vec_id").isNull()
                | F.col("nrm").isNull()
                | (F.col("nrm") <= 0),
                "no_embedding",
            )
            .when(F.col("is_semdup"), "semantic_dup_of_corpus")
            .otherwise("admitted")
            .alias("disposition"),
        )
    )
    # r12: same disposition-count rewrite as pipeline_multimodal_
    # curation — groupBy + broadcast join back over one pinned manifest
    # evaluation instead of a <=5-reducer corpus-grain window (guide
    # §2.5); r13 size-gates the DOC-GRAIN pin (recompute at scale).
    manifest = pin(
        manifest,
        approx_input_bytes=input_size_bytes(
            sf_dir, "documents", "embeddings"
        ),
    )
    counts = manifest.groupBy("disposition").agg(
        F.count(F.lit(1)).alias("n_in_disposition")
    )
    return (
        manifest.join(F.broadcast(counts), "disposition")
        .select(
            "doc_id", "lang", "quality", "disposition", "n_in_disposition"
        )
        .orderBy("doc_id")
    )


@register(
    "pipeline_snapshot_diff",
    oracle="""
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_updated,
           CAST(0 AS BIGINT) AS n_added,
           CAST(0 AS BIGINT) AS n_deleted,
           round(sum(o_totalprice), 2) AS price_delta,
           min(o_orderkey) AS min_updated_key,
           max(o_orderkey) AS max_updated_key
    FROM orders
    WHERE o_orderkey BETWEEN 1000 AND 5000 AND o_totalprice <> 0
    GROUP BY o_orderstatus
    """,
)
def pipeline_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-read over the snapshot sim (WAVE11 candidate 2): diff
    snapshot v1 → v2 of ``scan_snapshot_time_travel_sim``'s layout into
    a per-status change census. The diff reads ONLY the files the two
    manifests do not share — v2-added files full-outer-joined against
    the v1 files they replaced — never a byte of the files both
    snapshots reference (those rows are unchanged by identity: same
    file, same bytes). tests/test_layout.py pins that restriction:
    the diff's inputFiles are exactly (v1 ∖ v2) ∪ (v2 ∖ v1) and are
    disjoint from the shared set.

    Inside the restricted scope the full-outer join on the key
    classifies every row: both sides present with differing values →
    updated; v2-only → added; v1-only → deleted (this commit is a pure
    UPDATE, so the oracle pins added = deleted = 0 — the census proves
    it rather than assuming it). Copy-on-write rewrites whole files,
    so the scope also contains carried-over rows whose values are
    bit-identical; the null-safe ``<=>`` inequality drops them, which
    makes every output column independent of where the file boundaries
    fell. ``price_delta`` is exact: v2 = 2·p and 2·p − p = p in IEEE
    754 (shared mantissa), so the delta equals the original price sum
    the oracle computes from the base table.

    At 100 TB: an incremental consumer's cost is O(changed files), not
    O(table) — the manifest diff is pure metadata, the join scope is
    bounded by the commit's touched-file set, and the one shuffle is
    the key-equi full-outer join over that scope. Reading shared files
    for a diff is wasted IO at any scale; this plan cannot, by
    construction."""
    from .scans import _snapshot_files, _snapshot_layout

    out = _snapshot_layout(spark, sf_dir)
    v1 = set(_snapshot_files(out, "v1"))
    v2 = set(_snapshot_files(out, "v2"))
    old = _read_snapshot_scope(spark, v1 - v2).select(
        F.col("o_orderkey").alias("k1"),
        F.col("o_orderstatus").alias("st1"),
        F.col("o_totalprice").alias("p1"),
    )
    new = _read_snapshot_scope(spark, v2 - v1).select(
        F.col("o_orderkey").alias("k2"),
        F.col("o_orderstatus").alias("st2"),
        F.col("o_totalprice").alias("p2"),
    )
    changed = (
        old.join(new, old.k1 == new.k2, "full_outer")
        # null-safe over the FULL value struct: carried-over identical
        # rows drop; adds/deletes (one side entirely NULL) survive as
        # their own classes; a status-only change (price untouched) is
        # still detected. Census attribution of an update is to its
        # NEW status (coalesce(st2, st1)).
        .where(~F.struct("st1", "p1").eqNullSafe(F.struct("st2", "p2")))
    )
    return (
        changed.groupBy(
            F.coalesce("st2", "st1").alias("o_orderstatus")
        ).agg(
            F.sum(
                F.when(F.col("k1").isNotNull() & F.col("k2").isNotNull(), 1)
                .otherwise(0)
            ).alias("n_updated"),
            F.sum(F.when(F.col("k1").isNull(), 1).otherwise(0)).alias(
                "n_added"
            ),
            F.sum(F.when(F.col("k2").isNull(), 1).otherwise(0)).alias(
                "n_deleted"
            ),
            F.round(
                F.sum(
                    F.coalesce("p2", F.lit(0.0))
                    - F.coalesce("p1", F.lit(0.0))
                ),
                2,
            ).alias("price_delta"),
            F.min(
                F.when(
                    F.col("k1").isNotNull() & F.col("k2").isNotNull(),
                    F.col("k1"),
                )
            ).alias("min_updated_key"),
            F.max(
                F.when(
                    F.col("k1").isNotNull() & F.col("k2").isNotNull(),
                    F.col("k1"),
                )
            ).alias("max_updated_key"),
        )
    )


@register(
    "pipeline_cdc_apply",
    oracle="""
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(CASE WHEN o_orderkey BETWEEN 1000 AND 5000
                          THEN o_totalprice * 2
                          ELSE o_totalprice END), 2) AS total_price
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def pipeline_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance off the CDC read (the consumer
    half of pipeline_snapshot_diff): a standing per-status aggregate
    materialized at snapshot v1 (``_cdc_matview_layout`` — bootstrap
    reads v1 exactly once, OUTSIDE this query) is advanced to the v2
    answer by folding in ONLY the change delta computed from the
    manifests' differing files. The registered plan therefore reads
    the tiny matview parquet plus the symmetric-difference file set —
    never a shared snapshot file, never v1 in full (the layout test
    pins inputFiles) — yet the oracle recomputes the v2 aggregate from
    the ORIGINAL table, so the whole bootstrap + delta-merge pipeline
    must be answer-exact to hash-match.

    Exactness across merges: the matview carries int64 CENTS (2dp
    fixture prices make round(p·100) exact) and the delta is a sum of
    exact cent differences, so the fold is integer arithmetic —
    order-free, drift-free over arbitrarily many maintenance cycles —
    and the 2dp rounding happens once, at presentation. Change
    detection compares the full (status, cents) struct and each
    changed row contributes per side (old status −1/−cents, new
    status +1/+cents — see _changed_pair_delta), so the same plan
    maintains the view through any commit type, including
    status-moving updates the fixture does not issue.

    At 100 TB: maintenance cost is O(changed files) + O(view), the
    exact promise of incremental view maintenance — recomputing the
    view (the oracle's path) costs O(table) and this key proves the
    shortcut never diverges from it."""
    import os as _os

    from .scans import (
        _cdc_matview_layout,
        _snapshot_files,
        _snapshot_layout,
    )

    snap = _snapshot_layout(spark, sf_dir)
    mv_dir = _cdc_matview_layout(spark, sf_dir)
    v1 = set(_snapshot_files(snap, "v1"))
    v2 = set(_snapshot_files(snap, "v2"))
    old = _cents_scope(spark, v1 - v2, "k1", "st1", "c1")
    new = _cents_scope(spark, v2 - v1, "k2", "st2", "c2")
    delta = _changed_pair_delta(old, new)
    matview = spark.read.schema(
        "o_orderstatus string, n_orders bigint, cents bigint"
    ).parquet(_os.path.join(mv_dir, "matview.parquet"))
    # no broadcast hint: Spark cannot broadcast ANY side of a full
    # outer join (both sides must see all keys), so the hint would be
    # silently ignored; both inputs here are already |status|-sized
    return (
        matview.join(delta, "o_orderstatus", "full_outer")
        .select(
            "o_orderstatus",
            (
                F.coalesce("n_orders", F.lit(0))
                + F.coalesce("d_n", F.lit(0))
            ).alias("n_orders"),
            F.round(
                (
                    F.coalesce("cents", F.lit(0))
                    + F.coalesce("d_cents", F.lit(0))
                )
                / 100.0,
                2,
            ).alias("total_price"),
        )
        .where(F.col("n_orders") > 0)
    )


_SNAP_SCOPE_SCHEMA = (
    "o_orderkey bigint, o_orderstatus string, o_totalprice double"
)


def _read_snapshot_scope(spark, files):
    """Read a snapshot symmetric-difference file set. An EMPTY set is
    legitimate — a commit whose predicate overlaps no files is a no-op
    (_cow_commit returns prev unchanged) — and must yield an empty
    frame, not a crash from ``.parquet()`` with zero paths."""
    files = sorted(files)
    if not files:
        return spark.createDataFrame([], _SNAP_SCOPE_SCHEMA)
    return spark.read.schema(_SNAP_SCOPE_SCHEMA).parquet(*files)


def _cents_scope(spark, files, k, st, c):
    """(key, status, int64-cents) projection of a snapshot scope."""
    return _read_snapshot_scope(spark, files).select(
        F.col("o_orderkey").alias(k),
        F.col("o_orderstatus").alias(st),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias(c),
    )


def _changed_pair_delta(old, new):
    """Per-status (d_n, d_cents) from the full-outer classification of
    two symmetric-difference scopes. Change detection compares the FULL
    value struct (status, cents) null-safely, so a commit that flips
    o_orderstatus with an unchanged price is still seen as a change.
    Each changed row then contributes per SIDE: the old side (−1,
    −cents) under its OLD status, the new side (+1, +cents) under its
    NEW status — a status-moving update nets d_n = 0 overall while
    correctly decrementing the old status and incrementing the new;
    price-only updates collapse to (0, c2−c1) under their unchanged
    status; adds/deletes have exactly one side. This is what makes the
    maintained view correct through ANY commit type, not just the
    price-only commits the fixture happens to issue."""
    changed = old.join(new, old.k1 == new.k2, "full_outer").where(
        ~F.struct("st1", "c1").eqNullSafe(F.struct("st2", "c2"))
    )
    contrib = (
        changed.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("st1").alias("st"),
                        F.lit(-1).cast("bigint").alias("dn"),
                        (-F.coalesce(F.col("c1"), F.lit(0)))
                        .cast("bigint")
                        .alias("dc"),
                        F.col("k1").isNotNull().alias("keep"),
                    ),
                    F.struct(
                        F.col("st2").alias("st"),
                        F.lit(1).cast("bigint").alias("dn"),
                        F.coalesce(F.col("c2"), F.lit(0))
                        .cast("bigint")
                        .alias("dc"),
                        F.col("k2").isNotNull().alias("keep"),
                    ),
                )
            ).alias("e")
        )
        .where(F.col("e.keep"))
    )
    return contrib.groupBy(F.col("e.st").alias("o_orderstatus")).agg(
        F.sum("e.dn").alias("d_n"),
        F.sum("e.dc").alias("d_cents"),
    )


def _snapshot_pair_delta(spark, out, a_files, b_files):
    """Per-status (d_n, d_cents) between two adjacent snapshots,
    computed ONLY from the files the two manifests do not share —
    the shared-files-never-read rule of pipeline_snapshot_diff,
    applied per commit of the chain. Full-struct null-safe comparison
    drops carried-over identical rows and catches status-only changes;
    contributions are two-sided (see _changed_pair_delta)."""
    a = set(a_files)
    b = set(b_files)
    old = _cents_scope(spark, a - b, "k1", "st1", "c1")
    new = _cents_scope(spark, b - a, "k2", "st2", "c2")
    return _changed_pair_delta(old, new)


@register(
    "pipeline_snapshot_chain_replay",
    oracle="""
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(CASE WHEN o_orderkey BETWEEN 1000 AND 5000
                          THEN o_totalprice * 2
                          ELSE o_totalprice END), 2) AS total_price
    FROM orders
    WHERE NOT (o_orderkey % 5 = 0 AND o_orderkey BETWEEN 1000 AND 3000)
    GROUP BY o_orderstatus
    """,
)
def pipeline_snapshot_chain_replay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental view maintenance COMPOSED across commit types
    (WAVE12 candidate 4): the three-snapshot chain commits an UPDATE
    (v1→v2) and then a copy-on-write DELETE (v2→v3, overlapping the
    updated key range), and the standing per-status matview
    (bootstrapped over v1, exact int64 cents) is replayed through BOTH
    deltas to the v3 answer. Each delta is computed only from the
    files its commit's two manifests do not share (the
    pipeline_snapshot_diff rule, per commit); the registered plan
    reads matview.parquet + the two symmetric differences — never v1
    in full, never a file both adjacent snapshots reference (layout
    test pins inputFiles). The oracle recomputes v3 from the ORIGINAL
    table (update CASE + delete predicate), so bootstrap, both delta
    classifications, and the integer fold must compose answer-exactly.

    Why this key exists beyond pipeline_cdc_apply: a single-delta
    replay cannot catch sign errors that cancel (an update mis-read as
    delete+add still sums to the right cents); composing a delete
    delta AFTER an update delta over overlapping keys means the v2
    prices (already doubled) must be the ones the delete subtracts —
    the classic compose-order bug this key would catch and the oracle
    would flag. At 100 TB the consumer replays every commit since its
    checkpoint the same way: O(Σ changed files), never O(table)."""
    import os as _os

    from .scans import _snapshot_chain_layout

    out = _snapshot_chain_layout(spark, sf_dir)
    import json as _json

    with open(_os.path.join(out, "manifest.json")) as fh:
        snaps = _json.load(fh)["snapshots"]
    paths = {
        tag: [_os.path.join(out, e["path"]) for e in entries]
        for tag, entries in snaps.items()
    }
    d12 = _snapshot_pair_delta(spark, out, paths["v1"], paths["v2"])
    d23 = _snapshot_pair_delta(spark, out, paths["v2"], paths["v3"])
    deltas = (
        d12.unionByName(d23)
        .groupBy("o_orderstatus")
        .agg(
            F.sum("d_n").alias("d_n"),
            F.sum("d_cents").alias("d_cents"),
        )
    )
    matview = spark.read.schema(
        "o_orderstatus string, n_orders bigint, cents bigint"
    ).parquet(_os.path.join(out, "matview.parquet"))
    # no broadcast hint on a full outer join (ignored by Spark);
    # both sides are |status|-sized reductions already
    return (
        matview.join(deltas, "o_orderstatus", "full_outer")
        .select(
            "o_orderstatus",
            (
                F.coalesce("n_orders", F.lit(0))
                + F.coalesce("d_n", F.lit(0))
            ).alias("n_orders"),
            F.round(
                (
                    F.coalesce("cents", F.lit(0))
                    + F.coalesce("d_cents", F.lit(0))
                )
                / 100.0,
                2,
            ).alias("total_price"),
        )
        .where(F.col("n_orders") > 0)
    )


_CURR_EPOCHS = ((1, 3), (2, 5), (3, 8), (4, 10))  # epoch -> max decile
_CURR_BUDGET = 6000  # tokens per epoch


@register(
    "pipeline_token_budget_curriculum",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
                 * 1000000 // len(string_split(text, ' ')) AS quality_ppm
      FROM documents
    ), ranked AS (
      SELECT doc_id, n_tokens,
             row_number() OVER (ORDER BY quality_ppm DESC, doc_id)
                 AS rnk,
             ntile(10) OVER (ORDER BY quality_ppm DESC, doc_id)
                 AS decile
      FROM scored
    ), wd AS (
      SELECT *, rnk - min(rnk) OVER (PARTITION BY decile) + 1 AS pos
      FROM ranked
    ), epochs AS (
      SELECT * FROM (VALUES (1, 3), (2, 5), (3, 8), (4, 10))
          AS t(epoch, max_decile)
    ), admitted AS (
      SELECT e.epoch, w.decile, w.n_tokens, w.pos,
             sum(w.n_tokens) OVER (
                 PARTITION BY e.epoch ORDER BY w.pos, w.decile
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cum
      FROM wd w JOIN epochs e ON w.decile <= e.max_decile
    )
    SELECT epoch, decile,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS tokens_admitted,
           CAST(max(pos) AS BIGINT) AS depth_reached
    FROM admitted
    WHERE cum <= {_CURR_BUDGET}
    GROUP BY epoch, decile
    ORDER BY epoch, decile
    """,
)
def pipeline_token_budget_curriculum(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Curriculum ordering under per-epoch token budgets (WAVE13
    candidate 5) — the ORDERING half of the packing story
    (llm_pack_token_shards covers sharding, llm_token_budget_selection
    covers one-shot admission): documents are ranked by quality
    (lexical-diversity ppm, llm_token_budget_selection's integer
    score), cut into deciles, and each training epoch admits a widening
    decile prefix (1-3, 1-5, 1-8, 1-10 — the high-quality-first
    annealing schedule) consumed as a deterministic INTERLEAVE — docs
    ordered by (within-decile position, decile), i.e. round-robin
    across admitted deciles — until the epoch's token budget cuts the
    stream. Output: per (epoch, decile) admitted doc/token counts and
    the interleave depth reached, the audit table for 'what mix does
    epoch e actually train on'.

    Engine-exactness: quality is integer ppm (// both engines), ranks
    and deciles are total-ordered with doc_id tiebreak, the budget is
    an int64 running-sum comparison; the interleave order (pos, decile)
    is unique by construction. NULL-text docs carry NULL tokens: they
    rank last (NULLS LAST both engines), never contribute to the sum,
    and the budget has always been exhausted before decile 10's tail.

    Scale shape: NO corpus-grain global window anywhere. The global
    rank is scale_rank.with_global_rank's distributed form (range
    shuffle + P-row broadcast offsets); the decile is ntile_bucket
    arithmetic on (rank, n), and the within-decile position is rank
    minus the decile's ntile start — both pure arithmetic, no second
    rank pass and no per-decile aggregate (_curriculum_interleave).
    The interleave order (pos, decile) then has a closed form:
    g = 10·(pos − 1) + decile is each row's 1-based position in it, a
    dense index over [1, n]. All four epochs' budget cuts come from ONE
    scale_rank.with_dense_cumsum pass keyed on g — one conditional
    running sum per epoch, sum(n_tokens where decile ≤ max_decile(e)),
    which is epoch e's cum on every row it admits — and the fixed
    4-epoch schedule is a per-row array-explode over that frame.

    Optimization (known-index prefix sum): since g is known, bucketing
    on it is arithmetic, so this key pays no second range shuffle, no
    range-sampling build job and no partition-id pin after the rank
    pass, and the post-rank arithmetic is SQL text (each Column node
    is a py4j round trip). Output is bit-identical under the same
    oracle SQL: each conditional sum is NULL iff every admitted value
    in its prefix is NULL — the oracle's running-sum NULL semantics —
    so an all-NULL prefix row is dropped by the budget filter in both
    engines."""
    from .scale_rank import with_dense_cumsum

    ix = _curriculum_interleave(load(spark, sf_dir, "documents"))
    cum = with_dense_cumsum(
        ix.selectExpr(
            "*",
            *[
                f"CASE WHEN decile <= {maxd} THEN n_tokens END AS t{epoch}"
                for epoch, maxd in _CURR_EPOCHS
            ],
        ),
        "g",
        "ntot",
        [f"t{epoch}" for epoch, _ in _CURR_EPOCHS],
        [f"c{epoch}" for epoch, _ in _CURR_EPOCHS],
    )
    entries = ", ".join(
        f"named_struct('epoch', {epoch}, 'maxd', {maxd}, 'cum', c{epoch})"
        for epoch, maxd in _CURR_EPOCHS
    )
    admitted = cum.selectExpr(
        "decile",
        "n_tokens",
        "pos",
        f"explode(filter(array({entries}), x -> decile <= x.maxd "
        f"AND x.cum <= {_CURR_BUDGET})) AS e",
    )
    return (
        admitted.groupBy(F.expr("e.epoch AS epoch"), F.expr("decile"))
        .agg(
            F.expr("count(1) AS n_docs"),
            F.expr("sum(n_tokens) AS tokens_admitted"),
            F.expr("max(pos) AS depth_reached"),
        )
        .sort(F.expr("epoch"), F.expr("decile"))
    )


# SQL text over (rnk, ntot, decile): the within-decile position (rank
# minus the decile's ntile start) and the interleave index
_CURR_POS = "rnk - (decile - 1) * (ntot div 10) - least(decile - 1, ntot % 10)"
_CURR_G = f"10 * ({_CURR_POS} - 1) + decile"


def _curriculum_interleave(docs: DataFrame) -> DataFrame:
    """The shared front half of both curriculum keys: documents scored
    by quality, globally ranked (scale_rank.with_global_rank), cut into
    ntile(10) deciles, with their within-decile position ``pos`` and
    interleave index ``g``. Columns: doc_id, n_tokens, decile, pos, g,
    ntot.

    ntile puts floor(n/10) or floor(n/10)+1 rows in each decile, the
    larger ones first, so decile d starts at rank
    (d−1)·floor(n/10) + min(d−1, n%10) + 1 and every pos ≤ floor(n/10)
    occurs in all ten deciles while pos = floor(n/10)+1 occurs only in
    deciles 1..n%10. Hence g = 10·(pos − 1) + decile is exactly
    row_number() OVER (ORDER BY pos, decile): a dense index over
    [1, n]."""
    from .scale_rank import ntile_bucket, with_global_rank

    scored = docs.selectExpr(
        "doc_id",
        "CAST(size(split(text, ' ')) AS BIGINT) AS n_tokens",
        "size(array_distinct(split(text, ' '))) * 1000000L "
        "div size(split(text, ' ')) AS quality_ppm",
    )
    ranked = with_global_rank(
        scored,
        [F.col("quality_ppm").desc(), F.col("doc_id").asc()],
        "rnk",
        "ntot",
    )
    return ranked.selectExpr(
        "doc_id",
        "n_tokens",
        "rnk",
        "ntot",
        f"{ntile_bucket('rnk', 'ntot', 10)} AS decile",
    ).selectExpr(
        "doc_id",
        "n_tokens",
        "decile",
        f"{_CURR_POS} AS pos",
        f"{_CURR_G} AS g",
        "ntot",
    )


_PACK_SHARD = 2000  # tokens per training shard (llm_pack_token_shards)


@register(
    "pipeline_curriculum_pack",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
                 * 1000000 // len(string_split(text, ' ')) AS quality_ppm
      FROM documents
    ), ranked AS (
      SELECT doc_id, n_tokens,
             row_number() OVER (ORDER BY quality_ppm DESC, doc_id)
                 AS rnk,
             ntile(10) OVER (ORDER BY quality_ppm DESC, doc_id)
                 AS decile
      FROM scored
    ), wd AS (
      SELECT *, rnk - min(rnk) OVER (PARTITION BY decile) + 1 AS pos
      FROM ranked
    ), admitted AS (
      SELECT doc_id, decile, n_tokens, pos,
             sum(n_tokens) OVER (
                 ORDER BY pos, decile
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cum
      FROM wd WHERE decile <= 3
    ), packed AS (
      SELECT doc_id, decile, n_tokens, pos,
             CAST(floor((cum - n_tokens) / {_PACK_SHARD}.0) AS INTEGER)
                 AS shard_id
      FROM admitted
      WHERE cum <= {_CURR_BUDGET}
    )
    SELECT shard_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS shard_tokens,
           CAST(count(DISTINCT decile) AS BIGINT) AS n_deciles,
           CAST(min(doc_id) AS BIGINT) AS first_doc,
           CAST(max(doc_id) AS BIGINT) AS last_doc
    FROM packed GROUP BY shard_id
    ORDER BY shard_id
    """,
)
def pipeline_curriculum_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum ordering COMPOSED with shard packing (WAVE15
    candidate 4) — the end-to-end 'what the trainer actually reads'
    table: epoch 1's admitted set (quality deciles 1-3 consumed as the
    (pos, decile) round-robin interleave until the epoch token budget
    cuts it — pipeline_token_budget_curriculum's exact admission rule)
    is packed, IN THE INTERLEAVE ORDER, into ~2000-token training
    shards via the llm_pack_token_shards rule
    (shard = floor(exclusive-prefix-sum / budget)). Output: per-shard
    doc/token counts, how many deciles the shard mixes, and its
    doc_id span — the audit table for 'which shard does step s train
    on, and what quality mix is inside it'.

    Engine-exactness: both halves are already driver-certified alone;
    the composition reuses the SAME distributed machinery (global rank
    → ntile arithmetic → per-decile position → ONE prefix sum over the
    admitted subset) so shard boundaries are an int64 running-sum
    comparison on a unique (pos, decile) total order — no ties, no
    float fold.

    Scale shape: identical to its parents — range-shuffle rank, ntile
    and position arithmetic (_curriculum_interleave), then one
    scale_rank.with_dense_cumsum prefix sum over the admitted subset
    keyed on the interleave index g (deciles 1-3 leave gaps in g, which
    keeps the sum exact and only thins its buckets); the pack stage
    adds ZERO exchanges beyond the prefix sum it shares with the budget
    cut (shard id is arithmetic on the same cumulative column). At
    100 TB epoch packing runs per (day, source) partition first,
    exactly as llm_pack_token_shards documents.

    Optimization (known-index prefix sum): pos is arithmetic on
    (rank, n) and the prefix-sum bucket is arithmetic on g, so no
    decile aggregate, second range shuffle or pin follows the rank
    pass. The running sum keeps SQL's NULL rule: a NULL-text document
    whose bucket prefix is all NULL still reads the earlier buckets'
    sum, and the budget filter keeps it in its NULL shard_id group as
    the oracle does."""
    from .scale_rank import with_dense_cumsum

    adm = with_dense_cumsum(
        _curriculum_interleave(load(spark, sf_dir, "documents")).where(
            "decile <= 3"
        ),
        "g",
        "ntot",
        ["n_tokens"],
        ["__cum"],
    )
    packed = adm.where(f"__cum <= {_CURR_BUDGET}").selectExpr(
        "doc_id",
        "decile",
        "n_tokens",
        f"CAST(floor((__cum - n_tokens) / {_PACK_SHARD}D) AS INT)"
        " AS shard_id",
    )
    return (
        packed.groupBy(F.expr("shard_id"))
        .agg(
            F.expr("count(1) AS n_docs"),
            F.expr("sum(n_tokens) AS shard_tokens"),
            F.expr("count(DISTINCT decile) AS n_deciles"),
            F.expr("min(doc_id) AS first_doc"),
            F.expr("max(doc_id) AS last_doc"),
        )
        .sort(F.expr("shard_id"))
    )
