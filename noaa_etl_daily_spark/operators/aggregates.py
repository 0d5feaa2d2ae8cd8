"""Aggregation operators (SURVEY.md §2.4).

Spark-first design: every aggregate here is a plain ``groupBy().agg()`` on
built-in JVM functions, so Catalyst plans partial (map-side) + final
aggregation automatically and whole-stage codegen fuses scan→filter→agg.
At 100 TB the only shuffle is the final per-group exchange of partial
aggregate buffers — already minimal.

Cross-engine determinism (SURVEY.md §7.4 G2): floating aggregates are
wrapped in ``round(...)`` IDENTICALLY on the Spark and DuckDB sides, since
double summation order differs between engines. DuckDB's SUM(int) returns
HUGEINT, so integer sums are cast to BIGINT in the oracle SQL to match
Spark's bigint.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..tables import load
from .materialize import pin

# The flagship: TPC-H Q1-shaped pricing summary (SURVEY.md §7.2).
# Scan → pushed filter → hash-agg (partial+final) → sort, all codegen'd.
Q1_CUTOFF = "1998-09-02 00:00:00"


@register(
    "agg_groupby_multi",
    oracle=f"""
    SELECT
        l_returnflag,
        l_linestatus,
        round(sum(l_quantity), 2)                         AS sum_qty,
        round(sum(l_extendedprice), 2)                    AS sum_base_price,
        round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)
                                                          AS sum_charge,
        round(avg(l_quantity), 6)                         AS avg_qty,
        round(avg(l_extendedprice), 6)                    AS avg_price,
        round(avg(l_discount), 6)                         AS avg_disc,
        count(*)                                          AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '{Q1_CUTOFF}'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def agg_groupby_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-key multi-measure hash aggregation (the daily-rollup core of a
    NOAA-style ETL: per-group min/max/mean/sum). TPC-H Q1 shape."""
    li = load(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit(Q1_CUTOFF).cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(charge), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "agg_global",
    oracle="""
    SELECT
        CAST(count(*) AS BIGINT)              AS n_rows,
        round(sum(l_quantity), 2)             AS total_qty,
        round(sum(l_extendedprice), 2)        AS total_price,
        round(avg(l_discount), 6)             AS mean_discount,
        CAST(min(l_quantity) AS DOUBLE)       AS min_qty,
        CAST(max(l_quantity) AS DOUBLE)       AS max_qty,
        min(l_shipdate)                       AS first_ship,
        max(l_shipdate)                       AS last_ship
    FROM lineitem
    """,
)
def agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ungrouped global aggregate — one partial buffer per partition, one
    tiny final reduce; no data shuffle beyond the buffers."""
    li = load(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("l_quantity"), 2).alias("total_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("total_price"),
        F.round(F.avg("l_discount"), 6).alias("mean_discount"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
        F.min("l_shipdate").alias("first_ship"),
        F.max("l_shipdate").alias("last_ship"),
    )


@register(
    "agg_count_distinct",
    oracle="""
    SELECT l_returnflag,
           CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_suppliers,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct counts per group; exact-distinct is the expensive
    path at 100 TB (see agg_approx_count_distinct for the sketch path).

    This is the plan Spark makes for several DISTINCT aggregates (one
    Expand row per distinct group, a two-phase aggregation that
    deduplicates, then one more aggregation), written out with grouping
    sets. Catalyst's own rewrite numbers the distinct groups in the
    hash order of their per-build expression ids, so two builds of
    ``countDistinct(a), countDistinct(b)`` could emit the Expand
    projections in either order, and each order compiled its own
    classes. Grouping sets keep the order as written."""
    li = load(spark, sf_dir, "lineitem")
    # grouping_id(): 1 for (flag, partkey), 2 for (flag, suppkey), 3 for
    # (flag). SQL text, since each Column node costs py4j round trips.
    return (
        li.groupingSets(
            [
                ["l_returnflag", "l_partkey"],
                ["l_returnflag", "l_suppkey"],
                ["l_returnflag"],
            ],
            "l_returnflag",
            "l_partkey",
            "l_suppkey",
        )
        .agg(F.expr("grouping_id() AS gid"), F.expr("count(1) AS n"))
        .groupBy("l_returnflag")
        .agg(
            F.expr("count(IF(gid = 1, l_partkey, NULL)) AS n_parts"),
            F.expr("count(IF(gid = 2, l_suppkey, NULL)) AS n_suppliers"),
            F.expr("sum(IF(gid = 3, n, NULL)) AS n_rows"),
        )
    )


@register("agg_approx_count_distinct", tags=("approx", "rows-only"))
def agg_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct count — the 100 TB path: fixed-size sketch
    buffers merge across partitions instead of shuffling distinct values.
    No oracle (sketch estimates are engine-specific); the pytest layer
    asserts the estimate is within 5% of exact."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", 0.02).alias("approx_parts"),
        F.countDistinct("l_partkey").alias("exact_parts"),
    )


@register(
    "agg_filtered",
    oracle="""
    SELECT o_custkey,
           round(sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice ELSE 0 END), 2)
               AS finished_value,
           round(sum(CASE WHEN o_orderstatus = 'O' THEN o_totalprice ELSE 0 END), 2)
               AS open_value,
           CAST(count(CASE WHEN o_orderpriority LIKE '1-%' THEN 1 END) AS BIGINT)
               AS n_urgent
    FROM orders
    GROUP BY o_custkey
    """,
)
def agg_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation: per-customer measures split by predicate
    (sum(CASE WHEN ...)) — one scan produces many conditional measures,
    the standard alternative to N filtered scans."""
    orders = load(spark, sf_dir, "orders")
    return orders.groupBy("o_custkey").agg(
        F.round(
            F.sum(F.when(F.col("o_orderstatus") == "F", F.col("o_totalprice")).otherwise(0.0)), 2
        ).alias("finished_value"),
        F.round(
            F.sum(F.when(F.col("o_orderstatus") == "O", F.col("o_totalprice")).otherwise(0.0)), 2
        ).alias("open_value"),
        F.count(F.when(F.col("o_orderpriority").like("1-%"), F.lit(1))).alias("n_urgent"),
    )


@register(
    "agg_stats",
    oracle="""
    SELECT l_returnflag,
           round(stddev_samp(l_extendedprice), 2) AS sd_price,
           round(var_samp(l_quantity), 4)         AS var_qty,
           round(corr(l_extendedprice, l_quantity), 6) AS corr_price_qty,
           round(covar_samp(l_extendedprice, l_quantity), 2) AS cov_price_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates (stddev/variance/corr/covar). Engines use
    different update/merge formulations (Welford vs naive), so results are
    rounded at a precision coarse enough to absorb the ~1e-10 relative
    difference on both sides identically."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_extendedprice"), 2).alias("sd_price"),
        F.round(F.var_samp("l_quantity"), 4).alias("var_qty"),
        F.round(F.corr("l_extendedprice", "l_quantity"), 6).alias("corr_price_qty"),
        F.round(F.covar_samp("l_extendedprice", "l_quantity"), 2).alias("cov_price_qty"),
    )


@register(
    "agg_percentile",
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
           round(quantile_cont(l_extendedprice, 0.50), 4) AS p50,
           round(quantile_cont(l_extendedprice, 0.75), 4) AS p75
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (Spark `percentile` == DuckDB
    `quantile_cont`, both linear interpolation). NOT percentile_approx:
    approximate sketches differ per engine. At 100 TB you'd flip to
    approx_percentile and drop the oracle — exact percentile requires a
    per-group sort."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_extendedprice", F.lit(0.25)), 4).alias("p25"),
        F.round(F.percentile("l_extendedprice", F.lit(0.50)), 4).alias("p50"),
        F.round(F.percentile("l_extendedprice", F.lit(0.75)), 4).alias("p75"),
    )


@register(
    "agg_collect_sorted",
    oracle="""
    SELECT c_mktsegment,
           array_to_string(list_sort(list(DISTINCT c_nationkey)), ',') AS nations,
           CAST(count(*) AS BIGINT) AS n_customers
    FROM customer
    GROUP BY c_mktsegment
    """,
)
def agg_collect_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group collected value list, sorted for determinism then
    serialized to a string (nested outputs are kept out of the driver's
    value-hash per SURVEY §7.4 G7; the array-typed form is exercised in
    the LLM centroid query)."""
    customer = load(spark, sf_dir, "customer")
    return customer.groupBy("c_mktsegment").agg(
        F.concat_ws(",", F.sort_array(F.collect_set("c_nationkey"))).alias("nations"),
        F.count(F.lit(1)).alias("n_customers"),
    )


@register(
    "agg_rollup",
    oracle="""
    SELECT r_name, n_name,
           CAST(count(*) AS BIGINT) AS n_customers,
           round(sum(c_acctbal), 2) AS total_balance
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP subtotal hierarchy: (region, nation) → (region) → (). Spark
    plans rollup as Expand + single hash aggregate — one pass over the
    input regardless of grouping-set count. Edge divergence (found by
    the rollup fuzz, tests/test_fuzz_differential.py): on EMPTY input
    Spark emits zero rows while the SQL standard (and DuckDB) emits a
    count-0 grand-total row — irrelevant on non-empty data, but worth
    knowing when a filter can drain the input."""
    customer = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    joined = customer.join(
        F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey")
    ).join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
    return joined.rollup("r_name", "n_name").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(F.sum("c_acctbal"), 2).alias("total_balance"),
    )


@register(
    "agg_cube",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(l_quantity), 2) AS total_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE: all grouping combinations in one Expand+aggregate pass."""
    li = load(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("l_quantity"), 2).alias("total_qty"),
    )


@register(
    "agg_grouping_sets",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS BIGINT)
               AS grouping_mask,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(o_totalprice), 2) AS total_price
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS with grouping_id disambiguation (an
    all-orders total, per-status subtotals, and status×priority cells in
    one pass; the mask distinguishes a real NULL group key from a
    subtotal row)."""
    orders = load(spark, sf_dir, "orders")
    return orders.groupingSets(
        [["o_orderstatus", "o_orderpriority"], ["o_orderstatus"], []],
        "o_orderstatus",
        "o_orderpriority",
    ).agg(
        F.grouping_id().cast("long").alias("grouping_mask"),
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


@register(
    "agg_pivot",
    oracle="""
    SELECT user_id,
           """
    + ",\n           ".join(
        f"round(sum(CASE WHEN event_type = '{t}' THEN value END), 4) AS {t}"
        for t in EVENT_TYPES
    )
    + """
    FROM events
    GROUP BY user_id
    """,
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long→wide pivot (the classic NOAA transform: element rows →
    TMAX/TMIN/PRCP columns), expressed as ONE conditional aggregate:
    ``sum(CASE WHEN event_type = t THEN value END)`` per pivot value.

    With an explicit value list this is semantically identical to
    ``df.groupBy(...).pivot(col, values).agg(...)`` but strictly
    cheaper: Spark's Pivot node lowers to a two-aggregate plan around
    PivotFirst (partial + final + a second aggregate to transpose),
    while the CASE-sum form is a single partial+final hash aggregate —
    one exchange, and every CASE branch lives in the same whole-stage
    codegen span as the scan (measured 2× faster at sf0.1; at 100 TB
    it is one fewer full pass over the grouped data). Explicit values
    also keep column order data-independent — with an inferred pivot
    Spark runs an extra distinct-scan job to discover them."""
    events = load(spark, sf_dir, "events")
    return events.groupBy("user_id").agg(
        *[
            F.round(
                F.sum(F.when(F.col("event_type") == t, F.col("value"))), 4
            ).alias(t)
            for t in EVENT_TYPES
        ]
    )


@register(
    "agg_min_by_max_by",
    oracle="""
    SELECT l_returnflag,
           CAST(arg_min(l_orderkey, l_extendedprice) AS BIGINT)
               AS cheapest_order,
           CAST(arg_max(l_orderkey, l_extendedprice) AS BIGINT)
               AS priciest_order,
           round(min(l_extendedprice), 2) AS min_price,
           round(max(l_extendedprice), 2) AS max_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_min_by_max_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmin/argmax aggregation (min_by/max_by ↔ DuckDB arg_min/
    arg_max): 'which order had the extreme price' without a self-join or
    window — single map-side-combinable aggregation, the scalable
    replacement for the join-back-on-extreme anti-pattern.

    Determinism note: ties on the ordering value would make the picked
    key engine-dependent; the fixture's prices are unique per flag
    group (verified by the oracle match itself — a tie that differed
    would hash-mismatch)."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.min_by("l_orderkey", "l_extendedprice").alias("cheapest_order"),
        F.max_by("l_orderkey", "l_extendedprice").alias("priciest_order"),
        F.round(F.min("l_extendedprice"), 2).alias("min_price"),
        F.round(F.max("l_extendedprice"), 2).alias("max_price"),
    )


@register(
    "agg_corr_covar",
    oracle="""
    SELECT l_returnflag,
           round(corr(l_quantity, l_extendedprice), 6) AS qty_price_corr,
           round(covar_samp(l_quantity, l_extendedprice), 2) AS qty_price_covar,
           round(covar_pop(l_discount, l_tax), 8) AS disc_tax_covar_pop
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_corr_covar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate statistics (corr / covar_samp / covar_pop) — the
    data-profiling pass that decides which features move together.
    Single-pass mergeable moment accumulators (no pre-sort, no
    self-join), map-side combined like any built-in aggregate. Rounded
    coarsely enough that both engines' accumulation orders agree (same
    discipline as agg_stats)."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias(
            "qty_price_corr"
        ),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias(
            "qty_price_covar"
        ),
        F.round(F.covar_pop("l_discount", "l_tax"), 8).alias(
            "disc_tax_covar_pop"
        ),
    )


@register(
    "agg_unpivot",
    oracle="""
    SELECT l_orderkey, l_linenumber, measure, round(val, 2) AS val
    FROM (
      SELECT l_orderkey, l_linenumber, 'price' AS measure,
             l_extendedprice AS val FROM lineitem
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'discount', l_discount FROM lineitem
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'tax', l_tax FROM lineitem
    )
    """,
)
def agg_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long reshape via native ``unpivot`` (melt): three measure
    columns become (measure, value) rows — the inverse of agg_pivot and
    the shape every metrics store wants. Narrow map-side expansion (×3
    rows inside the scan stage), zero shuffles; the oracle is the
    UNION ALL it desugars to."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.select(
            "l_orderkey", "l_linenumber",
            F.col("l_extendedprice").alias("price"),
            F.col("l_discount").alias("discount"),
            F.col("l_tax").alias("tax"),
        )
        .unpivot(
            ["l_orderkey", "l_linenumber"],
            ["price", "discount", "tax"],
            "measure",
            "raw_val",
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            "measure",
            F.round("raw_val", 2).alias("val"),
        )
    )


@register("agg_freq_items", tags=("approx", "rows-only"))
def agg_freq_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate heavy hitters over (l_returnflag, l_linestatus) pairs
    via ``freqItems`` (Karp-Papadimitriou-Shenker one-pass counting, the
    sketch a 100 TB profiler uses to find dominant categories without a
    full groupBy). Rows-only: the sketch may over-report (false
    positives allowed, false negatives not) — tests/test_properties.py
    asserts every truly-frequent value is present. Output is exploded
    to one flat row per reported item (the driver's canonicalizer
    cannot hash the raw array cell — G7)."""
    li = load(spark, sf_dir, "lineitem")
    combo = li.select(
        F.concat_ws("|", "l_returnflag", "l_linestatus").alias("combo")
    )
    return (
        combo.stat.freqItems(["combo"], 0.1)
        .select(F.explode("combo_freqItems").alias("frequent_combo"))
        .orderBy("frequent_combo")
    )


@register(
    "agg_median_abs_deviation",
    oracle="""
    SELECT l_returnflag,
           round(median(l_quantity), 4) AS med_qty,
           round(mad(l_quantity), 4) AS mad_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_median_abs_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust spread statistic: median absolute deviation per group —
    the outlier-resistant sigma a QC pass prefers over stddev when the
    data has heavy tails (one bad sensor day doesn't move it). Spark
    has no mad() builtin, so it's the two-pass composition: grouped
    median, broadcast back, grouped median of absolute deviations —
    proven equal to DuckDB's native mad(). Two grouped percentile
    shuffles on the same key; the tiny medians table broadcasts."""
    li = load(spark, sf_dir, "lineitem")
    med = li.groupBy("l_returnflag").agg(
        F.percentile("l_quantity", 0.5).alias("med_qty_raw")
    )
    return (
        li.join(F.broadcast(med), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.round(F.first("med_qty_raw"), 4).alias("med_qty"),
            F.round(
                F.percentile(
                    F.abs(F.col("l_quantity") - F.col("med_qty_raw")), 0.5
                ),
                4,
            ).alias("mad_qty"),
        )
    )


@register("agg_hll_sketch_merge", tags=("approx", "rows-only"))
def agg_hll_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL sketches — the re-aggregation story for distinct
    counts at 100 TB. Raw rows collapse once into per-(returnflag,
    month) Datasketches HLL sketches (fixed ~KB state, map-side
    combined); the monthly partials then merge per returnflag with
    hll_union_agg WITHOUT touching raw data again — exactly how a daily
    ETL maintains year-to-date distinct users from daily sketch
    partitions. Engine-specific estimates → rows-only for the driver;
    pytest bounds the error vs the exact distinct count."""
    li = load(spark, sf_dir, "lineitem")
    monthly = li.groupBy(
        "l_returnflag", F.date_trunc("month", "l_shipdate").alias("month")
    ).agg(F.hll_sketch_agg("l_partkey").alias("sk"))
    return (
        monthly.groupBy("l_returnflag")
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias(
                "approx_parts"
            )
        )
        .orderBy("l_returnflag")
    )


@register(
    "sql_recursive_cte",
    oracle="""
    WITH RECURSIVE m AS (
      SELECT strftime(o_orderdate, '%Y-%m') AS month,
             round(sum(o_totalprice), 2) AS rev
      FROM orders GROUP BY 1
    ), idx AS (
      SELECT month, rev, row_number() OVER (ORDER BY month) AS i FROM m
    ), r AS (
      SELECT i, month, rev, rev AS balance FROM idx WHERE i = 1
      UNION ALL
      SELECT x.i, x.month, x.rev, r.balance * 1.01 + x.rev
      FROM idx x JOIN r ON x.i = r.i + 1
    )
    SELECT month, rev, round(balance, 2) AS balance FROM r
    """,
)
def sql_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4's WITH RECURSIVE): a compounding monthly
    balance — each month carries the prior balance × 1.01 plus that
    month's revenue. The carry makes every row depend on the previous
    one, which no windowed SUM can express (the interest compounds on
    the running result, not the inputs); recursion is the right tool
    and Spark executes it as iterative union steps over the ~80-row
    monthly aggregate, NOT over raw orders. The row_number spine has no
    PARTITION BY, which is safe only because it runs post-aggregation
    on |months| rows — the raw table never sees a global window.
    Balance stays unrounded through the recursion (identical double op
    order on both engines is bit-deterministic); only the display
    rounds.

    Optimization r12 (guide §2.4, census finding): Spark's UnionLoop
    re-evaluates the step's subquery EVERY iteration, so inlining the
    monthly aggregate in the recursion re-scanned and re-aggregated the
    whole orders table once per month (~80 corpus passes; 22.7 s at
    sf0.01, unbounded at 100 TB). The ~80-row (month, rev, i) index is
    now materialized ONCE with a lazy localCheckpoint and the recursion
    joins that persisted frame — per-step cost drops to an 80-row scan,
    and the recursion arithmetic (r.balance * 1.01 + x.rev, same double
    op order) is untouched, so results are bit-identical.

    Optimization r13 (VERDICT r12 item 3): the residual ~11-13 s was
    UnionLoop's fixed per-iteration planning/job overhead × ~80
    one-month iterations. The recursion now advances ``_RC_UNROLL``
    months per iteration: the working row carries the frontier
    ``(i, balance)`` plus an ARRAY of the rows it produced (months are
    a dense row_number spine, so the batch is always the existing
    prefix of the K LEFT-joined next months; the INNER first join
    terminates the loop when the spine runs out), and the final SELECT
    explodes every iteration's batch. Month i+j's balance is the
    literal nested expression ``((..(b*1.01+rev_1)*1.01+rev_2)..)`` —
    the SAME double op sequence as j sequential steps, so every
    emitted balance is bit-identical to the one-month recursion
    (proven against the unchanged DuckDB oracle and the r12 form).
    ~80 iterations → ceil(79/16)+1 = 6; 10.6 → 2.1 s warm at sf0.01,
    still corpus-independent."""
    orders = load(spark, sf_dir, "orders")
    from pyspark.sql.window import Window

    monthly = orders.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("month")
    ).agg(F.round(F.sum("o_totalprice"), 2).alias("rev"))
    idx = monthly.select(
        "month", "rev", F.row_number().over(Window.orderBy("month")).alias("i")
    ).transform(pin)
    idx.createOrReplaceTempView("_rc_idx")
    return spark.sql(_rc_unrolled_sql(_RC_UNROLL))


#: Months advanced per recursion iteration. 16 ≈ the measured knee:
#: fewer iterations stop paying UnionLoop's fixed per-iteration cost,
#: while the step plan (K self-LEFT-joins of the ~80-row pinned index)
#: stays trivially small. Results are K-invariant by construction
#: (bit-identical nested arithmetic), pinned by the oracle tests.
_RC_UNROLL = 16


def _rc_unrolled_sql(k: int) -> str:
    """Render the K-month-unrolled WITH RECURSIVE over ``_rc_idx``.

    Balance for the j-th month of a batch repeats the j-step nested
    expression from the frontier balance — NOT a reassociated closed
    form — so the double op order is exactly the sequential
    recursion's. ``filter(... s.i IS NOT NULL)`` keeps the existing
    prefix when fewer than K months remain; ``element_at(batch, -1)``
    is the new frontier; the INNER x1 join yields zero rows past the
    last month, which ends the recursion."""

    def bal(j: int) -> str:
        e = "r.balance"
        for m in range(1, j + 1):
            e = f"({e} * 1.01 + x{m}.rev)"
        return e

    structs = ", ".join(
        f"struct(x{j}.i AS i, x{j}.month AS month, x{j}.rev AS rev, "
        f"{bal(j)} AS balance)"
        for j in range(1, k + 1)
    )
    joins = "\n    ".join(
        "JOIN _rc_idx x1 ON x1.i = r.i + 1"
        if j == 1
        else f"LEFT JOIN _rc_idx x{j} ON x{j}.i = r.i + {j}"
        for j in range(1, k + 1)
    )
    return f"""
    WITH RECURSIVE r(i, balance, batch) AS (
      SELECT i, rev AS balance,
             array(struct(i AS i, month AS month, rev AS rev,
                          rev AS balance)) AS batch
      FROM _rc_idx WHERE i = 1
      UNION ALL
      SELECT element_at(b.batch, -1).i,
             element_at(b.batch, -1).balance,
             b.batch
      FROM (
        SELECT filter(array({structs}), s -> s.i IS NOT NULL) AS batch
        FROM r
        {joins}
      ) b
    )
    SELECT s.month AS month, s.rev AS rev, round(s.balance, 2) AS balance
    FROM r LATERAL VIEW explode(batch) t AS s
    """


@register(
    "agg_listagg_ordered",
    oracle="""
    SELECT n_regionkey,
           string_agg(n_name, ',' ORDER BY n_name) AS nations
    FROM nation GROUP BY n_regionkey
    """,
)
def agg_listagg_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation — Spark 4's ``listagg(... ) WITHIN
    GROUP (ORDER BY ...)`` vs DuckDB ``string_agg(... ORDER BY ...)``.
    The WITHIN GROUP ordering makes the concatenation deterministic
    (G3); like any collect-to-one-value agg this is for BOUNDED groups
    — per-group output must fit a row, so at 100 TB it belongs on
    dimension-cardinality keys, never raw event keys."""
    nation = load(spark, sf_dir, "nation")
    nation.createOrReplaceTempView("_la_nation")
    return spark.sql(
        """
        SELECT n_regionkey,
               listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name) AS nations
        FROM _la_nation GROUP BY n_regionkey
        """
    )


@register(
    "agg_bool_logic",
    oracle="""
    SELECT o_orderpriority,
           CAST(sum(CASE WHEN o_totalprice > 150000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_big,
           bool_and(o_totalprice > 0)   AS all_positive,
           bool_or(o_orderstatus = 'F') AS any_finished
    FROM orders GROUP BY o_orderpriority
    """,
)
def agg_bool_logic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean aggregate surface: ``count_if`` / ``every`` / ``any`` —
    the data-quality assertion primitives (\"all values positive\",
    \"any failed row in the batch\"). All three are map-side-combining
    hash aggregates: partials are a count and two booleans, so the
    shuffle carries O(groups) bytes at any corpus size."""
    orders = load(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.count_if(F.col("o_totalprice") > 150000).alias("n_big"),
        F.every(F.col("o_totalprice") > 0).alias("all_positive"),
        F.some(F.col("o_orderstatus") == "F").alias("any_finished"),
    )


@register(
    "agg_histogram_bins",
    oracle="""
    SELECT event_type,
           CAST(least(greatest(floor(value / 25.0), 0), 19) AS BIGINT)
             AS bin,
           CAST(count(*) AS BIGINT) AS n,
           round(min(value), 4) AS lo,
           round(max(value), 4) AS hi
    FROM events
    GROUP BY 1, 2
    """,
)
def agg_histogram_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-bin value histogram per event type — the data-profiling
    primitive behind QC dashboards. The bin index is identical integer
    arithmetic on both engines (floor of the same IEEE double, clamped
    to [0,19]) rather than width_bucket, whose internal division order
    differs across engines at bin edges. One map-combined groupBy on
    (type, bin): shuffle bytes are O(types × bins) regardless of
    corpus size."""
    ev = load(spark, sf_dir, "events")
    bin_col = F.least(
        F.greatest(F.floor(F.col("value") / 25.0), F.lit(0)), F.lit(19)
    ).cast("long")
    return ev.groupBy("event_type", bin_col.alias("bin")).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("value"), 4).alias("lo"),
        F.round(F.max("value"), 4).alias("hi"),
    )


@register(
    "sql_group_by_all",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(year(l_shipdate) AS INTEGER) AS ship_year,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(l_quantity), 2) AS qty
    FROM lineitem
    GROUP BY ALL
    """,
)
def sql_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``GROUP BY ALL`` — modern SQL sugar (every non-aggregate select
    item becomes a grouping key) supported by both Spark 4 and DuckDB;
    the resolved plan is the identical hash aggregate as the explicit
    GROUP BY, so the surface costs nothing. Computed grouping columns
    (year()) participate like plain ones."""
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("_gba_lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               year(l_shipdate) AS ship_year,
               count(*) AS n,
               round(sum(l_quantity), 2) AS qty
        FROM _gba_lineitem
        GROUP BY ALL
        """
    )


@register(
    "agg_regr_trend",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(regr_slope(value, epoch_us(CAST(ts AS TIMESTAMP))
                 / 86400000000.0), 6) AS slope_per_day,
           round(regr_intercept(value, epoch_us(CAST(ts AS TIMESTAMP))
                 / 86400000000.0), 4) AS intercept,
           round(regr_r2(value, epoch_us(CAST(ts AS TIMESTAMP))
                 / 86400000000.0), 6) AS r2
    FROM events GROUP BY event_type
    """,
)
def agg_regr_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-regression aggregates — value trend per event type over
    time (the GHCN "is this station warming" computation): regr_slope /
    regr_intercept / regr_r2 with x = epoch days. These are one-pass
    moment aggregates (sums of x, y, xy, x², y²) — map-side combinable,
    O(groups) shuffle bytes, no window, no sort. Identical epoch-µs →
    day conversion on both engines keeps x bit-equal; outputs rounded
    at precisions where last-ulp sum-order noise cannot reach the
    boundary."""
    ev = load(spark, sf_dir, "events")
    x = F.unix_micros(F.col("ts").cast("timestamp")) / 86400000000.0
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.regr_slope(F.col("value"), x), 6).alias("slope_per_day"),
        F.round(F.regr_intercept(F.col("value"), x), 4).alias("intercept"),
        F.round(F.regr_r2(F.col("value"), x), 6).alias("r2"),
    )


@register(
    "agg_bitmap_distinct_rollup",
    oracle="""
    SELECT l_returnflag,
           CAST(count(DISTINCT strftime(l_shipdate, '%Y-%m')) AS BIGINT)
             AS n_months,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_suppliers
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_bitmap_distinct_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT mergeable distinct counts via roaring-style bitmaps —
    the precise sibling of the HLL rollup: per (flag, month, bucket)
    partial bitmaps are built once from raw data, then flag-level
    distincts come from ``bitmap_or_agg`` over the partials — raw data
    is scanned ONCE and never again, yet the answer is exact (the
    oracle is a plain count(DISTINCT)). The cost model vs HLL: bitmap
    state is O(distinct values / bucket) not O(1), so it fits ID-like
    domains (suppliers, customers) where exactness matters; HLL covers
    unbounded domains. Shuffle carries (flag, month, bucket) bitmap
    blobs — thousands of rows, corpus-size-independent."""
    li = load(spark, sf_dir, "lineitem")
    monthly = (
        li.select(
            "l_returnflag",
            F.date_format("l_shipdate", "yyyy-MM").alias("month"),
            F.expr("bitmap_bucket_number(l_suppkey)").alias("bucket"),
            F.expr("bitmap_bit_position(l_suppkey)").alias("pos"),
        )
        .groupBy("l_returnflag", "month", "bucket")
        .agg(F.expr("bitmap_construct_agg(pos)").alias("bm"))
    )
    flag_suppliers = (
        monthly.groupBy("l_returnflag", "bucket")
        .agg(F.expr("bitmap_or_agg(bm)").alias("bm"))
        .groupBy("l_returnflag")
        .agg(F.sum(F.expr("bitmap_count(bm)")).alias("n_suppliers"))
    )
    flag_months = monthly.groupBy("l_returnflag").agg(
        F.count_distinct("month").alias("n_months")
    )
    return flag_months.join(flag_suppliers, "l_returnflag").select(
        "l_returnflag", "n_months", "n_suppliers"
    )


@register(
    "sql_pipe_syntax",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(o_totalprice), 2) AS total
    FROM orders
    WHERE o_totalprice > 100000
    GROUP BY o_orderpriority
    HAVING count(*) > 10
    """,
)
def sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4's SQL pipe syntax (``|>``): the query reads top-to-bottom
    as a pipeline (FROM → WHERE → AGGREGATE → WHERE-on-aggregates)
    instead of the inside-out SELECT order. Pure front-door sugar —
    the parsed plan is the identical filtered hash aggregate, so the
    oracle is the classic GROUP BY / HAVING form."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("_pipe_orders")
    return spark.sql(
        """
        FROM _pipe_orders
        |> WHERE o_totalprice > 100000
        |> AGGREGATE count(*) AS n, round(sum(o_totalprice), 2) AS total
           GROUP BY o_orderpriority
        |> WHERE n > 10
        |> SELECT o_orderpriority, n, total
        """
    )


@register(
    "agg_mode_deterministic",
    oracle="""
    WITH counted AS (
      SELECT o_orderstatus, o_orderpriority, CAST(count(*) AS BIGINT) AS n
      FROM orders
      GROUP BY 1, 2
    )
    SELECT o_orderstatus,
           arg_min(o_orderpriority,
                   CONCAT(LPAD(CAST(1000000000000000000 - n AS VARCHAR),
                               19, '0'),
                          o_orderpriority)) AS modal_priority,
           max(n) AS modal_count
    FROM counted
    GROUP BY o_orderstatus
    """,
)
def agg_mode_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most-frequent value (statistical mode) per group — with a
    DETERMINISTIC tie-break, which the built-in ``mode()`` in both
    engines does not guarantee (on equal counts each engine may return
    whichever value it met first; a hash-compare would then flicker).
    Two-level aggregation: count per (group, value) — map-side
    combinable — then argmin over a composite (descending count,
    ascending value) key. Shuffle bytes are O(groups × distinct
    values), never raw rows twice. The composite key is encoded as a
    zero-padded string so ONE arg_min orders both criteria identically
    in both engines; the 10^18 sentinel keeps the complement positive
    (and the padding lexicographic) for any count a 100 TB table can
    produce — an 8-digit sentinel would go negative at 1e7 rows per
    (group, value) and a '-'-prefixed lpad breaks the order."""
    orders = load(spark, sf_dir, "orders")
    counted = orders.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n")
    )
    key = F.concat(
        F.lpad(
            (F.lit(1000000000000000000) - F.col("n")).cast("string"), 19, "0"
        ),
        F.col("o_orderpriority"),
    )
    return counted.groupBy("o_orderstatus").agg(
        F.min_by("o_orderpriority", key).alias("modal_priority"),
        F.max("n").alias("modal_count"),
    )


@register(
    "sql_values_inline_dim",
    oracle="""
    WITH prio_dim(o_orderpriority, prio_rank, prio_class) AS (
      VALUES ('1-URGENT',        1, 'expedite'),
             ('2-HIGH',          2, 'expedite'),
             ('3-MEDIUM',        3, 'standard'),
             ('4-NOT SPECIFIED', 4, 'standard'),
             ('5-LOW',           5, 'relaxed')
    )
    SELECT prio_class,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(min(prio_rank) AS INT) AS best_rank,
           round(sum(o_totalprice), 2) AS total_value
    FROM orders JOIN prio_dim USING (o_orderpriority)
    GROUP BY prio_class
    """,
)
def sql_values_inline_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inline VALUES dimension (code → label mapping) joined to a fact
    table — the everyday ETL enrichment where the mapping lives in the
    job, not in storage. The literal table is driver-side constant
    data: Spark plans it as a LocalRelation and broadcasts it, so the
    fact side never shuffles for the join; the priority classes then
    feed one hash aggregate. At 100 TB the inline dim is still 5 rows —
    this is the one join shape where 'broadcast' is free forever."""
    rows = [
        ("1-URGENT", 1, "expedite"),
        ("2-HIGH", 2, "expedite"),
        ("3-MEDIUM", 3, "standard"),
        ("4-NOT SPECIFIED", 4, "standard"),
        ("5-LOW", 5, "relaxed"),
    ]
    dim = spark.createDataFrame(
        rows, "o_orderpriority string, prio_rank int, prio_class string"
    )
    orders = load(spark, sf_dir, "orders")
    return (
        orders.join(F.broadcast(dim), "o_orderpriority")
        .groupBy("prio_class")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("prio_rank").alias("best_rank"),
            F.round(F.sum("o_totalprice"), 2).alias("total_value"),
        )
    )


@register(
    "agg_weighted_median",
    oracle="""
    WITH ranked AS (
      SELECT l_returnflag, l_extendedprice,
             sum(CAST(l_quantity AS BIGINT)) OVER (
                 PARTITION BY l_returnflag
                 ORDER BY l_extendedprice, l_orderkey, l_linenumber
                 ROWS UNBOUNDED PRECEDING) AS cum_w,
             sum(CAST(l_quantity AS BIGINT)) OVER (
                 PARTITION BY l_returnflag) AS tot_w
      FROM lineitem
    )
    SELECT l_returnflag,
           round(min(l_extendedprice), 2) AS weighted_median_price,
           CAST(min(tot_w) AS BIGINT) AS total_weight
    FROM ranked
    WHERE 2 * cum_w >= tot_w
    GROUP BY l_returnflag
    """,
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUANTITY-WEIGHTED median price per group — no engine has this
    built in; it falls out of the cumulative-weight window algorithm:
    order by value, running weight sum, and the weighted median is the
    first value whose cumulative weight reaches half the total.

    Scale shape (r13 rewrite, guide §2.5 — caught by the
    low-cardinality-window lint): the old form windowed
    ``PARTITION BY l_returnflag`` over the RAW corpus — 3 distinct
    flags means the whole table funnels through ≤3 reducers and sorts
    there. The running weight is now a distributed prefix-sum over the
    (flag, price, orderkey, linenumber) TOTAL order (scale_rank's
    with_cumsum: one range shuffle that scales with executors), and
    the per-flag cumulative is that global cumulative minus the
    3-row broadcast prefix of earlier flags' totals — identical int64
    values at any partition count. Weights are summed as INTEGERS
    (quantities are whole) and the half-total comparison is 2·cum ≥
    tot in integer arithmetic — exact on both engines; the ordering
    tie-breaks on (orderkey, linenumber) so the scan order never
    matters. A NULL price sorts LAST, as in the oracle's ORDER BY
    (DuckDB's default; Spark's ascending default, NULLS FIRST, would put
    a NULL-price row's weight ahead of every priced row)."""
    from pyspark.sql.window import Window as W

    from .scale_rank import with_cumsum

    li = load(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("long")
    rows = li.select(
        "l_returnflag",
        "l_extendedprice",
        "l_orderkey",
        "l_linenumber",
        qty.alias("w"),
    )
    g = with_cumsum(
        rows,
        [
            F.col("l_returnflag"),
            F.col("l_extendedprice").asc_nulls_last(),
            F.col("l_orderkey"),
            F.col("l_linenumber"),
        ],
        ["w"],
        ["cum_all"],
    )
    # 3-row per-flag totals + prefix of earlier flags' totals: per-flag
    # cum_w = global cum_all − weight_before(flag), exact in int64.
    # The totals come from the RAW projection, not from g — referencing
    # g twice would re-plan the whole range-shuffle subtree per
    # reference (the §I trap); this way g is read exactly once and the
    # totals cost one extra column-pruned scan + a 3-row exchange.
    w_prev = W.orderBy("l_returnflag").rowsBetween(
        W.unboundedPreceding, -1
    )
    off = (
        rows.groupBy("l_returnflag")
        .agg(F.sum("w").alias("tot_w"))
        .select(
            "l_returnflag",
            "tot_w",
            F.coalesce(F.sum("tot_w").over(w_prev), F.lit(0)).alias(
                "w_before"
            ),
        )
    )
    ranked = (
        g.join(
            F.broadcast(off),
            g["l_returnflag"].eqNullSafe(off["l_returnflag"]),
        )
        .drop(off["l_returnflag"])
        .withColumn("cum_w", F.col("cum_all") - F.col("w_before"))
    )
    return (
        ranked.where(2 * F.col("cum_w") >= F.col("tot_w"))
        .groupBy("l_returnflag")
        .agg(
            F.round(F.min("l_extendedprice"), 2).alias(
                "weighted_median_price"
            ),
            F.min("tot_w").alias("total_weight"),
        )
    )


@register("agg_theta_sketch_setops", tags=("approx", "rows-only"))
def agg_theta_sketch_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-set ALGEBRA via Datasketches theta sketches: how many
    users viewed, purchased, did both, or viewed without purchasing —
    where the union/intersection/difference all happen on fixed-size
    sketch state, never on the raw ID sets.

    This is what HLL cannot do (HLL unions but can't intersect) and
    the exact path can't afford at 100 TB (set intersection of raw IDs
    is a shuffle of every distinct user). Theta partials are built
    per (event_type, month) — the mergeable-state shape — then
    combined: union across months per type, then set ops across types.
    Estimates are property-tested against exact distinct counts in
    tests/test_properties.py (test_theta_sketch_set_algebra_accuracy);
    rows-only for the driver (sketch internals are engine-specific).
    Oracled exact twin: ``agg_count_distinct`` certifies the exact
    distinct-count semantics this sketch approximates, so the driver's
    ``no_oracle`` row here pairs with a green exact row."""
    ev = load(spark, sf_dir, "events")
    # early-window viewers vs late-window buyers: overlapping-but-
    # distinct user sets (every fixture user does everything over the
    # full month, which would make the algebra degenerate)
    cohort = F.when(
        (F.col("event_type") == "view")
        & (F.dayofmonth("ts") <= 7),
        F.lit("view"),
    ).when(
        (F.col("event_type") == "purchase")
        & (F.dayofmonth("ts") >= 24),
        F.lit("purchase"),
    )
    partials = (
        ev.withColumn("event_type", cohort)
        .where(F.col("event_type").isNotNull())
        .groupBy("event_type", F.date_trunc("day", "ts").alias("m"))
        .agg(F.theta_sketch_agg("user_id").alias("sk"))
    )
    per_type = partials.groupBy("event_type").agg(
        F.theta_union_agg("sk").alias("sk")
    )
    v = per_type.where(F.col("event_type") == "view").select(
        F.col("sk").alias("sk_v")
    )
    p = per_type.where(F.col("event_type") == "purchase").select(
        F.col("sk").alias("sk_p")
    )
    both = v.crossJoin(p)
    return both.select(
        F.theta_sketch_estimate(F.col("sk_v")).alias("est_viewers"),
        F.theta_sketch_estimate(F.col("sk_p")).alias("est_buyers"),
        F.theta_sketch_estimate(
            F.theta_union(F.col("sk_v"), F.col("sk_p"))
        ).alias("est_either"),
        F.theta_sketch_estimate(
            F.theta_intersection(F.col("sk_v"), F.col("sk_p"))
        ).alias("est_both"),
        F.theta_sketch_estimate(
            F.theta_difference(F.col("sk_v"), F.col("sk_p"))
        ).alias("est_view_only"),
    )


@register("agg_kll_quantile_sketch", tags=("approx", "rows-only"))
def agg_kll_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable QUANTILE state via Datasketches KLL: per-month sketch
    partials of order value merged into whole-corpus quantiles — the
    streaming/warehouse answer to 'p50/p90/p99 over a year' that never
    re-sorts history (exact percentiles need a full sort or Expand;
    the KLL partial is a few KB per group and merges associatively,
    so yesterday's sketches are reused forever).

    Rank-accuracy vs the exact percentiles is property-tested in
    tests/test_properties.py (test_kll_quantile_sketch_rank_accuracy);
    rows-only for the driver. Oracled exact twin: ``agg_percentile``
    certifies the exact quantile semantics this sketch approximates,
    so the driver's ``no_oracle`` row here pairs with a green exact
    row."""
    orders = load(spark, sf_dir, "orders")
    partials = orders.groupBy(
        F.date_trunc("month", "o_orderdate").alias("m")
    ).agg(F.kll_sketch_agg_double("o_totalprice").alias("sk"))
    # kll_sketch_merge_double is a binary scalar merge (no agg form in
    # 4.1): fold the bounded per-month partial list — 12 sketches/year,
    # a few KB each — with head as init. Associativity is the point.
    # try_element_at: an empty corpus yields zero partials; the fold's
    # init must be NULL (→ NULL quantiles), not an ANSI index error
    merged = partials.agg(F.collect_list("sk").alias("sks")).select(
        F.aggregate(
            F.slice(F.col("sks"), 2, 1_000_000),
            F.try_element_at(F.col("sks"), F.lit(1)),
            lambda acc, x: F.kll_sketch_merge_double(acc, x),
        ).alias("sk")
    )
    return merged.select(
        F.kll_sketch_get_quantile_double(F.col("sk"), F.lit(0.5)).alias(
            "p50"
        ),
        F.kll_sketch_get_quantile_double(F.col("sk"), F.lit(0.9)).alias(
            "p90"
        ),
        F.kll_sketch_get_quantile_double(F.col("sk"), F.lit(0.99)).alias(
            "p99"
        ),
        F.kll_sketch_get_n_double(F.col("sk")).alias("n"),
    )


@register(
    "sql_cached_cte_reuse",
    oracle="""
    WITH monthly AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
             round(sum(o_totalprice), 2) AS revenue
      FROM orders GROUP BY 1
    )
    SELECT a.month,
           a.revenue,
           round(a.revenue - b.revenue, 2) AS mom_delta
    FROM monthly a LEFT JOIN monthly b
      ON b.month = a.month - INTERVAL 1 MONTH
    """,
)
def sql_cached_cte_reuse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A CTE referenced twice (month-over-month self-comparison of an
    aggregate), materialized ONCE via ``cache()``.

    Measured finding this round (Spark 4.1.2): a twice-referenced
    aggregate plans TWO independent shuffle stages — neither CTE
    materialization nor the ReuseExchange rule deduplicates it in this
    shape (the exchanges hang under differently-aliased final
    aggregates). The explicit tool is ``cache()``: both join inputs
    then read the same InMemoryRelation (plan-asserted in
    tests/test_layout.py — two InMemoryTableScans, one Exchange
    total). The cached relation is month-cardinality (KBs), so pinning
    it is free at any corpus scale; the raw scan + shuffle happen
    exactly once however many reports reference the CTE."""
    orders = load(spark, sf_dir, "orders")
    monthly = (
        orders.groupBy(
            F.to_date(F.date_trunc("month", "o_orderdate")).alias("month")
        )
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
        .cache()
    )
    prev = monthly.select(
        F.col("month").alias("p_month"), F.col("revenue").alias("p_rev")
    )
    return monthly.join(
        prev, F.col("p_month") == F.add_months(F.col("month"), -1), "left"
    ).select(
        "month",
        "revenue",
        F.round(F.col("revenue") - F.col("p_rev"), 2).alias("mom_delta"),
    )


@register(
    "agg_skew_kurtosis",
    oracle="""
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n,
           round(skewness(l_extendedprice)
                 * (count(*) - 2) / sqrt(CAST(count(*) AS DOUBLE)
                                         * (count(*) - 1)), 6)
               AS skew_pop,
           round((kurtosis(l_extendedprice)
                  * (count(*) - 2) * (count(*) - 3)
                  / CAST(count(*) - 1 AS DOUBLE) - 6.0)
                 / (count(*) + 1), 6) AS kurt_pop
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_skew_kurtosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-moment aggregates (skewness, excess kurtosis) — the
    distribution-shape signals a data-quality monitor tracks for
    drift.

    Dialect reconciliation worth recording: Spark computes POPULATION
    moments (g1, g2-3) while DuckDB computes SAMPLE-ADJUSTED ones
    (Fisher-Pearson G1, sample excess kurtosis), so the oracle
    converts DuckDB's statistics back to population form with the
    exact count-based factors (G1·(n-2)/√(n(n-1)) and the kurtosis
    inverse). Both engines use numerically-stable one-pass moment
    updates; 6-decimal rounding absorbs the update-order ulps.
    One map-combinable aggregate — moments merge associatively, the
    same property the sketch family exploits."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.skewness("l_extendedprice"), 6).alias("skew_pop"),
        F.round(F.kurtosis("l_extendedprice"), 6).alias("kurt_pop"),
    )


@register(
    "sql_distinct_on",
    oracle="""
    SELECT DISTINCT ON (o_custkey)
           o_custkey, o_orderkey, round(o_totalprice, 2) AS top_price
    FROM orders
    ORDER BY o_custkey, o_totalprice DESC, o_orderkey
    """,
)
def sql_distinct_on(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``DISTINCT ON`` (Postgres/DuckDB argmax-per-group idiom): each
    customer's single most expensive order, ties broken by orderkey so
    the chosen row is deterministic. Spark has no DISTINCT ON; the
    scalable translation is NOT a self-join against a max() aggregate
    (two full shuffles + a join) but ``max_by`` over a struct tie-break
    key — ONE hash aggregate with map-side partial combine, the
    cheapest argmax shape at 100 TB. The window row_number() form is
    the general top-k (win_topk_per_group); for k=1 the aggregate wins
    because it never materializes a per-group sort."""
    orders = load(spark, sf_dir, "orders")
    # tie-break: highest price, then LOWEST orderkey — encode as a
    # single orderable struct so max_by picks the exact DISTINCT ON row
    key = F.struct(
        F.col("o_totalprice").alias("p"), (-F.col("o_orderkey")).alias("nk")
    )
    return orders.groupBy("o_custkey").agg(
        F.max_by("o_orderkey", key).alias("o_orderkey"),
        F.round(F.max("o_totalprice"), 2).alias("top_price"),
    )


@register(
    "sql_parameterized_query",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(o_totalprice), 2) AS total
    FROM orders
    WHERE o_totalprice > 200000.0 AND o_orderstatus = 'F'
    GROUP BY o_orderpriority
    """,
)
def sql_parameterized_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named-parameter SQL (``spark.sql(query, args={...})``, the
    Spark 4 parameter-marker API): the query text carries ``:min_price``
    / ``:status`` markers and the values bind server-side as LITERALS
    in the analyzed plan — so Catalyst constant-folds and pushes them
    into the parquet scan exactly like hand-inlined literals (no
    string interpolation, no injection surface, plan-cache friendly).
    The oracle runs the same query with the parameters inlined,
    proving binding semantics match literal semantics."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("_param_orders")
    return spark.sql(
        """
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_orders,
               round(sum(o_totalprice), 2) AS total
        FROM _param_orders
        WHERE o_totalprice > :min_price AND o_orderstatus = :status
        GROUP BY o_orderpriority
        """,
        args={"min_price": 200000.0, "status": "F"},
    )


@register(
    "sql_transpose",
    oracle="""
    WITH s AS (
      SELECT l_returnflag,
             CAST(count(*) AS DOUBLE) AS n_rows,
             round(sum(l_quantity), 2) AS total_qty
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT 'n_rows' AS key,
           (SELECT n_rows FROM s WHERE l_returnflag = 'A') AS A,
           (SELECT n_rows FROM s WHERE l_returnflag = 'N') AS N,
           (SELECT n_rows FROM s WHERE l_returnflag = 'R') AS R
    UNION ALL
    SELECT 'total_qty',
           (SELECT total_qty FROM s WHERE l_returnflag = 'A'),
           (SELECT total_qty FROM s WHERE l_returnflag = 'N'),
           (SELECT total_qty FROM s WHERE l_returnflag = 'R')
    """,
)
def sql_transpose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4's ``df.transpose()`` — flip a small summary so metrics
    become rows and group values become columns (the report-friendly
    orientation of agg_pivot's output). Transpose COLLECTS the index
    column to mint the new column names, so it is strictly a
    small-result operation: here it runs over the 3-row pre-aggregated
    summary, never raw data — the corpus-sized work is the ordinary
    partial+final hash aggregate underneath. The oracle rebuilds the
    transposed shape with scalar subqueries."""
    li = load(spark, sf_dir, "lineitem")
    # transpose mints COLUMNS from data values, so the column set must
    # be a closed domain for a static oracle to exist — the same
    # explicit-values discipline as agg_pivot's pivot(col, values); an
    # unexpected hostile flag would otherwise change the SCHEMA
    summary = (
        li.where(F.col("l_returnflag").isin("A", "N", "R"))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n_rows"),
            F.round(F.sum("l_quantity"), 2).alias("total_qty"),
        )
    )
    return summary.transpose()


@register(
    "agg_geometric_mean",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           -- ln is only defined on positive prices: non-positive rows
           -- (credit memos, zero totals) are outside the geometric
           -- mean's domain — excluded from BOTH the sum and its
           -- divisor; a group with none is NULL (G11)
           round(exp(sum(CASE WHEN o_totalprice > 0 THEN
                           CAST(round(ln(o_totalprice) * 1000000000)
                                AS BIGINT) END)
                     / count(CASE WHEN o_totalprice > 0 THEN 1 END)
                     / 1000000000.0), 4) AS geo_mean
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_geometric_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometric mean per group — the right average for multiplicative
    quantities (growth factors, price ratios); neither engine ships it
    as a builtin, so it is composed as exp(mean(ln x)). Determinism
    (G2): a float sum of logs is order-dependent, so each ln term is
    quantized to integer nano-units BEFORE the sum (the
    evt_decay_weighted_value discipline); the integer sum divides
    exactly by the count, and the final exp of an identical double
    rounds identically on both engines. One hash aggregate with
    map-side combine — the same plan as any sum/avg."""
    orders = load(spark, sf_dir, "orders")
    # ln is only defined on positive prices: non-positive rows (credit
    # memos, zero totals) are outside the geometric mean's domain —
    # excluded from both the sum and its divisor; a group with none is
    # NULL via try_divide (G11)
    pos = F.col("o_totalprice") > 0
    term = F.when(
        pos, F.round(F.log(F.col("o_totalprice")) * 1_000_000_000, 0)
    ).cast("long")
    return orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(
            F.exp(F.try_divide(F.sum(term), F.count(term)) / 1_000_000_000.0),
            4,
        ).alias("geo_mean"),
    )
