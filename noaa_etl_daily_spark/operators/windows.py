"""Window functions (SURVEY.md §2.5).

Scale notes: every window below partitions by a real key (customer, user,
returnflag) so Spark distributes partitions across executors and sorts
within them — there is no global-ordering window anywhere (a window with
no PARTITION BY collapses all data onto one task at 100 TB; if ever
needed, pre-bucket by range and stitch boundaries).

Determinism (SURVEY §7.4 G3): every ORDER BY inside a window spec ends
with a unique tiebreaker column unless tie-insensitivity is the point
(rank/dense_rank).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import register
from ..tables import load


@register(
    "win_row_number",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate,
           CAST(row_number() OVER (PARTITION BY o_custkey
                                   ORDER BY o_orderdate DESC, o_orderkey DESC)
                AS BIGINT) AS rn
    FROM orders
    """,
)
def win_row_number(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency ranking per customer (basis of keep-first dedup)."""
    orders = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.row_number().over(w).cast("long").alias("rn"),
    )


@register(
    "win_rank_dense_ntile",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity,
           CAST(rank()       OVER (PARTITION BY l_returnflag ORDER BY l_quantity) AS BIGINT) AS qty_rank,
           CAST(dense_rank() OVER (PARTITION BY l_returnflag ORDER BY l_quantity) AS BIGINT) AS qty_dense_rank,
           CAST(ntile(4)     OVER (PARTITION BY l_returnflag
                                   ORDER BY l_quantity, l_orderkey, l_linenumber) AS BIGINT) AS qty_quartile
    FROM lineitem
    """,
)
def win_rank_dense_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank/dense_rank over a tie-heavy key (equal quantities share a
    rank — deterministic as a result set even with ties) and ntile with a
    fully-tiebroken ordering (ntile assigns by row position, so ties MUST
    be broken for cross-engine determinism).

    r13 rewrite (guide §2.5, low-cardinality-window lint): the old
    windows PARTITIONED the RAW corpus BY l_returnflag — 3 flags = 3
    reducers sorting everything. Now ONE distributed global rank over
    the fully-tiebroken (flag, qty, okey, lineno) total order gives
    each row's within-flag position (minus the flag's 3-row broadcast
    min-rank offset, §J pattern); rank() = the position of a (flag,
    qty) tie-group's FIRST row = the group's min position, and
    dense_rank() = the tie-group's 1-based index per flag — both read
    off a (flag, qty)-grain aggregate (quantity is a bounded unit
    domain — TPC-H quantities are 1..50 — so this frame is tiny and
    broadcast back; null-safe equality keeps NULL-quantity rows total).
    ntile is scale_rank's closed-form bucket on (position, n). Every
    value is the same integer the engine's own window operators
    produce, at any partition count."""
    from .materialize import pin
    from .scale_rank import ntile_bucket, with_global_rank

    li = load(spark, sf_dir, "lineitem")
    rows = li.select(
        "l_returnflag", "l_orderkey", "l_linenumber", "l_quantity"
    )
    g = with_global_rank(
        rows,
        [
            F.col("l_returnflag"),
            F.col("l_quantity"),
            F.col("l_orderkey"),
            F.col("l_linenumber"),
        ],
        "grk",
    )
    # Everything per-flag / per-tie-group comes from ONE raw-frame
    # (flag, qty) count aggregate — never from g, whose second
    # reference would re-plan the range-shuffle subtree (§I trap).
    # The tie-group frame is bounded by the unit-quantity domain
    # (TPC-H quantities are 1..50 → ≤3×50 rows at any corpus size), so
    # it is pinned and broadcast; its windows sit over the REDUCED
    # frame. Within a flag: rank of a tie group's first row = 1 + the
    # running count of strictly-smaller quantities; dense rank = the
    # group's 1-based index; ntile reads (position, n) closed-form.
    vg = pin(
        rows.groupBy("l_returnflag", "l_quantity").agg(
            F.count(F.lit(1)).alias("cnt")
        )
    )
    w_prev = Window.orderBy("l_returnflag").rowsBetween(
        Window.unboundedPreceding, -1
    )
    off = (
        vg.groupBy("l_returnflag")
        .agg(F.sum("cnt").alias("n"))
        .select(
            "l_returnflag",
            F.col("n").cast("bigint").alias("n"),
            F.coalesce(F.sum("n").over(w_prev), F.lit(0)).alias("before"),
        )
    )
    w_tie = (
        Window.partitionBy("l_returnflag")
        .orderBy("l_quantity")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_dense = Window.partitionBy("l_returnflag").orderBy("l_quantity")
    ties = vg.select(
        "l_returnflag",
        "l_quantity",
        (F.coalesce(F.sum("cnt").over(w_tie), F.lit(0)) + 1).alias(
            "rank_in_flag"
        ),
        F.row_number().over(w_dense).alias("dr"),
    )
    ga = g.join(
        F.broadcast(off), g["l_returnflag"].eqNullSafe(off["l_returnflag"])
    ).drop(off["l_returnflag"])
    ta = ties.alias("t")
    ga = ga.alias("g")
    out = ga.join(
        F.broadcast(ta),
        F.col("g.l_returnflag").eqNullSafe(F.col("t.l_returnflag"))
        & F.col("g.l_quantity").eqNullSafe(F.col("t.l_quantity")),
    )
    return out.select(
        F.col("g.l_orderkey").alias("l_orderkey"),
        F.col("g.l_linenumber").alias("l_linenumber"),
        F.col("g.l_quantity").alias("l_quantity"),
        F.col("t.rank_in_flag").cast("long").alias("qty_rank"),
        F.col("t.dr").cast("long").alias("qty_dense_rank"),
        F.expr(ntile_bucket("g.grk - g.`before`", "g.n", 4))
        .cast("long")
        .alias("qty_quartile"),
    )


@register(
    "win_lag_lead",
    oracle="""
    SELECT user_id, event_id, value,
           lag(value)  OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value,
           lead(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_value,
           value - lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS delta
    FROM events
    """,
)
def win_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day delta analogue: previous/next reading per user in
    event-time order. Raw doubles pass through (identical per-row
    subtraction is bit-exact across engines — no rounding needed)."""
    events = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return events.select(
        "user_id",
        "event_id",
        "value",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
        (F.col("value") - F.lag("value").over(w)).alias("delta"),
    )


@register(
    "win_running_sum",
    oracle="""
    SELECT o_custkey, o_orderkey,
           round(sum(o_totalprice) OVER (PARTITION BY o_custkey
                                         ORDER BY o_orderdate, o_orderkey
                                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
               AS running_spend
    FROM orders
    """,
)
def win_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative per-customer spend in order-date order."""
    orders = load(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_spend"),
    )


@register(
    "win_moving_avg_rows",
    oracle="""
    SELECT user_id, event_id,
           round(avg(value) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id
                                  ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4)
               AS smoothed_value
    FROM events
    """,
)
def win_moving_avg_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-row trailing moving average (the 7-day smoothing pattern of a
    daily observation ETL), per user in event-time order."""
    events = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-6, Window.currentRow)
    )
    return events.select(
        "user_id",
        "event_id",
        F.round(F.avg("value").over(w), 4).alias("smoothed_value"),
    )


@register(
    "win_range_frame",
    oracle="""
    SELECT user_id, event_id,
           CAST(count(*) OVER w AS BIGINT) AS n_events_last_hour,
           round(sum(value) OVER w, 4) AS value_last_hour
    FROM (SELECT *, CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec FROM events)
    WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec
                 RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
    """,
)
def win_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-range frame: trailing 1 hour of events per user. Both
    engines order by the SAME second-truncated epoch (Spark's long cast
    == DuckDB floor(epoch)) so frame boundaries agree exactly; a RANGE
    frame over raw µs timestamps would need interval frames, which
    Spark's rangeBetween doesn't take."""
    events = load(spark, sf_dir, "events")
    with_sec = events.withColumn(
        "ts_sec", F.col("ts").cast("timestamp").cast("long")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_sec")
        .rangeBetween(-3600, Window.currentRow)
    )
    return with_sec.select(
        "user_id",
        "event_id",
        F.count(F.lit(1)).over(w).alias("n_events_last_hour"),
        F.round(F.sum("value").over(w), 4).alias("value_last_hour"),
    )


@register(
    "win_first_last",
    oracle="""
    SELECT o_custkey, o_orderkey,
           first_value(o_totalprice) OVER (PARTITION BY o_custkey
                                           ORDER BY o_orderdate, o_orderkey
                                           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
               AS first_order_price,
           last_value(o_totalprice) OVER (PARTITION BY o_custkey
                                          ORDER BY o_orderdate, o_orderkey
                                          ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
               AS last_order_price
    FROM orders
    """,
)
def win_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First/last value per partition with an explicit full frame —
    last_value over the default frame (ending CURRENT ROW) is the classic
    silent bug; the frame is spelled out on both sides."""
    orders = load(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.first("o_totalprice").over(w).alias("first_order_price"),
        F.last("o_totalprice").over(w).alias("last_order_price"),
    )


@register(
    "win_topk_per_group",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice
    FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders
    )
    WHERE rn <= 3
    """,
)
def win_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer — the grouped top-k pattern. Spark
    pushes a per-partition rank limit below the shuffle (WindowGroupLimit
    in 3.5+), so only candidate rows shuffle at 100 TB."""
    orders = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice")
    )


@register(
    "win_percent_rank_cume_dist",
    oracle="""
    SELECT l_returnflag, l_orderkey, l_linenumber,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cume,
           CAST(ntile(4) OVER w AS INTEGER) AS quartile
    FROM lineitem
    WINDOW w AS (PARTITION BY l_returnflag
                 ORDER BY l_extendedprice, l_orderkey, l_linenumber)
    """,
)
def win_percent_rank_cume_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative-position window functions (percent_rank/cume_dist/ntile)
    — the distributional ranking surface. Deterministic total order via
    the (price, orderkey, linenumber) sort key. Ratios rounded at 6dp:
    the divisors are exact small ints, so both engines compute
    identical doubles before rounding.

    r13 rewrite (guide §2.5, low-cardinality-window lint): the single
    window PARTITIONED the RAW corpus BY l_returnflag — 3 flags = 3
    reducers sorting everything. The within-flag position is now a
    distributed global rank over the (flag, price, okey, lineno) total
    order minus the flag's 3-row broadcast min-rank offset (§J
    pattern); since the order is fully tie-broken, rank() ≡
    row_number() ≡ that position, so percent_rank = (pos-1)/(n-1)
    (0 when n=1, the SQL definition), cume_dist = pos/n (peer group =
    1 row), and ntile is scale_rank's closed-form bucket — each the
    exact double/integer arithmetic the engine's own window operators
    perform, at any partition count."""
    from .scale_rank import ntile_bucket, with_global_rank

    li = load(spark, sf_dir, "lineitem")
    rows = li.select(
        "l_returnflag", "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    g = with_global_rank(
        rows,
        [
            F.col("l_returnflag"),
            F.col("l_extendedprice"),
            F.col("l_orderkey"),
            F.col("l_linenumber"),
        ],
        "grk",
    )
    # Per-flag first rank from RAW counts (the total order sorts flag
    # first, so first_rk(flag) = 1 + Σ earlier flags' row counts) — a
    # second reference to g would re-plan its range-shuffle subtree
    # (§I trap); this costs one extra column-pruned scan + a 3-row
    # exchange.
    w_prev = Window.orderBy("l_returnflag").rowsBetween(
        Window.unboundedPreceding, -1
    )
    off = (
        rows.groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "l_returnflag",
            "n",
            (F.coalesce(F.sum("n").over(w_prev), F.lit(0)) + 1).alias(
                "first_rk"
            ),
        )
    )
    pos = F.col("grk") - F.col("first_rk") + 1
    n = F.col("n")
    return (
        g.join(
            F.broadcast(off),
            g["l_returnflag"].eqNullSafe(off["l_returnflag"]),
        )
        .drop(off["l_returnflag"])
        .withColumn("__pos", pos)
        .select(
            "l_returnflag",
            "l_orderkey",
            "l_linenumber",
            F.round(
                F.when(
                    n > 1, (F.col("__pos") - 1).cast("double") / (n - 1)
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("pct_rank"),
            F.round(F.col("__pos").cast("double") / n, 6).alias("cume"),
            F.expr(ntile_bucket("__pos", "n", 4)).alias("quartile"),
        )
    )


@register(
    "win_running_distinct_count",
    oracle="""
    SELECT event_id, user_id,
           CAST(count(DISTINCT event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
           ) AS BIGINT) AS n_types_seen
    FROM events
    """,
)
def win_running_distinct_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running COUNT(DISTINCT) over a window — an operator Spark does
    NOT support natively (``count(distinct ...) over`` is rejected by
    the analyzer), emulated exactly with the dense_rank trick: the
    first time a (user, type) pair appears it raises a per-user
    first-occurrence flag, and a running SUM of those flags equals the
    distinct count so far. Two window passes over the SAME partition
    key — one shuffle, two in-partition sorts, no extra exchange.
    DuckDB supports the native form, making this a true cross-engine
    differential of an emulation."""
    ev = load(spark, sf_dir, "events")
    first_seen = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    running = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        ev.withColumn(
            "is_first",
            # isNotNull: COUNT(DISTINCT x) ignores NULL in SQL, so a
            # NULL event_type must not raise the first-occurrence flag
            # (caught by the NULL-key hostile rows)
            F.when(
                F.col("event_type").isNotNull()
                & (F.row_number().over(first_seen) == 1),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "n_types_seen", F.sum("is_first").over(running).cast("bigint")
        )
        .select("event_id", "user_id", "n_types_seen")
    )


@register(
    "win_nth_value",
    oracle="""
    SELECT o_orderkey, o_custkey,
           nth_value(o_totalprice, 2) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
           ) AS second_order_price,
           nth_value(o_totalprice, 2) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS second_so_far
    FROM orders
    """,
)
def win_nth_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``nth_value`` under two frames: the whole-partition frame ("the
    customer's 2nd-ever order price on every row") and the running
    frame ("2nd order seen SO FAR" — NULL until two rows have
    arrived). Frames are spelled explicitly on both engines because
    the SQL-standard default (RANGE ... CURRENT ROW) differs from what
    most users expect from nth_value; ordering tie-breaks on
    o_orderkey (G3). Same single-shuffle discipline as every window op
    here: both frames share one (o_custkey) partitioning."""
    orders = load(spark, sf_dir, "orders")
    base = (
        Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    )
    whole = base.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    running = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.nth_value("o_totalprice", 2).over(whole).alias("second_order_price"),
        F.nth_value("o_totalprice", 2).over(running).alias("second_so_far"),
    )


@register(
    "win_longest_streak",
    oracle="""
    WITH flagged AS (
      SELECT user_id, event_type, ts, event_id,
             CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type
                  THEN 1 ELSE 0 END AS brk
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), runs AS (
      SELECT user_id, event_type,
             sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS run_id
      FROM flagged
    ), run_lengths AS (
      SELECT user_id, event_type, run_id,
             CAST(count(*) AS BIGINT) AS run_len
      FROM runs GROUP BY user_id, event_type, run_id
    )
    SELECT user_id,
           max(run_len) AS longest_streak,
           arg_min(event_type,
                   CONCAT(LPAD(CAST(1000000000000000000 - run_len
                                    AS VARCHAR), 19, '0'),
                          event_type)) AS streak_type
    FROM run_lengths
    GROUP BY user_id
    """,
)
def win_longest_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest same-event-type run per user (the 'streak' analytic:
    consecutive identical states in event order) — the gaps-and-islands
    pattern turned to run-length encoding: a break flag on type change,
    a running sum numbering the runs, run lengths by groupBy, and a
    deterministic argmax (longest run, ties to the lexicographically
    first type).

    Scale shape: the break flag and run numbering stack on ONE user_id
    window (same partitioning + ordering), the run-length groupBy lands
    on the same key prefix, and the final per-user argmax is a
    composite-key arg_min — three logical steps, one shuffle."""
    ev = load(spark, sf_dir, "events")
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    brk = F.when(
        ~F.lag("event_type").over(wo).eqNullSafe(F.col("event_type")), 1
    ).otherwise(0)
    runs = ev.withColumn("brk", brk).withColumn(
        "run_id",
        F.sum("brk").over(wo.rowsBetween(Window.unboundedPreceding, 0)),
    )
    run_lengths = runs.groupBy("user_id", "event_type", "run_id").agg(
        F.count(F.lit(1)).alias("run_len")
    )
    # 10^18 sentinel: complement stays positive (lpad stays
    # lexicographic) for any run length a 100 TB table can produce
    key = F.concat(
        F.lpad(
            (F.lit(1000000000000000000) - F.col("run_len")).cast("string"),
            19,
            "0",
        ),
        F.col("event_type"),
    )
    return run_lengths.groupBy("user_id").agg(
        F.max("run_len").alias("longest_streak"),
        F.min_by("event_type", key).alias("streak_type"),
    )


@register(
    "win_pareto_8020",
    oracle="""
    WITH cents AS (
      SELECT l_returnflag, l_orderkey, l_linenumber,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c
      FROM lineitem
    ), ranked AS (
      SELECT l_returnflag,
             sum(price_c) OVER (
                 PARTITION BY l_returnflag
                 ORDER BY price_c DESC, l_orderkey, l_linenumber
                 ROWS UNBOUNDED PRECEDING) AS cum_rev_c,
             sum(price_c) OVER (PARTITION BY l_returnflag)
                 AS tot_rev_c,
             row_number() OVER (
                 PARTITION BY l_returnflag
                 ORDER BY price_c DESC, l_orderkey, l_linenumber)
                 AS rn,
             count(*) OVER (PARTITION BY l_returnflag) AS n_items
      FROM cents
    )
    SELECT l_returnflag,
           CAST(min(rn) AS BIGINT) AS items_for_80pct,
           CAST(min(n_items) AS BIGINT) AS n_items,
           floor(min(rn) * 1000000.0 / min(n_items)) / 1000000
               AS pareto_fraction
    FROM ranked
    WHERE 5 * cum_rev_c >= 4 * tot_rev_c
    GROUP BY l_returnflag
    """,
)
def win_pareto_8020(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / 80-20 concentration analysis: per group, how many of
    the highest-value line items carry 80% of revenue — the revenue-
    concentration metric behind 'focus on the head' decisions.

    Determinism: prices are quantized to integer cents BEFORE both
    window sums (the evt_daily_rollup_reaggregate pattern), so the
    unordered whole-partition total and the ordered running sum are
    both integer-exact — no summation-order sensitivity anywhere, and
    the 80% crossover (5*cum >= 4*tot, integer algebra) lands on the
    same row on every engine and every partitioning. The crossover is
    min(rn) over the qualifying suffix, monotone ⇒ no second pass.

    r13 rewrite (guide §2.5, low-cardinality-window lint): the old
    windows partitioned the RAW corpus BY l_returnflag — 3 flags = 3
    reducers sorting everything. Rank and running revenue are now ONE
    distributed range pass over the (flag, price desc, okey, lineno)
    total order (scale_rank.with_rank_and_cumsum), and the per-flag rn
    / cum_rev_c subtract the 3-row broadcast prefix of earlier flags'
    item counts / revenue totals — identical int64 values at any
    partition count."""
    from .scale_rank import with_rank_and_cumsum

    li = load(spark, sf_dir, "lineitem")
    cents = li.select(
        "l_returnflag",
        "l_orderkey",
        "l_linenumber",
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("price_c"),
    )
    g = with_rank_and_cumsum(
        cents,
        [
            F.col("l_returnflag"),
            F.col("price_c").desc(),
            F.col("l_orderkey"),
            F.col("l_linenumber"),
        ],
        ["price_c"],
        "grk",
        ["cum_all"],
    )
    # Per-flag totals from the RAW projection, not from g: a second
    # reference to g would re-plan the range-shuffle subtree (§I trap);
    # this costs one extra column-pruned scan + a 3-row exchange.
    w_prev = Window.orderBy("l_returnflag").rowsBetween(
        Window.unboundedPreceding, -1
    )
    off = (
        cents.groupBy("l_returnflag")
        .agg(
            F.sum("price_c").alias("tot_rev_c"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .select(
            "l_returnflag",
            "tot_rev_c",
            "n_items",
            F.coalesce(F.sum("tot_rev_c").over(w_prev), F.lit(0)).alias(
                "rev_before"
            ),
            F.coalesce(F.sum("n_items").over(w_prev), F.lit(0)).alias(
                "items_before"
            ),
        )
    )
    ranked = (
        g.join(
            F.broadcast(off),
            g["l_returnflag"].eqNullSafe(off["l_returnflag"]),
        )
        .drop(off["l_returnflag"])
        .withColumn("cum_rev_c", F.col("cum_all") - F.col("rev_before"))
        .withColumn("rn", F.col("grk") - F.col("items_before"))
    )
    return (
        ranked.where(5 * F.col("cum_rev_c") >= 4 * F.col("tot_rev_c"))
        .groupBy("l_returnflag")
        .agg(
            F.min("rn").alias("items_for_80pct"),
            F.min("n_items").alias("n_items"),
            (
                F.floor(F.min("rn") * 1000000.0 / F.min("n_items")) / 1000000
            ).alias("pareto_fraction"),
        )
    )


@register(
    "win_year_over_year",
    oracle="""
    WITH monthly AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
             round(sum(o_totalprice), 2) AS revenue
      FROM orders GROUP BY 1
    )
    SELECT month, revenue,
           lag(revenue, 12) OVER (ORDER BY month) AS revenue_last_year,
           round(revenue - lag(revenue, 12) OVER (ORDER BY month), 2)
               AS yoy_delta
    FROM monthly
    """,
)
def win_year_over_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year comparison: monthly revenue against the same
    month twelve rows back — the seasonally-honest growth metric (MoM
    deltas confound seasonality; YoY cancels it).

    Scale shape: the heavy lifting is the monthly aggregate (one
    map-combinable shuffle); lag(12) then runs over MONTH-cardinality
    rows, where a global window is legitimately free — the same
    reduce-first discipline as evt_cumulative_new_users, and the
    window alternative to sql_cached_cte_reuse's self-join (one pass,
    no second consumer of the aggregate at all)."""
    orders = load(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.to_date(F.date_trunc("month", "o_orderdate")).alias("month")
    ).agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    w = Window.orderBy("month")
    return monthly.select(
        "month",
        "revenue",
        F.lag("revenue", 12).over(w).alias("revenue_last_year"),
        F.round(
            F.col("revenue") - F.lag("revenue", 12).over(w), 2
        ).alias("yoy_delta"),
    )


@register(
    "win_locf_gap_fill",
    oracle="""
    WITH src AS (
      SELECT event_id, user_id, ts,
             CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v
      FROM events
    )
    SELECT event_id, user_id, v,
           last_value(v IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_locf,
           lead(v, 1 IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY ts, event_id) AS v_next_known,
           first_value(v IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_first_known
    FROM src
    """,
)
def win_locf_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IGNORE NULLS window surface — last-observation-carried-forward
    gap fill (the sensor-reading repair every telemetry ETL runs):
    error readings are NULLed out, then ``last(v, ignorenulls)`` over
    the running frame carries the previous good value forward,
    ``lead(v) IGNORE NULLS`` fetches the next good value (the
    interpolation partner), and ``first(v, ignorenulls)`` anchors the
    series. All four live on ONE user_id window — one shuffle serves
    the whole repair. Ordering ties break on event_id (G3); values
    pass through unmodified, so no rounding is needed (G2)."""
    ev = load(spark, sf_dir, "events")
    src = ev.select(
        "event_id",
        "user_id",
        "ts",
        F.when(F.col("event_type") == "error", None)
        .otherwise(F.col("value"))
        .alias("v"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return src.select(
        "event_id",
        "user_id",
        "v",
        F.last("v", ignorenulls=True).over(run).alias("v_locf"),
        # the DataFrame API has no ignoreNulls arg for lead(); the SQL
        # expression form reaches the same LEAD(..., ignoreNulls=true)
        F.expr("lead(v, 1) IGNORE NULLS").over(w).alias("v_next_known"),
        F.first("v", ignorenulls=True).over(run).alias("v_first_known"),
    )


@register(
    "win_rolling_median",
    oracle="""
    SELECT event_id, user_id,
           round(quantile_cont(value, 0.5) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 6)
             AS rolling_median,
           round(median(value) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
             AS running_median
    FROM events
    """,
)
def win_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling robust smoothing: the 5-event windowed MEDIAN per user
    (the outlier-resistant alternative to win_moving_avg_rows — one
    spiked reading cannot drag it) plus the expanding running median.
    Exact percentile as a WINDOW aggregate re-sorts each frame, so at
    100 TB this stays affordable only because frames are bounded (5
    rows) or per-user; for corpus-wide rolling quantiles the KLL
    sketch path substitutes. Median interpolation (a+b)/2 of
    parquet-exact doubles is IEEE-identical cross-engine (the
    median-fuzz property); ordering ties break on event_id (G3)."""
    ev = load(spark, sf_dir, "events")
    base = Window.partitionBy("user_id").orderBy("ts", "event_id")
    roll = base.rowsBetween(-4, Window.currentRow)
    run = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.percentile("value", F.lit(0.5)).over(roll), 6).alias(
            "rolling_median"
        ),
        F.round(F.percentile("value", F.lit(0.5)).over(run), 6).alias(
            "running_median"
        ),
    )
