"""Exact distributed ranking: rank, ntile and prefix-sum helpers that
never funnel a corpus-grain input through one task.

An unpartitioned ``Window.orderBy(...)`` over corpus-cardinality rows
runs EVERY row through one task (``Exchange SinglePartition``). The
exact fix — used by every terasort-style engine — is range ranking:

1. ``repartitionByRange`` on the order key (one shuffle; each of the P
   partitions holds a contiguous key range),
2. per-partition ``row_number`` (a window PARTITIONED by
   ``spark_partition_id()`` — never a global funnel),
3. per-partition row counts reduce to P rows; their running sum gives
   each partition's global rank offset, broadcast back,
4. global rank = offset + local row number; ``ntile``/cumulative sums
   are then pure arithmetic on (rank, n) or (offset, local running sum).

The partition-id handshake between steps 2 and 3 is made sound by a
LAZY ``localCheckpoint`` on the range-shuffled frame: both branches read
the SAME materialized RDD, so partition ids cannot diverge between the
offset computation and the rank computation (two independent range
shuffles could legally sample different bounds).

Cost model at 100 TB: two full-data shuffles (range + the pid-window
hash) instead of one single-partition funnel — the former scales with
executors, the latter with one core. The P-row offset window is bounded
by the shuffle-partition conf, not the corpus.

Fault-tolerance caveat (stated, not hidden): ``localCheckpoint`` trades
lineage for executor-local blocks — if an executor dies mid-query the
JOB fails and retries from the source rather than recomputing the lost
partition (correctness is unaffected; every retry is deterministic).
On a long-lived 1000-executor run, swap it for ``checkpoint()`` against
reliable storage — one line, same partition-id pinning guarantee.

The fixed cost (the pin, the offsets reduce and its broadcast join)
does not grow with the corpus, but it is not small: at sf0.01 and sf0.1
a global window over the same rows runs 1.6-4.5x faster (PLANS.md).
That is why the five ranked analytics in ``analytics.py`` (RFM, Lorenz,
eval win-rate, KS, token budget) keep their global window until a
fixture shows the one-task sort to be the bottleneck.

Known-index prefix sums (``with_dense_cumsum``): when the order is
already a unique integer index ``i`` known to lie in ``[1, n]`` — a
closed form computed from an earlier rank, such as the curriculum
interleave position ``10·(pos − 1) + decile`` — the range shuffle has
nothing left to discover. Bucketing each row by ``(i − 1)·P div n`` is
monotone in ``i`` and a pure function of the row, so the per-bucket
partials, the P-row offsets window and the bucket-partitioned running
window all agree on the buckets without sharing a materialized RDD:
no range sample, no pin, one hash exchange. Gaps in the index (a
filtered subset) keep the result exact and only thin the buckets.

NULL rule shared by every prefix-sum helper: a running sum is NULL iff
every value in its prefix is NULL, as in SQL — ``offset + local`` when
both are present, else whichever one is.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .materialize import pin


def _range_parted(df: DataFrame, order_cols: list[Column]) -> DataFrame:
    """Range-repartition on the sort key and pin the partitioning with a
    lazy localCheckpoint, so every downstream branch sees identical
    ``spark_partition_id()`` assignments. Adds ``__pid``.

    ``required=True``: this pin is a CORRECTNESS handshake (two
    independent range shuffles could legally sample different bounds and
    diverge the partition ids between the offset and rank branches), so
    neither the ``SPARK_GRAFT_NO_CKPT`` plan-dump knob nor the r13 size
    gate may disable it. The corpus-grain storage/fault-tolerance trade
    is the module-docstring caveat: swap for ``checkpoint()`` against
    reliable storage on long-lived clusters."""
    spark = df.sparkSession
    p = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    parted = df.repartitionByRange(p, *order_cols).transform(
        pin, required=True
    )
    return parted.withColumn("__pid", F.spark_partition_id())


def with_global_rank(
    df: DataFrame,
    order_cols: list[Column],
    rank_col: str = "rank",
    n_col: str | None = None,
) -> DataFrame:
    """Exact 1-based global rank by ``order_cols`` (which must form a
    total order — add a unique key as tiebreak) without a global-window
    funnel. Optionally attaches the total row count as ``n_col`` (from
    the P-row partition-count table, not an extra corpus pass)."""
    base = _range_parted(df, order_cols)
    counts = base.groupBy("__pid").agg(F.count(F.lit(1)).alias("__cnt"))
    w_off = Window.orderBy("__pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = counts.select(
        "__pid",
        F.coalesce(F.sum("__cnt").over(w_off), F.lit(0)).alias("__off"),
        F.sum("__cnt").over(
            Window.orderBy("__pid").rangeBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("__n"),
    )
    w_in = Window.partitionBy("__pid").orderBy(*order_cols)
    out = (
        base.withColumn("__rn", F.row_number().over(w_in))
        .join(F.broadcast(offsets), "__pid")
        .withColumn(rank_col, (F.col("__off") + F.col("__rn")).cast("bigint"))
    )
    if n_col is not None:
        out = out.withColumn(n_col, F.col("__n").cast("bigint"))
    return out.drop("__pid", "__rn", "__off", "__n")


def with_rank_and_cumsum(
    df: DataFrame,
    order_cols: list[Column],
    sum_cols: list[str],
    rank_col: str,
    cum_cols: list[str],
) -> DataFrame:
    """Exact 1-based global rank AND exact running sums over the same
    ``order_cols`` total order in ONE range shuffle (r13): the
    per-partition window computes row_number and the running sums under
    one (partition, order) spec — a single exchange+sort — and the
    P-row offset table carries both the count prefix and each sum
    prefix. Used where a query needs position and cumulative weight
    together (pareto/weighted-median shapes); two separate
    with_global_rank + with_cumsum calls would range-shuffle the corpus
    twice."""
    base = _range_parted(df, order_cols)
    partials = base.groupBy("__pid").agg(
        F.count(F.lit(1)).alias("__cnt"),
        *[F.sum(c).alias(f"__p_{c}") for c in sum_cols],
    )
    w_off = Window.orderBy("__pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = partials.select(
        "__pid",
        F.coalesce(F.sum("__cnt").over(w_off), F.lit(0)).alias("__rk_off"),
        *[F.sum(f"__p_{c}").over(w_off).alias(f"__off_{c}") for c in sum_cols],
    )
    w_in = Window.partitionBy("__pid").orderBy(*order_cols)
    w_run = w_in.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    out = (
        base.select(
            "*",
            F.row_number().over(w_in).alias("__rn"),
            *[F.sum(c).over(w_run).alias(f"__run_{c}") for c in sum_cols],
        )
        .join(F.broadcast(offsets), "__pid")
        .withColumn(
            rank_col, (F.col("__rk_off") + F.col("__rn")).cast("bigint")
        )
        .withColumns(
            {
                o: F.expr(f"CAST({_prefix_sum(c)} AS BIGINT)")
                for c, o in zip(sum_cols, cum_cols)
            }
        )
    )
    return out.drop(
        "__pid",
        "__rn",
        "__rk_off",
        *[f"__off_{c}" for c in sum_cols],
        *[f"__run_{c}" for c in sum_cols],
    )


def ntile_bucket(r: str, n: str, k: int) -> str:
    """SQL-standard ``ntile(k)`` bucket as pure integer arithmetic on a
    1-based global rank ``r`` and total count ``n`` (SQL text; the first
    n%k buckets take one extra row) — bit-identical to the
    single-partition ``F.ntile``. Shared by with_ntile and any consumer
    that already carries a distributed rank and wants the bucket without
    a second rank pass. SQL text, for ``F.expr`` or ``selectExpr``: one
    py4j call where the Column form of this tree costs ~200."""
    base, rem = f"(({n}) div {k})", f"(({n}) % {k})"
    big = f"(({base} + 1) * {rem})"  # rows in the (base+1)-sized buckets
    # when n < k every row sits in a size-1 bucket (rem = n, so r <= big
    # always holds and ELSE never divides by 0); nullif keeps ANSI happy
    return (
        f"CAST(CASE WHEN ({r}) <= {big} THEN (({r}) - 1) div ({base} + 1) + 1"
        f" ELSE {rem} + (({r}) - {big} - 1) div nullif({base}, 0) + 1"
        " END AS INT)"
    )


def with_ntile(
    df: DataFrame, order_cols: list[Column], k: int, out_col: str
) -> DataFrame:
    """Exact ``ntile(k)`` over ``order_cols`` via distributed rank: the
    SQL-standard bucket rule is arithmetic on (rank, n) — see
    ntile_bucket — proven by registering each consumer against the
    original query's oracle."""
    ranked = with_global_rank(df, order_cols, "__rank", "__ntot")
    return ranked.withColumn(
        out_col, F.expr(ntile_bucket("__rank", "__ntot", k))
    ).drop("__rank", "__ntot")


def with_cumsum(
    df: DataFrame,
    order_cols: list[Column],
    sum_cols: list[str],
    out_cols: list[str],
) -> DataFrame:
    """Exact running sums of ``sum_cols`` in ``order_cols`` order
    (rows unbounded-preceding..current) without a global-window funnel:
    per-partition running sums plus broadcast per-partition prefix
    offsets — the distributed prefix-sum."""
    base = _range_parted(df, order_cols)
    partials = base.groupBy("__pid").agg(
        *[F.sum(c).alias(f"__p_{c}") for c in sum_cols]
    )
    w_off = Window.orderBy("__pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = partials.select(
        "__pid",
        *[F.sum(f"__p_{c}").over(w_off).alias(f"__off_{c}") for c in sum_cols],
    )
    w_in = (
        Window.partitionBy("__pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = (
        base.select(
            "*", *[F.sum(c).over(w_in).alias(f"__run_{c}") for c in sum_cols]
        )
        .join(F.broadcast(offsets), "__pid")
        .withColumns(
            {
                o: F.expr(f"CAST({_prefix_sum(c)} AS BIGINT)")
                for c, o in zip(sum_cols, out_cols)
            }
        )
    )
    return out.drop(
        "__pid",
        *[f"__off_{c}" for c in sum_cols],
        *[f"__run_{c}" for c in sum_cols],
    )


def with_dense_cumsum(
    df: DataFrame,
    idx_col: str,
    n_col: str,
    sum_cols: list[str],
    out_cols: list[str],
) -> DataFrame:
    """Exact running sums of ``sum_cols`` in ``idx_col`` order, where
    ``idx_col`` is a unique integer index known to lie in
    ``[1, n_col]`` (``n_col`` carries the same n on every row). The
    bucket ``(idx − 1)·P div n`` replaces the range shuffle and its
    pin (module docstring): per-bucket partials, a P-row offsets
    window, and one running window partitioned by bucket. Built from
    SQL text, so it costs a few dozen py4j calls, not hundreds."""
    p = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    base = df.selectExpr("*", f"({idx_col} - 1) * {p} div {n_col} AS __bkt")
    offsets = (
        base.groupBy("__bkt")
        .agg(*[F.expr(f"sum({c}) AS __p_{c}") for c in sum_cols])
        .selectExpr(
            "__bkt",
            *[
                f"sum(__p_{c}) OVER (ORDER BY __bkt ROWS BETWEEN "
                f"UNBOUNDED PRECEDING AND 1 PRECEDING) AS __off_{c}"
                for c in sum_cols
            ],
        )
    )
    run = base.selectExpr(
        "*",
        *[
            f"sum({c}) OVER (PARTITION BY __bkt ORDER BY {idx_col} ROWS "
            f"BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS __run_{c}"
            for c in sum_cols
        ],
    )
    return (
        run.join(F.broadcast(offsets), "__bkt")
        .selectExpr(
            "*", *[f"{_prefix_sum(c)} AS {o}" for c, o in zip(sum_cols, out_cols)]
        )
        .drop(
            "__bkt",
            *[f"__off_{c}" for c in sum_cols],
            *[f"__run_{c}" for c in sum_cols],
        )
    )


def _prefix_sum(c: str) -> str:
    """SQL text of the global running sum of ``c`` from its bucket
    offset ``__off_c`` (sum over earlier buckets) and local running sum
    ``__run_c``, with SQL's NULL rule: NULL only when both are NULL."""
    return f"coalesce(__off_{c} + __run_{c}, __off_{c}, __run_{c})"
