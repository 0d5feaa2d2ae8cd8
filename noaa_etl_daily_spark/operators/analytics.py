"""Advanced analytics operators (SURVEY.md §2.12, round-4 additions).

Data-science shapes a warehouse team runs daily — market-basket affinity,
inequality/concentration indices, Benford-law data-quality screening,
inter-arrival latency profiles, readability scoring. Spark-first design
notes per operator; the shared discipline is the repo-wide one:

- exact integer arithmetic (cents / counts / epoch-µs) wherever a sum
  crosses an exchange, so summation order can never change the answer;
- divisions and logs happen once per OUTPUT row and are quantized with
  ``round(..., 6)`` identically on both engines;
- every join/aggregate keys on a real entity key so one logical shuffle
  serves each query stage; windows only ever run over group-cardinality
  rows (brands², customers-per-segment, event types), never raw facts.
"""

from __future__ import annotations

import os as _os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..registry import REGISTRY, register
from ..tables import load
from .materialize import input_size_bytes, pin

#: The one oracle that reads parquet FOOTERS (not the table views) must
#: point at the same fixture dir the harness binds its views to —
#: conftest honors SPARK_GRAFT_TEST_SF_DIR, and the driver always runs
#: at the default, so both resolve consistently.
_ORACLE_SF_DIR = _os.environ.get(
    "SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01"
)


@register(
    "pipeline_basket_affinity",
    oracle="""
    WITH order_brand AS (
        SELECT DISTINCT l.l_orderkey, p.p_brand
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ),
    n_orders AS (
        SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_tot
        FROM order_brand
    ),
    brand_counts AS (
        SELECT p_brand, CAST(count(*) AS BIGINT) AS n_brand
        FROM order_brand GROUP BY p_brand
    ),
    pair_counts AS (
        SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
               CAST(count(*) AS BIGINT) AS n_ab
        FROM order_brand a
        JOIN order_brand b
          ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
        GROUP BY a.p_brand, b.p_brand
    )
    SELECT brand_a, brand_b, n_ab,
           round(CAST(n_ab AS DOUBLE) / n_tot, 6)                 AS support,
           round(CAST(n_ab AS DOUBLE) / ca.n_brand, 6)            AS confidence,
           round(CAST(n_ab AS DOUBLE) * n_tot
                 / (CAST(ca.n_brand AS DOUBLE) * cb.n_brand), 6)  AS lift
    FROM pair_counts
    JOIN brand_counts ca ON pair_counts.brand_a = ca.p_brand
    JOIN brand_counts cb ON pair_counts.brand_b = cb.p_brand
    CROSS JOIN n_orders
    WHERE n_ab >= 5
    ORDER BY lift DESC, brand_a, brand_b
    LIMIT 20
    """,
)
def pipeline_basket_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules (support / confidence / lift) over
    co-purchased part brands.

    Scale design: the corpus-sized work is ONE dedup to the
    (order, brand) grain — ≤25 brand rows per order regardless of how
    many lineitems an order has — so the self-join fan-out is bounded at
    C(25,2) = 300 candidate pairs per order, co-partitioned on
    l_orderkey (the dedup's own shuffle key, reused by the self-join).
    Brand marginals and the order total are 25-row / 1-row broadcasts.
    All counts are exact integers; support/confidence/lift are one
    quantized division per OUTPUT row (≤300 rows), so the result is
    bit-identical cross-engine.
    """
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    order_brand = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .select("l_orderkey", "p_brand")
        .distinct()
    )
    # r12 (census + plan audit): referenced by several downstream
    # branches and re-planned per reference (repeated corpus scans /
    # re-paid shuffles). r13: the frame's grain GROWS WITH THE CORPUS,
    # so the pin is size-gated — one pinned evaluation while the
    # bounding input is small, recompute (lineage kept, bounded
    # executor storage) at scale; rows are bit-identical either way.
    order_brand = order_brand.transform(
        pin, approx_input_bytes=input_size_bytes(sf_dir, "lineitem")
    )
    n_orders = order_brand.agg(
        F.countDistinct("l_orderkey").alias("n_tot")
    )
    brand_counts = order_brand.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_brand")
    )
    brand_counts = brand_counts.transform(pin)
    a = order_brand.alias("a")
    b = order_brand.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.p_brand") < F.col("b.p_brand")),
        )
        .groupBy(
            F.col("a.p_brand").alias("brand_a"),
            F.col("b.p_brand").alias("brand_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= 5)
    )
    ca = brand_counts.select(
        F.col("p_brand").alias("brand_a"), F.col("n_brand").alias("n_a")
    )
    cb = brand_counts.select(
        F.col("p_brand").alias("brand_b"), F.col("n_brand").alias("n_b")
    )
    return (
        pairs.join(F.broadcast(ca), "brand_a")
        .join(F.broadcast(cb), "brand_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "brand_a",
            "brand_b",
            "n_ab",
            F.round(F.col("n_ab").cast("double") / F.col("n_tot"), 6).alias(
                "support"
            ),
            F.round(F.col("n_ab").cast("double") / F.col("n_a"), 6).alias(
                "confidence"
            ),
            F.round(
                F.col("n_ab").cast("double")
                * F.col("n_tot")
                / (F.col("n_a").cast("double") * F.col("n_b")),
                6,
            ).alias("lift"),
        )
        .orderBy(F.col("lift").desc(), "brand_a", "brand_b")
        .limit(20)
    )


@register(
    "agg_gini_concentration",
    oracle="""
    WITH cust_rev AS (
        SELECT c.c_mktsegment,
               c.c_custkey,
               CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS rev_cents
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY c.c_mktsegment, c.c_custkey
    ),
    ranked AS (
        SELECT c_mktsegment, rev_cents,
               row_number() OVER (
                   PARTITION BY c_mktsegment
                   ORDER BY rev_cents, c_custkey
               ) AS rn
        FROM cust_rev
    )
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(rev_cents) AS BIGINT) AS total_cents,
           round(2.0 * sum(rn * rev_cents)
                 / (count(*) * CAST(sum(rev_cents) AS DOUBLE))
                 - (count(*) + 1.0) / count(*), 6) AS gini
    FROM ranked
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def agg_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini concentration index of customer revenue per market segment
    (the revenue-inequality sibling of win_pareto_8020).

    Scale design: lineitem reduces to customer grain in ONE keyed
    aggregate (integer cents, order-independent); the ranking window and
    the final aggregate then run over customers-per-segment rows only —
    at 100 TB that is the |customer| table, never the fact table. The
    Gini closed form 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n uses exact integer
    Σ(i·xᵢ) and Σx, so the single quantized division per segment is
    bit-identical cross-engine; ties rank deterministically by custkey.
    """
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    cents = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    cust_rev = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment", "c_custkey")
        .agg(F.sum(cents).alias("rev_cents"))
    )
    w = Window.partitionBy("c_mktsegment").orderBy("rev_cents", "c_custkey")
    ranked = cust_rev.withColumn("rn", F.row_number().over(w))
    n = F.count(F.lit(1))
    tot = F.sum("rev_cents")
    return (
        ranked.groupBy("c_mktsegment")
        .agg(
            n.alias("n_customers"),
            tot.alias("total_cents"),
            F.round(
                2.0 * F.sum(F.col("rn") * F.col("rev_cents"))
                / (n * tot.cast("double"))
                - (n + F.lit(1.0)) / n,
                6,
            ).alias("gini"),
        )
        .orderBy("c_mktsegment")
    )


@register(
    "agg_benford_digit_quality",
    oracle="""
    WITH digits AS (
        SELECT substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                      AS VARCHAR), 1, 1) AS first_digit
        FROM orders
        WHERE o_totalprice > 0
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_tot FROM digits)
    SELECT first_digit,
           CAST(count(*) AS BIGINT) AS n_obs,
           round(CAST(count(*) AS DOUBLE) / n_tot, 6) AS obs_share,
           round(log10(1.0 + 1.0 / CAST(first_digit AS INT)), 6)
               AS benford_share,
           round(CAST(count(*) AS DOUBLE) / n_tot
                 - log10(1.0 + 1.0 / CAST(first_digit AS INT)), 6)
               AS deviation
    FROM digits CROSS JOIN tot
    GROUP BY first_digit, n_tot
    ORDER BY first_digit
    """,
)
def agg_benford_digit_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-significant-digit screening over order totals —
    the classic fabricated-data / unit-mixup detector for financial ETL.

    Scale design: the first digit is taken from the INTEGER cents value
    rendered as a string (integer→string is byte-identical cross-engine;
    ×100 shifts the decimal point without changing the leading digit), so
    the whole query is one 9-group hash aggregate plus a 1-row total
    broadcast. The only floats are the 9 output-row shares and the
    log10 Benford expectation, each quantized once.
    """
    orders = load(spark, sf_dir, "orders").select("o_totalprice")
    digits = orders.filter(F.col("o_totalprice") > 0).select(
        F.substring(
            F.round(F.col("o_totalprice") * 100).cast("bigint").cast("string"),
            1,
            1,
        ).alias("first_digit")
    )
    tot = digits.agg(F.count(F.lit(1)).alias("n_tot"))
    benford = F.round(
        F.log10(1.0 + 1.0 / F.col("first_digit").cast("int")), 6
    )
    return (
        digits.crossJoin(F.broadcast(tot))
        .groupBy("first_digit", "n_tot")
        .agg(F.count(F.lit(1)).alias("n_obs"))
        .select(
            "first_digit",
            "n_obs",
            F.round(F.col("n_obs").cast("double") / F.col("n_tot"), 6).alias(
                "obs_share"
            ),
            benford.alias("benford_share"),
            F.round(
                F.col("n_obs").cast("double") / F.col("n_tot")
                - F.log10(1.0 + 1.0 / F.col("first_digit").cast("int")),
                6,
            ).alias("deviation"),
        )
        .orderBy("first_digit")
    )


@register(
    "evt_inter_arrival_stats",
    oracle="""
    WITH gaps AS (
        SELECT event_type,
               CAST(epoch_us(ts) - lag(epoch_us(ts)) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS BIGINT) AS gap_us
        FROM events
    )
    SELECT event_type,
           CAST(count(gap_us) AS BIGINT)            AS n_gaps,
           round(quantile_cont(gap_us, 0.5), 4)     AS median_gap_us,
           round(quantile_cont(gap_us, 0.9), 4)     AS p90_gap_us,
           CAST(max(gap_us) AS BIGINT)              AS max_gap_us
    FROM gaps
    WHERE gap_us IS NOT NULL
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def evt_inter_arrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type inter-arrival latency profile: the gap from each user's
    previous event to this one, summarized as median/p90/max — the
    latency-SLO view of user activity cadence.

    Scale design: gaps are exact epoch-µs BIGINT differences computed
    under ONE user_id window shuffle (event_id tiebreak makes lag
    deterministic); the percentile aggregate then groups by event type —
    5 groups. Exact ``percentile`` ↔ ``quantile_cont`` interpolation is
    (a+b)/2 IEEE-exact on integer inputs (the repo's median-fuzz result),
    quantized at 4dp only to guard the p90 interpolation's x·0.9 term.
    """
    ev = load(spark, sf_dir, "events").select("event_id", "ts", "user_id", "event_type")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        "event_type",
        (us - F.lag(us).over(w)).cast("bigint").alias("gap_us"),
    ).filter(F.col("gap_us").isNotNull())
    return (
        gaps.groupBy("event_type")
        .agg(
            F.count("gap_us").alias("n_gaps"),
            F.round(F.expr("percentile(gap_us, 0.5)"), 4).alias("median_gap_us"),
            F.round(F.expr("percentile(gap_us, 0.9)"), 4).alias("p90_gap_us"),
            F.max("gap_us").alias("max_gap_us"),
        )
        .orderBy("event_type")
    )


@register(
    "llm_readability_complexity",
    oracle="""
    WITH scored AS (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
               CAST(list_aggregate(
                   list_transform(
                       string_split(text, ' '),
                       w -> len(regexp_extract_all(w, '[aeiou]+'))
                   ), 'sum') AS BIGINT) AS n_syllables,
               CAST(len(list_filter(
                   string_split(text, ' '),
                   w -> len(regexp_extract_all(w, '[aeiou]+')) >= 3
               )) AS BIGINT) AS n_polysyllabic,
               n_chars
        FROM documents
    )
    SELECT doc_id, n_words, n_syllables, n_polysyllabic,
           round(CAST(n_syllables AS DOUBLE) / n_words, 6)    AS avg_syllables,
           round(CAST(n_polysyllabic AS DOUBLE) / n_words, 6) AS poly_share,
           round(CAST(n_chars - (n_words - 1) AS DOUBLE) / n_words, 6)
               AS avg_word_len
    FROM scored
    ORDER BY doc_id
    """,
)
def llm_readability_complexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Readability / lexical-complexity scoring per document: vowel-group
    syllable estimate, polysyllabic-word share, average word length — the
    SMOG/ARI-style difficulty signals a corpus-quality filter thresholds on.

    Scale design: ZERO shuffles — every metric is a scan-stage
    higher-order-function fold over the token array (one tokenization,
    reused by all three counters), so the operator is map-only and
    codegen-fused at any scale. Counts are exact integers; the three
    per-doc ratios are quantized divisions. The syllable regex
    ``[aeiou]+`` sits in the dialect-common subset both engines compile
    identically.
    """
    docs = load(spark, sf_dir, "documents").select("doc_id", "text", "n_chars")
    toks = F.split(F.col("text"), " ")
    syll = "size(regexp_extract_all(w, '[aeiou]+', 0))"
    return (
        docs.select(
            "doc_id",
            F.size(toks).alias("n_words"),
            F.expr(
                f"aggregate(transform(split(text, ' '), w -> {syll}), "
                "0L, (acc, x) -> acc + x)"
            ).alias("n_syllables"),
            F.expr(
                f"size(filter(split(text, ' '), w -> {syll} >= 3))"
            ).cast("bigint").alias("n_polysyllabic"),
            "n_chars",
        )
        .select(
            "doc_id",
            "n_words",
            "n_syllables",
            "n_polysyllabic",
            F.round(
                F.col("n_syllables").cast("double") / F.col("n_words"), 6
            ).alias("avg_syllables"),
            F.round(
                F.col("n_polysyllabic").cast("double") / F.col("n_words"), 6
            ).alias("poly_share"),
            F.round(
                (F.col("n_chars") - (F.col("n_words") - 1)).cast("double")
                / F.col("n_words"),
                6,
            ).alias("avg_word_len"),
        )
        .orderBy("doc_id")
    )


@register(
    "join_bloom_prefilter",
    oracle="""
    SELECT l.l_returnflag,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))
                AS BIGINT) AS revenue_cents
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderpriority = '1-URGENT'
    GROUP BY l.l_returnflag
    ORDER BY l.l_returnflag
    """,
)
def join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join reduction (runtime row-level filtering built
    from primitives): the filtered build side publishes a 64 Kbit Bloom
    bitmap; the fact scan probes it BEFORE the real join, so only
    candidate rows (true matches + a bounded false-positive trickle) pay
    the join shuffle. The oracle is the PLAIN join — Bloom filters have
    no false negatives, so prefilter + join must equal join exactly.

    Scale design: this is the hand-built form of Spark's
    ``spark.sql.optimizer.runtime.bloomFilter.enabled`` injection, built
    explicitly so m/k are controllable. The bitmap aggregate is ~1024
    rows (bit_or of 64-bit words), broadcast to the fact side as k=3
    broadcast hash joins — the fact table never shuffles until it has
    been reduced to candidates. At 100 TB with a 1%-selective build
    side, shuffle bytes drop ~100× for the cost of one tiny broadcast.
    False positives are eliminated by the real join; with m=65536,
    k=3 and ~3k keys the FP rate is ~0.2%.
    """
    m = 1 << 16
    k = 3
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_extendedprice"
    )
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    # r12 (census + plan audit): build feeds the three bitmap hash
    # rounds and the final exact join, and the 1 Kword bitmap is
    # re-derived per probe round — the physical plan scanned orders 10
    # times. Lazy localCheckpoints of the two REDUCED frames (selective
    # key set; 1024-row bitmap) pin one evaluation each, so orders is
    # scanned once; hash/integer arithmetic → identical rows.
    build = (
        orders.filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey")
        .transform(pin, approx_input_bytes=input_size_bytes(sf_dir, "orders"))
    )

    def pos_expr(key: str, i: int):
        return F.pmod(F.xxhash64(F.col(key), F.lit(i)), F.lit(m))

    mask_of = "shiftleft(cast(1 as bigint), cast({p} % 64 as int))"

    bitmap = None
    for i in range(k):
        part = build.withColumn("pos", pos_expr("o_orderkey", i)).select(
            F.floor(F.col("pos") / 64).cast("int").alias("word"),
            F.expr(mask_of.format(p="pos")).alias("mask"),
        )
        bitmap = part if bitmap is None else bitmap.unionByName(part)
    bitmap = (
        bitmap.groupBy("word")
        .agg(F.bit_or("mask").alias("bits"))
        .transform(pin)
    )

    probe = li
    for i in range(k):
        bm = bitmap.select(
            F.col("word").alias(f"w{i}"), F.col("bits").alias(f"b{i}")
        )
        probe = (
            probe.withColumn(f"pos{i}", pos_expr("l_orderkey", i))
            .withColumn(f"word{i}", F.floor(F.col(f"pos{i}") / 64).cast("int"))
            .withColumn(f"mask{i}", F.expr(mask_of.format(p=f"pos{i}")))
            .join(F.broadcast(bm), F.col(f"word{i}") == F.col(f"w{i}"), "left")
            .filter(F.col(f"b{i}").bitwiseAND(F.col(f"mask{i}")) != 0)
        )
    candidates = probe.select("l_orderkey", "l_returnflag", "l_extendedprice")
    cents = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    return (
        candidates.join(build, candidates.l_orderkey == build.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(cents).alias("revenue_cents"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "win_ewma_bounded",
    oracle="""
    WITH daily AS (
        SELECT event_type,
               date_trunc('day', ts) AS day,
               CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT)
                   AS val_micro
        FROM events
        GROUP BY event_type, date_trunc('day', ts)
    ),
    framed AS (
        SELECT event_type, day, val_micro,
               list(CAST(val_micro AS DOUBLE)) OVER (
                   PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN 7 PRECEDING AND CURRENT ROW
               ) AS frame
        FROM daily
    )
    SELECT event_type, day, val_micro,
           round(
               list_reduce(frame, (acc, x) -> acc * 0.5 + x)
               / list_reduce(list_transform(frame, x -> CAST(1.0 AS DOUBLE)),
                             (acc, x) -> acc * 0.5 + x)
               / 1000000.0, 6) AS ewma
    FROM framed
    ORDER BY event_type, day
    """,
)
def win_ewma_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-horizon EWMA smoothing (α=½) of the daily value series per
    event type — the time-decay trend line dashboards draw, as a window op.

    Scale design: the corpus reduces to (type, day) grain in ONE
    integer-µ-unit aggregate; the EWMA then runs over day-cardinality
    rows only. The decay fold is an ordered left fold ``acc·0.5 + x``
    over the 8-row frame (collect_list/list respect frame order in both
    engines), and α=½ makes every weight a dyadic rational — the fold is
    IEEE-exact and order-identical cross-engine, normalized by the same
    fold over ones (handles the short frames at series start). Exact
    recursive EWMA over unbounded history needs sequential state — that
    form lives in the streaming mirrors; the bounded frame (weights
    below 2⁻⁸ truncated) is the batch-parallel shape.
    """
    ev = load(spark, sf_dir, "events").select("ts", "event_type", "value")
    micro = F.round(F.col("value") * 1000000).cast("bigint")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.sum(micro).alias("val_micro"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-7, Window.currentRow)
    )
    framed = daily.withColumn(
        "frame", F.collect_list(F.col("val_micro").cast("double")).over(w)
    )
    fold = "aggregate(frame, cast(0.0 as double), (acc, x) -> acc * 0.5 + x)"
    norm = (
        "aggregate(transform(frame, x -> cast(1.0 as double)), "
        "cast(0.0 as double), (acc, x) -> acc * 0.5 + x)"
    )
    return framed.select(
        "event_type",
        "day",
        "val_micro",
        F.round(F.expr(fold) / F.expr(norm) / 1000000.0, 6).alias("ewma"),
    ).orderBy("event_type", "day")


@register(
    "evt_business_days_sla",
    oracle="""
    WITH latency AS (
        SELECT o.o_orderpriority,
               -- weekdays in (orderdate, shipdate]: g(m) = 5*(m/7) +
               -- min(m%7, 5) counts weekdays from the Monday origin
               -- 1969-12-29; m = epoch_days + 3 (+1 for the exclusive
               -- start bound)
               CAST(
                 (5 * ((date_diff('day', DATE '1970-01-01',
                                  CAST(l.l_shipdate AS DATE)) + 4) // 7)
                  + least((date_diff('day', DATE '1970-01-01',
                                     CAST(l.l_shipdate AS DATE)) + 4) % 7, 5))
                 -
                 (5 * ((date_diff('day', DATE '1970-01-01',
                                  CAST(o.o_orderdate AS DATE)) + 4) // 7)
                  + least((date_diff('day', DATE '1970-01-01',
                                     CAST(o.o_orderdate AS DATE)) + 4) % 7, 5))
                 AS BIGINT) AS biz_days
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
    )
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT)       AS n_lineitems,
           CAST(min(biz_days) AS BIGINT)  AS min_biz_days,
           CAST(max(biz_days) AS BIGINT)  AS max_biz_days,
           round(avg(biz_days), 6)        AS avg_biz_days
    FROM latency
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def evt_business_days_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order→ship latency in BUSINESS days (weekends excluded) per order
    priority — the SLA arithmetic ops teams actually report, computed in
    closed form (no calendar table, no per-day explode).

    Scale design: weekday counting uses the closed form g(m) = 5·⌊m/7⌋ +
    min(m mod 7, 5) with m = epoch_days+4 anchored to a Monday origin —
    pure integer arithmetic on epoch days, engine-exact and scan-stage
    (the G4 dayofweek-numbering hazard never enters). One fact join on
    the shared orderkey, one 5-group aggregate. avg() of exact integers
    is the only float, quantized once per output row.
    """
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"
    )

    def weekdays_to(d):
        m = F.datediff(d.cast("date"), F.lit("1970-01-01").cast("date")) + 4
        return 5 * F.floor(m / 7) + F.least(m % 7, F.lit(5))

    joined = li.join(orders, li.l_orderkey == orders.o_orderkey)
    biz = (
        weekdays_to(F.col("l_shipdate")) - weekdays_to(F.col("o_orderdate"))
    ).cast("bigint")
    return (
        joined.select("o_orderpriority", biz.alias("biz_days"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lineitems"),
            F.min("biz_days").alias("min_biz_days"),
            F.max("biz_days").alias("max_biz_days"),
            F.round(F.avg("biz_days"), 6).alias("avg_biz_days"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "sql_execute_immediate",
    oracle="""
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_customers,
           round(sum(c_acctbal), 2) AS total_balance
    FROM customer
    WHERE c_acctbal > 1000.0
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def sql_execute_immediate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 EXECUTE IMMEDIATE: dynamic SQL with positional parameter
    binding — the templated-report surface (a query string built by a
    scheduler, parameters bound server-side instead of string-spliced).

    Scale design: parameters are bound as literals BEFORE analysis, so
    the bound plan is identical to the inlined query — the threshold
    constant-folds and pushes into the parquet scan exactly like
    sql_parameterized_query's named markers (this key locks the
    positional USING form). The oracle is the inlined query: binding
    must never change semantics.
    """
    cust = load(spark, sf_dir, "customer")
    cust.createOrReplaceTempView("ei_customer")
    return spark.sql(
        """
        EXECUTE IMMEDIATE
        'SELECT c_mktsegment,
                count(*)                 AS n_customers,
                round(sum(c_acctbal), 2) AS total_balance
         FROM ei_customer
         WHERE c_acctbal > ?
         GROUP BY c_mktsegment
         ORDER BY c_mktsegment'
        USING 1000.0
        """
    )


_GEO32 = "0123456789bcdefghjkmnpqrstuvwxyz"


@register(
    "fn_geohash_encode",
    oracle="""
    WITH pts AS (
        SELECT s_suppkey,
               CAST(s_suppkey * 7 % 180 - 90 AS BIGINT)   AS lat,
               CAST(s_suppkey * 13 % 360 - 180 AS BIGINT) AS lon
        FROM supplier
    ),
    cells AS (
        SELECT s_suppkey, lat, lon,
               (lat + 90) * 32768 // 180  AS lat_idx,
               (lon + 180) * 32768 // 360 AS lon_idx
        FROM pts
    ),
    z AS (
        SELECT s_suppkey, lat, lon,
               list_aggregate(
                   list_transform(generate_series(0, 14), j ->
                       ((lon_idx // CAST(pow(2, 14 - j) AS BIGINT)) % 2)
                           * CAST(pow(2, 29 - 2 * j) AS BIGINT)
                       + ((lat_idx // CAST(pow(2, 14 - j) AS BIGINT)) % 2)
                           * CAST(pow(2, 28 - 2 * j) AS BIGINT)),
                   'sum') AS zval
        FROM cells
    )
    SELECT s_suppkey, lat, lon,
           substr('0123456789bcdefghjkmnpqrstuvwxyz',
                  CAST((zval // 33554432) % 32 AS INT) + 1, 1) ||
           substr('0123456789bcdefghjkmnpqrstuvwxyz',
                  CAST((zval // 1048576) % 32 AS INT) + 1, 1) ||
           substr('0123456789bcdefghjkmnpqrstuvwxyz',
                  CAST((zval // 32768) % 32 AS INT) + 1, 1) ||
           substr('0123456789bcdefghjkmnpqrstuvwxyz',
                  CAST((zval // 1024) % 32 AS INT) + 1, 1) ||
           substr('0123456789bcdefghjkmnpqrstuvwxyz',
                  CAST((zval // 32) % 32 AS INT) + 1, 1) ||
           substr('0123456789bcdefghjkmnpqrstuvwxyz',
                  CAST(zval % 32 AS INT) + 1, 1) AS geohash6
    FROM z
    ORDER BY s_suppkey
    """,
)
def fn_geohash_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geohash encoding (6-char base32) of station coordinates — the
    spatial bucketing key that blocks geo joins (the grid-cell discipline
    fn_haversine_distance's docstring promises). Standard geohash bit
    layout: lon/lat cell indices at 15 bits each, interleaved lon-first
    from the MSB, then base32-rendered 5 bits per character.

    Scale design: pure scan-stage integer arithmetic (quantize → shift →
    interleave → table-lookup), zero shuffles, no floats anywhere —
    engine-exact by construction. Pseudo-coordinates derive from supplier
    keys exactly as in fn_haversine_distance (fixtures carry no lat/lon).
    At 100 TB the emitted geohash is the equi-join/partition key that
    turns O(n²) radius joins into neighboring-cell hash joins.
    """
    supplier = load(spark, sf_dir, "supplier").select("s_suppkey")
    pts = supplier.select(
        "s_suppkey",
        (F.col("s_suppkey") * 7 % 180 - 90).cast("bigint").alias("lat"),
        (F.col("s_suppkey") * 13 % 360 - 180).cast("bigint").alias("lon"),
    )
    cells = pts.select(
        "s_suppkey",
        "lat",
        "lon",
        F.expr("(lat + 90) * 32768 div 180").alias("lat_idx"),
        F.expr("(lon + 180) * 32768 div 360").alias("lon_idx"),
    )
    zbits = sum(
        (
            F.expr(f"(lon_idx div {1 << (14 - j)}) % 2") * (1 << (29 - 2 * j))
            + F.expr(f"(lat_idx div {1 << (14 - j)}) % 2") * (1 << (28 - 2 * j))
        )
        for j in range(15)
    )
    z = cells.withColumn("zval", zbits.cast("bigint"))
    # substring with a dynamic start needs expr(); build the 6 chars off
    # 5-bit slices of zval from the MSB down
    chars = [
        F.expr(
            f"substr('{_GEO32}', cast((zval div {1 << (25 - 5 * c)}) % 32 "
            "as int) + 1, 1)"
        )
        for c in range(6)
    ]
    return z.select(
        "s_suppkey",
        "lat",
        "lon",
        F.concat(*chars).alias("geohash6"),
    ).orderBy("s_suppkey")


@register(
    "llm_bpe_merge_step",
    oracle="""
    WITH word_freq AS (
        SELECT w AS word, CAST(count(*) AS BIGINT) AS freq
        FROM (SELECT unnest(string_split(lower(text), ' ')) AS w
              FROM documents)
        WHERE len(w) >= 2
        GROUP BY w
    ),
    pair_counts AS (
        SELECT p AS pair, CAST(sum(freq) AS BIGINT) AS n
        FROM (
            SELECT freq,
                   unnest(list_transform(
                       generate_series(1, len(word) - 1),
                       i -> substr(word, CAST(i AS INT), 2))) AS p
            FROM word_freq
        )
        GROUP BY p
    )
    SELECT pair, n
    FROM pair_counts
    ORDER BY n DESC, pair
    LIMIT 20
    """,
)
def llm_bpe_merge_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE-training merge step: count adjacent character pairs
    weighted by word frequency and surface the top merge candidates —
    the inner loop of byte-pair-encoding tokenizer training.

    Scale design: the REAL BPE trick is executed, not simulated — the
    corpus collapses to the word-frequency table first (one vocab-bounded
    shuffle), and pair extraction then explodes over VOCAB rows, never
    raw text; each further merge iteration would rewrite only the vocab
    table. Pair counts are exact integers (sum of freqs), the top-20 is
    deterministic via the (count desc, pair) tiebreak — no floats in the
    whole query.
    """
    docs = load(spark, sf_dir, "documents").select("text")
    words = docs.select(
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("word")
    ).filter(F.length("word") >= 2)
    word_freq = words.groupBy("word").agg(F.count(F.lit(1)).alias("freq"))
    pairs = word_freq.select(
        "freq",
        F.explode(
            F.expr(
                "transform(sequence(1, length(word) - 1), "
                "i -> substring(word, i, 2))"
            )
        ).alias("pair"),
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("freq").alias("n"))
        .orderBy(F.col("n").desc(), "pair")
        .limit(20)
    )


@register(
    "validate_profile_census",
    oracle="""
    SELECT 'o_totalprice' AS column_name,
           CAST(count(*) AS BIGINT)                        AS n_rows,
           CAST(count(o_totalprice) AS BIGINT)             AS n_nonnull,
           CAST(count(DISTINCT o_totalprice) AS BIGINT)    AS n_distinct,
           -- doubles render through DECIMAL(38,2): the engines'
           -- double→string codecs disagree on the scientific-notation
           -- threshold ('1.0E12' vs '1000000000000.0', G4) once a
           -- hostile magnitude appears; decimal rendering is fixed
           CAST(CAST(min(o_totalprice) AS DECIMAL(38,2)) AS VARCHAR)
               AS min_repr,
           CAST(CAST(max(o_totalprice) AS DECIMAL(38,2)) AS VARCHAR)
               AS max_repr
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus',
           CAST(count(*) AS BIGINT), CAST(count(o_orderstatus) AS BIGINT),
           CAST(count(DISTINCT o_orderstatus) AS BIGINT),
           CAST(min(o_orderstatus) AS VARCHAR),
           CAST(max(o_orderstatus) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_custkey',
           CAST(count(*) AS BIGINT), CAST(count(o_custkey) AS BIGINT),
           CAST(count(DISTINCT o_custkey) AS BIGINT),
           CAST(min(o_custkey) AS VARCHAR), CAST(max(o_custkey) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority',
           CAST(count(*) AS BIGINT), CAST(count(o_orderpriority) AS BIGINT),
           CAST(count(DISTINCT o_orderpriority) AS BIGINT),
           CAST(min(o_orderpriority) AS VARCHAR),
           CAST(max(o_orderpriority) AS VARCHAR)
    FROM orders
    ORDER BY column_name
    """,
)
def validate_profile_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-profiling census (the ingest-gate health report): per-column
    row/non-null/distinct counts and min/max rendered as strings — the
    summary a pipeline publishes before downstream jobs trust a batch.

    Scale design: ALL columns profile in ONE pass — a single wide
    aggregate computes every per-column statistic simultaneously (one
    corpus scan, one reduce), then a bounded 4-row stack reshapes the
    1-row wide result long. Spark plans the multi-distinct via one
    Expand; at 100 TB the distinct counts swap to approx_count_distinct
    with the same plan shape (the documented sketch path). min/max
    rendered via CAST AS STRING keeps one schema across numeric and
    string columns; doubles render identically cross-engine for these
    2-dp fixture values.
    """
    orders = load(spark, sf_dir, "orders")
    cols = ["o_totalprice", "o_orderstatus", "o_custkey", "o_orderpriority"]
    # doubles render through DECIMAL(38,2): the engines' double→string
    # codecs disagree on the scientific-notation threshold ('1.0E12'
    # vs '1000000000000.0', G4) once a hostile magnitude appears
    def _repr(agged, c):
        if c == "o_totalprice":
            agged = agged.cast("decimal(38,2)")
        return agged.cast("string")

    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs += [
            F.count(c).alias(f"{c}__nonnull"),
            F.countDistinct(c).alias(f"{c}__distinct"),
            _repr(F.min(c), c).alias(f"{c}__min"),
            _repr(F.max(c), c).alias(f"{c}__max"),
        ]
    wide = orders.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', {c}__nonnull, {c}__distinct, {c}__min, {c}__max"
        for c in cols
    )
    return (
        wide.select(
            "n_rows",
            F.expr(
                f"stack({len(cols)}, {stack_args}) AS "
                "(column_name, n_nonnull, n_distinct, min_repr, max_repr)"
            ),
        )
        .select(
            "column_name", "n_rows", "n_nonnull", "n_distinct",
            "min_repr", "max_repr",
        )
        .orderBy("column_name")
    )


@register(
    "agg_crosstab_contingency",
    oracle="""
    SELECT c.c_mktsegment AS segment,
           CAST(sum(CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0
                    END) AS BIGINT) AS p1_urgent,
           CAST(sum(CASE WHEN o.o_orderpriority = '2-HIGH' THEN 1 ELSE 0
                    END) AS BIGINT) AS p2_high,
           CAST(sum(CASE WHEN o.o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0
                    END) AS BIGINT) AS p3_medium,
           CAST(sum(CASE WHEN o.o_orderpriority = '4-NOT SPECIFIED' THEN 1
                    ELSE 0 END) AS BIGINT) AS p4_not_specified,
           CAST(sum(CASE WHEN o.o_orderpriority = '5-LOW' THEN 1 ELSE 0
                    END) AS BIGINT) AS p5_low
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    ORDER BY segment
    """,
)
def agg_crosstab_contingency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contingency table via ``df.stat.crosstab`` — the DataFrameStatFunctions
    surface (pair-frequency matrix for segment × priority independence
    checks), normalized to deterministic column names.

    Scale design: crosstab plans as ONE hash aggregate over the joined
    input with the value domain pivoted into columns — same single-pass
    shape as agg_pivot's CASE-sum form; the orders→customer join keys the
    only corpus shuffle. The output matrix is |segments|×|priorities| —
    bounded. Column renames make the engine-generated headers
    (`1-URGENT` …) schema-stable for the oracle comparison.
    """
    orders = load(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority")
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = orders.join(
        F.broadcast(cust), orders.o_custkey == cust.c_custkey
    ).select("c_mktsegment", "o_orderpriority")
    ct = joined.stat.crosstab("c_mktsegment", "o_orderpriority")
    renames = {
        "c_mktsegment_o_orderpriority": "segment",
        "1-URGENT": "p1_urgent",
        "2-HIGH": "p2_high",
        "3-MEDIUM": "p3_medium",
        "4-NOT SPECIFIED": "p4_not_specified",
        "5-LOW": "p5_low",
    }
    for old, new in renames.items():
        ct = ct.withColumnRenamed(old, new)
    # crosstab's columns are the OBSERVED value domain — a corpus
    # missing a priority level (empty day, filtered shard) would drop
    # that column and break the schema contract; absent levels are
    # zero-count columns, exactly as the oracle's CASE-sums yield
    for new in renames.values():
        if new != "segment" and new not in ct.columns:
            ct = ct.withColumn(new, F.lit(0))
    return ct.select(
        "segment",
        F.col("p1_urgent").cast("bigint"),
        F.col("p2_high").cast("bigint"),
        F.col("p3_medium").cast("bigint"),
        F.col("p4_not_specified").cast("bigint"),
        F.col("p5_low").cast("bigint"),
    ).orderBy("segment")


_MH_SEEDS = [f"s{i:02d}" for i in range(16)]


@register(
    "llm_minhash_calibration",
    oracle=f"""
    WITH sample AS (
        SELECT doc_id,
               list_distinct(
                   list_transform(
                       generate_series(1, len(string_split(lower(text), ' '))
                                          - 2),
                       i -> string_split(lower(text), ' ')[CAST(i AS INT)]
                            || ' ' ||
                            string_split(lower(text), ' ')[CAST(i AS INT) + 1]
                            || ' ' ||
                            string_split(lower(text), ' ')[CAST(i AS INT) + 2]
                   )) AS shingles
        FROM documents
        WHERE doc_id % 10 = 0
          AND len(string_split(lower(text), ' ')) >= 3
    ),
    sigs AS (
        SELECT doc_id, shingles,
               list_transform(
                   {(" ").join(["["] + [", ".join("'" + s + "'" for s in _MH_SEEDS)] + ["]"])},
                   s -> list_aggregate(
                       list_transform(shingles, sh -> md5(s || sh)), 'min')
               ) AS sig
        FROM sample
    ),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(list_sum(list_transform(generate_series(1, 16),
                   i -> CASE WHEN a.sig[CAST(i AS INT)]
                                  = b.sig[CAST(i AS INT)]
                        THEN 1 ELSE 0 END)) AS BIGINT) AS n_matching,
               CAST(len(list_intersect(a.shingles, b.shingles)) AS BIGINT)
                   AS n_inter,
               CAST(len(a.shingles) + len(b.shingles)
                    - len(list_intersect(a.shingles, b.shingles)) AS BIGINT)
                   AS n_union
        FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
    )
    SELECT n_matching,
           CAST(count(*) AS BIGINT) AS n_pairs,
           round(avg(n_inter * 1000000 // n_union) / 1000000.0, 6)
               AS avg_exact_jaccard,
           round(CAST(n_matching AS DOUBLE) / 16, 6) AS est_jaccard
    FROM pairs
    GROUP BY n_matching
    ORDER BY n_matching
    """,
)
def llm_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator calibration audit: on a deterministic 10% doc
    sample, compare the k=16 signature-agreement estimate against EXACT
    trigram Jaccard for every sample pair, bucketed by agreement count —
    the measurement that justifies (or indicts) the production banding
    thresholds in llm_dedup_near_minhash.

    Scale design: this is the audit-on-a-sample pattern — the all-pairs
    comparison runs over the SAMPLE (10% of docs → 1% of pairs, and the
    sample rate shrinks with corpus growth), while signatures and
    shingle sets are zero-shuffle scan-stage HOFs. Exact Jaccard is
    integer-quantized to ppm BEFORE the per-bucket average so the group
    sum is order-independent; md5 renders identical hex on both engines.
    """
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.split(F.lower(F.col("text")), " ")
    sample = docs.filter(
        (F.col("doc_id") % 10 == 0) & (F.size(toks) >= 3)
    ).select(
        "doc_id",
        F.array_distinct(
            F.expr(
                "transform(sequence(1, size(split(lower(text), ' ')) - 2), "
                "i -> concat_ws(' ', split(lower(text), ' ')[i - 1], "
                "split(lower(text), ' ')[i], split(lower(text), ' ')[i + 1]))"
            )
        ).alias("shingles"),
    )
    seeds = ", ".join(f"'{s}'" for s in _MH_SEEDS)
    sigs = sample.withColumn(
        "sig",
        F.expr(
            f"transform(array({seeds}), "
            "s -> array_min(transform(shingles, sh -> md5(concat(s, sh)))))"
        ),
    )
    a = sigs.select(
        F.col("doc_id").alias("doc_a"),
        F.col("shingles").alias("sh_a"),
        F.col("sig").alias("sig_a"),
    )
    b = sigs.select(
        F.col("doc_id").alias("doc_b"),
        F.col("shingles").alias("sh_b"),
        F.col("sig").alias("sig_b"),
    )
    pairs = a.join(b, F.col("doc_a") < F.col("doc_b")).select(
        F.expr(
            "aggregate(zip_with(sig_a, sig_b, (x, y) -> "
            "CASE WHEN x = y THEN 1 ELSE 0 END), 0L, (acc, v) -> acc + v)"
        ).alias("n_matching"),
        F.size(F.array_intersect("sh_a", "sh_b")).cast("bigint").alias("n_inter"),
        (
            F.size("sh_a") + F.size("sh_b")
            - F.size(F.array_intersect("sh_a", "sh_b"))
        ).cast("bigint").alias("n_union"),
    )
    return (
        pairs.groupBy("n_matching")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(
                F.avg(F.expr("n_inter * 1000000 div n_union")) / 1000000.0, 6
            ).alias("avg_exact_jaccard"),
        )
        .withColumn(
            "est_jaccard", F.round(F.col("n_matching").cast("double") / 16, 6)
        )
        .select("n_matching", "n_pairs", "avg_exact_jaccard", "est_jaccard")
        .orderBy("n_matching")
    )


@register(
    "llm_embed_pq_codebook",
    oracle="""
    WITH eq AS (
        SELECT vec_id, label,
               list_transform(embedding,
                   x -> CAST(CAST(round(CAST(x AS DOUBLE) * 1000000)
                        AS BIGINT) AS DOUBLE))
                   AS e
        FROM embeddings
    ),
    dims AS (SELECT unnest(generate_series(1, 64)) AS i),
    pe AS (
        SELECT label, CAST((i - 1) // 8 AS INT) AS sub, i,
               CAST(e[CAST(i AS INT)] AS BIGINT) AS val
        FROM eq CROSS JOIN dims
    ),
    cent AS (
        SELECT label, sub, i,
               CAST(sum(val) AS DOUBLE) / count(*) AS c
        FROM pe GROUP BY label, sub, i
    ),
    cent_arr AS (
        SELECT label, sub, list(c ORDER BY i) AS c_arr
        FROM cent GROUP BY label, sub
    ),
    subs_idx AS (SELECT unnest(generate_series(0, 7)) AS sub),
    subs AS (
        SELECT vec_id, sub,
               e[CAST(sub * 8 + 1 AS INT):CAST(sub * 8 + 8 AS INT)] AS subvec
        FROM eq CROSS JOIN subs_idx
    ),
    scored AS (
        SELECT s.vec_id, s.sub, c.label,
               list_reduce(
                   list_prepend(CAST(0 AS DOUBLE),
                       list_transform(generate_series(1, 8),
                           j -> (s.subvec[CAST(j AS INT)]
                                 - c.c_arr[CAST(j AS INT)])
                                * (s.subvec[CAST(j AS INT)]
                                   - c.c_arr[CAST(j AS INT)]))),
                   (acc, v) -> acc + v) AS dist
        FROM subs s JOIN cent_arr c ON s.sub = c.sub
    ),
    assigned AS (
        SELECT vec_id, sub, label AS code, dist,
               row_number() OVER (PARTITION BY vec_id, sub
                                  ORDER BY dist, label) AS rn
        FROM scored
    )
    SELECT sub, code,
           CAST(count(*) AS BIGINT) AS n_vectors,
           -- HUGEINT fold: one huge-magnitude vector puts a single
           -- squared distance near 1e32, far past BIGINT (G11)
           round(CAST(sum(CAST(round(dist) AS HUGEINT)) AS DOUBLE)
                 / count(*) / 1000000000000.0, 6) AS avg_sq_err
    FROM assigned
    WHERE rn = 1
    GROUP BY sub, code
    ORDER BY sub, code
    """,
)
def llm_embed_pq_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization (PQ) of the embedding corpus: 8 subspaces ×
    8 dims, per-subspace codebooks, nearest-code assignment, and the
    per-(subspace, code) population + reconstruction-error report — the
    compression layer of IVF-PQ ANN indexes (completes the family next
    to int8, Matryoshka, PCA and k-means). Codebooks are the
    per-label subvector means — the deterministic stand-in for the
    k-means iterations llm_embed_kmeans implements (rows-only); here
    determinism buys a full value-level oracle for the assignment logic.

    Scale design: the codebook is a (10 labels × 8 subspaces)-row
    aggregate — broadcast-sized forever; assignment is a map-side join
    fan-out of 10 scored candidates per (vector, subspace), reduced by a
    10-row ranking window. Exactness: values quantize to integer
    micro-units first, so centroid = Σint/count is one exact division;
    distances are ordered zip_with folds (bit-identical cross-engine);
    per-row errors round to integers BEFORE the group sum.
    """
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")
    eq = emb.withColumn(
        "e",
        F.expr(
            "transform(embedding, x -> cast(cast(round("
            "cast(x as double) * 1000000) as bigint) as double))"
        ),
    )
    pe = eq.select(
        "label", F.posexplode("e").alias("pos0", "val")
    ).select(
        "label",
        (F.col("pos0") / 8).cast("int").alias("sub"),
        F.col("pos0").alias("i"),
        F.col("val").cast("bigint").alias("val"),
    )
    cent = pe.groupBy("label", "sub", "i").agg(
        (F.sum("val").cast("double") / F.count(F.lit(1))).alias("c")
    )
    cent_arr = cent.groupBy("label", "sub").agg(
        F.expr("transform(array_sort(collect_list(struct(i, c))), s -> s.c)")
        .alias("c_arr")
    )
    subs = eq.select(
        "vec_id",
        F.posexplode(
            F.expr("transform(sequence(0, 7), s -> slice(e, s * 8 + 1, 8))")
        ).alias("sub", "subvec"),
    )
    scored = subs.join(F.broadcast(cent_arr), "sub").select(
        "vec_id",
        "sub",
        "label",
        F.expr(
            "aggregate(zip_with(subvec, c_arr, (x, c) -> (x - c) * (x - c)), "
            "cast(0 as double), (acc, v) -> acc + v)"
        ).alias("dist"),
    )
    w = Window.partitionBy("vec_id", "sub").orderBy("dist", "label")
    assigned = scored.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1
    )
    return (
        assigned.groupBy("sub", F.col("label").alias("code"))
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            # decimal(38,0) fold ↔ oracle HUGEINT: one huge-magnitude
            # vector puts a single squared distance near 1e32, far
            # past the BIGINT cast this used to take (G11)
            F.round(
                F.sum(F.round("dist").cast("decimal(38,0)")).cast("double")
                / F.count(F.lit(1))
                / 1.0e12,
                6,
            ).alias("avg_sq_err"),
        )
        .orderBy("sub", "code")
    )


@register(
    "llm_sim_pq_adc_topk",
    oracle="""
    WITH eq AS (
        SELECT vec_id, label,
               list_transform(embedding,
                   x -> CAST(CAST(round(CAST(x AS DOUBLE) * 1000000)
                        AS BIGINT) AS DOUBLE)) AS e
        FROM embeddings
    ),
    dims AS (SELECT unnest(generate_series(1, 64)) AS i),
    cent AS (
        SELECT label, CAST((i - 1) // 8 AS INT) AS sub, i,
               CAST(sum(CAST(e[CAST(i AS INT)] AS BIGINT)) AS DOUBLE)
                   / count(*) AS c
        FROM eq CROSS JOIN dims
        GROUP BY label, sub, i
    ),
    cent_arr AS (
        SELECT label, sub, list(c ORDER BY i) AS c_arr
        FROM cent GROUP BY label, sub
    ),
    subs_idx AS (SELECT unnest(generate_series(0, 7)) AS sub),
    subs AS (
        SELECT vec_id, sub,
               e[CAST(sub * 8 + 1 AS INT):CAST(sub * 8 + 8 AS INT)] AS subvec
        FROM eq CROSS JOIN subs_idx
    ),
    assigned AS (
        SELECT vec_id, sub, label AS code,
               row_number() OVER (PARTITION BY vec_id, sub ORDER BY
                   list_reduce(list_prepend(CAST(0 AS DOUBLE),
                       list_transform(generate_series(1, 8),
                           j -> (subvec[CAST(j AS INT)]
                                 - c_arr[CAST(j AS INT)])
                                * (subvec[CAST(j AS INT)]
                                   - c_arr[CAST(j AS INT)]))),
                       (acc, v) -> acc + v),
                   label) AS rn
        FROM subs JOIN cent_arr USING (sub)
    ),
    codes AS (SELECT vec_id, sub, code FROM assigned WHERE rn = 1),
    queries AS (
        SELECT vec_id AS q_id, sub, subvec AS q_sub
        FROM subs WHERE vec_id % 100 = 0
    ),
    lut AS (
        SELECT q.q_id, q.sub, c.label AS code,
               list_reduce(list_prepend(CAST(0 AS DOUBLE),
                   list_transform(generate_series(1, 8),
                       j -> (q.q_sub[CAST(j AS INT)]
                             - c.c_arr[CAST(j AS INT)])
                            * (q.q_sub[CAST(j AS INT)]
                               - c.c_arr[CAST(j AS INT)]))),
                   (acc, v) -> acc + v) AS d
        FROM queries q JOIN cent_arr c ON q.sub = c.sub
    ),
    adc AS (
        SELECT l.q_id, cd.vec_id,
               sum(CAST(round(l.d) AS HUGEINT)) AS adc_sum
        FROM codes cd
        JOIN lut l ON cd.sub = l.sub AND cd.code = l.code
        WHERE cd.vec_id != l.q_id
        GROUP BY l.q_id, cd.vec_id
    ),
    ranked AS (
        SELECT q_id, vec_id, adc_sum,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY adc_sum, vec_id) AS rk
        FROM adc
    )
    SELECT q_id, vec_id, CAST(adc_sum AS DOUBLE) AS adc_dist,
           CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= 5
    ORDER BY q_id, rk
    """,
)
def llm_sim_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric-distance (ADC) top-k search over the PQ-compressed
    corpus: each query builds an 8×10 lookup table of query-to-centroid
    distances, and every corpus vector is scored by summing 8 table
    lookups keyed by its PQ codes — the scoring kernel of IVF-PQ indexes
    (completes the family: llm_embed_pq_codebook compresses, this
    searches the compressed form).

    Scale design: the corpus never touches raw floats at query time —
    codes are 8 small ints per vector (the 100 TB memory story: 64 B →
    8 B). The per-query LUT is an 80-row broadcast; scoring is a
    broadcast hash join on (sub, code) + one (query, vector) aggregate of
    integer-rounded cells, so the only corpus-sized exchange is the
    final per-query ranking, itself bounded by the top-k window. All
    distances are ordered folds over integer-µ quantized values —
    bit-exact, so ADC ranks identically cross-engine (vec_id tiebreak).
    """
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")
    eq = emb.withColumn(
        "e",
        F.expr(
            "transform(embedding, x -> cast(cast(round("
            "cast(x as double) * 1000000) as bigint) as double))"
        ),
    )
    pe = eq.select("label", F.posexplode("e").alias("pos0", "val")).select(
        "label",
        (F.col("pos0") / 8).cast("int").alias("sub"),
        F.col("pos0").alias("i"),
        F.col("val").cast("bigint").alias("val"),
    )
    cent = pe.groupBy("label", "sub", "i").agg(
        (F.sum("val").cast("double") / F.count(F.lit(1))).alias("c")
    )
    cent_arr = cent.groupBy("label", "sub").agg(
        F.expr("transform(array_sort(collect_list(struct(i, c))), s -> s.c)")
        .alias("c_arr")
    )
    subs = eq.select(
        "vec_id",
        F.posexplode(
            F.expr("transform(sequence(0, 7), s -> slice(e, s * 8 + 1, 8))")
        ).alias("sub", "subvec"),
    )
    sqdist = (
        "aggregate(zip_with({v}, c_arr, (x, c) -> (x - c) * (x - c)), "
        "cast(0 as double), (acc, v) -> acc + v)"
    )
    w_assign = Window.partitionBy("vec_id", "sub").orderBy("dist", "label")
    codes = (
        subs.join(F.broadcast(cent_arr), "sub")
        .select(
            "vec_id", "sub", "label",
            F.expr(sqdist.format(v="subvec")).alias("dist"),
        )
        .withColumn("rn", F.row_number().over(w_assign))
        .filter(F.col("rn") == 1)
        .select("vec_id", "sub", F.col("label").alias("code"))
    )
    queries = subs.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), "sub", F.col("subvec").alias("q_sub")
    )
    lut = queries.join(F.broadcast(cent_arr), "sub").select(
        "q_id", "sub", F.col("label").alias("code"),
        F.expr(sqdist.format(v="q_sub")).alias("d"),
    )
    # accumulate in decimal(38,0) (HUGEINT on the oracle side): a
    # bigint fold overflows at ~9.2e18, which a single huge-magnitude
    # vector reaches after µ-quantization squaring (hostile-input
    # sweep); ranking happens on the EXACT decimal sum, the output
    # casts to double once (both engines round-to-nearest the same
    # integer, the scan_file_metadata_column discipline)
    adc = (
        codes.join(F.broadcast(lut), ["sub", "code"])
        .filter(F.col("vec_id") != F.col("q_id"))
        .groupBy("q_id", "vec_id")
        .agg(F.sum(F.round("d").cast("decimal(38,0)")).alias("adc_sum"))
    )
    w_rank = Window.partitionBy("q_id").orderBy("adc_sum", "vec_id")
    return (
        adc.withColumn("rk", F.row_number().over(w_rank).cast("bigint"))
        .filter(F.col("rk") <= 5)
        .select(
            "q_id",
            "vec_id",
            F.col("adc_sum").cast("double").alias("adc_dist"),
            "rk",
        )
        .orderBy("q_id", "rk")
    )


@register(
    "agg_winsorized_mean",
    oracle="""
    WITH cents AS (
        SELECT l_returnflag,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents
        FROM lineitem
    ),
    bounds AS (
        SELECT l_returnflag,
               quantile_cont(price_cents, 0.05) AS p05,
               quantile_cont(price_cents, 0.95) AS p95
        FROM cents GROUP BY l_returnflag
    )
    SELECT c.l_returnflag,
           CAST(count(*) AS BIGINT) AS n_rows,
           round(avg(c.price_cents) / 100.0, 6) AS raw_mean,
           round(avg(CAST(floor(least(greatest(
                     CAST(c.price_cents AS DOUBLE), b.p05), b.p95))
                     AS BIGINT))
                 / 100.0, 6) AS winsorized_mean,
           CAST(sum(CASE WHEN CAST(c.price_cents AS DOUBLE) < b.p05
                           OR CAST(c.price_cents AS DOUBLE) > b.p95
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped
    FROM cents c JOIN bounds b ON c.l_returnflag = b.l_returnflag
    GROUP BY c.l_returnflag
    ORDER BY c.l_returnflag
    """,
)
def agg_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean per group: clamp values into the [p5, p95] band
    before averaging — the outlier-robust estimator (sibling of
    agg_median_abs_deviation) a QC pipeline reports next to the raw mean.

    Scale design: the percentile bounds reduce to one row per group
    (3 flags) and broadcast back onto the fact rows, so the query is two
    aggregates sharing the same group key — no window over raw data, no
    second shuffle of the corpus (at 100 TB the exact percentile swaps
    for the KLL sketch with the same plan). Clamped values round back to
    integer cents before averaging: the group average is an exact
    rational, quantized once per output row.
    """
    li = load(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice")
    cents = li.select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias(
            "price_cents"
        ),
    )
    bounds = cents.groupBy("l_returnflag").agg(
        F.expr("percentile(price_cents, 0.05)").alias("p05"),
        F.expr("percentile(price_cents, 0.95)").alias("p95"),
    )
    clamped = F.floor(
        F.least(
            F.greatest(F.col("price_cents").cast("double"), F.col("p05")),
            F.col("p95"),
        )
    ).cast("bigint")
    out_of_band = (F.col("price_cents").cast("double") < F.col("p05")) | (
        F.col("price_cents").cast("double") > F.col("p95")
    )
    return (
        cents.join(F.broadcast(bounds), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.avg("price_cents") / 100.0, 6).alias("raw_mean"),
            F.round(F.avg(clamped) / 100.0, 6).alias("winsorized_mean"),
            F.sum(F.when(out_of_band, 1).otherwise(0)).alias("n_clamped"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "llm_kanonymity_census",
    oracle="""
    WITH groups AS (
        SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs
        FROM documents GROUP BY lang, source
    )
    SELECT lang, source, n_docs,
           CASE WHEN n_docs < 5 THEN 'suppress' ELSE 'release' END
               AS k5_disposition
    FROM groups
    ORDER BY lang, source
    """,
)
def llm_kanonymity_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity census over the quasi-identifier pair (lang, source):
    equivalence-class sizes with a k=5 suppress/release disposition —
    the privacy-compliance gate (sibling of llm_text_pii_redact) a
    corpus release runs before publishing per-slice statistics.

    Scale design: one hash aggregate to the quasi-identifier grain
    (bounded at |langs|×|sources|), the disposition is a scan-stage CASE
    over the aggregated rows. Adding quasi-identifier columns widens the
    group key, never adds a pass.
    """
    docs = load(spark, sf_dir, "documents").select("lang", "source")
    return (
        docs.groupBy("lang", "source")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .withColumn(
            "k5_disposition",
            F.when(F.col("n_docs") < 5, "suppress").otherwise("release"),
        )
        .orderBy("lang", "source")
    )


@register(
    "evt_calendar_dim_join",
    oracle="""
    WITH span AS (
        SELECT CAST(min(date_trunc('day', ts)) AS DATE) AS d0,
               CAST(max(date_trunc('day', ts)) AS DATE) AS d1
        FROM events
    ),
    calendar AS (
        SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE)
                   AS cal_day
        FROM span
    ),
    cal_dim AS (
        SELECT cal_day,
               CASE WHEN (date_diff('day', DATE '1970-01-01', cal_day) + 3)
                         % 7 >= 5
                    THEN 1 ELSE 0 END AS is_weekend
        FROM calendar
    ),
    daily AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS value_cents
        FROM events GROUP BY 1
    )
    SELECT c.is_weekend,
           CAST(count(*) AS BIGINT)                 AS n_days,
           CAST(sum(COALESCE(d.n_events, 0)) AS BIGINT)    AS n_events,
           CAST(sum(COALESCE(d.value_cents, 0)) AS BIGINT) AS value_cents,
           round(CAST(sum(COALESCE(d.n_events, 0)) AS DOUBLE)
                 / count(*), 6) AS events_per_day
    FROM cal_dim c LEFT JOIN daily d ON c.cal_day = d.day
    GROUP BY c.is_weekend
    ORDER BY c.is_weekend
    """,
)
def evt_calendar_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generated calendar dimension joined to the fact table: a dense
    day spine built with sequence() (no calendar table shipped), tagged
    weekend/weekday by pure epoch-day arithmetic, LEFT-joined so silent
    days still count in the per-day averages — the standard warehouse
    calendar-dim pattern.

    Scale design: the spine derives from a 1-row min/max aggregate and
    explodes to |days| rows — broadcast-sized for any horizon (100 years
    ≈ 37k rows); the fact table reduces to day grain BEFORE the join.
    Weekend tagging uses (epoch_days+3) mod 7 ≥ 5 (Monday-anchored,
    the evt_business_days_sla discipline) so the G4 dayofweek-numbering
    hazard never enters; integer cents make every sum order-independent.
    """
    ev = load(spark, sf_dir, "events").select("ts", "value")
    span = ev.agg(
        F.min(F.date_trunc("day", F.col("ts"))).cast("date").alias("d0"),
        F.max(F.date_trunc("day", F.col("ts"))).cast("date").alias("d1"),
    )
    cal = span.select(
        F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias("cal_day")
    ).withColumn(
        "is_weekend",
        F.when(
            (F.datediff(F.col("cal_day"), F.lit("1970-01-01").cast("date")) + 3)
            % 7
            >= 5,
            1,
        ).otherwise(0),
    )
    daily = ev.groupBy(
        F.date_trunc("day", F.col("ts")).cast("date").alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("bigint")).alias(
            "value_cents"
        ),
    )
    return (
        cal.join(daily, cal.cal_day == daily.day, "left")
        .groupBy("is_weekend")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.sum(F.coalesce("n_events", F.lit(0))).alias("n_events"),
            F.sum(F.coalesce("value_cents", F.lit(0))).alias("value_cents"),
            F.round(
                F.sum(F.coalesce("n_events", F.lit(0))).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("events_per_day"),
        )
        .orderBy("is_weekend")
    )


@register(
    "fn_luhn_checksum",
    oracle="""
    WITH ids AS (
        SELECT o_orderpriority,
               lpad(CAST(o_orderkey AS VARCHAR), 12, '0') AS acct
        FROM orders
    ),
    checked AS (
        SELECT o_orderpriority,
               CASE WHEN list_reduce(list_prepend(0,
                   list_transform(generate_series(1, 12), i ->
                       CASE WHEN i % 2 = 0 THEN
                           CASE WHEN CAST(substr(acct, 13 - CAST(i AS INT), 1)
                                     AS INT) * 2 > 9
                                THEN CAST(substr(acct, 13 - CAST(i AS INT), 1)
                                     AS INT) * 2 - 9
                                ELSE CAST(substr(acct, 13 - CAST(i AS INT), 1)
                                     AS INT) * 2 END
                       ELSE CAST(substr(acct, 13 - CAST(i AS INT), 1) AS INT)
                       END)),
                   (acc, v) -> acc + v) % 10 = 0
               THEN 1 ELSE 0 END AS is_valid
        FROM ids
    )
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_ids,
           CAST(sum(is_valid) AS BIGINT) AS n_luhn_valid
    FROM checked
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def fn_luhn_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Luhn (mod-10) checksum validation over 12-digit account-style
    identifiers — the classic ingest-time format validator for card/ID
    columns, folded from scratch with HOFs (double every second digit
    from the right, subtract 9 above 9, valid iff sum ≡ 0 mod 10).

    Scale design: pure scan-stage integer folding over a per-row
    12-element sequence — zero shuffles before the 5-group census;
    engine-exact by construction (string indexing + integer arithmetic
    only). Roughly 1 in 10 synthetic keys pass, as Luhn predicts.
    """
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    ids = orders.select(
        "o_orderpriority",
        F.lpad(F.col("o_orderkey").cast("string"), 12, "0").alias("acct"),
    )
    digit = "cast(substring(acct, 13 - i, 1) as int)"
    luhn_sum = (
        f"aggregate(transform(sequence(1, 12), i -> CASE WHEN i % 2 = 0 THEN "
        f"CASE WHEN {digit} * 2 > 9 THEN {digit} * 2 - 9 ELSE {digit} * 2 END "
        f"ELSE {digit} END), 0, (acc, v) -> acc + v)"
    )
    checked = ids.withColumn(
        "is_valid",
        F.when(F.expr(luhn_sum) % 10 == 0, 1).otherwise(0),
    )
    return (
        checked.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_ids"),
            F.sum("is_valid").alias("n_luhn_valid"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "agg_mutual_information",
    oracle="""
    WITH joint AS (
        SELECT event_type,
               CAST(extract(hour FROM ts) AS INT) AS hr,
               CAST(count(*) AS BIGINT) AS n_xy
        FROM events GROUP BY 1, 2
    ),
    mx AS (SELECT event_type, CAST(sum(n_xy) AS BIGINT) AS n_x
           FROM joint GROUP BY event_type),
    my AS (SELECT hr, CAST(sum(n_xy) AS BIGINT) AS n_y
           FROM joint GROUP BY hr),
    tot AS (SELECT CAST(sum(n_xy) AS BIGINT) AS n FROM joint),
    terms AS (
        SELECT j.event_type,
               CAST(round(
                   (CAST(j.n_xy AS DOUBLE) / t.n)
                   * ln(CAST(j.n_xy AS DOUBLE) * t.n
                        / (CAST(x.n_x AS DOUBLE) * y.n_y))
                   * 1000000000) AS BIGINT) AS term_nano
        FROM joint j
        JOIN mx x ON j.event_type = x.event_type
        JOIN my y ON j.hr = y.hr
        CROSS JOIN tot t
    )
    SELECT event_type,
           round(CAST(sum(term_nano) AS DOUBLE) / 1000000000, 6)
               AS mutual_info_nats
    FROM terms
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def agg_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between event type and hour-of-day — the
    dependence strength behind the diurnal heatmap (near zero ⇒ the type
    has no daily rhythm), a feature-selection staple.

    Scale design: the corpus reduces to the |types|×24 joint-count
    matrix in ONE hash aggregate; marginals and the total are tiny
    reaggregations of that matrix (broadcast joins). Each MI term takes
    one ln of an exact integer-count ratio (the llm_collocation_pmi
    discipline) and quantizes to integer nano-nats BEFORE the per-type
    sum, so the reduction is order-independent and engine-exact.
    """
    ev = load(spark, sf_dir, "events").select("ts", "event_type")
    # r12 (census + plan audit): same fix as agg_cramers_v — the joint
    # cell table fed both marginals, the total and the term join, and
    # was re-planned per reference (4 events scans). One lazily
    # checkpointed evaluation of the |types|x24-row table serves all.
    joint = (
        ev.groupBy("event_type", F.hour("ts").cast("int").alias("hr"))
        .agg(F.count(F.lit(1)).alias("n_xy"))
        .transform(pin)
    )
    mx = joint.groupBy("event_type").agg(F.sum("n_xy").alias("n_x"))
    my = joint.groupBy("hr").agg(F.sum("n_xy").alias("n_y"))
    tot = joint.agg(F.sum("n_xy").alias("n"))
    term = F.round(
        (F.col("n_xy").cast("double") / F.col("n"))
        * F.log(
            F.col("n_xy").cast("double")
            * F.col("n")
            / (F.col("n_x").cast("double") * F.col("n_y"))
        )
        * 1e9
    ).cast("bigint")
    return (
        joint.join(F.broadcast(mx), "event_type")
        .join(F.broadcast(my), "hr")
        .crossJoin(F.broadcast(tot))
        .select("event_type", term.alias("term_nano"))
        .groupBy("event_type")
        .agg(
            F.round(F.sum("term_nano").cast("double") / 1e9, 6).alias(
                "mutual_info_nats"
            )
        )
        .orderBy("event_type")
    )


@register(
    "llm_negative_sampling",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(lower(text), ' ') AS t
        FROM documents WHERE doc_id % 20 = 0
    ),
    pairs AS (
        SELECT doc_id, t[CAST(i AS INT)] AS center,
               t[CAST(i AS INT) + 1] AS context
        FROM toks, unnest(generate_series(1, len(t) - 1)) AS u(i)
    ),
    vocab AS (
        SELECT w AS word,
               CAST(row_number() OVER (ORDER BY count(*) DESC, w) AS BIGINT)
                   AS rank,
               CAST(count(*) AS BIGINT) AS freq
        FROM (SELECT unnest(string_split(lower(text), ' ')) AS w
              FROM documents)
        GROUP BY w
    ),
    vsize AS (SELECT CAST(count(*) AS BIGINT) AS v FROM vocab),
    negs AS (
        SELECT p.doc_id, p.center, p.context, u.k,
               CAST(('0x' || substr(md5(p.center || '|' || p.context || '|'
                                        || CAST(u.k AS VARCHAR)), 1, 4))
                    AS BIGINT) % s.v + 1 AS neg_rank
        FROM pairs p
        CROSS JOIN (SELECT unnest(generate_series(1, 2)) AS k) u
        CROSS JOIN vsize s
    )
    SELECT n.center, n.context, CAST(n.k AS BIGINT) AS k,
           v.word AS negative,
           CAST(count(*) AS BIGINT) AS n_occurrences
    FROM negs n JOIN vocab v ON n.neg_rank = v.rank
    GROUP BY n.center, n.context, n.k, v.word
    ORDER BY n.center, n.context, k, negative
    """,
)
def llm_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for skip-gram training pairs: each
    (center, context) pair draws k=2 vocabulary negatives by hashing the
    pair identity into a frequency-ranked vocabulary — reproducible
    training data with no RNG state (the llm_sample_stratified_hash
    seed-free discipline applied to word2vec-style contrastive pairs).

    Scale design: the vocabulary (with ranks) is a vocab-bounded
    aggregate broadcast to the pair stream; negative assignment is a
    pure scan-stage md5 → 16-bit integer → mod-V lookup (conv(hex) and
    DuckDB's 0x-cast agree exactly on 16-bit values), so the only
    corpus-sized work is the pair extraction itself. Sampled to 5% of
    docs here; the plan is sample-rate independent.
    """
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.filter(F.col("doc_id") % 20 == 0).select(
        "doc_id", F.split(F.lower("text"), " ").alias("t")
    )
    pairs = toks.select(
        "doc_id",
        # size guard: single-token docs yield no pairs, not an index
        # crash (sequence(1, 0) is descending in Spark)
        F.explode(
            F.expr(
                "CASE WHEN size(t) >= 2 THEN "
                "transform(sequence(1, size(t) - 1), "
                "i -> struct(t[i - 1] AS center, t[i] AS context)) "
                "ELSE CAST(array() AS "
                "array<struct<center:string,context:string>>) END"
            )
        ).alias("p"),
    ).select("doc_id", "p.center", "p.context")
    vocab = (
        docs.select(F.explode(F.split(F.lower("text"), " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .withColumn(
            "rank",
            F.row_number()
            .over(Window.orderBy(F.col("freq").desc(), "word"))
            .cast("bigint"),
        )
    )
    vsize = vocab.agg(F.count(F.lit(1)).alias("v"))
    ks = spark.range(1, 3).select(F.col("id").alias("k"))
    negs = (
        pairs.crossJoin(F.broadcast(ks))
        .crossJoin(F.broadcast(vsize))
        .withColumn(
            "neg_rank",
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            "|", "center", "context", F.col("k").cast("string")
                        )
                    ),
                    1,
                    4,
                ),
                16,
                10,
            ).cast("bigint")
            % F.col("v")
            + 1,
        )
    )
    return (
        negs.join(
            F.broadcast(vocab.select("rank", F.col("word").alias("negative"))),
            negs.neg_rank == F.col("rank"),
        )
        .groupBy("center", "context", "k", "negative")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy("center", "context", "k", "negative")
    )


@register(
    "sql_distribute_cluster_by",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
               AS revenue_cents
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def sql_distribute_cluster_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL CLUSTER BY surface (DISTRIBUTE BY + SORT BY): pre-partition
    the scan output by the grouping key so the downstream aggregate
    reuses the exchange instead of inserting its own — the
    'shuffle once, consume twice' contract explicit in SQL.

    Scale design: the aggregate over the CLUSTER BY subquery plans
    exactly ONE hashpartitioning exchange (asserted in
    tests/test_layout.py); the sort rides the shuffle's local sort.
    The oracle is the plain aggregate — partitioning hints must never
    change results, only placement.
    """
    li = load(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("cb_lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    clustered = spark.sql(
        """
        SELECT l_returnflag, l_linestatus, l_extendedprice
        FROM cb_lineitem
        CLUSTER BY l_returnflag, l_linestatus
        """
    )
    return (
        clustered.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(cents).alias("revenue_cents"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "win_quantile_normalize",
    oracle="""
    WITH ranked AS (
        SELECT source, doc_id, n_chars,
               row_number() OVER (PARTITION BY source
                                  ORDER BY n_chars, doc_id) AS rk,
               CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n_src
        FROM documents WHERE source IN ('src0', 'src1', 'src2', 'src3')
    ),
    ref AS (
        SELECT rk, round(avg(n_chars), 6) AS ref_value,
               CAST(count(*) AS BIGINT) AS n_sources_at_rank
        FROM ranked GROUP BY rk
    )
    SELECT r.source, r.doc_id, r.n_chars, CAST(r.rk AS BIGINT) AS rk,
           f.ref_value AS normalized_chars
    FROM ranked r JOIN ref f ON r.rk = f.rk
    ORDER BY r.source, r.rk
    """,
)
def win_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization across sources (the microarray/feature-prep
    classic): each document's length is replaced by the MEAN length at
    its within-source rank, forcing every source onto one reference
    distribution — the drift-removal step before cross-source quality
    thresholds can share a cutoff.

    Scale design (r12 rewrite, guide §2.5): the original ranked with
    `row_number() OVER (PARTITION BY source ...)` — a corpus-grain
    window over a 4-VALUE key, i.e. the whole filtered corpus funneled
    through ≤4 reducers and sorted there. The rank is now distributed:
    one range-partition on the (source, n_chars, doc_id) total order
    (scale_rank's machinery — per-partition row_number + broadcast
    prefix offsets = exact global rank), and the within-source rank is
    that global rank minus the source's 4-row broadcast min-rank
    offset, +1 — identical integers at any partition count (pinned by
    the partition-invariance discipline of every scale_rank consumer).
    The rank-keyed reference aggregate + equi-join back are unchanged.
    Ranks tie-break on doc_id; ref_value avg() is an exact rational of
    integers, quantized once. Restricted to 4 sources to keep the
    fixture's rank table fully populated.
    """
    from .scale_rank import with_global_rank

    docs = load(spark, sf_dir, "documents").select("source", "doc_id", "n_chars")
    docs = docs.filter(F.col("source").isin("src0", "src1", "src2", "src3"))
    g = with_global_rank(
        docs, [F.col("source"), F.col("n_chars"), F.col("doc_id")], "__grk"
    )
    # r13: the 4-row min-rank offsets come from RAW per-source counts
    # (the total order sorts source first, so min rank per source =
    # 1 + Σ earlier sources' counts) — deriving them from g re-planned
    # the whole range-shuffle subtree per reference (§I trap); this way
    # g is referenced once and the counts cost one column-pruned scan.
    w_prev = Window.orderBy("source").rowsBetween(
        Window.unboundedPreceding, -1
    )
    off = (
        docs.groupBy("source")
        .agg(F.count(F.lit(1)).alias("__n"))
        .select(
            "source",
            (F.coalesce(F.sum("__n").over(w_prev), F.lit(0)) + 1).alias(
                "__off"
            ),
        )
    )
    ranked = (
        g.join(F.broadcast(off), "source")
        .withColumn("rk", F.col("__grk") - F.col("__off") + 1)
        .drop("__grk", "__off")
        # fan-out (ref + final join) reads one evaluation while the
        # corpus is small; DOC-GRAIN, so the pin is size-gated (r13)
        .transform(
            pin, approx_input_bytes=input_size_bytes(sf_dir, "documents")
        )
    )
    ref = ranked.groupBy("rk").agg(
        F.round(F.avg("n_chars"), 6).alias("ref_value"),
        F.count(F.lit(1)).alias("n_sources_at_rank"),
    )
    return (
        ranked.join(ref, "rk")
        .select(
            "source",
            "doc_id",
            "n_chars",
            F.col("rk").cast("bigint").alias("rk"),
            F.col("ref_value").alias("normalized_chars"),
        )
        .orderBy("source", "rk")
    )


@register(
    "llm_token_budget_selection",
    oracle="""
    WITH scored AS (
        SELECT doc_id, lang,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
                   * 1000000 // len(string_split(text, ' ')) AS quality_ppm
        FROM documents
    ),
    ranked AS (
        SELECT doc_id, lang, n_tokens, quality_ppm,
               CAST(sum(n_tokens) OVER (
                   ORDER BY quality_ppm DESC, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cum_tokens
        FROM scored
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs_selected,
           CAST(sum(n_tokens) AS BIGINT) AS tokens_selected,
           CAST(min(quality_ppm) AS BIGINT) AS min_quality_ppm
    FROM ranked
    WHERE cum_tokens <= 10000
    GROUP BY lang
    ORDER BY lang
    """,
)
def llm_token_budget_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy corpus selection under a token budget: rank documents by a
    quality score (lexical diversity, integer ppm), admit in rank order
    until the running token total crosses the budget — the
    budget-constrained curation step between scoring and training.

    Scale design: scoring is zero-shuffle scan-stage HOF arithmetic;
    the admission pass is ONE global running sum — legitimately global,
    but over the (doc_id, score, tokens) projection, never text, and at
    100 TB the same decision runs on the quality-score HISTOGRAM
    (find the admitting threshold from vocab-sized bins, then a
    map-only filter) with this exact query as its oracle. Quality is
    integer ppm (// floor division both engines), so ordering and the
    budget crossover are engine-exact; ties break on doc_id.

    The global window is kept on measurement: at sf0.01 and sf0.1 it
    beats the scale_rank range-rank form (0.23 s vs 1.05 s at sf0.1,
    PLANS.md). ``llm_token_budget_selection_atscale`` is this same
    builder under a second key.
    """
    docs = load(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    toks = F.split(F.col("text"), " ")
    scored = docs.select(
        "doc_id",
        "lang",
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.expr(
            "size(array_distinct(split(text, ' '))) * 1000000L "
            "div size(split(text, ' '))"
        ).alias("quality_ppm"),
    )
    w = (
        Window.orderBy(F.col("quality_ppm").desc(), "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = scored.withColumn(
        "cum_tokens", F.sum("n_tokens").over(w).cast("bigint")
    )
    return (
        ranked.filter(F.col("cum_tokens") <= 10000)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs_selected"),
            F.sum("n_tokens").alias("tokens_selected"),
            F.min("quality_ppm").alias("min_quality_ppm"),
        )
        .orderBy("lang")
    )


# the *_atscale key stays published as an alias: same builder, same oracle
register(
    "llm_token_budget_selection_atscale",
    oracle=REGISTRY["llm_token_budget_selection"].oracle,
)(llm_token_budget_selection)


@register(
    "evt_cusum_changepoint",
    oracle="""
    WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS n_events
        FROM events GROUP BY 1
    ),
    stats AS (
        SELECT CAST(sum(n_events) AS BIGINT) AS total,
               CAST(count(*) AS BIGINT) AS n_days
        FROM daily
    ),
    cusum AS (
        SELECT day, n_events,
               CAST(sum(n_events * s.n_days - s.total) OVER (
                   ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cusum_scaled
        FROM daily CROSS JOIN stats s
    )
    SELECT day, n_events, cusum_scaled,
           CASE WHEN abs(cusum_scaled) = (SELECT max(abs(cusum_scaled))
                                          FROM cusum)
                THEN 1 ELSE 0 END AS is_changepoint
    FROM cusum
    ORDER BY day
    """,
)
def evt_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detection on the daily event-volume series:
    the cumulative sum of deviations from the global mean peaks (in
    absolute value) at the most likely level-shift day — the monitoring
    primitive behind 'did traffic step-change, and when?'.

    Scale design: the corpus reduces to DAY grain in one aggregate; the
    CUSUM window and the argmax run over day-cardinality rows only.
    Deviations are kept integer by scaling with n_days (x·n − total
    instead of x − total/n), so the running sum is exact and the peak
    day is engine-unambiguous — no float mean ever enters.
    """
    ev = load(spark, sf_dir, "events").select("ts")
    daily = ev.groupBy(
        F.date_trunc("day", F.col("ts")).cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("n_events")).transform(pin)
    # r12: daily feeds stats + the cusum walk, cusum feeds peak + the
    # final select — each lazily checkpointed (|days| rows).
    stats = daily.agg(
        F.sum("n_events").alias("total"), F.count(F.lit(1)).alias("n_days")
    )
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cusum = daily.crossJoin(F.broadcast(stats)).withColumn(
        "cusum_scaled",
        F.sum(
            F.col("n_events") * F.col("n_days") - F.col("total")
        ).over(w).cast("bigint"),
    )
    cusum = cusum.transform(pin)
    peak = cusum.agg(F.max(F.abs("cusum_scaled")).alias("peak"))
    return (
        cusum.crossJoin(F.broadcast(peak))
        .select(
            "day",
            "n_events",
            "cusum_scaled",
            F.when(F.abs("cusum_scaled") == F.col("peak"), 1)
            .otherwise(0)
            .alias("is_changepoint"),
        )
        .orderBy("day")
    )


@register(
    "agg_countmin_sketch",
    oracle="""
    WITH words AS (
        SELECT unnest(string_split(lower(text), ' ')) AS w
        FROM documents
    ),
    cells AS (
        SELECT d.d,
               CAST(('0x' || substr(md5(CAST(d.d AS VARCHAR) || '|' || w),
                                    1, 4)) AS BIGINT) % 256 AS col,
               CAST(count(*) AS BIGINT) AS cnt
        FROM words CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS d) d
        GROUP BY d.d, col
    ),
    probes AS (
        SELECT p.w AS probe_word, d.d,
               CAST(('0x' || substr(md5(CAST(d.d AS VARCHAR) || '|' || p.w),
                                    1, 4)) AS BIGINT) % 256 AS col
        FROM (SELECT unnest(['join', 'filter', 'window', 'scan',
                             'zzz_absent']) AS w) p
        CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS d) d
    ),
    estimates AS (
        SELECT pr.probe_word,
               CAST(min(COALESCE(c.cnt, 0)) AS BIGINT) AS cm_estimate
        FROM probes pr
        LEFT JOIN cells c ON pr.d = c.d AND pr.col = c.col
        GROUP BY pr.probe_word
    ),
    truth AS (
        SELECT w AS probe_word, CAST(count(*) AS BIGINT) AS true_count
        FROM words
        WHERE w IN ('join', 'filter', 'window', 'scan', 'zzz_absent')
        GROUP BY w
    )
    SELECT e.probe_word, e.cm_estimate,
           CAST(COALESCE(t.true_count, 0) AS BIGINT) AS true_count,
           e.cm_estimate - CAST(COALESCE(t.true_count, 0) AS BIGINT)
               AS overcount
    FROM estimates e LEFT JOIN truth t ON e.probe_word = t.probe_word
    ORDER BY e.probe_word
    """,
)
def agg_countmin_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch built from primitives (d=4 rows × w=256 counters,
    md5 row-hashes) with point queries for known-hot and absent words —
    the mergeable frequency sketch for heavy-hitter estimation when the
    key domain is too large for exact counts (completes the sketch
    family: HLL/theta/KLL/bitmap/Bloom + CM).

    Scale design: the sketch is ONE hash aggregate to d×w = 1024 cells —
    constant size regardless of corpus (and mergeable across partitions/
    days by cell-wise addition, like the HLL partials). Point queries
    probe 4 cells each via a broadcast join. Determinism: md5-derived
    16-bit columns agree exactly cross-engine, so estimates (and the
    CM guarantee estimate ≥ truth, visible in the overcount column)
    hash-match.
    """
    docs = load(spark, sf_dir, "documents").select("text")
    words = docs.select(
        F.explode(F.split(F.lower("text"), " ")).alias("w")
    )
    depths = spark.range(0, 4).select(F.col("id").cast("int").alias("d"))
    col_of = (
        lambda side: F.conv(
            F.substring(
                F.md5(F.concat_ws("|", F.col("d").cast("string"), F.col(side))),
                1,
                4,
            ),
            16,
            10,
        ).cast("bigint")
        % 256
    )
    cells = (
        words.crossJoin(F.broadcast(depths))
        .withColumn("col", col_of("w"))
        .groupBy("d", "col")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    probe_words = spark.createDataFrame(
        [("join",), ("filter",), ("window",), ("scan",), ("zzz_absent",)],
        "probe_word string",
    )
    probes = probe_words.crossJoin(F.broadcast(depths)).withColumn(
        "col", col_of("probe_word")
    )
    estimates = (
        probes.join(F.broadcast(cells), ["d", "col"], "left")
        .groupBy("probe_word")
        .agg(F.min(F.coalesce("cnt", F.lit(0))).alias("cm_estimate"))
    )
    truth = (
        words.filter(
            F.col("w").isin("join", "filter", "window", "scan", "zzz_absent")
        )
        .groupBy(F.col("w").alias("probe_word"))
        .agg(F.count(F.lit(1)).alias("true_count"))
    )
    return (
        estimates.join(F.broadcast(truth), "probe_word", "left")
        .select(
            "probe_word",
            "cm_estimate",
            F.coalesce("true_count", F.lit(0)).cast("bigint").alias(
                "true_count"
            ),
            (
                F.col("cm_estimate")
                - F.coalesce("true_count", F.lit(0)).cast("bigint")
            ).alias("overcount"),
        )
        .orderBy("probe_word")
    )


@register(
    "llm_preference_pairs",
    oracle="""
    WITH scored AS (
        -- NULL-text docs have no quality score: excluded from pairing
        -- outright — under the engines' opposite ASC null-position
        -- defaults (G13) they would otherwise rank as each other's
        -- "worst" on one engine only
        SELECT doc_id, source, text,
               CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
                   * 1000000 // len(string_split(text, ' ')) AS quality_ppm
        FROM documents
        WHERE text IS NOT NULL
    ),
    ranked AS (
        SELECT doc_id, source, quality_ppm,
               row_number() OVER (PARTITION BY source
                                  ORDER BY quality_ppm DESC, doc_id)
                   AS rk_best,
               row_number() OVER (PARTITION BY source
                                  ORDER BY quality_ppm ASC, doc_id DESC)
                   AS rk_worst
        FROM scored
    )
    SELECT b.source,
           b.doc_id AS chosen_doc, b.quality_ppm AS chosen_ppm,
           w.doc_id AS rejected_doc, w.quality_ppm AS rejected_ppm,
           b.quality_ppm - w.quality_ppm AS margin_ppm
    FROM (SELECT * FROM ranked WHERE rk_best <= 2) b
    JOIN (SELECT * FROM ranked WHERE rk_worst <= 2) w
      ON b.source = w.source AND b.rk_best = w.rk_worst
    WHERE b.doc_id != w.doc_id AND b.quality_ppm > w.quality_ppm
    ORDER BY b.source, b.rk_best
    """,
)
def llm_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference-pair mining for reward-model / DPO training: within
    each source, pair the top-quality documents (chosen) against the
    bottom-quality ones (rejected) with their score margin — turning a
    scalar quality signal into the contrastive (chosen, rejected) rows
    preference optimization consumes.

    Scale design: both rankings stack on ONE source-keyed window shuffle
    (same partition key, opposite orders); only rank ≤ 2 rows survive to
    the join, so the pair join is 2·|sources| rows a side — broadcast
    forever. Integer-ppm quality makes ranks and margins engine-exact;
    the guard clauses (distinct docs, strictly positive margin) keep
    degenerate single-doc sources out.
    """
    docs = load(spark, sf_dir, "documents").select("doc_id", "source", "text")
    # NULL-text docs have no quality score — excluded from pairing
    # outright (G13: NULL ranks diverge between engines under ASC)
    scored = docs.where(F.col("text").isNotNull()).select(
        "doc_id",
        "source",
        F.expr(
            "size(array_distinct(split(text, ' '))) * 1000000L "
            "div size(split(text, ' '))"
        ).alias("quality_ppm"),
    )
    w_best = Window.partitionBy("source").orderBy(
        F.col("quality_ppm").desc(), "doc_id"
    )
    w_worst = Window.partitionBy("source").orderBy(
        F.col("quality_ppm").asc(), F.col("doc_id").desc()
    )
    ranked = scored.withColumn(
        "rk_best", F.row_number().over(w_best)
    ).withColumn("rk_worst", F.row_number().over(w_worst))
    best = ranked.filter(F.col("rk_best") <= 2).select(
        "source",
        F.col("doc_id").alias("chosen_doc"),
        F.col("quality_ppm").alias("chosen_ppm"),
        "rk_best",
    )
    worst = ranked.filter(F.col("rk_worst") <= 2).select(
        F.col("source").alias("w_source"),
        F.col("doc_id").alias("rejected_doc"),
        F.col("quality_ppm").alias("rejected_ppm"),
        "rk_worst",
    )
    return (
        best.join(
            worst,
            (best.source == worst.w_source)
            & (best.rk_best == worst.rk_worst),
        )
        .filter(
            (F.col("chosen_doc") != F.col("rejected_doc"))
            & (F.col("chosen_ppm") > F.col("rejected_ppm"))
        )
        .select(
            "source",
            "chosen_doc",
            "chosen_ppm",
            "rejected_doc",
            "rejected_ppm",
            (F.col("chosen_ppm") - F.col("rejected_ppm")).alias("margin_ppm"),
        )
        .orderBy("source", "rk_best")
    )


@register(
    "agg_wilson_interval",
    oracle="""
    WITH counts AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               -- json_valid + TRY_CAST: malformed JSON / non-numeric
               -- payloads count as misses, not job kills (G11 —
               -- Spark's get_json_object is already NULL on both);
               -- engines agree only on canonical int grammar (G14c)
               CAST(sum(CASE WHEN json_valid(props)
                             AND TRY_CAST(props ->> 'k' AS INT) >= 50
                        THEN 1 ELSE 0 END) AS BIGINT) AS k
        FROM events
        GROUP BY event_type
    )
    SELECT event_type, n, k,
           round(CAST(k AS DOUBLE) / n, 6) AS rate,
           round((CAST(k AS DOUBLE) / n + 1.9208 / n
                  - 1.96 * sqrt((CAST(k AS DOUBLE) / n)
                                * (1.0 - CAST(k AS DOUBLE) / n) / n
                                + 0.9604 / (CAST(n AS DOUBLE) * n)))
                 / (1.0 + 3.8416 / n), 6) AS wilson_lo,
           round((CAST(k AS DOUBLE) / n + 1.9208 / n
                  + 1.96 * sqrt((CAST(k AS DOUBLE) / n)
                                * (1.0 - CAST(k AS DOUBLE) / n) / n
                                + 0.9604 / (CAST(n AS DOUBLE) * n)))
                 / (1.0 + 3.8416 / n), 6) AS wilson_hi
    FROM counts
    ORDER BY event_type
    """,
)
def agg_wilson_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson 95% confidence interval for a per-group success rate (the
    high-value-payload share per event type) — the interval that stays
    honest at small n and extreme rates, where the naive ±1.96·SE band
    leaves [0, 1] (pairs with evt_experiment_ab_analysis's z-test).

    Scale design: one hash aggregate to (type, n, k); the closed-form
    interval is scan-stage arithmetic over the 5 aggregated rows. The
    formula pins z² = 3.8416 etc. as literals so both engines evaluate
    the identical expression tree on exact integer n, k; one
    quantization per output column.
    """
    ev = load(spark, sf_dir, "events").select("event_type", "props")
    # try_cast: a malformed payload value ('a', '{not json') is a miss,
    # not a job kill (G11); canonical integer grammar only (G14c)
    hit = F.when(
        F.get_json_object("props", "$.k").try_cast("int") >= 50, 1
    ).otherwise(0)
    counts = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum(hit).alias("k")
    )
    p = F.col("k").cast("double") / F.col("n")
    n = F.col("n")
    half = 1.96 * F.sqrt(
        p * (1.0 - p) / n + 0.9604 / (n.cast("double") * n)
    )
    denom = 1.0 + 3.8416 / n
    return counts.select(
        "event_type",
        "n",
        "k",
        F.round(p, 6).alias("rate"),
        F.round((p + 1.9208 / n - half) / denom, 6).alias("wilson_lo"),
        F.round((p + 1.9208 / n + half) / denom, 6).alias("wilson_hi"),
    ).orderBy("event_type")


@register(
    "pipeline_product_profit",
    oracle="""
    SELECT n.n_name AS nation,
           CAST(extract(year FROM o.o_orderdate) AS INT) AS o_year,
           CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                         AS BIGINT)
                    - CAST(round(p.p_retailprice * 100) AS BIGINT)
                      * CAST(round(l.l_quantity) AS BIGINT) // 100
               ) AS BIGINT) AS profit_cents
    FROM lineitem l
    JOIN part p     ON l.l_partkey = p.p_partkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    WHERE p.p_type = 'PROMO'
    GROUP BY n.n_name, o_year
    ORDER BY nation, o_year DESC
    """,
)
def pipeline_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product-type profit by supplier nation and order
    year): revenue minus a unit-cost proxy (the fixtures carry no
    partsupp supplycost; p_retailprice/100 per unit stands in), over the
    PROMO product slice.

    Scale design: the p_type filter pushes into the part scan and the
    part join halves the fact stream before supplier/nation broadcasts
    tag it; orders joins on the shared l_orderkey key for the year.
    Profit terms quantize to integer cents PER ROW before the nation ×
    year aggregate (intermediate division floors in integer space
    identically on both engines), so group sums are order-independent.
    """
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    supp = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    revenue_c = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("bigint")
    cost_c = F.expr(
        "cast(round(p_retailprice * 100) as bigint) "
        "* cast(round(l_quantity) as bigint) div 100"
    )
    return (
        li.join(
            F.broadcast(part.select("p_partkey", "p_retailprice")),
            li.l_partkey == F.col("p_partkey"),
        )
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(F.sum(revenue_c - cost_c).alias("profit_cents"))
        .orderBy("nation", F.col("o_year").desc())
    )


@register(
    "pipeline_shipmode_priority",
    oracle="""
    SELECT l.l_linestatus AS ship_class,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1999-01-01 00:00:00'
    GROUP BY l.l_linestatus
    ORDER BY ship_class
    """,
)
def pipeline_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipping class vs order priority): per ship
    class (l_linestatus stands in for the fixtures' missing shipmode),
    count high- vs low-priority lineitems in a two-year shipping window
    — one conditional aggregate over the orderkey join.

    Scale design: the date-range predicate pushes into the lineitem
    scan (PushedFilters on l_shipdate); both CASE branches ride ONE
    partial+final aggregate, so adding priority classes adds
    expressions, never passes. The join keys on the fact's natural
    orderkey; orders arrives projected to two columns.
    """
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linestatus", "l_shipdate"
    )
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp_ntz"))
        )
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(F.col("l_linestatus").alias("ship_class"))
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~hi, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("ship_class")
    )


@register(
    "agg_ab_srm_check",
    oracle="""
    WITH arms AS (
        SELECT CASE WHEN CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)),
                                              1, 4)) AS BIGINT) % 2 = 0
                    THEN 'control' ELSE 'treatment' END AS arm,
               user_id
        FROM events
        GROUP BY user_id
    ),
    counts AS (
        SELECT arm, CAST(count(*) AS BIGINT) AS n_users FROM arms GROUP BY arm
    ),
    tot AS (SELECT CAST(sum(n_users) AS BIGINT) AS n FROM counts)
    SELECT arm, n_users,
           round(CAST(n_users AS DOUBLE) / n, 6) AS observed_share,
           round(CAST((2 * n_users - n) AS DOUBLE)
                 * (2 * n_users - n) / (2.0 * n), 6) AS chi2_contribution,
           CASE WHEN CAST((2 * n_users - n) AS DOUBLE)
                     * (2 * n_users - n) / (2.0 * n) > 3.841
                THEN 1 ELSE 0 END AS srm_flag_95
    FROM counts CROSS JOIN tot
    ORDER BY arm
    """,
)
def agg_ab_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch (SRM) guardrail for the A/B assignment in
    evt_experiment_ab_analysis: chi-square the observed 50/50 arm split
    before trusting any experiment read-out — the most common silent
    A/B corruption (broken assignment, bot filtering one arm).

    Scale design: users dedup once (the same hash-bucket assignment as
    the AB op), arms reduce to 2 rows; the chi-square term
    (obs−exp)²/exp with exp = n/2 simplifies to (2·obs−n)²/(2n) —
    all-integer numerator, one quantized division per arm row.
    """
    ev = load(spark, sf_dir, "events").select("user_id")
    arm = F.when(
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 4), 16, 10)
        .cast("bigint")
        % 2
        == 0,
        "control",
    ).otherwise("treatment")
    arms = ev.distinct().select(arm.alias("arm"))
    counts = arms.groupBy("arm").agg(F.count(F.lit(1)).alias("n_users"))
    tot = counts.agg(F.sum("n_users").alias("n"))
    dev = 2 * F.col("n_users") - F.col("n")
    chi2 = dev.cast("double") * dev / (2.0 * F.col("n"))
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "arm",
            "n_users",
            F.round(F.col("n_users").cast("double") / F.col("n"), 6).alias(
                "observed_share"
            ),
            F.round(chi2, 6).alias("chi2_contribution"),
            F.when(chi2 > 3.841, 1).otherwise(0).alias("srm_flag_95"),
        )
        .orderBy("arm")
    )


@register(
    "fn_ip_subnet_rollup",
    oracle="""
    WITH ips AS (
        SELECT user_id,
               CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
                    AS BIGINT) % 1048576 + 167772160 AS ip_int
        FROM (SELECT DISTINCT user_id FROM events)
    ),
    rendered AS (
        SELECT user_id, ip_int,
               CAST(ip_int // 16777216 AS VARCHAR) || '.' ||
               CAST((ip_int // 65536) % 256 AS VARCHAR) || '.' ||
               CAST((ip_int // 256) % 256 AS VARCHAR) || '.' ||
               CAST(ip_int % 256 AS VARCHAR) AS ip_dotted,
               ip_int // 256 * 256 AS subnet24_base
        FROM ips
    )
    SELECT CAST(subnet24_base // 16777216 AS VARCHAR) || '.' ||
           CAST((subnet24_base // 65536) % 256 AS VARCHAR) || '.' ||
           CAST((subnet24_base // 256) % 256 AS VARCHAR) || '.0/24'
               AS subnet,
           CAST(count(*) AS BIGINT) AS n_users,
           min(ip_dotted) AS first_ip
    FROM rendered
    GROUP BY subnet24_base
    HAVING count(*) >= 2
    ORDER BY subnet
    """,
)
def fn_ip_subnet_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IPv4 toolkit: integer ↔ dotted-quad conversion and /24 subnet
    aggregation (the abuse-detection primitive: many accounts from one
    subnet) — synthetic IPs derive deterministically from user ids
    since the fixtures carry none.

    Scale design: conversion is pure scan-stage integer div/mod
    arithmetic plus string rendering (byte-identical cross-engine,
    no inet type needed); the rollup is one hash aggregate on the
    integer subnet base. The HAVING keeps only multi-user subnets —
    the investigation shortlist, not the full IP census.
    """
    ev = load(spark, sf_dir, "events").select("user_id").distinct()
    ip_int = (
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % F.lit(1048576)
        + F.lit(167772160)
    )
    octet = lambda e: e.cast("bigint").cast("string")  # noqa: E731
    ips = ev.select("user_id", ip_int.alias("ip_int"))
    rendered = ips.select(
        "user_id",
        "ip_int",
        F.concat_ws(
            ".",
            octet(F.expr("ip_int div 16777216")),
            octet(F.expr("(ip_int div 65536) % 256")),
            octet(F.expr("(ip_int div 256) % 256")),
            octet(F.expr("ip_int % 256")),
        ).alias("ip_dotted"),
        F.expr("ip_int div 256 * 256").alias("subnet24_base"),
    )
    subnet = F.concat(
        octet(F.expr("subnet24_base div 16777216")),
        F.lit("."),
        octet(F.expr("(subnet24_base div 65536) % 256")),
        F.lit("."),
        octet(F.expr("(subnet24_base div 256) % 256")),
        F.lit(".0/24"),
    )
    return (
        rendered.groupBy("subnet24_base")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.min("ip_dotted").alias("first_ip"),
        )
        .filter(F.col("n_users") >= 2)
        .select(subnet.alias("subnet"), "n_users", "first_ip")
        .orderBy("subnet")
    )


@register(
    "fn_rounding_modes",
    oracle="""
    SELECT o_orderkey,
           CAST(o_orderkey AS DOUBLE) + 0.5 AS half_val,
           round(CAST(o_orderkey AS DOUBLE) + 0.5, 0) AS round_half_away,
           roundbankers(CAST(o_orderkey AS DOUBLE) + 0.5, 0)
               AS round_half_even,
           roundbankers(CAST(o_orderkey AS DOUBLE) / 8, 2)
               AS bankers_2dp
    FROM orders
    WHERE o_orderkey < 20
    ORDER BY o_orderkey
    """,
)
def fn_rounding_modes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rounding-mode surface: HALF_UP ``round`` vs banker's HALF_EVEN
    ``bround`` on exact .5 ties (x+0.5 for integer x is an exact double,
    so every row IS a tie case) — the financial-rounding control that
    determines whether cent totals drift upward over millions of rows.

    Scale design: pure scan-stage arithmetic on a pushed-down key
    filter. Cross-engine: Spark round/bround pair exactly with DuckDB
    round/roundbankers on doubles (verified at build time); /8 keeps the
    2dp case exactly representable so the tie behavior, not float fuzz,
    is what's compared.
    """
    orders = load(spark, sf_dir, "orders").select("o_orderkey")
    x = F.col("o_orderkey").cast("double")
    return (
        orders.filter(F.col("o_orderkey") < 20)
        .select(
            "o_orderkey",
            (x + 0.5).alias("half_val"),
            F.round(x + 0.5, 0).alias("round_half_away"),
            F.bround(x + 0.5, 0).alias("round_half_even"),
            F.bround(x / 8, 2).alias("bankers_2dp"),
        )
        .orderBy("o_orderkey")
    )


@register(
    "agg_percentile_disc",
    oracle="""
    SELECT l_returnflag,
           CAST(quantile_disc(CAST(round(l_extendedprice * 100) AS BIGINT),
                              0.5) AS BIGINT) AS p50_cents_disc,
           CAST(quantile_disc(CAST(round(l_extendedprice * 100) AS BIGINT),
                              0.9) AS BIGINT) AS p90_cents_disc,
           round(quantile_cont(CAST(round(l_extendedprice * 100) AS BIGINT),
                               0.5), 4) AS p50_cents_cont
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def agg_percentile_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete percentiles (percentile_disc ↔ quantile_disc): the
    quantile that returns an ACTUAL data value instead of an
    interpolation — what you want when the value must exist (a real
    order you can look up) rather than a synthetic midpoint; reported
    next to the continuous form to expose the difference.

    Scale design: same single-aggregate shape as agg_percentile; disc
    returns an exact integer cent value (no float at all for the disc
    columns), making this the most hash-stable percentile in the repo.
    """
    li = load(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice")
    cents = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    src = li.select("l_returnflag", cents.alias("c"))
    return (
        src.groupBy("l_returnflag")
        .agg(
            F.expr(
                "percentile_disc(0.5) within group (order by c)"
            ).cast("bigint").alias("p50_cents_disc"),
            F.expr(
                "percentile_disc(0.9) within group (order by c)"
            ).cast("bigint").alias("p90_cents_disc"),
            F.round(F.expr("percentile(c, 0.5)"), 4).alias("p50_cents_cont"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "llm_corpus_diff_census",
    oracle="""
    WITH v1 AS (
        SELECT doc_id, md5(text) AS content_hash
        FROM documents WHERE doc_id % 11 != 0
    ),
    v2 AS (
        SELECT doc_id,
               CASE WHEN doc_id % 7 = 0 THEN md5(upper(text))
                    ELSE md5(text) END AS content_hash
        FROM documents WHERE doc_id % 13 != 0
    ),
    diff AS (
        SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
               CASE
                   WHEN a.doc_id IS NULL THEN 'added'
                   WHEN b.doc_id IS NULL THEN 'removed'
                   WHEN a.content_hash != b.content_hash THEN 'modified'
                   ELSE 'unchanged'
               END AS change
        FROM v1 a FULL OUTER JOIN v2 b ON a.doc_id = b.doc_id
    )
    SELECT change, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS first_doc
    FROM diff
    GROUP BY change
    ORDER BY change
    """,
)
def llm_corpus_diff_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus snapshot diff (the between-crawls changelog): full-outer
    join two corpus versions on doc_id, classify each document
    added / removed / modified / unchanged by content hash, and report
    the census — the observability layer every incremental ingest needs
    before deciding what to re-process. Versions are carved
    deterministically from the fixture (v1 drops multiples of 11, v2
    drops multiples of 13 and rewrites multiples of 7).

    Scale design: each side reduces to (doc_id, content_hash) — 16
    bytes of digest, never text — before the co-partitioned full-outer
    join on the shared doc_id key; the census is a 4-row aggregate.
    The downstream incremental pipeline consumes the 'modified'+'added'
    slice only, which is the O(changes) contract.
    """
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    v1 = docs.filter(F.col("doc_id") % 11 != 0).select(
        "doc_id", F.md5("text").alias("content_hash")
    )
    v2 = docs.filter(F.col("doc_id") % 13 != 0).select(
        "doc_id",
        F.when(F.col("doc_id") % 7 == 0, F.md5(F.upper("text")))
        .otherwise(F.md5("text"))
        .alias("content_hash"),
    )
    a, b = v1.alias("a"), v2.alias("b")
    diff = a.join(b, F.col("a.doc_id") == F.col("b.doc_id"), "full_outer").select(
        F.coalesce("a.doc_id", "b.doc_id").alias("doc_id"),
        F.when(F.col("a.doc_id").isNull(), "added")
        .when(F.col("b.doc_id").isNull(), "removed")
        .when(F.col("a.content_hash") != F.col("b.content_hash"), "modified")
        .otherwise("unchanged")
        .alias("change"),
    )
    return (
        diff.groupBy("change")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
        )
        .orderBy("change")
    )


@register(
    "fn_xpath_extract",
    oracle="""
    WITH xml AS (
        SELECT n_nationkey,
               '<nation id="' || CAST(n_nationkey AS VARCHAR) || '"><name>'
               || n_name || '</name><region>'
               || CAST(n_regionkey AS VARCHAR) || '</region></nation>'
                   AS doc
        FROM nation
    )
    SELECT n_nationkey,
           regexp_extract(doc, '<name>([^<]*)</name>', 1) AS name_x,
           CAST(regexp_extract(doc, '<region>([^<]*)</region>', 1) AS BIGINT)
               AS region_x,
           regexp_extract(doc, 'id="([^"]*)"', 1) AS id_attr
    FROM xml
    ORDER BY n_nationkey
    """,
)
def fn_xpath_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XPath point extraction over XML strings (xpath_string /
    xpath_long / attribute axes) — the scalar-function sibling of the
    scan_xml_roundtrip source: parse fields out of XML payload COLUMNS
    without a document-level reader. The oracle re-derives the same
    fields with regexes (DuckDB has no XPath), which also pins the
    extraction semantics to the simple-element subset both can express.

    Scale design: scan-stage only — the XML is constructed and parsed
    per row in one codegen stage, no exchanges; at 100 TB this is the
    map-only payload-flattening step before columnar rewrite.
    """
    nation = load(spark, sf_dir, "nation")
    xml = nation.select(
        "n_nationkey",
        F.concat(
            F.lit('<nation id="'),
            F.col("n_nationkey").cast("string"),
            F.lit('"><name>'),
            F.col("n_name"),
            F.lit("</name><region>"),
            F.col("n_regionkey").cast("string"),
            F.lit("</region></nation>"),
        ).alias("doc"),
    )
    return xml.select(
        "n_nationkey",
        F.expr("xpath_string(doc, '/nation/name')").alias("name_x"),
        F.expr("xpath_long(doc, '/nation/region')").alias("region_x"),
        F.expr("xpath_string(doc, '/nation/@id')").alias("id_attr"),
    ).orderBy("n_nationkey")


@register(
    "llm_topic_keywords_chi2",
    oracle="""
    WITH wl AS (
        SELECT lang, unnest(string_split(lower(text), ' ')) AS word
        FROM documents
    ),
    cell AS (
        SELECT lang, word, CAST(count(*) AS BIGINT) AS a
        FROM wl GROUP BY lang, word
    ),
    word_tot AS (
        SELECT word, CAST(sum(a) AS BIGINT) AS wt FROM cell GROUP BY word
    ),
    lang_tot AS (
        SELECT lang, CAST(sum(a) AS BIGINT) AS lt FROM cell GROUP BY lang
    ),
    tot AS (SELECT CAST(sum(a) AS BIGINT) AS n FROM cell),
    scored AS (
        SELECT c.lang, c.word, c.a,
               -- chi2 = n*(a*d - b*c)^2 / ((a+b)(c+d)(a+c)(b+d)) with
               -- b = wt-a, c = lt-a, d = n-wt-lt+a; all-integer numerator
               round(CAST(t.n AS DOUBLE)
                     * (CAST(c.a AS DOUBLE) * (t.n - w.wt - l.lt + c.a)
                        - CAST(w.wt - c.a AS DOUBLE) * (l.lt - c.a))
                     * (CAST(c.a AS DOUBLE) * (t.n - w.wt - l.lt + c.a)
                        - CAST(w.wt - c.a AS DOUBLE) * (l.lt - c.a))
                     / (CAST(w.wt AS DOUBLE) * (t.n - w.wt)
                        * l.lt * (t.n - l.lt)), 4) AS chi2
        FROM cell c
        JOIN word_tot w ON c.word = w.word
        JOIN lang_tot l ON c.lang = l.lang
        CROSS JOIN tot t
        WHERE c.a >= 5
    ),
    ranked AS (
        SELECT lang, word, a, chi2,
               row_number() OVER (PARTITION BY lang
                                  ORDER BY chi2 DESC, word) AS rk
        FROM scored
    )
    SELECT lang, word, a AS n_in_lang, chi2, CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= 5
    ORDER BY lang, rk
    """,
)
def llm_topic_keywords_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinctive keywords per language by chi-square association (the
    group-level sibling of per-doc TF-IDF): for each (lang, word) cell,
    the 2×2 contingency chi-square against the rest of the corpus, top-5
    per language — the slice-characterization tool for corpus cards.

    Scale design: the corpus reduces to the (lang, word) count matrix in
    ONE aggregate; marginals are vocab/|langs|-bounded reaggregations
    broadcast back; the ranking window runs over vocab-per-lang rows.
    The chi-square numerator n·(ad−bc)² is computed from exact integer
    counts (doubles hold these products exactly at fixture scale; the
    min-support filter a ≥ 5 also guards degenerate cells), quantized
    once per surviving cell.
    """
    docs = load(spark, sf_dir, "documents").select("lang", "text")
    wl = docs.select(
        "lang", F.explode(F.split(F.lower("text"), " ")).alias("word")
    )
    # r12 (census + plan audit): this reduced frame is referenced by
    # several downstream branches and was re-planned per reference
    # (repeated corpus scans + re-paid shuffles); the lazy
    # localCheckpoint pins one evaluation — bit-identical rows.
    cell = (
        wl.groupBy("lang", "word")
        .agg(F.count(F.lit(1)).alias("a"))
        .transform(
            pin, approx_input_bytes=input_size_bytes(sf_dir, "documents")
        )
    )
    word_tot = cell.groupBy("word").agg(F.sum("a").alias("wt"))
    lang_tot = cell.groupBy("lang").agg(F.sum("a").alias("lt"))
    tot = cell.agg(F.sum("a").alias("n"))
    a = F.col("a").cast("double")
    d = (F.col("n") - F.col("wt") - F.col("lt") + F.col("a")).cast("double")
    b = (F.col("wt") - F.col("a")).cast("double")
    cc = (F.col("lt") - F.col("a")).cast("double")
    chi2 = F.round(
        F.col("n").cast("double")
        * (a * d - b * cc)
        * (a * d - b * cc)
        / (
            F.col("wt").cast("double")
            * (F.col("n") - F.col("wt"))
            * F.col("lt")
            * (F.col("n") - F.col("lt"))
        ),
        4,
    )
    scored = (
        cell.join(word_tot, "word")
        .join(F.broadcast(lang_tot), "lang")
        .crossJoin(F.broadcast(tot))
        .filter(F.col("a") >= 5)
        .select("lang", "word", "a", chi2.alias("chi2"))
    )
    w = Window.partitionBy("lang").orderBy(F.col("chi2").desc(), "word")
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= 5)
        .select("lang", "word", F.col("a").alias("n_in_lang"), "chi2", "rk")
        .orderBy("lang", "rk")
    )


@register(
    "evt_alert_debounce",
    oracle="""
    WITH hours AS (
        SELECT date_trunc('hour', ts) AS hour,
               CAST(count(*) AS BIGINT) AS n_events
        FROM events
        GROUP BY 1
    ),
    flagged AS (
        SELECT hour, n_events,
               CASE WHEN n_events >= 16 THEN 1 ELSE 0 END AS anomalous
        FROM hours
    ),
    runs AS (
        SELECT hour, n_events, anomalous,
               CAST(row_number() OVER (ORDER BY hour) AS BIGINT)
               - CAST(row_number() OVER (PARTITION BY anomalous
                                         ORDER BY hour) AS BIGINT)
                   AS grp
        FROM flagged
    ),
    episodes AS (
        SELECT anomalous, grp,
               min(hour) AS run_start,
               max(hour) AS run_end,
               CAST(count(*) AS BIGINT) AS run_hours,
               CAST(sum(n_events) AS BIGINT) AS run_events
        FROM runs GROUP BY anomalous, grp
    )
    SELECT run_start, run_end, run_hours, run_events
    FROM episodes
    WHERE anomalous = 1 AND run_hours >= 3
    ORDER BY run_start
    """,
)
def evt_alert_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alert debouncing: page only when traffic stays above threshold
    for ≥ 3 consecutive hours (gaps-and-islands run grouping on the
    threshold flag) — the flap suppressor between raw anomaly flags and
    a pager.

    Scale design: the corpus reduces to HOUR grain first (one
    aggregate); both run-numbering windows and the episode rollup
    operate on hour-cardinality rows. The classic rn − rn_by_flag
    island id is pure integer arithmetic; episode boundaries are
    min/max over exact timestamps — engine-identical throughout.
    """
    ev = load(spark, sf_dir, "events").select("ts")
    hours = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    flagged = hours.withColumn(
        "anomalous", F.when(F.col("n_events") >= 16, 1).otherwise(0)
    )
    w_all = Window.orderBy("hour")
    w_flag = Window.partitionBy("anomalous").orderBy("hour")
    runs = flagged.withColumn(
        "grp",
        F.row_number().over(w_all).cast("bigint")
        - F.row_number().over(w_flag).cast("bigint"),
    )
    episodes = runs.groupBy("anomalous", "grp").agg(
        F.min("hour").alias("run_start"),
        F.max("hour").alias("run_end"),
        F.count(F.lit(1)).alias("run_hours"),
        F.sum("n_events").alias("run_events"),
    )
    return (
        episodes.filter(
            (F.col("anomalous") == 1) & (F.col("run_hours") >= 3)
        )
        .select("run_start", "run_end", "run_hours", "run_events")
        .orderBy("run_start")
    )


@register(
    "fn_uuid_deterministic",
    oracle="""
    SELECT doc_id,
           substr(md5('doc:' || CAST(doc_id AS VARCHAR)), 1, 8) || '-' ||
           substr(md5('doc:' || CAST(doc_id AS VARCHAR)), 9, 4) || '-' ||
           '3' || substr(md5('doc:' || CAST(doc_id AS VARCHAR)), 14, 3)
           || '-' ||
           CASE CAST(('0x' || substr(md5('doc:' || CAST(doc_id AS VARCHAR)),
                                     17, 1)) AS BIGINT) % 4
                WHEN 0 THEN '8' WHEN 1 THEN '9'
                WHEN 2 THEN 'a' ELSE 'b' END
           || substr(md5('doc:' || CAST(doc_id AS VARCHAR)), 18, 3)
           || '-' ||
           substr(md5('doc:' || CAST(doc_id AS VARCHAR)), 21, 12)
               AS uuid_v3
    FROM documents
    WHERE doc_id < 50
    ORDER BY doc_id
    """,
)
def fn_uuid_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Name-based deterministic UUID (v3, md5-derived) rendering — the
    stable surrogate-key generator for cross-system entity identity
    (same input → same UUID on every engine, rerun, and cluster; Spark's
    built-in uuid() is random and therefore useless for keys that must
    reproduce).

    Scale design: pure scan-stage string slicing of one md5 per row —
    no state, no shuffle, no RNG. Version nibble pinned to '3' and the
    variant nibble folded into {8, 9, a, b} per RFC 4122, both as
    deterministic arithmetic on the digest.
    """
    docs = load(spark, sf_dir, "documents").select("doc_id")
    h = F.md5(F.concat(F.lit("doc:"), F.col("doc_id").cast("string")))
    variant = (
        F.conv(F.substring(h, 17, 1), 16, 10).cast("bigint") % 4
    )
    uuid = F.concat(
        F.substring(h, 1, 8),
        F.lit("-"),
        F.substring(h, 9, 4),
        F.lit("-3"),
        F.substring(h, 14, 3),
        F.lit("-"),
        F.when(variant == 0, "8")
        .when(variant == 1, "9")
        .when(variant == 2, "a")
        .otherwise("b"),
        F.substring(h, 18, 3),
        F.lit("-"),
        F.substring(h, 21, 12),
    )
    return (
        docs.filter(F.col("doc_id") < 50)
        .select("doc_id", uuid.alias("uuid_v3"))
        .orderBy("doc_id")
    )


@register(
    "graph_triangle_census",
    oracle="""
    WITH order_brand AS (
        SELECT DISTINCT l.l_orderkey, p.p_brand
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ),
    edges AS (
        SELECT DISTINCT a.p_brand AS u, b.p_brand AS v
        FROM order_brand a
        JOIN order_brand b
          ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
        GROUP BY a.p_brand, b.p_brand
        HAVING count(*) >= 12
    ),
    triangles AS (
        SELECT e1.u AS a, e1.v AS b, e2.v AS c
        FROM edges e1
        JOIN edges e2 ON e1.v = e2.u
        JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
    )
    SELECT CAST((SELECT count(*) FROM edges) AS BIGINT) AS n_edges,
           CAST(count(*) AS BIGINT) AS n_triangles
    FROM triangles
    """,
)
def graph_triangle_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting on the brand co-purchase graph (edges =
    brand pairs co-bought in ≥ 12 orders): the clustering-structure
    probe that distinguishes a clique-ish market from a hub-and-spoke
    one — the graph-analytics sibling of llm_dedup_cluster_components.

    Scale design: the graph PROJECTION is where scale lives — the
    corpus reduces to the bounded brand-pair edge list (≤ C(25,2) rows)
    through the same orderkey-co-partitioned dedup as
    pipeline_basket_affinity; the triangle join then runs entirely on
    the node-bounded edge list (oriented u<v edges make each triangle
    count exactly once). On an unbounded vertex domain the same query
    partitions edges by min-degree vertex first (the standard
    distributed-triangle trick, documented here as the scale path).
    """
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    order_brand = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .select("l_orderkey", "p_brand")
        .distinct()
    )
    a = order_brand.alias("a")
    b = order_brand.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.p_brand") < F.col("b.p_brand")),
        )
        .groupBy(
            F.col("a.p_brand").alias("u"), F.col("b.p_brand").alias("v")
        )
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= 12)
        .select("u", "v")
        # r12 (census + plan audit): edges is referenced by all three
        # triangle sides AND the n_edges census — Catalyst re-planned
        # the whole corpus projection + self-join per reference (8
        # lineitem scans). Lazy localCheckpoint of the node-bounded
        # edge list (<= C(25,2) rows, computed inside the first action)
        # pins one evaluation; integer counts → identical output.
        .transform(pin)
    )
    e1 = edges.select(F.col("u").alias("t_a"), F.col("v").alias("t_b"))
    e2 = edges.select(F.col("u").alias("t_b2"), F.col("v").alias("t_c"))
    e3 = edges.select(F.col("u").alias("t_a3"), F.col("v").alias("t_c3"))
    triangles = (
        e1.join(e2, F.col("t_b") == F.col("t_b2"))
        .join(
            e3,
            (F.col("t_a3") == F.col("t_a")) & (F.col("t_c3") == F.col("t_c")),
        )
    )
    # n_edges rides along declaratively (agg_fk_integrity_audit pattern):
    # an eager edges.count() here would execute the corpus dedup +
    # self-join twice per run for a driver-side scalar
    n_edges = edges.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    return (
        triangles.agg(F.count(F.lit(1)).alias("n_triangles"))
        .crossJoin(F.broadcast(n_edges))
        .select("n_edges", "n_triangles")
    )


@register(
    "llm_span_annotation_offsets",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t
        FROM documents WHERE doc_id < 20
    ),
    spans AS (
        SELECT doc_id,
               CAST(i AS BIGINT) AS token_idx,
               t[CAST(i AS INT)] AS token,
               -- char offset = sum of lengths of prior tokens + separators
               CAST(list_reduce(list_prepend(0,
                        list_transform(t[1:CAST(i AS INT) - 1],
                                       w -> len(w) + 1)),
                    (acc, v) -> acc + v) AS BIGINT) AS char_start,
               CAST(list_reduce(list_prepend(0,
                        list_transform(t[1:CAST(i AS INT) - 1],
                                       w -> len(w) + 1)),
                    (acc, v) -> acc + v)
                    + len(t[CAST(i AS INT)]) AS BIGINT) AS char_end
        FROM toks, unnest(generate_series(1, len(t))) AS u(i)
    )
    SELECT doc_id, token_idx, token, char_start, char_end
    FROM spans
    WHERE token_idx <= 5
    ORDER BY doc_id, token_idx
    """,
)
def llm_span_annotation_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token span → character offset alignment (the NER/annotation
    training-data primitive): for each token, its [start, end) character
    offsets in the original text, derived purely from token lengths +
    separators — the mapping every span-labeling dataset needs between
    token space and character space.

    Scale design: offsets are a scan-stage prefix-sum fold over the
    token array (integer lengths — exact), exploded to one row per
    token; no shuffle at all before the presentation sort. Verified
    consistency: substring(text, char_start+1, len) == token holds by
    construction on the space-joined fixture text.
    """
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.filter(F.col("doc_id") < 20).select(
        "doc_id", F.split(F.col("text"), " ").alias("t")
    )
    spans = toks.select(
        "doc_id",
        F.posexplode(
            F.expr(
                """
                transform(t, (w, i) -> struct(
                    cast(i + 1 as bigint) AS token_idx,
                    w AS token,
                    cast(aggregate(slice(t, 1, i),
                        0, (acc, x) -> acc + length(x) + 1) as bigint)
                        AS char_start,
                    cast(aggregate(slice(t, 1, i),
                        0, (acc, x) -> acc + length(x) + 1)
                        + length(w) as bigint) AS char_end))
                """
            )
        ).alias("pos0", "s"),
    ).select("doc_id", "s.token_idx", "s.token", "s.char_start", "s.char_end")
    return (
        spans.filter(F.col("token_idx") <= 5)
        .orderBy("doc_id", "token_idx")
    )


@register(
    "agg_fk_integrity_audit",
    oracle="""
    SELECT 'lineitem->orders' AS relation,
           CAST((SELECT count(*) FROM lineitem) AS BIGINT) AS n_child_rows,
           CAST((SELECT count(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM orders o
                                   WHERE o.o_orderkey = l.l_orderkey))
                AS BIGINT) AS n_orphans,
           CAST((SELECT count(DISTINCT l_orderkey) FROM lineitem)
                AS BIGINT) AS n_parents_referenced,
           CAST((SELECT count(*) FROM orders) AS BIGINT) AS n_parent_rows
    UNION ALL
    SELECT 'lineitem->part',
           CAST((SELECT count(*) FROM lineitem) AS BIGINT),
           CAST((SELECT count(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM part p
                                   WHERE p.p_partkey = l.l_partkey))
                AS BIGINT),
           CAST((SELECT count(DISTINCT l_partkey) FROM lineitem) AS BIGINT),
           CAST((SELECT count(*) FROM part) AS BIGINT)
    UNION ALL
    SELECT 'orders->customer',
           CAST((SELECT count(*) FROM orders) AS BIGINT),
           CAST((SELECT count(*) FROM orders o
                 WHERE NOT EXISTS (SELECT 1 FROM customer c
                                   WHERE c.c_custkey = o.o_custkey))
                AS BIGINT),
           CAST((SELECT count(DISTINCT o_custkey) FROM orders) AS BIGINT),
           CAST((SELECT count(*) FROM customer) AS BIGINT)
    ORDER BY relation
    """,
)
def agg_fk_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across the star schema's FK edges:
    orphaned child rows (left-anti join counts), parent-key coverage,
    and row counts per relation — the constraint check a lakehouse runs
    because parquet enforces nothing (the FK-shaped complement of
    validate_expectations' domain rules). Assembled fully
    declaratively: every term is a 1-row aggregate crossJoined into its
    relation row — no driver-side count() actions.

    Scale design: each relation costs one left-anti hash join on its
    own natural key plus count aggregates — at 100 TB the anti joins
    ride broadcast parent key-sets where parents are dims, shuffle
    co-partitioned where both sides are facts. Three relations audited
    in one result; adding an edge adds a union branch, not a redesign.
    """
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    part = load(spark, sf_dir, "part").select("p_partkey")
    cust = load(spark, sf_dir, "customer").select("c_custkey")

    def audit(name, child, child_key, parent, parent_key):
        # each term is a 1-row aggregate; the crossJoins assemble the
        # relation row without any driver-side action
        base = child.agg(
            F.count(F.lit(1)).alias("n_child_rows"),
            F.countDistinct(child_key).alias("n_parents_referenced"),
        )
        orphans = (
            child.join(
                parent, child[child_key] == parent[parent_key], "left_anti"
            )
            .agg(F.count(F.lit(1)).alias("n_orphans"))
        )
        parents = parent.agg(F.count(F.lit(1)).alias("n_parent_rows"))
        return (
            base.crossJoin(orphans)
            .crossJoin(parents)
            .select(
                F.lit(name).alias("relation"),
                "n_child_rows",
                "n_orphans",
                "n_parents_referenced",
                "n_parent_rows",
            )
        )

    return (
        audit("lineitem->orders", li, "l_orderkey", orders, "o_orderkey")
        .unionByName(audit("lineitem->part", li, "l_partkey", part, "p_partkey"))
        .unionByName(
            audit("orders->customer", orders, "o_custkey", cust, "c_custkey")
        )
        .orderBy("relation")
    )


@register(
    "win_weighted_moving_avg",
    oracle="""
    WITH daily AS (
        SELECT event_type, date_trunc('day', ts) AS day,
               CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT)
                   AS val_micro
        FROM events GROUP BY 1, 2
    ),
    framed AS (
        SELECT event_type, day, val_micro,
               list(val_micro) OVER (
                   PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN 4 PRECEDING AND CURRENT ROW
               ) AS frame
        FROM daily
    )
    SELECT event_type, day, val_micro,
           round(CAST(list_reduce(list_prepend(CAST(0 AS HUGEINT),
                     list_transform(frame, (x, i) -> CAST(x AS HUGEINT) * i)),
                     (acc, v) -> acc + v) AS DOUBLE)
                 / (CAST(len(frame) AS BIGINT) * (len(frame) + 1) / 2)
                 / 1000000.0, 6) AS wma
    FROM framed
    ORDER BY event_type, day
    """,
)
def win_weighted_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linearly-weighted moving average (weights 1..k, newest heaviest)
    of the daily value series — the WMA sibling of win_ewma_bounded
    with integer weights, so the weighted sum is EXACT integer
    arithmetic end to end (no dyadic-float argument needed).

    Scale design: same shape as the EWMA — (type, day)-grain reduction
    first, 5-row frames over day-cardinality rows. The indexed-lambda
    weighting (position i gets weight i) and the triangular-number
    normalizer k(k+1)/2 are both integers; one quantized division per
    output row.
    """
    ev = load(spark, sf_dir, "events").select("ts", "event_type", "value")
    micro = F.round(F.col("value") * 1000000).cast("bigint")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.sum(micro).alias("val_micro"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-4, Window.currentRow)
    )
    framed = daily.withColumn("frame", F.collect_list("val_micro").over(w))
    wsum = F.expr(
        "aggregate(zip_with(frame, sequence(1, size(frame)), "
        "(x, i) -> x * cast(i as bigint)), 0L, (acc, v) -> acc + v)"
    )
    norm = F.expr("size(frame) * (size(frame) + 1) div 2").cast("bigint")
    return framed.select(
        "event_type",
        "day",
        "val_micro",
        F.round(wsum.cast("double") / norm / 1000000.0, 6).alias("wma"),
    ).orderBy("event_type", "day")


@register(
    "agg_stratified_topn_sample",
    oracle="""
    WITH ranked AS (
        SELECT lang, doc_id, n_chars,
               row_number() OVER (
                   PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ) AS rk
        FROM documents
    )
    SELECT lang, doc_id, n_chars, CAST(rk AS BIGINT) AS rk
    FROM ranked
    WHERE rk <= 3
    ORDER BY lang, rk
    """,
)
def agg_stratified_topn_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic N-examples-per-stratum sampling (3 docs per
    language) via md5-rank windows — the 'show me a few examples from
    every slice' op behind eval set construction and data debugging,
    reproducible across reruns and engines (llm_sample_stratified_hash
    samples a deterministic FRACTION; this takes a deterministic COUNT).

    Scale design: one window shuffle on the stratum key; the md5 sort
    key makes the pick pseudorandom-but-stable, doc_id breaks the
    (astronomically unlikely) digest tie. At 100 TB the window's sort
    cost bounds by stratum size; heavily-skewed strata pre-filter with
    a coarse digest-prefix predicate first (the top-k-per-group
    discipline from win_topk_per_group applies unchanged).
    """
    docs = load(spark, sf_dir, "documents").select("lang", "doc_id", "n_chars")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        docs.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= 3)
        .orderBy("lang", "rk")
    )


@register(
    "evt_cohort_revenue_ltv",
    oracle="""
    WITH firsts AS (
        SELECT user_id,
               min(date_trunc('week', ts)) AS cohort_week
        FROM events GROUP BY user_id
    ),
    weekly AS (
        -- week_k = days/7 between week STARTS (always an exact
        -- multiple of 7, never negative): DuckDB's date_diff('week')
        -- counts ISO-week-of-year boundaries and drops one around
        -- 53-week ISO years on multi-decade spans (G4 — hostile epoch
        -- rows exposed 3182 vs the true 3183)
        SELECT e.user_id, f.cohort_week,
               CAST(date_diff('day', f.cohort_week,
                              date_trunc('week', e.ts)) // 7
                    AS BIGINT) AS week_k,
               CAST(sum(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT)
                   AS value_cents
        FROM events e JOIN firsts f ON e.user_id = f.user_id
        GROUP BY e.user_id, f.cohort_week, week_k
    ),
    cohort_week_value AS (
        SELECT cohort_week, week_k,
               CAST(sum(value_cents) AS BIGINT) AS week_value_cents,
               CAST(count(DISTINCT user_id) AS BIGINT) AS active_users
        FROM weekly GROUP BY cohort_week, week_k
    ),
    cohort_size AS (
        SELECT cohort_week, CAST(count(*) AS BIGINT) AS cohort_users
        FROM firsts GROUP BY cohort_week
    )
    SELECT v.cohort_week, v.week_k, v.week_value_cents, v.active_users,
           CAST(sum(v.week_value_cents) OVER (
               PARTITION BY v.cohort_week ORDER BY v.week_k
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS cum_value_cents,
           round(CAST(sum(v.week_value_cents) OVER (
                     PARTITION BY v.cohort_week ORDER BY v.week_k
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                 ) AS DOUBLE) / s.cohort_users / 100.0, 6)
               AS ltv_per_user
    FROM cohort_week_value v
    JOIN cohort_size s ON v.cohort_week = s.cohort_week
    ORDER BY v.cohort_week, v.week_k
    """,
)
def evt_cohort_revenue_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves: users cohorted by first-seen week,
    weekly value accumulated into the running LTV-per-user curve — the
    revenue-weighted extension of evt_retention_cohorts (retention says
    who came back; LTV says what that was worth).

    Scale design: the corpus reduces through (user, week) grain — every
    join and aggregate keys on user_id or cohort_week, one logical
    shuffle each; the LTV running sum is a window over cohort×week
    rows (≤ 5×5 here, calendar-bounded forever). Integer cents
    throughout; the only division is the final per-user normalization,
    quantized per output row.
    """
    ev = load(spark, sf_dir, "events").select("ts", "user_id", "value")
    week = lambda c: F.date_trunc("week", c)  # noqa: E731
    firsts = ev.groupBy("user_id").agg(
        F.min(week(F.col("ts"))).alias("cohort_week")
    )
    cents = F.round(F.col("value") * 100).cast("bigint")
    weekly = (
        ev.join(firsts, "user_id")
        .groupBy(
            "user_id",
            "cohort_week",
            (
                F.datediff(week(F.col("ts")), F.col("cohort_week")) / 7
            ).cast("bigint").alias("week_k"),
        )
        .agg(F.sum(cents).alias("value_cents"))
    )
    cwv = weekly.groupBy("cohort_week", "week_k").agg(
        F.sum("value_cents").alias("week_value_cents"),
        F.countDistinct("user_id").alias("active_users"),
    )
    size = firsts.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("cohort_users")
    )
    w = (
        Window.partitionBy("cohort_week")
        .orderBy("week_k")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        cwv.join(F.broadcast(size), "cohort_week")
        .withColumn(
            "cum_value_cents", F.sum("week_value_cents").over(w).cast("bigint")
        )
        .withColumn(
            "ltv_per_user",
            F.round(
                F.col("cum_value_cents").cast("double")
                / F.col("cohort_users")
                / 100.0,
                6,
            ),
        )
        .select(
            "cohort_week", "week_k", "week_value_cents", "active_users",
            "cum_value_cents", "ltv_per_user",
        )
        .orderBy("cohort_week", "week_k")
    )


@register(
    "llm_bloom_decontaminate",
    oracle="""
    WITH eval_docs AS (
        SELECT doc_id, string_split(lower(text), ' ') AS t
        FROM documents WHERE doc_id % 10 = 7
    ),
    train_docs AS (
        SELECT doc_id, string_split(lower(text), ' ') AS t
        FROM documents WHERE doc_id % 10 != 7
    ),
    eval_grams AS (
        SELECT DISTINCT md5(t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT) + 1]
                            || ' ' || t[CAST(i AS INT) + 2] || ' '
                            || t[CAST(i AS INT) + 3]) AS g
        FROM eval_docs, unnest(generate_series(1, len(t) - 3)) AS u(i)
    ),
    train_grams AS (
        SELECT doc_id,
               md5(t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT) + 1] || ' '
                   || t[CAST(i AS INT) + 2] || ' '
                   || t[CAST(i AS INT) + 3]) AS g
        FROM train_docs, unnest(generate_series(1, len(t) - 3)) AS u(i)
    ),
    contaminated AS (
        SELECT DISTINCT tg.doc_id
        FROM train_grams tg JOIN eval_grams eg ON tg.g = eg.g
    )
    SELECT CAST((SELECT count(*) FROM train_docs) AS BIGINT) AS n_train,
           CAST((SELECT count(*) FROM contaminated) AS BIGINT)
               AS n_contaminated,
           CAST((SELECT count(*) FROM train_docs) -
                (SELECT count(*) FROM contaminated) AS BIGINT) AS n_clean
    """,
)
def llm_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-accelerated eval-set decontamination: the eval corpus's
    4-gram digests compress into a 64 Kbit Bloom bitmap; training grams
    probe the bitmap FIRST, and only Bloom-positive grams (true overlaps
    + a ~0.2% false-positive trickle) pay the exact digest join that
    decides contamination — llm_decontaminate_overlap's semantics behind
    join_bloom_prefilter's reduction.

    Scale design: at 100 TB the training side dominates; the Bloom
    probe is 3 broadcast lookups per gram (map-only), so the exact join
    — the only shuffle — sees roughly |true overlaps| rows instead of
    every training gram. No false negatives ⇒ the final census is
    IDENTICAL to the exact pipeline, which is what the oracle computes.
    """
    m, k = 1 << 16, 3
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    # size guard: sequence(1, n) is DESCENDING for n <= 0, so a doc
    # under 4 tokens would index past the array instead of yielding no
    # grams (DuckDB's generate_series is empty there — engines must
    # agree on short docs)
    gram = (
        "CASE WHEN size(t) >= 4 THEN "
        "transform(sequence(1, size(t) - 3), i -> md5(concat_ws(' ', "
        "t[i - 1], t[i], t[i + 1], t[i + 2]))) "
        "ELSE CAST(array() AS array<string>) END"
    )
    toks = docs.withColumn("t", F.split(F.lower("text"), " "))
    # r12 (census + plan audit): eval_grams is referenced by all three
    # bitmap hash rounds AND the final exact semi-join, and the 1 Kword
    # bitmap by each probe round — Catalyst re-planned both subtrees
    # per reference (12 documents scans, and the eval-side distinct
    # shuffle paid ~7x). Lazy localCheckpoints (computed inside the
    # first action) pin one evaluation of each bounded frame: the
    # distinct eval digests (eval-set grain) and the 1024-row bitmap.
    # Hash/integer arithmetic only → bit-identical output.
    eval_grams = (
        toks.filter(F.col("doc_id") % 10 == 7)
        .select(F.explode(F.expr(gram)).alias("g"))
        .distinct()
        .transform(
            pin, approx_input_bytes=input_size_bytes(sf_dir, "documents")
        )
    )
    train_grams = toks.filter(F.col("doc_id") % 10 != 7).select(
        "doc_id", F.explode(F.expr(gram)).alias("g")
    )
    mask_of = "shiftleft(cast(1 as bigint), cast({p} % 64 as int))"
    bitmap = None
    for i in range(k):
        pos = F.pmod(F.xxhash64(F.col("g"), F.lit(i)), F.lit(m))
        part = eval_grams.withColumn("pos", pos).select(
            F.floor(F.col("pos") / 64).cast("int").alias("word"),
            F.expr(mask_of.format(p="pos")).alias("mask"),
        )
        bitmap = part if bitmap is None else bitmap.unionByName(part)
    bitmap = (
        bitmap.groupBy("word")
        .agg(F.bit_or("mask").alias("bits"))
        .transform(pin)
    )

    probe = train_grams
    for i in range(k):
        bm = bitmap.select(
            F.col("word").alias(f"w{i}"), F.col("bits").alias(f"b{i}")
        )
        probe = (
            probe.withColumn(
                f"pos{i}", F.pmod(F.xxhash64(F.col("g"), F.lit(i)), F.lit(m))
            )
            .withColumn(f"word{i}", F.floor(F.col(f"pos{i}") / 64).cast("int"))
            .withColumn(f"mask{i}", F.expr(mask_of.format(p=f"pos{i}")))
            .join(F.broadcast(bm), F.col(f"word{i}") == F.col(f"w{i}"), "left")
            .filter(F.col(f"b{i}").bitwiseAND(F.col(f"mask{i}")) != 0)
        )
    candidates = probe.select("doc_id", "g")
    contaminated = (
        candidates.join(eval_grams, "g", "left_semi")
        .select("doc_id")
        .distinct()
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
    )
    n_train = toks.filter(F.col("doc_id") % 10 != 7).agg(
        F.count(F.lit(1)).alias("n_train")
    )
    return (
        n_train.crossJoin(F.broadcast(contaminated))
        .select(
            "n_train",
            "n_contaminated",
            (F.col("n_train") - F.col("n_contaminated")).alias("n_clean"),
        )
    )


@register(
    "evt_control_chart",
    oracle="""
    WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS n_total,
               CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_errors
        FROM events GROUP BY 1
    ),
    center AS (
        SELECT CAST(sum(n_errors) AS BIGINT) AS tot_err,
               CAST(sum(n_total) AS BIGINT) AS tot
        FROM daily
    )
    SELECT d.day, d.n_total, d.n_errors,
           round(CAST(d.n_errors AS DOUBLE) / d.n_total, 6) AS p_day,
           round(CAST(c.tot_err AS DOUBLE) / c.tot, 6) AS p_bar,
           CASE WHEN abs(CAST(d.n_errors AS DOUBLE) / d.n_total
                         - CAST(c.tot_err AS DOUBLE) / c.tot)
                     > 3 * sqrt((CAST(c.tot_err AS DOUBLE) / c.tot)
                                * (1 - CAST(c.tot_err AS DOUBLE) / c.tot)
                                / d.n_total)
                THEN 1 ELSE 0 END AS out_of_control
    FROM daily d CROSS JOIN center c
    ORDER BY d.day
    """,
)
def evt_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribute control chart (p-chart) over the daily error share:
    each day's proportion tested against p̄ ± 3·√(p̄(1−p̄)/n) — the SPC
    primitive that separates common-cause noise from assignable-cause
    days (the frequentist sibling of evt_anomaly_zscore, with
    per-day-n-aware limits).

    Scale design: the corpus reduces to DAY grain in one conditional
    aggregate; the center line is a 1-row broadcast; limits are
    scan-stage arithmetic over day rows. Counts are exact integers;
    the comparison reuses the same two divisions on both engines so
    the flag is stable (a boundary-exact day would need quantized
    comparison — none exists in the fixture, and the flag quantizes
    implicitly through the identical expression tree).
    """
    ev = load(spark, sf_dir, "events").select("ts", "event_type")
    daily = ev.groupBy(
        F.date_trunc("day", F.col("ts")).cast("date").alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(
            F.when(F.col("event_type") == "error", 1).otherwise(0)
        ).alias("n_errors"),
    )
    center = daily.agg(
        F.sum("n_errors").alias("tot_err"), F.sum("n_total").alias("tot")
    )
    p_day = F.col("n_errors").cast("double") / F.col("n_total")
    p_bar = F.col("tot_err").cast("double") / F.col("tot")
    sigma = F.sqrt(p_bar * (1 - p_bar) / F.col("n_total"))
    return (
        daily.crossJoin(F.broadcast(center))
        .select(
            "day",
            "n_total",
            "n_errors",
            F.round(p_day, 6).alias("p_day"),
            F.round(p_bar, 6).alias("p_bar"),
            F.when(F.abs(p_day - p_bar) > 3 * sigma, 1)
            .otherwise(0)
            .alias("out_of_control"),
        )
        .orderBy("day")
    )


@register(
    "evt_linear_attribution",
    oracle="""
    WITH purchases AS (
        SELECT user_id, ts AS purchase_ts, event_id AS purchase_id
        FROM events WHERE event_type = 'purchase'
    ),
    touches AS (
        SELECT e.user_id, e.event_type, e.ts, e.event_id,
               p.purchase_id, p.purchase_ts
        FROM events e
        JOIN purchases p
          ON e.user_id = p.user_id
         AND e.ts < p.purchase_ts
         AND e.ts >= p.purchase_ts - INTERVAL 24 HOURS
        WHERE e.event_type IN ('view', 'click')
    ),
    credited AS (
        SELECT purchase_id, event_type,
               CAST(count(*) AS BIGINT) AS n_type_touches,
               CAST(sum(count(*)) OVER (PARTITION BY purchase_id) AS BIGINT)
                   AS n_touches
        FROM touches
        GROUP BY purchase_id, event_type
    )
    SELECT event_type,
           CAST(count(DISTINCT purchase_id) AS BIGINT) AS n_purchases_touched,
           CAST(sum(n_type_touches * 1000000 // n_touches) AS BIGINT)
               AS credit_ppm
    FROM credited
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def evt_linear_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: every view/click in the 24 h
    before a purchase shares the conversion credit equally — the
    equal-weight sibling of evt_session_attribution's first-touch
    model, reported as total credit per channel (event type).

    Scale design: the touch window is a per-user range join — both
    sides pre-filtered and joined on user_id (the equi key) with the
    24 h bound as a residual predicate, so it plans as a hash join,
    never BNLJ; per-purchase credit shares quantize to integer ppm
    BEFORE the channel sum (floor division both engines), keeping the
    rollup order-independent.
    """
    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    touches = (
        ev.filter(F.col("event_type").isin("view", "click"))
        .join(
            purchases,
            (F.col("user_id") == F.col("p_user"))
            & (F.col("ts") < F.col("purchase_ts"))
            & (
                F.col("ts")
                >= F.col("purchase_ts") - F.expr("INTERVAL 24 HOURS")
            ),
        )
    )
    credited = touches.groupBy("purchase_id", "event_type").agg(
        F.count(F.lit(1)).alias("n_type_touches")
    ).withColumn(
        "n_touches",
        F.sum("n_type_touches")
        .over(Window.partitionBy("purchase_id"))
        .cast("bigint"),
    )
    return (
        credited.groupBy("event_type")
        .agg(
            F.countDistinct("purchase_id").alias("n_purchases_touched"),
            F.sum(
                F.expr("n_type_touches * 1000000L div n_touches")
            ).alias("credit_ppm"),
        )
        .orderBy("event_type")
    )


@register(
    "evt_seasonal_decompose",
    oracle="""
    WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1
    ),
    trended AS (
        SELECT day, n,
               round(avg(n) OVER (
                   ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING
               ), 6) AS trend
        FROM daily
    ),
    detrended AS (
        SELECT day, n, trend,
               (date_diff('day', DATE '1970-01-01', day) + 3) % 7 AS dow,
               -- integer micro-units: the per-dow mean must be an
               -- exact-integer fold (avg over 6dp doubles is
               -- summation-order-sensitive at the rounding boundary)
               CAST(round((n - trend) * 1000000) AS BIGINT) AS det_micro
        FROM trended
    ),
    dow_effect AS (
        SELECT dow,
               round(CAST(sum(det_micro) AS DOUBLE) / count(*) / 1000000,
                     6) AS weekday_effect
        FROM detrended GROUP BY dow
    )
    SELECT d.day, d.n, d.trend, CAST(d.dow AS BIGINT) AS dow,
           e.weekday_effect,
           round(d.n - d.trend - e.weekday_effect, 6) AS residual
    FROM detrended d JOIN dow_effect e ON d.dow = e.dow
    ORDER BY d.day
    """,
)
def evt_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive seasonal decomposition of the daily series: a centered
    7-day moving-average trend, a Monday-anchored weekday effect
    (mean of the detrended values per day-of-week), and the residual —
    classical STL-lite, the explainer behind 'is Monday really down or
    is it trend?'.

    Scale design: everything after the one day-grain reduction runs
    over day-cardinality rows (trend window, 7-row weekday table
    broadcast back). Trend is avg over an exact integer frame and the
    weekday effect is an exact bigint micro-unit sum divided ONCE —
    each stage quantizes identically on both engines before feeding
    the next, so the composition stays hash-stable under any layout
    (the G4 dow hazard is avoided with epoch-day arithmetic; the
    double-avg form flaked once at a 6dp rounding boundary, G18-era
    hostile run).
    """
    ev = load(spark, sf_dir, "events").select("ts")
    daily = ev.groupBy(
        F.date_trunc("day", F.col("ts")).cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    w_trend = Window.orderBy("day").rowsBetween(-3, 3)
    trended = daily.withColumn(
        "trend", F.round(F.avg("n").over(w_trend), 6)
    )
    detrended = trended.withColumn(
        "dow",
        (
            F.datediff(F.col("day"), F.lit("1970-01-01").cast("date")) + 3
        ) % 7,
    ).withColumn(
        # integer micro-units (G2): avg over 6dp doubles is
        # summation-order-sensitive at the rounding boundary — observed
        # flaking once under the hostile corpus as partition state
        # shifted; the exact bigint sum + one division is layout-free
        "det_micro",
        F.round((F.col("n") - F.col("trend")) * 1000000).cast("bigint"),
    )
    dow_effect = detrended.groupBy("dow").agg(
        F.round(
            F.sum("det_micro").cast("double") / F.count(F.lit(1)) / 1000000,
            6,
        ).alias("weekday_effect")
    )
    return (
        detrended.join(F.broadcast(dow_effect), "dow")
        .select(
            "day",
            "n",
            "trend",
            F.col("dow").cast("bigint").alias("dow"),
            "weekday_effect",
            F.round(
                F.col("n") - F.col("trend") - F.col("weekday_effect"), 6
            ).alias("residual"),
        )
        .orderBy("day")
    )


@register(
    "llm_sft_pair_format",
    oracle="""
    WITH toks AS (
        SELECT doc_id, lang, string_split(text, ' ') AS t
        FROM documents WHERE doc_id < 30
    )
    SELECT doc_id,
           '{"instruction":"Continue the text: '
           || array_to_string(t[1:8], ' ')
           || '","response":"' || array_to_string(t[9:len(t)], ' ')
           || '","meta":{"lang":"' || lang || '","n_prompt_tokens":8,'
           || '"n_response_tokens":' || CAST(len(t) - 8 AS VARCHAR) || '}}'
               AS sft_jsonl
    FROM toks
    WHERE len(t) > 8
    ORDER BY doc_id
    """,
)
def llm_sft_pair_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supervised-fine-tuning pair formatting: split each document into
    a prompt prefix (8 tokens) and a completion, rendered as the JSONL
    training line with metadata — the last hop between a curated corpus
    and a trainer's input format.

    Scale design: map-only string surgery over the token array — zero
    shuffles, trivially parallel, ordering irrelevant to the sink. The
    JSON is rendered with explicit concatenation on BOTH engines (not
    to_json) so byte-level agreement is by construction; fixture text
    is alphanumeric+spaces, so no JSON escaping is exercised (escaping
    lives in fn_json_roundtrip_nested).
    """
    docs = load(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    toks = docs.filter(F.col("doc_id") < 30).select(
        "doc_id", "lang", F.split(F.col("text"), " ").alias("t")
    )
    prompt = F.expr("array_join(slice(t, 1, 8), ' ')")
    response = F.expr("array_join(slice(t, 9, size(t) - 8), ' ')")
    line = F.concat(
        F.lit('{"instruction":"Continue the text: '),
        prompt,
        F.lit('","response":"'),
        response,
        F.lit('","meta":{"lang":"'),
        F.col("lang"),
        F.lit('","n_prompt_tokens":8,"n_response_tokens":'),
        (F.size("t") - 8).cast("string"),
        F.lit("}}"),
    )
    return (
        toks.filter(F.size("t") > 8)
        .select("doc_id", line.alias("sft_jsonl"))
        .orderBy("doc_id")
    )


@register(
    "agg_data_freshness_sla",
    oracle="""
    SELECT 'events' AS table_name,
           max(ts) AS latest_record,
           CAST(date_diff('hour', max(ts), TIMESTAMP '2024-02-01 00:00:00')
                AS BIGINT) AS staleness_hours,
           CASE WHEN date_diff('hour', max(ts),
                               TIMESTAMP '2024-02-01 00:00:00') <= 48
                THEN 'fresh' ELSE 'stale' END AS sla_48h
    FROM events
    UNION ALL
    SELECT 'orders', max(o_orderdate),
           CAST(date_diff('hour', max(o_orderdate),
                          TIMESTAMP '2024-02-01 00:00:00') AS BIGINT),
           CASE WHEN date_diff('hour', max(o_orderdate),
                               TIMESTAMP '2024-02-01 00:00:00') <= 48
                THEN 'fresh' ELSE 'stale' END
    FROM orders
    UNION ALL
    SELECT 'lineitem', max(l_shipdate),
           CAST(date_diff('hour', max(l_shipdate),
                          TIMESTAMP '2024-02-01 00:00:00') AS BIGINT),
           CASE WHEN date_diff('hour', max(l_shipdate),
                               TIMESTAMP '2024-02-01 00:00:00') <= 48
                THEN 'fresh' ELSE 'stale' END
    FROM lineitem
    ORDER BY table_name
    """,
)
def agg_data_freshness_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-freshness SLA census across tables: latest record timestamp,
    staleness versus a fixed reference instant, and a 48 h SLA verdict —
    the first panel of every pipeline health dashboard (the reference
    instant is pinned as a literal for determinism; production binds
    current_timestamp() at the orchestrator layer).

    Scale design: each table contributes ONE max() aggregate — a
    metadata-cheap scan (parquet footers alone can answer max(ts) when
    stats are trusted); the union is 3 rows. Staleness arithmetic is
    exact integer hour differences.
    """
    ref = F.lit("2024-02-01 00:00:00").cast("timestamp_ntz")

    def fresh(table, ts_col):
        df = load(spark, sf_dir, table)
        # DuckDB's date_diff counts BOUNDARY crossings, not elapsed
        # hours — mirror with floor(epoch/3600) differences
        hours = (
            F.floor(F.unix_micros(ref.cast("timestamp")) / 3600000000)
            - F.floor(
                F.unix_micros(F.max(ts_col).cast("timestamp")) / 3600000000
            )
        ).cast("bigint")
        return df.agg(
            F.lit(table).alias("table_name"),
            F.max(ts_col).alias("latest_record"),
            hours.alias("staleness_hours"),
            F.when(hours <= 48, "fresh").otherwise("stale").alias("sla_48h"),
        )

    return (
        fresh("events", "ts")
        .unionByName(fresh("orders", "o_orderdate"))
        .unionByName(fresh("lineitem", "l_shipdate"))
        .orderBy("table_name")
    )


@register(
    "evt_audience_overlap_daily",
    oracle="""
    WITH du AS (
        SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day, user_id
        FROM events
    ),
    day_sizes AS (
        SELECT day, CAST(count(*) AS BIGINT) AS n_users
        FROM du GROUP BY day
    ),
    ovl AS (
        SELECT a.day AS day_a, b.day AS day_b,
               CAST(count(*) AS BIGINT) AS n_both
        FROM du a
        JOIN du b ON a.user_id = b.user_id
                 AND b.day = a.day + INTERVAL 1 DAY
        GROUP BY a.day, b.day
    )
    SELECT o.day_a, o.day_b, sa.n_users AS users_a, sb.n_users AS users_b,
           o.n_both,
           CAST(o.n_both * 1000000 //
                (sa.n_users + sb.n_users - o.n_both) AS BIGINT)
               AS jaccard_ppm
    FROM ovl o
    JOIN day_sizes sa ON o.day_a = sa.day
    JOIN day_sizes sb ON o.day_b = sb.day
    ORDER BY o.day_a
    """,
)
def evt_audience_overlap_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day audience overlap: the Jaccard similarity of
    consecutive days' active-user sets — the churn-velocity dial
    (overlap falling = audience turning over) next to the cohort views.

    Scale design: the corpus dedups once to (day, user) grain; the
    consecutive-day constraint rides the USER-keyed self-join as a
    residual equi-on-day+1 predicate, so overlap counting shuffles only
    the dedup'd pairs; day sizes broadcast back onto day-pair rows.
    Jaccard quantizes to integer ppm via floor division — no floats
    anywhere.
    """
    ev = load(spark, sf_dir, "events").select("ts", "user_id")
    du = ev.select(
        F.date_trunc("day", F.col("ts")).cast("date").alias("day"), "user_id"
    ).distinct()
    # r12 (census + plan audit): referenced by several downstream
    # branches and re-planned per reference (repeated corpus scans /
    # re-paid shuffles). r13: the frame's grain GROWS WITH THE CORPUS,
    # so the pin is size-gated — one pinned evaluation while the
    # bounding input is small, recompute (lineage kept, bounded
    # executor storage) at scale; rows are bit-identical either way.
    du = du.transform(
        pin, approx_input_bytes=input_size_bytes(sf_dir, "events")
    )
    day_sizes = (
        du.groupBy("day")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .transform(pin)
    )
    a = du.select(F.col("day").alias("day_a"), "user_id")
    b = du.select(F.col("day").alias("day_b"), F.col("user_id").alias("uid_b"))
    overlaps = (
        a.join(
            b,
            (F.col("user_id") == F.col("uid_b"))
            & (F.col("day_b") == F.date_add(F.col("day_a"), 1)),
        )
        .groupBy("day_a", "day_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    sa = day_sizes.select(
        F.col("day").alias("day_a"), F.col("n_users").alias("users_a")
    )
    sb = day_sizes.select(
        F.col("day").alias("day_b"), F.col("n_users").alias("users_b")
    )
    return (
        overlaps.join(F.broadcast(sa), "day_a")
        .join(F.broadcast(sb), "day_b")
        .select(
            "day_a",
            "day_b",
            "users_a",
            "users_b",
            "n_both",
            F.expr(
                "n_both * 1000000L div (users_a + users_b - n_both)"
            ).alias("jaccard_ppm"),
        )
        .orderBy("day_a")
    )


@register(
    "llm_source_priority_dedup",
    oracle="""
    WITH hashed AS (
        SELECT doc_id, source, md5(lower(trim(text))) AS h,
               CAST(CASE WHEN source IN ('src0', 'src1', 'src2') THEN 0
                         WHEN source IN ('src3', 'src4', 'src5') THEN 1
                         ELSE 2 END AS INT) AS tier
        FROM documents
    ),
    ranked AS (
        SELECT doc_id, source, h, tier,
               row_number() OVER (PARTITION BY h
                                  ORDER BY tier, doc_id) AS rk
        FROM hashed
    )
    SELECT CAST(tier AS BIGINT) AS tier,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept,
           CAST(sum(CASE WHEN rk > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dropped_as_dup
    FROM ranked
    GROUP BY tier
    ORDER BY tier
    """,
)
def llm_source_priority_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-priority dedup survivorship: when the same content appears
    in multiple sources, keep the copy from the most-trusted tier
    (curated > standard > scraped) — the editorial policy layered on
    exact dedup (llm_dedup_survivors keeps the longest doc; this keeps
    the authoritative one).

    Scale design: one digest shuffle (text never moves), the keep/drop
    decision is a rank window over same-digest groups ordered by
    (tier, doc_id) — deterministic authority order; the census
    aggregates per tier. Changing the trust policy edits the ORDER BY,
    not the plan shape.
    """
    docs = load(spark, sf_dir, "documents").select("doc_id", "source", "text")
    tier = (
        F.when(F.col("source").isin("src0", "src1", "src2"), 0)
        .when(F.col("source").isin("src3", "src4", "src5"), 1)
        .otherwise(2)
        .cast("int")
    )
    hashed = docs.select(
        "doc_id",
        "source",
        F.md5(F.lower(F.trim("text"))).alias("h"),
        tier.alias("tier"),
    )
    w = Window.partitionBy("h").orderBy("tier", "doc_id")
    ranked = hashed.withColumn("rk", F.row_number().over(w))
    return (
        ranked.groupBy(F.col("tier").cast("bigint").alias("tier"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("rk") == 1, 1).otherwise(0)).alias("n_kept"),
            F.sum(F.when(F.col("rk") > 1, 1).otherwise(0)).alias(
                "n_dropped_as_dup"
            ),
        )
        .orderBy("tier")
    )


@register(
    "fn_format_bytes_human",
    oracle="""
    WITH sizes AS (
        SELECT o_orderkey,
               CAST(round(o_totalprice * 1000) AS BIGINT) AS n_bytes
        FROM orders WHERE o_orderkey < 30
    )
    SELECT o_orderkey, n_bytes,
           CASE
               WHEN n_bytes >= 1073741824 THEN
                   CAST(n_bytes // 1073741824 AS VARCHAR) || '.' ||
                   CAST((n_bytes % 1073741824) * 10 // 1073741824 AS VARCHAR)
                   || ' GiB'
               WHEN n_bytes >= 1048576 THEN
                   CAST(n_bytes // 1048576 AS VARCHAR) || '.' ||
                   CAST((n_bytes % 1048576) * 10 // 1048576 AS VARCHAR)
                   || ' MiB'
               WHEN n_bytes >= 1024 THEN
                   CAST(n_bytes // 1024 AS VARCHAR) || '.' ||
                   CAST((n_bytes % 1024) * 10 // 1024 AS VARCHAR) || ' KiB'
               ELSE CAST(n_bytes AS VARCHAR) || ' B'
           END AS human
    FROM sizes
    ORDER BY o_orderkey
    """,
)
def fn_format_bytes_human(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Human-readable byte formatting (the `ls -h` of dashboards):
    binary-unit rendering with one truncated decimal, built from integer
    div/mod so the rendered string is byte-identical cross-engine
    (float printf of 1.0e9/2^30 would not be).

    Scale design: scan-stage only; the unit ladder is a CASE over
    integer thresholds, the fractional digit is (rem·10)//unit — no
    floats, no locale, no printf.
    """
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    sizes = orders.filter(F.col("o_orderkey") < 30).select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 1000).cast("bigint").alias("n_bytes"),
    )

    def unit(base, suffix):
        return F.concat(
            F.expr(f"cast(n_bytes div {base} as string)"),
            F.lit("."),
            F.expr(f"cast((n_bytes % {base}) * 10 div {base} as string)"),
            F.lit(suffix),
        )

    human = (
        F.when(F.col("n_bytes") >= 1073741824, unit(1073741824, " GiB"))
        .when(F.col("n_bytes") >= 1048576, unit(1048576, " MiB"))
        .when(F.col("n_bytes") >= 1024, unit(1024, " KiB"))
        .otherwise(F.concat(F.col("n_bytes").cast("string"), F.lit(" B")))
    )
    return sizes.select("o_orderkey", "n_bytes", human.alias("human")).orderBy(
        "o_orderkey"
    )


@register(
    "agg_rfm_segmentation",
    oracle="""
    WITH rfm AS (
        SELECT o_custkey,
               max(o_orderdate) AS last_order,
               CAST(count(*) AS BIGINT) AS frequency,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS monetary_cents
        FROM orders
        GROUP BY o_custkey
    ),
    scored AS (
        SELECT o_custkey, last_order, frequency, monetary_cents,
               ntile(5) OVER (ORDER BY last_order, o_custkey) AS r_score,
               ntile(5) OVER (ORDER BY frequency, o_custkey) AS f_score,
               ntile(5) OVER (ORDER BY monetary_cents, o_custkey) AS m_score
        FROM rfm
    ),
    labeled AS (
        SELECT *,
               CASE
                   WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4
                       THEN 'champion'
                   WHEN r_score >= 4 AND f_score >= 3 THEN 'loyal'
                   WHEN r_score <= 2 AND f_score >= 4 THEN 'at_risk'
                   WHEN r_score <= 2 AND f_score <= 2 THEN 'hibernating'
                   ELSE 'regular'
               END AS segment
        FROM scored
    )
    SELECT segment,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(monetary_cents) AS BIGINT) AS total_cents,
           round(avg(frequency), 6) AS avg_frequency
    FROM labeled
    GROUP BY segment
    ORDER BY segment
    """,
)
def agg_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: recency / frequency / monetary
    quintiles (ntile with deterministic custkey tiebreak) mapped to
    the classic champion / loyal / at-risk / hibernating labels — the
    marketing-analytics workhorse, as one window pass over customer
    grain.

    Scale design: orders reduce to customer grain first (integer cents,
    one shuffle); all three ntile windows run over customer-cardinality
    rows (global windows, but post-reduction — at 100 TB the quintile
    boundaries swap to percentile_approx thresholds broadcast back,
    same labels). The census output is 5 segment rows.

    The global window is kept on measurement: at sf0.01 and sf0.1 it
    beats the scale_rank range-rank form (0.68 s vs 1.92 s at sf0.1,
    PLANS.md). ``agg_rfm_segmentation_atscale`` is this same builder
    under a second key.
    """
    orders = load(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    rfm = orders.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(cents).alias("monetary_cents"),
    )
    scored = (
        rfm.withColumn(
            "r_score",
            F.ntile(5).over(Window.orderBy("last_order", "o_custkey")),
        )
        .withColumn(
            "f_score",
            F.ntile(5).over(Window.orderBy("frequency", "o_custkey")),
        )
        .withColumn(
            "m_score",
            F.ntile(5).over(Window.orderBy("monetary_cents", "o_custkey")),
        )
    )
    segment = (
        F.when(
            (F.col("r_score") >= 4)
            & (F.col("f_score") >= 4)
            & (F.col("m_score") >= 4),
            "champion",
        )
        .when((F.col("r_score") >= 4) & (F.col("f_score") >= 3), "loyal")
        .when((F.col("r_score") <= 2) & (F.col("f_score") >= 4), "at_risk")
        .when(
            (F.col("r_score") <= 2) & (F.col("f_score") <= 2), "hibernating"
        )
        .otherwise("regular")
    )
    return (
        scored.withColumn("segment", segment)
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("monetary_cents").alias("total_cents"),
            F.round(F.avg("frequency"), 6).alias("avg_frequency"),
        )
        .orderBy("segment")
    )


# the *_atscale key stays published as an alias: same builder, same oracle
register(
    "agg_rfm_segmentation_atscale",
    oracle=REGISTRY["agg_rfm_segmentation"].oracle,
)(agg_rfm_segmentation)


@register(
    "llm_interpolated_lm_ppl",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(lower(text), ' ') AS t
        FROM documents
    ),
    unigrams AS (
        SELECT w, CAST(count(*) AS BIGINT) AS c1
        FROM (SELECT unnest(t) AS w FROM toks) GROUP BY w
    ),
    uni_tot AS (SELECT CAST(sum(c1) AS BIGINT) AS n FROM unigrams),
    bigrams AS (
        SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2
        FROM (
            SELECT t[CAST(i AS INT)] AS w1, t[CAST(i AS INT) + 1] AS w2
            FROM toks, unnest(generate_series(1, len(t) - 1)) AS u(i)
        ) GROUP BY w1, w2
    ),
    doc_bigrams AS (
        SELECT doc_id, t[CAST(i AS INT)] AS w1, t[CAST(i AS INT) + 1] AS w2,
               CAST(i AS BIGINT) AS pos
        FROM toks, unnest(generate_series(1, len(t) - 1)) AS u(i)
    ),
    scored AS (
        SELECT d.doc_id, d.pos,
               -- interpolated P = 0.75 * P(w2|w1) + 0.25 * P(w2)
               CAST(round(ln(
                   0.75 * (CAST(b.c2 AS DOUBLE) / u1.c1)
                   + 0.25 * (CAST(u2.c1 AS DOUBLE) / t.n)
               ) * 1000000) AS BIGINT) AS logp_micro
        FROM doc_bigrams d
        JOIN bigrams b ON d.w1 = b.w1 AND d.w2 = b.w2
        JOIN unigrams u1 ON d.w1 = u1.w
        JOIN unigrams u2 ON d.w2 = u2.w
        CROSS JOIN uni_tot t
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           round(CAST(sum(logp_micro) AS DOUBLE)
                 / count(*) / -1000000.0, 6) AS neg_mean_logp
    FROM scored
    GROUP BY doc_id
    ORDER BY doc_id
    LIMIT 100
    """,
)
def llm_interpolated_lm_ppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram language-model scoring per document
    (λ·P(w₂|w₁) + (1−λ)·P(w₂), λ=0.75) — the Jelinek-Mercer smoothing
    upgrade over llm_text_perplexity_proxy's unigram model and the
    quality signal CCNet-style filters threshold on (neg mean log-prob
    ≈ log-perplexity).

    Scale design: the LM tables are vocab- and vocab²-bounded
    aggregates; scoring joins each document bigram against them (the
    bigram join keys on (w1, w2) — the one corpus-sized shuffle).
    Every per-position log term quantizes to integer micro-nats BEFORE
    the per-doc mean, so the reduction is order-independent; the ln
    argument is the identical two-division expression on both engines.
    """
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select("doc_id", F.split(F.lower("text"), " ").alias("t"))
    # r12 (census + plan audit): unigrams is read by the total and both
    # per-side lookups — re-planned per reference, the token-grain
    # count shuffle was paid 3x (5 documents scans). Lazy
    # localCheckpoint pins one evaluation of the vocab-grain counts.
    unigrams = (
        toks.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c1"))
        .transform(
            pin, approx_input_bytes=input_size_bytes(sf_dir, "documents")
        )
    )
    uni_tot = unigrams.agg(F.sum("c1").alias("n"))
    # size guard: sequence(1, 0) is descending — a single-token doc
    # must yield no bigrams (as DuckDB's empty generate_series does),
    # not an index crash
    pair_expr = (
        "CASE WHEN size(t) >= 2 THEN "
        "transform(sequence(1, size(t) - 1), "
        "i -> struct(t[i - 1] AS w1, t[i] AS w2)) "
        "ELSE CAST(array() AS array<struct<w1:string,w2:string>>) END"
    )
    doc_bigrams = toks.select(
        "doc_id", F.posexplode(F.expr(pair_expr)).alias("pos0", "p")
    ).select("doc_id", "p.w1", "p.w2")
    bigrams = doc_bigrams.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).alias("c2")
    )
    u1 = unigrams.select(F.col("w").alias("w1"), F.col("c1").alias("c1_w1"))
    u2 = unigrams.select(F.col("w").alias("w2"), F.col("c1").alias("c1_w2"))
    logp = F.round(
        F.log(
            0.75 * (F.col("c2").cast("double") / F.col("c1_w1"))
            + 0.25 * (F.col("c1_w2").cast("double") / F.col("n"))
        )
        * 1000000
    ).cast("bigint")
    scored = (
        doc_bigrams.join(bigrams, ["w1", "w2"])
        .join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(uni_tot))
        .select("doc_id", logp.alias("logp_micro"))
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(
                F.sum("logp_micro").cast("double")
                / F.count(F.lit(1))
                / -1000000.0,
                6,
            ).alias("neg_mean_logp"),
        )
        .orderBy("doc_id")
        .limit(100)
    )


@register(
    "evt_distribution_drift_jsd",
    oracle="""
    WITH halves AS (
        SELECT event_type,
               CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
                    THEN 'p' ELSE 'q' END AS half,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY event_type, half
    ),
    tot AS (
        SELECT half, CAST(sum(n) AS BIGINT) AS t FROM halves GROUP BY half
    ),
    dist AS (
        SELECT h.event_type,
               max(CASE WHEN h.half = 'p'
                   THEN CAST(h.n AS DOUBLE) / t.t END) AS p,
               max(CASE WHEN h.half = 'q'
                   THEN CAST(h.n AS DOUBLE) / t.t END) AS q
        FROM halves h JOIN tot t ON h.half = t.half
        GROUP BY h.event_type
    ),
    terms AS (
        SELECT event_type, p, q,
               CAST(round((p * ln(2 * p / (p + q))
                           + q * ln(2 * q / (p + q))) / 2
                          * 1000000000) AS BIGINT) AS jsd_nano
        FROM dist
    )
    SELECT event_type, round(p, 6) AS share_first_half,
           round(q, 6) AS share_second_half,
           round(CAST(jsd_nano AS DOUBLE) / 1000000000, 6)
               AS jsd_contribution
    FROM terms
    ORDER BY event_type
    """,
)
def evt_distribution_drift_jsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift detection: Jensen-Shannon divergence terms of
    the event-type mix between the first and second half of the month —
    the symmetric, bounded drift metric monitoring pipelines alert on
    (KL blows up on vanishing categories; JSD doesn't).

    Scale design: the corpus reduces to |types|×2 counts in one
    conditional aggregate; shares, logs and the per-type JSD
    contribution are scan-stage arithmetic over those rows, each term
    quantized to integer nano-nats (the llm_collocation_pmi paired-ln
    discipline). The oracle emits per-type contributions rather than
    the single summed JSD so the comparison stays row-anchored.
    """
    ev = load(spark, sf_dir, "events").select("ts", "event_type")
    half = F.when(
        F.col("ts") < F.lit("2024-01-16 00:00:00").cast("timestamp_ntz"), "p"
    ).otherwise("q")
    halves = ev.groupBy("event_type", half.alias("half")).agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = halves.groupBy("half").agg(F.sum("n").alias("t"))
    dist = (
        halves.join(F.broadcast(tot), "half")
        .groupBy("event_type")
        .agg(
            F.max(
                F.when(
                    F.col("half") == "p",
                    F.col("n").cast("double") / F.col("t"),
                )
            ).alias("p"),
            F.max(
                F.when(
                    F.col("half") == "q",
                    F.col("n").cast("double") / F.col("t"),
                )
            ).alias("q"),
        )
    )
    p, q = F.col("p"), F.col("q")
    jsd_nano = F.round(
        (p * F.log(2 * p / (p + q)) + q * F.log(2 * q / (p + q))) / 2 * 1e9
    ).cast("bigint")
    return (
        dist.withColumn("jsd_nano", jsd_nano)
        .select(
            "event_type",
            F.round(p, 6).alias("share_first_half"),
            F.round(q, 6).alias("share_second_half"),
            F.round(F.col("jsd_nano").cast("double") / 1e9, 6).alias(
                "jsd_contribution"
            ),
        )
        .orderBy("event_type")
    )


@register(
    "llm_embedding_drift_check",
    oracle="""
    WITH eq AS (
        SELECT vec_id,
               CASE WHEN vec_id % 2 = 0 THEN 'ref' ELSE 'new' END AS batch,
               list_transform(embedding,
                   x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))
                   AS e
        FROM embeddings
    ),
    dims AS (SELECT unnest(generate_series(1, 64)) AS i),
    per_dim AS (
        SELECT batch, i,
               CAST(sum(e[CAST(i AS INT)]) AS BIGINT) AS s,
               CAST(count(*) AS BIGINT) AS n
        FROM eq CROSS JOIN dims
        GROUP BY batch, i
    ),
    shifts AS (
        SELECT r.i,
               CAST(r.s AS DOUBLE) / r.n AS mu_ref,
               CAST(w.s AS DOUBLE) / w.n AS mu_new,
               abs(CAST(r.s AS DOUBLE) / r.n - CAST(w.s AS DOUBLE) / w.n)
                   AS shift
        FROM (SELECT * FROM per_dim WHERE batch = 'ref') r
        JOIN (SELECT * FROM per_dim WHERE batch = 'new') w ON r.i = w.i
    )
    SELECT CAST(count(*) AS BIGINT) AS n_dims,
           round(max(shift) / 1000000, 6) AS max_dim_shift,
           round(CAST(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                     list(shift * shift ORDER BY i)),
                     (acc, v) -> acc + v) AS DOUBLE), 4) AS shift_sq_micro,
           CAST(sum(CASE WHEN shift > 50000 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dims_drifted
    FROM shifts
    """,
)
def llm_embedding_drift_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-distribution drift check between a reference batch and
    a new batch (deterministic even/odd split): per-dimension mean
    shift, the centroid-displacement norm, and a drifted-dimension
    count — the canary that fires when the upstream embedding model
    changed or inputs shifted domain.

    Scale design: each batch reduces to 64 per-dimension integer sums
    (one aggregate, exact); everything after runs on 64 rows. The
    centroid displacement squared-norm folds in dimension order on
    both engines (ordered list fold ↔ aggregate over sorted struct
    array), so even the accumulated float agrees bit-for-bit.
    """
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    eq = emb.select(
        "vec_id",
        F.when(F.col("vec_id") % 2 == 0, "ref").otherwise("new").alias(
            "batch"
        ),
        F.expr(
            "transform(embedding, x -> "
            "cast(round(cast(x as double) * 1000000) as bigint))"
        ).alias("e"),
    )
    per_dim = (
        eq.select("batch", F.posexplode("e").alias("pos0", "val"))
        .groupBy("batch", (F.col("pos0") + 1).alias("i"))
        .agg(F.sum("val").alias("s"), F.count(F.lit(1)).alias("n"))
    )
    ref = per_dim.filter(F.col("batch") == "ref").select(
        "i", (F.col("s").cast("double") / F.col("n")).alias("mu_ref")
    )
    new = per_dim.filter(F.col("batch") == "new").select(
        F.col("i").alias("i2"),
        (F.col("s").cast("double") / F.col("n")).alias("mu_new"),
    )
    shifts = ref.join(new, ref.i == F.col("i2")).select(
        "i", F.abs(F.col("mu_ref") - F.col("mu_new")).alias("shift")
    )
    return shifts.agg(
        F.count(F.lit(1)).alias("n_dims"),
        F.round(F.max("shift") / 1000000, 6).alias("max_dim_shift"),
        F.round(
            F.expr(
                "aggregate(transform(array_sort(collect_list("
                "struct(i, shift))), s -> s.shift * s.shift), "
                "cast(0 as double), (acc, v) -> acc + v)"
            ),
            4,
        ).alias("shift_sq_micro"),
        F.sum(F.when(F.col("shift") > 50000, 1).otherwise(0)).alias(
            "n_dims_drifted"
        ),
    )


@register(
    "llm_watermark_detection",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(lower(text), ' ') AS t
        FROM documents
    ),
    pairs AS (
        SELECT doc_id,
               t[CAST(i AS INT)] AS prev_tok,
               t[CAST(i AS INT) + 1] AS tok
        FROM toks, unnest(generate_series(1, len(t) - 1)) AS u(i)
    ),
    scored AS (
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_scored,
               CAST(sum(CASE WHEN
                   CAST(('0x' || substr(md5(prev_tok || '#' || tok), 1, 4))
                        AS BIGINT) % 2 = 0
                   THEN 1 ELSE 0 END) AS BIGINT) AS n_green
        FROM pairs
        GROUP BY doc_id
    )
    SELECT doc_id, n_scored, n_green,
           round(CAST(n_green AS DOUBLE) / n_scored, 6) AS green_fraction,
           round((CAST(n_green AS DOUBLE) - 0.5 * n_scored)
                 / sqrt(0.25 * n_scored), 6) AS z_score,
           CASE WHEN (CAST(n_green AS DOUBLE) - 0.5 * n_scored)
                     / sqrt(0.25 * n_scored) > 4.0
                THEN 1 ELSE 0 END AS watermark_flag
    FROM scored
    ORDER BY doc_id
    LIMIT 100
    """,
)
def llm_watermark_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical LLM-watermark detection (Kirchenbauer-style): a
    watermarking sampler biases each token toward a 'green list' seeded
    by the previous token; the detector recomputes the green/red
    partition (here: md5 of the (prev, tok) pair, γ=½) and z-tests each
    document's green fraction against the unwatermarked null — the
    synthetic-text screen a human-data pipeline runs before training.

    Scale design: scoring is scan-stage pair hashing + one doc-grain
    aggregate (integer counts); the z arithmetic runs per output row
    from exact n_green/n_scored. Natural fixture text scores near
    z=0 — the detector's null behavior, property-visible in the
    green_fraction column; the z > 4 flag fires only on actually-biased
    token streams.
    """
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select("doc_id", F.split(F.lower("text"), " ").alias("t"))
    # size guard: single-token docs yield no pairs, not an index crash
    pair_expr = (
        "CASE WHEN size(t) >= 2 THEN "
        "transform(sequence(1, size(t) - 1), "
        "i -> concat(t[i - 1], '#', t[i])) "
        "ELSE CAST(array() AS array<string>) END"
    )
    pairs = toks.select(
        "doc_id", F.explode(F.expr(pair_expr)).alias("pair")
    )
    green = (
        F.conv(F.substring(F.md5("pair"), 1, 4), 16, 10).cast("bigint") % 2
        == 0
    )
    scored = pairs.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_scored"),
        F.sum(F.when(green, 1).otherwise(0)).alias("n_green"),
    )
    z = (F.col("n_green").cast("double") - 0.5 * F.col("n_scored")) / F.sqrt(
        0.25 * F.col("n_scored")
    )
    return (
        scored.select(
            "doc_id",
            "n_scored",
            "n_green",
            F.round(
                F.col("n_green").cast("double") / F.col("n_scored"), 6
            ).alias("green_fraction"),
            F.round(z, 6).alias("z_score"),
            F.when(z > 4.0, 1).otherwise(0).alias("watermark_flag"),
        )
        .orderBy("doc_id")
        .limit(100)
    )


@register(
    "evt_bot_regularity_detection",
    oracle="""
    WITH gaps AS (
        SELECT user_id,
               CAST(epoch_us(CAST(ts AS TIMESTAMP))
                    - lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id
                    ) AS BIGINT) AS gap_us
        FROM events
    ),
    stats AS (
        SELECT user_id,
               CAST(count(gap_us) AS BIGINT) AS n_gaps,
               CAST(sum(gap_us) AS BIGINT) AS sum_us,
               CAST(sum(CAST(gap_us AS HUGEINT) * gap_us) AS HUGEINT)
                   AS sum_sq
        FROM gaps WHERE gap_us IS NOT NULL
        GROUP BY user_id
    )
    SELECT user_id, n_gaps,
           CAST(sum_us // n_gaps AS BIGINT) AS mean_gap_us,
           -- coefficient of variation from exact integer moments:
           -- cv² = n·Σx²/（Σx)² − 1 ; regular (bot-like) traffic has
           -- cv ≪ 1, human burstiness cv ≈ 1+
           round(sqrt(greatest(
               CAST(n_gaps AS DOUBLE) * CAST(sum_sq AS DOUBLE)
               / (CAST(sum_us AS DOUBLE) * CAST(sum_us AS DOUBLE)) - 1.0,
               0.0)), 6) AS gap_cv,
           CASE WHEN n_gaps >= 20 AND sqrt(greatest(
                    CAST(n_gaps AS DOUBLE) * CAST(sum_sq AS DOUBLE)
                    / (CAST(sum_us AS DOUBLE) * CAST(sum_us AS DOUBLE))
                    - 1.0, 0.0)) < 0.3
                THEN 1 ELSE 0 END AS bot_flag
    FROM stats
    WHERE n_gaps >= 10
    ORDER BY user_id
    """,
)
def evt_bot_regularity_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bot detection by inter-event regularity: the coefficient of
    variation of each user's event gaps — scripted traffic ticks like a
    metronome (cv ≪ 1) while humans are bursty (cv ≈ 1+); pairs with
    fn_ip_subnet_rollup as the behavioral half of the abuse screen.

    Scale design: one user_id window shuffle for the gaps (event_id
    tiebreak), one user-grain aggregate of EXACT integer moments
    (Σx as bigint, Σx² as 128-bit — hugeint ↔ Spark decimal(38,0));
    cv derives per output row from the closed form n·Σx²/(Σx)²−1, so
    no float ever crosses an exchange.
    """
    ev = load(spark, sf_dir, "events").select("event_id", "ts", "user_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        "user_id", (us - F.lag(us).over(w)).cast("bigint").alias("gap_us")
    ).filter(F.col("gap_us").isNotNull())
    stats = gaps.groupBy("user_id").agg(
        F.count("gap_us").alias("n_gaps"),
        F.sum("gap_us").alias("sum_us"),
        F.sum(
            F.col("gap_us").cast("decimal(38,0)")
            * F.col("gap_us").cast("decimal(38,0)")
        ).alias("sum_sq"),
    )
    cv_sq = (
        F.col("n_gaps").cast("double")
        * F.col("sum_sq").cast("double")
        / (F.col("sum_us").cast("double") * F.col("sum_us").cast("double"))
        - 1.0
    )
    cv = F.sqrt(F.greatest(cv_sq, F.lit(0.0)))
    return (
        stats.filter(F.col("n_gaps") >= 10)
        .select(
            "user_id",
            "n_gaps",
            F.expr("cast(sum_us div n_gaps as bigint)").alias("mean_gap_us"),
            F.round(cv, 6).alias("gap_cv"),
            F.when((F.col("n_gaps") >= 20) & (cv < 0.3), 1)
            .otherwise(0)
            .alias("bot_flag"),
        )
        .orderBy("user_id")
    )


@register(
    "evt_survival_km",
    oracle="""
    WITH spans AS (
        SELECT e.user_id,
               CAST(date_diff('day',
                    CAST(min(CAST(e.ts AS TIMESTAMP)) AS DATE),
                    CAST(COALESCE(p.first_purchase,
                                  max(CAST(e.ts AS TIMESTAMP))) AS DATE))
                    AS BIGINT) AS lifetime_days,
               CASE WHEN p.first_purchase IS NULL THEN 0 ELSE 1 END
                   AS churned
        FROM events e
        LEFT JOIN (SELECT user_id,
                          min(CAST(ts AS TIMESTAMP)) AS first_purchase
                   FROM events WHERE event_type = 'purchase'
                   GROUP BY user_id) p
          ON e.user_id = p.user_id
        GROUP BY e.user_id, p.first_purchase
    ),
    risk AS (
        SELECT lifetime_days AS t,
               CAST(sum(churned) AS BIGINT) AS d
        FROM spans GROUP BY lifetime_days
        HAVING sum(churned) > 0
    ),
    at_risk AS (
        SELECT r.t, r.d,
               (SELECT CAST(count(*) AS BIGINT) FROM spans s
                WHERE s.lifetime_days >= r.t) AS n
        FROM risk r
    ),
    terms AS (
        SELECT t, d, n,
               CAST(round(ln(CAST(n - d AS DOUBLE) / n) * 1000000000)
                    AS BIGINT) AS logterm_nano
        FROM at_risk WHERE n > d
    )
    SELECT t AS lifetime_days, d AS n_churned, n AS n_at_risk,
           round(exp(CAST(sum(logterm_nano) OVER (
                 ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                 AND CURRENT ROW) AS DOUBLE) / 1000000000), 6)
               AS survival_prob
    FROM terms
    ORDER BY t
    """,
)
def evt_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier curve for time-to-first-purchase (the 'event' is the
    first purchase; users who never purchase are right-censored at
    their last observed day): S(t) = Π (1 − dᵢ/nᵢ) over event times —
    THE time-to-event estimator behind conversion and churn modeling,
    handling censoring correctly where naive conversion rates can't.

    Scale design: the corpus reduces to user grain (one aggregate); the
    risk table is lifetime-cardinality (≤ days in the window). The
    running product is computed as exp of a running sum of
    nano-quantized log terms — quantize-then-accumulate makes the
    window fold integer-exact, so the curve hash-matches cross-engine.
    The at-risk counts use the ≥t self-aggregation over the BOUNDED
    lifetime table (≤30×30 pairs), never the corpus.
    """
    ev = load(spark, sf_dir, "events").select("ts", "user_id", "event_type")
    first_purchase = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min(F.col("ts").cast("timestamp")).alias("first_purchase"))
    )
    spans = (
        ev.join(F.broadcast(first_purchase), "user_id", "left")
        .groupBy("user_id", "first_purchase")
        .agg(
            F.min(F.col("ts").cast("timestamp")).alias("first_ev"),
            F.max(F.col("ts").cast("timestamp")).alias("last_ev"),
        )
        .select(
            F.datediff(
                F.coalesce("first_purchase", "last_ev").cast("date"),
                F.col("first_ev").cast("date"),
            ).cast("bigint").alias("lifetime_days"),
            F.when(F.col("first_purchase").isNull(), 0)
            .otherwise(1)
            .alias("churned"),
        )
    )
    # r12 (census + plan audit): referenced by several downstream
    # branches and re-planned per reference (repeated corpus scans +
    # re-paid shuffles). r13: spans are USER-GRAIN (corpus-proportional),
    # so the pin is size-gated — pinned while events is small, recompute
    # at scale; rows are bit-identical either way.
    spans = spans.transform(
        pin, approx_input_bytes=input_size_bytes(sf_dir, "events")
    )
    risk = (
        spans.groupBy(F.col("lifetime_days").alias("t"))
        .agg(F.sum("churned").alias("d"))
        .filter(F.col("d") > 0)
    )
    lifetimes = spans.groupBy(
        F.col("lifetime_days").alias("lt")
    ).agg(F.count(F.lit(1)).alias("n_users"))
    at_risk = (
        risk.join(F.broadcast(lifetimes), F.col("lt") >= F.col("t"))
        .groupBy("t", "d")
        .agg(F.sum("n_users").alias("n"))
        .filter(F.col("n") > F.col("d"))
    )
    logterm = F.round(
        F.log((F.col("n") - F.col("d")).cast("double") / F.col("n")) * 1e9
    ).cast("bigint")
    w = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        at_risk.withColumn("logterm_nano", logterm)
        .withColumn(
            "survival_prob",
            F.round(
                F.exp(F.sum("logterm_nano").over(w).cast("double") / 1e9), 6
            ),
        )
        .select(
            F.col("t").alias("lifetime_days"),
            F.col("d").alias("n_churned"),
            F.col("n").alias("n_at_risk"),
            "survival_prob",
        )
        .orderBy("lifetime_days")
    )


@register(
    "pipeline_daily_kpis",
    oracle="""
    WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(count(DISTINCT user_id) AS BIGINT) AS dau,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS value_cents,
               CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_errors,
               CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_purchases
        FROM events GROUP BY 1
    ),
    firsts AS (
        SELECT CAST(min(date_trunc('day', ts)) AS DATE) AS first_day,
               user_id
        FROM events GROUP BY user_id
    ),
    new_users AS (
        SELECT first_day AS day, CAST(count(*) AS BIGINT) AS n_new_users
        FROM firsts GROUP BY first_day
    )
    SELECT d.day, d.n_events, d.dau, d.value_cents, d.n_purchases,
           COALESCE(n.n_new_users, 0) AS n_new_users,
           CAST(d.n_errors * 1000000 // d.n_events AS BIGINT)
               AS error_rate_ppm,
           CAST(d.n_events * 1000000 // d.dau AS BIGINT)
               AS events_per_user_ppm
    FROM daily d LEFT JOIN new_users n ON d.day = n.day
    ORDER BY d.day
    """,
)
def pipeline_daily_kpis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The daily KPI table every dashboard reads: events, DAU, value,
    purchases, new users, error rate, and events-per-user in ONE row per
    day — the end-to-end composition that replaces seven separate
    queries with one two-pass plan.

    Scale design: one conditional aggregate computes every same-grain
    KPI simultaneously (adding a KPI adds an expression, never a pass);
    the only second pass is first-seen attribution (per-user min —
    inherently a different grain), joined back at day grain. Integer
    cents and ppm floor-divisions keep every column engine-exact.
    """
    ev = load(spark, sf_dir, "events").select(
        "ts", "user_id", "event_type", "value"
    )
    day = F.date_trunc("day", F.col("ts")).cast("date")
    daily = ev.groupBy(day.alias("day")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("dau"),
        F.sum(F.round(F.col("value") * 100).cast("bigint")).alias(
            "value_cents"
        ),
        F.sum(
            F.when(F.col("event_type") == "error", 1).otherwise(0)
        ).alias("n_errors"),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("n_purchases"),
    )
    new_users = (
        ev.groupBy("user_id")
        .agg(F.min(day).alias("day"))
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("n_new_users"))
    )
    return (
        daily.join(new_users, "day", "left")
        .select(
            "day",
            "n_events",
            "dau",
            "value_cents",
            "n_purchases",
            F.coalesce("n_new_users", F.lit(0)).alias("n_new_users"),
            F.expr("n_errors * 1000000L div n_events").alias(
                "error_rate_ppm"
            ),
            F.expr("n_events * 1000000L div dau").alias(
                "events_per_user_ppm"
            ),
        )
        .orderBy("day")
    )


@register(
    "scan_parquet_footer_census",
    oracle=f"""
    SELECT regexp_extract(file_name, '([^/]+)[.]parquet$', 1) AS table_name,
           -- DuckDB renders nested paths 'a, list, element';
           -- pyarrow renders 'a.list.element' — normalize to dots
           replace(path_in_schema, ', ', '.') AS column_name,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(total_compressed_size) AS BIGINT) AS compressed_bytes,
           min(compression) AS codec
    FROM parquet_metadata('{_ORACLE_SF_DIR}/*.parquet')
    GROUP BY file_name, path_in_schema
    ORDER BY table_name, column_name
    """,
)
def scan_parquet_footer_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage introspection as a query: per-column parquet footer
    census (chunk counts, compressed bytes, codec) across every fixture
    table — the layout-audit surface behind compaction and
    codec-tuning decisions (DuckDB exposes this as parquet_metadata;
    Spark has no SQL equivalent, so the engine reads footers itself).

    Scale design: footers are read DISTRIBUTED — the file list fans out
    over executors and each task reads only its files' metadata tails
    via pyarrow inside mapInPandas (never the data pages); at 100 TB
    this is the pattern for auditing a million-file table without
    scanning it. Footer fields are verbatim metadata — byte-exact
    cross-engine by construction.
    """
    import glob as globmod

    import pandas as pd

    paths = sorted(globmod.glob(f"{sf_dir}/*.parquet"))
    files = spark.createDataFrame(
        [(p,) for p in paths], "path string"
    ).repartition(4)

    def read_footers(batches):
        import os

        import pyarrow.parquet as pq

        for pdf in batches:
            out = {
                "table_name": [],
                "column_name": [],
                "n_chunks": [],
                "compressed_bytes": [],
                "codec": [],
            }
            for path in pdf["path"]:
                md = pq.ParquetFile(path).metadata
                table = os.path.basename(path).replace(".parquet", "")
                agg: dict[str, list] = {}
                for rg in range(md.num_row_groups):
                    for c in range(md.num_columns):
                        col = md.row_group(rg).column(c)
                        rec = agg.setdefault(col.path_in_schema, [0, 0, ""])
                        rec[0] += 1
                        rec[1] += col.total_compressed_size
                        rec[2] = col.compression
                for name, (n, sz, codec) in agg.items():
                    out["table_name"].append(table)
                    out["column_name"].append(name)
                    out["n_chunks"].append(n)
                    out["compressed_bytes"].append(sz)
                    out["codec"].append(codec)
            yield pd.DataFrame(out)

    return (
        files.mapInPandas(
            read_footers,
            "table_name string, column_name string, n_chunks long, "
            "compressed_bytes long, codec string",
        )
        .orderBy("table_name", "column_name")
    )


@register("llm_multimodal_image_tiles", tags=("rows-only",))
def llm_multimodal_image_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal image tiling: treat each document's payload as an
    opaque image blob, reshape it into a square byte grid, and emit the
    4×4 patch grid with per-tile offsets and digests — the
    vision-transformer patch-extraction plumbing (completes the
    modality set next to frame sampling for video and chunking for
    audio; the real decoder is a library call inside the same
    mapInPandas, stubbed deterministically per the survey's stub
    policy).

    The Spark-side contract this locks: 1→16 bounded expansion per row
    inside Arrow batches, deterministic tile geometry from payload
    length alone, and per-tile digests for downstream exact dedup.
    Rows-only; tests/test_analytics.py re-derives the tile inventory
    and digests from payload lengths in pure Python.
    """
    import pandas as pd

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")

    def tile(batches):
        import hashlib

        for pdf in batches:
            out = {
                "doc_id": [],
                "tile_row": [],
                "tile_col": [],
                "tile_bytes": [],
                "tile_sha": [],
            }
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                # missing payload → empty blob, never a batch-killing
                # AttributeError (hostile-input sweep)
                blob = (text or "").encode("utf-8")
                side = max(int(len(blob) ** 0.5), 4)
                tile_h = side // 4
                for r in range(4):
                    for c in range(4):
                        start = (r * 4 + c) * tile_h * tile_h
                        t = blob[start : start + tile_h * tile_h]
                        out["doc_id"].append(doc_id)
                        out["tile_row"].append(r)
                        out["tile_col"].append(c)
                        out["tile_bytes"].append(len(t))
                        out["tile_sha"].append(
                            hashlib.sha256(t).hexdigest()
                        )
            yield pd.DataFrame(out)

    return docs.mapInPandas(
        tile,
        "doc_id long, tile_row int, tile_col int, tile_bytes int, "
        "tile_sha string",
    )


@register(
    "agg_ks_two_sample",
    oracle="""
    WITH samples AS (
        SELECT CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
                    THEN 1 ELSE 2 END AS grp,
               CAST(round(value * 1000000) AS BIGINT) AS v
        FROM events
    ),
    sizes AS (
        SELECT CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n1,
               CAST(sum(CASE WHEN grp = 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n2
        FROM samples
    ),
    cdf AS (
        SELECT v,
               CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) OVER (
                   ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW) AS BIGINT) AS c1,
               CAST(sum(CASE WHEN grp = 2 THEN 1 ELSE 0 END) OVER (
                   ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW) AS BIGINT) AS c2,
               row_number() OVER (ORDER BY v) AS rn,
               CAST(count(*) OVER () AS BIGINT) AS n_tot
        FROM samples
    ),
    stepped AS (
        SELECT v, c1, c2, rn, n_tot,
               lead(v) OVER (ORDER BY rn) AS next_v
        FROM cdf
    ),
    steps AS (
        -- evaluate the CDF gap only at the LAST row of each tied value
        SELECT v, c1, c2
        FROM stepped
        WHERE rn = n_tot OR v != next_v
    )
    SELECT s.n1, s.n2,
           CAST(max(abs(c1 * s.n2 - c2 * s.n1)) AS BIGINT)
               AS d_scaled,
           round(CAST(max(abs(c1 * s.n2 - c2 * s.n1)) AS DOUBLE)
                 / (CAST(s.n1 AS DOUBLE) * s.n2), 6) AS ks_d
    FROM steps CROSS JOIN sizes s
    GROUP BY s.n1, s.n2
    """,
)
def agg_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov statistic between the month
    halves' value distributions — the continuous-distribution drift test
    beside evt_distribution_drift_jsd's categorical one. D is computed
    in INTEGER space: max |c₁·n₂ − c₂·n₁| over CDF steps, divided once
    at the end — no float ever enters the argmax, so the statistic is
    engine-exact (tied values evaluated once, at the tie group's end,
    as the KS definition requires).

    Scale design: one global sort-window over the merged sample — the
    honest cost of an exact KS (it IS a sort); at 100 TB the same
    query runs on the value-HISTOGRAM (KLL-sketched CDF steps), with
    this exact form as its oracle on samples. Value ties are handled
    via the lead() step filter, not left to chance.

    The global window is kept on measurement: at sf0.01 and sf0.1 it
    beats the scale_rank range-rank form (0.47 s vs 0.75 s at sf0.1,
    PLANS.md). ``agg_ks_two_sample_atscale`` is this same builder under
    a second key.
    """
    ev = load(spark, sf_dir, "events").select("ts", "value")
    grp = F.when(
        F.col("ts") < F.lit("2024-01-16 00:00:00").cast("timestamp_ntz"), 1
    ).otherwise(2)
    samples = ev.select(
        grp.alias("grp"),
        F.round(F.col("value") * 1000000).cast("bigint").alias("v"),
    )
    sizes = samples.agg(
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("grp") == 2, 1).otherwise(0)).alias("n2"),
    )
    w_cdf = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_seq = Window.orderBy("rn")
    cdf = (
        samples.withColumn(
            "c1",
            F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).over(w_cdf)
            .cast("bigint"),
        )
        .withColumn(
            "c2",
            F.sum(F.when(F.col("grp") == 2, 1).otherwise(0)).over(w_cdf)
            .cast("bigint"),
        )
        .withColumn("rn", F.row_number().over(Window.orderBy("v")))
        .withColumn("n_tot", F.count(F.lit(1)).over(Window.partitionBy()))
    )
    steps = cdf.withColumn("next_v", F.lead("v").over(w_seq)).filter(
        (F.col("rn") == F.col("n_tot")) | (F.col("v") != F.col("next_v"))
    )
    return (
        steps.crossJoin(F.broadcast(sizes))
        .groupBy("n1", "n2")
        .agg(
            F.max(
                F.abs(F.col("c1") * F.col("n2") - F.col("c2") * F.col("n1"))
            ).alias("d_scaled"),
            # try_divide: an empty month half zeroes n1*n2 — NULL D,
            # matching DuckDB's x/0 → NULL (Spark ANSI throws, G18)
            F.round(
                F.try_divide(
                    F.max(
                        F.abs(
                            F.col("c1") * F.col("n2")
                            - F.col("c2") * F.col("n1")
                        )
                    ).cast("double"),
                    F.col("n1").cast("double") * F.col("n2"),
                ),
                6,
            ).alias("ks_d"),
        )
        .select("n1", "n2", "d_scaled", "ks_d")
    )


# the *_atscale key stays published as an alias: same builder, same oracle
register(
    "agg_ks_two_sample_atscale",
    oracle=REGISTRY["agg_ks_two_sample"].oracle,
)(agg_ks_two_sample)


@register(
    "llm_annotation_kappa",
    oracle="""
    WITH labeled AS (
        SELECT doc_id,
               -- annotator A: lexical-diversity rule
               CASE WHEN len(list_distinct(string_split(text, ' ')))
                         * 1000000 // len(string_split(text, ' ')) >= 500000
                    THEN 1 ELSE 0 END AS label_a,
               -- annotator B: length rule
               CASE WHEN n_chars >= 250 THEN 1 ELSE 0 END AS label_b
        FROM documents
    ),
    cm AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN label_a = 1 AND label_b = 1
                        THEN 1 ELSE 0 END) AS BIGINT) AS n11,
               CAST(sum(CASE WHEN label_a = 1 AND label_b = 0
                        THEN 1 ELSE 0 END) AS BIGINT) AS n10,
               CAST(sum(CASE WHEN label_a = 0 AND label_b = 1
                        THEN 1 ELSE 0 END) AS BIGINT) AS n01,
               CAST(sum(CASE WHEN label_a = 0 AND label_b = 0
                        THEN 1 ELSE 0 END) AS BIGINT) AS n00
        FROM labeled
    )
    SELECT n, n11, n10, n01, n00,
           round(CAST(n11 + n00 AS DOUBLE) / n, 6) AS observed_agreement,
           round(CAST((n11 + n10) AS DOUBLE) * (n11 + n01) / n / n
                 + CAST((n01 + n00) AS DOUBLE) * (n10 + n00) / n / n, 6)
               AS expected_agreement,
           round((CAST(n11 + n00 AS DOUBLE) / n
                  - (CAST((n11 + n10) AS DOUBLE) * (n11 + n01) / n / n
                     + CAST((n01 + n00) AS DOUBLE) * (n10 + n00) / n / n))
                 / (1.0
                    - (CAST((n11 + n10) AS DOUBLE) * (n11 + n01) / n / n
                       + CAST((n01 + n00) AS DOUBLE) * (n10 + n00) / n / n)),
                 6) AS cohens_kappa
    FROM cm
    """,
)
def llm_annotation_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa inter-annotator agreement between two independent
    document labelers (a lexical-diversity rule and a length rule) —
    the chance-corrected agreement metric every labeling pipeline
    reports before trusting its labels (raw agreement flatters
    imbalanced label sets; kappa doesn't).

    Scale design: both labelers are scan-stage expressions over one
    pass; the confusion matrix is a single 1-row aggregate of exact
    integer cells; kappa derives per output row from the closed form
    with the identical expression tree on both engines.
    """
    docs = load(spark, sf_dir, "documents").select("doc_id", "text", "n_chars")
    label_a = F.when(
        F.expr(
            "size(array_distinct(split(text, ' '))) * 1000000L "
            "div size(split(text, ' '))"
        )
        >= 500000,
        1,
    ).otherwise(0)
    label_b = F.when(F.col("n_chars") >= 250, 1).otherwise(0)
    labeled = docs.select(label_a.alias("a"), label_b.alias("b"))
    cm = labeled.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when((F.col("a") == 1) & (F.col("b") == 1), 1).otherwise(0))
        .alias("n11"),
        F.sum(F.when((F.col("a") == 1) & (F.col("b") == 0), 1).otherwise(0))
        .alias("n10"),
        F.sum(F.when((F.col("a") == 0) & (F.col("b") == 1), 1).otherwise(0))
        .alias("n01"),
        F.sum(F.when((F.col("a") == 0) & (F.col("b") == 0), 1).otherwise(0))
        .alias("n00"),
    )
    n = F.col("n").cast("double")
    po = (F.col("n11") + F.col("n00")).cast("double") / n
    pe = (
        (F.col("n11") + F.col("n10")).cast("double")
        * (F.col("n11") + F.col("n01"))
        / n
        / n
        + (F.col("n01") + F.col("n00")).cast("double")
        * (F.col("n10") + F.col("n00"))
        / n
        / n
    )
    return cm.select(
        "n",
        "n11",
        "n10",
        "n01",
        "n00",
        F.round(po, 6).alias("observed_agreement"),
        F.round(pe, 6).alias("expected_agreement"),
        F.round((po - pe) / (1.0 - pe), 6).alias("cohens_kappa"),
    )


@register(
    "llm_prefix_cache_analysis",
    oracle="""
    WITH pfx AS (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               md5(array_to_string(string_split(text, ' ')[1:8], ' '))
                   AS prefix8
        FROM documents
        WHERE len(string_split(text, ' ')) >= 8
    ),
    groups AS (
        SELECT prefix8,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
               -- every doc after the first reuses the 8 cached
               -- prefix tokens
               CAST((count(*) - 1) * 8 AS BIGINT) AS tokens_saved
        FROM pfx GROUP BY prefix8
    )
    SELECT CAST(count(*) AS BIGINT) AS n_prefix_groups,
           CAST(sum(n_docs) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_shared_groups,
           CAST(sum(tokens_saved) AS BIGINT) AS prefill_tokens_saved,
           round(CAST(sum(tokens_saved) AS DOUBLE)
                 / sum(total_tokens), 6) AS savings_fraction
    FROM groups
    """,
)
def llm_prefix_cache_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-cache (KV-cache) hit analysis for LLM serving: group
    documents by their first-8-token prefix digest and report how many
    prefill tokens a shared-prefix cache would save — the capacity-
    planning calculation behind prompt-caching economics.

    Scale design: one digest shuffle at prefix grain (text reduces to a
    16-byte digest before moving), a prefix-cardinality rollup, and a
    1-row census. Exact integer token accounting; the only division is
    the final savings fraction.
    """
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.split(F.col("text"), " ")
    pfx = docs.filter(F.size(toks) >= 8).select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.md5(F.expr("array_join(slice(split(text, ' '), 1, 8), ' ')")).alias(
            "prefix8"
        ),
    )
    groups = pfx.groupBy("prefix8").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        ((F.count(F.lit(1)) - 1) * 8).alias("tokens_saved"),
    )
    return groups.agg(
        F.count(F.lit(1)).alias("n_prefix_groups"),
        F.sum("n_docs").alias("n_docs"),
        F.sum(F.when(F.col("n_docs") > 1, 1).otherwise(0)).alias(
            "n_shared_groups"
        ),
        F.sum("tokens_saved").alias("prefill_tokens_saved"),
        F.round(
            F.sum("tokens_saved").cast("double") / F.sum("total_tokens"), 6
        ).alias("savings_fraction"),
    )


@register(
    "agg_theil_index",
    oracle="""
    WITH cust_rev AS (
        SELECT c.c_mktsegment, c.c_custkey,
               CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS rev
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY c.c_mktsegment, c.c_custkey
    ),
    seg AS (
        SELECT c_mktsegment,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(rev) AS BIGINT) AS tot
        FROM cust_rev GROUP BY c_mktsegment
    ),
    terms AS (
        SELECT r.c_mktsegment,
               -- Theil T term: (x/μ)·ln(x/μ) with x/μ = x·n/tot —
               -- one ln of an exact integer ratio, nano-quantized
               CAST(round(
                   (CAST(r.rev AS DOUBLE) * s.n / s.tot)
                   * ln(CAST(r.rev AS DOUBLE) * s.n / s.tot)
                   * 1000000000) AS BIGINT) AS term_nano
        FROM cust_rev r JOIN seg s ON r.c_mktsegment = s.c_mktsegment
        WHERE r.rev > 0
    )
    SELECT t.c_mktsegment,
           s.n AS n_customers,
           round(CAST(sum(t.term_nano) AS DOUBLE) / s.n / 1000000000, 6)
               AS theil_t
    FROM terms t JOIN seg s ON t.c_mktsegment = s.c_mktsegment
    GROUP BY t.c_mktsegment, s.n
    ORDER BY t.c_mktsegment
    """,
)
def agg_theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T inequality index of customer revenue per segment — the
    entropy-based inequality measure that (unlike Gini) decomposes
    additively into within-group and between-group components, reported
    beside agg_gini_concentration for the same slices.

    Scale design: same reduction as the Gini — fact to customer grain
    in one integer-cent aggregate; each customer's (x/μ)·ln(x/μ) term
    takes one ln of an exact integer ratio and quantizes to nano units
    BEFORE the segment sum (order-independent); segment totals are a
    5-row broadcast.
    """
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    cents = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    cust_rev = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment", "c_custkey")
        .agg(F.sum(cents).alias("rev"))
    )
    seg = cust_rev.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"), F.sum("rev").alias("tot")
    )
    ratio = F.col("rev").cast("double") * F.col("n") / F.col("tot")
    term = F.round(ratio * F.log(ratio) * 1e9).cast("bigint")
    return (
        cust_rev.filter(F.col("rev") > 0)
        .join(F.broadcast(seg), "c_mktsegment")
        .select("c_mktsegment", "n", term.alias("term_nano"))
        .groupBy("c_mktsegment", "n")
        .agg(
            F.round(
                F.sum("term_nano").cast("double") / F.col("n") / 1e9, 6
            ).alias("theil_t")
        )
        .select(
            "c_mktsegment", F.col("n").alias("n_customers"), "theil_t"
        )
        .orderBy("c_mktsegment")
    )


@register(
    "evt_type_correlation_matrix",
    oracle="""
    WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    ),
    pairs AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               CAST(count(*) AS BIGINT) AS n_days,
               CAST(sum(a.n) AS BIGINT) AS sx,
               CAST(sum(b.n) AS BIGINT) AS sy,
               CAST(sum(a.n * b.n) AS BIGINT) AS sxy,
               CAST(sum(a.n * a.n) AS BIGINT) AS sxx,
               CAST(sum(b.n * b.n) AS BIGINT) AS syy
        FROM daily a
        JOIN daily b ON a.day = b.day AND a.event_type < b.event_type
        GROUP BY a.event_type, b.event_type
    )
    SELECT type_a, type_b, n_days,
           round((CAST(n_days AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                 / sqrt((CAST(n_days AS DOUBLE) * sxx
                         - CAST(sx AS DOUBLE) * sx)
                        * (CAST(n_days AS DOUBLE) * syy
                           - CAST(sy AS DOUBLE) * sy)), 6)
               AS pearson_r
    FROM pairs
    ORDER BY type_a, type_b
    """,
)
def evt_type_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-metric correlation matrix: Pearson r between every pair of
    event types' daily volume series — the dependency map behind
    'errors spike when traffic spikes' diagnostics (the pairwise
    generalization of evt_activity_autocorr's self-correlation).

    Scale design: the corpus reduces to the |types|×|days| matrix in
    one aggregate; the pair join is day-keyed over that bounded matrix
    (C(5,2) pairs × 30 days); r derives per pair from EXACT integer
    moment sums (Σx, Σy, Σxy, Σx², Σy²) with one quantized division —
    the order of summation can never move the result.
    """
    ev = load(spark, sf_dir, "events").select("ts", "event_type")
    daily = ev.groupBy(
        F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
        "event_type",
    ).agg(F.count(F.lit(1)).alias("n"))
    a = daily.select(
        F.col("day").alias("day_a"),
        F.col("event_type").alias("type_a"),
        F.col("n").alias("xa"),
    )
    b = daily.select(
        F.col("day").alias("day_b"),
        F.col("event_type").alias("type_b"),
        F.col("n").alias("xb"),
    )
    pairs = (
        a.join(
            b,
            (F.col("day_a") == F.col("day_b"))
            & (F.col("type_a") < F.col("type_b")),
        )
        .groupBy("type_a", "type_b")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.sum("xa").alias("sx"),
            F.sum("xb").alias("sy"),
            # second-moment products accumulate in decimal(38,0): at
            # ~1e9 events/day a bigint Σ(x·y) crosses 2^63 within a
            # month while DuckDB silently promotes to hugeint — the
            # llm_zipf_exponent_fit overflow class, fixed the same way
            F.sum(
                F.col("xa").cast("decimal(38,0)")
                * F.col("xb").cast("decimal(38,0)")
            ).alias("sxy"),
            F.sum(
                F.col("xa").cast("decimal(38,0)")
                * F.col("xa").cast("decimal(38,0)")
            ).alias("sxx"),
            F.sum(
                F.col("xb").cast("decimal(38,0)")
                * F.col("xb").cast("decimal(38,0)")
            ).alias("syy"),
        )
    )
    nd = F.col("n_days").cast("double")
    r = (nd * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")) / F.sqrt(
        (nd * F.col("sxx") - F.col("sx").cast("double") * F.col("sx"))
        * (nd * F.col("syy") - F.col("sy").cast("double") * F.col("sy"))
    )
    return (
        pairs.select(
            "type_a", "type_b", "n_days", F.round(r, 6).alias("pearson_r")
        )
        .orderBy("type_a", "type_b")
    )


@register(
    "agg_lorenz_curve",
    oracle="""
    WITH cust_rev AS (
        SELECT o_custkey,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS rev
        FROM orders GROUP BY o_custkey
    ),
    ranked AS (
        SELECT rev,
               ntile(10) OVER (ORDER BY rev, o_custkey) AS decile
        FROM cust_rev
    ),
    tot AS (SELECT CAST(sum(rev) AS BIGINT) AS t,
                   CAST(count(*) AS BIGINT) AS n FROM cust_rev)
    SELECT CAST(decile AS BIGINT) AS decile,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(rev) AS BIGINT) AS decile_cents,
           round(CAST(sum(sum(rev)) OVER (ORDER BY decile
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS DOUBLE) / max(t.t), 6) AS cum_revenue_share
    FROM ranked CROSS JOIN tot t
    GROUP BY decile
    ORDER BY decile
    """,
)
def agg_lorenz_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve deciles: cumulative revenue share at each customer
    decile (poorest→richest) — the curve whose area complement IS the
    Gini (agg_gini_concentration reports the scalar; this reports the
    curve dashboards actually draw).

    Scale design: customer-grain reduction, one decile ntile window
    over customer rows (deterministic custkey tiebreak), then the
    cumulative share runs over exactly 10 rows. Integer cents end to
    end; one quantized division per decile row.

    The global window is kept on measurement: at sf0.01 and sf0.1 it
    beats the scale_rank range-rank form (0.44 s vs 0.83 s at sf0.1,
    PLANS.md). ``agg_lorenz_curve_atscale`` is this same builder under a
    second key.
    """
    orders = load(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    cust_rev = orders.groupBy("o_custkey").agg(F.sum(cents).alias("rev"))
    ranked = cust_rev.withColumn(
        "decile", F.ntile(10).over(Window.orderBy("rev", "o_custkey"))
    )
    tot = cust_rev.agg(F.sum("rev").alias("t"))
    deciles = (
        ranked.groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("rev").alias("decile_cents"),
        )
        .crossJoin(F.broadcast(tot))
    )
    w = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        deciles.withColumn(
            "cum_revenue_share",
            F.round(
                F.sum("decile_cents").over(w).cast("double") / F.col("t"), 6
            ),
        )
        .select(
            F.col("decile").cast("bigint").alias("decile"),
            "n_customers",
            "decile_cents",
            "cum_revenue_share",
        )
        .orderBy("decile")
    )


# the *_atscale key stays published as an alias: same builder, same oracle
register(
    "agg_lorenz_curve_atscale",
    oracle=REGISTRY["agg_lorenz_curve"].oracle,
)(agg_lorenz_curve)


@register(
    "evt_max_drawdown",
    oracle="""
    WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS day_cents
        FROM events GROUP BY 1
    ),
    curve AS (
        SELECT day,
               CAST(sum(day_cents) OVER (ORDER BY day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum_cents
        FROM daily
    ),
    dd AS (
        SELECT day, cum_cents,
               CAST(max(cum_cents) OVER (ORDER BY day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS running_peak,
               CAST(max(cum_cents) OVER (ORDER BY day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    - cum_cents AS BIGINT) AS drawdown_cents
        FROM curve
    )
    SELECT day, cum_cents, running_peak, drawdown_cents,
           CASE WHEN drawdown_cents = (SELECT max(drawdown_cents) FROM dd)
                THEN 1 ELSE 0 END AS is_max_drawdown
    FROM dd
    ORDER BY day
    """,
)
def evt_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of the cumulative daily value curve: distance
    below the running peak, with the worst day flagged — the
    risk-analytics primitive (and the SLO-budget analogue: how far has
    the error budget fallen behind its best point).

    Scale design: day-grain reduction first; running sum, running max
    and the argmax all operate over day-cardinality rows in integer
    cents — every comparison is exact, so the flagged day can never
    differ between engines.
    """
    ev = load(spark, sf_dir, "events").select("ts", "value")
    daily = ev.groupBy(
        F.date_trunc("day", F.col("ts")).cast("date").alias("day")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("day_cents"))
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    dd = (
        daily.withColumn("cum_cents", F.sum("day_cents").over(w).cast("bigint"))
        .withColumn(
            "running_peak", F.max("cum_cents").over(w).cast("bigint")
        )
        .withColumn(
            "drawdown_cents",
            (F.col("running_peak") - F.col("cum_cents")).cast("bigint"),
        )
    )
    peak = dd.agg(F.max("drawdown_cents").alias("worst"))
    return (
        dd.crossJoin(F.broadcast(peak))
        .select(
            "day",
            "cum_cents",
            "running_peak",
            "drawdown_cents",
            F.when(F.col("drawdown_cents") == F.col("worst"), 1)
            .otherwise(0)
            .alias("is_max_drawdown"),
        )
        .orderBy("day")
    )


@register(
    "fn_tiered_pricing",
    oracle="""
    WITH cents AS (
        SELECT o_orderkey,
               CAST(round(o_totalprice * 100) AS BIGINT) AS c
        FROM orders WHERE o_orderkey < 100
    )
    SELECT o_orderkey, c AS total_cents,
           -- progressive tiers: 1% below 100k cents, 2% on
           -- 100k-500k, 5% above 500k — marginal, like tax brackets
           CAST(least(c, 100000) * 1 // 100
                + least(greatest(c - 100000, 0), 400000) * 2 // 100
                + greatest(c - 500000, 0) * 5 // 100 AS BIGINT)
               AS fee_cents
    FROM cents
    ORDER BY o_orderkey
    """,
)
def fn_tiered_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Progressive tiered fee computation (marginal tax-bracket logic):
    each slice of the amount pays its own tier's rate — the billing
    primitive everyone writes wrong the first time (marginal, not
    cliff-edge), expressed as the standard least/greatest slice
    decomposition.

    Scale design: pure scan-stage integer arithmetic on a pushed key
    filter; each tier adds one least/greatest term — no joins against a
    bracket table needed until brackets become data (then the interval
    join pattern of join_range_interval_bucketed applies).
    """
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    c = F.round(F.col("o_totalprice") * 100).cast("bigint")
    fee = (
        F.expr("least(total_cents, 100000) * 1 div 100")
        + F.expr("least(greatest(total_cents - 100000, 0), 400000) * 2 div 100")
        + F.expr("greatest(total_cents - 500000, 0) * 5 div 100")
    ).cast("bigint")
    return (
        orders.filter(F.col("o_orderkey") < 100)
        .select("o_orderkey", c.alias("total_cents"))
        .select("o_orderkey", "total_cents", fee.alias("fee_cents"))
        .orderBy("o_orderkey")
    )


@register(
    "join_fallback_lookup_chain",
    oracle="""
    WITH overrides_cust AS (
        -- per-customer override: customers with key % 37 = 0
        SELECT c_custkey, CAST(c_custkey % 5 + 10 AS BIGINT) AS disc_pct
        FROM customer WHERE c_custkey % 37 = 0
    ),
    overrides_seg AS (
        SELECT 'AUTOMOBILE' AS seg, CAST(5 AS BIGINT) AS disc_pct
        UNION ALL SELECT 'MACHINERY', CAST(4 AS BIGINT)
    )
    SELECT o.o_orderkey,
           COALESCE(oc.disc_pct, os.disc_pct, 2) AS effective_disc_pct,
           CASE WHEN oc.disc_pct IS NOT NULL THEN 'customer'
                WHEN os.disc_pct IS NOT NULL THEN 'segment'
                ELSE 'default' END AS rule_level
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    LEFT JOIN overrides_cust oc ON c.c_custkey = oc.c_custkey
    LEFT JOIN overrides_seg os ON c.c_mktsegment = os.seg
    WHERE o.o_orderkey < 200
    ORDER BY o.o_orderkey
    """,
)
def join_fallback_lookup_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical fallback lookup (the override-table pattern):
    per-customer override → segment override → global default, resolved
    with a chain of LEFT joins + COALESCE and an audit column saying
    which level won — how pricing/config/entitlement systems actually
    resolve rules.

    Scale design: override tables are broadcast (they are small BY
    construction — that's what makes them overrides); the fact stream
    never shuffles for the lookups; precedence is expressed in COALESCE
    order, so adding a level adds one broadcast join, never a rescan.
    """
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    oc = (
        cust.filter(F.col("c_custkey") % 37 == 0)
        .select(
            F.col("c_custkey").alias("ov_custkey"),
            (F.col("c_custkey") % 5 + 10).cast("bigint").alias("cust_disc"),
        )
    )
    os_df = spark.createDataFrame(
        [("AUTOMOBILE", 5), ("MACHINERY", 4)], "seg string, seg_disc long"
    )
    return (
        orders.filter(F.col("o_orderkey") < 200)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(oc), F.col("c_custkey") == F.col("ov_custkey"), "left")
        .join(F.broadcast(os_df), F.col("c_mktsegment") == F.col("seg"), "left")
        .select(
            "o_orderkey",
            F.coalesce("cust_disc", "seg_disc", F.lit(2).cast("bigint")).alias(
                "effective_disc_pct"
            ),
            F.when(F.col("cust_disc").isNotNull(), "customer")
            .when(F.col("seg_disc").isNotNull(), "segment")
            .otherwise("default")
            .alias("rule_level"),
        )
        .orderBy("o_orderkey")
    )


@register(
    "evt_anomaly_iqr_fences",
    oracle="""
    WITH vals AS (
        SELECT event_type,
               CAST(round(value * 1000000) AS BIGINT) AS v
        FROM events
    ),
    fences AS (
        SELECT event_type,
               quantile_cont(v, 0.25) AS q1,
               quantile_cont(v, 0.75) AS q3
        FROM vals GROUP BY event_type
    )
    SELECT v.event_type,
           CAST(count(*) AS BIGINT) AS n_values,
           round(f.q1 / 1000000, 6) AS q1_value,
           round(f.q3 / 1000000, 6) AS q3_value,
           CAST(sum(CASE WHEN v.v < f.q1 - 1.5 * (f.q3 - f.q1)
                           OR v.v > f.q3 + 1.5 * (f.q3 - f.q1)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM vals v JOIN fences f ON v.event_type = f.event_type
    GROUP BY v.event_type, f.q1, f.q3
    ORDER BY v.event_type
    """,
)
def evt_anomaly_iqr_fences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outlier census: values beyond Q1−1.5·IQR / Q3+1.5·IQR
    per event type — the boxplot rule, completing the robust-outlier
    trio (z-score assumes normality, MAD resists it, IQR fences are
    what BI tools draw).

    Scale design: quartiles reduce to one row per type and broadcast
    back; the fence comparison is scan-stage (quartile interpolation is
    (a+b)-scaled IEEE-exact on integer µ-units, and both engines
    evaluate the identical fence expression, so the flag can't split).
    """
    ev = load(spark, sf_dir, "events").select("event_type", "value")
    vals = ev.select(
        "event_type",
        F.round(F.col("value") * 1000000).cast("bigint").alias("v"),
    )
    fences = vals.groupBy("event_type").agg(
        F.expr("percentile(v, 0.25)").alias("q1"),
        F.expr("percentile(v, 0.75)").alias("q3"),
    )
    iqr = F.col("q3") - F.col("q1")
    out = (F.col("v") < F.col("q1") - 1.5 * iqr) | (
        F.col("v") > F.col("q3") + 1.5 * iqr
    )
    return (
        vals.join(F.broadcast(fences), "event_type")
        .groupBy("event_type", "q1", "q3")
        .agg(
            F.count(F.lit(1)).alias("n_values"),
            F.sum(F.when(out, 1).otherwise(0)).alias("n_outliers"),
        )
        .select(
            "event_type",
            "n_values",
            F.round(F.col("q1") / 1000000, 6).alias("q1_value"),
            F.round(F.col("q3") / 1000000, 6).alias("q3_value"),
            "n_outliers",
        )
        .orderBy("event_type")
    )


@register(
    "llm_rouge_bleu_eval",
    oracle="""
    WITH pairs AS (
        SELECT a.doc_id AS cand_id, b.doc_id AS ref_id,
               string_split(lower(a.text), ' ') AS cand,
               string_split(lower(b.text), ' ') AS ref
        FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
        WHERE a.doc_id % 2 = 0 AND a.doc_id < 100
    ),
    grams AS (
        SELECT cand_id, ref_id,
               CAST(len(cand) AS BIGINT) AS n_cand,
               CAST(len(ref) AS BIGINT) AS n_ref,
               CAST(len(list_intersect(list_distinct(cand),
                                       list_distinct(ref))) AS BIGINT)
                   AS uni_overlap,
               CAST(len(list_distinct(ref)) AS BIGINT) AS uni_ref,
               CAST(len(list_distinct(cand)) AS BIGINT) AS uni_cand,
               CAST(len(list_intersect(
                   list_distinct(list_transform(
                       generate_series(1, len(cand) - 1),
                       i -> cand[CAST(i AS INT)] || ' '
                            || cand[CAST(i AS INT) + 1])),
                   list_distinct(list_transform(
                       generate_series(1, len(ref) - 1),
                       i -> ref[CAST(i AS INT)] || ' '
                            || ref[CAST(i AS INT) + 1]))
               )) AS BIGINT) AS bi_overlap,
               CAST(len(list_distinct(list_transform(
                   generate_series(1, len(ref) - 1),
                   i -> ref[CAST(i AS INT)] || ' '
                        || ref[CAST(i AS INT) + 1]))) AS BIGINT) AS bi_ref
        FROM pairs
    )
    SELECT cand_id, ref_id,
           round(CAST(uni_overlap AS DOUBLE) / uni_ref, 6) AS rouge1_recall,
           round(CAST(bi_overlap AS DOUBLE) / bi_ref, 6) AS rouge2_recall,
           round(CAST(uni_overlap AS DOUBLE) / uni_cand, 6)
               AS bleu1_precision,
           round(CASE WHEN n_cand >= n_ref THEN 1.0
                      ELSE exp(1.0 - CAST(n_ref AS DOUBLE) / n_cand) END, 6)
               AS brevity_penalty
    FROM grams
    ORDER BY cand_id
    """,
)
def llm_rouge_bleu_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generation-eval metrics: ROUGE-1/2 recall, BLEU-1 modified
    precision, and the BLEU brevity penalty for (candidate, reference)
    document pairs — the summarization/translation scoring kernel an
    eval harness runs over millions of model outputs (pairs here are
    consecutive fixture docs; in production the join key is the prompt
    id).

    Scale design: the pair join keys on the id (equi, co-partitioned);
    n-gram sets build scan-stage per pair, and all overlaps are exact
    integer set sizes (distinct-gram semantics — the standard
    implementation), so only the final ratios and the exp() of the
    brevity penalty are floats, quantized per row.
    """
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    a = docs.filter((F.col("doc_id") % 2 == 0) & (F.col("doc_id") < 100)).select(
        F.col("doc_id").alias("cand_id"),
        F.split(F.lower("text"), " ").alias("cand"),
    )
    b = docs.select(
        F.col("doc_id").alias("ref_id"), F.split(F.lower("text"), " ").alias("ref")
    )
    # size guard: single-token docs yield no bigrams, not an index crash
    bigrams = (
        "CASE WHEN size({c}) >= 2 THEN "
        "array_distinct(transform(sequence(1, size({c}) - 1), "
        "i -> concat({c}[i - 1], ' ', {c}[i]))) "
        "ELSE CAST(array() AS array<string>) END"
    )
    grams = (
        a.join(b, F.col("ref_id") == F.col("cand_id") + 1)
        .withColumn("n_cand", F.size("cand").cast("bigint"))
        .withColumn("n_ref", F.size("ref").cast("bigint"))
        .withColumn(
            "uni_overlap",
            F.size(
                F.array_intersect(
                    F.array_distinct("cand"), F.array_distinct("ref")
                )
            ).cast("bigint"),
        )
        .withColumn("uni_ref", F.size(F.array_distinct("ref")).cast("bigint"))
        .withColumn(
            "uni_cand", F.size(F.array_distinct("cand")).cast("bigint")
        )
        .withColumn(
            "bi_overlap",
            F.size(
                F.array_intersect(
                    F.expr(bigrams.format(c="cand")),
                    F.expr(bigrams.format(c="ref")),
                )
            ).cast("bigint"),
        )
        .withColumn(
            "bi_ref", F.size(F.expr(bigrams.format(c="ref"))).cast("bigint")
        )
    )
    bp = F.when(F.col("n_cand") >= F.col("n_ref"), 1.0).otherwise(
        F.exp(1.0 - F.col("n_ref").cast("double") / F.col("n_cand"))
    )
    return grams.select(
        "cand_id",
        "ref_id",
        F.round(F.col("uni_overlap").cast("double") / F.col("uni_ref"), 6)
        .alias("rouge1_recall"),
        F.round(F.col("bi_overlap").cast("double") / F.col("bi_ref"), 6)
        .alias("rouge2_recall"),
        F.round(F.col("uni_overlap").cast("double") / F.col("uni_cand"), 6)
        .alias("bleu1_precision"),
        F.round(bp, 6).alias("brevity_penalty"),
    ).orderBy("cand_id")


@register(
    "evt_forecast_backtest",
    oracle="""
    WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1
    ),
    forecasts AS (
        SELECT day, n,
               lag(n, 1) OVER (ORDER BY day) AS naive_yesterday,
               lag(n, 7) OVER (ORDER BY day) AS naive_lastweek
        FROM daily
    )
    SELECT CAST(count(*) AS BIGINT) AS n_days_scored,
           CAST(sum(abs(n - naive_yesterday)) AS BIGINT) AS mae_yday_sum,
           CAST(sum(abs(n - naive_lastweek)) AS BIGINT) AS mae_lastwk_sum,
           round(CAST(sum(abs(n - naive_yesterday)) AS DOUBLE)
                 / count(*), 6) AS mae_yesterday,
           round(CAST(sum(abs(n - naive_lastweek)) AS DOUBLE)
                 / count(*), 6) AS mae_lastweek,
           CAST(sum(abs(n - naive_yesterday) * 1000000 // n) AS BIGINT)
               AS mape_yday_ppm_sum
    FROM forecasts
    WHERE naive_yesterday IS NOT NULL AND naive_lastweek IS NOT NULL
    """,
)
def evt_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Naive-forecast backtest: score 'same as yesterday' against 'same
    weekday last week' on the daily series (MAE + ppm-quantized MAPE) —
    the baseline every real forecasting model must beat, and the
    seasonality litmus (last-week winning ⇒ weekly rhythm dominates,
    confirming evt_activity_autocorr's lag-7 signal).

    Scale design: day-grain reduction, two lag windows over DAY rows,
    one 1-row score census. Errors are exact integer |diffs|; MAPE
    terms floor-divide to ppm BEFORE summation.
    """
    ev = load(spark, sf_dir, "events").select("ts")
    daily = ev.groupBy(
        F.date_trunc("day", F.col("ts")).cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.orderBy("day")
    fc = daily.withColumn("naive_yesterday", F.lag("n", 1).over(w)).withColumn(
        "naive_lastweek", F.lag("n", 7).over(w)
    )
    scored = fc.filter(
        F.col("naive_yesterday").isNotNull()
        & F.col("naive_lastweek").isNotNull()
    )
    e1 = F.abs(F.col("n") - F.col("naive_yesterday"))
    e7 = F.abs(F.col("n") - F.col("naive_lastweek"))
    return scored.agg(
        F.count(F.lit(1)).alias("n_days_scored"),
        F.sum(e1).alias("mae_yday_sum"),
        F.sum(e7).alias("mae_lastwk_sum"),
        F.round(F.sum(e1).cast("double") / F.count(F.lit(1)), 6).alias(
            "mae_yesterday"
        ),
        F.round(F.sum(e7).cast("double") / F.count(F.lit(1)), 6).alias(
            "mae_lastweek"
        ),
        F.sum(
            F.expr(
                "abs(n - naive_yesterday) * 1000000L div n"
            )
        ).alias("mape_yday_ppm_sum"),
    )


@register(
    "agg_population_stability_index",
    oracle="""
    WITH vals AS (
        SELECT CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
                    THEN 'ref' ELSE 'cur' END AS half,
               CAST(round(value * 1000000) AS BIGINT) AS v
        FROM events
    ),
    edges AS (
        -- decile edges from the REFERENCE half only (the PSI contract)
        SELECT quantile_disc(v, [0.1, 0.2, 0.3, 0.4, 0.5,
                                 0.6, 0.7, 0.8, 0.9]) AS e
        FROM vals WHERE half = 'ref'
    ),
    binned AS (
        SELECT half,
               1 + CAST(len(list_filter(e.e, edge -> v > edge)) AS INT)
                   AS bin
        FROM vals CROSS JOIN edges e
    ),
    counts AS (
        SELECT bin,
               CAST(sum(CASE WHEN half = 'ref' THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_ref,
               CAST(sum(CASE WHEN half = 'cur' THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_cur
        FROM binned GROUP BY bin
    ),
    tot AS (
        SELECT CAST(sum(n_ref) AS BIGINT) AS tr,
               CAST(sum(n_cur) AS BIGINT) AS tc
        FROM counts
    )
    SELECT c.bin, c.n_ref, c.n_cur,
           round(CAST(c.n_ref AS DOUBLE) / t.tr, 6) AS ref_share,
           round(CAST(c.n_cur AS DOUBLE) / t.tc, 6) AS cur_share,
           CAST(round((CAST(c.n_cur AS DOUBLE) / t.tc
                       - CAST(c.n_ref AS DOUBLE) / t.tr)
                      * ln((CAST(c.n_cur AS DOUBLE) / t.tc)
                           / (CAST(c.n_ref AS DOUBLE) / t.tr))
                      * 1000000000) AS BIGINT) AS psi_term_nano
    FROM counts c CROSS JOIN tot t
    ORDER BY c.bin
    """,
)
def agg_population_stability_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index terms between a reference and a
    current period over reference-derived decile bins — THE model-input
    monitoring metric risk teams threshold at 0.1/0.25 (the binned,
    reference-anchored sibling of the JSD and KS drift tests).

    Scale design: decile edges come from the reference half only (the
    PSI contract — current data must not move the bins) as ONE 9-value
    quantile row broadcast to the scan; binning is a scan-stage
    list_filter count; the PSI term per bin takes one ln of the share
    ratio, nano-quantized so the 10-row table (and any rollup of it)
    is engine-exact. At 100 TB the reference edges come from the KLL
    sketch with this exact form as oracle.
    """
    ev = load(spark, sf_dir, "events").select("ts", "value")
    half = F.when(
        F.col("ts") < F.lit("2024-01-16 00:00:00").cast("timestamp_ntz"),
        "ref",
    ).otherwise("cur")
    vals = ev.select(
        half.alias("half"),
        F.round(F.col("value") * 1000000).cast("bigint").alias("v"),
    )
    edges = vals.filter(F.col("half") == "ref").agg(
        F.expr(
            "array("
            + ", ".join(
                f"percentile_disc(0.{d}) within group (order by v)"
                for d in range(1, 10)
            )
            + ") as e"
        )
    )
    binned = vals.crossJoin(F.broadcast(edges)).select(
        "half",
        (1 + F.expr("size(filter(e, edge -> v > edge))")).cast("int").alias(
            "bin"
        ),
    )
    # r12 (census + plan audit): counts feeds the totals AND the term
    # join — re-planned per reference, the whole bin pipeline ran twice
    # (4 events scans; 2 are the inherent edges-then-bin two-pass).
    # Lazy localCheckpoint pins one evaluation of the 10-row bin table.
    counts = binned.groupBy("bin").agg(
        F.sum(F.when(F.col("half") == "ref", 1).otherwise(0)).alias("n_ref"),
        F.sum(F.when(F.col("half") == "cur", 1).otherwise(0)).alias("n_cur"),
    ).transform(pin)
    tot = counts.agg(
        F.sum("n_ref").alias("tr"), F.sum("n_cur").alias("tc")
    )
    # try_divide: an empty half (degenerate corpus) zeroes tr/tc — NULL
    # shares and PSI terms, matching DuckDB's x/0 → NULL (G18)
    rs = F.try_divide(F.col("n_ref").cast("double"), F.col("tr"))
    cs = F.try_divide(F.col("n_cur").cast("double"), F.col("tc"))
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "bin",
            "n_ref",
            "n_cur",
            F.round(rs, 6).alias("ref_share"),
            F.round(cs, 6).alias("cur_share"),
            F.round((cs - rs) * F.log(F.try_divide(cs, rs)) * 1e9)
            .cast("bigint")
            .alias("psi_term_nano"),
        )
        .orderBy("bin")
    )


@register(
    "llm_eval_winrate",
    oracle="""
    WITH scored AS (
        SELECT doc_id,
               -- model A: lexical diversity; model B: char-per-token
               -- efficiency — two orthogonal quality scorers
               CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
                   * 1000000 // len(string_split(text, ' ')) AS score_a,
               CAST(n_chars AS BIGINT) * 1000000
                   // len(string_split(text, ' ')) AS score_b,
               ntile(4) OVER (ORDER BY n_chars, doc_id) AS length_quartile
        FROM documents
    ),
    verdicts AS (
        SELECT length_quartile,
               CASE WHEN score_a > score_b THEN 'a_wins'
                    WHEN score_b > score_a THEN 'b_wins'
                    ELSE 'tie' END AS verdict
        FROM scored
    )
    SELECT CAST(length_quartile AS BIGINT) AS length_quartile,
           CAST(sum(CASE WHEN verdict = 'a_wins' THEN 1 ELSE 0 END)
                AS BIGINT) AS a_wins,
           CAST(sum(CASE WHEN verdict = 'b_wins' THEN 1 ELSE 0 END)
                AS BIGINT) AS b_wins,
           CAST(sum(CASE WHEN verdict = 'tie' THEN 1 ELSE 0 END) AS BIGINT)
               AS ties,
           round((sum(CASE WHEN verdict = 'a_wins' THEN 1.0 ELSE 0 END)
                  - sum(CASE WHEN verdict = 'b_wins' THEN 1.0 ELSE 0 END))
                 / sqrt(sum(CASE WHEN verdict != 'tie' THEN 1.0 ELSE 0
                            END)), 6) AS sign_test_z
    FROM verdicts
    GROUP BY length_quartile
    ORDER BY length_quartile
    """,
)
def llm_eval_winrate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise win-rate evaluation between two scorers with a sign-test
    z per length quartile — the A-vs-B eval harness readout (win/tie/
    loss census + 'is the preference significant' in one table),
    sliced by a confounder the way a real eval report must be.

    Scale design: both scorers are scan-stage integer-ppm expressions;
    the quartile slice is one ntile window over doc rows; the verdict
    census is a 4-row aggregate with the z statistic derived from
    exact integer win counts per output row.

    The global window is kept on measurement: at sf0.01 and sf0.1 it
    beats the scale_rank range-rank form (0.34 s vs 0.82 s at sf0.1,
    PLANS.md). ``llm_eval_winrate_atscale`` is this same builder under a
    second key.
    """
    docs = load(spark, sf_dir, "documents").select("doc_id", "text", "n_chars")
    score_a = F.expr(
        "size(array_distinct(split(text, ' '))) * 1000000L "
        "div size(split(text, ' '))"
    )
    score_b = F.expr(
        "cast(n_chars as bigint) * 1000000L div size(split(text, ' '))"
    )
    scored = docs.select(
        score_a.alias("score_a"),
        score_b.alias("score_b"),
        F.ntile(4)
        .over(Window.orderBy("n_chars", "doc_id"))
        .alias("length_quartile"),
    )
    verdict = (
        F.when(F.col("score_a") > F.col("score_b"), "a_wins")
        .when(F.col("score_b") > F.col("score_a"), "b_wins")
        .otherwise("tie")
    )
    a_w = F.sum(F.when(F.col("verdict") == "a_wins", 1).otherwise(0))
    b_w = F.sum(F.when(F.col("verdict") == "b_wins", 1).otherwise(0))
    nt = F.sum(F.when(F.col("verdict") != "tie", 1.0).otherwise(0.0))
    return (
        scored.withColumn("verdict", verdict)
        .groupBy(F.col("length_quartile").cast("bigint").alias("length_quartile"))
        .agg(
            a_w.alias("a_wins"),
            b_w.alias("b_wins"),
            F.sum(F.when(F.col("verdict") == "tie", 1).otherwise(0)).alias(
                "ties"
            ),
            F.round(
                (a_w.cast("double") - b_w.cast("double")) / F.sqrt(nt), 6
            ).alias("sign_test_z"),
        )
        .orderBy("length_quartile")
    )


# the *_atscale key stays published as an alias: same builder, same oracle
register(
    "llm_eval_winrate_atscale",
    oracle=REGISTRY["llm_eval_winrate"].oracle,
)(llm_eval_winrate)


@register(
    "agg_harmonic_mean",
    oracle="""
    WITH rates AS (
        SELECT l_returnflag,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents,
               -- reciprocal in integer pico-units so the sum is exact
               CAST(1000000000000 // CAST(round(l_extendedprice * 100)
                    AS BIGINT) AS BIGINT) AS recip_pico
        FROM lineitem WHERE l_extendedprice > 0
    )
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n_rows,
           round(avg(price_cents) / 100.0, 6) AS arithmetic_mean,
           round(CAST(count(*) AS DOUBLE) * 1000000000000
                 / CAST(sum(recip_pico) AS DOUBLE) / 100.0, 6)
               AS harmonic_mean
    FROM rates
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def agg_harmonic_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Harmonic mean per group beside the arithmetic mean — the correct
    average for rates and price-per-unit figures (harmonic ≤ geometric
    ≤ arithmetic; completes the Pythagorean-means trio with
    agg_geometric_mean). The gap between the two columns is itself a
    dispersion signal.

    Scale design: one hash aggregate; reciprocals quantize to integer
    pico-units BEFORE the sum (floor division both engines) so the
    reduction is order-independent, with the two divisions deferred to
    the 3 output rows.
    """
    li = load(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice")
    cents = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    rates = li.filter(F.col("l_extendedprice") > 0).select(
        "l_returnflag",
        cents.alias("price_cents"),
        F.expr(
            "cast(1000000000000L div cast(round(l_extendedprice * 100) "
            "as bigint) as bigint)"
        ).alias("recip_pico"),
    )
    return (
        rates.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.avg("price_cents") / 100.0, 6).alias("arithmetic_mean"),
            F.round(
                F.count(F.lit(1)).cast("double")
                * 1e12
                / F.sum("recip_pico").cast("double")
                / 100.0,
                6,
            ).alias("harmonic_mean"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "llm_dup_cluster_size_dist",
    oracle="""
    WITH clusters AS (
        SELECT md5(lower(trim(text))) AS h,
               CAST(count(*) AS BIGINT) AS cluster_size
        FROM documents GROUP BY h
    )
    SELECT cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(cluster_size * count(*) AS BIGINT) AS n_docs,
           CAST((cluster_size - 1) * count(*) AS BIGINT) AS n_removable
    FROM clusters
    GROUP BY cluster_size
    ORDER BY cluster_size
    """,
)
def llm_dup_cluster_size_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size distribution: how many exact-duplicate
    families exist at each multiplicity, with the removable-docs column
    that prices the dedup pass — the census that turns 'we have dupes'
    into 'dedup will cut the corpus by X%' (web crawls follow a power
    law here; a spike at one size usually means a template).

    Scale design: one digest shuffle to cluster grain (text never
    moves), then a size-cardinality rollup — the reporting layer over
    the same digest partitioning every exact-dedup op in the repo uses.
    """
    docs = load(spark, sf_dir, "documents").select("text")
    clusters = docs.groupBy(
        F.md5(F.lower(F.trim("text"))).alias("h")
    ).agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        clusters.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .select(
            "cluster_size",
            "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters")).alias("n_docs"),
            ((F.col("cluster_size") - 1) * F.col("n_clusters")).alias(
                "n_removable"
            ),
        )
        .orderBy("cluster_size")
    )


@register(
    "evt_dn_retention",
    oracle="""
    WITH du AS (
        SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
        FROM events
    ),
    firsts AS (
        SELECT user_id, min(day) AS d0 FROM du GROUP BY user_id
    ),
    cohorts AS (
        SELECT d0, CAST(count(*) AS BIGINT) AS cohort_size
        FROM firsts GROUP BY d0
    ),
    returns AS (
        SELECT f.d0,
               CAST(sum(CASE WHEN u.day = f.d0 + INTERVAL 1 DAY
                        THEN 1 ELSE 0 END) AS BIGINT) AS d1_returned,
               CAST(sum(CASE WHEN u.day = f.d0 + INTERVAL 7 DAY
                        THEN 1 ELSE 0 END) AS BIGINT) AS d7_returned
        FROM firsts f JOIN du u ON f.user_id = u.user_id
        GROUP BY f.d0
    )
    SELECT c.d0 AS cohort_day, c.cohort_size,
           r.d1_returned, r.d7_returned,
           CAST(r.d1_returned * 1000000 // c.cohort_size AS BIGINT)
               AS d1_retention_ppm,
           CAST(r.d7_returned * 1000000 // c.cohort_size AS BIGINT)
               AS d7_retention_ppm
    FROM cohorts c JOIN returns r ON c.d0 = r.d0
    WHERE c.d0 <= DATE '2024-01-23'
    ORDER BY cohort_day
    """,
)
def evt_dn_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic D1/D7 retention rates per signup-day cohort (did the
    user come back exactly N days later) — the growth team's headline
    metric, windowed to cohorts old enough to have a full D7
    observation (no right-censoring bias).

    Scale design: one (user, day) dedup pass feeds everything; the
    return check joins first-days back to active days on user_id (the
    shared key — co-partitioned), and retention quantizes to integer
    ppm. Cohort × offset output is calendar-bounded.
    """
    ev = load(spark, sf_dir, "events").select("ts", "user_id")
    du = ev.select(
        "user_id", F.date_trunc("day", F.col("ts")).cast("date").alias("day")
    ).distinct()
    firsts = du.groupBy("user_id").agg(F.min("day").alias("d0"))
    cohorts = firsts.groupBy("d0").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    joined = firsts.join(du, "user_id")
    returns = joined.groupBy("d0").agg(
        F.sum(
            F.when(F.col("day") == F.date_add(F.col("d0"), 1), 1).otherwise(0)
        ).alias("d1_returned"),
        F.sum(
            F.when(F.col("day") == F.date_add(F.col("d0"), 7), 1).otherwise(0)
        ).alias("d7_returned"),
    )
    return (
        cohorts.join(returns, "d0")
        .filter(F.col("d0") <= F.lit("2024-01-23").cast("date"))
        .select(
            F.col("d0").alias("cohort_day"),
            "cohort_size",
            "d1_returned",
            "d7_returned",
            F.expr("d1_returned * 1000000L div cohort_size").alias(
                "d1_retention_ppm"
            ),
            F.expr("d7_returned * 1000000L div cohort_size").alias(
                "d7_retention_ppm"
            ),
        )
        .orderBy("cohort_day")
    )


@register(
    "llm_zipf_exponent_fit",
    oracle="""
    WITH freq AS (
        SELECT w, CAST(count(*) AS BIGINT) AS f
        FROM (SELECT unnest(string_split(lower(text), ' ')) AS w
              FROM documents)
        GROUP BY w
    ),
    ranked AS (
        SELECT CAST(row_number() OVER (ORDER BY f DESC, w) AS BIGINT) AS r,
               f
        FROM freq
    ),
    pts AS (
        -- quantize the log-log points to integer micro so every
        -- regression moment is an exact integer sum
        SELECT CAST(round(ln(CAST(r AS DOUBLE)) * 1000000) AS BIGINT) AS x,
               CAST(round(ln(CAST(f AS DOUBLE)) * 1000000) AS BIGINT) AS y
        FROM ranked WHERE f >= 5
    )
    SELECT CAST(count(*) AS BIGINT) AS n_points,
           round((CAST(count(*) AS DOUBLE) * sum(x * y)
                  - CAST(sum(x) AS DOUBLE) * sum(y))
                 / (CAST(count(*) AS DOUBLE) * sum(x * x)
                    - CAST(sum(x) AS DOUBLE) * sum(x)), 6)
               AS zipf_slope,
           round((CAST(sum(y) AS DOUBLE)
                  - ((CAST(count(*) AS DOUBLE) * sum(x * y)
                      - CAST(sum(x) AS DOUBLE) * sum(y))
                     / (CAST(count(*) AS DOUBLE) * sum(x * x)
                        - CAST(sum(x) AS DOUBLE) * sum(x))) * sum(x))
                 / count(*) / 1000000, 6) AS intercept_ln
    FROM pts
    """,
)
def llm_zipf_exponent_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law exponent fit over the word-frequency distribution:
    least-squares slope of ln(freq) on ln(rank) — natural language sits
    near −1; strong deviation flags templated or synthetic text (the
    parametric summary of llm_vocab_coverage's curve).

    Scale design: the corpus reduces to the vocab-bounded frequency
    table; ranking runs over vocab rows; the regression consumes
    INTEGER-micro-quantized log points, so all five moment sums are
    exact and the closed-form slope/intercept is one quantized
    division per output value — the agg_regr_trend discipline with the
    quantize-at-input twist that makes even log-log regression
    hash-stable.
    """
    docs = load(spark, sf_dir, "documents").select("text")
    freq = (
        docs.select(F.explode(F.split(F.lower("text"), " ")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    ranked = freq.withColumn(
        "r",
        F.row_number().over(Window.orderBy(F.col("f").desc(), "w")).cast(
            "bigint"
        ),
    )
    pts = ranked.filter(F.col("f") >= 5).select(
        F.round(F.log(F.col("r").cast("double")) * 1e6).cast("bigint").alias("x"),
        F.round(F.log(F.col("f").cast("double")) * 1e6).cast("bigint").alias("y"),
    )
    n = F.count(F.lit(1)).cast("double")
    sx = F.sum("x")
    sy = F.sum("y")
    # Σxy / Σx² accumulate in decimal(38,0): each product is ~2.6e14,
    # so a bigint sum would hit ANSI overflow near ~35k fitted vocab
    # points while DuckDB silently promotes to hugeint — the
    # evt_bot_regularity_detection 128-bit-moment discipline
    sxy = F.sum(
        F.col("x").cast("decimal(38,0)") * F.col("y").cast("decimal(38,0)")
    )
    sxx = F.sum(
        F.col("x").cast("decimal(38,0)") * F.col("x").cast("decimal(38,0)")
    )
    slope = (n * sxy - sx.cast("double") * sy) / (
        n * sxx - sx.cast("double") * sx
    )
    return pts.agg(
        F.count(F.lit(1)).alias("n_points"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round(
            (sy.cast("double") - slope * sx) / F.count(F.lit(1)) / 1e6, 6
        ).alias("intercept_ln"),
    )


@register(
    "fn_trigram_similarity",
    oracle="""
    WITH names AS (
        SELECT n_nationkey, lower(n_name) AS nm FROM nation
    ),
    grams AS (
        SELECT n_nationkey, nm,
               list_distinct(list_transform(
                   generate_series(1, len(nm) - 2),
                   i -> substr(nm, CAST(i AS INT), 3))) AS g
        FROM names WHERE len(nm) >= 3
    )
    SELECT a.n_nationkey AS key_a, b.n_nationkey AS key_b,
           a.nm AS name_a, b.nm AS name_b,
           CAST(len(list_intersect(a.g, b.g)) AS BIGINT) AS shared_grams,
           CAST(len(list_intersect(a.g, b.g)) * 1000000 //
                (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g)))
                AS BIGINT) AS similarity_ppm
    FROM grams a JOIN grams b ON a.n_nationkey < b.n_nationkey
    WHERE len(list_intersect(a.g, b.g)) >= 2
    ORDER BY similarity_ppm DESC, key_a, key_b
    """,
)
def fn_trigram_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pg_trgm-style character-trigram similarity between entity names
    (shared-trigram Jaccard in integer ppm) — the fuzzy-match scorer
    that, unlike edit distance, survives word reordering and is
    BLOCKABLE: a shared-trigram equi-join prunes candidates before any
    pairwise scoring (the fn_levenshtein_fuzzy_match sibling with the
    index-friendly shape).

    Scale design: trigram sets build scan-stage; the pair space here is
    the bounded 25-row dim (same discipline as levenshtein/haversine);
    at scale candidates come from exploding trigrams into an inverted
    (gram → key) index and equi-joining — documented as the production
    path. Integer set sizes + ppm floor division keep it engine-exact.
    """
    nation = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    grams_expr = (
        "array_distinct(transform(sequence(1, length(nm) - 2), "
        "i -> substring(nm, i, 3)))"
    )
    grams = (
        nation.select(
            "n_nationkey", F.lower(F.col("n_name")).alias("nm")
        )
        .filter(F.length("nm") >= 3)
        .withColumn("g", F.expr(grams_expr))
    )
    a = grams.select(
        F.col("n_nationkey").alias("key_a"),
        F.col("nm").alias("name_a"),
        F.col("g").alias("ga"),
    )
    b = grams.select(
        F.col("n_nationkey").alias("key_b"),
        F.col("nm").alias("name_b"),
        F.col("g").alias("gb"),
    )
    inter = F.size(F.array_intersect("ga", "gb"))
    return (
        a.join(b, F.col("key_a") < F.col("key_b"))
        .filter(inter >= 2)
        .select(
            "key_a",
            "key_b",
            "name_a",
            "name_b",
            inter.cast("bigint").alias("shared_grams"),
            F.expr(
                "size(array_intersect(ga, gb)) * 1000000L div "
                "(size(ga) + size(gb) - size(array_intersect(ga, gb)))"
            ).alias("similarity_ppm"),
        )
        .orderBy(F.col("similarity_ppm").desc(), "key_a", "key_b")
    )


@register(
    "win_activity_islands",
    oracle="""
    WITH du AS (SELECT DISTINCT user_id,
                       CAST(date_trunc('day', ts) AS DATE) AS day
                FROM events),
    isl AS (SELECT user_id, day,
                   day - CAST(row_number() OVER (
                         PARTITION BY user_id ORDER BY day) AS INTEGER)
                       AS grp
            FROM du)
    SELECT user_id, min(day) AS island_start, max(day) AS island_end,
           CAST(count(*) AS BIGINT) AS n_days
    FROM isl GROUP BY user_id, grp HAVING count(*) >= 5
    ORDER BY user_id, island_start
    """,
)
def win_activity_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: maximal runs of CONSECUTIVE active days per
    user (islands of ≥5 days), via the classic day − row_number
    constant-per-island key — the general form of win_longest_streak
    (which keeps only each user's best run; this keeps every
    qualifying island with its boundaries).

    Scale design: one distinct to (user, day) grain, one
    user-PARTITIONED window (never global), one keyed aggregate —
    all three shuffles share the user key, and days-per-user is
    calendar-bounded.
    """
    ev = load(spark, sf_dir, "events").select("user_id", "ts")
    du = ev.select(
        "user_id",
        F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    isl = du.withColumn(
        "grp", F.date_sub(F.col("day"), F.row_number().over(w))
    )
    return (
        isl.groupBy("user_id", "grp")
        .agg(
            F.min("day").alias("island_start"),
            F.max("day").alias("island_end"),
            F.count(F.lit(1)).alias("n_days"),
        )
        .filter(F.col("n_days") >= 5)
        .select("user_id", "island_start", "island_end", "n_days")
        .orderBy("user_id", "island_start")
    )


@register(
    "agg_log2_histogram_percentiles",
    oracle="""
    -- the domain filter runs on the QUANTIZED grid: value=0.001 is
    -- > 0 but rounds to 0 cents, where log2 is undefined (G11)
    WITH b AS (SELECT event_type,
                      CAST(floor(log2(CAST(round(value * 100) AS BIGINT)))
                           AS BIGINT) AS bucket,
                      CAST(count(*) AS BIGINT) AS n
               FROM events
               WHERE CAST(round(value * 100) AS BIGINT) >= 1
               GROUP BY 1, 2),
    c AS (SELECT *,
                 CAST(sum(n) OVER (PARTITION BY event_type ORDER BY bucket
                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
                 CAST(sum(n) OVER (PARTITION BY event_type) AS BIGINT) AS tot
          FROM b)
    SELECT event_type,
           CAST(min(CASE WHEN cum * 100 >= tot * 50 THEN bucket END)
                AS BIGINT) AS p50_bucket,
           CAST(min(CASE WHEN cum * 100 >= tot * 95 THEN bucket END)
                AS BIGINT) AS p95_bucket,
           CAST(min(CASE WHEN cum * 100 >= tot * 99 THEN bucket END)
                AS BIGINT) AS p99_bucket
    FROM c GROUP BY event_type ORDER BY event_type
    """,
)
def agg_log2_histogram_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HdrHistogram-style percentiles: log₂-bucketed value histogram
    per event type, percentile = first bucket whose cumulative count
    crosses p·total — the fixed-error-bound latency-percentile pattern
    (deterministic, mergeable, re-aggregatable), the production
    alternative to both exact sorts and opaque sketches.

    Scale design: the corpus reduces to (type × ~40 log buckets) in
    ONE aggregate with map-side combine; cumulative and total windows
    run over those bounded bucket rows, partitioned by type. All
    integer — the crossing comparison is cum·100 ≥ tot·p, never a
    float quantile.
    """
    ev = load(spark, sf_dir, "events").select("event_type", "value")
    cents = F.round(F.col("value") * 100).cast("bigint")
    # domain filter on the QUANTIZED grid: value=0.001 is > 0 but
    # rounds to 0 cents, where log2 is undefined (G11)
    b = (
        ev.filter(cents >= 1)
        .groupBy(
            "event_type",
            F.floor(F.log2(cents)).cast("bigint").alias("bucket"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_tot = Window.partitionBy("event_type")
    c = b.withColumn("cum", F.sum("n").over(w_cum)).withColumn(
        "tot", F.sum("n").over(w_tot)
    )
    def pct(p):
        return F.min(
            F.when(F.col("cum") * 100 >= F.col("tot") * p, F.col("bucket"))
        ).cast("bigint")
    return (
        c.groupBy("event_type")
        .agg(
            pct(50).alias("p50_bucket"),
            pct(95).alias("p95_bucket"),
            pct(99).alias("p99_bucket"),
        )
        .orderBy("event_type")
    )


@register(
    "agg_dp_noised_counts",
    oracle="""
    WITH groups AS (
        SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs
        FROM documents GROUP BY lang, source
    ),
    seeded AS (
        SELECT lang, source, n_docs,
               CAST(('0x' || substr(md5('dp1|' || lang || '|' || source),
                                    1, 8)) AS BIGINT) % 1000000 AS u_ppm
        FROM groups
    ),
    noised AS (
        SELECT lang, source, n_docs, u_ppm,
               CASE
                   WHEN u_ppm < 333333 THEN 0
                   WHEN u_ppm < 500000 THEN 1
                   WHEN u_ppm < 666667 THEN -1
                   WHEN u_ppm < 750000 THEN 2
                   WHEN u_ppm < 833333 THEN -2
                   WHEN u_ppm < 875000 THEN 3
                   WHEN u_ppm < 916667 THEN -3
                   WHEN u_ppm < 958333 THEN 4
                   ELSE -4
               END AS noise
        FROM seeded
    )
    SELECT lang, source, CAST(noise AS BIGINT) AS noise,
           CAST(greatest(0, n_docs + noise) AS BIGINT) AS released_count
    FROM noised
    ORDER BY lang, source
    """,
)
def agg_dp_noised_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differential-privacy-style noisy count release over the
    (lang, source) slices: each group's count gets two-sided GEOMETRIC
    noise (the discrete Laplace mechanism, α=1/2) drawn via an
    integer-ppm inverse-CDF ladder from a SEEDED uniform
    (md5 of release-tag + group key) — so a re-run releases identical
    numbers (reproducible-release requirement) and the oracle is exact
    across engines (no float log/exp enters the draw). Negative
    releases clamp at 0. PRIVACY CAVEAT: because the noise here is
    derived from the PUBLIC group key and a FIXED tag, anyone can
    recompute and subtract it — this query demonstrates the
    reproducible-noisy-release MECHANISM, not a live DP guarantee. A
    real release must draw the seed from a SECRET, per-release-rotated
    tag (then ε does follow from α); it also drops the `noise` and
    `u_ppm` debug columns. Completes the privacy surface next to
    llm_kanonymity_census (suppression) and llm_text_pii_redact
    (content).

    Scale design: one hash aggregate to quasi-identifier grain
    (bounded |langs|×|sources|); the draw and the ladder are scan-stage
    expressions over the aggregated rows — adding noise never adds a
    pass over raw data.
    """
    docs = load(spark, sf_dir, "documents").select("lang", "source")
    groups = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    seed = F.concat(F.lit("dp1|"), F.col("lang"), F.lit("|"), F.col("source"))
    u = (
        F.conv(F.substring(F.md5(seed.cast("binary")), 1, 8), 16, 10)
        .cast("bigint")
        % 1000000
    )
    seeded = groups.withColumn("u_ppm", u)
    noise = (
        F.when(F.col("u_ppm") < 333333, 0)
        .when(F.col("u_ppm") < 500000, 1)
        .when(F.col("u_ppm") < 666667, -1)
        .when(F.col("u_ppm") < 750000, 2)
        .when(F.col("u_ppm") < 833333, -2)
        .when(F.col("u_ppm") < 875000, 3)
        .when(F.col("u_ppm") < 916667, -3)
        .when(F.col("u_ppm") < 958333, 4)
        .otherwise(-4)
    )
    return (
        seeded.withColumn("noise", noise)
        .select(
            "lang",
            "source",
            F.col("noise").cast("bigint").alias("noise"),
            F.greatest(F.lit(0), F.col("n_docs") + F.col("noise"))
            .cast("bigint")
            .alias("released_count"),
        )
        .orderBy("lang", "source")
    )


@register("graph_pagerank_brands", tags=("rows-only", "iterative"))
def graph_pagerank_brands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the brand co-purchase graph (edges = brand pairs
    co-bought in ≥8 orders, symmetrized): 10 damped power-iteration
    rounds (d=0.85) — the canonical iterative-graph algorithm, beside
    llm_dedup_cluster_components (connected components) and
    graph_triangle_census (clustering). Rows-only: float ranks are
    iteration products with engine-specific summation order; the
    numpy-agreement property test (tests/test_properties.py) pins the
    values instead of a SQL oracle.

    Scale design: the corpus reduces to the node-bounded edge list
    ONCE (same orderkey-co-partitioned projection as triangle census);
    every iteration is one edges⋈ranks equi-join + one dst-grain
    aggregate — at web scale that is the per-iteration shuffle, with
    ranks broadcast while node count stays bounded. Lineage is
    truncated with a lazy localCheckpoint every 5 rounds so 10
    iterations don't compound into one mega-plan. Dangling nodes keep
    the (1−d)/N base term via the left join + coalesce.
    """
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    order_brand = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .select("l_orderkey", "p_brand")
        .distinct()
    )
    a = order_brand.alias("a")
    b = order_brand.alias("b")
    und = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.p_brand") < F.col("b.p_brand")),
        )
        .groupBy(
            F.col("a.p_brand").alias("u"), F.col("b.p_brand").alias("v")
        )
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= 8)
        .select("u", "v")
    )
    edges = und.unionByName(
        und.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).transform(pin)
    return pagerank_power(edges)


def pagerank_power(
    edges: DataFrame, rounds: int = 10, d: float = 0.85
) -> DataFrame:
    """Damped power iteration over a directed edge list (u, v) →
    (brand, pagerank, position). Factored out of graph_pagerank_brands
    so adversarial graph shapes (disconnected components, isolated
    cliques) can be property-tested directly against numpy — every
    iteration is one edges⋈ranks equi-join + one dst-grain aggregate;
    nodes absent from the src side keep the (1−d)/N base term via the
    left join + coalesce."""
    nodes = edges.select(F.col("u").alias("brand")).distinct()
    deg = edges.groupBy("u").agg(F.count(F.lit(1)).alias("out_deg"))
    n_nodes = nodes.agg(F.count(F.lit(1)).alias("n"))
    ranks = nodes.crossJoin(F.broadcast(n_nodes)).select(
        "brand", (F.lit(1.0) / F.col("n")).alias("rank")
    )
    for i in range(rounds):
        contribs = (
            edges.join(deg, "u")
            .join(ranks, edges.u == ranks.brand)
            .select(
                F.col("v").alias("brand"),
                (F.col("rank") / F.col("out_deg")).alias("c"),
            )
            .groupBy("brand")
            .agg(F.sum("c").alias("in_sum"))
        )
        ranks = (
            nodes.join(contribs, "brand", "left")
            .crossJoin(F.broadcast(n_nodes))
            .select(
                "brand",
                (
                    (1.0 - d) / F.col("n")
                    + d * F.coalesce(F.col("in_sum"), F.lit(0.0))
                ).alias("rank"),
            )
        )
        if i % 5 == 4:
            ranks = ranks.transform(pin)
    w_rank = Window.orderBy(F.col("rank").desc(), "brand")
    return ranks.select(
        "brand",
        F.round("rank", 9).alias("pagerank"),
        F.row_number().over(w_rank).cast("bigint").alias("position"),
    ).orderBy("position")


@register(
    "agg_neyman_allocation",
    oracle="""
    WITH strata AS (
        SELECT l_returnflag AS stratum,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS sx,
               sum(CAST(round(l_extendedprice * 100) AS HUGEINT)
                   * CAST(round(l_extendedprice * 100) AS HUGEINT)) AS sxx
        FROM lineitem GROUP BY l_returnflag
    ),
    weighted AS (
        SELECT stratum, n_rows,
               sqrt((CAST(n_rows AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                   / n_rows AS sigma_cents,
               CAST(n_rows AS DOUBLE)
                   * (sqrt((CAST(n_rows AS DOUBLE) * CAST(sxx AS DOUBLE)
                            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                      / n_rows) AS w
        FROM strata
    ),
    tot AS (SELECT sum(w) AS wt FROM weighted),
    frac AS (
        SELECT stratum, n_rows, sigma_cents,
               CAST(floor(1000 * w / wt) AS BIGINT) AS base_alloc,
               1000 * w / wt - floor(1000 * w / wt) AS remainder
        FROM weighted CROSS JOIN tot
    ),
    ranked AS (
        SELECT *, row_number() OVER (ORDER BY remainder DESC, stratum)
                      AS remainder_rank,
               CAST(sum(base_alloc) OVER () AS BIGINT) AS base_total
        FROM frac
    )
    SELECT stratum, n_rows, round(sigma_cents, 6) AS sigma_cents,
           CAST(base_alloc
                + CASE WHEN remainder_rank <= 1000 - base_total
                       THEN 1 ELSE 0 END AS BIGINT) AS allocation
    FROM ranked
    ORDER BY stratum
    """,
)
def agg_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal sampling allocation: split a 1000-row sampling
    budget across strata proportionally to N_h·σ_h (minimum-variance
    stratified sampling), with LARGEST-REMAINDER rounding so the
    allocations are integers that sum exactly to the budget — the
    design step in front of llm_sample_stratified_hash / 
    agg_stratified_topn_sample, which sample what this op sizes.

    Exactness: σ derives from exact integer moments (Σx bigint,
    Σx² 128-bit ↔ DuckDB hugeint / Spark decimal(38,0) — the
    evt_bot_regularity discipline); the only floats are one sqrt and
    one division per STRATUM row, written identically on both engines.
    The remainder window runs over |strata| rows with a deterministic
    (remainder desc, stratum) tie-break.
    """
    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    cents = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    strata = li.groupBy(F.col("l_returnflag").alias("stratum")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(cents).alias("sx"),
        F.sum(
            cents.cast("decimal(38,0)") * cents.cast("decimal(38,0)")
        ).alias("sxx"),
    )
    nd = F.col("n_rows").cast("double")
    sigma = (
        F.sqrt(
            nd * F.col("sxx").cast("double")
            - F.col("sx").cast("double") * F.col("sx").cast("double")
        )
        / F.col("n_rows")
    )
    weighted = strata.select(
        "stratum",
        "n_rows",
        sigma.alias("sigma_cents"),
        (nd * sigma).alias("w"),
    )
    tot = weighted.agg(F.sum("w").alias("wt"))
    # try_divide: all-zero-variance strata (degenerate corpus) zero the
    # weight total — NULL shares, matching DuckDB's x/0 → NULL (G18)
    share = F.try_divide(F.lit(1000) * F.col("w"), F.col("wt"))
    frac = weighted.crossJoin(F.broadcast(tot)).select(
        "stratum",
        "n_rows",
        "sigma_cents",
        F.floor(share).cast("bigint").alias("base_alloc"),
        (share - F.floor(share)).alias("remainder"),
    )
    w_rank = Window.orderBy(F.col("remainder").desc(), "stratum")
    w_all = Window.partitionBy()
    ranked = frac.withColumn(
        "remainder_rank", F.row_number().over(w_rank)
    ).withColumn("base_total", F.sum("base_alloc").over(w_all))
    return (
        ranked.select(
            "stratum",
            "n_rows",
            F.round("sigma_cents", 6).alias("sigma_cents"),
            (
                F.col("base_alloc")
                + F.when(
                    F.col("remainder_rank") <= 1000 - F.col("base_total"), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("allocation"),
        )
        .orderBy("stratum")
    )


@register(
    "agg_poisson_bootstrap_ci",
    oracle="""
    WITH reps AS (SELECT CAST(unnest(generate_series(1, 200)) AS BIGINT)
                      AS b),
    weighted AS (
        SELECT l.l_returnflag, r.b,
               CAST(round(l.l_extendedprice * 100) AS BIGINT) AS cents,
               CASE
                   WHEN u < 367879 THEN 0
                   WHEN u < 735759 THEN 1
                   WHEN u < 919699 THEN 2
                   WHEN u < 981012 THEN 3
                   WHEN u < 996340 THEN 4
                   WHEN u < 999406 THEN 5
                   ELSE 6
               END AS w
        FROM (SELECT l_returnflag, l_extendedprice,
                     l_orderkey, l_linenumber FROM lineitem) l
        CROSS JOIN reps r
        CROSS JOIN LATERAL (
            SELECT CAST(('0x' || substr(md5(
                       CAST(l.l_orderkey AS VARCHAR) || '|'
                       || CAST(l.l_linenumber AS VARCHAR) || '|'
                       || CAST(r.b AS VARCHAR)), 1, 8)) AS BIGINT)
                   % 1000000 AS u
        ) h
    ),
    replica_means AS (
        SELECT l_returnflag, b,
               CAST(sum(w * cents) AS BIGINT) AS wc,
               CAST(sum(w) AS BIGINT) AS wn
        FROM weighted GROUP BY l_returnflag, b
    ),
    ranked AS (
        -- wn=0 (all-zero replica weights on a tiny flag): / yields
        -- NULL, undefined means rank LAST on both engines
        SELECT l_returnflag,
               round(CAST(wc AS DOUBLE) / wn / 100, 6) AS mean_b,
               row_number() OVER (PARTITION BY l_returnflag
                   ORDER BY CAST(wc AS DOUBLE) / wn NULLS LAST, b) AS rnk
        FROM replica_means
    ),
    point AS (
        SELECT l_returnflag,
               round(avg(l_extendedprice), 6) AS point_mean
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT p.l_returnflag, p.point_mean,
           min(CASE WHEN rnk = 6 THEN mean_b END) AS ci_lo,
           min(CASE WHEN rnk = 195 THEN mean_b END) AS ci_hi,
           CAST(count(*) AS BIGINT) AS n_replicas
    FROM ranked r JOIN point p ON r.l_returnflag = p.l_returnflag
    GROUP BY p.l_returnflag, p.point_mean
    ORDER BY p.l_returnflag
    """,
)
def agg_poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrap 95% confidence interval for the per-flag mean price via
    the POISSON BOOTSTRAP — the only bootstrap that works distributed:
    instead of resampling by index (impossible without materializing n),
    every row independently draws a Poisson(1) replication weight per
    replica, so 200 bootstrap replicas are one weighted aggregation
    with map-side combine. Weights come from a seeded md5 ladder
    (integer-ppm inverse CDF of Poisson(1), tail clamped at 6) — fully
    deterministic, so the oracle reproduces every replica exactly.

    Exactness: replica sums are integer (weight × cents); each replica
    mean is one division, and the CI bounds are ORDER statistics (6th /
    195th of 200, i.e. the 2.5%/97.5% empirical quantiles) with a
    replica-id tiebreak — no float quantile interpolation to diverge
    between engines. The rank window is partitioned per flag over
    exactly 200 rows.

    Scale design: the ×200 replica fan-out happens INSIDE the scan
    stage and combines to (flag × replica) grain before the one
    shuffle — 600 rows cross the wire regardless of corpus size; the
    order-statistic window never sees raw data. This is the
    uncertainty-quantification pattern every 100 TB metric report
    should ship with its point estimates.
    """
    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice", "l_orderkey", "l_linenumber"
    )
    reps = F.explode(
        F.sequence(F.lit(1).cast("bigint"), F.lit(200).cast("bigint"))
    ).alias("b")
    seeded = li.select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
        F.concat_ws(
            "|", F.col("l_orderkey"), F.col("l_linenumber")
        ).alias("rowkey"),
        reps,
    )
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws("|", F.col("rowkey"), F.col("b")).cast(
                        "binary"
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % 1000000
    )
    w = (
        F.when(u < 367879, 0)
        .when(u < 735759, 1)
        .when(u < 919699, 2)
        .when(u < 981012, 3)
        .when(u < 996340, 4)
        .when(u < 999406, 5)
        .otherwise(6)
    )
    replica = (
        seeded.withColumn("w", w)
        .groupBy("l_returnflag", "b")
        .agg(
            F.sum(F.col("w") * F.col("cents")).alias("wc"),
            F.sum("w").alias("wn"),
        )
    )
    # a replica whose Poisson weights all drew 0 for a tiny flag has no
    # sampled rows — its mean is undefined (try_divide ≡ DuckDB's
    # NULL-on-zero-division, G11) and ranks LAST (explicit NULLS LAST
    # on both sides, G13) so defined replicas fill the CI ranks first
    mean_b = F.try_divide(F.col("wc").cast("double"), F.col("wn"))
    w_rank = Window.partitionBy("l_returnflag").orderBy(
        mean_b.asc_nulls_last(), "b"
    )
    ranked = replica.select(
        "l_returnflag",
        F.round(mean_b / 100, 6).alias("mean_b"),
        F.row_number().over(w_rank).alias("rnk"),
    )
    point = li.groupBy("l_returnflag").agg(
        F.round(F.avg("l_extendedprice"), 6).alias("point_mean")
    )
    return (
        ranked.groupBy("l_returnflag")
        .agg(
            F.min(F.when(F.col("rnk") == 6, F.col("mean_b"))).alias("ci_lo"),
            F.min(F.when(F.col("rnk") == 195, F.col("mean_b"))).alias(
                "ci_hi"
            ),
            F.count(F.lit(1)).alias("n_replicas"),
        )
        .join(point, "l_returnflag")
        .select(
            "l_returnflag", "point_mean", "ci_lo", "ci_hi", "n_replicas"
        )
        .orderBy("l_returnflag")
    )


@register("evt_markov_removal_attribution", tags=("rows-only",))
def evt_markov_removal_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov-chain attribution with REMOVAL EFFECTS: model user
    sessions as a first-order chain over channel states (START →
    events… → CONV on purchase, or → DROP at session end), then credit
    each channel by how much the absorbing-chain conversion probability
    falls when that channel's node is removed — the data-driven
    attribution model that fixes linear/first-touch's position bias
    (evt_linear_attribution / evt_session_attribution are the
    heuristic siblings).

    Rows-only: the absorbing-chain solve is a linear system, not SQL;
    tests/test_properties.py re-derives the whole thing — independent
    Python sessionization, transition counts, and solve — and requires
    exact agreement.

    Scale design: sessionization and transition extraction are
    user-partitioned windows + one aggregate to the (from, to) matrix —
    the ONLY corpus-scale work, all keyed on user then state. The chain
    solve happens on the ≤(channels+2)² matrix: a fixed-size driver hop
    (the llm_embed_pca_project discipline — kilobytes, corpus-
    independent), and removal effects re-solve the same tiny system
    once per channel.
    """
    # a NULL event_type is not a channel — it cannot be a Markov state
    # (the hostile NULL-type row would otherwise become a None node in
    # the transition matrix); excluded at the scan, like every other
    # undefined-domain row (G11)
    ev = (
        load(spark, sf_dir, "events")
        .select("user_id", "ts", "event_id", "event_type")
        .filter(F.col("event_type").isNotNull())
    )
    return markov_removal_attribution(spark, ev)


def markov_removal_attribution(
    spark: SparkSession, ev: DataFrame
) -> DataFrame:
    """Sessionize → transition counts → absorbing-chain solve → removal
    effects, over any (user_id, ts, event_id, event_type) DataFrame.
    Factored out of evt_markov_removal_attribution so adversarial
    shapes (absorbing-state-only users whose first event converts,
    never-converting corpora) can be property-tested directly against
    the pure-Python reference."""
    import numpy as np

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    epoch = F.col("ts").cast("timestamp").cast("long")
    gap = epoch - F.lag(epoch).over(w)
    sess = ev.withColumn(
        "sid",
        F.sum(
            F.when(F.lag("ts").over(w).isNull() | (gap > 30 * 60), 1)
            .otherwise(0)
        ).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    # truncate each session at its first purchase (absorption)
    w_s = Window.partitionBy("user_id", "sid").orderBy("ts", "event_id")
    sess = sess.withColumn(
        "n_purch_before",
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).over(
            w_s.rowsBetween(Window.unboundedPreceding, -1)
        ),
    ).filter(F.coalesce(F.col("n_purch_before"), F.lit(0)) == 0)
    nxt = F.lead("event_type").over(w_s)
    first = F.row_number().over(w_s) == 1
    steps = sess.select(
        "user_id",
        "sid",
        "event_type",
        F.when(first, True).otherwise(False).alias("is_first"),
        nxt.alias("next_type"),
    )
    frm = F.when(F.col("event_type") == "purchase", None).otherwise(
        F.col("event_type")
    )
    transitions = (
        steps.select(
            F.explode(
                F.array(
                    # START -> first state
                    F.when(
                        F.col("is_first"),
                        F.struct(
                            F.lit("START").alias("src"),
                            F.when(
                                F.col("event_type") == "purchase", "CONV"
                            )
                            .otherwise(F.col("event_type"))
                            .alias("dst"),
                        ),
                    ),
                    # state -> next state / CONV / DROP
                    F.when(
                        frm.isNotNull(),
                        F.struct(
                            frm.alias("src"),
                            F.coalesce(
                                F.when(
                                    F.col("next_type") == "purchase", "CONV"
                                ).otherwise(F.col("next_type")),
                                F.lit("DROP"),
                            ).alias("dst"),
                        ),
                    ),
                )
            ).alias("t")
        )
        .filter(F.col("t").isNotNull())
        .groupBy("t.src", "t.dst")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    rows = transitions.collect()  # bounded: (channels+1)^2 cells max

    _SCHEMA = (
        "channel string, p_conv_full double, p_conv_without double, "
        "removal_effect double"
    )
    if not rows:
        # empty corpus / no journeys: no chain exists — zero
        # attribution rows, same schema (the 1000-executor analogue is
        # a day with no events, which must not kill the pipeline)
        return spark.createDataFrame([], _SCHEMA)

    states = sorted(
        {r.src for r in rows} | {r.dst for r in rows} - {"CONV", "DROP"}
    )
    idx = {s: i for i, s in enumerate(states)}
    k = len(states)
    counts = np.zeros((k, k + 2))  # cols: states..., CONV, DROP
    for r in rows:
        j = idx[r.dst] if r.dst in idx else (k if r.dst == "CONV" else k + 1)
        counts[idx[r.src], j] += r.n

    def p_conv(disabled: str | None) -> float:
        c = counts.copy()
        if disabled is not None:
            d = idx[disabled]
            # removing a channel: every edge into it becomes a DROP
            c[:, k + 1] += c[:, d]
            c[:, d] = 0
            c[d, :] = 0
        tot = c.sum(axis=1, keepdims=True)
        tot[tot == 0] = 1.0
        p = c / tot
        q, r_abs = p[:, :k], p[:, k:]
        # absorption probabilities: (I - Q)^-1 R, take the CONV column
        absorb = np.linalg.solve(np.eye(k) - q, r_abs)
        return float(absorb[idx["START"], 0])

    base = p_conv(None)
    out = []
    for ch in states:
        if ch == "START":
            continue
        without = p_conv(ch)
        out.append(
            (
                ch,
                round(base, 9),
                round(without, 9),
                round(1.0 - without / base, 9) if base > 0 else 0.0,
            )
        )
    out.sort(key=lambda t: (-t[3], t[0]))
    return spark.createDataFrame(out, _SCHEMA)


@register(
    "agg_mann_whitney_u",
    oracle="""
    WITH samples AS (
        SELECT CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
                    THEN 1 ELSE 2 END AS grp,
               CAST(round(value * 1000000) AS BIGINT) AS v
        FROM events
    ),
    vals AS (
        SELECT v,
               CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS d1,
               CAST(count(*) AS BIGINT) AS dn
        FROM samples GROUP BY v
    ),
    cum AS (
        SELECT v, d1, dn,
               CAST(sum(dn) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cn
        FROM vals
    ),
    ranked AS (
        -- tied values all take the AVERAGE rank of their block:
        -- block spans (cn-dn+1 .. cn), avg = (first+last)/2, so
        -- 2·Σranks of group-1 members = d1 · (2·cn − dn + 1)
        SELECT CAST(sum(d1 * (2 * cn - dn + 1)) AS BIGINT) AS r1_x2,
               CAST(sum(d1) AS BIGINT) AS n1,
               CAST(sum(dn - d1) AS BIGINT) AS n2
        FROM cum
    )
    SELECT n1, n2,
           CAST(2 * n1 * n2 + n1 * (n1 + 1) - r1_x2 AS BIGINT)
               AS u1_x2,
           round(((2.0 * n1 * n2 + n1 * (n1 + 1) - r1_x2) / 2
                  - CAST(n1 AS DOUBLE) * n2 / 2)
                 / sqrt(CAST(n1 AS DOUBLE) * n2 * (n1 + n2 + 1) / 12),
                 6) AS z_approx
    FROM ranked
    """,
)
def agg_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U rank-sum test between the month halves' value
    distributions — the NON-parametric location test beside
    agg_ks_two_sample's shape test (robust to outliers where the
    t-test is not, the A/B readout of choice for skewed metrics).

    Exactness: ties collapse to value grain FIRST; a tied block
    spanning ranks (c−d+1 .. c) contributes its members' AVERAGE rank,
    so 2·ΣR₁ = Σ d1·(2c − d + 1) — every term integer, no fractional
    rank ever materializes (U itself can be half-integer under ties,
    so the reported statistic is 2·U — exact). The z approximation is
    one sqrt per output row (tie variance correction omitted; both engines omit it
    identically).

    Scale design: one keyed shuffle to distinct-value grain, then the
    rank cumulative runs as the scale_rank distributed prefix-sum —
    never a single-partition window; the final reduce is 1 row. (The
    value-grain bigint products reach 2^63 only past ~10^9 ranked
    values × counts; the decimal(38,0) swap is the documented next
    step there.)
    """
    from .scale_rank import with_cumsum

    ev = load(spark, sf_dir, "events").select("ts", "value")
    grp = F.when(
        F.col("ts") < F.lit("2024-01-16 00:00:00").cast("timestamp_ntz"), 1
    ).otherwise(2)
    samples = ev.select(
        grp.alias("grp"),
        F.round(F.col("value") * 1000000).cast("bigint").alias("v"),
    )
    vals = samples.groupBy("v").agg(
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).alias("d1"),
        F.count(F.lit(1)).alias("dn"),
    )
    cum = with_cumsum(vals, [F.col("v").asc()], ["dn"], ["cn"])
    ranked = cum.agg(
        F.sum(
            F.col("d1") * (2 * F.col("cn") - F.col("dn") + 1)
        ).alias("r1_x2"),
        F.sum("d1").alias("n1"),
        F.sum(F.col("dn") - F.col("d1")).alias("n2"),
    )
    u1_x2 = (
        2 * F.col("n1") * F.col("n2")
        + F.col("n1") * (F.col("n1") + 1)
        - F.col("r1_x2")
    )
    return ranked.select(
        "n1",
        "n2",
        u1_x2.cast("bigint").alias("u1_x2"),
        # try_divide: an empty month half zeroes the variance term —
        # NULL z, matching DuckDB's x/0 → NULL (Spark ANSI throws, G18)
        F.round(
            F.try_divide(
                u1_x2.cast("double") / 2
                - F.col("n1").cast("double") * F.col("n2") / 2,
                F.sqrt(
                    F.col("n1").cast("double")
                    * F.col("n2")
                    * (F.col("n1") + F.col("n2") + 1)
                    / 12
                ),
            ),
            6,
        ).alias("z_approx"),
    )


@register(
    "evt_sequential_sprt",
    oracle="""
    WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS n_trials,
               CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_conv
        FROM events GROUP BY 1
    ),
    cum AS (
        SELECT day,
               CAST(sum(n_trials) OVER (ORDER BY day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS n_cum,
               CAST(sum(n_conv) OVER (ORDER BY day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS c_cum
        FROM daily
    ),
    llr AS (
        SELECT day, n_cum, c_cum,
               CAST(c_cum * 200670695
                    + (n_cum - c_cum) * -50010421 AS BIGINT) AS llr_nano
        FROM cum
    )
    SELECT day, n_cum, c_cum, llr_nano,
           CASE WHEN llr_nano >= 2944438979 THEN 'accept_h1'
                WHEN llr_nano <= -2944438979 THEN 'accept_h0'
                ELSE 'continue' END AS decision
    FROM llr
    ORDER BY day
    """,
)
def evt_sequential_sprt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential probability ratio test (Wald's SPRT) on the daily
    conversion stream: cumulative log-likelihood ratio for
    H1: p = 0.22 vs H0: p = 0.18 with α = β = 0.05 boundaries — the
    always-valid sequential monitor that lets an experiment STOP the
    day the evidence crosses a boundary instead of peeking (the
    sequential sibling of evt_experiment_ab_analysis's fixed-horizon z
    and agg_ab_srm_check's sanity gate).

    Exactness: per-trial log-likelihood increments are PRE-COMPUTED
    integer nano literals (ln(22/18)·1e9 = 200670695,
    ln(78/82)·1e9 = −50010421; boundary ln(19)·1e9 = 2944438979) —
    identical constants in both engines, so the cumulative ledger and
    every boundary crossing are integer-exact; no runtime log/exp.

    Scale design: the corpus reduces to DAY grain in one aggregate;
    the cumulative ledger runs over day-cardinality rows only. At
    100 TB the per-day reduce is the only corpus-scale work — exactly
    the daily-rollup shape the monitoring job already runs.
    """
    ev = load(spark, sf_dir, "events").select("ts", "event_type")
    daily = ev.groupBy(
        F.date_trunc("day", F.col("ts")).cast("date").alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n_trials"),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("n_conv"),
    )
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = daily.select(
        "day",
        F.sum("n_trials").over(w).cast("bigint").alias("n_cum"),
        F.sum("n_conv").over(w).cast("bigint").alias("c_cum"),
    )
    llr = (
        F.col("c_cum") * F.lit(200670695)
        + (F.col("n_cum") - F.col("c_cum")) * F.lit(-50010421)
    ).cast("bigint")
    return (
        cum.withColumn("llr_nano", llr)
        .withColumn(
            "decision",
            F.when(F.col("llr_nano") >= 2944438979, "accept_h1")
            .when(F.col("llr_nano") <= -2944438979, "accept_h0")
            .otherwise("continue"),
        )
        .orderBy("day")
    )


@register(
    "agg_welch_ttest",
    oracle="""
    WITH samples AS (
        SELECT CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
                    THEN 1 ELSE 2 END AS grp,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events
    ),
    moments AS (
        SELECT grp,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(cents) AS BIGINT) AS sx,
               sum(CAST(cents AS HUGEINT) * CAST(cents AS HUGEINT)) AS sxx
        FROM samples GROUP BY grp
    ),
    wide AS (
        SELECT
            max(CASE WHEN grp = 1 THEN n END) AS n1,
            max(CASE WHEN grp = 1 THEN sx END) AS sx1,
            max(CASE WHEN grp = 1 THEN CAST(sxx AS DOUBLE) END) AS sxx1,
            max(CASE WHEN grp = 2 THEN n END) AS n2,
            max(CASE WHEN grp = 2 THEN sx END) AS sx2,
            max(CASE WHEN grp = 2 THEN CAST(sxx AS DOUBLE) END) AS sxx2
        FROM moments
    )
    SELECT n1, n2,
           round(CAST(sx1 AS DOUBLE) / n1 / 100, 6) AS mean1,
           round(CAST(sx2 AS DOUBLE) / n2 / 100, 6) AS mean2,
           round((CAST(sx1 AS DOUBLE) / n1 - CAST(sx2 AS DOUBLE) / n2)
                 / sqrt((sxx1 - CAST(sx1 AS DOUBLE) * sx1 / n1)
                            / (CAST(n1 AS DOUBLE) - 1) / n1
                        + (sxx2 - CAST(sx2 AS DOUBLE) * sx2 / n2)
                            / (CAST(n2 AS DOUBLE) - 1) / n2), 6) AS t_stat,
           round(
             ((sxx1 - CAST(sx1 AS DOUBLE) * sx1 / n1)
                  / (CAST(n1 AS DOUBLE) - 1) / n1
              + (sxx2 - CAST(sx2 AS DOUBLE) * sx2 / n2)
                  / (CAST(n2 AS DOUBLE) - 1) / n2)
             * ((sxx1 - CAST(sx1 AS DOUBLE) * sx1 / n1)
                    / (CAST(n1 AS DOUBLE) - 1) / n1
                + (sxx2 - CAST(sx2 AS DOUBLE) * sx2 / n2)
                    / (CAST(n2 AS DOUBLE) - 1) / n2)
             / (((sxx1 - CAST(sx1 AS DOUBLE) * sx1 / n1)
                     / (CAST(n1 AS DOUBLE) - 1) / n1)
                * ((sxx1 - CAST(sx1 AS DOUBLE) * sx1 / n1)
                     / (CAST(n1 AS DOUBLE) - 1) / n1) / (n1 - 1)
                + ((sxx2 - CAST(sx2 AS DOUBLE) * sx2 / n2)
                     / (CAST(n2 AS DOUBLE) - 1) / n2)
                * ((sxx2 - CAST(sx2 AS DOUBLE) * sx2 / n2)
                     / (CAST(n2 AS DOUBLE) - 1) / n2) / (n2 - 1)), 6)
               AS welch_df
    FROM wide
    """,
)
def agg_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test between the month halves' value
    distributions — the parametric member of the repo's two-sample
    family (agg_ks_two_sample: shape; agg_mann_whitney_u: rank
    location; evt_sequential_sprt: sequential; this: means), with the
    Welch–Satterthwaite degrees of freedom.

    Exactness: both groups reduce to exact integer moments (Σx bigint,
    Σx² 128-bit — hugeint ↔ decimal(38,0)); t and df derive from those
    in IDENTICALLY-WRITTEN double expressions evaluated once on one
    output row, so there is no fold-order or boundary hazard to
    diverge.

    Scale design: ONE map-combined aggregate to 2 group rows; every
    float op happens post-reduction. The same moments feed a power
    analysis or a CUPED adjustment without another corpus pass.
    """
    ev = load(spark, sf_dir, "events").select("ts", "value")
    grp = F.when(
        F.col("ts") < F.lit("2024-01-16 00:00:00").cast("timestamp_ntz"), 1
    ).otherwise(2)
    cents = F.round(F.col("value") * 100).cast("bigint")
    moments = ev.select(grp.alias("grp"), cents.alias("cents")).groupBy(
        "grp"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("sx"),
        F.sum(
            F.col("cents").cast("decimal(38,0)")
            * F.col("cents").cast("decimal(38,0)")
        ).alias("sxx"),
    )
    wide = moments.agg(
        F.max(F.when(F.col("grp") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("grp") == 1, F.col("sx"))).alias("sx1"),
        F.max(
            F.when(F.col("grp") == 1, F.col("sxx").cast("double"))
        ).alias("sxx1"),
        F.max(F.when(F.col("grp") == 2, F.col("n"))).alias("n2"),
        F.max(F.when(F.col("grp") == 2, F.col("sx"))).alias("sx2"),
        F.max(
            F.when(F.col("grp") == 2, F.col("sxx").cast("double"))
        ).alias("sxx2"),
    )

    # try_divide throughout: a 1-row or zero-variance half zeroes n-1
    # and the pooled SEM — NULL t/df, matching DuckDB's x/0 → NULL (G18)
    def sem2(sxx, sx, n):
        return F.try_divide(
            F.try_divide(
                F.col(sxx) - F.col(sx).cast("double") * F.col(sx) / F.col(n),
                F.col(n).cast("double") - 1,
            ),
            F.col(n),
        )

    v1 = sem2("sxx1", "sx1", "n1")
    v2 = sem2("sxx2", "sx2", "n2")
    t = F.try_divide(
        F.col("sx1").cast("double") / F.col("n1")
        - F.col("sx2").cast("double") / F.col("n2"),
        F.sqrt(v1 + v2),
    )
    df = F.try_divide(
        (v1 + v2) * (v1 + v2),
        F.try_divide(v1 * v1, F.col("n1") - 1)
        + F.try_divide(v2 * v2, F.col("n2") - 1),
    )
    return wide.select(
        "n1",
        "n2",
        F.round(F.col("sx1").cast("double") / F.col("n1") / 100, 6).alias(
            "mean1"
        ),
        F.round(F.col("sx2").cast("double") / F.col("n2") / 100, 6).alias(
            "mean2"
        ),
        F.round(t, 6).alias("t_stat"),
        F.round(df, 6).alias("welch_df"),
    )


@register(
    "evt_cuped_variance_reduction",
    oracle="""
    WITH per_user AS (
        SELECT user_id,
               CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
                        THEN CAST(round(value * 100) AS BIGINT)
                        ELSE 0 END) AS BIGINT) AS x_cents,
               CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
                        THEN CAST(round(value * 100) AS BIGINT)
                        ELSE 0 END) AS BIGINT) AS y_cents
        FROM events GROUP BY user_id
    ),
    m AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x_cents) AS BIGINT) AS sx,
               CAST(sum(y_cents) AS BIGINT) AS sy,
               CAST(sum(CAST(x_cents AS HUGEINT) * CAST(y_cents AS HUGEINT))
                    AS DOUBLE) AS sxy,
               CAST(sum(CAST(x_cents AS HUGEINT) * CAST(x_cents AS HUGEINT))
                    AS DOUBLE) AS sxx,
               CAST(sum(CAST(y_cents AS HUGEINT) * CAST(y_cents AS HUGEINT))
                    AS DOUBLE) AS syy
        FROM per_user
    )
    SELECT n,
           round((sxy - CAST(sx AS DOUBLE) * sy / n)
                 / (sxx - CAST(sx AS DOUBLE) * sx / n), 6) AS theta,
           round((sxy - CAST(sx AS DOUBLE) * sy / n)
                 * (sxy - CAST(sx AS DOUBLE) * sy / n)
                 / ((sxx - CAST(sx AS DOUBLE) * sx / n)
                    * (syy - CAST(sy AS DOUBLE) * sy / n)), 6)
               AS var_reduction,
           CAST(round((sxy - CAST(sx AS DOUBLE) * sy / n)
                      * (sxy - CAST(sx AS DOUBLE) * sy / n)
                      / ((sxx - CAST(sx AS DOUBLE) * sx / n)
                         * (syy - CAST(sy AS DOUBLE) * sy / n))
                      * 1000000) AS BIGINT) AS var_reduction_ppm
    FROM m
    """,
)
def evt_cuped_variance_reduction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction for experimentation: regress each
    user's experiment-period metric (second month-half value) on their
    PRE-period covariate (first half), θ = cov(X,Y)/var(X); the
    variance removed by the adjustment is exactly the squared
    correlation — so the whole readout (θ and the achievable variance
    reduction, the number that says how much smaller your experiments
    can be) derives in CLOSED FORM from one set of moments, no second
    pass over adjusted rows. Completes the experimentation shelf:
    evt_experiment_ab_analysis (fixed-horizon z), agg_ab_srm_check,
    evt_sequential_sprt, agg_welch_ttest, agg_poisson_bootstrap_ci.

    Exactness: user-grain reduction in integer cents; the five moment
    sums are exact (Σ products in 128-bit); θ/ρ² are identically-
    written double expressions on ONE output row.

    Scale design: one user-keyed aggregate with map-side combine →
    one 1-row moment reduce. At 100 TB this is the cheapest
    experiment-power lever there is.
    """
    ev = load(spark, sf_dir, "events").select("ts", "user_id", "value")
    cut = F.lit("2024-01-16 00:00:00").cast("timestamp_ntz")
    cents = F.round(F.col("value") * 100).cast("bigint")
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("ts") < cut, cents).otherwise(0)).alias(
            "x_cents"
        ),
        F.sum(F.when(F.col("ts") >= cut, cents).otherwise(0)).alias(
            "y_cents"
        ),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    m = per_user.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x_cents").alias("sx"),
        F.sum("y_cents").alias("sy"),
        F.sum(dec("x_cents") * dec("y_cents")).cast("double").alias("sxy"),
        F.sum(dec("x_cents") * dec("x_cents")).cast("double").alias("sxx"),
        F.sum(dec("y_cents") * dec("y_cents")).cast("double").alias("syy"),
    )
    cov = F.col("sxy") - F.col("sx").cast("double") * F.col("sy") / F.col("n")
    varx = F.col("sxx") - F.col("sx").cast("double") * F.col("sx") / F.col("n")
    vary = F.col("syy") - F.col("sy").cast("double") * F.col("sy") / F.col("n")
    # try_divide: a single user (degenerate corpus) zeroes both
    # variances — NULL theta/rho², matching DuckDB's x/0 → NULL (G18)
    rho2 = F.try_divide(cov * cov, varx * vary)
    return m.select(
        "n",
        F.round(F.try_divide(cov, varx), 6).alias("theta"),
        F.round(rho2, 6).alias("var_reduction"),
        F.round(rho2 * 1000000).cast("bigint").alias("var_reduction_ppm"),
    )


@register(
    "agg_benjamini_hochberg_fdr",
    oracle="""
    WITH ab AS (
        SELECT event_type,
               CAST(count(*) FILTER (ts < TIMESTAMP '2024-01-16 00:00:00')
                    AS BIGINT) AS n1,
               CAST(count(*) FILTER (ts < TIMESTAMP '2024-01-16 00:00:00'
                                     AND value >= 50) AS BIGINT) AS k1,
               CAST(count(*) FILTER (ts >= TIMESTAMP '2024-01-16 00:00:00')
                    AS BIGINT) AS n2,
               CAST(count(*) FILTER (ts >= TIMESTAMP '2024-01-16 00:00:00'
                                     AND value >= 50) AS BIGINT) AS k2
        FROM events GROUP BY event_type
    ),
    z AS (
        -- n1=0 / n2=0 (type present in only one half): DuckDB's /
        -- yields NULL, matching Spark's try_divide — the test is
        -- undefined, the row ranks last (NULLS LAST, both engines)
        -- and is never rejected
        SELECT event_type, n1, k1, n2, k2,
               (CAST(k1 AS DOUBLE)/n1 - CAST(k2 AS DOUBLE)/n2)
               / sqrt((CAST(k1+k2 AS DOUBLE)/(n1+n2))
                      * (1 - CAST(k1+k2 AS DOUBLE)/(n1+n2))
                      * (1.0/n1 + 1.0/n2)) AS zval
        FROM ab
    ),
    p AS (SELECT *, exp(-zval*zval/2) AS p_bound FROM z),
    ranked AS (
        SELECT *,
               -- both sort keys state their null position (G13): the
               -- hostile NULL event_type group must tiebreak the same
               CAST(row_number() OVER (ORDER BY p_bound NULLS LAST,
                                       event_type NULLS LAST)
                    AS BIGINT) AS rnk,
               CAST(count(*) OVER () AS BIGINT) AS m
        FROM p
    ),
    stepped AS (
        SELECT *, max(CASE WHEN p_bound <= 0.05 * rnk / m
                           THEN rnk ELSE 0 END) OVER () AS kmax
        FROM ranked
    )
    SELECT event_type, n1, n2, round(zval, 6) AS z,
           round(p_bound, 8) AS p_bound, rnk,
           CASE WHEN rnk <= kmax THEN TRUE ELSE FALSE END AS rejected
    FROM stepped ORDER BY rnk
    """,
)
def agg_benjamini_hochberg_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini–Hochberg false-discovery-rate control across a family
    of drift tests — the guardrail that keeps a metrics platform from
    alerting on noise when it tests MANY metrics at once. Each
    event_type gets a two-proportion z-test (first vs second half-month
    high-value rate); per-test p-values are the subgaussian tail bound
    exp(-z²/2) (a true upper bound on the two-sided normal p, computable
    exactly in both engines — no erf needed, conservative so the FDR
    guarantee still holds); the BH step-up then finds the largest rank k
    with p_(k) ≤ q·k/m (q = 0.05) and rejects ranks ≤ k.

    Complements the per-test shelf (agg_welch_ttest single test;
    evt_sequential_sprt sequential; agg_ab_srm_check sanity): this is
    the MULTIPLICITY layer above them all.

    Scale design: one map-combined aggregate to |event_type| rows; the
    rank / step-up windows run over those METRIC-GRAIN rows (5 here,
    maybe thousands in production — never corpus-grain), so the
    single-partition window stage is bounded and constant-size.
    Determinism: rank ties break on event_type."""
    ev = load(spark, sf_dir, "events").select("ts", "event_type", "value")
    cut = F.lit("2024-01-16 00:00:00").cast("timestamp_ntz")
    first, hi = F.col("ts") < cut, F.col("value") >= 50
    ab = ev.groupBy("event_type").agg(
        F.count(F.when(first, 1)).alias("n1"),
        F.count(F.when(first & hi, 1)).alias("k1"),
        F.count(F.when(~first, 1)).alias("n2"),
        F.count(F.when(~first & hi, 1)).alias("k2"),
    )
    pool = (F.col("k1") + F.col("k2")).cast("double") / (
        F.col("n1") + F.col("n2")
    )
    # try_divide ≡ DuckDB's NULL-on-zero-division (G11): a type seen in
    # only one half has no defined z — NULL ranks last, never rejected
    z = F.try_divide(
        F.try_divide(F.col("k1").cast("double"), F.col("n1"))
        - F.try_divide(F.col("k2").cast("double"), F.col("n2")),
        F.sqrt(
            pool
            * (1 - pool)
            * (
                F.try_divide(F.lit(1.0), F.col("n1"))
                + F.try_divide(F.lit(1.0), F.col("n2"))
            )
        ),
    )
    p = ab.withColumn("zval", z).withColumn(
        "p_bound", F.exp(-F.col("zval") * F.col("zval") / 2)
    )
    # metric-grain windows: |event_type| rows, bounded
    ranked = p.withColumn(
        "rnk",
        F.row_number()
        .over(
            Window.orderBy(
                F.col("p_bound").asc_nulls_last(),
                F.col("event_type").asc_nulls_last(),
            )
        )
        .cast("bigint"),
    ).withColumn(
        "m", F.count(F.lit(1)).over(Window.partitionBy()).cast("bigint")
    )
    stepped = ranked.withColumn(
        "kmax",
        F.max(
            F.when(
                F.col("p_bound") <= 0.05 * F.col("rnk") / F.col("m"),
                F.col("rnk"),
            ).otherwise(0)
        ).over(Window.partitionBy()),
    )
    return stepped.select(
        "event_type",
        "n1",
        "n2",
        F.round("zval", 6).alias("z"),
        F.round("p_bound", 8).alias("p_bound"),
        "rnk",
        (F.col("rnk") <= F.col("kmax")).alias("rejected"),
    ).orderBy("rnk")


@register(
    "agg_ab_power_mde",
    oracle="""
    WITH base AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(count(*) FILTER (value >= 50) AS BIGINT) AS k_hi
        FROM events GROUP BY event_type
    )
    SELECT event_type, n_events,
           round(CAST(k_hi AS DOUBLE) / n_events, 6) AS base_rate,
           round((1.959964 + 0.841621)
                 * sqrt(2.0 * (CAST(k_hi AS DOUBLE) / n_events)
                        * (1 - CAST(k_hi AS DOUBLE) / n_events)
                        / (n_events / 2)), 6) AS mde_abs,
           round((1.959964 + 0.841621)
                 * sqrt(2.0 * (CAST(k_hi AS DOUBLE) / n_events)
                        * (1 - CAST(k_hi AS DOUBLE) / n_events)
                        / (n_events / 2))
                 / (CAST(k_hi AS DOUBLE) / n_events), 6) AS mde_rel
    FROM base ORDER BY event_type
    """,
)
def agg_ab_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment POWER planning readout: per event_type, the minimum
    detectable effect (MDE) a two-arm test could resolve at α=0.05
    (two-sided) / 80% power if the type's current traffic were split
    50/50 — MDE = (z_{0.975}+z_{0.80})·√(2p(1−p)/n_arm) with the
    observed high-value rate as baseline p. This is the question a
    growth team asks BEFORE launching: "is this surface big enough to
    measure a 1% lift?" — and the closed form needs only counts, so at
    100 TB it is one map-combined aggregate to |event_type| rows (the z
    constants are literals; no distribution functions needed).

    Pairs with evt_cuped_variance_reduction (how much the MDE shrinks
    with a covariate) and agg_welch_ttest (the test you run after);
    integer n_arm division (n/2) matches both engines' BIGINT/INT
    semantics via explicit DOUBLE promotion before the divide."""
    ev = load(spark, sf_dir, "events").select("event_type", "value")
    base = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count(F.when(F.col("value") >= 50, 1)).alias("k_hi"),
    )
    p = F.col("k_hi").cast("double") / F.col("n_events")
    mde = F.lit(1.959964 + 0.841621) * F.sqrt(
        2.0 * p * (1 - p) / (F.col("n_events") / 2)
    )
    # base rate 0 (no high-value events): relative MDE is undefined —
    # try_divide ≡ DuckDB's NULL-on-zero-division (G11)
    return base.select(
        "event_type",
        "n_events",
        F.round(p, 6).alias("base_rate"),
        F.round(mde, 6).alias("mde_abs"),
        F.round(F.try_divide(mde, p), 6).alias("mde_rel"),
    ).orderBy("event_type")


@register(
    "evt_theil_sen_trend",
    oracle="""
    WITH daily AS (
        SELECT event_type,
               CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
                    AS BIGINT) AS d,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM events GROUP BY 1, 2
    ),
    pairs AS (
        SELECT a.event_type, a.d AS d1, b.d AS d2,
               (CAST(b.cents AS DOUBLE) - a.cents) / (b.d - a.d) / 100
                   AS slope
        FROM daily a JOIN daily b
          ON a.event_type = b.event_type AND b.d > a.d
    ),
    ranked AS (
        SELECT event_type, slope,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY slope, d1, d2) AS rn,
               count(*) OVER (PARTITION BY event_type) AS c
        FROM pairs
    ),
    sen AS (
        SELECT event_type, CAST(c AS BIGINT) AS n_pairs,
               round(slope, 6) AS sen_slope
        FROM ranked WHERE rn = (c + 1) // 2
    ),
    ols AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_days,
               round((count(*) * sum(CAST(d AS DOUBLE) * cents)
                      - sum(CAST(d AS DOUBLE)) * sum(CAST(cents AS DOUBLE)))
                     / (count(*) * sum(CAST(d AS DOUBLE) * d)
                        - sum(CAST(d AS DOUBLE)) * sum(CAST(d AS DOUBLE)))
                     / 100, 6) AS ols_slope
        FROM daily GROUP BY event_type
    )
    SELECT s.event_type, o.n_days, s.n_pairs, s.sen_slope, o.ols_slope
    FROM sen s JOIN ols o USING (event_type)
    ORDER BY s.event_type
    """,
)
def evt_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen ROBUST trend per event_type — the median of all
    pairwise day-slopes of the daily-revenue series, reported beside the
    OLS slope (agg_regr_trend's estimator) so outlier days' leverage is
    visible: one anomalous day can swing OLS arbitrarily but moves the
    pairwise-slope median by at most one rank.

    Scale design: the corpus reduces FIRST to day-grain integer cents
    (one map-combined aggregate; ≤ |types|·|days| rows — bounded), and
    only that tiny series self-joins (30 rows/key → 435 pairs/key here;
    even a year is 66 k pairs/key). The pair join carries the event_type
    equi-key, so Catalyst runs a plain hash join — never a cartesian.
    Median selection: lower median by row_number over (slope, d1, d2) —
    fully deterministic under slope ties, identical in both engines
    ((c+1)//2 ≡ floor((c+1)/2)); no interpolation ambiguity.

    Exactness: slopes are doubles from exact integer cents with
    identically-written division; OLS from exact moments."""
    ev = load(spark, sf_dir, "events").select("event_type", "ts", "value")
    daily = ev.groupBy(
        "event_type",
        F.datediff(
            F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
        )
        .cast("bigint")
        .alias("d"),
    ).agg(F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("cents"))
    a, b = daily.alias("a"), daily.alias("b")
    pairs = a.join(
        b,
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("b.d") > F.col("a.d")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        F.col("a.d").alias("d1"),
        F.col("b.d").alias("d2"),
        (
            (F.col("b.cents").cast("double") - F.col("a.cents"))
            / (F.col("b.d") - F.col("a.d"))
            / 100
        ).alias("slope"),
    )
    wp = Window.partitionBy("event_type")
    ranked = pairs.withColumn(
        "rn", F.row_number().over(wp.orderBy("slope", "d1", "d2"))
    ).withColumn("c", F.count(F.lit(1)).over(wp))
    sen = ranked.where(F.col("rn") == F.floor((F.col("c") + 1) / 2)).select(
        "event_type",
        F.col("c").cast("bigint").alias("n_pairs"),
        F.round("slope", 6).alias("sen_slope"),
    )
    # single-day types (one hostile far-future event) have a zero OLS
    # denominator: try_divide ≡ DuckDB's NULL-on-zero-division (G11);
    # such types also have zero pairs, so the sen inner join drops them
    # identically on both engines
    ols = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.round(
            F.try_divide(
                F.count(F.lit(1))
                * F.sum(F.col("d").cast("double") * F.col("cents"))
                - F.sum(F.col("d").cast("double"))
                * F.sum(F.col("cents").cast("double")),
                F.count(F.lit(1))
                * F.sum(F.col("d").cast("double") * F.col("d"))
                - F.sum(F.col("d").cast("double"))
                * F.sum(F.col("d").cast("double")),
            )
            / 100,
            6,
        ).alias("ols_slope"),
    )
    return (
        sen.join(ols, "event_type")
        .select("event_type", "n_days", "n_pairs", "sen_slope", "ols_slope")
        .orderBy("event_type")
    )


@register(
    "evt_shapley_attribution",
    oracle="""
    WITH per_user AS (
        SELECT user_id,
               coalesce(string_agg(DISTINCT
                          CASE WHEN event_type <> 'purchase'
                               THEN event_type END, ','
                          ORDER BY CASE WHEN event_type <> 'purchase'
                                   THEN event_type END), '') AS touchset,
               max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS conv
        FROM events WHERE CAST(ts AS DATE) = DATE '2024-01-05'
        GROUP BY user_id
    ),
    coalitions AS (
        SELECT touchset,
               CAST(sum(conv) AS DOUBLE) / count(*) AS rate
        FROM per_user GROUP BY touchset
    ),
    lattice AS (
        SELECT m.mask,
               concat_ws(',',
                 CASE WHEN m.mask & 1 = 1 THEN 'click'  END,
                 CASE WHEN m.mask & 2 = 2 THEN 'error'  END,
                 CASE WHEN m.mask & 4 = 4 THEN 'signup' END,
                 CASE WHEN m.mask & 8 = 8 THEN 'view'   END) AS key,
               CAST((m.mask & 1) + (m.mask >> 1 & 1) + (m.mask >> 2 & 1)
                    + (m.mask >> 3 & 1) AS INT) AS sz
        FROM (SELECT unnest(range(16)) AS mask) m
    ),
    valued AS (
        SELECT l.mask, l.sz, coalesce(c.rate, 0.0) AS v
        FROM lattice l LEFT JOIN coalitions c ON c.touchset = l.key
    ),
    chan AS (
        SELECT * FROM (VALUES ('click', 1), ('error', 2),
                              ('signup', 4), ('view', 8)) AS t(channel, bit)
    ),
    terms AS (
        SELECT ch.channel,
               (CASE s.sz WHEN 0 THEN 0.25 WHEN 1 THEN 2.0/24
                          WHEN 2 THEN 2.0/24 ELSE 0.25 END)
               * (t.v - s.v) AS term
        FROM chan ch
        JOIN valued s ON s.mask & ch.bit = 0
        JOIN valued t ON t.mask = s.mask | ch.bit
    )
    SELECT channel, round(sum(term), 6) AS shapley
    FROM terms GROUP BY channel ORDER BY channel
    """,
)
def evt_shapley_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shapley-value channel attribution — the game-theoretic member of
    the attribution shelf (evt_linear_attribution: position-agnostic
    split; evt_markov_removal_attribution: removal effects; this: the
    unique credit assignment satisfying efficiency/symmetry/dummy).
    Coalition worth v(S) = observed conversion rate of users whose
    exact non-purchase touchset (one day's traffic) is S; channel i's
    Shapley value is Σ_{S∌i} |S|!(n−|S|−1)!/n! · (v(S∪i) − v(S)).

    Scale design: the corpus collapses in ONE user-keyed aggregate to
    ≤2^n coalition rows (n = 4 channels → 16; even 10 channels is 1 k
    rows), and ALL Shapley arithmetic happens on that broadcast-sized
    lattice — the factorial weights are closed-form literals per |S|,
    the (channel × subset) term join is 4×8 rows. Unobserved coalitions
    default v=0 (documented convention); v(∅) stays at the untouched-
    user baseline so credit is incremental over it. By efficiency,
    Σ shapley = v(full) − v(∅) — asserted in the property suite.

    Cross-engine: touchset keys build identically (alphabetical channel
    order both in the per-user string_agg and the lattice bitmask);
    weights are identical rational literals; one final 4-row sum."""
    ev = load(spark, sf_dir, "events").where(
        F.col("ts").cast("date") == F.lit("2024-01-05").cast("date")
    )
    per_user = ev.groupBy("user_id").agg(
        F.coalesce(
            F.array_join(
                F.array_sort(
                    F.collect_set(
                        F.when(
                            F.col("event_type") != "purchase",
                            F.col("event_type"),
                        )
                    )
                ),
                ",",
            ),
            F.lit(""),
        ).alias("touchset"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("conv"),
    )
    coal = per_user.groupBy("touchset").agg(
        (F.sum("conv").cast("double") / F.count(F.lit(1))).alias("rate")
    )
    lat = spark.range(16).select(
        F.col("id").cast("int").alias("mask"),
        F.concat_ws(
            ",",
            F.when(F.col("id").bitwiseAND(1) == 1, "click"),
            F.when(F.col("id").bitwiseAND(2) == 2, "error"),
            F.when(F.col("id").bitwiseAND(4) == 4, "signup"),
            F.when(F.col("id").bitwiseAND(8) == 8, "view"),
        ).alias("key"),
        (
            F.col("id").bitwiseAND(1)
            + F.shiftright("id", 1).bitwiseAND(1)
            + F.shiftright("id", 2).bitwiseAND(1)
            + F.shiftright("id", 3).bitwiseAND(1)
        )
        .cast("int")
        .alias("sz"),
    )
    valued = lat.join(
        F.broadcast(coal), lat.key == coal.touchset, "left"
    ).select("mask", "sz", F.coalesce("rate", F.lit(0.0)).alias("v"))
    chan = spark.createDataFrame(
        [("click", 1), ("error", 2), ("signup", 4), ("view", 8)],
        ["channel", "bit"],
    )
    s, t = valued.alias("s"), valued.alias("t")
    weight = (
        F.when(F.col("s.sz") == 0, 0.25)
        .when(F.col("s.sz") == 1, 2.0 / 24)
        .when(F.col("s.sz") == 2, 2.0 / 24)
        .otherwise(0.25)
    )
    terms = (
        chan.join(s, F.col("s.mask").bitwiseAND(F.col("bit")) == 0)
        .join(t, F.col("t.mask") == F.col("s.mask").bitwiseOR(F.col("bit")))
        .select(
            "channel", (weight * (F.col("t.v") - F.col("s.v"))).alias("term")
        )
    )
    return (
        terms.groupBy("channel")
        .agg(F.round(F.sum("term"), 6).alias("shapley"))
        .orderBy("channel")
    )


@register(
    "agg_beta_binomial_smoothing",
    oracle="""
    WITH per_supp AS (
        SELECT l_suppkey,
               CAST(count(*) AS BIGINT) AS n_lines,
               CAST(count(*) FILTER (l_returnflag = 'R') AS BIGINT)
                   AS n_returned
        FROM lineitem GROUP BY l_suppkey
    ),
    g AS (
        SELECT CAST(sum(n_returned) AS DOUBLE) / sum(n_lines) AS p_bar
        FROM per_supp
    )
    SELECT l_suppkey, n_lines, n_returned,
           round(CAST(n_returned AS DOUBLE) / n_lines, 6) AS raw_rate,
           round((n_returned + 50 * p_bar) / (n_lines + 50), 6)
               AS smoothed_rate
    FROM per_supp, g
    ORDER BY (n_returned + 50 * p_bar) / (n_lines + 50) DESC, l_suppkey
    LIMIT 10
    """,
)
def agg_beta_binomial_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes beta-binomial smoothing — "rank by average done
    right": supplier return-rate ranking where each rate is shrunk
    toward the GLOBAL rate with prior strength τ=50 pseudo-lines
    (posterior mean (k + τ·p̄)/(n + τ)), so a supplier with 3 returns
    out of 5 lines can't outrank one with 200/600. The Bayesian
    counterpart of agg_wilson_interval's frequentist lower bound; the
    two orderings agree asymptotically but differ exactly where small-n
    flukes live.

    Scale design: one supplier-keyed map-combined aggregate; the global
    prior is a 1-row second reduce broadcast back (crossJoin of a
    1-row frame — literally the agg_fk_integrity_audit pattern); top-10
    is TakeOrderedAndProject (per-partition heaps, no global sort).
    Tiebreak on l_suppkey keeps the limit deterministic."""
    li = load(spark, sf_dir, "lineitem").select("l_suppkey", "l_returnflag")
    per_supp = li.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.count(F.when(F.col("l_returnflag") == "R", 1)).alias("n_returned"),
    )
    prior = per_supp.agg(
        (F.sum("n_returned").cast("double") / F.sum("n_lines")).alias("p_bar")
    )
    smoothed = (F.col("n_returned") + 50 * F.col("p_bar")) / (
        F.col("n_lines") + 50
    )
    return (
        per_supp.crossJoin(F.broadcast(prior))
        .select(
            "l_suppkey",
            "n_lines",
            "n_returned",
            F.round(
                F.col("n_returned").cast("double") / F.col("n_lines"), 6
            ).alias("raw_rate"),
            F.round(smoothed, 6).alias("smoothed_rate"),
            smoothed.alias("_s"),
        )
        .orderBy(F.desc("_s"), "l_suppkey")
        .limit(10)
        .drop("_s")
    )


@register(
    "evt_fourier_daily_harmonics",
    oracle="""
    WITH hourly AS (
        SELECT event_type, CAST(hour(ts) AS BIGINT) AS h,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    ),
    tot AS (
        SELECT event_type, sum(n) AS total FROM hourly GROUP BY event_type
    ),
    coef AS (
        SELECT h.event_type,
               sum((CAST(h.n AS DOUBLE) / t.total)
                   * cos(2 * pi() * 1 * h.h / 24)) AS a1,
               sum((CAST(h.n AS DOUBLE) / t.total)
                   * sin(2 * pi() * 1 * h.h / 24)) AS b1,
               sum((CAST(h.n AS DOUBLE) / t.total)
                   * cos(2 * pi() * 2 * h.h / 24)) AS a2,
               sum((CAST(h.n AS DOUBLE) / t.total)
                   * sin(2 * pi() * 2 * h.h / 24)) AS b2
        FROM hourly h JOIN tot t USING (event_type)
        GROUP BY h.event_type
    )
    SELECT event_type,
           round(2 * sqrt(a1*a1 + b1*b1), 6) AS amp1,
           round(atan2(b1, a1), 6) AS phase1,
           round(2 * sqrt(a2*a2 + b2*b2), 6) AS amp2,
           round(atan2(b2, a2), 6) AS phase2
    FROM coef ORDER BY event_type
    """,
)
def evt_fourier_daily_harmonics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compact spectral fingerprint of each event type's daily rhythm:
    the first two Fourier harmonics (amplitude + phase) of the
    hour-of-day traffic share, i.e. the closed-form DFT coefficients
    a_k = Σ_h share_h·cos(2πkh/24), b_k = Σ_h share_h·sin(·). Harmonic 1
    captures the single daily peak, harmonic 2 a bimodal
    (morning+evening) shape — four numbers that summarize what
    evt_dow_hour_heatmap needs 168 cells to show, and the right
    features to feed seasonality-aware forecasting or bot detection
    (evt_bot_regularity_detection flags the DEGENERATE spectrum case).

    Scale design: corpus → 24·|types| hourly rows in one map-combined
    aggregate; the trig arithmetic runs on those bounded rows. Fixed
    angles mean cos/sin fold to the same doubles in both engines;
    amplitude/phase via identically-written sqrt/atan2."""
    import math

    ev = load(spark, sf_dir, "events").select("event_type", "ts")
    hourly = ev.groupBy(
        "event_type", F.hour("ts").cast("bigint").alias("h")
    ).agg(F.count(F.lit(1)).alias("n"))
    tot = hourly.groupBy("event_type").agg(F.sum("n").alias("total"))
    share = F.col("n").cast("double") / F.col("total")

    def harm(k):
        ang = 2 * math.pi * k * F.col("h") / 24
        return (
            F.sum(share * F.cos(ang)).alias(f"a{k}"),
            F.sum(share * F.sin(ang)).alias(f"b{k}"),
        )

    coef = (
        hourly.join(tot, "event_type")
        .groupBy("event_type")
        .agg(*harm(1), *harm(2))
    )
    return coef.select(
        "event_type",
        F.round(2 * F.sqrt(F.col("a1") ** 2 + F.col("b1") ** 2), 6).alias(
            "amp1"
        ),
        F.round(F.atan2("b1", "a1"), 6).alias("phase1"),
        F.round(2 * F.sqrt(F.col("a2") ** 2 + F.col("b2") ** 2), 6).alias(
            "amp2"
        ),
        F.round(F.atan2("b2", "a2"), 6).alias("phase2"),
    ).orderBy("event_type")


@register(
    "evt_pit_training_features",
    oracle="""
    WITH ev AS (
        SELECT user_id, event_type, value,
               CAST(epoch_us(ts) AS BIGINT) AS us, event_id
        FROM events
    ),
    feat AS (
        SELECT *,
               CAST(count(*) FILTER (event_type = 'view') OVER w7
                    AS BIGINT) AS views_7d,
               CAST(count(*) FILTER (event_type = 'click') OVER w7
                    AS BIGINT) AS clicks_7d,
               round(coalesce(sum(CASE WHEN event_type = 'purchase'
                                  THEN value END) OVER w7, 0), 2)
                   AS purchase_value_7d
        FROM ev
        WINDOW w7 AS (PARTITION BY user_id ORDER BY us
                      RANGE BETWEEN 604800000000 PRECEDING
                            AND 1 PRECEDING)
    )
    SELECT event_id, user_id, views_7d, clicks_7d, purchase_value_7d,
           round(value, 2) AS label_value
    FROM feat WHERE event_type = 'purchase'
    """,
)
def evt_pit_training_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (leakage-safe) training-set assembly — the feature-
    store primitive behind every production ML table: for each label
    event (a purchase), the user's trailing-7-day behavioural features
    computed from STRICTLY-PRIOR events only. The microsecond range
    frame [−7d, −1µs] is the leakage guard: a feature window that
    includes the label instant (the classic `RANGE ... AND CURRENT ROW`
    mistake) silently trains on the answer and no unit test on row
    counts would notice — here the oracle's hash would.

    Scale design: ONE user-keyed shuffle computes every feature via
    range-frame windows over epoch-microsecond longs (Spark executes
    all three frames in a single WindowExec pass, sorted once per user
    partition) — versus the naive per-label self-join which is
    O(labels × history) and re-shuffles per feature. User partitions
    are time-sorted within; no global sort anywhere.

    Cross-engine: identical integer frame bounds (604800000000 µs);
    count features are exact; the one float feature sums the SAME
    bounded window both sides and rounds at 2dp."""
    ev = load(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    w7 = (
        Window.partitionBy("user_id")
        .orderBy("us")
        .rangeBetween(-604800000000, -1)
    )
    feat = (
        ev.withColumn(
            "views_7d",
            F.count(F.when(F.col("event_type") == "view", 1)).over(w7),
        )
        .withColumn(
            "clicks_7d",
            F.count(F.when(F.col("event_type") == "click", 1)).over(w7),
        )
        .withColumn(
            "purchase_value_7d",
            F.round(
                F.coalesce(
                    F.sum(
                        F.when(
                            F.col("event_type") == "purchase", F.col("value")
                        )
                    ).over(w7),
                    F.lit(0.0),
                ),
                2,
            ),
        )
    )
    return feat.where(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        "views_7d",
        "clicks_7d",
        "purchase_value_7d",
        F.round("value", 2).alias("label_value"),
    )


@register(
    "evt_holt_linear_forecast",
    oracle="""
WITH RECURSIVE seq AS (
    SELECT event_type,
           CAST(row_number() OVER (PARTITION BY event_type
                                   ORDER BY d) AS INT) AS i,
           y
    FROM (
        SELECT event_type,
               CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
                    AS INT) AS d,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE)
                   / 100 AS y
        FROM events GROUP BY 1, 2
    )
),
n AS (SELECT event_type, max(i) AS imax FROM seq GROUP BY event_type),
state AS (
    SELECT s1.event_type, 2 AS i,
           CAST(s2.y AS DOUBLE) AS level,
           CAST(s2.y - s1.y AS DOUBLE) AS trend,
           CAST(0 AS DOUBLE) AS sse
    FROM seq s1 JOIN seq s2
      ON s1.event_type = s2.event_type AND s1.i = 1 AND s2.i = 2
    UNION ALL
    SELECT st.event_type, st.i + 1,
           0.5 * sy.y + 0.5 * (st.level + st.trend),
           0.3 * (0.5 * sy.y + 0.5 * (st.level + st.trend) - st.level)
             + 0.7 * st.trend,
           st.sse + (sy.y - (st.level + st.trend))
                  * (sy.y - (st.level + st.trend))
    FROM state st
    JOIN seq sy ON sy.event_type = st.event_type AND sy.i = st.i + 1
)
SELECT st.event_type,
       round(st.level, 6) AS level,
       round(st.trend, 6) AS trend,
       round(st.level + st.trend, 6) AS forecast_next,
       round(st.sse, 6) AS sse
FROM state st JOIN n ON n.event_type = st.event_type AND st.i = n.imax
ORDER BY st.event_type
    """,
)
def evt_holt_linear_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear (double-exponential) smoothing per event type —
    the stateful forecaster between evt_decay_weighted_value (level
    only) and evt_seasonal_decompose (level+season): level and trend
    updated recursively over the daily-revenue series (α=0.5, β=0.3),
    emitting the final state, the 1-step-ahead forecast, and in-sample
    SSE. Initialization l₁=y₂, t₁=y₂−y₁ (textbook), fold from the 3rd
    point; the day index is ROW-position based so a missing day
    truncates neither engine's recursion.

    Spark-first design: the recursion that looks "inherently
    sequential" is a scan-stage HIGHER-ORDER FOLD — the corpus reduces
    to |types| day-series rows (map-combined aggregate + array_sort
    (collect_list)), then F.aggregate folds the ≤31-element array with
    a (level, trend, sse) struct accumulator in ONE whole-stage-codegen
    expression; no driver loop, no UDF, no per-step shuffle. At 100 TB
    the fold input is still |types|×|days| scalars. The DuckDB oracle
    mirrors the identical arithmetic as a recursive CTE — the SSE
    (28 chained float ops deep) matching at 6dp certifies fold-order
    equality, not just the final level.
    """
    ev = load(spark, sf_dir, "events").select("event_type", "ts", "value")
    daily = ev.groupBy(
        "event_type",
        F.datediff(
            F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
        )
        .cast("int")
        .alias("d"),
    ).agg(
        (
            F.sum(F.round(F.col("value") * 100).cast("bigint")).cast(
                "double"
            )
            / 100
        ).alias("y")
    )
    series = daily.groupBy("event_type").agg(
        F.array_sort(F.collect_list(F.struct("d", "y"))).alias("pts")
    )
    # Holt needs two points to initialize (l₁=y₂, t₁=y₂−y₁): a
    # single-day type has no state — the oracle's i=2 join drops it
    # silently, while Spark's slice(…, size-2) would take length -1
    # and element_at(…, 2) would index out of bounds (G10/G11); the
    # explicit filter states the shared semantic
    series = series.where(F.size(F.col("pts")) >= 2)
    ys = F.transform(F.col("pts"), lambda p: p.y)
    init = F.struct(
        F.element_at(ys, 2).alias("level"),
        (F.element_at(ys, 2) - F.element_at(ys, 1)).alias("trend"),
        F.lit(0.0).alias("sse"),
    )
    fold = F.aggregate(
        F.slice(ys, 3, F.size(ys) - 2),
        init,
        lambda acc, y: F.struct(
            (0.5 * y + 0.5 * (acc.level + acc.trend)).alias("level"),
            (
                0.3 * (0.5 * y + 0.5 * (acc.level + acc.trend) - acc.level)
                + 0.7 * acc.trend
            ).alias("trend"),
            (
                acc.sse
                + (y - (acc.level + acc.trend)) * (y - (acc.level + acc.trend))
            ).alias("sse"),
        ),
    )
    return (
        series.select("event_type", fold.alias("s"))
        .select(
            "event_type",
            F.round(F.col("s.level"), 6).alias("level"),
            F.round(F.col("s.trend"), 6).alias("trend"),
            F.round(F.col("s.level") + F.col("s.trend"), 6).alias(
                "forecast_next"
            ),
            F.round(F.col("s.sse"), 6).alias("sse"),
        )
        .orderBy("event_type")
    )


@register(
    "graph_cosupply_projection",
    oracle="""
    WITH bip AS (
        SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem
    ),
    deg AS (
        SELECT s, CAST(count(*) AS BIGINT) AS degree FROM bip GROUP BY s
    ),
    pairs AS (
        SELECT a.s AS s1, b.s AS s2,
               CAST(count(*) AS BIGINT) AS shared_parts
        FROM bip a JOIN bip b ON a.p = b.p AND a.s < b.s
        GROUP BY a.s, b.s
    )
    SELECT p.s1, p.s2, p.shared_parts,
           d1.degree AS deg1, d2.degree AS deg2,
           round(CAST(p.shared_parts AS DOUBLE)
                 / (d1.degree + d2.degree - p.shared_parts), 6) AS jaccard
    FROM pairs p
    JOIN deg d1 ON d1.s = p.s1
    JOIN deg d2 ON d2.s = p.s2
    ORDER BY p.shared_parts DESC, p.s1, p.s2
    LIMIT 20
    """,
)
def graph_cosupply_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted one-mode projection of the supplier–part bipartite
    graph: the 20 strongest supplier pairs by SHARED distinct parts,
    with neighbourhood-Jaccard overlap — the co-occurrence projection
    behind "suppliers like this one" / substitution-risk analysis, and
    the third member of the graph shelf (graph_triangle_census:
    closure; graph_pagerank_brands: centrality; this: projection).

    Scale design: the pair space is generated by the PART equi-key —
    only suppliers of the SAME part ever meet (hash join on p), so
    cost is Σ_p fanout(p)², the classic bounded-hub projection, never
    |S|². At 100 TB the guard is capping hub fanout (drop or sample
    parts with fanout > ~10³ — exactly the prefix-filter trick
    llm_dedup_ngram_jaccard documents); here max fanout is bounded by
    the fixture's supplier count. Dedup-first (DISTINCT before the
    join) keeps multiplicities out of both the pair counts and the
    degrees; top-20 is TakeOrderedAndProject with full (s1, s2)
    tiebreak."""
    li = load(spark, sf_dir, "lineitem").select(
        F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("p")
    )
    # r12 pinned bip/deg against re-planned references; r13 REMOVED the
    # pins after measuring them (VERDICT item 7 "numbers, not
    # arguments"): pinning bip breaks Catalyst's ReusedExchange between
    # the self-join's two sides and adds pair-grain block
    # materialization — quiet-box A/B at sf0.1 read pin 2.63-2.78 s vs
    # recompute 1.69-1.92 s, stable across reps. Declarative re-use
    # (one distinct exchange feeding both join sides) is both faster
    # here and free of the corpus-grain §5 pin liability at scale.
    bip = li.distinct()
    deg = bip.groupBy("s").agg(F.count(F.lit(1)).alias("degree"))
    a, b = bip.alias("a"), bip.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.p") == F.col("b.p")) & (F.col("a.s") < F.col("b.s")),
        )
        .groupBy(F.col("a.s").alias("s1"), F.col("b.s").alias("s2"))
        .agg(F.count(F.lit(1)).alias("shared_parts"))
    )
    d1 = deg.select(F.col("s").alias("s1"), F.col("degree").alias("deg1"))
    d2 = deg.select(F.col("s").alias("s2"), F.col("degree").alias("deg2"))
    return (
        pairs.join(d1, "s1")
        .join(d2, "s2")
        .select(
            "s1",
            "s2",
            "shared_parts",
            "deg1",
            "deg2",
            F.round(
                F.col("shared_parts").cast("double")
                / (F.col("deg1") + F.col("deg2") - F.col("shared_parts")),
                6,
            ).alias("jaccard"),
        )
        .orderBy(F.desc("shared_parts"), "s1", "s2")
        .limit(20)
    )


@register(
    "dedup_er_blocked_pairs",
    oracle="""
    WITH blocked AS (
        SELECT c_custkey, c_name, c_nationkey, c_mktsegment, c_acctbal,
               c_nationkey || '|' || c_mktsegment || '|'
                 || substr(c_name, 10, 6) AS blk
        FROM customer
    )
    SELECT a.c_custkey AS key_a, b.c_custkey AS key_b,
           a.c_name AS name_a, b.c_name AS name_b,
           CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS edit_dist,
           round(abs(a.c_acctbal - b.c_acctbal), 2) AS bal_diff
    FROM blocked a JOIN blocked b
      ON a.blk = b.blk AND a.c_custkey < b.c_custkey
    WHERE levenshtein(a.c_name, b.c_name) <= 2
    """,
)
def dedup_er_blocked_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution candidate generation at FACT-table scale — the
    blocked pipeline fn_levenshtein_fuzzy_match's docstring promises:
    customers are first hashed into blocks by (nation, segment,
    name-prefix), pairs form ONLY within a block (equi-join on the
    block key — a plain scalable hash join), and the expensive edit
    distance runs on block-local candidates alone. Pairs within
    Levenshtein ≤ 2 plus the account-balance delta come back as the
    match-scoring input (the Fellegi–Sunter comparison vector).

    Scale maths: |customer|² is never formed; cost is Σ_b |block_b|² —
    with the 6-digit prefix in the key, blocks stay O(10) even at
    customer cardinalities where a segment-only block would explode.
    That multi-field key is also the production knob: widen the prefix
    to tighten blocks (higher precision, cheaper) or run a SECOND pass
    with a different key and union candidates (higher recall) — the
    standard multi-pass blocking scheme, same plan shape each pass.

    Cross-engine: both engines implement classic Levenshtein (exact
    ints); the block key concatenates identically; id-ordered pair
    canonicalization (a < b) prevents mirror duplicates."""
    c = load(spark, sf_dir, "customer")
    blocked = c.withColumn(
        "blk",
        F.concat_ws(
            "|",
            "c_nationkey",
            "c_mktsegment",
            F.substring("c_name", 10, 6),
        ),
    )
    a, b = blocked.alias("a"), blocked.alias("b")
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.c_custkey") < F.col("b.c_custkey")),
        )
        .select(
            F.col("a.c_custkey").alias("key_a"),
            F.col("b.c_custkey").alias("key_b"),
            F.col("a.c_name").alias("name_a"),
            F.col("b.c_name").alias("name_b"),
            F.levenshtein(F.col("a.c_name"), F.col("b.c_name")).alias(
                "edit_dist"
            ),
            F.round(
                F.abs(F.col("a.c_acctbal") - F.col("b.c_acctbal")), 2
            ).alias("bal_diff"),
        )
        .where(F.col("edit_dist") <= 2)
    )


@register(
    "evt_diff_in_diff",
    oracle="""
    WITH per_user AS (
        SELECT user_id,
               CASE WHEN count(*) FILTER (event_type = 'click'
                        AND ts < TIMESTAMP '2024-01-16 00:00:00') >= 7
                    THEN 1 ELSE 0 END AS treated,
               CAST(sum(CASE WHEN event_type = 'purchase'
                             AND ts < TIMESTAMP '2024-01-16 00:00:00'
                        THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
                    AS BIGINT) AS pre_cents,
               CAST(sum(CASE WHEN event_type = 'purchase'
                             AND ts >= TIMESTAMP '2024-01-16 00:00:00'
                        THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
                    AS BIGINT) AS post_cents
        FROM events GROUP BY user_id
    ),
    m AS (
        SELECT treated,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(pre_cents) AS BIGINT) AS s_pre,
               CAST(sum(post_cents) AS BIGINT) AS s_post,
               CAST(sum(CAST(pre_cents AS HUGEINT) * pre_cents)
                    AS DOUBLE) AS ss_pre,
               CAST(sum(CAST(post_cents AS HUGEINT) * post_cents)
                    AS DOUBLE) AS ss_post
        FROM per_user GROUP BY treated
    ),
    wide AS (
        SELECT
          max(CASE WHEN treated = 1 THEN n END) AS nt,
          max(CASE WHEN treated = 1 THEN s_pre END) AS t_pre,
          max(CASE WHEN treated = 1 THEN s_post END) AS t_post,
          max(CASE WHEN treated = 1 THEN ss_pre END) AS t_ss_pre,
          max(CASE WHEN treated = 1 THEN ss_post END) AS t_ss_post,
          max(CASE WHEN treated = 0 THEN n END) AS nc,
          max(CASE WHEN treated = 0 THEN s_pre END) AS c_pre,
          max(CASE WHEN treated = 0 THEN s_post END) AS c_post,
          max(CASE WHEN treated = 0 THEN ss_pre END) AS c_ss_pre,
          max(CASE WHEN treated = 0 THEN ss_post END) AS c_ss_post
        FROM m
    )
    SELECT nt, nc,
      round((CAST(t_post AS DOUBLE)/nt - CAST(t_pre AS DOUBLE)/nt)/100, 6)
          AS treated_delta,
      round((CAST(c_post AS DOUBLE)/nc - CAST(c_pre AS DOUBLE)/nc)/100, 6)
          AS control_delta,
      round(((CAST(t_post AS DOUBLE)/nt - CAST(t_pre AS DOUBLE)/nt)
             - (CAST(c_post AS DOUBLE)/nc - CAST(c_pre AS DOUBLE)/nc))
            /100, 6) AS did,
      round(sqrt(
          ((t_ss_pre - CAST(t_pre AS DOUBLE)*t_pre/nt)
               /(CAST(nt AS DOUBLE)-1)
           + (t_ss_post - CAST(t_post AS DOUBLE)*t_post/nt)
               /(CAST(nt AS DOUBLE)-1))/nt
        + ((c_ss_pre - CAST(c_pre AS DOUBLE)*c_pre/nc)
               /(CAST(nc AS DOUBLE)-1)
           + (c_ss_post - CAST(c_post AS DOUBLE)*c_post/nc)
               /(CAST(nc AS DOUBLE)-1))/nc
      )/100, 6) AS did_se
    FROM wide
    """,
)
def evt_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences — the quasi-experimental estimator for
    when you CAN'T randomize (feature shipped to an organically-formed
    group): heavy first-half clickers (≥7 clicks) vs the rest, per-user
    purchase spend pre/post the month midpoint; the causal readout is
    (ΔT − ΔC) with its independent-samples standard error from the four
    cell variances. Closes the experimentation shelf's observational
    flank next to evt_cuped_variance_reduction (randomized + covariate)
    and agg_welch_ttest (randomized, means).

    Exactness: user-grain reduction in integer cents; per-cell moments
    exact (Σx bigint, Σx² 128-bit); estimate and SE are identically-
    written double expressions on ONE output row.

    Scale design: one user-keyed map-combined aggregate → 2 group-
    moment rows → 1-row wide reduce. The whole causal analysis costs
    one shuffle of user-grain partials at any corpus size."""
    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "value"
    )
    cut = F.lit("2024-01-16 00:00:00").cast("timestamp_ntz")
    cents = F.round(F.col("value") * 100).cast("bigint")
    per_user = ev.groupBy("user_id").agg(
        F.when(
            F.count(
                F.when(
                    (F.col("event_type") == "click") & (F.col("ts") < cut), 1
                )
            )
            >= 7,
            1,
        )
        .otherwise(0)
        .alias("treated"),
        F.sum(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("ts") < cut),
                cents,
            ).otherwise(0)
        ).alias("pre_cents"),
        F.sum(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("ts") >= cut),
                cents,
            ).otherwise(0)
        ).alias("post_cents"),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    m = per_user.groupBy("treated").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("pre_cents").alias("s_pre"),
        F.sum("post_cents").alias("s_post"),
        F.sum(dec("pre_cents") * dec("pre_cents"))
        .cast("double")
        .alias("ss_pre"),
        F.sum(dec("post_cents") * dec("post_cents"))
        .cast("double")
        .alias("ss_post"),
    )

    def pick(t, c):
        return F.max(F.when(F.col("treated") == t, F.col(c)))

    wide = m.agg(
        pick(1, "n").alias("nt"),
        pick(1, "s_pre").alias("t_pre"),
        pick(1, "s_post").alias("t_post"),
        pick(1, "ss_pre").alias("t_ss_pre"),
        pick(1, "ss_post").alias("t_ss_post"),
        pick(0, "n").alias("nc"),
        pick(0, "s_pre").alias("c_pre"),
        pick(0, "s_post").alias("c_post"),
        pick(0, "ss_pre").alias("c_ss_pre"),
        pick(0, "ss_post").alias("c_ss_post"),
    )
    td = F.col("t_post").cast("double") / F.col("nt") - F.col(
        "t_pre"
    ).cast("double") / F.col("nt")
    cd = F.col("c_post").cast("double") / F.col("nc") - F.col(
        "c_pre"
    ).cast("double") / F.col("nc")

    def var(ss, s, n):
        return (
            F.col(ss) - F.col(s).cast("double") * F.col(s) / F.col(n)
        ) / (F.col(n).cast("double") - 1)

    se = F.sqrt(
        (var("t_ss_pre", "t_pre", "nt") + var("t_ss_post", "t_post", "nt"))
        / F.col("nt")
        + (var("c_ss_pre", "c_pre", "nc") + var("c_ss_post", "c_post", "nc"))
        / F.col("nc")
    )
    return wide.select(
        "nt",
        "nc",
        F.round(td / 100, 6).alias("treated_delta"),
        F.round(cd / 100, 6).alias("control_delta"),
        F.round((td - cd) / 100, 6).alias("did"),
        F.round(se / 100, 6).alias("did_se"),
    )


@register(
    "agg_anova_oneway",
    oracle="""
    WITH samples AS (
        SELECT event_type AS grp,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events
    ),
    moments AS (
        SELECT grp,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(cents) AS BIGINT) AS sx,
               sum(CAST(cents AS HUGEINT) * CAST(cents AS HUGEINT)) AS sxx,
               -- exact integer FLOOR division: the old round(double)
               -- path hits G14a above 2^53 (Spark rounds the shortest
               -- decimal string, DuckDB the binary value) once a
               -- hostile 1e9 price inflates the group sums
               (CAST(sum(cents) AS HUGEINT) * sum(cents) * 1000)
                   // count(*) AS bterm_milli
        FROM samples GROUP BY grp
    ),
    tot AS (
        SELECT CAST(count(*) AS BIGINT) AS k,
               CAST(sum(n) AS BIGINT) AS n_total,
               CAST(sum(sx) AS BIGINT) AS s_all,
               CAST(sum(sxx) AS DOUBLE) AS sxx_all,
               sum(bterm_milli) AS sb_milli
        FROM moments
    )
    SELECT k, n_total,
           round((CAST(sb_milli AS DOUBLE) / 1000
                  - CAST(s_all AS DOUBLE) * s_all / n_total)
                 / 10000, 2) AS ss_between,
           round((sxx_all - CAST(sb_milli AS DOUBLE) / 1000)
                 / 10000, 2) AS ss_within,
           round(((CAST(sb_milli AS DOUBLE) / 1000
                   - CAST(s_all AS DOUBLE) * s_all / n_total)
                  / (CAST(k AS DOUBLE) - 1))
                 / ((sxx_all - CAST(sb_milli AS DOUBLE) / 1000)
                    / (CAST(n_total AS DOUBLE) - k)), 6) AS f_stat,
           round((CAST(sb_milli AS DOUBLE) / 1000
                  - CAST(s_all AS DOUBLE) * s_all / n_total)
                 / (sxx_all
                    - CAST(s_all AS DOUBLE) * s_all / n_total), 6)
               AS eta_squared
    FROM tot
    """,
)
def agg_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F-test of event value across ALL event types at
    once — the k-group extension of agg_welch_ttest (which can only
    compare two): between-group vs within-group variance decomposition,
    the F statistic, and eta-squared effect size. The omnibus test you
    run BEFORE pairwise comparisons (then correct the pairs with
    agg_benjamini_hochberg_fdr).

    Exactness: per-group moments are exact integers (Σx bigint, Σx²
    128-bit). The one cross-group sum of a fractional term — Σ_g
    (Σx_g)²/n_g, the between-group raw term — is quantized to integer
    milli-cents² per GROUP row before summing (the
    agg_mutual_information nano-unit discipline), so the k-row
    reduction is order-independent; SS_between/SS_within/F/eta² then
    derive on ONE output row with identically-written double
    expressions in both engines.

    Scale design: one map-combined hash aggregate corpus → k group
    rows → 1-row reduce. Same single-shuffle cost as a plain groupBy
    at any corpus size; the statistics are free."""
    ev = load(spark, sf_dir, "events").select("event_type", "value")
    cents = F.round(F.col("value") * 100).cast("bigint")
    moments = ev.groupBy(F.col("event_type").alias("grp")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(cents).alias("sx"),
        F.sum(cents.cast("decimal(38,0)") * cents.cast("decimal(38,0)"))
        .alias("sxx"),
    )
    # exact integer floor division via remainder subtraction (decimal
    # `/` is exact once the numerator is made divisible): round(double)
    # here would hit G14a above 2^53 — Spark rounds the shortest
    # decimal string, DuckDB the binary value — once hostile
    # magnitudes inflate the group sums
    _sxd = F.col("sx").cast("decimal(38,0)")
    _q = _sxd * _sxd * 1000
    moments = moments.withColumn(
        "bterm_milli",
        ((_q - _q % F.col("n")) / F.col("n")).cast("decimal(38,0)"),
    )
    tot = moments.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n").alias("n_total"),
        F.sum("sx").alias("s_all"),
        F.sum("sxx").cast("double").alias("sxx_all"),
        F.sum("bterm_milli").alias("sb_milli"),
    )
    sb = F.col("sb_milli").cast("double") / 1000
    grand = F.col("s_all").cast("double") * F.col("s_all") / F.col("n_total")
    ssb = sb - grand
    ssw = F.col("sxx_all") - sb
    sst = F.col("sxx_all") - grand
    return tot.select(
        "k",
        "n_total",
        F.round(ssb / 10000, 2).alias("ss_between"),
        F.round(ssw / 10000, 2).alias("ss_within"),
        # try_divide: k=1 or n_total=k (degenerate corpus) must yield
        # NULL, matching DuckDB's native x/0 → NULL under every layout
        # (Spark ANSI would throw; SURVEY §7.4 G18)
        F.round(
            F.try_divide(
                F.try_divide(ssb, F.col("k").cast("double") - 1),
                F.try_divide(
                    ssw, F.col("n_total").cast("double") - F.col("k")
                ),
            ),
            6,
        ).alias("f_stat"),
        F.round(F.try_divide(ssb, sst), 6).alias("eta_squared"),
    )


@register(
    "agg_jackknife_ratio_variance",
    oracle="""
    WITH bucketed AS (
        SELECT user_id % 20 AS bkt,
               CAST(sum(CASE WHEN event_type = 'purchase'
                        THEN CAST(round(value * 100) AS BIGINT)
                        ELSE 0 END) AS BIGINT) AS num_cents,
               CAST(count(*) FILTER (event_type = 'click') AS BIGINT)
                   AS den_clicks
        FROM events GROUP BY user_id % 20
    ),
    tot AS (
        SELECT CAST(count(*) AS BIGINT) AS b,
               CAST(sum(num_cents) AS BIGINT) AS n_all,
               CAST(sum(den_clicks) AS BIGINT) AS d_all
        FROM bucketed
    ),
    pseudo AS (
        SELECT CAST(round(
                   CAST(t.n_all - bk.num_cents AS DOUBLE)
                   / (t.d_all - bk.den_clicks) * 1000000000)
               AS BIGINT) AS theta_nano
        FROM bucketed bk CROSS JOIN tot t
    ),
    ps AS (
        SELECT CAST(sum(theta_nano) AS BIGINT) AS st,
               sum(CAST(theta_nano AS HUGEINT) * CAST(theta_nano AS HUGEINT))
                   AS st2
        FROM pseudo
    )
    SELECT t.b AS n_buckets,
           round(CAST(t.n_all AS DOUBLE) / t.d_all / 100, 6)
               AS revenue_per_click,
           round(sqrt(
               (CAST(st2 AS DOUBLE) / 1e18
                - (CAST(st AS DOUBLE) / 1e9) * (CAST(st AS DOUBLE) / 1e9)
                  / t.b)
               * (CAST(t.b AS DOUBLE) - 1) / t.b) / 100, 6) AS jk_se,
           round((CAST(t.n_all AS DOUBLE) / t.d_all
                  - 1.959963984540054 * sqrt(
                      (CAST(st2 AS DOUBLE) / 1e18
                       - (CAST(st AS DOUBLE) / 1e9)
                         * (CAST(st AS DOUBLE) / 1e9) / t.b)
                      * (CAST(t.b AS DOUBLE) - 1) / t.b)) / 100, 6)
               AS ci_lo,
           round((CAST(t.n_all AS DOUBLE) / t.d_all
                  + 1.959963984540054 * sqrt(
                      (CAST(st2 AS DOUBLE) / 1e18
                       - (CAST(st AS DOUBLE) / 1e9)
                         * (CAST(st AS DOUBLE) / 1e9) / t.b)
                      * (CAST(t.b AS DOUBLE) - 1) / t.b)) / 100, 6)
               AS ci_hi
    FROM tot t CROSS JOIN ps
    """,
)
def agg_jackknife_ratio_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-one-bucket jackknife for a RATIO metric (revenue per
    click) — the standard-error machinery experimentation platforms use
    when the metric is a quotient of two correlated sums (per-user
    ratios are not i.i.d., so the naive s/√n is wrong; the delete-one
    jackknife over user-hash buckets is the unbiased fix, and the
    deterministic sibling of agg_poisson_bootstrap_ci's resampling).

    Exactness: bucket sums are exact integers; each leave-one-out
    pseudo-estimate θ_(i) = (N−n_i)/(D−d_i) is ONE double division
    quantized to integer nano-units per bucket row before the B-row
    moment sum (order-independent); the variance, SE, and normal CI
    derive on one output row from those exact nano-moments with
    identically-written expressions.

    Scale design: corpus → B=20 bucket rows in one map-combined
    aggregate keyed on user_id % B (at production scale B=100–1000
    buckets — still nothing); everything after is constant-size. The
    whole uncertainty readout costs exactly one shuffle of bucket
    partials."""
    ev = load(spark, sf_dir, "events").select("user_id", "event_type", "value")
    cents = F.round(F.col("value") * 100).cast("bigint")
    bucketed = ev.groupBy((F.col("user_id") % 20).alias("bkt")).agg(
        F.sum(
            F.when(F.col("event_type") == "purchase", cents).otherwise(0)
        ).alias("num_cents"),
        F.count(F.when(F.col("event_type") == "click", 1)).alias(
            "den_clicks"
        ),
    )
    tot = bucketed.agg(
        F.count(F.lit(1)).alias("b"),
        F.sum("num_cents").alias("n_all"),
        F.sum("den_clicks").alias("d_all"),
    )
    pseudo = (
        bucketed.crossJoin(F.broadcast(tot))
        .select(
            # try_divide: a bucket holding ALL clicks (or a clickless
            # corpus) zeroes the leave-one-out denominator — NULL
            # pseudo-value, matching DuckDB's x/0 → NULL (G18)
            F.round(
                F.try_divide(
                    (F.col("n_all") - F.col("num_cents")).cast("double"),
                    F.col("d_all") - F.col("den_clicks"),
                )
                * 1000000000
            )
            .cast("bigint")
            .alias("theta_nano")
        )
    )
    ps = pseudo.agg(
        F.sum("theta_nano").alias("st"),
        F.sum(
            F.col("theta_nano").cast("decimal(38,0)")
            * F.col("theta_nano").cast("decimal(38,0)")
        ).alias("st2"),
    )
    joined = tot.crossJoin(F.broadcast(ps))
    bd = F.col("b").cast("double")
    var_jk = (
        F.col("st2").cast("double") / F.lit(1e18)
        - (F.col("st").cast("double") / F.lit(1e9))
        * (F.col("st").cast("double") / F.lit(1e9))
        / F.col("b")
    ) * (bd - 1) / F.col("b")
    theta = F.try_divide(F.col("n_all").cast("double"), F.col("d_all"))
    z = F.lit(1.959963984540054)
    return joined.select(
        F.col("b").alias("n_buckets"),
        F.round(theta / 100, 6).alias("revenue_per_click"),
        F.round(F.sqrt(var_jk) / 100, 6).alias("jk_se"),
        F.round((theta - z * F.sqrt(var_jk)) / 100, 6).alias("ci_lo"),
        F.round((theta + z * F.sqrt(var_jk)) / 100, 6).alias("ci_hi"),
    )


@register(
    "llm_dataset_mixture_weights",
    oracle="""
    WITH per_source AS (
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        FROM documents GROUP BY source
    ),
    powed AS (
        SELECT source, n_docs, n_tokens,
               CAST(round(pow(CAST(n_tokens AS DOUBLE), 0.7) * 1000000)
                    AS BIGINT) AS pw_micro
        FROM per_source
    ),
    tot AS (
        SELECT CAST(sum(n_tokens) AS BIGINT) AS tok_all,
               CAST(sum(pw_micro) AS BIGINT) AS pw_all
        FROM powed
    )
    SELECT p.source, p.n_docs, p.n_tokens,
           round(CAST(p.n_tokens AS DOUBLE) / t.tok_all, 6) AS raw_share,
           round(CAST(p.pw_micro AS DOUBLE) / t.pw_all, 6)  AS mixture_weight,
           round(CAST(p.pw_micro AS DOUBLE) / t.pw_all
                 * 1000000 / p.n_tokens, 6) AS epochs_at_1m_budget
    FROM powed p CROSS JOIN tot t
    ORDER BY p.source
    """,
)
def llm_dataset_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled corpus mixture weights — the sampling-ratio
    table a pretraining run is configured from: per-source token counts
    re-weighted by w_s ∝ (tokens_s)^α with α = 0.7 (the multilingual
    up-sampling rule: raising small sources, damping the head), plus
    the effective epoch count each source would run at a fixed token
    budget (epochs > 1 ⇒ that source repeats; the overfitting flag).

    Exactness: token counts are exact integers in one aggregate; the
    single transcendental (pow α) evaluates once per SOURCE row and is
    quantized to integer micro-units before the cross-source
    normalizer sum, so the |sources|-row reduction is order-independent
    and the weights are exact integer ratios re-expressed as doubles.

    Scale design: corpus → |sources| rows in ONE map-combined
    aggregate (token counting rides the scan as a split+len — no
    explode, no shuffle of tokens); the weight table is broadcast-size
    by construction. This is the 30-second query that decides a
    multi-week training run's data diet."""
    docs = load(spark, sf_dir, "documents").select("source", "text")
    per_source = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split(F.col("text"), " ", -1))).alias("n_tokens"),
    )
    powed = per_source.withColumn(
        "pw_micro",
        F.round(
            F.pow(F.col("n_tokens").cast("double"), F.lit(0.7)) * 1000000
        ).cast("bigint"),
    )
    tot = powed.agg(
        F.sum("n_tokens").alias("tok_all"),
        F.sum("pw_micro").alias("pw_all"),
    )
    return (
        powed.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.round(
                F.col("n_tokens").cast("double") / F.col("tok_all"), 6
            ).alias("raw_share"),
            F.round(
                F.col("pw_micro").cast("double") / F.col("pw_all"), 6
            ).alias("mixture_weight"),
            F.round(
                F.col("pw_micro").cast("double")
                / F.col("pw_all")
                * 1000000
                / F.col("n_tokens"),
                6,
            ).alias("epochs_at_1m_budget"),
        )
        .orderBy("source")
    )


@register(
    "agg_spearman_rank_corr",
    oracle="""
    WITH base AS (
        SELECT c.c_custkey,
               CAST(round(c.c_acctbal * 100) AS BIGINT) AS xc,
               CAST(coalesce(sum(CAST(round(o.o_totalprice * 100)
                                      AS BIGINT)), 0) AS BIGINT) AS yc
        FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        GROUP BY c.c_custkey, c.c_acctbal
    ),
    rx AS (
        SELECT c_custkey,
               2 * rank() OVER (ORDER BY xc)
                 + count(*) OVER (PARTITION BY xc) - 1 AS r2x
        FROM base
    ),
    ry AS (
        SELECT c_custkey,
               2 * rank() OVER (ORDER BY yc)
                 + count(*) OVER (PARTITION BY yc) - 1 AS r2y
        FROM base
    ),
    m AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(r2x) AS BIGINT) AS sx,
               CAST(sum(r2y) AS BIGINT) AS sy,
               sum(CAST(r2x AS HUGEINT) * r2x) AS sxx,
               sum(CAST(r2y AS HUGEINT) * r2y) AS syy,
               sum(CAST(r2x AS HUGEINT) * r2y) AS sxy
        FROM rx JOIN ry USING (c_custkey)
    )
    SELECT n,
           round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * sy)
                 / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * sx)
                        * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE) * sy)), 6) AS spearman_rho
    FROM m
    """,
)
def agg_spearman_rank_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between a customer's account balance
    and their lifetime order spend — the monotone-association
    complement of the Pearson shelf (evt_type_correlation_matrix):
    outlier-immune, invariant to any monotone rescaling, the robust
    answer to "do richer accounts actually buy more?".

    Exactness: ties use the SQL-standard midrank, carried as the
    INTEGER 2·avg_rank = 2·min_rank + tie_count − 1 (Pearson is
    scale-invariant, so doubling clears the half-unit); every moment
    (Σr, Σr², Σrᵣrᵧ) is an exact 128-bit integer sum, and rho is one
    identically-written double expression on the final row. No float
    crosses an exchange anywhere.

    Scale design: min-ranks come from the distributed range-rank
    machinery (operators/scale_rank.py — range repartition →
    per-partition row_number → broadcast offsets), tie groups from a
    value-keyed aggregate joined back on the value: no unpartitioned
    window over customer-cardinality rows in the plan (the oracle's
    global rank() window is the REFERENCE semantics, not the plan).
    Cost at any scale: the customer-grain spend aggregate + two
    range-rank passes."""
    from .scale_rank import with_global_rank

    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    orders = load(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    ocents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    spend = orders.groupBy("o_custkey").agg(
        F.sum(ocents).alias("yc_raw")
    )
    base = (
        cust.join(spend, cust.c_custkey == spend.o_custkey, "left")
        .select(
            "c_custkey",
            F.round(F.col("c_acctbal") * 100).cast("bigint").alias("xc"),
            F.coalesce(F.col("yc_raw"), F.lit(0)).alias("yc"),
        )
    )

    def doubled_midrank(df, col, out):
        """2·avg_rank as an exact integer via distributed row_number +
        a tie-group (value-keyed) aggregate joined back on the value."""
        rowed = with_global_rank(
            df, [F.col(col), F.col("c_custkey")], "__grank"
        )
        ties = rowed.groupBy(col).agg(
            F.min("__grank").alias("__mn"), F.count(F.lit(1)).alias("__cnt")
        )
        return (
            rowed.join(ties, col)
            .withColumn(out, 2 * F.col("__mn") + F.col("__cnt") - 1)
            .select("c_custkey", out)
        )

    rx = doubled_midrank(base, "xc", "r2x")
    ry = doubled_midrank(base, "yc", "r2y")
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    m = rx.join(ry, "c_custkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("r2x").alias("sx"),
        F.sum("r2y").alias("sy"),
        F.sum(dec("r2x") * dec("r2x")).alias("sxx"),
        F.sum(dec("r2y") * dec("r2y")).alias("syy"),
        F.sum(dec("r2x") * dec("r2y")).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    # try_divide: a single user (degenerate corpus) zeroes both rank
    # variances — NULL rho, matching DuckDB's x/0 → NULL (G18)
    return m.select(
        "n",
        F.round(
            F.try_divide(
                nd * F.col("sxy").cast("double")
                - F.col("sx").cast("double") * F.col("sy"),
                F.sqrt(
                    (nd * F.col("sxx").cast("double")
                     - F.col("sx").cast("double") * F.col("sx"))
                    * (nd * F.col("syy").cast("double")
                       - F.col("sy").cast("double") * F.col("sy"))
                ),
            ),
            6,
        ).alias("spearman_rho"),
    )


@register(
    "evt_uplift_qini_deciles",
    oracle="""
    WITH per_user AS (
        SELECT user_id,
               CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 4))
                    AS INTEGER) % 2 AS treated,
               CAST(count(*) FILTER (ts < TIMESTAMP '2024-01-16 00:00:00')
                    AS BIGINT) AS score,
               CAST(sum(CASE WHEN event_type = 'purchase'
                             AND ts >= TIMESTAMP '2024-01-16 00:00:00'
                        THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
                    AS BIGINT) AS post_cents
        FROM events GROUP BY user_id
    ),
    tiled AS (
        -- user_id NULLS FIRST: the Spark side ranks via the
        -- distributed range machinery, whose repartitionByRange and
        -- in-partition row_number both use Spark's native ASC
        -- ordering (nulls first) — the oracle states it (G13)
        SELECT *, ntile(10) OVER (ORDER BY score DESC,
                                  user_id NULLS FIRST) AS decile
        FROM per_user
    ),
    cells AS (
        SELECT decile,
               CAST(count(*) FILTER (treated = 1) AS BIGINT) AS n_t,
               CAST(count(*) FILTER (treated = 0) AS BIGINT) AS n_c,
               CAST(coalesce(sum(post_cents) FILTER (treated = 1), 0)
                    AS BIGINT) AS s_t,
               CAST(coalesce(sum(post_cents) FILTER (treated = 0), 0)
                    AS BIGINT) AS s_c
        FROM tiled GROUP BY decile
    )
    SELECT decile, n_t, n_c,
           round(CAST(s_t AS DOUBLE) / n_t / 100, 6) AS mean_t,
           round(CAST(s_c AS DOUBLE) / n_c / 100, 6) AS mean_c,
           round((CAST(s_t AS DOUBLE) / n_t
                  - CAST(s_c AS DOUBLE) / n_c) / 100, 6) AS uplift,
           round((CAST(sum(s_t) OVER w AS DOUBLE)
                  - CAST(sum(s_c) OVER w AS DOUBLE)
                    * sum(n_t) OVER w / sum(n_c) OVER w) / 100, 6)
               AS qini_cum_gain
    FROM cells
    WINDOW w AS (ORDER BY decile
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ORDER BY decile
    """,
)
def evt_uplift_qini_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uplift-by-decile table with the cumulative Qini gain curve — the
    standard readout for a targeting model: users are ranked by a
    score (pre-period engagement stands in for the model), deciled,
    and each decile reports treated-vs-control outcome means, their
    difference (incremental value per user), and the running Qini gain
    cum(Y_t) − cum(Y_c)·cum(N_t)/cum(N_c) that the area-under-Qini
    metric integrates. Treatment is the deterministic md5 coin
    (llm_split_train_test's idiom), so assignment is engine- and
    rerun-stable.

    Exactness: per-user reduction in integer cents; decile cells carry
    integer counts/sums; per-decile means and the Qini expression are
    identically-written doubles; the cumulative window runs over 10
    DECILE rows (bounded), with exact integer running sums.

    Scale design: one user-keyed aggregate; deciles via the
    distributed range-rank ntile (operators/scale_rank.py) — no
    unpartitioned window ever sees user-cardinality rows (the oracle's
    global ntile states the semantics; the plan implements it as range
    ranking); everything after is a 10-row table."""
    from .scale_rank import with_ntile

    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "value"
    )
    cut = F.lit("2024-01-16 00:00:00").cast("timestamp_ntz")
    cents = F.round(F.col("value") * 100).cast("bigint")
    per_user = ev.groupBy("user_id").agg(
        F.count(F.when(F.col("ts") < cut, 1)).alias("score"),
        F.sum(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("ts") >= cut),
                cents,
            ).otherwise(0)
        ).alias("post_cents"),
    ).withColumn(
        "treated",
        F.conv(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 4), 16, 10
        ).cast("int")
        % 2,
    )
    tiled = with_ntile(
        per_user,
        [F.col("score").desc(), F.col("user_id")],
        10,
        "decile",
    )
    cells = tiled.groupBy("decile").agg(
        F.count(F.when(F.col("treated") == 1, 1)).alias("n_t"),
        F.count(F.when(F.col("treated") == 0, 1)).alias("n_c"),
        F.coalesce(
            F.sum(F.when(F.col("treated") == 1, F.col("post_cents"))),
            F.lit(0),
        ).alias("s_t"),
        F.coalesce(
            F.sum(F.when(F.col("treated") == 0, F.col("post_cents"))),
            F.lit(0),
        ).alias("s_c"),
    )
    w = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        cells.select(
            "decile",
            "n_t",
            "n_c",
            # a decile whose members all drew one arm (possible once
            # hostile single-event users join the population) has no
            # defined mean for the other arm: try_divide ≡ DuckDB's
            # NULL-on-zero-division (G11)
            F.round(
                F.try_divide(F.col("s_t").cast("double"), F.col("n_t"))
                / 100,
                6,
            ).alias("mean_t"),
            F.round(
                F.try_divide(F.col("s_c").cast("double"), F.col("n_c"))
                / 100,
                6,
            ).alias("mean_c"),
            F.round(
                (F.try_divide(F.col("s_t").cast("double"), F.col("n_t"))
                 - F.try_divide(F.col("s_c").cast("double"), F.col("n_c")))
                / 100,
                6,
            ).alias("uplift"),
            F.round(
                (F.sum("s_t").over(w).cast("double")
                 - F.try_divide(
                     F.sum("s_c").over(w).cast("double")
                     * F.sum("n_t").over(w),
                     F.sum("n_c").over(w),
                 )) / 100,
                6,
            ).alias("qini_cum_gain"),
        )
        .orderBy("decile")
    )


@register(
    "evt_rolling_correlation",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(sum(CASE WHEN event_type = 'purchase'
                        THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
                    AS BIGINT) AS x,
               CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS y
        FROM events GROUP BY 1
    ),
    rolled AS (
        SELECT day,
               CAST(count(*) OVER w AS BIGINT) AS k,
               CAST(sum(x) OVER w AS BIGINT) AS sx,
               CAST(sum(y) OVER w AS BIGINT) AS sy,
               sum(CAST(x AS HUGEINT) * x) OVER w AS sxx,
               sum(CAST(y AS HUGEINT) * y) OVER w AS syy,
               sum(CAST(x AS HUGEINT) * y) OVER w AS sxy
        FROM daily
        WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    )
    SELECT day,
           round((7 * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
                 / nullif(sqrt((7 * CAST(sxx AS DOUBLE)
                                - CAST(sx AS DOUBLE) * sx)
                               * (7 * CAST(syy AS DOUBLE)
                                  - CAST(sy AS DOUBLE) * sy)), 0), 6)
               AS roll_corr_7d
    FROM rolled
    WHERE k = 7
    ORDER BY day
    """,
)
def evt_rolling_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day rolling Pearson correlation between daily purchase revenue
    and daily click volume — the co-movement monitor behind "are clicks
    still converting?" dashboards: a correlation that decays toward
    zero while both series stay individually healthy is the classic
    sign of broken attribution or bot clicks.

    Exactness: the corpus reduces to DAY grain with integer cents /
    counts; all five rolling moments are exact integer window sums
    (products in 128-bit), so the window fold is order-independent;
    the correlation is one double expression per output row with a
    nullif guard on degenerate (zero-variance) weeks in BOTH engines.

    Scale design: one date-keyed aggregate (map-combined) → ≤|days|
    rows; the rolling windows run over that bounded day table
    (lint-whitelisted grain), never raw events. At 100 TB the day table
    is still 365 rows/year."""
    ev = load(spark, sf_dir, "events").select("ts", "event_type", "value")
    cents = F.round(F.col("value") * 100).cast("bigint")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum(
            F.when(F.col("event_type") == "purchase", cents).otherwise(0)
        ).alias("x"),
        F.count(F.when(F.col("event_type") == "click", 1)).alias("y"),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    w = Window.orderBy("day").rowsBetween(-6, Window.currentRow)
    rolled = daily.select(
        "day",
        F.count(F.lit(1)).over(w).alias("k"),
        F.sum("x").over(w).alias("sx"),
        F.sum("y").over(w).alias("sy"),
        F.sum(dec("x") * dec("x")).over(w).alias("sxx"),
        F.sum(dec("y") * dec("y")).over(w).alias("syy"),
        F.sum(dec("x") * dec("y")).over(w).alias("sxy"),
    )
    denom = F.sqrt(
        (7 * F.col("sxx").cast("double")
         - F.col("sx").cast("double") * F.col("sx"))
        * (7 * F.col("syy").cast("double")
           - F.col("sy").cast("double") * F.col("sy"))
    )
    return (
        rolled.where(F.col("k") == 7)
        .select(
            "day",
            F.round(
                (7 * F.col("sxy").cast("double")
                 - F.col("sx").cast("double") * F.col("sy"))
                / F.nullif(denom, F.lit(0.0)),
                6,
            ).alias("roll_corr_7d"),
        )
        .orderBy("day")
    )


@register(
    "llm_repeated_substring_census",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split(lower(text), ' '), t -> t <> '')
                   AS ts
        FROM documents
    ),
    flat AS (
        SELECT doc_id, ts,
               CAST(unnest(generate_series(1, len(ts) - 4)) AS BIGINT) AS p
        FROM toks WHERE len(ts) >= 5
    ),
    hashed AS (
        SELECT doc_id, p,
               md5(array_to_string(list_slice(ts, p, p + 4), ' ')) AS h
        FROM flat
    ),
    dup AS (
        SELECT h FROM hashed GROUP BY h
        HAVING count(DISTINCT doc_id) >= 2
    ),
    dpos AS (
        SELECT doc_id, p FROM hashed WHERE h IN (SELECT h FROM dup)
    ),
    isl AS (
        SELECT doc_id, p,
               CASE WHEN p - lag(p) OVER (PARTITION BY doc_id ORDER BY p)
                         <= 4
                    THEN 0 ELSE 1 END AS brk
        FROM dpos
    ),
    grp AS (
        SELECT doc_id, p,
               sum(brk) OVER (PARTITION BY doc_id ORDER BY p
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS g
        FROM isl
    ),
    runs AS (
        SELECT doc_id, g,
               CAST(max(p) - min(p) + 5 AS BIGINT) AS run_tokens
        FROM grp GROUP BY doc_id, g
    ),
    census AS (
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_dup_regions,
               CAST(sum(run_tokens) AS BIGINT) AS dup_tokens,
               CAST(max(run_tokens) AS BIGINT) AS longest_run_tokens
        FROM runs GROUP BY doc_id
    )
    SELECT c.doc_id,
           CAST(len(t.ts) AS BIGINT) AS n_tokens,
           c.n_dup_regions, c.dup_tokens, c.longest_run_tokens,
           CAST(c.dup_tokens * 1000000 // len(t.ts) AS BIGINT) AS dup_ppm
    FROM census c JOIN toks t USING (doc_id)
    ORDER BY c.doc_id
    """,
)
def llm_repeated_substring_census(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cross-document repeated-SUBSTRING census — the positional
    sharpening of C4-style segment dedup (llm_segment_dedup_global):
    for every doc, find the maximal token RUNS whose 5-token shingles
    all recur in at least one OTHER document (boilerplate, licence
    blocks, templated intros — the memorization fuel substring-level
    dedup removes), and report region count, duplicated-token mass,
    longest run, and the duplicated fraction in ppm. The suffix-array
    pipeline's candidate stage re-expressed relationally: duplicated
    shingle positions ARE the suffix-overlap witnesses, and merging
    positions closer than the shingle width reconstructs each maximal
    duplicated span exactly (runs [p..p+4] with gaps ≤ 4 overlap, so
    coverage = last − first + 5 never double-counts a token).

    Scale design: shingle hashes are scan-stage HOFs (one md5 per
    position, only 16-byte digests + positions ever leave the scan);
    the ONE corpus-sized shuffle groups by digest for the cross-doc
    test; survivors (a small fraction of positions) flow through a
    doc-keyed window for the gaps-and-islands merge. No self-join, no
    pair space — the same single-digest-shuffle shape as
    llm_dedup_exact_text, at substring grain.

    Cross-engine: identical md5 over identical joined strings; run
    arithmetic is pure integers; first-row lag(NULL) falls to the
    break branch in both engines."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    ts = F.filter(
        F.split(F.lower(F.col("text")), " ", -1), lambda t: t != ""
    )
    toks = docs.select("doc_id", ts.alias("ts")).where(F.size("ts") >= 5)
    hashed = toks.select(
        "doc_id",
        F.size("ts").alias("n_tokens"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.size("ts") - 4),
                lambda i: F.md5(F.array_join(F.slice("ts", i, 5), " ")),
            )
        ).alias("p0", "h"),
    ).select(
        "doc_id",
        "n_tokens",
        (F.col("p0") + 1).cast("bigint").alias("p"),
        "h",
    )
    dup = (
        hashed.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .where(F.col("nd") >= 2)
        .select("h")
    )
    dpos = hashed.join(dup, "h", "left_semi")
    w = Window.partitionBy("doc_id").orderBy("p")
    isl = dpos.withColumn(
        "brk",
        F.when(F.col("p") - F.lag("p").over(w) <= 4, 0).otherwise(1),
    )
    grp = isl.withColumn(
        "g",
        F.sum("brk").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    runs = grp.groupBy("doc_id", "g").agg(
        F.max("n_tokens").alias("n_tokens"),
        (F.max("p") - F.min("p") + 5).cast("bigint").alias("run_tokens"),
    )
    return (
        runs.groupBy("doc_id")
        .agg(
            F.max("n_tokens").cast("bigint").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_dup_regions"),
            F.sum("run_tokens").alias("dup_tokens"),
            F.max("run_tokens").alias("longest_run_tokens"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_dup_regions",
            "dup_tokens",
            "longest_run_tokens",
            F.expr("dup_tokens * 1000000 div n_tokens")
            .cast("bigint")
            .alias("dup_ppm"),
        )
        .orderBy("doc_id")
    )


@register(
    "llm_capture_recapture_estimate",
    oracle="""
    WITH tagged AS (
        -- TRY_CAST: a source name outside the srcNN scheme belongs to
        -- neither crawl (NULL comparison -> ELSE 0), not a job kill
        SELECT md5(text) AS dg,
               CAST(max(CASE WHEN TRY_CAST(substr(source, 4) AS INTEGER) < 10
                        THEN 1 ELSE 0 END) AS INTEGER) AS in_a,
               CAST(max(CASE WHEN TRY_CAST(substr(source, 4) AS INTEGER) >= 10
                        THEN 1 ELSE 0 END) AS INTEGER) AS in_b
        FROM documents GROUP BY md5(text)
    ),
    counts AS (
        SELECT CAST(sum(in_a) AS BIGINT) AS n1,
               CAST(sum(in_b) AS BIGINT) AS n2,
               CAST(sum(in_a * in_b) AS BIGINT) AS m,
               CAST(count(*) AS BIGINT) AS observed
        FROM tagged
    )
    SELECT n1, n2, m, observed,
           round((CAST(n1 + 1 AS DOUBLE) * (n2 + 1)) / (m + 1) - 1, 6)
               AS chapman_estimate,
           round(sqrt(CAST(n1 + 1 AS DOUBLE) * (n2 + 1) * (n1 - m)
                      * (n2 - m)
                      / (CAST(m + 1 AS DOUBLE) * (m + 1) * (m + 2))), 6)
               AS chapman_se
    FROM counts
    """,
)
def llm_capture_recapture_estimate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Capture–recapture (Chapman) estimate of the TRUE number of
    distinct documents in the wild from two overlapping crawls — treat
    sources 0–9 as crawl A (the capture) and 10–19 as crawl B (the
    recapture); the content-digest overlap m between them plays the
    marked-animal role, and N̂ = (n1+1)(n2+1)/(m+1) − 1 estimates how
    much of the population BOTH crawls missed. The planning number
    behind "is another crawl worth it?" — if N̂ ≈ observed, coverage is
    saturated; the SE says whether that conclusion is statistical or
    noise.

    Exactness: membership flags collapse per digest in one aggregate
    (exact ints); the estimator and its closed-form SE are single
    double expressions on the 1-row count table.

    Scale design: the only corpus-sized operation is the digest
    groupBy — the same single sha/md5 shuffle as llm_dedup_exact_text;
    16-byte digests + two bit flags are all that cross the exchange.
    The estimator itself is free at any corpus size."""
    docs = load(spark, sf_dir, "documents").select("source", "text")
    # try_cast: a source outside the srcNN scheme is in neither crawl
    # (NULL comparison -> otherwise 0), not a job kill (G11)
    src_num = F.substring("source", 4, 10).try_cast("int")
    tagged = docs.groupBy(F.md5("text").alias("dg")).agg(
        F.max(F.when(src_num < 10, 1).otherwise(0)).alias("in_a"),
        F.max(F.when(src_num >= 10, 1).otherwise(0)).alias("in_b"),
    )
    counts = tagged.agg(
        F.sum("in_a").alias("n1"),
        F.sum("in_b").alias("n2"),
        F.sum(F.col("in_a") * F.col("in_b")).alias("m"),
        F.count(F.lit(1)).alias("observed"),
    )
    n1, n2, m = F.col("n1"), F.col("n2"), F.col("m")
    est = (n1 + 1).cast("double") * (n2 + 1) / (m + 1) - 1
    se = F.sqrt(
        (n1 + 1).cast("double") * (n2 + 1) * (n1 - m) * (n2 - m)
        / ((m + 1).cast("double") * (m + 1) * (m + 2))
    )
    return counts.select(
        "n1",
        "n2",
        "m",
        "observed",
        F.round(est, 6).alias("chapman_estimate"),
        F.round(se, 6).alias("chapman_se"),
    )


@register(
    "llm_weighted_reservoir_sample",
    oracle="""
    WITH keyed AS (
        SELECT doc_id, source, n_chars,
               CAST(round(
                   ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                                    1, 8)) AS UBIGINT) + 1)
                      / 4294967297.0) / n_chars * 1e15) AS BIGINT)
                   AS key_femto
        FROM documents
        WHERE n_chars > 0
    )
    SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars, key_femto
    FROM keyed
    ORDER BY key_femto DESC, doc_id
    LIMIT 25
    """,
)
def llm_weighted_reservoir_sample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Deterministic weighted sample of 25 documents with inclusion
    probability ∝ n_chars — the Efraimidis–Spirakis A-ES scheme
    (rank by u^(1/w), equivalently ln(u)/w, keep the top k) with the
    uniform u derived from md5(doc_id), so the "random" draw is
    engine- and rerun-stable (the llm_split_train_test coin, extended
    from fair to WEIGHTED selection). This is how you thin 100 TB to a
    length-balanced eval slice without a global RNG or a second pass.

    Exactness: u = (h32 + 1) / (2³² + 1) ∈ (0,1) exactly representable
    from the 32-bit hash; the one ln per row is quantized to integer
    femto-units BEFORE ranking, so ordering can never differ by an
    ulp between engines; doc_id breaks exact ties.

    Scale design: key computation is scan-stage arithmetic; selection
    is TakeOrderedAndProject (per-partition top-25 → 25-row driver
    merge) — no global sort, no shuffle of the corpus. A-ES keys are
    also mergeable: per-shard top-k unions re-rank to the exact
    global top-k, which is why this pattern survives streaming
    ingestion unchanged."""
    docs = (
        load(spark, sf_dir, "documents")
        .select("doc_id", "source", "n_chars")
        # A-ES weights must be strictly positive: a zero-weight item
        # has inclusion probability 0 by definition, and ln(u)/0 is a
        # DIVIDE_BY_ZERO under ANSI mode (hostile-input sweep)
        .where(F.col("n_chars") > 0)
    )
    h32 = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("bigint")
    key = F.round(
        F.log((h32 + 1) / F.lit(4294967297.0)) / F.col("n_chars") * 1e15
    ).cast("bigint")
    return (
        docs.select(
            "doc_id",
            "source",
            F.col("n_chars").cast("bigint").alias("n_chars"),
            key.alias("key_femto"),
        )
        .orderBy(F.desc("key_femto"), "doc_id")
        .limit(25)
    )


@register(
    "evt_path_trigrams",
    oracle="""
    WITH seq AS (
        SELECT event_type AS t1,
               lead(event_type, 1) OVER w AS t2,
               lead(event_type, 2) OVER w AS t3
        FROM events
        WINDOW w AS (PARTITION BY user_id, CAST(ts AS DATE)
                     ORDER BY ts, event_id)
    )
    SELECT t1, t2, t3, CAST(count(*) AS BIGINT) AS n_paths
    FROM seq WHERE t3 IS NOT NULL
    GROUP BY t1, t2, t3
    ORDER BY n_paths DESC, t1, t2, t3
    LIMIT 20
    """,
)
def evt_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 behavioral path TRIGRAMS (ordered 3-step event sequences
    within a user-day) — the order-3 extension of
    evt_transition_matrix's first-order chain: where the bigram matrix
    says "view → click is common", the trigram census says whether
    view → click → purchase or view → click → view dominates, i.e.
    whether clicks convert or churn. The input to funnel REDESIGN
    (which 3-step paths exist) rather than funnel measurement (a fixed
    hypothesized path).

    Scale design: both lookaheads share ONE (user, day)-partitioned
    window (a single sort per partition — same WindowExec pass), so
    the cost is one user-keyed shuffle; the trigram aggregate is
    map-combined over |types|³-bounded groups, and top-20 is
    TakeOrderedAndProject. Day-bounding the partition keeps any one
    partition's sort small even for bot-grade users.

    Cross-engine: (ts, event_id) is a total order; counts are exact
    ints; the full (t1, t2, t3) tiebreak makes the top-20 cut
    deterministic."""
    ev = load(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id", F.col("ts").cast("date")).orderBy(
        "ts", "event_id"
    )
    seq = ev.select(
        F.col("event_type").alias("t1"),
        F.lead("event_type", 1).over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"),
    )
    return (
        seq.where(F.col("t3").isNotNull())
        .groupBy("t1", "t2", "t3")
        .agg(F.count(F.lit(1)).alias("n_paths"))
        .orderBy(F.desc("n_paths"), "t1", "t2", "t3")
        .limit(20)
    )


@register(
    "evt_offpolicy_ips_snips",
    oracle="""
    WITH cells AS (
        SELECT CAST(extract(hour FROM ts) AS INT) AS hr,
               event_type AS a,
               CAST(count(*) AS BIGINT) AS n_ah,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS s_ah
        FROM events GROUP BY 1, 2
    ),
    hours AS (
        SELECT hr, CAST(sum(n_ah) AS BIGINT) AS n_h FROM cells GROUP BY hr
    ),
    pol AS (
        SELECT c.hr, c.a, c.n_ah, c.s_ah, h.n_h,
               CASE c.a WHEN 'purchase' THEN 4 WHEN 'click' THEN 3
                        WHEN 'view' THEN 2 WHEN 'signup' THEN 1
                        ELSE 0 END AS pi10
        FROM cells c JOIN hours h ON c.hr = h.hr
    ),
    terms AS (
        SELECT
            CAST(round(CAST(pi10 AS DOUBLE) * n_h * s_ah
                       / (1000.0 * n_ah) * 1000000) AS BIGINT) AS wr_micro,
            pi10 * n_h * 100000 AS wn_micro,
            CAST(round(CAST(pi10 AS DOUBLE) * pi10 * n_h * n_h
                       / (100.0 * n_ah) * 1000000) AS BIGINT) AS w2n_micro,
            CAST(round(CAST(pi10 AS DOUBLE) * n_h / (10.0 * n_ah)
                       * 1000000) AS BIGINT) AS w_micro,
            n_ah
        FROM pol
    ),
    agg AS (
        SELECT CAST(sum(n_ah) AS BIGINT) AS n,
               CAST(sum(wr_micro) AS BIGINT) AS swr,
               CAST(sum(wn_micro) AS BIGINT) AS swn,
               CAST(sum(w2n_micro) AS BIGINT) AS sw2n,
               CAST(max(w_micro) AS BIGINT) AS wmax
        FROM terms
    )
    SELECT n,
           round(CAST(swr AS DOUBLE) / 1000000 / n, 6) AS ips_value,
           round(CAST(swr AS DOUBLE) / swn, 6) AS snips_value,
           round((CAST(swn AS DOUBLE) / 1000000)
                 * (CAST(swn AS DOUBLE) / 1000000)
                 / (CAST(sw2n AS DOUBLE) / 1000000), 6) AS effective_n,
           round(CAST(wmax AS DOUBLE) / 1000000, 6) AS max_weight
    FROM agg
    """,
)
def evt_offpolicy_ips_snips(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Off-policy evaluation of a NEW action policy from logged data —
    inverse-propensity scoring (IPS) and its self-normalized form
    (SNIPS): the logged event stream is treated as a contextual bandit
    log (context = hour of day, action = event type, reward = value),
    behavior propensities are the empirical per-hour action shares,
    and the target policy (purchase 0.4 / click 0.3 / view 0.2 /
    signup 0.1 / error 0) is scored WITHOUT running it. Also reports
    the effective sample size (Σw)²/Σw² — the honesty metric that says
    how many logged rows actually back the estimate — and the max
    importance weight (the clipping diagnostic). The counterfactual
    complement of the shelf's randomized (t-test/CUPED) and
    quasi-experimental (diff-in-diff) members.

    Exactness: cell counts/reward sums are exact integers; each cell's
    importance-weight terms (w·r, w·n, w²·n — w = π(a)·n_h / 10·n_ah
    is a ratio of integers) are single double expressions quantized to
    integer micro-units per CELL row before the 24×|types|-row
    reduction, so summation order cannot change the answer; w·n is
    exactly integer by construction (π numerators are tenths).

    Scale design: one (hour, type)-keyed map-combined aggregate is the
    only corpus-sized operation; the hour marginal is a reaggregation
    of the 120-cell table; every estimator derives on one output row.
    Off-policy evaluation at 100 TB costs exactly one groupBy."""
    ev = load(spark, sf_dir, "events").select("ts", "event_type", "value")
    cents = F.round(F.col("value") * 100).cast("bigint")
    cells = ev.groupBy(
        F.hour("ts").alias("hr"), F.col("event_type").alias("a")
    ).agg(
        F.count(F.lit(1)).alias("n_ah"), F.sum(cents).alias("s_ah")
    )
    hours = cells.groupBy("hr").agg(F.sum("n_ah").alias("n_h"))
    pi10 = (
        F.when(F.col("a") == "purchase", 4)
        .when(F.col("a") == "click", 3)
        .when(F.col("a") == "view", 2)
        .when(F.col("a") == "signup", 1)
        .otherwise(0)
    )
    pol = cells.join(F.broadcast(hours), "hr").withColumn("pi10", pi10)
    terms = pol.select(
        F.round(
            F.col("pi10").cast("double") * F.col("n_h") * F.col("s_ah")
            / (F.lit(1000.0) * F.col("n_ah"))
            * 1000000
        ).cast("bigint").alias("wr_micro"),
        (F.col("pi10") * F.col("n_h") * 100000).alias("wn_micro"),
        F.round(
            F.col("pi10").cast("double") * F.col("pi10") * F.col("n_h")
            * F.col("n_h")
            / (F.lit(100.0) * F.col("n_ah"))
            * 1000000
        ).cast("bigint").alias("w2n_micro"),
        F.round(
            F.col("pi10").cast("double") * F.col("n_h")
            / (F.lit(10.0) * F.col("n_ah"))
            * 1000000
        ).cast("bigint").alias("w_micro"),
        "n_ah",
    )
    agg = terms.agg(
        F.sum("n_ah").alias("n"),
        F.sum("wr_micro").alias("swr"),
        F.sum("wn_micro").alias("swn"),
        F.sum("w2n_micro").alias("sw2n"),
        F.max("w_micro").alias("wmax"),
    )
    return agg.select(
        "n",
        F.round(F.col("swr").cast("double") / 1000000 / F.col("n"), 6)
        .alias("ips_value"),
        # try_divide: a corpus whose only actions score π=0 zeroes the
        # weight sums — NULL SNIPS/ESS, matching DuckDB's x/0 → NULL
        # (Spark ANSI throws, G18)
        F.round(
            F.try_divide(F.col("swr").cast("double"), F.col("swn")), 6
        ).alias("snips_value"),
        F.round(
            F.try_divide(
                (F.col("swn").cast("double") / 1000000)
                * (F.col("swn").cast("double") / 1000000),
                F.col("sw2n").cast("double") / 1000000,
            ),
            6,
        ).alias("effective_n"),
        F.round(F.col("wmax").cast("double") / 1000000, 6)
        .alias("max_weight"),
    )


@register(
    "agg_mad_robust_outliers",
    oracle="""
    WITH vc AS (
        SELECT event_type,
               CAST(round(value * 100) AS BIGINT) AS cents,
               CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ),
    tots AS (
        SELECT event_type, CAST(sum(c) AS BIGINT) AS n FROM vc GROUP BY 1
    ),
    med AS (
        SELECT event_type, CAST(min(cents) AS BIGINT) AS median_cents
        FROM (
            SELECT v.event_type, v.cents, t.n,
                   sum(v.c) OVER (PARTITION BY v.event_type
                                  ORDER BY v.cents) AS cum
            FROM vc v JOIN tots t USING (event_type)
        )
        WHERE cum >= (n + 1) // 2
        GROUP BY event_type
    ),
    dc AS (
        SELECT v.event_type, abs(v.cents - m.median_cents) AS dev,
               CAST(sum(v.c) AS BIGINT) AS c
        FROM vc v JOIN med m USING (event_type)
        GROUP BY 1, 2
    ),
    mad AS (
        SELECT event_type, CAST(min(dev) AS BIGINT) AS mad_cents
        FROM (
            SELECT d.event_type, d.dev, t.n,
                   sum(d.c) OVER (PARTITION BY d.event_type
                                  ORDER BY d.dev) AS cum
            FROM dc d JOIN tots t USING (event_type)
        )
        WHERE cum >= (n + 1) // 2
        GROUP BY event_type
    ),
    outs AS (
        SELECT d.event_type,
               CAST(coalesce(sum(d.c) FILTER (
                   d.dev * 10000 > 44478 * m.mad_cents), 0) AS BIGINT)
                   AS n_outliers
        FROM dc d JOIN mad m USING (event_type)
        GROUP BY d.event_type
    )
    SELECT t.event_type, t.n,
           round(CAST(m.median_cents AS DOUBLE) / 100, 2) AS median_value,
           round(CAST(a.mad_cents AS DOUBLE) / 100, 2) AS mad_value,
           o.n_outliers,
           CAST(o.n_outliers * 1000000 // t.n AS BIGINT) AS outlier_ppm
    FROM tots t
    JOIN med m USING (event_type)
    JOIN mad a USING (event_type)
    JOIN outs o USING (event_type)
    ORDER BY t.event_type
    """,
)
def agg_mad_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median / MAD robust outlier screen per event type — the
    heavy-tail-immune alternative to z-scores (evt_anomaly_zscore) and
    IQR fences (evt_anomaly_iqr_fences): center = exact lower median,
    spread = exact median absolute deviation, outlier = deviation
    beyond 3·1.4826·MAD (the normal-consistent cutoff), reported with
    the outlier rate in ppm.

    Exactness: EVERYTHING is integer arithmetic — medians are exact
    order statistics read off cumulative counts (rank (n+1)÷2, lower
    median), deviations are integer cents, and the cutoff compare is
    cross-multiplied (dev·10⁴ > 44478·MAD) so not a single float
    exists before the presentation divide.

    Scale design: the corpus collapses to (type, value)-grain counts
    in ONE map-combined aggregate; both median extractions are
    windows over DISTINCT-VALUE rows (bounded by the value domain,
    not the corpus — the classic count-histogram median), and the MAD
    distribution is DERIVED from the value histogram by re-keying
    |v − med|, never by a second corpus pass. Total corpus-sized work:
    one shuffle of (type, cents) partials."""
    ev = load(spark, sf_dir, "events").select("event_type", "value")
    cents = F.round(F.col("value") * 100).cast("bigint")
    # r12 (census + plan audit): the histogram subtree is referenced by
    # tots/med/dc/outs and Catalyst re-plans it per reference — the
    # physical plan re-scanned events 14 times, contradicting the
    # one-corpus-pass design claim. A lazy localCheckpoint of the
    # (type, cents) histogram (value-domain grain, computed inside the
    # first action) makes every downstream branch read ONE evaluation;
    # all arithmetic is integer, so results are bit-identical.
    vc = (
        ev.groupBy("event_type", cents.alias("cents"))
        .agg(F.count(F.lit(1)).alias("c"))
        .transform(pin, approx_input_bytes=input_size_bytes(sf_dir, "events"))
    )
    tots = vc.groupBy("event_type").agg(F.sum("c").alias("n"))
    w_val = Window.partitionBy("event_type").orderBy("cents")

    def hist_median(counts, val_col, out_col):
        w = Window.partitionBy("event_type").orderBy(val_col)
        cum = counts.join(F.broadcast(tots), "event_type").withColumn(
            "cum", F.sum("c").over(w)
        )
        return (
            cum.where(
                F.col("cum") >= F.expr("(n + 1) div 2")
            )
            .groupBy("event_type")
            .agg(F.min(val_col).cast("bigint").alias(out_col))
        )

    med = hist_median(vc, "cents", "median_cents")
    # same dedup for the deviation histogram (read by mad and outs)
    dc = (
        vc.join(F.broadcast(med), "event_type")
        .groupBy(
            "event_type",
            F.abs(F.col("cents") - F.col("median_cents")).alias("dev"),
        )
        .agg(F.sum("c").alias("c"))
        .transform(pin, approx_input_bytes=input_size_bytes(sf_dir, "events"))
    )
    mad = hist_median(dc, "dev", "mad_cents")
    outs = (
        dc.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("dev") * 10000 > 44478 * F.col("mad_cents"),
                        F.col("c"),
                    )
                ),
                F.lit(0),
            ).alias("n_outliers")
        )
    )
    return (
        tots.join(med, "event_type")
        .join(mad, "event_type")
        .join(outs, "event_type")
        .select(
            "event_type",
            "n",
            F.round(F.col("median_cents").cast("double") / 100, 2)
            .alias("median_value"),
            F.round(F.col("mad_cents").cast("double") / 100, 2)
            .alias("mad_value"),
            "n_outliers",
            F.expr("n_outliers * 1000000 div n")
            .cast("bigint")
            .alias("outlier_ppm"),
        )
        .orderBy("event_type")
    )


@register(
    "llm_cdc_chunk_census",
    oracle="""
    WITH toks AS (
        SELECT doc_id, source,
               list_filter(string_split(lower(text), ' '), t -> t <> '')
                   AS ts
        FROM documents
    ),
    base AS (
        SELECT doc_id, source, ts, CAST(len(ts) AS BIGINT) AS n
        FROM toks WHERE len(ts) >= 1
    ),
    st AS (
        SELECT doc_id, source, ts, n,
               list_concat(
                   [CAST(1 AS BIGINT)],
                   CASE WHEN n >= 5 THEN
                       list_filter(generate_series(CAST(5 AS BIGINT), n),
                           p -> CAST(('0x' || substr(md5(array_to_string(
                                    list_slice(ts, p - 4, p - 1), ' ')),
                                    1, 8)) AS UBIGINT) % 64 = 0)
                   ELSE [] END) AS starts
        FROM base
    ),
    chunked AS (
        SELECT doc_id, source, ts, n,
               unnest(list_transform(generate_series(1, len(starts)),
                   i -> {'s': starts[CAST(i AS INT)],
                         'nx': coalesce(starts[CAST(i AS INT) + 1],
                                        n + 1)})) AS ch
        FROM st
    ),
    cdigest AS (
        SELECT doc_id, source,
               CAST(ch.nx - ch.s AS BIGINT) AS clen,
               md5(array_to_string(list_slice(ts, ch.s, ch.nx - 1), ' '))
                   AS dg
        FROM chunked
    )
    SELECT source,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(clen) AS BIGINT) AS total_tokens,
           CAST(count(DISTINCT dg) AS BIGINT) AS distinct_chunks,
           CAST((count(*) - count(DISTINCT dg)) * 1000000 // count(*)
                AS BIGINT) AS dup_chunk_ppm,
           CAST(sum(clen) * 100 // count(*) AS BIGINT)
               AS centitokens_per_chunk
    FROM cdigest GROUP BY source ORDER BY source
    """,
)
def llm_cdc_chunk_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking census per source — the FastCDC/rsync
    boundary trick re-expressed relationally: a chunk boundary falls
    wherever the rolling 4-token window's hash ≡ 0 (mod 64), so
    boundaries are decided by CONTENT, not offsets, and an insertion
    early in a document shifts only the chunk it lands in (offset-based
    chunking would shift every later chunk and defeat dedup). The
    per-source readout — chunk count, expected ~64-token chunk size,
    and the duplicated-chunk rate — is the sizing study for chunk-level
    dedup between near-identical crawl snapshots, sitting between
    whole-doc dedup (llm_dedup_exact_text) and substring dedup
    (llm_repeated_substring_census) on the granularity ladder.

    Scale design: boundary detection, chunk assembly, and chunk
    digests are ALL scan-stage higher-order functions over the one
    in-memory token array (zero exchanges until the census); the only
    corpus-sized shuffle is the source/digest distinct-count
    aggregate on 16-byte digests. The Spark `sequence(5, n)` is
    guarded (it generates DESCENDING sequences when n < 5 — a
    documented engine divergence; DuckDB's generate_series returns
    empty there).

    Cross-engine: identical md5 windows, integer chunk arithmetic,
    `//` ↔ `div` floor division."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    ts = F.filter(
        F.split(F.lower(F.col("text")), " ", -1), lambda t: t != ""
    )
    base = (
        docs.select("doc_id", "source", ts.alias("ts"))
        .withColumn("n", F.size("ts").cast("bigint"))
        .where(F.col("n") >= 1)
    )
    is_boundary = lambda p: (  # noqa: E731
        F.conv(
            F.substring(
                F.md5(
                    F.array_join(
                        F.slice(
                            F.col("ts"), (p - 4).cast("int"), 4
                        ),
                        " ",
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % 64
        == 0
    )
    st = base.withColumn(
        "starts",
        F.concat(
            F.array(F.lit(1).cast("bigint")),
            F.when(
                F.col("n") >= 5,
                F.filter(
                    F.sequence(F.lit(5).cast("bigint"), F.col("n")),
                    is_boundary,
                ),
            ).otherwise(F.array().cast("array<bigint>")),
        ),
    )
    chunks = F.transform(
        F.col("starts"),
        lambda s, i: F.struct(
            (
                F.coalesce(
                    F.try_element_at(
                        F.col("starts"), (i + F.lit(2)).cast("int")
                    ),
                    F.col("n") + 1,
                )
                - s
            ).alias("clen"),
            F.md5(
                F.array_join(
                    F.slice(
                        F.col("ts"),
                        s.cast("int"),
                        (
                            F.coalesce(
                                F.try_element_at(
                                    F.col("starts"),
                                    (i + F.lit(2)).cast("int"),
                                ),
                                F.col("n") + 1,
                            )
                            - s
                        ).cast("int"),
                    ),
                    " ",
                )
            ).alias("dg"),
        ),
    )
    cdigest = st.select(
        "doc_id", "source", F.explode(chunks).alias("ch")
    ).select(
        "doc_id",
        "source",
        F.col("ch.clen").cast("bigint").alias("clen"),
        F.col("ch.dg").alias("dg"),
    )
    return (
        cdigest.groupBy("source")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("clen").alias("total_tokens"),
            F.countDistinct("dg").alias("distinct_chunks"),
        )
        .select(
            "source",
            "n_docs",
            "n_chunks",
            "total_tokens",
            "distinct_chunks",
            F.expr(
                "(n_chunks - distinct_chunks) * 1000000 div n_chunks"
            )
            .cast("bigint")
            .alias("dup_chunk_ppm"),
            F.expr("total_tokens * 100 div n_chunks")
            .cast("bigint")
            .alias("centitokens_per_chunk"),
        )
        .orderBy("source")
    )


@register(
    "agg_tukey_hsd_pairs",
    oracle="""
    WITH samples AS (
        SELECT event_type AS grp,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events
    ),
    moments AS (
        SELECT grp,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(cents) AS BIGINT) AS sx,
               sum(CAST(cents AS HUGEINT) * CAST(cents AS HUGEINT)) AS sxx,
               -- exact integer FLOOR division: the old round(double)
               -- path hits G14a above 2^53 (Spark rounds the shortest
               -- decimal string, DuckDB the binary value) once a
               -- hostile 1e9 price inflates the group sums
               (CAST(sum(cents) AS HUGEINT) * sum(cents) * 1000)
                   // count(*) AS bterm_milli
        FROM samples GROUP BY grp
    ),
    pooled AS (
        SELECT CAST(count(*) AS BIGINT) AS k,
               CAST(sum(n) AS BIGINT) AS n_total,
               (CAST(sum(sxx) AS DOUBLE)
                - CAST(sum(bterm_milli) AS DOUBLE) / 1000)
               / (CAST(sum(n) AS DOUBLE) - count(*)) AS msw
        FROM moments
    )
    SELECT a.grp AS grp_a, b.grp AS grp_b,
           CAST(p.n_total - p.k AS BIGINT) AS df_within,
           round((CAST(a.sx AS DOUBLE) / a.n
                  - CAST(b.sx AS DOUBLE) / b.n) / 100, 6) AS mean_diff,
           round(abs(CAST(a.sx AS DOUBLE) / a.n
                     - CAST(b.sx AS DOUBLE) / b.n)
                 / sqrt(p.msw / 2
                        * (1.0 / a.n + 1.0 / b.n)), 6) AS q_stat
    FROM moments a
    JOIN moments b ON a.grp < b.grp
    CROSS JOIN pooled p
    ORDER BY grp_a, grp_b
    """,
)
def agg_tukey_hsd_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey HSD post-hoc table — the step AFTER agg_anova_oneway's
    omnibus F: every pair of event types with its mean difference and
    studentized-range q statistic computed against the POOLED
    within-group variance (that pooling is what distinguishes HSD from
    running C(k,2) Welch tests and is why its family-wise error holds).
    Read q against the studentized-range critical value for (k, df);
    the df_within column carries what you need.

    Exactness: reuses the ANOVA moment discipline verbatim — exact
    integer group moments, the one fractional cross-group term
    quantized to milli-units before pooling, every statistic a single
    double expression per PAIR row.

    Scale design: the corpus collapses to k group-moment rows in one
    aggregate; the pair space is the k×(k−1)/2 self-join of that
    bounded table with the 1-row pooled-variance broadcast — post-hoc
    testing is free at any corpus size."""
    ev = load(spark, sf_dir, "events").select("event_type", "value")
    cents = F.round(F.col("value") * 100).cast("bigint")
    moments = ev.groupBy(F.col("event_type").alias("grp")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(cents).alias("sx"),
        F.sum(cents.cast("decimal(38,0)") * cents.cast("decimal(38,0)"))
        .alias("sxx"),
    )
    # exact integer floor division via remainder subtraction (decimal
    # `/` is exact once the numerator is made divisible): round(double)
    # here would hit G14a above 2^53 — Spark rounds the shortest
    # decimal string, DuckDB the binary value — once hostile
    # magnitudes inflate the group sums
    _sxd = F.col("sx").cast("decimal(38,0)")
    _q = _sxd * _sxd * 1000
    moments = moments.withColumn(
        "bterm_milli",
        ((_q - _q % F.col("n")) / F.col("n")).cast("decimal(38,0)"),
    )
    pooled = moments.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n").alias("n_total"),
        # try_divide: n_total=k (one row per group) zeroes the within
        # df — NULL MSW, matching DuckDB's x/0 → NULL (ANSI throws, G18)
        F.try_divide(
            F.sum("sxx").cast("double")
            - F.sum("bterm_milli").cast("double") / 1000,
            F.sum("n").cast("double") - F.count(F.lit(1)),
        ).alias("msw"),
    )
    a = moments.select(
        F.col("grp").alias("grp_a"),
        F.col("n").alias("na"),
        F.col("sx").alias("sxa"),
    )
    b = moments.select(
        F.col("grp").alias("grp_b"),
        F.col("n").alias("nb"),
        F.col("sx").alias("sxb"),
    )
    diff = (
        F.col("sxa").cast("double") / F.col("na")
        - F.col("sxb").cast("double") / F.col("nb")
    )
    return (
        a.join(b, F.col("grp_a") < F.col("grp_b"))
        .crossJoin(F.broadcast(pooled))
        .select(
            "grp_a",
            "grp_b",
            (F.col("n_total") - F.col("k")).cast("bigint")
            .alias("df_within"),
            F.round(diff / 100, 6).alias("mean_diff"),
            F.round(
                F.try_divide(
                    F.abs(diff),
                    F.sqrt(
                        F.col("msw") / 2
                        * (
                            F.lit(1.0) / F.col("na")
                            + F.lit(1.0) / F.col("nb")
                        )
                    ),
                ),
                6,
            ).alias("q_stat"),
        )
        .orderBy("grp_a", "grp_b")
    )


@register(
    "llm_kneser_ney_bigram",
    oracle="""
    WITH toks AS (
        SELECT list_filter(string_split(lower(text), ' '), t -> t <> '')
                   AS ts
        FROM documents
    ),
    pairs AS (
        SELECT ts[CAST(i AS INT)] AS w1, ts[CAST(i AS INT) + 1] AS w2
        FROM (SELECT ts, unnest(generate_series(1, len(ts) - 1)) AS i
              FROM toks)
    ),
    bc AS (
        SELECT w1, w2, CAST(count(*) AS BIGINT) AS c
        FROM pairs GROUP BY 1, 2
    ),
    left_marg AS (
        SELECT w1, CAST(sum(c) AS BIGINT) AS c1,
               CAST(count(*) AS BIGINT) AS fanout
        FROM bc GROUP BY w1
    ),
    cont AS (
        SELECT w2, CAST(count(*) AS BIGINT) AS n_cont FROM bc GROUP BY w2
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_types FROM bc)
    SELECT b.w1, b.w2, b.c,
           round(CAST(b.c AS DOUBLE) / l.c1, 6) AS p_ml,
           round((b.c - 0.75) / l.c1
                 + (0.75 * l.fanout / l.c1)
                   * (CAST(co.n_cont AS DOUBLE) / t.n_types), 6) AS p_kn
    FROM bc b
    JOIN left_marg l USING (w1)
    JOIN cont co USING (w2)
    CROSS JOIN tot t
    ORDER BY b.c DESC, b.w1, b.w2
    LIMIT 30
    """,
)
def llm_kneser_ney_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kneser–Ney smoothed bigram probabilities (top 30 bigrams, with
    the MLE estimate alongside) — the n-gram estimator that actually
    ships: absolute discounting (d = 0.75) frees mass from observed
    bigrams, and the freed mass backs off to the CONTINUATION
    probability (how many distinct contexts a word completes, not how
    often it occurs) — the fix for "San Francisco" making "Francisco"
    look generally likely. Consumes the same counts as llm_bigram_lm
    (MLE) and llm_interpolated_lm_ppl (add-k interpolation),
    completing the smoothing family.

    Exactness: every ingredient — bigram counts, left marginals,
    fanouts N1+(w1·), continuation counts N1+(·w2), the type total —
    is an exact integer; c − d is exact in binary (0.75 dyadic); both
    probabilities are single double expressions per output row, and
    the top-30 cut orders by (c, w1, w2) so it is deterministic.

    Scale design: ONE corpus-sized shuffle (the (w1,w2) count with
    map-side combine); marginals, fanouts, and continuation counts are
    all reaggregations of that vocab²-bounded table joined back on
    vocab-grain keys; the scalar type total broadcasts. Same cost
    shape as training the MLE table."""
    docs = load(spark, sf_dir, "documents").select("text")
    ts = F.filter(
        F.split(F.lower(F.col("text")), " ", -1), lambda t: t != ""
    )
    # filter BEFORE pairing: sequence(1, 0) descends for 0/1-token
    # docs, driving element_at past the array (hostile-input sweep)
    toked = docs.select(ts.alias("ts")).filter(F.size("ts") >= 2)
    pairs = toked.select(
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.size("ts") - 1),
                lambda i: F.struct(
                    F.element_at("ts", i.cast("int")).alias("w1"),
                    F.element_at("ts", (i + 1).cast("int")).alias("w2"),
                ),
            )
        ).alias("p0", "pr")
    ).select("pr.w1", "pr.w2")
    # r12 (census + plan audit): this reduced frame is referenced by
    # several downstream branches and was re-planned per reference
    # (repeated corpus scans + re-paid shuffles); the lazy
    # localCheckpoint pins one evaluation — bit-identical rows.
    bc = (
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c"))
        .transform(
            pin, approx_input_bytes=input_size_bytes(sf_dir, "documents")
        )
    )
    left_marg = bc.groupBy("w1").agg(
        F.sum("c").alias("c1"), F.count(F.lit(1)).alias("fanout")
    )
    cont = bc.groupBy("w2").agg(F.count(F.lit(1)).alias("n_cont"))
    tot = bc.agg(F.count(F.lit(1)).alias("n_types"))
    return (
        bc.join(left_marg, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            "c",
            F.round(F.col("c").cast("double") / F.col("c1"), 6)
            .alias("p_ml"),
            F.round(
                (F.col("c") - 0.75) / F.col("c1")
                + (0.75 * F.col("fanout") / F.col("c1"))
                * (F.col("n_cont").cast("double") / F.col("n_types")),
                6,
            ).alias("p_kn"),
        )
        .orderBy(F.desc("c"), "w1", "w2")
        .limit(30)
    )


@register(
    "evt_competing_risks_cif",
    oracle="""
    WITH per_user AS (
        SELECT user_id,
               CAST(min(CAST(ts AS TIMESTAMP)) AS DATE) AS entry,
               min(CASE WHEN event_type = 'error'
                   THEN CAST(ts AS TIMESTAMP) END) AS te,
               min(CASE WHEN event_type = 'purchase'
                   THEN CAST(ts AS TIMESTAMP) END) AS tp,
               CAST(max(CAST(ts AS TIMESTAMP)) AS DATE) AS last_day
        FROM events GROUP BY user_id
    ),
    spans AS (
        SELECT user_id,
               CASE
                 WHEN te IS NOT NULL AND (tp IS NULL OR te <= tp)
                   THEN CAST(date_diff('day', entry, CAST(te AS DATE))
                             AS BIGINT)
                 WHEN tp IS NOT NULL
                   THEN CAST(date_diff('day', entry, CAST(tp AS DATE))
                             AS BIGINT)
                 ELSE CAST(date_diff('day', entry, last_day) AS BIGINT)
               END AS t,
               CASE
                 WHEN te IS NOT NULL AND (tp IS NULL OR te <= tp)
                   THEN 'error'
                 WHEN tp IS NOT NULL THEN 'purchase'
                 ELSE 'censor'
               END AS cause
        FROM per_user
    ),
    census AS (
        SELECT t,
               CAST(count(*) AS BIGINT) AS m,
               CAST(count(*) FILTER (cause = 'error') AS BIGINT) AS d_e,
               CAST(count(*) FILTER (cause = 'purchase') AS BIGINT) AS d_p
        FROM spans GROUP BY t
    ),
    risked AS (
        SELECT t, m, d_e, d_p,
               CAST((SELECT CAST(count(*) AS BIGINT) FROM spans)
                    - coalesce(sum(m) OVER (ORDER BY t
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING), 0) AS BIGINT) AS n
        FROM census
    ),
    terms AS (
        SELECT t, n, d_e, d_p,
               CASE WHEN n > d_e + d_p THEN
                   CAST(round(ln(CAST(n - d_e - d_p AS DOUBLE) / n)
                              * 1000000000) AS BIGINT)
               ELSE 0 END AS logterm_nano
        FROM risked
    ),
    surv AS (
        SELECT t, n, d_e, d_p, logterm_nano,
               exp(CAST(coalesce(sum(logterm_nano) OVER (ORDER BY t
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                     0) AS DOUBLE) / 1000000000) AS s_before
        FROM terms
    ),
    incr AS (
        SELECT t, n, d_e, d_p, logterm_nano, s_before,
               CAST(round(s_before * d_e / n * 1000000000) AS BIGINT)
                   AS ie_nano,
               CAST(round(s_before * d_p / n * 1000000000) AS BIGINT)
                   AS ip_nano
        FROM surv
    )
    SELECT t AS day, n AS n_at_risk, d_e AS n_error, d_p AS n_purchase,
           round(CASE WHEN max(CASE WHEN n = d_e + d_p THEN 1 ELSE 0 END)
                          OVER w = 1
                 THEN 0
                 ELSE exp(CAST(sum(logterm_nano) OVER w AS DOUBLE)
                          / 1000000000) END, 6) AS km_event_free,
           round(CAST(sum(ie_nano) OVER w AS DOUBLE) / 1000000000, 6)
               AS cif_error,
           round(CAST(sum(ip_nano) OVER w AS DOUBLE) / 1000000000, 6)
               AS cif_purchase
    FROM incr
    WINDOW w AS (ORDER BY t
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    QUALIFY d_e + d_p > 0
    ORDER BY t
    """,
)
def evt_competing_risks_cif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aalen–Johansen cumulative incidence under COMPETING risks — the
    correct answer when a user can leave by more than one door (first
    'error' = churn-by-failure vs first 'purchase' = conversion,
    whichever strikes first; neither = censored at last activity):
    1 − KM per cause OVERSTATES both risks because it treats the rival
    cause as censoring; the CIF increments S(t−)·d_k(t)/n(t) sum to
    the honest probabilities, and cif_error + cif_purchase +
    km_event_free = 1 at every row (the built-in audit,
    property-tested); once the risk set is exhausted (n = d) the KM
    survival is emitted as exactly 0 in both engines (ln(0) is
    undefined, so extinction is a flag, not a log term). Extends
    evt_survival_km (single risk) the way agg_anova_oneway extends
    agg_welch_ttest.

    Exactness: lifetimes and day-grain counts are exact integers; the
    KM product is the survival shelf's quantized-log discipline
    (ln terms → integer nano-nats → exact running sums); each CIF
    increment is one double quantized to nano-units per DAY row before
    its cumulative sum, so every running total is an exact integer
    sum. Error wins exact first-event ties (documented, both engines).

    Scale design: one user-keyed aggregate → one day-grain census
    (≤ observation span rows); every window runs over DAY rows
    (lint-whitelisted bounded grain); the only scalar broadcast is
    the 1-row cohort size."""
    ev = load(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    per_user = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("entry"),
        F.min(
            F.when(F.col("event_type") == "error", F.col("ts"))
        ).alias("te"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("tp"),
        F.max(F.col("ts").cast("date")).alias("last_day"),
    )
    err_first = F.col("te").isNotNull() & (
        F.col("tp").isNull() | (F.col("te") <= F.col("tp"))
    )
    spans = per_user.select(
        F.when(
            err_first, F.datediff(F.col("te").cast("date"), F.col("entry"))
        )
        .when(
            F.col("tp").isNotNull(),
            F.datediff(F.col("tp").cast("date"), F.col("entry")),
        )
        .otherwise(F.datediff(F.col("last_day"), F.col("entry")))
        .cast("bigint")
        .alias("t"),
        F.when(err_first, "error")
        .when(F.col("tp").isNotNull(), "purchase")
        .otherwise("censor")
        .alias("cause"),
    )
    census = spans.groupBy("t").agg(
        F.count(F.lit(1)).alias("m"),
        F.count(F.when(F.col("cause") == "error", 1)).alias("d_e"),
        F.count(F.when(F.col("cause") == "purchase", 1)).alias("d_p"),
    )
    total = spans.agg(F.count(F.lit(1)).alias("n_cohort"))
    w_prev = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    w_cur = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risked = census.crossJoin(F.broadcast(total)).withColumn(
        "n",
        F.col("n_cohort")
        - F.coalesce(F.sum("m").over(w_prev), F.lit(0)),
    )
    terms = risked.withColumn(
        "logterm_nano",
        F.when(
            F.col("n") > F.col("d_e") + F.col("d_p"),
            F.round(
                F.log(
                    (F.col("n") - F.col("d_e") - F.col("d_p")).cast(
                        "double"
                    )
                    / F.col("n")
                )
                * 1000000000
            ).cast("bigint"),
        ).otherwise(F.lit(0)),
    )
    surv = terms.withColumn(
        "s_before",
        F.exp(
            F.coalesce(
                F.sum("logterm_nano").over(w_prev), F.lit(0)
            ).cast("double")
            / 1000000000
        ),
    )
    incr = surv.withColumn(
        "ie_nano",
        F.round(
            F.col("s_before") * F.col("d_e") / F.col("n") * 1000000000
        ).cast("bigint"),
    ).withColumn(
        "ip_nano",
        F.round(
            F.col("s_before") * F.col("d_p") / F.col("n") * 1000000000
        ).cast("bigint"),
    )
    return (
        incr.select(
            F.col("t").alias("day"),
            F.col("n").alias("n_at_risk"),
            F.col("d_e").alias("n_error"),
            F.col("d_p").alias("n_purchase"),
            F.round(
                F.when(
                    F.max(
                        F.when(
                            F.col("n") == F.col("d_e") + F.col("d_p"), 1
                        ).otherwise(0)
                    ).over(w_cur)
                    == 1,
                    F.lit(0.0),
                ).otherwise(
                    F.exp(
                        F.sum("logterm_nano").over(w_cur).cast("double")
                        / 1000000000
                    )
                ),
                6,
            ).alias("km_event_free"),
            F.round(
                F.sum("ie_nano").over(w_cur).cast("double") / 1000000000,
                6,
            ).alias("cif_error"),
            F.round(
                F.sum("ip_nano").over(w_cur).cast("double") / 1000000000,
                6,
            ).alias("cif_purchase"),
            (F.col("d_e") + F.col("d_p")).alias("__events"),
        )
        .where(F.col("__events") > 0)
        .drop("__events")
        .orderBy("day")
    )


@register(
    "agg_mcnemar_paired",
    oracle="""
    WITH per_user AS (
        SELECT user_id,
               CASE WHEN count(*) FILTER (event_type = 'purchase'
                        AND ts <  TIMESTAMP '2024-01-16 00:00:00') >= 7
                    THEN 1 ELSE 0 END AS conv_pre,
               CASE WHEN count(*) FILTER (event_type = 'purchase'
                        AND ts >= TIMESTAMP '2024-01-16 00:00:00') >= 7
                    THEN 1 ELSE 0 END AS conv_post
        FROM events GROUP BY user_id
    ),
    cells AS (
        SELECT CAST(count(*) FILTER (conv_pre = 1 AND conv_post = 1)
                    AS BIGINT) AS both_conv,
               CAST(count(*) FILTER (conv_pre = 1 AND conv_post = 0)
                    AS BIGINT) AS b_pre_only,
               CAST(count(*) FILTER (conv_pre = 0 AND conv_post = 1)
                    AS BIGINT) AS c_post_only,
               CAST(count(*) FILTER (conv_pre = 0 AND conv_post = 0)
                    AS BIGINT) AS neither
        FROM per_user
    )
    SELECT both_conv, b_pre_only, c_post_only, neither,
           round(CAST((b_pre_only - c_post_only)
                      * (b_pre_only - c_post_only) AS DOUBLE)
                 / (b_pre_only + c_post_only), 6) AS mcnemar_chi2,
           round(CAST((abs(b_pre_only - c_post_only) - 1)
                      * (abs(b_pre_only - c_post_only) - 1) AS DOUBLE)
                 / (b_pre_only + c_post_only), 6) AS mcnemar_chi2_cc
    FROM cells
    """,
)
def agg_mcnemar_paired(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test for PAIRED binary outcomes — did each user's
    heavy-buyer status (≥7 purchases) CHANGE between the month halves? Unpaired
    tests (agg_welch_ttest, agg_ab_srm_check) waste the within-user
    pairing; McNemar uses only the discordant cells (converted-then-
    stopped vs started-converting), with both the classic χ² and the
    continuity-corrected form. The paired member of the
    experimentation shelf — the right test for before/after feature
    rollouts measured on the same users.

    Exactness: the 2×2 concordance table is one exact integer
    aggregate; both statistics are integer-arithmetic numerators over
    an integer denominator, evaluated once on the single output row.

    Scale design: one user-keyed map-combined aggregate → 1 row of
    four cells. Nothing else."""
    ev = load(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    cut = F.lit("2024-01-16 00:00:00").cast("timestamp_ntz")
    per_user = ev.groupBy("user_id").agg(
        F.when(
            F.count(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") < cut),
                    1,
                )
            )
            >= 7,
            1,
        )
        .otherwise(0)
        .alias("conv_pre"),
        F.when(
            F.count(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") >= cut),
                    1,
                )
            )
            >= 7,
            1,
        )
        .otherwise(0)
        .alias("conv_post"),
    )
    cells = per_user.agg(
        F.count(
            F.when((F.col("conv_pre") == 1) & (F.col("conv_post") == 1), 1)
        ).alias("both_conv"),
        F.count(
            F.when((F.col("conv_pre") == 1) & (F.col("conv_post") == 0), 1)
        ).alias("b_pre_only"),
        F.count(
            F.when((F.col("conv_pre") == 0) & (F.col("conv_post") == 1), 1)
        ).alias("c_post_only"),
        F.count(
            F.when((F.col("conv_pre") == 0) & (F.col("conv_post") == 0), 1)
        ).alias("neither"),
    )
    b, c = F.col("b_pre_only"), F.col("c_post_only")
    return cells.select(
        "both_conv",
        "b_pre_only",
        "c_post_only",
        "neither",
        # try_divide: zero discordant users (tiny/empty corpus) zeroes
        # b+c — NULL χ², matching DuckDB's x/0 → NULL (ANSI throws, G18)
        F.round(
            F.try_divide(((b - c) * (b - c)).cast("double"), b + c), 6
        ).alias("mcnemar_chi2"),
        F.round(
            F.try_divide(
                ((F.abs(b - c) - 1) * (F.abs(b - c) - 1)).cast("double"),
                b + c,
            ),
            6,
        ).alias("mcnemar_chi2_cc"),
    )


@register(
    "llm_context_bucket_waste",
    oracle="""
    WITH sized AS (
        SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents
    ),
    bucketed AS (
        SELECT n_tokens,
               CAST(power(2, CAST(ceil(ln(CAST(greatest(n_tokens, 1)
                                              AS DOUBLE)) / ln(2))
                                  AS BIGINT)) AS BIGINT) AS ctx_bucket
        FROM sized
    )
    SELECT ctx_bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS used_tokens,
           CAST(sum(ctx_bucket - n_tokens) AS BIGINT) AS padding_tokens,
           CAST(sum(ctx_bucket - n_tokens) * 1000000
                // sum(ctx_bucket) AS BIGINT) AS waste_ppm
    FROM bucketed
    GROUP BY ctx_bucket
    ORDER BY ctx_bucket
    """,
)
def llm_context_bucket_waste(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-length bucketing waste census — if each document is
    padded up to the next power-of-two sequence length (the standard
    bucketed-batching compromise between one giant context and
    per-length kernels), how much compute is padding? Per bucket:
    document count, real tokens, padding tokens, and waste in ppm —
    the table that decides whether sequence-packing
    (llm_pack_token_shards) is worth its complexity over plain
    bucketing for this corpus.

    Exactness: the bucket is 2^⌈log₂ n⌉ computed through the SAME
    ln-ratio/ceil/power expression in both engines on exact integer
    token counts (exactly representable powers; ln(2^k)/ln(2) lands
    on representable integers for the k range of real documents);
    waste ratios are integer `//`↔`div` floor divisions.

    Scale design: token count + bucket are scan-stage expressions; one
    map-combined aggregate to ≤log₂(max_len) bucket rows. The whole
    padding study is a single groupBy at any corpus size."""
    docs = load(spark, sf_dir, "documents").select("text")
    n_tokens = F.size(F.split(F.col("text"), " ", -1)).cast("bigint")
    sized = docs.select(n_tokens.alias("n_tokens"))
    bucket = F.pow(
        F.lit(2.0),
        F.ceil(
            F.log(F.greatest(F.col("n_tokens"), F.lit(1)).cast("double"))
            / F.log(F.lit(2.0))
        ).cast("bigint"),
    ).cast("bigint")
    return (
        sized.withColumn("ctx_bucket", bucket)
        .groupBy("ctx_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("used_tokens"),
            F.sum(F.col("ctx_bucket") - F.col("n_tokens")).alias(
                "padding_tokens"
            ),
        )
        .select(
            "ctx_bucket",
            "n_docs",
            "used_tokens",
            "padding_tokens",
            F.expr(
                "padding_tokens * 1000000 div (used_tokens"
                " + padding_tokens)"
            )
            .cast("bigint")
            .alias("waste_ppm"),
        )
        .orderBy("ctx_bucket")
    )


@register(
    "evt_hurst_exponent",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS x
        FROM events GROUP BY 1
    ),
    indexed AS (
        SELECT CAST(date_diff('day', (SELECT min(day) FROM daily), day)
                    AS BIGINT) AS idx,
               x
        FROM daily
    ),
    blocked AS (
        SELECT s.m, idx // s.m AS b, idx % s.m AS pos, x
        FROM indexed
        CROSS JOIN (SELECT unnest([CAST(4 AS BIGINT), 8, 16]) AS m) s
    ),
    cum AS (
        SELECT m, b, pos, x,
               sum(x) OVER (PARTITION BY m, b ORDER BY pos
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cx,
               sum(x) OVER (PARTITION BY m, b) AS sx,
               sum(CAST(x AS HUGEINT) * x) OVER (PARTITION BY m, b)
                   AS sxx,
               count(*) OVER (PARTITION BY m, b) AS cnt
        FROM blocked
    ),
    devs AS (
        SELECT m, b,
               CAST(max(m * cx - (pos + 1) * sx) AS BIGINT) AS maxd,
               CAST(min(m * cx - (pos + 1) * sx) AS BIGINT) AS mind,
               CAST(max(sx) AS BIGINT) AS sx,
               CAST(max(sxx) AS HUGEINT) AS sxx
        FROM cum WHERE cnt = m
        GROUP BY m, b
    ),
    rs AS (
        SELECT m,
               CAST(round(ln(CAST(maxd - mind AS DOUBLE)
                             / sqrt(CAST(m * sxx - CAST(sx AS HUGEINT)
                                         * sx AS DOUBLE)))
                          / ln(2) * 1000000000) AS BIGINT) AS l2_nano
        FROM devs
        WHERE m * sxx - CAST(sx AS HUGEINT) * sx > 0
          AND maxd > mind
    ),
    per_m AS (
        SELECT m, CAST(count(*) AS BIGINT) AS nb,
               round(CAST(sum(l2_nano) AS DOUBLE) / 1000000000
                     / count(*), 6) AS mean_log2_rs
        FROM rs GROUP BY m
    )
    SELECT
        max(CASE WHEN m = 4 THEN nb END) AS blocks_4,
        max(CASE WHEN m = 8 THEN nb END) AS blocks_8,
        max(CASE WHEN m = 16 THEN nb END) AS blocks_16,
        max(CASE WHEN m = 4 THEN mean_log2_rs END) AS log2_rs_4,
        max(CASE WHEN m = 8 THEN mean_log2_rs END) AS log2_rs_8,
        max(CASE WHEN m = 16 THEN mean_log2_rs END) AS log2_rs_16,
        round((max(CASE WHEN m = 16 THEN mean_log2_rs END)
               - max(CASE WHEN m = 4 THEN mean_log2_rs END)) / 2, 6)
            AS hurst_estimate
    FROM per_m
    """,
)
def evt_hurst_exponent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent of the daily traffic series by rescaled-range
    (R/S) analysis — the long-memory diagnostic: H ≈ 0.5 means
    day-to-day volumes are memoryless, H → 1 means shocks persist
    (capacity planning must hold reserves longer), H < 0.5 means
    mean-reversion. Complements the one-lag view of
    evt_activity_autocorr with behavior ACROSS time scales: R/S is
    computed in blocks of 4, 8, and 16 days and H is the log₂-log₂
    slope of its growth.

    Exactness: within each block the rescaled deviations are EXACT
    integers (m·cum_i − i·Σx — the evt_cusum_changepoint
    integer-deviation trick), as are the variance terms (128-bit);
    each block contributes ONE double (its log₂ R/S) quantized to
    nano-units before the per-size mean, and the slope is a closed
    form on the 3-row size table. Degenerate blocks (zero variance)
    are excluded identically in both engines.

    Scale design: corpus → day grain in one aggregate; the block
    machinery is a ×3 literal fan-out of ≤|days| rows with windows
    partitioned by (size, block) — every partition ≤ 16 rows. At any
    corpus size the R/S study costs the one day-grain reduction."""
    ev = load(spark, sf_dir, "events").select("ts")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).alias("x")
    )
    mind = daily.agg(F.min("day").alias("min_day"))
    indexed = daily.crossJoin(F.broadcast(mind)).select(
        F.datediff("day", "min_day").cast("bigint").alias("idx"), "x"
    )
    blocked = indexed.select(
        F.explode(
            F.array(
                F.lit(4).cast("bigint"),
                F.lit(8).cast("bigint"),
                F.lit(16).cast("bigint"),
            )
        ).alias("m"),
        "idx",
        "x",
    ).select(
        "m",
        F.expr("idx div m").alias("b"),
        (F.col("idx") % F.col("m")).alias("pos"),
        "x",
    )
    wb = Window.partitionBy("m", "b")
    wc = wb.orderBy("pos").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    cum = blocked.select(
        "m",
        "b",
        "pos",
        "x",
        F.sum("x").over(wc).alias("cx"),
        F.sum("x").over(wb).alias("sx"),
        F.sum(dec("x") * dec("x")).over(wb).alias("sxx"),
        F.count(F.lit(1)).over(wb).alias("cnt"),
    )
    dev = F.col("m") * F.col("cx") - (F.col("pos") + 1) * F.col("sx")
    devs = (
        cum.where(F.col("cnt") == F.col("m"))
        .groupBy("m", "b")
        .agg(
            F.max(dev).cast("bigint").alias("maxd"),
            F.min(dev).cast("bigint").alias("mind"),
            F.max("sx").cast("bigint").alias("sx"),
            F.max("sxx").alias("sxx"),
        )
    )
    var_term = F.col("m") * F.col("sxx") - dec("sx") * dec("sx")
    rs = devs.where(
        (var_term > 0) & (F.col("maxd") > F.col("mind"))
    ).select(
        "m",
        F.round(
            F.log(
                (F.col("maxd") - F.col("mind")).cast("double")
                / F.sqrt(var_term.cast("double"))
            )
            / F.log(F.lit(2.0))
            * 1000000000
        ).cast("bigint").alias("l2_nano"),
    )
    per_m = rs.groupBy("m").agg(
        F.count(F.lit(1)).alias("nb"),
        F.round(
            F.sum("l2_nano").cast("double") / 1000000000
            / F.count(F.lit(1)),
            6,
        ).alias("mean_log2_rs"),
    )

    def pick(m, c):
        return F.max(F.when(F.col("m") == m, F.col(c)))

    return per_m.agg(
        pick(4, "nb").alias("blocks_4"),
        pick(8, "nb").alias("blocks_8"),
        pick(16, "nb").alias("blocks_16"),
        pick(4, "mean_log2_rs").alias("log2_rs_4"),
        pick(8, "mean_log2_rs").alias("log2_rs_8"),
        pick(16, "mean_log2_rs").alias("log2_rs_16"),
        F.round(
            (pick(16, "mean_log2_rs") - pick(4, "mean_log2_rs")) / 2, 6
        ).alias("hurst_estimate"),
    )


@register(
    "pipeline_cohort_repeat_purchase",
    oracle="""
    WITH ranked AS (
        SELECT o_custkey,
               CAST(o_orderdate AS DATE) AS od,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate, o_orderkey) AS rn
        FROM orders
    ),
    firsts AS (
        SELECT o_custkey, od AS d1,
               strftime(date_trunc('month', od), '%Y-%m') AS cohort
        FROM ranked WHERE rn = 1
    ),
    seconds AS (
        SELECT o_custkey, od AS d2 FROM ranked WHERE rn = 2
    ),
    spans AS (
        SELECT f.cohort,
               CASE WHEN s.o_custkey IS NULL THEN NULL
                    ELSE CAST(date_diff('day', f.d1, s.d2) AS BIGINT)
               END AS gap_days
        FROM firsts f LEFT JOIN seconds s USING (o_custkey)
    ),
    cohort_tot AS (
        SELECT cohort,
               CAST(count(*) AS BIGINT) AS n_customers,
               CAST(count(gap_days) AS BIGINT) AS n_repeat
        FROM spans GROUP BY cohort
    ),
    gc AS (
        SELECT cohort, gap_days, CAST(count(*) AS BIGINT) AS c
        FROM spans WHERE gap_days IS NOT NULL
        GROUP BY cohort, gap_days
    ),
    med AS (
        SELECT cohort, CAST(min(gap_days) AS BIGINT) AS median_gap_days
        FROM (
            SELECT g.cohort, g.gap_days, t.n_repeat,
                   sum(g.c) OVER (PARTITION BY g.cohort
                                  ORDER BY g.gap_days) AS cum
            FROM gc g JOIN cohort_tot t USING (cohort)
        )
        WHERE cum >= (n_repeat + 1) // 2
        GROUP BY cohort
    )
    SELECT t.cohort, t.n_customers, t.n_repeat,
           CAST(t.n_repeat * 1000000 // t.n_customers AS BIGINT)
               AS repeat_ppm,
           m.median_gap_days
    FROM cohort_tot t LEFT JOIN med m USING (cohort)
    ORDER BY t.cohort
    """,
)
def pipeline_cohort_repeat_purchase(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Repeat-purchase curve by acquisition cohort — for customers whose
    FIRST order lands in month M: how many ever order again, and the
    median days from first to second order. The lifecycle-marketing
    readout that evt_retention_cohorts gives for event activity,
    re-expressed on the ORDERS fact (the money, not the clicks).

    Exactness: order ranks use the (date, orderkey) total order; gaps
    are integer days; the per-cohort median gap is an exact order
    statistic read from cumulative counts (the agg_mad_robust_outliers
    histogram-median discipline — no interpolation, no float).

    Scale design: one customer-keyed window ranks each customer's own
    orders (per-partition rows = orders per customer, bounded by
    behavior, not corpus); cohort totals and the gap histogram are
    (cohort)- and (cohort, gap)-grain aggregates; the median window
    runs over DISTINCT-GAP rows (calendar-bounded). No corpus-grain
    window anywhere."""
    orders = load(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate"
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    ranked = orders.select(
        "o_custkey",
        F.col("o_orderdate").cast("date").alias("od"),
        F.row_number().over(w).alias("rn"),
    )
    # r12 (census + plan audit): ranked fed firsts AND seconds, and
    # spans fed the totals AND the gap histogram — re-planned per
    # reference, the plan scanned orders 6 times and re-paid the
    # customer window. One lazily checkpointed rn<=2 frame (keeps the
    # WindowGroupLimit(2) pushdown, <=2 rows per customer) serves both
    # rank filters, and the checkpointed customer-grain spans serves
    # both aggregates; integer/date arithmetic → identical rows.
    top2 = ranked.where(F.col("rn") <= 2).transform(
        pin, approx_input_bytes=input_size_bytes(sf_dir, "customer")
    )
    firsts = top2.where(F.col("rn") == 1).select(
        "o_custkey",
        F.col("od").alias("d1"),
        F.date_format(F.date_trunc("month", "od"), "yyyy-MM").alias(
            "cohort"
        ),
    )
    seconds = top2.where(F.col("rn") == 2).select(
        F.col("o_custkey").alias("ck2"), F.col("od").alias("d2")
    )
    spans = (
        firsts.join(seconds, firsts.o_custkey == seconds.ck2, "left")
        .select(
            "cohort",
            F.when(
                F.col("ck2").isNotNull(),
                F.datediff("d2", "d1").cast("bigint"),
            ).alias("gap_days"),
        )
        .transform(
            pin, approx_input_bytes=input_size_bytes(sf_dir, "customer")
        )
    )
    cohort_tot = spans.groupBy("cohort").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.count("gap_days").alias("n_repeat"),
    )
    gc = (
        spans.where(F.col("gap_days").isNotNull())
        .groupBy("cohort", "gap_days")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wm = Window.partitionBy("cohort").orderBy("gap_days")
    med = (
        gc.join(F.broadcast(cohort_tot), "cohort")
        .withColumn("cum", F.sum("c").over(wm))
        .where(F.col("cum") >= F.expr("(n_repeat + 1) div 2"))
        .groupBy("cohort")
        .agg(F.min("gap_days").cast("bigint").alias("median_gap_days"))
    )
    return (
        cohort_tot.join(med, "cohort", "left")
        .select(
            "cohort",
            "n_customers",
            "n_repeat",
            F.expr("n_repeat * 1000000 div n_customers")
            .cast("bigint")
            .alias("repeat_ppm"),
            "median_gap_days",
        )
        .orderBy("cohort")
    )


@register(
    "evt_extreme_value_pot",
    oracle="""
    WITH cents AS (
        SELECT CAST(round(value * 100) AS BIGINT) AS x
        FROM events WHERE event_type = 'purchase'
    ),
    thresh AS (
        SELECT CAST(max(x) AS BIGINT) AS u FROM (
            SELECT x, CAST(count(*) AS BIGINT) AS c FROM cents GROUP BY x
        ), (SELECT CAST(count(*) AS BIGINT) AS n FROM cents) t
        WHERE (SELECT CAST(sum(c2.c) AS BIGINT) FROM (
                   SELECT x AS x2, CAST(count(*) AS BIGINT) AS c
                   FROM cents GROUP BY x) c2
               WHERE c2.x2 <= x) <= t.n * 9 // 10
    ),
    exc AS (
        SELECT CAST(x - u AS BIGINT) AS e, u
        FROM cents CROSS JOIN thresh WHERE x > u
    ),
    mom AS (
        SELECT CAST(max(u) AS BIGINT) AS u,
               CAST(count(*) AS BIGINT) AS k,
               CAST(sum(e) AS BIGINT) AS se,
               sum(CAST(e AS HUGEINT) * e) AS see,
               CAST(max(e) AS BIGINT) AS emax
        FROM exc
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM cents)
    SELECT round(CAST(u AS DOUBLE) / 100, 2) AS threshold,
           k AS n_exceedances,
           round(0.5 * (1 - (CAST(se AS DOUBLE) / k)
                            * (CAST(se AS DOUBLE) / k)
                            / ((CAST(see AS DOUBLE)
                                - CAST(se AS DOUBLE) * se / k) / (k - 1))),
                 6) AS gpd_xi,
           round(0.5 * (CAST(se AS DOUBLE) / k)
                 * ((CAST(se AS DOUBLE) / k) * (CAST(se AS DOUBLE) / k)
                    / ((CAST(see AS DOUBLE)
                        - CAST(se AS DOUBLE) * se / k) / (k - 1)) + 1)
                 / 100, 6) AS gpd_sigma,
           round(CAST(emax AS DOUBLE) / 100, 2) AS max_exceedance,
           round(CAST(k AS DOUBLE) / n, 6) AS exceed_rate
    FROM mom CROSS JOIN tot
    """,
)
def evt_extreme_value_pot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peaks-over-threshold extreme-value analysis of purchase values —
    the tail-risk readout behind fraud limits and capacity ceilings:
    exceedances above the (exact, histogram-derived) 90th-percentile
    threshold are fit to a Generalized Pareto distribution by the
    closed-form method of moments (ξ = ½(1 − m²/s²), σ = ½m(m²/s²+1)).
    ξ > 0 says the tail is heavy (finite moments run out — budget for
    outliers far beyond anything yet seen); ξ < 0 says the tail is
    bounded. The EXTREME-tail complement of agg_mad_robust_outliers'
    bulk screen.

    Exactness: the threshold is an exact order statistic from
    value-grain counts (largest value with cumulative count ≤ 0.9n —
    no percentile interpolation); exceedance moments are exact
    integers (Σe bigint, Σe² 128-bit); ξ and σ are single double
    expressions on the one output row.

    Scale design: one value-grain count aggregate gives the threshold
    (distinct-value rows, not corpus rows); the exceedance pass is a
    map-only filter against the broadcast threshold feeding one moment
    aggregate. Tail analysis at 100 TB = two cheap passes, one of
    them over a histogram."""
    ev = load(spark, sf_dir, "events").select("event_type", "value")
    cents = ev.where(F.col("event_type") == "purchase").select(
        F.round(F.col("value") * 100).cast("bigint").alias("x")
    )
    # r12 (census + plan audit): referenced by several downstream
    # branches and re-planned per reference (repeated corpus scans /
    # re-paid shuffles). r13: the frame's grain GROWS WITH THE CORPUS,
    # so the pin is size-gated — one pinned evaluation while the
    # bounding input is small, recompute (lineage kept, bounded
    # executor storage) at scale; rows are bit-identical either way.
    vc = (
        cents.groupBy("x")
        .agg(F.count(F.lit(1)).alias("c"))
        .transform(pin, approx_input_bytes=input_size_bytes(sf_dir, "events"))
    )
    tot = vc.agg(F.sum("c").alias("n"))
    w = Window.orderBy("x").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    thresh = (
        vc.withColumn("cum", F.sum("c").over(w))
        .crossJoin(F.broadcast(tot))
        .where(F.col("cum") <= F.expr("n * 9 div 10"))
        .agg(F.max("x").cast("bigint").alias("u"))
    )
    exc = (
        cents.crossJoin(F.broadcast(thresh))
        .where(F.col("x") > F.col("u"))
        .select((F.col("x") - F.col("u")).alias("e"), "u")
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    mom = exc.agg(
        F.max("u").cast("bigint").alias("u"),
        F.count(F.lit(1)).alias("k"),
        F.sum("e").alias("se"),
        F.sum(dec("e") * dec("e")).alias("see"),
        F.max("e").cast("bigint").alias("emax"),
    )
    m = F.col("se").cast("double") / F.col("k")
    s2 = (
        F.col("see").cast("double")
        - F.col("se").cast("double") * F.col("se") / F.col("k")
    ) / (F.col("k") - 1)
    ratio = m * m / s2
    return mom.crossJoin(F.broadcast(tot)).select(
        F.round(F.col("u").cast("double") / 100, 2).alias("threshold"),
        F.col("k").alias("n_exceedances"),
        F.round(0.5 * (1 - ratio), 6).alias("gpd_xi"),
        F.round(0.5 * m * (ratio + 1) / 100, 6).alias("gpd_sigma"),
        F.round(F.col("emax").cast("double") / 100, 2).alias(
            "max_exceedance"
        ),
        F.round(F.col("k").cast("double") / F.col("n"), 6).alias(
            "exceed_rate"
        ),
    )


@register(
    "agg_rank_biased_overlap",
    oracle="""
    WITH rev AS (
        SELECT p.p_brand,
               CAST(sum(CASE WHEN l.l_shipdate
                                  < TIMESTAMP '1995-07-01 00:00:00'
                        THEN CAST(round(l.l_extendedprice * 100) AS BIGINT)
                        ELSE 0 END) AS BIGINT) AS rev_a,
               CAST(sum(CASE WHEN l.l_shipdate
                                  >= TIMESTAMP '1995-07-01 00:00:00'
                        THEN CAST(round(l.l_extendedprice * 100) AS BIGINT)
                        ELSE 0 END) AS BIGINT) AS rev_b
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        WHERE l.l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
          AND l.l_shipdate <  TIMESTAMP '1996-01-01 00:00:00'
        GROUP BY p.p_brand
    ),
    ranked AS (
        SELECT p_brand,
               row_number() OVER (ORDER BY rev_a DESC, p_brand) AS ra,
               row_number() OVER (ORDER BY rev_b DESC, p_brand) AS rb
        FROM rev
    ),
    depth_entry AS (
        SELECT p_brand, greatest(ra, rb) AS m FROM ranked
    ),
    depths AS (
        SELECT CAST(unnest(generate_series(1,
                   (SELECT CAST(count(*) AS BIGINT) FROM rev))) AS BIGINT)
               AS d
    ),
    ovl AS (
        SELECT d.d,
               CAST((SELECT count(*) FROM depth_entry e WHERE e.m <= d.d)
                    AS BIGINT) AS o
        FROM depths d
    ),
    terms AS (
        SELECT d, o,
               CAST(round(pow(0.9, CAST(d - 1 AS DOUBLE))
                          * o / d * 1000000000) AS BIGINT) AS term_nano
        FROM ovl
    )
    SELECT CAST(max(d) AS BIGINT) AS depth,
           CAST(max(CASE WHEN d = 1 THEN o END) AS BIGINT)
               AS top1_agree,
           CAST(max(CASE WHEN d = 5 THEN o END) AS BIGINT)
               AS top5_overlap,
           round(0.09999999999999998 * CAST(sum(term_nano) AS DOUBLE)
                 / 1000000000, 6) AS rbo_p09
    FROM terms
    """,
)
def agg_rank_biased_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap (RBO, p = 0.9) between the H1-1995 and
    H2-1995 brand revenue rankings — the principled way to compare two
    TOP-WEIGHTED rankings (Kendall/Spearman treat rank 1 and rank 25
    swaps identically; RBO's geometric depth weights make the head
    dominate, which is what "did our leaderboard change?" actually
    asks). Also emits top-1 agreement and top-5 overlap as the
    human-readable cut.

    Exactness: both rankings are exact integer ranks with full
    tiebreaks; overlap-at-depth o_d comes from the max(rank_a, rank_b)
    trick — brand is inside BOTH top-d lists iff max(ra, rb) ≤ d — so
    every o_d is an exact count; each depth's weighted term is
    quantized to nano before the sum. The (1−p) normalizer is written
    as the same literal in both engines.

    Scale design: the corpus collapses to |brands| revenue rows in one
    filtered aggregate; ranks, depths (|brands|²-bounded pair of tiny
    relations), and the RBO fold all run on bounded tables. Comparing
    two 100 TB-derived leaderboards costs one scan."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_shipdate", "l_extendedprice"
    )
    part = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    mid = F.lit("1995-07-01 00:00:00").cast("timestamp_ntz")
    lo = F.lit("1995-01-01 00:00:00").cast("timestamp_ntz")
    hi = F.lit("1996-01-01 00:00:00").cast("timestamp_ntz")
    cents = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    rev = (
        li.where((F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi))
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.sum(
                F.when(F.col("l_shipdate") < mid, cents).otherwise(0)
            ).alias("rev_a"),
            F.sum(
                F.when(F.col("l_shipdate") >= mid, cents).otherwise(0)
            ).alias("rev_b"),
        )
    )
    wa = Window.orderBy(F.desc("rev_a"), "p_brand")
    wb = Window.orderBy(F.desc("rev_b"), "p_brand")
    ranked = rev.select(
        "p_brand",
        F.row_number().over(wa).alias("ra"),
        F.row_number().over(wb).alias("rb"),
    )
    entry = ranked.select(
        F.greatest("ra", "rb").cast("bigint").alias("m")
    )
    nbrands = rev.agg(F.count(F.lit(1)).alias("nb"))
    # G10 guard: sequence(1, 0) is DESCENDING in Spark ([1, 0] — the
    # d=0 row then divides by zero); an empty window must produce zero
    # depth rows, as DuckDB's empty generate_series does natively
    depths = nbrands.select(
        F.explode(
            F.when(
                F.col("nb") >= 1,
                F.sequence(F.lit(1).cast("bigint"), F.col("nb")),
            ).otherwise(F.lit(None).cast("array<bigint>"))
        ).alias("d")
    )
    overlaps = (
        depths.join(entry, F.col("m") <= F.col("d"), "left")
        .groupBy("d")
        .agg(F.count("m").alias("o"))
    )
    terms = overlaps.select(
        "d",
        "o",
        F.round(
            F.pow(F.lit(0.9), (F.col("d") - 1).cast("double"))
            * F.col("o")
            / F.col("d")
            * 1000000000
        ).cast("bigint").alias("term_nano"),
    )

    def pick(d, c):
        return F.max(F.when(F.col("d") == d, F.col(c)))

    return terms.agg(
        F.max("d").cast("bigint").alias("depth"),
        pick(1, "o").cast("bigint").alias("top1_agree"),
        pick(5, "o").cast("bigint").alias("top5_overlap"),
        F.round(
            F.lit(0.09999999999999998)
            * F.sum("term_nano").cast("double")
            / 1000000000,
            6,
        ).alias("rbo_p09"),
    )


@register(
    "evt_chain_ladder_projection",
    oracle="""
    WITH o AS (
        SELECT o_custkey,
               CAST(extract(year FROM o_orderdate) * 12
                    + extract(month FROM o_orderdate) - 1 AS BIGINT)
                   AS m_idx,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ),
    coh AS (
        SELECT o_custkey, CAST(min(m_idx) AS BIGINT) AS c_idx FROM o
        GROUP BY o_custkey
    ),
    cap AS (SELECT CAST(max(m_idx) AS BIGINT) AS mmax FROM o),
    inc AS (
        SELECT c.c_idx, o.m_idx - c.c_idx AS age,
               CAST(sum(o.cents) AS BIGINT) AS rev
        FROM o JOIN coh c USING (o_custkey)
        GROUP BY c.c_idx, o.m_idx - c.c_idx
    ),
    dense AS (
        SELECT g.c_idx, g.age, CAST(coalesce(i.rev, 0) AS BIGINT) AS rev
        FROM (
            SELECT c_idx,
                   CAST(unnest(generate_series(0, mmax - c_idx))
                        AS BIGINT) AS age
            FROM (SELECT DISTINCT c_idx FROM coh) CROSS JOIN cap
        ) g
        LEFT JOIN inc i ON i.c_idx = g.c_idx AND i.age = g.age
    ),
    cum AS (
        SELECT c_idx, age,
               CAST(sum(rev) OVER (PARTITION BY c_idx ORDER BY age)
                    AS BIGINT) AS c
        FROM dense
    ),
    fac AS (
        SELECT age,
               CAST(round(ln(CAST(sum(nxt) AS DOUBLE) / sum(c))
                          * 1000000000) AS BIGINT) AS lnf_nano
        FROM (
            SELECT c_idx, age, c,
                   lead(c) OVER (PARTITION BY c_idx ORDER BY age) AS nxt
            FROM cum
        )
        WHERE nxt IS NOT NULL
        GROUP BY age
    ),
    sfx AS (
        SELECT age,
               CAST(sum(lnf_nano) OVER (ORDER BY age DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS sfx_nano
        FROM fac
    ),
    lasts AS (
        SELECT cum.c_idx, cum.age AS last_age, cum.c AS cum_rev
        FROM cum CROSS JOIN cap WHERE cum.age = cap.mmax - cum.c_idx
    )
    SELECT printf('%04d-%02d', l.c_idx // 12,
                  l.c_idx % 12 + 1) AS cohort,
           l.last_age, round(CAST(l.cum_rev AS DOUBLE) / 100, 2)
               AS cum_revenue,
           round(CAST(l.cum_rev AS DOUBLE) / 100
                 * exp(CAST(coalesce(s.sfx_nano, 0) AS DOUBLE)
                       / 1000000000), 2) AS ultimate_revenue
    FROM lasts l LEFT JOIN sfx s ON s.age = l.last_age
    ORDER BY cohort
    """,
)
def evt_chain_ladder_projection(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Chain-ladder cohort development — the actuarial triangle applied
    to revenue: cohorts (month of first order) accumulate revenue by
    AGE, volume-weighted development factors f_j = ΣC_{·,j+1}/ΣC_{·,j}
    are estimated from every cohort pair observed at both ages, and
    each immature cohort's current total is run out through the
    remaining factors to an ULTIMATE projection. The standard answer
    to "this quarter's cohort looks small — is it small, or just
    young?" that naive cohort comparisons get wrong.

    Exactness: month indices and the dense cohort×age cumulative
    triangle are exact integers (missing months zero-filled so factor
    denominators align across engines); each factor is a ratio of two
    exact integer sums whose ln is quantized to nano per AGE row; the
    factor product is an exact integer suffix-sum exponentiated once
    per cohort.

    Scale design: one customer-keyed cohort assignment + one
    (cohort, age) aggregate collapse the corpus; the dense triangle is
    |cohorts|×|ages| (calendar² — bounded); all windows run on
    triangle or factor rows. Chain-ladder on 100 TB of orders = two
    keyed shuffles."""
    o = load(spark, sf_dir, "orders").select(
        "o_custkey",
        (
            F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1
        ).cast("bigint").alias("m_idx"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    # r12 (census + plan audit): coh/cap/cum are each referenced by
    # several downstream branches and Catalyst re-planned their whole
    # subtrees per reference — the physical plan scanned orders 9 times
    # and re-paid the customer-grain cohort shuffle, against this
    # docstring's two-keyed-shuffles claim. Lazy localCheckpoints of
    # the three REDUCED frames (customer grain / 1 row / triangle
    # grain, all computed inside the first action) pin one evaluation
    # each; integer arithmetic throughout → bit-identical output.
    coh = (
        o.groupBy("o_custkey")
        .agg(F.min("m_idx").alias("c_idx"))
        .transform(
            pin, approx_input_bytes=input_size_bytes(sf_dir, "customer")
        )
    )
    cap = o.agg(F.max("m_idx").alias("mmax")).transform(pin)
    inc = (
        o.join(coh, "o_custkey")
        .groupBy("c_idx", (F.col("m_idx") - F.col("c_idx")).alias("age"))
        .agg(F.sum("cents").alias("rev"))
    )
    grid = (
        coh.select("c_idx")
        .distinct()
        .crossJoin(F.broadcast(cap))
        .select(
            "c_idx",
            F.explode(
                F.sequence(
                    F.lit(0).cast("bigint"),
                    F.col("mmax") - F.col("c_idx"),
                )
            ).alias("age"),
        )
    )
    dense = grid.join(inc, ["c_idx", "age"], "left").select(
        "c_idx", "age", F.coalesce(F.col("rev"), F.lit(0)).alias("rev")
    )
    wc = Window.partitionBy("c_idx").orderBy("age")
    cum = dense.select(
        "c_idx", "age", F.sum("rev").over(wc).cast("bigint").alias("c")
    ).transform(pin)
    nxt = cum.withColumn("nxt", F.lead("c").over(wc))
    fac = (
        nxt.where(F.col("nxt").isNotNull())
        .groupBy("age")
        .agg(
            F.round(
                F.log(F.sum("nxt").cast("double") / F.sum("c"))
                * 1000000000
            ).cast("bigint").alias("lnf_nano")
        )
    )
    ws = Window.orderBy(F.desc("age")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sfx = fac.select(
        "age", F.sum("lnf_nano").over(ws).cast("bigint").alias("sfx_nano")
    )
    lasts = cum.crossJoin(F.broadcast(cap)).where(
        F.col("age") == F.col("mmax") - F.col("c_idx")
    ).select("c_idx", F.col("age").alias("last_age"), F.col("c").alias("cum_rev"))
    return (
        lasts.join(sfx, lasts.last_age == sfx.age, "left")
        .select(
            F.format_string(
                "%04d-%02d",
                F.expr("c_idx div 12").cast("int"),
                (F.col("c_idx") % 12 + 1).cast("int"),
            ).alias("cohort"),
            "last_age",
            F.round(F.col("cum_rev").cast("double") / 100, 2).alias(
                "cum_revenue"
            ),
            F.round(
                F.col("cum_rev").cast("double")
                / 100
                * F.exp(
                    F.coalesce(F.col("sfx_nano"), F.lit(0)).cast("double")
                    / 1000000000
                ),
                2,
            ).alias("ultimate_revenue"),
        )
        .orderBy("cohort")
    )


@register(
    "evt_lead_lag_ccf",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS x,
               CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT)
                   AS y
        FROM events GROUP BY 1
    ),
    lags AS (
        SELECT CAST(unnest(generate_series(-7, 7)) AS BIGINT) AS lag_days
    ),
    pairs AS (
        SELECT l.lag_days, a.x, b.y
        FROM daily a
        CROSS JOIN lags l
        JOIN daily b ON b.day = a.day + CAST(l.lag_days AS INTEGER)
    ),
    mom AS (
        SELECT lag_days,
               CAST(count(*) AS BIGINT) AS k,
               CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(y) AS BIGINT) AS sy,
               sum(CAST(x AS HUGEINT) * x) AS sxx,
               sum(CAST(y AS HUGEINT) * y) AS syy,
               sum(CAST(x AS HUGEINT) * y) AS sxy
        FROM pairs GROUP BY lag_days
    )
    SELECT lag_days, k AS n_days,
           round((CAST(k AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                 / nullif(sqrt((CAST(k AS DOUBLE) * sxx
                                - CAST(sx AS DOUBLE) * sx)
                               * (CAST(k AS DOUBLE) * syy
                                  - CAST(sy AS DOUBLE) * sy)), 0), 6)
               AS ccf
    FROM mom
    ORDER BY lag_days
    """,
)
def evt_lead_lag_ccf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-correlation function between daily click volume and daily
    purchase volume at lags -7..+7 days — the "does today's click spike
    predict purchases two days later?" diagnostic. A CCF peaked at a
    positive lag quantifies the conversion delay; a flat CCF says the
    series co-move only through shared seasonality.

    Exactness: the corpus reduces to DAY grain with integer counts;
    per-lag moments are exact integer sums (cross products in 128-bit),
    so partial aggregation order cannot change them; Pearson r is one
    double expression per OUTPUT row (15 rows) with a nullif guard on
    zero-variance overlaps, identical in both engines.

    Scale design: one date-keyed map-combined aggregate collapses the
    corpus to <=|days| rows; the 15-row lag fan-out and the shifted
    self-join run on that bounded day table (day+lag stays an equi
    key). At 100 TB the day table is still 365 rows/year — the CCF
    costs one scan regardless of corpus size."""
    ev = load(spark, sf_dir, "events").select("ts", "event_type")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.when(F.col("event_type") == "click", 1)).alias("x"),
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias("y"),
    )
    lags = spark.range(1).select(
        F.explode(F.sequence(F.lit(-7), F.lit(7))).alias("lag_days")
    ).select(F.col("lag_days").cast("bigint").alias("lag_days"))
    b = daily.select(F.col("day").alias("bday"), F.col("y").alias("by"))
    pairs = (
        daily.crossJoin(F.broadcast(lags))
        .withColumn(
            "tday", F.date_add(F.col("day"), F.col("lag_days").cast("int"))
        )
        .join(b, F.col("bday") == F.col("tday"))
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    mom = pairs.groupBy("lag_days").agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("x").alias("sx"),
        F.sum("by").alias("sy"),
        F.sum(dec("x") * dec("x")).alias("sxx"),
        F.sum(dec("by") * dec("by")).alias("syy"),
        F.sum(dec("x") * dec("by")).alias("sxy"),
    )
    kd = F.col("k").cast("double")
    denom = F.sqrt(
        (kd * F.col("sxx").cast("double")
         - F.col("sx").cast("double") * F.col("sx"))
        * (kd * F.col("syy").cast("double")
           - F.col("sy").cast("double") * F.col("sy"))
    )
    return mom.select(
        "lag_days",
        F.col("k").alias("n_days"),
        F.round(
            (kd * F.col("sxy").cast("double")
             - F.col("sx").cast("double") * F.col("sy"))
            / F.nullif(denom, F.lit(0.0)),
            6,
        ).alias("ccf"),
    ).orderBy("lag_days")


@register(
    "evt_runs_test_randomness",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM events GROUP BY 1, 2
    ),
    med AS (
        SELECT event_type, cents AS mcents FROM (
            SELECT event_type, cents,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY cents, day) AS rn,
                   count(*) OVER (PARTITION BY event_type) AS n
            FROM daily
        ) WHERE rn = (n + 1) // 2
    ),
    signed AS (
        SELECT d.event_type, d.day,
               CASE WHEN d.cents > m.mcents THEN 1 ELSE -1 END AS s
        FROM daily d JOIN med m USING (event_type)
        WHERE d.cents <> m.mcents
    ),
    runs AS (
        SELECT event_type, s,
               CASE WHEN s = lag(s) OVER (PARTITION BY event_type
                                          ORDER BY day)
                    THEN 0 ELSE 1 END AS brk
        FROM signed
    ),
    cells AS (
        SELECT event_type,
               CAST(count(*) FILTER (s = 1) AS BIGINT) AS n_pos,
               CAST(count(*) FILTER (s = -1) AS BIGINT) AS n_neg,
               CAST(sum(brk) AS BIGINT) AS n_runs
        FROM runs GROUP BY event_type
    )
    SELECT event_type, n_pos, n_neg, n_runs,
           round((CAST(n_runs AS DOUBLE)
                  - (1.0 + 2.0 * n_pos * n_neg / (n_pos + n_neg)))
                 / nullif(sqrt((2.0 * n_pos * n_neg
                                * (2.0 * n_pos * n_neg - n_pos - n_neg))
                               / (CAST(n_pos + n_neg AS DOUBLE)
                                  * (n_pos + n_neg)
                                  * (n_pos + n_neg - 1))), 0), 6)
               AS runs_z
    FROM cells
    ORDER BY event_type
    """,
)
def evt_runs_test_randomness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test per event type: is the sequence of
    daily revenue totals above/below its median consistent with
    randomness, or does it trend/oscillate? Too FEW runs flags
    autocorrelated drift (a ramping bot, a decaying campaign); too
    MANY flags alternation (load-balancer flapping between logging
    configs). |z| > 1.96 rejects randomness at 5%.

    Exactness: day-grain integer cents; the per-type median is an
    exact order statistic (lower median at rank (n+1)//2 with a
    (cents, day) total order); equal-to-median days are excluded in
    both engines by exact bigint comparison; run breaks come from a
    lag over the bounded day table; the z statistic is one double
    expression over three exact integers per OUTPUT row.

    Scale design: the corpus reduces to (type, day) grain in one
    map-combined aggregate; every window after that is partitioned by
    event_type over <=|days| rows (lint-safe bounded grain). At 100 TB
    the windowed table is still |types| x 365 rows/year."""
    ev = load(spark, sf_dir, "events").select("ts", "event_type", "value")
    cents = F.round(F.col("value") * 100).cast("bigint")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.sum(cents).alias("cents"))
    wrank = Window.partitionBy("event_type").orderBy("cents", "day")
    wcnt = Window.partitionBy("event_type")
    med = (
        daily.select(
            "event_type",
            "cents",
            F.row_number().over(wrank).alias("rn"),
            F.count(F.lit(1)).over(wcnt).alias("n"),
        )
        .where(F.col("rn") == F.floor((F.col("n") + 1) / 2).cast("bigint"))
        .select("event_type", F.col("cents").alias("mcents"))
    )
    signed = (
        daily.join(F.broadcast(med), "event_type")
        .where(F.col("cents") != F.col("mcents"))
        .select(
            "event_type",
            "day",
            F.when(F.col("cents") > F.col("mcents"), 1)
            .otherwise(-1)
            .alias("s"),
        )
    )
    wday = Window.partitionBy("event_type").orderBy("day")
    runs = signed.select(
        "event_type",
        "s",
        F.when(F.col("s") == F.lag("s").over(wday), 0)
        .otherwise(1)
        .alias("brk"),
    )
    cells = runs.groupBy("event_type").agg(
        F.count(F.when(F.col("s") == 1, 1)).alias("n_pos"),
        F.count(F.when(F.col("s") == -1, 1)).alias("n_neg"),
        F.sum("brk").alias("n_runs"),
    )
    np_, nn, nr = (
        F.col("n_pos").cast("double"),
        F.col("n_neg").cast("double"),
        F.col("n_runs").cast("double"),
    )
    ntot = np_ + nn
    mu = F.lit(1.0) + 2.0 * np_ * nn / ntot
    var = (
        2.0 * np_ * nn * (2.0 * np_ * nn - np_ - nn)
        / (ntot * ntot * (ntot - 1))
    )
    return cells.select(
        "event_type",
        "n_pos",
        "n_neg",
        "n_runs",
        F.round(
            (nr - mu) / F.nullif(F.sqrt(var), F.lit(0.0)), 6
        ).alias("runs_z"),
    ).orderBy("event_type")


@register(
    "agg_gumbel_block_maxima",
    oracle="""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders GROUP BY 1
    ),
    blocks AS (
        SELECT date_trunc('month', day) AS mon,
               CAST(max(cents) AS BIGINT) AS mx
        FROM daily GROUP BY 1
    ),
    mom AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(mx) AS BIGINT) AS s1,
               sum(CAST(mx AS HUGEINT) * mx) AS s2
        FROM blocks
    )
    SELECT n AS n_blocks,
           round((CAST(s1 AS DOUBLE) / n
                  - 0.5772156649015329
                    * (sqrt((n * CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1)
                            / (CAST(n AS DOUBLE) * (n - 1)))
                       * sqrt(6) / pi())) / 100, 2) AS gumbel_mu,
           round(sqrt((n * CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1)
                      / (CAST(n AS DOUBLE) * (n - 1)))
                 * sqrt(6) / pi() / 100, 2) AS gumbel_beta,
           round((CAST(s1 AS DOUBLE) / n
                  + (sqrt((n * CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1)
                          / (CAST(n AS DOUBLE) * (n - 1)))
                     * sqrt(6) / pi())
                    * (-0.5772156649015329 - ln(-ln(1.0 - 1.0 / 12.0))))
                 / 100, 2) AS return_level_12mo,
           round((CAST(s1 AS DOUBLE) / n
                  + (sqrt((n * CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1)
                          / (CAST(n AS DOUBLE) * (n - 1)))
                     * sqrt(6) / pi())
                    * (-0.5772156649015329 - ln(-ln(1.0 - 1.0 / 60.0))))
                 / 100, 2) AS return_level_60mo
    FROM mom
    """,
)
def agg_gumbel_block_maxima(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gumbel extreme-value fit on MONTHLY BLOCK MAXIMA of daily order
    revenue — the classical EVT complement to the peaks-over-threshold
    GPD fit in [[evt_extreme_value_pot]]: method-of-moments location mu
    and scale beta (beta = s*sqrt(6)/pi, mu = mean - gamma*beta), plus
    the 12-month and 60-month return levels, i.e. "the biggest revenue
    day we should expect in a year / in five years" — what capacity
    planning actually provisions for.

    Exactness: daily cents and monthly maxima are exact integers; the
    two moments accumulate in 128-bit so exchange order can't change
    them; mean/std/return levels are double expressions evaluated once
    on the single OUTPUT row with the Euler-Mascheroni constant as the
    same literal in both engines.

    Scale design: corpus -> day grain (one map-combined aggregate) ->
    month grain (bounded) -> one moment row. At 100 TB the block table
    is still 12 rows/year; the fit costs one scan."""
    o = load(spark, sf_dir, "orders").select("o_orderdate", "o_totalprice")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(cents).alias("cents")
    )
    blocks = daily.groupBy(
        F.date_trunc("month", F.col("day")).alias("mon")
    ).agg(F.max("cents").alias("mx"))
    dec = F.col("mx").cast("decimal(38,0)")
    mom = blocks.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("mx").alias("s1"),
        F.sum(dec * dec).alias("s2"),
    )
    n, s1, s2 = (
        F.col("n").cast("double"),
        F.col("s1").cast("double"),
        F.col("s2").cast("double"),
    )
    mean = s1 / n
    # try_divide: a single block (degenerate corpus) zeroes n*(n-1) —
    # NULL fit, matching DuckDB's x/0 → NULL (Spark ANSI throws, G18)
    std = F.sqrt(F.try_divide(n * s2 - s1 * s1, n * (n - 1)))
    beta = std * F.sqrt(F.lit(6.0)) / F.lit(3.141592653589793)
    gamma = F.lit(0.5772156649015329)

    def rl(t):
        return mean + beta * (
            -gamma - F.log(-F.log(F.lit(1.0) - 1.0 / F.lit(float(t))))
        )

    return mom.select(
        F.col("n").alias("n_blocks"),
        F.round((mean - gamma * beta) / 100, 2).alias("gumbel_mu"),
        F.round(beta / 100, 2).alias("gumbel_beta"),
        F.round(rl(12) / 100, 2).alias("return_level_12mo"),
        F.round(rl(60) / 100, 2).alias("return_level_60mo"),
    )


@register(
    "agg_cramers_v",
    oracle="""
    WITH cells AS (
        SELECT event_type, CAST(extract(dow FROM ts) AS BIGINT) AS dow,
               CAST(count(*) AS BIGINT) AS obs
        FROM events GROUP BY 1, 2
    ),
    rt AS (
        SELECT event_type, CAST(sum(obs) AS BIGINT) AS row_tot
        FROM cells GROUP BY 1
    ),
    ct AS (
        SELECT dow, CAST(sum(obs) AS BIGINT) AS col_tot
        FROM cells GROUP BY 1
    ),
    tot AS (
        SELECT CAST(sum(obs) AS BIGINT) AS n,
               CAST(count(DISTINCT event_type) AS BIGINT) AS r,
               CAST(count(DISTINCT dow) AS BIGINT) AS c
        FROM cells
    ),
    terms AS (
        SELECT t.n, t.r, t.c,
               CAST(round(
                   pow(cells.obs - CAST(rt.row_tot AS DOUBLE) * ct.col_tot
                                    / t.n, 2)
                   / (CAST(rt.row_tot AS DOUBLE) * ct.col_tot / t.n)
                   * 1000000000) AS BIGINT) AS term_nano
        FROM cells
        JOIN rt USING (event_type)
        JOIN ct USING (dow)
        CROSS JOIN tot t
    )
    SELECT max(n) AS n, max(r) AS n_types, max(c) AS n_dows,
           CAST((max(r) - 1) * (max(c) - 1) AS BIGINT) AS dof,
           round(CAST(sum(term_nano) AS DOUBLE) / 1000000000, 6) AS chi2,
           round(sqrt(CAST(sum(term_nano) AS DOUBLE) / 1000000000
                      / (max(n) * (least(max(r), max(c)) - 1))), 6)
               AS cramers_v
    FROM terms
    """,
)
def agg_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramer's V association strength between event type and
    day-of-week — the normalized chi-square effect size ([0, 1]) that
    answers "HOW MUCH does traffic mix depend on weekday?" where the
    raw chi-square only answers whether it does at all (any dependence
    is 'significant' at corpus scale, so the effect size is the number
    worth alerting on).

    Exactness: the contingency table is exact integer counts from one
    aggregate; each cell's chi-square term is computed in double from
    exact integers, quantized to nano, and integer-summed — so the
    |types| x 7 fold is order-independent; V is one double expression
    on the single OUTPUT row. Sunday-based 0..6 dow in both engines
    (Spark dayofweek-1 == DuckDB extract(dow)).

    Scale design: corpus -> |types| x 7 cells in one map-combined
    aggregate; marginals reaggregate the CELL table (never the corpus);
    the 1-row total joins back by broadcast. One scan at any scale."""
    ev = load(spark, sf_dir, "events").select("ts", "event_type")
    # r12 (census + plan audit): the cell table is read by both
    # marginals, the total AND the term join — re-planned per
    # reference, the plan scanned events 4 times against the one-scan
    # claim. Lazy localCheckpoint pins one evaluation of the
    # |types|x7-row contingency table.
    cells = (
        ev.groupBy(
            "event_type",
            (F.dayofweek("ts") - 1).cast("bigint").alias("dow"),
        )
        .agg(F.count(F.lit(1)).alias("obs"))
        .transform(pin)
    )
    rt = cells.groupBy("event_type").agg(F.sum("obs").alias("row_tot"))
    ct = cells.groupBy("dow").agg(F.sum("obs").alias("col_tot"))
    tot = cells.agg(
        F.sum("obs").alias("n"),
        F.count_distinct("event_type").alias("r"),
        F.count_distinct("dow").alias("c"),
    )
    exp_ = (
        F.col("row_tot").cast("double")
        * F.col("col_tot")
        / F.col("n")
    )
    terms = (
        cells.join(F.broadcast(rt), "event_type")
        .join(F.broadcast(ct), "dow")
        .crossJoin(F.broadcast(tot))
        .select(
            "n",
            "r",
            "c",
            F.round(
                F.pow(F.col("obs") - exp_, 2) / exp_ * 1000000000
            ).cast("bigint").alias("term_nano"),
        )
    )
    chi2 = F.sum("term_nano").cast("double") / 1000000000
    return terms.agg(
        F.max("n").alias("n"),
        F.max("r").alias("n_types"),
        F.max("c").alias("n_dows"),
        ((F.max("r") - 1) * (F.max("c") - 1)).cast("bigint").alias("dof"),
        F.round(chi2, 6).alias("chi2"),
        # try_divide: a 1-type or 1-dow corpus zeroes the normalizer —
        # NULL V, matching DuckDB's x/0 → NULL (Spark ANSI throws, G18)
        F.round(
            F.sqrt(
                F.try_divide(
                    chi2,
                    F.max("n") * (F.least(F.max("r"), F.max("c")) - 1),
                )
            ),
            6,
        ).alias("cramers_v"),
    )


@register("agg_psi_kll_edges", tags=("approx", "rows-only"))
def agg_psi_kll_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI with SKETCHED reference edges (WAVE14 candidate 3) — the
    100 TB form agg_population_stability_index's docstring names: the
    reference half's decile edges come from a mergeable KLL quantile
    sketch (one map-side-combinable aggregate, a few KB of state)
    instead of percentile_disc's global sort, then the identical
    binning + nano-quantized PSI arithmetic runs against them. At
    production scale yesterday's per-partition sketches merge into the
    reference edges for free; the exact key stays registered and
    oracled as this key's semantic anchor.

    Rows-only by construction (KLL's quantile rule is
    implementation-defined at compaction boundaries); the property
    suite pins (a) the partition invariant — every value lands in
    exactly one bin, so per-half bin counts sum to the exact totals —
    and (b) each sketched edge's true rank within the KLL rank-error
    envelope of its decile target, and (c) the summed PSI within a
    named bound of the exact key's answer
    (tests/test_properties.py::test_psi_kll_edges_*)."""
    ev = load(spark, sf_dir, "events").select("ts", "value")
    half = F.when(
        F.col("ts") < F.lit("2024-01-16 00:00:00").cast("timestamp_ntz"),
        "ref",
    ).otherwise("cur")
    vals = ev.select(
        half.alias("half"),
        F.round(F.col("value") * 1000000).cast("bigint").alias("v"),
    )
    edges = (
        vals.filter(F.col("half") == "ref")
        .agg(
            F.kll_sketch_agg_double(F.col("v").cast("double")).alias("sk")
        )
        .select(
            # CaseWhen short-circuits: an EMPTY reference half still
            # yields a valid 8-byte zero-item sketch (not NULL), and
            # calling get_quantile on it raises
            # KLL_INVALID_INPUT_SKETCH_BUFFER (degenerate-corpus
            # sweep) — guard on the sketch's item count; NULL edges
            # then make every bin NULL, the PSI-undefined answer an
            # empty reference deserves
            F.when(
                F.kll_sketch_get_n_double(F.col("sk")) > 0,
                F.array(
                    *[
                        F.kll_sketch_get_quantile_double(
                            F.col("sk"), F.lit(d / 10.0)
                        )
                        for d in range(1, 10)
                    ]
                ),
            )
            .otherwise(F.lit(None).cast("array<double>"))
            .alias("e")
        )
    )
    binned = vals.crossJoin(F.broadcast(edges)).select(
        "half",
        (
            1
            + F.expr(
                "size(filter(e, edge -> cast(v as double) > edge))"
            )
        ).cast("int").alias("bin"),
    )
    # r12: same 10-row bin-table checkpoint as
    # agg_population_stability_index (counts feeds totals + term join).
    counts = binned.groupBy("bin").agg(
        F.sum(F.when(F.col("half") == "ref", 1).otherwise(0)).alias(
            "n_ref"
        ),
        F.sum(F.when(F.col("half") == "cur", 1).otherwise(0)).alias(
            "n_cur"
        ),
    ).transform(pin)
    tot = counts.agg(
        F.sum("n_ref").alias("tr"), F.sum("n_cur").alias("tc")
    )
    rs = F.try_divide(F.col("n_ref").cast("double"), F.col("tr"))
    cs = F.try_divide(F.col("n_cur").cast("double"), F.col("tc"))
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "bin",
            "n_ref",
            "n_cur",
            F.round(rs, 6).alias("ref_share"),
            F.round(cs, 6).alias("cur_share"),
            F.round((cs - rs) * F.log(F.try_divide(cs, rs)) * 1e9)
            .cast("bigint")
            .alias("psi_term_nano"),
        )
        .orderBy("bin")
    )


@register(
    "fn_trigram_index_fuzzy_match",
    oracle="""
    SELECT a.s_suppkey AS key_a, b.s_suppkey AS key_b,
           a.s_name AS name_a, b.s_name AS name_b,
           CAST(levenshtein(a.s_name, b.s_name) AS INTEGER) AS edit_dist
    FROM supplier a JOIN supplier b
      ON a.s_suppkey < b.s_suppkey
    WHERE levenshtein(a.s_name, b.s_name) <= 1
    """,
)
def fn_trigram_index_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram-INVERTED-INDEX fuzzy self-match (WAVE15 candidate 3) —
    the scale path fn_levenshtein_fuzzy_match's docstring promises,
    made real and LOSSLESS: all supplier-name pairs within Levenshtein
    distance 1, found without ever forming the |supplier|² pair space.
    The oracle is the DIRECT all-pairs form, so the driver's hash gate
    proves the index path finds exactly the same pairs (no false
    negatives) — the property that separates an index from a heuristic
    blocker like dedup_er_blocked_pairs.

    Construction (q-gram lemma + prefix filtering, the pg_trgm /
    PPJoin discipline, same family as llm_dedup_ngram_jaccard):

    - POSITIONAL trigrams: element = gram '#' occurrence-number, so
      set intersection equals the q-gram MULTISET overlap the lemma
      bounds: ed(a,b) <= d implies shared grams >= max(|a|,|b|)-2-3d.
    - PREFIX filter: under a global (document-frequency, element)
      order, two strings with overlap >= T must share an element
      within their (grams-T+1)-prefixes; with d=1 and the |len_a -
      len_b| <= 1 length filter, 3d+1 = 4 rarest elements per string
      suffice. Candidates come from ONE equi-join on prefix elements.
    - The lemma needs T >= 1, i.e. max(len) >= 6: pairs where BOTH
      names are <= 5 chars fall back to a length-bucketed equi-join
      over that bounded short cohort (empty on the clean fixture; the
      hostile corpus's degenerate names land here).
    - Exact levenshtein runs on candidates only.

    Measured selectivity at sf0.1: 13,500 true pairs out of 499,500 —
    the distance-2 variant is 100% dense on this name domain (every
    zero-padded id is within 2 substitutions of every other), so d=1
    is the setting where an index can prove itself.

    Scale shape: gram/element construction is scan-stage HOFs (the
    per-string occurrence scan is O(16²) on bounded-length names); the
    df census is one element-keyed groupBy; prefix selection is a
    per-key window (key-partitioned); the candidate join is a plain
    hash join on rare elements — document-frequency ordering keeps hot
    grams ('Supplier#...' prefixes shared by EVERY name) out of the
    prefixes, so bucket sizes track digit-gram selectivity, not corpus
    size. An exact-duplicate cohort makes the true answer itself
    Omega(cohort²) — production runs exact dedup first (llm_dedup_*),
    same caveat llm_dedup_ngram_jaccard documents."""
    sup = (
        load(spark, sf_dir, "supplier")
        .where(F.col("s_name").isNotNull())
        .select("s_suppkey", "s_name", F.length("s_name").alias("len"))
    )
    grams = sup.withColumn(
        "grams",
        F.when(
            F.col("len") >= 3,
            F.expr(
                "transform(sequence(1, length(s_name) - 2),"
                " i -> substring(s_name, i, 3))"
            ),
        ).otherwise(F.expr("array()")),
    ).withColumn(
        "elems",
        F.expr(
            "transform(grams, (g, i) -> concat(g, '#',"
            " size(filter(slice(grams, 1, i + 1), x -> x = g))))"
        ),
    )
    posting = grams.select(
        "s_suppkey", "len", F.explode("elems").alias("elem")
    )
    df_tab = posting.groupBy("elem").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("s_suppkey").orderBy("df", "elem")
    prefix = (
        posting.join(df_tab, "elem")
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 4)
        .select("s_suppkey", "len", "elem")
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    cand_idx = (
        a.join(
            b,
            (F.col("a.elem") == F.col("b.elem"))
            & (F.col("a.s_suppkey") < F.col("b.s_suppkey"))
            & (
                F.abs(F.col("a.len") - F.col("b.len")) <= F.lit(1)
            ),
        )
        .select(
            F.col("a.s_suppkey").alias("key_a"),
            F.col("b.s_suppkey").alias("key_b"),
        )
        .distinct()
    )
    # short-cohort fallback: the lemma needs max(len) >= 6, so pairs of
    # two <= 5-char names are generated by a length-bucket equi-join
    # over that bounded set (each short probes its 3 admissible partner
    # lengths) — a hash join, never a cross product
    shorts = sup.where(F.col("len") <= 5)
    probe = shorts.select(
        F.col("s_suppkey"),
        F.explode(
            F.sequence(F.col("len") - 1, F.col("len") + 1)
        ).alias("plen"),
    )
    cand_short = (
        probe.alias("a")
        .join(
            shorts.alias("b"),
            (F.col("a.plen") == F.col("b.len"))
            & (F.col("a.s_suppkey") < F.col("b.s_suppkey")),
        )
        .select(
            F.col("a.s_suppkey").alias("key_a"),
            F.col("b.s_suppkey").alias("key_b"),
        )
        .distinct()
    )
    cand = cand_idx.unionByName(cand_short).distinct()
    na = sup.select(
        F.col("s_suppkey").alias("key_a"), F.col("s_name").alias("name_a")
    )
    nb = sup.select(
        F.col("s_suppkey").alias("key_b"), F.col("s_name").alias("name_b")
    )
    return (
        cand.join(na, "key_a")
        .join(nb, "key_b")
        .withColumn(
            "edit_dist", F.levenshtein("name_a", "name_b").cast("int")
        )
        .where(F.col("edit_dist") <= 1)
        .select("key_a", "key_b", "name_a", "name_b", "edit_dist")
    )
