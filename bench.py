"""Benchmark harness. Runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": N, "unit": "sec", "queries": {...},
"sf": ...}.

Methodology:

- Materialization uses the noop sink (full execution, no driver collect)
  so timings measure the distributed plan, not result transfer.
- ``spark.sql.shuffle.partitions`` is sized to the actual input volume
  (~64 MB of input per partition, floored at 8 for parallelism, capped
  at 2x cores) — the same sizing rule a cluster deployment would apply
  per dataset; at sf0.1 (~25 MB total) that means 8 partitions instead
  of drowning 10 MB of data in 64 tiny tasks. AQE is switched OFF
  below 1 GB of input (``SPARK_GRAFT_AQE=false``): at that size its
  per-exchange re-planning has nothing to fix and costs a scheduler
  round-trip per stage. Above 1 GB it stays on, as in production.
- Warm-up runs the ENTIRE headline set once untimed before the timed
  pass: JVM JIT of join/agg/window codegen paths is worth ~2s on the
  first execution of each query shape, and steady-state plan time is
  what the benchmark is defined to measure. The warm-up also leaves
  every query's compiled classes in Spark's generated-class cache
  because ``get_spark`` sizes that cache
  (``session.CODEGEN_CACHE_ENTRIES``): the headline set needs more than
  Spark's default of 100 entries, and with the default a query's
  warm-up classes were evicted before its timed reps. The per-table
  count() also
  primes ``tables.load``'s schema cache: each fixture file's footers are
  read once there, and every later load of the unchanged file passes the
  cached schema and fires no footer job. Direct ``spark.read.parquet``
  calls inside builders (sink read-backs, streaming sources) still infer
  on every call.
"""

from __future__ import annotations

import glob
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from noaa_etl_daily_spark.registry import load_all
from noaa_etl_daily_spark.session import default_parallelism, get_spark

# Headline set: one representative per operator family; kept in sync with
# the registry as waves land. Overridable: bench.py q1 q2 ...
DEFAULT_HEADLINE = [
    "agg_groupby_multi",
    "join_broadcast_chain",
    "join_asof",
    "win_topk_per_group",
    "agg_pivot",
    "topk_limit",
    "agg_count_distinct",
    "filter_compound",
    "evt_session_window",
    "llm_dedup_near_minhash",
    "llm_sim_topk_cosine",
    "llm_text_tokenize_counts",
    "join_bucketed_colocated",
    "pipeline_shipping_priority",
    "pipeline_regional_volume",
    # r11 promotions (VERDICT r10 task 6): the ledger tracks the newer
    # operator families, not just the r3-era set. evt_token_bucket_
    # admission is the ordered-fold family; pipeline_multimodal_
    # curation is the end-to-end curation family; llm_sim_ivfpq_topk
    # is the ANN cascade (rows-only → Spark-only line, proxy names it
    # in proxy_skipped; its trained codebook is a cached offline
    # artifact, so timed reps measure query cost, as production would).
    "evt_token_bucket_admission",
    "pipeline_multimodal_curation",
    "llm_sim_ivfpq_topk",
    # r12 promotions: llm_curation_drift_monitor is the monitoring
    # family (dedup-shaped hash window + PSI arithmetic);
    # pipeline_token_budget_curriculum is the scale_rank family
    # (distributed rank + per-epoch prefix sums). Both oracled, so the
    # proxy stays comparable over them.
    "llm_curation_drift_monitor",
    "pipeline_token_budget_curriculum",
    # r13 rewrites: the weighted median and the K-month-unrolled
    # recursive CTE, timed and oracle-checked like the rest.
    "agg_weighted_median",
    "sql_recursive_cte",
]


def sf_from_dir(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def input_bytes(sf_dir: str) -> int:
    return sum(
        os.path.getsize(p)
        for p in glob.glob(os.path.join(sf_dir, "*.parquet"))
    )


def sized_shuffle_partitions(sf_dir: str) -> int:
    """~64 MB of input per shuffle partition, floored for parallelism,
    capped at 2x cores — the per-dataset sizing rule from SURVEY §7.4 G6.

    The floor is ``min(8, 2*cores)`` (VERDICT r12 item 2): at the
    driver's 32- and 8-core runs that is the same 8 as every prior
    round (numbers stay comparable), while at very low core counts the
    floor no longer exceeds the machine. Note the consequence the
    record self-describes via ``shuffle_partitions``: below ~512 MB of
    input the 8-partition floor dominates, so an 8-core and a 32-core
    run execute the SAME plans and their ratio measures fixed overhead,
    not scaling — core count only starts to matter once the input is
    big enough that the 64 MB/partition rule exceeds the floor."""
    cores = default_parallelism()
    return max(
        min(8, 2 * cores), min(2 * cores, input_bytes(sf_dir) // (64 << 20))
    )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    registry = load_all()
    names = sys.argv[1:] or [n for n in DEFAULT_HEADLINE if n in registry]
    unknown = [n for n in names if n not in registry]
    if unknown or not names:
        sys.exit(
            f"unknown queries: {unknown or '(none requested)'}; "
            f"available: {sorted(registry)}"
        )

    # Per-dataset sizing (same philosophy as shuffle partitions): below
    # ~1 GB of input, AQE's per-exchange materialization barrier has
    # nothing to re-plan — no skew, no mis-estimated partition counts —
    # and costs a scheduler round-trip per stage, which is the dominant
    # term at benchmark scale. At real scale the rule leaves AQE on.
    if input_bytes(sf_dir) < (1 << 30):
        os.environ["SPARK_GRAFT_AQE"] = "false"

    spark = get_spark(app_name="noaa-etl-daily-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")
    shuffle_partitions = sized_shuffle_partitions(sf_dir)
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))

    # Warm-up: count() each table (which also fills tables.load's schema
    # cache, so builders' fixture loads fire no footer job), then run the
    # full headline set once untimed (JIT + the generated-class cache
    # get_spark sizes for every query shape) so the timed pass measures
    # steady-state plan execution.
    from noaa_etl_daily_spark.tables import TABLE_NAMES, load

    for t in TABLE_NAMES:
        load(spark, sf_dir, t).count()
    for name in names:
        registry[name].builder(spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()

    # Same-day DuckDB proxy (VERDICT r8 task 3, INTERLEAVED per r9 task
    # 2): the box drifts minute to minute, and running the whole Spark
    # pass before the whole proxy pass put that drift entirely into the
    # ratio (BENCH_r09 read 2.12x while three same-day quiet-box runs
    # read 1.75-1.93x). The interleave grain is PER QUERY — 5 Spark
    # reps then 5 proxy reps of the SAME query, back to back — so each
    # ratio's two sides share a ~2 s window of box state. A full-round
    # alternation (all queries Spark, then all queries proxy, x5) was
    # measured and REJECTED: with 15 shapes in rotation, same-shape
    # Spark reps land 29 executions apart and the JIT/cache-cooled
    # minima inflate ~40% while DuckDB's tiny working set stays warm —
    # biasing the ratio against Spark instead of removing drift
    # (measured on one box: full-round ratio 2.8-3.0 vs per-query 1.92
    # in the same minutes). Optional (SPARK_GRAFT_PROXY=0 skips) and
    # failure-isolated: a proxy problem must never cost the official
    # Spark record, so proxy setup/reps are try-wrapped independently.
    proxy = None
    proxy_error = None
    proxy_partial = None
    if os.environ.get("SPARK_GRAFT_PROXY", "1") != "0":
        try:
            proxy = _ProxyRunner(registry, names, sf_dir)
            proxy.warm()
        except Exception as ex:  # noqa: BLE001 — proxy is best-effort
            proxy = None
            proxy_error = f"{type(ex).__name__}: {ex}"

    # Timed phase: min of 5 reps per query per engine. local[32] on a
    # shared box has multi-second GC/scheduler outliers (observed
    # 0.75s..5.4s for one unchanged plan; round-5/6 A/Bs showed
    # byte-identical plans moving ±20% run-to-run on box load); the
    # minimum is the steady-state cost of the plan, which is what this
    # benchmark is defined to measure. 5 reps instead of 3 tightens the
    # minimum's variance to a few ms.
    timings: dict[str, float] = {}
    for name in names:
        best = float("inf")
        for _ in range(5):
            df = registry[name].builder(spark, sf_dir)
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        timings[name] = best
        if proxy is not None:
            try:
                proxy.run_query(name)
            except Exception as ex:  # noqa: BLE001
                proxy_error = f"{type(ex).__name__}: {ex}"
                # keep the runner for its already-timed queries: a
                # mid-interleave failure must not discard the partial
                # comparand (ADVICE r10) — the record marks it partial
                proxy_partial = proxy
                proxy = None
    timings = {k: round(v, 4) for k, v in timings.items()}

    total = round(sum(timings.values()), 4)
    record = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_from_dir(sf_dir),
        # Scaling-contract self-description (VERDICT r12 item 2): the
        # harness honors $SPARK_GRAFT_CPUS (master local[cpus]) and sizes
        # shuffle partitions to the input volume. At small SFs the
        # partition floor makes low-core vs 32-core plans identical, so
        # flat ratios measure fixed overhead, not ignored cores — these
        # three keys let the record's reader see that directly.
        "cpus": default_parallelism(),
        "shuffle_partitions": shuffle_partitions,
        "input_bytes": input_bytes(sf_dir),
    }
    if proxy is not None:
        record.update(proxy.summary())
        record["proxy_interleaved"] = "per-query"
    elif proxy_error is not None:
        record["proxy_error"] = proxy_error
        if proxy_partial is not None and proxy_partial.best:
            # the queries timed before the failure are still a valid
            # same-minute comparand over their named subset
            record.update(proxy_partial.summary())
            record["proxy_interleaved"] = "per-query"
            record["proxy_partial"] = True

    print(json.dumps(record))
    spark.stop()


class _ProxyRunner:
    """Same-day DuckDB comparand: each headline query's own oracle SQL
    on the same parquet, warm, min-of-5 — run by the caller immediately
    after the SAME query's Spark reps so host-load drift lands on both
    engines within one per-query window. Queries without an oracle
    (rows-only ops) are skipped and named, so the proxy total is
    comparable only over the oracled subset.

    Timing note (ADVICE r9): each rep times execute()+fetchall(), which
    includes materializing the result into Python, while the Spark side
    times a noop sink (no driver transfer). The asymmetry favours
    Spark by the fetch cost of the result sets — all small aggregates
    here (≤ a few hundred rows), so the bias is sub-ms per query; it is
    recorded in the summary as ``proxy_times_fetch`` rather than
    corrected, since DuckDB offers no noop sink with identical
    semantics."""

    def __init__(self, registry, names: list[str], sf_dir: str):
        import duckdb

        self.con = duckdb.connect()
        self.engine = f"duckdb {duckdb.__version__}"
        self.con.execute(f"SET threads TO {default_parallelism()}")
        for t in (
            "region", "nation", "customer", "supplier", "part",
            "orders", "lineitem", "events", "documents", "embeddings",
        ):
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{os.path.join(sf_dir, t + '.parquet')}')"
            )
        self.oracles = {
            n: registry[n].oracle for n in names
            if registry[n].oracle is not None
        }
        self.skipped = [n for n in names if n not in self.oracles]
        self.best: dict[str, float] = {}

    def warm(self) -> None:
        for sql in self.oracles.values():
            self.con.execute(sql).fetchall()

    def run_query(self, name: str) -> None:
        if name not in self.oracles:
            return
        sql = self.oracles[name]
        best = float("inf")
        for _ in range(5):
            t0 = time.perf_counter()
            self.con.execute(sql).fetchall()
            best = min(best, time.perf_counter() - t0)
        self.best[name] = best

    def summary(self) -> dict:
        proxied = {n: round(v, 4) for n, v in self.best.items()}
        out: dict = {
            "proxy_engine": self.engine,
            "proxy_total_sec": round(sum(proxied.values()), 4),
            "proxy_queries": proxied,
            "proxy_times_fetch": True,
        }
        if self.skipped:
            out["proxy_skipped"] = self.skipped
        return out


if __name__ == "__main__":
    main()
