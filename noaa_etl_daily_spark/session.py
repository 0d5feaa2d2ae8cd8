"""SparkSession construction and session-level configuration.

Design notes (SURVEY.md §7.3 Wave 0, §7.4 G1/G6):

- ``spark.sql.legacy.parquet.nanosAsLong=true`` is REQUIRED to read the
  ``events`` table (parquet TIMESTAMP(NANOS) is otherwise rejected by
  Spark 4.x). It is a runtime-settable session conf, so we also apply it
  defensively to externally-created sessions (the driver passes its own
  session into ``entry()`` / ``queries()``).
- Session timezone is pinned to UTC so ``timestamp_micros()`` reconstruction
  of event-time agrees with DuckDB's naive microsecond timestamps.
- AQE is left on: at 100 TB it coalesces shuffle partitions and handles
  skew joins at runtime; at bench scale it removes tiny-partition overhead.
- ``spark.sql.shuffle.partitions`` defaults to 2x local cores: big enough to
  use every core even with AQE coalescing, small enough not to drown sf0.1
  in task-scheduling overhead. On a real cluster this would be sized to
  ~128 MB of shuffle data per partition instead (AQE's coalescing makes the
  initial number mostly a ceiling).
- Spark's generated-class cache (``spark.sql.codegen.cache.maxEntries``,
  default 100) is raised to ``CODEGEN_CACHE_ENTRIES``. It holds the
  Janino-compiled whole-stage and expression classes, keyed by source
  and class loader, and evicts the least recently used. One pass over
  ``etl_daily``'s 14 keys needs 232 entries and visits them in a cycle,
  so with 100 entries every warm pass recompiled ~216-223 classes
  (~1.3 s of a ~5.8 s pass). The conf is static: Spark reads it once,
  when ``CodeGenerator``'s cache is first built in the JVM, so it is set
  in ``get_spark`` and cannot go in ``configure_session``. Sessions the
  driver builds itself keep Spark's 100.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Runtime-settable session confs that our queries depend on. Applied both
#: at build time and defensively to externally-created sessions.
_SESSION_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # size(NULL) must be NULL in EVERY deployment: the conf's default
    # tracks !spark.sql.ansi.enabled, so an estate running ansi=false
    # silently gets the legacy -1 — which propagated into token counts,
    # quality buckets, and calibration sums on NULL-text docs (20
    # queries diverged in the round-8 registry-wide ANSI on/off audit
    # on the hostile corpus; all shared this one root). Pinning false
    # makes every query ANSI-mode-invariant (tests/test_ansi_invariance).
    "spark.sql.legacy.sizeOfNull": "false",
}

#: Entries in Spark's generated-class cache (static, set by ``get_spark``).
#: About 4x what one pass of the largest benchmark workload needs
#: (``etl_daily`` 232, ``etl_load`` 115), so a session that repeats a set
#: of keys compiles nothing after its first pass. One pass over all 465
#: keys compiles 5,225 classes; a session that runs each key once gains
#: nothing from holding them all.
CODEGEN_CACHE_ENTRIES = 1000

#: AQE override knob (same per-dataset sizing philosophy as shuffle
#: partitions): AQE's runtime re-planning inserts a materialization
#: barrier per exchange — essential at 100 TB (skew joins, partition
#: coalescing, runtime join-strategy switches), pure scheduling overhead
#: on megabyte inputs where there is nothing to re-plan. bench.py sets
#: this to "false" when the measured input volume is below ~1 GB;
#: anything else (the driver's own sessions, tests, production) keeps
#: AQE on.
_AQE_ENV = "SPARK_GRAFT_AQE"


def configure_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to any session (ours or the driver's).

    Idempotent and cheap; every query builder routes through this so the
    events table stays readable and timestamps stay UTC-deterministic no
    matter who constructed the session.
    """
    overrides = {}
    aqe = os.environ.get(_AQE_ENV)
    if aqe in ("true", "false"):
        overrides["spark.sql.adaptive.enabled"] = aqe
    for key, value in {**_SESSION_CONFS, **overrides}.items():
        try:
            spark.conf.set(key, value)
        except Exception:
            # Non-settable in this deployment (e.g. locked by the cluster
            # admin) — queries still work if the deployment default is sane.
            pass
    return spark


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 4)


def get_spark(
    app_name: str = "noaa-etl-daily-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Besides the runtime confs of ``configure_session``, this sets the
    static ones, which take effect only when the session's JVM is first
    built: ``spark.sql.codegen.cache.maxEntries`` is read once, when
    ``CodeGenerator`` builds its class cache, and is set to
    ``CODEGEN_CACHE_ENTRIES`` so warm passes reuse compiled classes. A
    session created elsewhere (e.g. by the driver) keeps Spark's 100.
    """
    cores = default_parallelism()
    master = master or f"local[{cores}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", 2 * cores)
        )

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        # dims (region..supplier, even part at sf0.1) are far below this;
        # broadcast them instead of shuffling the fact table.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    for key, value in _SESSION_CONFS.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    return configure_session(spark)
