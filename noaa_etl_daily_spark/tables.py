"""Table loaders for the driver-supplied parquet fixtures (FIXTURES.md).

Every query builder loads through :func:`load` so per-table quirks are
handled exactly once:

- ``events.ts`` is parquet TIMESTAMP(NANOS). With
  ``spark.sql.legacy.parquet.nanosAsLong=true`` it reads as bigint
  nanoseconds; we convert with integer division (``ts div 1000`` →
  ``timestamp_micros``) which truncates exactly like DuckDB's ns→µs read,
  then cast to TIMESTAMP_NTZ so all fixture timestamps share one type
  (l_shipdate / o_orderdate already read as timestamp_ntz).

At 100 TB these loaders are where partition-pruned, column-pruned scans
originate: they return plain ``spark.read.parquet`` DataFrames (no eager
caching, no collect), so Catalyst pushes filters and prunes columns into
the scan of whatever query is built on top.

Schema cache: a ``spark.read.parquet`` without a schema fires one Spark
job to read the parquet footers, inside every builder that loads the
table. :func:`load` therefore keeps each fixture file's inferred
``StructType`` in a module dict keyed by the file's absolute path and
checked against its :func:`file_fp` (size, ``st_mtime_ns``), the same
staleness rule the sink layouts' ``_SRC_FP`` uses. The first read of a
file infers as usual and stores the schema; every later read of the
unchanged file passes it to ``spark.read.schema(...)`` and fires no job.
A rewrite changes the fingerprint and is inferred afresh. Only the
``StructType`` is kept (no DataFrame, data or JVM handle). A path that
is not a regular local file (a directory-shaped table, a missing path, a
remote URI) is always read with inference, since a directory's stat does
not track the files inside it.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def path_for(sf_dir: str, name: str) -> str:
    return f"{sf_dir.rstrip('/')}/{name}.parquet"


def file_fp(path: str) -> tuple[int, int] | None:
    """``(size, st_mtime_ns)`` of a regular file, else None (missing,
    directory, remote URI). Size plus nanosecond mtime tells a
    same-second rewrite apart on coarse-mtime filesystems. A directory's
    stat does not change when a file inside it is rewritten, so callers
    must not treat it as a fingerprint."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    if not stat.S_ISREG(st.st_mode):
        return None
    return st.st_size, st.st_mtime_ns


#: absolute path -> (file_fp at inference time, inferred schema)
_SCHEMAS: dict[str, tuple[tuple[int, int], StructType]] = {}


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, reusing the schema inferred by an
    earlier read of the same unchanged file (module docstring)."""
    fp = file_fp(path)
    if fp is None:
        return spark.read.parquet(path)
    key = os.path.abspath(path)
    hit = _SCHEMAS.get(key)
    if hit is not None and hit[0] == fp:
        return spark.read.schema(hit[1]).parquet(path)
    # stat BEFORE inferring: a rewrite racing the read leaves a stale
    # fingerprint behind, so the next load infers again
    df = spark.read.parquet(path)
    _SCHEMAS[key] = (fp, df.schema)
    return df


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load a fixture table, normalizing schema quirks.

    The session must already carry :func:`session.configure_session`'s
    confs (``events`` needs ``parquet.nanosAsLong``); ``load`` does not
    apply them. Every registered builder is wrapped to apply them and
    :func:`session.get_spark` sessions start with them."""
    if name == "events":
        return _load_events(spark, sf_dir)
    return _read_parquet(spark, path_for(sf_dir, name))


def _load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    raw = _read_parquet(spark, path_for(sf_dir, "events"))
    ts_type = raw.schema["ts"].dataType.typeName()
    if ts_type == "long":
        # Fixture written as parquet TIMESTAMP(NANOS): with
        # spark.sql.legacy.parquet.nanosAsLong=true it reads as bigint
        # nanoseconds. ns → µs by FLOOR division (DuckDB's ns→µs read
        # floors; Spark's `div` truncates toward zero, which differs by
        # 1µs for pre-epoch negative timestamps — the correction term
        # makes it floor for all inputs). Integer arithmetic throughout:
        # double division of ~1.7e18 ns would lose precision past the
        # 53-bit mantissa.
        return raw.withColumn(
            "ts",
            F.expr(
                "cast(timestamp_micros(ts div 1000 - cast(ts % 1000 < 0 as int)) "
                "as timestamp_ntz)"
            ),
        )
    if ts_type == "timestamp":
        # Instant-typed read (session tz pinned to UTC) — normalize to
        # NTZ so every fixture timestamp shares one type.
        return raw.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    # timestamp_ntz already (parquet TIMESTAMP(MICROS, not-UTC-adjusted),
    # the current driver fixtures) — nothing to normalize.
    return raw


def tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load(spark, sf_dir, name) for name in TABLE_NAMES}
