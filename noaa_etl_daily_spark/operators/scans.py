"""Sources and sinks (SURVEY.md §2.1) — the ETL extract/load surface.

Spark-first notes:

- ``scan_parquet`` is the pattern every other query builds on: a plain
  ``spark.read.parquet`` whose column pruning / predicate pushdown is left
  entirely to Catalyst (check ``.explain``: ``ReadSchema`` narrows,
  ``PushedFilters`` populates).
- CSV/JSON ingest uses explicit schemas (never ``inferSchema`` — at 100 TB
  schema inference is an extra full pass over the data).
- Sinks write partitioned parquet; partition columns are the date-like /
  low-cardinality keys so downstream readers get partition pruning.
  Idempotent daily re-runs use dynamic partition overwrite — re-running a
  day replaces exactly that day's partition, nothing else (the classic
  daily-ETL idempotency requirement).

Sink and self-generated-source queries round-trip through
``<repo>/.scratch`` and are verified by reading back and aggregating, so
they get a real DuckDB oracle (parquet round-trip is lossless) instead of
a rows-only check wherever possible.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..registry import register
from ..tables import file_fp, load

SCRATCH = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))), ".scratch")


def _scratch(*parts: str) -> str:
    path = os.path.join(SCRATCH, *parts)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    return path


def _src_fp(sf_dir: str, table: str, params: str = "") -> str:
    """Content fingerprint of a fixture parquet: its
    :func:`~noaa_etl_daily_spark.tables.file_fp` (size + ns-resolution
    mtime), plus an optional caller-supplied write-parameters token.
    ``params`` folds the WRITE side into the key — two
    preparers (or one preparer with different n_files) pointed at the
    same out_dir must not validate each other's layout. Fixtures are
    single parquet FILES by contract; a directory's size/mtime would
    not reflect an in-place rewrite of a file inside it, so a
    non-regular path is an error here rather than a silent stale-cache
    hole."""
    path = os.path.join(sf_dir, f"{table}.parquet")
    fp = file_fp(path)
    if fp is None:
        raise ValueError(
            f"fixture {path} is missing or not a regular file; directory "
            "fixtures need a per-data-file fingerprint, not a dir stat"
        )
    size, mtime_ns = fp
    return f"{size}:{mtime_ns}:{params}"


def _cached(out: str, sf_dir: str, table: str, params: str = "") -> bool:
    """True iff a previous once-per-sf write at ``out`` is still valid
    for this fixture: the ``_SUCCESS`` marker exists AND the sidecar
    ``_SRC_FP`` fingerprint (written by :func:`_seal_cache` after the
    write) equals the source parquet's current (size, mtime_ns) plus
    the caller's ``params`` token (preparer name / n_files — freshness
    must key on the write parameters, not just the source bytes).
    Marker existence alone is not enough — ephemeral test fixtures
    (pytest tmp dirs) reuse basenames across runs, so a scratch layout
    keyed on the basename can silently serve a PRIOR run's data
    (observed live: a hostile-fixture change added two events and the
    cached date-partitioned copy kept the old 29). Fingerprint equality
    rather than mtime *ordering* closes the residual hole: on a
    filesystem with coarse (1 s) mtime granularity a fixture rewritten
    in the same tick as the marker passed the old ``>=`` rule."""
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        return False
    try:
        with open(os.path.join(out, "_SRC_FP")) as fh:
            return fh.read().strip() == _src_fp(sf_dir, table, params)
    except (OSError, ValueError):
        # ValueError: _src_fp's missing/non-regular-fixture diagnostic —
        # a vanished source reads as stale here and fails loudly at load()
        return False


def _seal_cache(out: str, sf_dir: str, table: str, params: str = "") -> None:
    """Record the source fixture's fingerprint (plus the caller's write
    params token) after a successful scratch write, making the ``out``
    dir eligible for :func:`_cached` reuse. Call sites write the data
    first, then seal — a crash between the two leaves an unsealed dir
    that is simply rewritten next run."""
    with open(os.path.join(out, "_SRC_FP"), "w") as fh:
        fh.write(_src_fp(sf_dir, table, params))


def _sf_tag(sf_dir: str) -> str:
    return os.path.basename(sf_dir.rstrip("/")) or "sf"


LINEITEM_COLS = (
    "l_orderkey",
    "l_partkey",
    "l_suppkey",
    "l_linenumber",
    "l_quantity",
    "l_extendedprice",
    "l_discount",
    "l_tax",
    "l_returnflag",
    "l_linestatus",
    "l_shipdate",
)


@register(
    "scan_parquet",
    oracle="SELECT " + ", ".join(LINEITEM_COLS) + " FROM lineitem",
)
def scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full parquet scan with stable, explicit column order. Values pass
    through untouched so the hash check proves lossless reads (incl. the
    timestamp_ntz handling of l_shipdate)."""
    return load(spark, sf_dir, "lineitem").select(*LINEITEM_COLS)


ORDERS_CSV_SCHEMA = T.StructType(
    [
        T.StructField("o_orderkey", T.LongType()),
        T.StructField("o_custkey", T.LongType()),
        T.StructField("o_orderstatus", T.StringType()),
        T.StructField("o_totalprice", T.DoubleType()),
        T.StructField("o_orderdate", T.TimestampNTZType()),
        T.StructField("o_orderpriority", T.StringType()),
    ]
)


@register(
    "scan_csv_schema",
    oracle="""
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(o_totalprice), 2) AS total_price
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def scan_csv_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV extract with an explicit declared schema (the ETL 'extract' step;
    NOAA GHCN daily files are CSV-shaped). The fixture has no CSV, so we
    round-trip orders through CSV in scratch — Spark writes it, Spark reads
    it back with a declared StructType, and the aggregate must match the
    DuckDB view of the original parquet, proving the CSV codec is lossless
    for these types. Doubles survive because Spark writes round-trippable
    repr; timestamps use an explicit format."""
    out = _scratch("csv", _sf_tag(sf_dir), "orders")
    orders = load(spark, sf_dir, "orders").select(*[f.name for f in ORDERS_CSV_SCHEMA])
    (
        orders.write.mode("overwrite")
        .option("header", True)
        .option("timestampNTZFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
        .csv(out)
    )
    back = (
        spark.read.schema(ORDERS_CSV_SCHEMA)
        .option("header", True)
        .option("timestampNTZFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
        .csv(out)
    )
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


@register(
    "scan_json_lines",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 4) AS total_value,
           CAST(max(k) AS BIGINT) AS max_k
    FROM (SELECT event_type, value,
                 TRY_CAST(CASE WHEN json_valid(props)
                               THEN json_extract(props, '$.k') END
                          AS BIGINT) AS k
          FROM events)
    GROUP BY event_type
    """,
)
def scan_json_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines ingest (API payload shape): events round-trip through
    ndjson in scratch, read back with an explicit schema, and the nested
    ``props.k`` field is extracted — verified against DuckDB reading the
    original parquet + json_extract."""
    out = _scratch("json", _sf_tag(sf_dir), "events")
    events = load(spark, sf_dir, "events").select("event_id", "event_type", "value", "props")
    events.write.mode("overwrite").json(out)
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )
    back = spark.read.schema(schema).json(out)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("total_value"),
        # try_cast: a malformed payload is a NULL k, not a job kill (G11)
        F.max(F.get_json_object("props", "$.k").try_cast("long")).alias(
            "max_k"
        ),
    )


@register(
    "sink_parquet_partitioned",
    oracle="""
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(l_extendedprice), 2) AS total_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def sink_parquet_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned columnar sink (the ETL 'load' step): write lineitem
    partitioned by l_returnflag, read it back, aggregate per partition.
    Matching the DuckDB view of the ORIGINAL table proves the round-trip
    is lossless and partition values survive directory encoding. At 100 TB
    the partition column would be the date key so readers prune days."""
    out = _scratch("parquet_part", _sf_tag(sf_dir), "lineitem")
    li = load(spark, sf_dir, "lineitem")
    li.write.mode("overwrite").partitionBy("l_returnflag").parquet(out)
    # explicit schema on read-back: an empty batch writes zero data
    # files, and schema inference over an empty partitioned dir fails —
    # the daily job must survive a no-data day (degenerate-corpus sweep)
    back = spark.read.schema(li.schema).parquet(out)
    return back.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("l_extendedprice"), 2).alias("total_price"),
    )


@register(
    "sink_idempotent_overwrite",
    oracle="""
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def sink_idempotent_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-rerun idempotency via dynamic partition overwrite: write all
    partitions, then re-run the load for ONE partition ('F'). With
    partitionOverwriteMode=dynamic the rewrite replaces only that
    partition; total counts must still equal the source (no duplication,
    no loss) — the core guarantee a daily NOAA-style ETL needs."""
    out = _scratch("parquet_idem", _sf_tag(sf_dir), "orders")
    orders = load(spark, sf_dir, "orders")
    orders.write.mode("overwrite").partitionBy("o_orderstatus").parquet(out)
    # simulate the daily re-run of a single day/partition; the overwrite
    # mode is scoped to this writer (not session conf) so other queries'
    # partitioned overwrites keep the deployment default semantics
    (
        orders.filter(F.col("o_orderstatus") == "F")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("o_orderstatus")
        .parquet(out)
    )
    # explicit schema: survive the no-data day (see sink_parquet_partitioned)
    back = spark.read.schema(orders.schema).parquet(out)
    return back.groupBy("o_orderstatus").agg(F.count(F.lit(1)).alias("n_orders"))


@register(
    "schema_cast_normalize",
    oracle="""
    SELECT l_orderkey AS order_id,
           l_linenumber AS line_no,
           CAST(floor(l_quantity) AS INTEGER) AS qty_units,
           round(l_extendedprice / 10.0, 4) AS price_scaled,
           CAST(l_shipdate AS DATE) AS ship_day
    FROM lineitem
    """,
)
def schema_cast_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cast / rename / reorder to a target schema — the GHCN 'scaled
    integer → physical value' normalization pattern (value/10.0). floor()
    is explicit on both sides because bare double→int CAST truncates in
    Spark but rounds in DuckDB."""
    li = load(spark, sf_dir, "lineitem")
    return li.select(
        F.col("l_orderkey").alias("order_id"),
        F.col("l_linenumber").alias("line_no"),
        F.floor("l_quantity").cast("int").alias("qty_units"),
        F.round(F.col("l_extendedprice") / 10.0, 4).alias("price_scaled"),
        F.col("l_shipdate").cast("date").alias("ship_day"),
    )


@register("scan_csv_corrupt_permissive", tags=("rows-only",))
def scan_csv_corrupt_permissive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-input validation: ingest a CSV containing bad-type,
    short, and over-long rows under PERMISSIVE mode with a
    ``_corrupt_record`` column — the quarantine pattern a daily ETL uses
    so one bad upstream line never kills the batch (and is never
    silently dropped either: corrupt rows land in a side channel with
    the raw line preserved).

    Rows-only: corrupt-row classification is engine-specific (DuckDB's
    ignore_errors drops what Spark quarantines), so the exact semantics
    are locked by tests/test_properties.py
    (test_corrupt_csv_dispositions_exact, which pins every disposition
    count and the clean-row sum). Oracled strict-mode twin:
    ``scan_csv_schema`` certifies the clean-input CSV read path this
    permissive variant relaxes. Summary output: per-disposition counts
    + the numeric sum over clean rows."""
    src = _scratch("corrupt", _sf_tag(sf_dir), "feed.csv")
    lines = ["id,qty,tag"]
    for i in range(1, 51):
        lines.append(f"{i},{i * 10},t{i % 3}")  # clean
    lines += [
        "51,notanumber,bad-type",  # qty fails the int cast
        "52",                      # too few columns
        "53,530,extra,columns",    # too many columns
    ]
    with open(src, "w") as f:
        f.write("\n".join(lines) + "\n")

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("qty", T.LongType()),
            T.StructField("tag", T.StringType()),
            T.StructField("_corrupt_record", T.StringType()),
        ]
    )
    raw = (
        spark.read.schema(schema)
        .option("header", "true")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(src)
        # Spark disallows queries that prune the scan down to only the
        # internal corrupt-record column (QUERY_ONLY_CORRUPT_RECORD_
        # COLUMN); the documented pattern is to cache the parsed rows
        # first — tiny quarantine feed, so the cache is cheap.
        .cache()
    )
    return raw.select(
        F.when(F.col("_corrupt_record").isNotNull(), "quarantined")
        .otherwise("clean")
        .alias("disposition"),
        "qty",
    ).groupBy("disposition").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("qty").alias("qty_sum"),
    )


@register(
    "scan_python_datasource",
    oracle="""
    SELECT station,
           CAST(count(*) AS BIGINT) AS n_obs,
           round(avg(temp_c), 4) AS avg_temp,
           round(min(temp_c), 1) AS min_temp,
           round(max(temp_c), 1) AS max_temp
    FROM (
      SELECT 'station_' || CAST(i % 7 AS VARCHAR) AS station,
             ((i * 37) % 1000) / 10.0 AS temp_c
      FROM (SELECT unnest(generate_series(0, 9999)) AS i)
    )
    GROUP BY station
    """,
)
def scan_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan through a custom pure-Python DataSource (Spark 4
    ``pyspark.sql.datasource`` API) — the connector surface for feeds no
    built-in reader speaks (REST pagination, bespoke binary formats,
    instrument protocols). The synthetic observation generator splits
    into 8 InputPartitions, so the read parallelizes like a file scan;
    generation is pure arithmetic on the row index, so DuckDB
    reconstructs the identical relation from generate_series and the
    ENTIRE read path (partition planning, Python→Arrow conversion,
    schema) sits under the differential gate."""
    from ..sources import register_sources

    register_sources(spark)
    obs = (
        spark.read.format("synthetic_obs")
        .option("rows", 10000)
        .option("parts", 8)
        .load()
    )
    return obs.groupBy("station").agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.round(F.avg("temp_c"), 4).alias("avg_temp"),
        F.round(F.min("temp_c"), 1).alias("min_temp"),
        F.round(F.max("temp_c"), 1).alias("max_temp"),
    )


@register(
    "scan_xml_roundtrip",
    oracle="""
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(o_totalprice), 2) AS total_price
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def scan_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native XML source (built into Spark 4 — no spark-xml package):
    orders written as <row> elements and read back with an EXPLICIT
    schema (rowTag streaming parse; inference would need a second full
    pass). The aggregate over the round-tripped copy must match the
    raw parquet, proving the format conversion is lossless for the
    typed columns. At scale, XML parsing is per-file parallel like any
    text source; the rowTag splitter keeps memory bounded per
    element."""
    out = _scratch("xml", _sf_tag(sf_dir), "orders")
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    if not _cached(out, sf_dir, "orders"):
        (
            orders.write.mode("overwrite")
            .option("rootTag", "orders")
            .option("rowTag", "row")
            .format("xml")
            .save(out)
        )
        _seal_cache(out, sf_dir, "orders")
    back = (
        spark.read.format("xml")
        .option("rowTag", "row")
        .schema("o_orderkey long, o_orderstatus string, o_totalprice double")
        .load(out)
    )
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


@register(
    "scan_binary_files",
    oracle=f"""
    SELECT regexp_extract(filename, '([^/]+)$', 1) AS file_name,
           size AS n_bytes,
           substr(hex(content), 1, 16) AS head_hex,
           md5(hex(content)) AS content_md5
    FROM read_blob('{SCRATCH}/binfiles/*.bin')
    """,
)
def scan_binary_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``binaryFile`` source — the ingestion door for multimodal
    payloads (images/audio/video land as whole-file blobs before the
    decode UDFs in llm_multimodal_decode_features take over). Reads a
    deterministic 16-file corpus and fingerprints each blob; the
    oracle reads the same files via DuckDB ``read_blob``, so byte
    fidelity (not just row count) is verified. At 100 TB this source
    parallelizes over the object-store listing — one task per file
    (or per block for large files) with no driver-side I/O; the
    16-file fixture only proves the plumbing. Hashes go through
    ``hex`` first: both engines hex uppercase, while md5-of-BLOB is
    not directly comparable across them."""
    import hashlib

    bindir = _scratch("binfiles", "_")
    base = os.path.dirname(bindir)
    for i in range(16):
        payload = b"".join(
            hashlib.md5(f"blob-{i}-{j}".encode()).digest() for j in range(8)
        )[: 64 + 11 * i]
        with open(os.path.join(base, f"part-{i:02d}.bin"), "wb") as fh:
            fh.write(payload)
    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(base)
    )
    return df.select(
        F.element_at(F.split("path", "/"), -1).alias("file_name"),
        F.col("length").alias("n_bytes"),
        F.substring(F.hex("content"), 1, 16).alias("head_hex"),
        F.md5(F.hex("content")).alias("content_md5"),
    )


@register(
    "scan_csv_multiline_quoted",
    oracle=f"""
    SELECT id, category, note, CAST(length(note) AS INTEGER) AS note_len
    FROM read_csv('{SCRATCH}/multiline/rows.csv', header=true,
                  columns={{'id': 'BIGINT', 'category': 'VARCHAR',
                            'note': 'VARCHAR'}})
    """,
)
def scan_csv_multiline_quoted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC-4180 CSV with quoted fields containing embedded NEWLINES,
    commas, and doubled quotes — the shape real survey/comment exports
    take. Spark needs ``multiLine=true`` (plus quote/escape config) to
    parse it; the cost is that a multiline file is NOT line-splittable,
    so each file becomes one task — at 100 TB the fix is many medium
    files (or re-export as parquet at the edge), and THAT operational
    fact is the reason this op exists. The oracle is DuckDB's native
    RFC-4180 reader over the same file, so quoting semantics are
    verified byte-for-byte."""
    import csv

    path = _scratch("multiline", "rows.csv")
    rows = [
        (1, "plain", "single line"),
        (2, "comma", "a, b, and c"),
        (3, "newline", "first line\nsecond line\nthird"),
        (4, "quotes", 'she said "hi" twice'),
        (5, "mixed", 'line one, with "q"\nline two, end'),
        (6, "empty", ""),
    ]
    with open(path, "w", newline="") as fh:
        wtr = csv.writer(fh)  # RFC 4180: quotes doubled, fields quoted as needed
        wtr.writerow(["id", "category", "note"])
        wtr.writerows(rows)

    schema = "id long, category string, note string"
    df = (
        spark.read.schema(schema)
        .option("header", True)
        .option("multiLine", True)
        .option("quote", '"')
        .option("escape", '"')  # RFC 4180 doubles quotes; escape char = quote
        .csv(path)
    )
    return df.select(
        "id", "category", "note", F.length("note").alias("note_len")
    )


@register(
    "scan_orc_roundtrip",
    oracle="""
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(l_extendedprice), 2) AS total_price,
           round(sum(l_quantity), 2) AS total_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def scan_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC columnar source (Spark-native, vectorized reader): lineitem
    written as ORC and aggregated from the round-tripped copy — the
    result must match DuckDB's aggregate over the ORIGINAL parquet,
    proving the second columnar format is byte-faithful for typed
    columns. ORC matters operationally as the interchange format of
    Hive-lineage warehouses; predicate pushdown / column pruning /
    vectorization apply to its scans exactly as to parquet's (same
    DataSource V1 path, different footer/stripe layout)."""
    out = _scratch("orc", _sf_tag(sf_dir), "lineitem")
    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice", "l_quantity"
    )
    if not _cached(out, sf_dir, "lineitem"):
        li.write.mode("overwrite").orc(out)
        _seal_cache(out, sf_dir, "lineitem")
    back = spark.read.orc(out)
    return back.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("l_extendedprice"), 2).alias("total_price"),
        F.round(F.sum("l_quantity"), 2).alias("total_qty"),
    )


@register(
    "scan_partition_pruned_static",
    oracle="""
    SELECT l_linestatus,
           CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(l_extendedprice), 2) AS total_price
    FROM lineitem
    WHERE l_returnflag = 'R'
    GROUP BY l_linestatus
    """,
)
def scan_partition_pruned_static(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STATIC partition pruning (the compile-time sibling of
    join_partition_pruned_dynamic): lineitem laid out hive-partitioned
    by l_returnflag, then filtered on the partition column with a
    literal — the scan must touch only the matching directory, which
    surfaces as PartitionFilters in the plan (asserted in
    tests/test_layout.py) and as 'directories never listed' at 100 TB:
    the query planner prunes from catalog metadata before any file IO.
    This is the layout decision that makes daily-partitioned ETL
    re-runs O(day), not O(history)."""
    out = _scratch("parquet_flagpart", _sf_tag(sf_dir), "lineitem")
    src = load(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus", "l_extendedprice"
    )
    if not _cached(out, sf_dir, "lineitem"):
        src.write.mode("overwrite").partitionBy("l_returnflag").parquet(out)
        _seal_cache(out, sf_dir, "lineitem")
    # explicit schema: an empty batch writes zero partition dirs and
    # inference fails — the daily re-run must survive a no-data day
    back = spark.read.schema(src.schema).parquet(out)
    return (
        back.where(F.col("l_returnflag") == "R")
        .groupBy("l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("l_extendedprice"), 2).alias("total_price"),
        )
    )


@register(
    "scan_csv_gzip_roundtrip",
    oracle="""
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(o_totalprice), 2) AS total_price,
           CAST(min(o_orderkey) AS BIGINT) AS min_key,
           CAST(max(o_orderkey) AS BIGINT) AS max_key
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def scan_csv_gzip_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compressed text ingest: orders written as gzip CSV and read back
    with an explicit schema; the aggregate over the round-trip must
    match DuckDB over the original parquet (codec + text-format
    fidelity in one check).

    The operational point is the scale ASYMMETRY this format carries:
    gzip is not splittable, so one .csv.gz file = one task no matter
    its size — the classic ingest bottleneck. The sink here writes one
    gz file per partition (each a few MB), which is exactly the
    mitigation: many medium compressed files parallelize; one giant
    one serializes the whole read."""
    out = _scratch("csv_gz", _sf_tag(sf_dir), "orders")
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    if not _cached(out, sf_dir, "orders"):
        (
            orders.write.mode("overwrite")
            .option("header", True)
            .option("compression", "gzip")
            .csv(out)
        )
        _seal_cache(out, sf_dir, "orders")
    back = (
        spark.read.schema(
            "o_orderkey bigint, o_orderstatus string, o_totalprice double"
        )
        .option("header", True)
        .csv(out)
    )
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
    )


@register(
    "scan_text_lines",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(length(text)) AS BIGINT) AS total_chars,
           CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct
    FROM documents
    """,
)
def scan_text_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unstructured text-line ingestion (``spark.read.text``) — the
    door raw crawl dumps and log files come through before any schema
    exists. Round-trip oracle: the corpus is written one document per
    line (fixture text is newline-free), read back as lines, and the
    order-insensitive aggregate census (line count, char volume,
    distinct-content count) must equal DuckDB over the original
    parquet — proving the codec/splitting layer loses nothing. At
    100 TB line-splittable text files scan in parallel per 128 MB
    split, unlike the gzip path documented in scan_csv_gzip_roundtrip."""
    docs = load(spark, sf_dir, "documents")
    out = _scratch("text_lines", _sf_tag(sf_dir), "documents")
    docs.select("text").write.mode("overwrite").text(out)
    back = spark.read.text(out)
    return back.agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.length("value")).alias("total_chars"),
        F.countDistinct(F.md5(F.col("value").cast("binary"))).alias(
            "n_distinct"
        ),
    )


@register(
    "scan_json_multiline",
    oracle="""
    SELECT n_regionkey,
           CAST(count(*) AS BIGINT) AS n_nations,
           CAST(sum(n_nationkey) AS BIGINT) AS key_sum
    FROM nation
    GROUP BY n_regionkey
    """,
)
def scan_json_multiline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """multiLine JSON ingestion — a single pretty-printed JSON ARRAY
    document (the shape REST exports and config dumps arrive in), as
    opposed to scan_json_lines' one-object-per-line. The file is
    produced executor-side as one JSON document (a collect_list fold
    over the 25-row nation dim — bounded by construction), read back
    with ``multiLine=true``, and the aggregate census must match
    DuckDB over the original parquet. The operational lesson is in the
    contrast: a multiLine JSON document is NOT line-splittable — ONE
    task parses the whole file, so at 100 TB this format is for small
    payloads only; the line-delimited source is the scalable door."""
    nation = load(spark, sf_dir, "nation")
    out = _scratch("json_multiline", _sf_tag(sf_dir), "nation")
    doc = nation.agg(
        F.concat(
            F.lit("[\n"),
            F.concat_ws(
                ",\n",
                F.collect_list(
                    F.to_json(
                        F.struct("n_nationkey", "n_name", "n_regionkey")
                    )
                ),
            ),
            F.lit("\n]"),
        ).alias("value")
    )
    doc.write.mode("overwrite").text(out)
    back = spark.read.option("multiLine", "true").json(
        out, schema="n_nationkey long, n_name string, n_regionkey long"
    )
    return back.groupBy("n_regionkey").agg(
        F.count(F.lit(1)).alias("n_nations"),
        F.sum("n_nationkey").alias("key_sum"),
    )


@register(
    "sink_parquet_zstd",
    oracle="""
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(l_extendedprice), 2) AS total_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def sink_parquet_zstd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression-codec control: rewrite lineitem as zstd parquet
    (the modern lake default — snappy-class decode speed at gzip-class
    ratios; at 100 TB the codec choice IS a double-digit storage and
    scan-IO delta) and prove byte-level fidelity by aggregating the
    rewritten copy against DuckDB over the original.
    tests/test_layout.py asserts the written column chunks really
    carry ZSTD, so the option reached the files rather than silently
    falling back to the session default."""
    li = load(spark, sf_dir, "lineitem")
    out = _scratch("zstd", _sf_tag(sf_dir), "lineitem")
    (
        li.write.mode("overwrite")
        .option("compression", "zstd")
        .parquet(out)
    )
    # read back with the schema just written: the files hold exactly
    # it, and an inferred read would fire a footer-reading Spark job on
    # every call (an empty write survives too, see sink_parquet_partitioned)
    back = spark.read.schema(li.schema).parquet(out)
    return back.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("l_extendedprice"), 2).alias("total_price"),
    )


@register(
    "scan_parquet_ignore_corrupt",
    oracle="""
    SELECT n_regionkey,
           CAST(count(*) AS BIGINT) AS n_nations,
           CAST(sum(n_nationkey) AS BIGINT) AS key_sum
    FROM nation
    GROUP BY n_regionkey
    ORDER BY n_regionkey
    """,
)
def scan_parquet_ignore_corrupt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corrupt-file tolerance on the parquet path: a garbage file is
    planted in the table directory (a truncated upload, the standing
    operational reality of a million-file 100 TB lake) and the read
    proceeds with ``ignoreCorruptFiles`` — the job completes on the
    intact files instead of dying on one bad object. The oracle
    aggregates the original table, so the read is proven to recover
    EVERY intact row and nothing else. The parquet sibling of
    scan_csv_corrupt_permissive (which quarantines bad ROWS; this
    skips bad FILES — row-level recovery is impossible once a
    columnar footer is gone).

    At scale: prefer failing fast + quarantining bad objects via the
    footer census (scan_parquet_footer_census) in scheduled jobs, and
    ignoreCorruptFiles for best-effort interactive reads — documented
    trade, both surfaces implemented.
    """
    out = _scratch("corrupt_parquet", _sf_tag(sf_dir), "nation")
    # the cache is gated on a marker written AFTER the garbage file is
    # planted — _SUCCESS alone would validate a directory where a crash
    # between the parquet write and the plant left no corrupt file (the
    # query would still be correct but silently stop exercising
    # ignoreCorruptFiles)
    planted = os.path.join(out, "_GARBAGE_PLANTED")
    if not os.path.exists(planted):
        load(spark, sf_dir, "nation").repartition(4).write.mode(
            "overwrite"
        ).parquet(out)
        with open(os.path.join(out, "part-99999-garbage.parquet"), "wb") as fh:
            fh.write(b"PAR1 this is not a parquet file, just noise")
        with open(planted, "w") as fh:
            fh.write("ok")
    df = (
        spark.read.option("ignoreCorruptFiles", "true")
        .schema(load(spark, sf_dir, "nation").schema)
        .parquet(out)
    )
    return (
        df.groupBy("n_regionkey")
        .agg(
            F.count(F.lit(1)).alias("n_nations"),
            F.sum("n_nationkey").alias("key_sum"),
        )
        .orderBy("n_regionkey")
    )


def _manifest_layout(spark: SparkSession, sf_dir: str) -> str:
    """Prepare the simulated Iceberg table: orders range-split into 8
    parquet files by o_orderkey plus a ``manifest.json`` recording each
    data file's (path, min, max) for the sort column — the per-file
    stats an Iceberg/Delta manifest carries. Stats are harvested from
    the written parquet FOOTERS (pyarrow), exactly where a table format
    gets them, so the manifest can never disagree with the data."""
    import json as _json

    import pyarrow.parquet as _pq

    out = _scratch("iceberg_sim", _sf_tag(sf_dir), "orders")
    params = "manifest_layout:n_files=8"
    if _cached(out, sf_dir, "orders", params):
        return out
    (
        load(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .repartitionByRange(8, "o_orderkey")
        .write.mode("overwrite")
        .parquet(out)
    )
    entries = []
    for fname in sorted(os.listdir(out)):
        if not fname.endswith(".parquet"):
            continue
        md = _pq.ParquetFile(os.path.join(out, fname)).metadata
        lo, hi = None, None
        for rg in range(md.num_row_groups):
            col = next(
                md.row_group(rg).column(i)
                for i in range(md.num_columns)
                if md.row_group(rg).column(i).path_in_schema == "o_orderkey"
            )
            st = col.statistics
            if st is None or not st.has_min_max:
                lo = hi = None  # stats-less file: never prunable
                break
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
        entries.append({"path": fname, "min": lo, "max": hi})
    with open(os.path.join(out, "manifest.json"), "w") as fh:
        _json.dump({"column": "o_orderkey", "files": entries}, fh)
    _seal_cache(out, sf_dir, "orders", params)
    return out


def _manifest_prune(out: str, lo: int, hi: int) -> tuple[list, list]:
    """Driver-side manifest pruning: (kept, pruned) absolute data-file
    paths for predicate ``column BETWEEN lo AND hi``. A file with no
    stats (min/max None) is conservatively KEPT — pruning must only
    ever drop files proven disjoint from the predicate."""
    import json as _json

    with open(os.path.join(out, "manifest.json")) as fh:
        manifest = _json.load(fh)
    kept, pruned = [], []
    for entry in manifest["files"]:
        disjoint = (
            entry["min"] is not None
            and entry["max"] is not None
            and (entry["max"] < lo or entry["min"] > hi)
        )
        (pruned if disjoint else kept).append(os.path.join(out, entry["path"]))
    return kept, pruned


@register(
    "scan_iceberg_manifest_sim",
    oracle="""
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(o_totalprice), 2) AS total_price,
           CAST(min(o_orderkey) AS BIGINT) AS min_key,
           CAST(max(o_orderkey) AS BIGINT) AS max_key
    FROM orders
    WHERE o_orderkey BETWEEN 1000 AND 5000
    GROUP BY o_orderstatus
    """,
)
def scan_iceberg_manifest_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-format metadata pruning, simulated end-to-end (WAVE9
    candidate 4): the table is a directory of range-split parquet files
    plus a JSON manifest of per-file min/max stats (harvested from the
    parquet footers); the scan prunes files against the predicate ON
    THE DRIVER, before any file is listed or opened, then reads only
    the surviving files and applies the full predicate as the residual
    — Iceberg's planning model without the vendor runtime (Delta/
    Iceberg jars are uninstallable in this sandbox, verified r3–r8).

    Correctness contract: pruning must be ANSWER-INVARIANT — the oracle
    runs the same predicate over the UNPRUNED table, and files without
    stats are conservatively kept. tests/test_layout.py additionally
    asserts the pruned files never appear in df.inputFiles().

    At 100 TB: the manifest is O(files), not O(rows) — with ~100k data
    files it is a bounded driver-side table (Iceberg splits it into a
    manifest LIST + per-partition manifests so planning stays O(touched
    partitions); one JSON file stands in for that hierarchy here). The
    residual predicate still reaches the parquet scan as a pushed
    filter, so row-group pruning inside kept files stacks on top of the
    file-level prune — the two-tier skip every lakehouse read plans."""
    out = _manifest_layout(spark, sf_dir)
    kept, _pruned = _manifest_prune(out, 1000, 5000)
    schema = "o_orderkey bigint, o_orderstatus string, o_totalprice double"
    back = spark.read.schema(schema).parquet(*kept)
    return (
        back.where(F.col("o_orderkey").between(1000, 5000))
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
            F.min("o_orderkey").alias("min_key"),
            F.max("o_orderkey").alias("max_key"),
        )
    )


def _snapshot_layout(spark: SparkSession, sf_dir: str) -> str:
    """Prepare the simulated snapshot chain (WAVE10 candidate 1):

    - snapshot v1: orders range-split into 8 parquet files (same
      construction as ``_manifest_layout``), manifest lists them with
      per-file o_orderkey min/max from the footers.
    - snapshot v2: an Iceberg-style copy-on-write UPDATE —
      ``o_totalprice`` doubled WHERE o_orderkey BETWEEN 1000 AND 5000.
      The files OVERLAPPING the predicate (per the v1 manifest stats)
      are rewritten whole (matching rows updated, the rest copied
      unchanged); untouched v1 files are REFERENCED, not copied, by
      the v2 manifest — exactly the metadata shape a table format
      commits, so the row-level result equals the SQL UPDATE no matter
      where the file boundaries fall.

    ``manifest.json``: {"column": ..., "snapshots": {"v1": [entries],
    "v2": [entries]}} with (path, min, max) per entry."""
    import json as _json

    import pyarrow.parquet as _pq

    lo, hi = 1000, 5000
    out = _scratch("snapshot_sim", _sf_tag(sf_dir), "orders")
    params = "snapshot_layout:n_files=8:upd=1000-5000"
    if _cached(out, sf_dir, "orders", params):
        return out
    import shutil

    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)
    src = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    tmp = out + "_v1"
    (
        src.repartitionByRange(8, "o_orderkey")
        .write.mode("overwrite")
        .parquet(tmp)
    )

    def _stats(dirname, fname):
        md = _pq.ParquetFile(os.path.join(dirname, fname)).metadata
        flo, fhi = None, None
        for rg in range(md.num_row_groups):
            col = next(
                md.row_group(rg).column(i)
                for i in range(md.num_columns)
                if md.row_group(rg).column(i).path_in_schema == "o_orderkey"
            )
            st = col.statistics
            if st is None or not st.has_min_max:
                return None, None  # stats-less: never prunable/skippable
            flo = st.min if flo is None else min(flo, st.min)
            fhi = st.max if fhi is None else max(fhi, st.max)
        return flo, fhi

    v1 = []
    for i, fname in enumerate(
        f for f in sorted(os.listdir(tmp)) if f.endswith(".parquet")
    ):
        dst = f"v1-{i:02d}.parquet"
        shutil.copyfile(os.path.join(tmp, fname), os.path.join(out, dst))
        flo, fhi = _stats(out, dst)
        v1.append({"path": dst, "min": flo, "max": fhi})
    shutil.rmtree(tmp)

    # copy-on-write: rewrite only the files the predicate can touch
    # (stats-less files conservatively count as touched)
    touched = [
        e for e in v1
        if e["min"] is None or not (e["max"] < lo or e["min"] > hi)
    ]
    untouched = [e for e in v1 if e not in touched]
    schema = "o_orderkey bigint, o_orderstatus string, o_totalprice double"
    rewrite_src = spark.read.schema(schema).parquet(
        *[os.path.join(out, e["path"]) for e in touched]
    )
    updated = rewrite_src.withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey").between(lo, hi),
            F.col("o_totalprice") * 2,
        ).otherwise(F.col("o_totalprice")),
    )
    tmp2 = out + "_v2"
    updated.repartitionByRange(2, "o_orderkey").write.mode(
        "overwrite"
    ).parquet(tmp2)
    v2 = list(untouched)
    for i, fname in enumerate(
        f for f in sorted(os.listdir(tmp2)) if f.endswith(".parquet")
    ):
        dst = f"v2-{i:02d}.parquet"
        shutil.copyfile(os.path.join(tmp2, fname), os.path.join(out, dst))
        flo, fhi = _stats(out, dst)
        v2.append({"path": dst, "min": flo, "max": fhi})
    shutil.rmtree(tmp2)

    with open(os.path.join(out, "manifest.json"), "w") as fh:
        _json.dump(
            {"column": "o_orderkey", "snapshots": {"v1": v1, "v2": v2}},
            fh,
        )
    with open(os.path.join(out, "_SUCCESS"), "w"):
        pass
    _seal_cache(out, sf_dir, "orders", params)
    return out


def _snapshot_files(out: str, snapshot: str) -> list:
    """Absolute data-file paths a snapshot references (its manifest
    entry list — time travel is a pure metadata lookup)."""
    import json as _json

    with open(os.path.join(out, "manifest.json")) as fh:
        manifest = _json.load(fh)
    return [
        os.path.join(out, e["path"])
        for e in manifest["snapshots"][snapshot]
    ]


@register(
    "scan_snapshot_time_travel_sim",
    oracle="""
    WITH v1 AS (
      SELECT 'v1' AS snapshot, o_orderstatus,
             CAST(count(*) AS BIGINT) AS n_orders,
             round(sum(o_totalprice), 2) AS total_price
      FROM orders GROUP BY o_orderstatus
    ), v2 AS (
      SELECT 'v2' AS snapshot, o_orderstatus,
             CAST(count(*) AS BIGINT) AS n_orders,
             round(sum(CASE WHEN o_orderkey BETWEEN 1000 AND 5000
                            THEN o_totalprice * 2
                            ELSE o_totalprice END), 2) AS total_price
      FROM orders GROUP BY o_orderstatus
    )
    SELECT * FROM v1 UNION ALL SELECT * FROM v2
    """,
)
def scan_snapshot_time_travel_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot time travel over the simulated table format (WAVE10
    candidate 1, sibling of scan_iceberg_manifest_sim): snapshot v1 is
    the original 8-file layout; snapshot v2 is a copy-on-write UPDATE
    (o_totalprice doubled for o_orderkey ∈ [1000, 5000]) that rewrote
    ONLY the files whose footer stats overlap the predicate and kept
    every other v1 file by reference. Reading "as of" a snapshot is a
    pure metadata lookup — the manifest names the file set, no data is
    copied or scanned to plan — and this query aggregates BOTH
    snapshots side by side, proving v1 stays byte-stable after the v2
    commit (the time-travel guarantee) and v2 equals the SQL UPDATE
    row-for-row regardless of file boundaries.

    The oracle recomputes both snapshots from the ORIGINAL table (v1 =
    identity, v2 = CASE-expression update), so the whole
    copy-on-write machinery — overlap selection, whole-file rewrite,
    reference-not-copy manifest — must be answer-exact to hash-match.
    tests/test_layout.py additionally asserts the v2 read never opens a
    replaced v1 file and DOES share the untouched files with v1.

    At 100 TB: commits are O(touched files) data + O(files) metadata;
    historical reads cost the same planning as current reads (manifest
    lookup), which is why table formats make time travel free — this
    key documents and tests that model end to end."""
    out = _snapshot_layout(spark, sf_dir)
    schema = "o_orderkey bigint, o_orderstatus string, o_totalprice double"

    def snap(tag: str) -> DataFrame:
        back = spark.read.schema(schema).parquet(
            *_snapshot_files(out, tag)
        )
        return back.groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        ).select(
            F.lit(tag).alias("snapshot"),
            "o_orderstatus",
            "n_orders",
            "total_price",
        )

    return snap("v1").unionAll(snap("v2"))


def _mor_delete_layout(spark: SparkSession, sf_dir: str) -> str:
    """Prepare the simulated merge-on-read DELETE layout (WAVE11
    candidate 1, third leg of the table-format trio beside
    ``_manifest_layout`` and ``_snapshot_layout``):

    - commit 1 (base): orders range-split into 8 parquet files
      ``base-xx.parquet`` (same construction as the manifest sim);
      their md5 digests are recorded in the manifest at write time.
    - commit 2 (DELETE): an Iceberg-style merge-on-read EQUALITY
      delete — ``DELETE WHERE o_orderkey % 7 = 0 AND o_orderkey
      BETWEEN 1000 AND 5000`` (a bounded cohort erasure, the GDPR
      shape) writes ONLY a small ``delete-00.parquet`` of the deleted
      keys next to the base files.
      No base file is opened, rewritten, or copied (copy-on-write
      never happens); readers apply the delete file as a LEFT ANTI
      join until a compaction folds it in.

    ``manifest.json``: {"base": [{path, md5}], "deletes": [path],
    "predicate": ...} — the md5s are the commit-1 record the layout
    test replays against the post-delete-commit bytes."""
    import hashlib as _hashlib
    import json as _json
    import shutil

    out = _scratch("mor_delete_sim", _sf_tag(sf_dir), "orders")
    params = "mor_delete_layout:n_files=8:del=mod7_1000_5000"
    if _cached(out, sf_dir, "orders", params):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)
    src = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    tmp = out + "_base"
    (
        src.repartitionByRange(8, "o_orderkey")
        .write.mode("overwrite")
        .parquet(tmp)
    )

    def _md5(path):
        h = _hashlib.md5()
        with open(path, "rb") as fh:
            for chunk in iter(lambda: fh.read(1 << 20), b""):
                h.update(chunk)
        return h.hexdigest()

    base = []
    for i, fname in enumerate(
        f for f in sorted(os.listdir(tmp)) if f.endswith(".parquet")
    ):
        dst = f"base-{i:02d}.parquet"
        shutil.copyfile(os.path.join(tmp, fname), os.path.join(out, dst))
        base.append({"path": dst, "md5": _md5(os.path.join(out, dst))})
    shutil.rmtree(tmp)

    # commit 2: the DELETE — O(deleted keys) data, O(1) metadata; the
    # base files above are never touched again
    tmp2 = out + "_del"
    (
        src.where(
            (F.col("o_orderkey") % 7 == 0)
            & F.col("o_orderkey").between(1000, 5000)
        )
        .select("o_orderkey")
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(tmp2)
    )
    deletes = []
    for i, fname in enumerate(
        f for f in sorted(os.listdir(tmp2)) if f.endswith(".parquet")
    ):
        dst = f"delete-{i:02d}.parquet"
        shutil.copyfile(os.path.join(tmp2, fname), os.path.join(out, dst))
        deletes.append(dst)
    shutil.rmtree(tmp2)

    with open(os.path.join(out, "manifest.json"), "w") as fh:
        _json.dump(
            {
                "base": base,
                "deletes": deletes,
                "predicate": "o_orderkey % 7 = 0 AND o_orderkey "
                "BETWEEN 1000 AND 5000",
            },
            fh,
        )
    with open(os.path.join(out, "_SUCCESS"), "w"):
        pass
    _seal_cache(out, sf_dir, "orders", params)
    return out


def _mor_files(out: str) -> tuple[list, list]:
    """(base data files, delete files) the manifest references, as
    absolute paths — the reader plans from metadata only."""
    import json as _json

    with open(os.path.join(out, "manifest.json")) as fh:
        manifest = _json.load(fh)
    return (
        [os.path.join(out, e["path"]) for e in manifest["base"]],
        [os.path.join(out, p) for p in manifest["deletes"]],
    )


@register(
    "scan_merge_on_read_delete_sim",
    oracle="""
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_live,
           round(sum(o_totalprice), 2) AS total_price,
           min(o_orderkey) AS min_live_key,
           max(o_orderkey) AS max_live_key
    FROM orders o
    WHERE NOT EXISTS (SELECT 1 FROM orders d
                      WHERE d.o_orderkey % 7 = 0
                        AND d.o_orderkey BETWEEN 1000 AND 5000
                        AND d.o_orderkey = o.o_orderkey)
    GROUP BY o_orderstatus
    """,
)
def scan_merge_on_read_delete_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read DELETE over the simulated table format (WAVE11
    candidate 1, completing the trio: manifest pruning, time travel,
    and now deletes — the half real users hit first: GDPR erasure,
    bad-record corrections). The DELETE commit wrote ONLY a small
    parquet of deleted keys (an Iceberg equality-delete file); the
    base data files are byte-identical before and after the commit
    (tests/test_layout.py replays the manifest's commit-1 md5s against
    the current bytes). This read applies the delete file as a
    broadcast LEFT ANTI join on the key before aggregating — the
    merge-on-read contract: writers pay O(deleted keys), readers pay
    one anti join until compaction folds the tombstones in.

    The oracle recomputes the same aggregate over the ORIGINAL table
    with the null-safe NOT EXISTS form of NOT IN (the
    sql_not_in_null_aware lesson: LEFT ANTI ≡ NOT EXISTS, and unlike
    NOT IN it cannot be null-poisoned by a NULL key on either side),
    so the whole delete-file machinery must be answer-exact to
    hash-match.

    At 100 TB: DELETE commits are O(deleted keys) data + O(1)
    metadata — no copy-on-write rewrite amplification; reads pay one
    broadcast anti join against the (small, compaction-bounded) delete
    set, hash-partitioned only if the tombstone set outgrows the
    broadcast threshold; the plan test pins the anti-join side to the
    bounded delete file, never a second pass over the base data."""
    out = _mor_delete_layout(spark, sf_dir)
    base_files, delete_files = _mor_files(out)
    schema = "o_orderkey bigint, o_orderstatus string, o_totalprice double"
    base = spark.read.schema(schema).parquet(*base_files)
    tombstones = spark.read.schema("o_orderkey bigint").parquet(
        *delete_files
    )
    live = base.join(
        F.broadcast(tombstones), "o_orderkey", "left_anti"
    )
    return live.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_live"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        F.min("o_orderkey").alias("min_live_key"),
        F.max("o_orderkey").alias("max_live_key"),
    )


def _mor_compacted_layout(spark: SparkSession, sf_dir: str) -> str:
    """Compaction commit over the merge-on-read delete layout (the
    lifecycle step after ``_mor_delete_layout``): rewrite ONLY the base
    files that contain at least one tombstoned key (decided from the
    delete keys vs each file's footer min/max — pure metadata), drop
    the delete file from the manifest, and REFERENCE every untouched
    base file unchanged. After compaction a read is a plain scan again
    — no anti join — which is exactly why table formats compact:
    the merge-on-read tax is paid only between compactions.

    ``manifest.json``: {"files": [...], "carried": [paths shared with
    the pre-compaction layout], "rewritten": [...]} — the carried list
    is the layout test's reference-not-copy record."""
    import json as _json
    import shutil

    out = _scratch("mor_compacted_sim", _sf_tag(sf_dir), "orders")
    params = "mor_compacted_layout:src=mod7_1000_5000"
    if _cached(out, sf_dir, "orders", params):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)
    src_out = _mor_delete_layout(spark, sf_dir)
    base_files, delete_files = _mor_files(src_out)
    schema = "o_orderkey bigint, o_orderstatus string, o_totalprice double"

    def _harvest_key_ranges(batches):
        import pandas as _pd
        import pyarrow.parquet as _pq2

        for pdf in batches:
            rows = {"path": [], "lo": [], "hi": [], "has_stats": []}
            for path in pdf["path"]:
                md = _pq2.ParquetFile(path).metadata
                lo, hi, ok = None, None, True
                for rg in range(md.num_row_groups):
                    col = next(
                        md.row_group(rg).column(i)
                        for i in range(md.num_columns)
                        if md.row_group(rg).column(i).path_in_schema
                        == "o_orderkey"
                    )
                    st = col.statistics
                    if st is None or not st.has_min_max:
                        ok = False  # stats-less: conservatively rewrite
                        break
                    lo = st.min if lo is None else min(lo, st.min)
                    hi = st.max if hi is None else max(hi, st.max)
                rows["path"].append(path)
                rows["lo"].append(lo if ok else None)
                rows["hi"].append(hi if ok else None)
                rows["has_stats"].append(ok)
            yield _pd.DataFrame(rows)

    # footer ranges harvested DISTRIBUTED (the scan_parquet_footer_census
    # mapInPandas pattern — each task reads only its files' metadata
    # tails), collected as n_files metadata rows; a real table format
    # reads these ranges straight from its manifests, so at scale this
    # stage is pure manifest metadata with no footer IO at all
    files_df = spark.createDataFrame(
        [(p,) for p in base_files], "path string"
    ).repartition(4)
    rmap = {
        r.path: ((r.lo, r.hi) if r.has_stats else None)
        for r in files_df.mapInPandas(
            _harvest_key_ranges,
            "path string, lo bigint, hi bigint, has_stats boolean",
        ).collect()
    }
    # the touched-file decision: footer ranges (metadata) probed by
    # ONE aggregated pass over the tombstone file whose driver result
    # is a single row of n_files booleans — never the delete-key set
    # itself, which is corpus-scale after a big erasure; a per-key
    # collect here would be the classic driver-hop anti-pattern
    ranges = [rmap[p] for p in base_files]
    tomb = spark.read.schema("o_orderkey bigint").parquet(*delete_files)
    flags = tomb.agg(
        *[
            F.max(
                F.when(
                    F.col("o_orderkey").between(r[0], r[1]), 1
                ).otherwise(0)
            ).alias(f"f{i}")
            for i, r in enumerate(ranges)
            if r is not None
        ]
    ).collect()[0] if any(r is not None for r in ranges) else None

    carried, to_rewrite = [], []
    for i, p in enumerate(base_files):
        touched = ranges[i] is None or bool(flags[f"f{i}"])
        (to_rewrite if touched else carried).append(p)
    files = []
    for p in carried:
        dst = os.path.basename(p)
        shutil.copyfile(p, os.path.join(out, dst))
        files.append(dst)
    if to_rewrite:
        live = (
            spark.read.schema(schema)
            .parquet(*to_rewrite)
            .join(
                F.broadcast(
                    spark.read.schema("o_orderkey bigint").parquet(
                        *delete_files
                    )
                ),
                "o_orderkey",
                "left_anti",
            )
        )
        tmp = out + "_rw"
        live.repartitionByRange(
            max(1, len(to_rewrite) // 2), "o_orderkey"
        ).write.mode("overwrite").parquet(tmp)
        for i, fname in enumerate(
            f for f in sorted(os.listdir(tmp)) if f.endswith(".parquet")
        ):
            dst = f"compact-{i:02d}.parquet"
            shutil.copyfile(
                os.path.join(tmp, fname), os.path.join(out, dst)
            )
            files.append(dst)
        shutil.rmtree(tmp)
    with open(os.path.join(out, "manifest.json"), "w") as fh:
        _json.dump(
            {
                "files": files,
                "carried": [os.path.basename(p) for p in carried],
                "rewritten": [os.path.basename(p) for p in to_rewrite],
            },
            fh,
        )
    with open(os.path.join(out, "_SUCCESS"), "w"):
        pass
    _seal_cache(out, sf_dir, "orders", params)
    return out


@register(
    "scan_mor_compaction_sim",
    oracle="""
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_live,
           round(sum(o_totalprice), 2) AS total_price,
           min(o_orderkey) AS min_live_key,
           max(o_orderkey) AS max_live_key
    FROM orders o
    WHERE NOT EXISTS (SELECT 1 FROM orders d
                      WHERE d.o_orderkey % 7 = 0
                        AND d.o_orderkey BETWEEN 1000 AND 5000
                        AND d.o_orderkey = o.o_orderkey)
    GROUP BY o_orderstatus
    """,
)
def scan_mor_compaction_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tombstone COMPACTION over the merge-on-read delete layout — the
    lifecycle step that closes the trio's delete story: the compaction
    commit folds the delete file into the data by rewriting ONLY the
    base files whose footer key range can contain a tombstoned key
    (metadata decision, no data read to plan) and carrying every other
    base file by reference; the post-compaction read is a PLAIN SCAN,
    no anti join (the layout test asserts the executed plan has no
    join at all and that carried files are byte-shared with the
    pre-compaction layout). Same aggregate and oracle as
    scan_merge_on_read_delete_sim, so the driver hash-certifies that
    the merge-on-read read path and the compacted read path give the
    same answer — the invariant compaction must preserve.

    At 100 TB: compaction cost is O(files overlapping the tombstone
    key space), amortized across the reads it speeds up; readers
    before compaction pay the anti join, readers after pay nothing —
    this pair of keys IS that trade, measured."""
    out = _mor_compacted_layout(spark, sf_dir)
    import json as _json

    with open(os.path.join(out, "manifest.json")) as fh:
        files = _json.load(fh)["files"]
    schema = "o_orderkey bigint, o_orderstatus string, o_totalprice double"
    live = spark.read.schema(schema).parquet(
        *[os.path.join(out, f) for f in files]
    )
    return live.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_live"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        F.min("o_orderkey").alias("min_live_key"),
        F.max("o_orderkey").alias("max_live_key"),
    )


def _cdc_matview_layout(spark: SparkSession, sf_dir: str) -> str:
    """The standing MATERIALIZED AGGREGATE a CDC consumer maintains
    (pipeline_cdc_apply's bootstrap): per-status order count and
    EXACT integer-cents price total over snapshot v1, written once as
    a tiny parquet next to its own manifest marker. Cents are
    ``round(price·100)`` — 2dp fixture prices make that exact — so
    incremental merges are int64 arithmetic, order-free and drift-free
    no matter how many deltas are folded in over the view's lifetime
    (the classic incremental-view-maintenance exactness requirement).
    Reading v1 in full happens HERE, at bootstrap, exactly once —
    the registered consumer never does."""
    import shutil

    out = _scratch("cdc_matview", _sf_tag(sf_dir), "orders")
    params = "cdc_matview:v1"
    if _cached(out, sf_dir, "orders", params):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)
    snap = _snapshot_layout(spark, sf_dir)
    schema = "o_orderkey bigint, o_orderstatus string, o_totalprice double"
    v1 = spark.read.schema(schema).parquet(*_snapshot_files(snap, "v1"))
    agg = v1.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias(
            "cents"
        ),
    )
    tmp = out + "_w"
    agg.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
    shutil.copyfile(
        os.path.join(tmp, part), os.path.join(out, "matview.parquet")
    )
    shutil.rmtree(tmp)
    with open(os.path.join(out, "_SUCCESS"), "w"):
        pass
    _seal_cache(out, sf_dir, "orders", params)
    return out


def _schema_evo_layout(spark: SparkSession, sf_dir: str) -> str:
    """Schema-evolution layout (WAVE12 candidate 2): generation-1
    files written under schema v1 (no ``o_clerk_bucket``), a
    METADATA-ONLY schema-change commit, then generation-2 files under
    schema v2 (with the column). Generation membership is
    ``o_orderkey % 3 = 0`` → gen-2 (written after the change) — rows'
    write-time is uncorrelated with their key, the realistic shape.
    No gen-1 file is rewritten by the commit (md5s recorded at write
    time; the layout test replays them) — rewriting history to add a
    column is exactly what schema-in-metadata exists to avoid.

    ``manifest.json``: {"schemas": {"v1": [...], "v2": [...]},
    "gen1": [{path, md5}], "gen2": [paths]}."""
    import hashlib as _hashlib
    import json as _json
    import shutil

    out = _scratch("schema_evo_sim", _sf_tag(sf_dir), "orders")
    params = "schema_evo_layout:gen=mod3:col=clerk_bucket"
    if _cached(out, sf_dir, "orders", params):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)
    src = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )

    def _md5(path):
        h = _hashlib.md5()
        with open(path, "rb") as fh:
            for chunk in iter(lambda: fh.read(1 << 20), b""):
                h.update(chunk)
        return h.hexdigest()

    def _fan(df, tmp, prefix, n):
        df.repartitionByRange(n, "o_orderkey").write.mode(
            "overwrite"
        ).parquet(tmp)
        names = []
        for i, fname in enumerate(
            f for f in sorted(os.listdir(tmp)) if f.endswith(".parquet")
        ):
            dst = f"{prefix}-{i:02d}.parquet"
            shutil.copyfile(
                os.path.join(tmp, fname), os.path.join(out, dst)
            )
            names.append(dst)
        shutil.rmtree(tmp)
        return names

    gen1_names = _fan(
        src.where(F.col("o_orderkey") % 3 != 0), out + "_g1", "gen1", 4
    )
    gen1 = [
        {"path": p, "md5": _md5(os.path.join(out, p))} for p in gen1_names
    ]
    # schema-change commit: metadata only — then gen-2 writes carry it
    gen2 = _fan(
        src.where(F.col("o_orderkey") % 3 == 0).withColumn(
            "o_clerk_bucket", (F.col("o_orderkey") % 10).cast("int")
        ),
        out + "_g2",
        "gen2",
        2,
    )
    with open(os.path.join(out, "manifest.json"), "w") as fh:
        _json.dump(
            {
                "schemas": {
                    "v1": [
                        "o_orderkey", "o_orderstatus", "o_totalprice"
                    ],
                    "v2": [
                        "o_orderkey", "o_orderstatus", "o_totalprice",
                        "o_clerk_bucket",
                    ],
                },
                "gen1": gen1,
                "gen2": gen2,
            },
            fh,
        )
    with open(os.path.join(out, "_SUCCESS"), "w"):
        pass
    _seal_cache(out, sf_dir, "orders", params)
    return out


@register(
    "scan_schema_evolution_sim",
    oracle="""
    SELECT CASE WHEN o_orderkey % 3 = 0
                THEN CAST(o_orderkey % 10 AS INT)
                ELSE CAST(-1 AS INT) END AS clerk_bucket,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(o_totalprice), 2) AS total_price
    FROM orders
    GROUP BY 1
    """,
)
def scan_schema_evolution_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution over the simulated table format (WAVE12
    candidate 2, the fourth lifecycle leg after manifest pruning, time
    travel, and merge-on-read deletes): generation-1 files predate the
    ``o_clerk_bucket`` column, generation-2 files carry it, and ONE
    scan under the evolved schema reads both generations — the parquet
    reader null-fills the missing column for old files (the format's
    add-column default semantics), and the aggregate maps that null to
    the ``-1`` pre-evolution bucket. The schema-change commit touched
    no data file (gen-1 md5s replayed by the layout test): adding a
    column to a 100 TB table is a metadata write, and THAT is the
    entire point of schema-in-metadata formats.

    The oracle recomputes the same census from the original table with
    the generation predicate inlined, so null-fill semantics, the
    single-scan union of heterogeneous files, and the bucket cast must
    all be answer-exact to hash-match."""
    import json as _json

    out = _schema_evo_layout(spark, sf_dir)
    with open(os.path.join(out, "manifest.json")) as fh:
        manifest = _json.load(fh)
    files = [
        os.path.join(out, e["path"]) for e in manifest["gen1"]
    ] + [os.path.join(out, p) for p in manifest["gen2"]]
    v2 = (
        "o_orderkey bigint, o_orderstatus string, o_totalprice double, "
        "o_clerk_bucket int"
    )
    evolved = spark.read.schema(v2).parquet(*files)
    return (
        evolved.select(
            F.coalesce("o_clerk_bucket", F.lit(-1)).alias("clerk_bucket"),
            "o_totalprice",
        )
        .groupBy("clerk_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


def _snapshot_chain_layout(spark: SparkSession, sf_dir: str) -> str:
    """Three-snapshot chain (WAVE12 candidate 4): v1 = 8-file range
    split of orders; v2 = copy-on-write UPDATE (price ×2 for
    o_orderkey ∈ [1000, 5000]); v3 = copy-on-write DELETE
    (o_orderkey % 5 = 0 ∧ o_orderkey ∈ [1000, 3000]) — two different
    commit TYPES so the incremental consumer must compose an update
    delta and a delete delta. Each commit rewrites only the files
    whose footer stats overlap its predicate (stats-less files
    conservatively rewritten) and references the rest. A per-status
    matview over v1 (count + exact int64 cents) is materialized here
    at bootstrap, so the replay key never reads v1 in full.

    ``manifest.json``: {"snapshots": {"v1"|"v2"|"v3": [{path, min,
    max}]}}; plus ``matview.parquet``."""
    import json as _json
    import shutil

    import pyarrow.parquet as _pq

    out = _scratch("snapshot_chain", _sf_tag(sf_dir), "orders")
    params = "snapshot_chain:upd=1000-5000:del=mod5_1000-3000"
    if _cached(out, sf_dir, "orders", params):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)
    schema = "o_orderkey bigint, o_orderstatus string, o_totalprice double"

    def _stats(path):
        md = _pq.ParquetFile(path).metadata
        lo, hi = None, None
        for rg in range(md.num_row_groups):
            col = next(
                md.row_group(rg).column(i)
                for i in range(md.num_columns)
                if md.row_group(rg).column(i).path_in_schema
                == "o_orderkey"
            )
            st = col.statistics
            if st is None or not st.has_min_max:
                return None, None
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
        return lo, hi

    def _fan(df, prefix, n):
        tmp = out + "_t"
        df.repartitionByRange(n, "o_orderkey").write.mode(
            "overwrite"
        ).parquet(tmp)
        entries = []
        for i, fname in enumerate(
            f for f in sorted(os.listdir(tmp)) if f.endswith(".parquet")
        ):
            dst = f"{prefix}-{i:02d}.parquet"
            shutil.copyfile(
                os.path.join(tmp, fname), os.path.join(out, dst)
            )
            lo, hi = _stats(os.path.join(out, dst))
            entries.append({"path": dst, "min": lo, "max": hi})
        shutil.rmtree(tmp)
        return entries

    def _cow_commit(prev, lo, hi, transform, prefix, n_files):
        """Copy-on-write: rewrite only predicate-overlapping files."""
        touched = [
            e for e in prev
            if e["min"] is None or not (e["max"] < lo or e["min"] > hi)
        ]
        kept = [e for e in prev if e not in touched]
        if not touched:
            return list(prev)
        src = spark.read.schema(schema).parquet(
            *[os.path.join(out, e["path"]) for e in touched]
        )
        return kept + _fan(transform(src), prefix, n_files)

    src = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    v1 = _fan(src, "v1", 8)

    v2 = _cow_commit(
        v1, 1000, 5000,
        lambda df: df.withColumn(
            "o_totalprice",
            F.when(
                F.col("o_orderkey").between(1000, 5000),
                F.col("o_totalprice") * 2,
            ).otherwise(F.col("o_totalprice")),
        ),
        "v2", 2,
    )
    v3 = _cow_commit(
        v2, 1000, 3000,
        lambda df: df.where(
            ~(
                (F.col("o_orderkey") % 5 == 0)
                & F.col("o_orderkey").between(1000, 3000)
            )
        ),
        "v3", 2,
    )

    mv = (
        spark.read.schema(schema)
        .parquet(*[os.path.join(out, e["path"]) for e in v1])
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("bigint")
            ).alias("cents"),
        )
    )
    tmp = out + "_mv"
    mv.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
    shutil.copyfile(
        os.path.join(tmp, part), os.path.join(out, "matview.parquet")
    )
    shutil.rmtree(tmp)

    with open(os.path.join(out, "manifest.json"), "w") as fh:
        _json.dump({"snapshots": {"v1": v1, "v2": v2, "v3": v3}}, fh)
    with open(os.path.join(out, "_SUCCESS"), "w"):
        pass
    _seal_cache(out, sf_dir, "orders", params)
    return out


def _partition_evo_layout(spark: SparkSession, sf_dir: str) -> str:
    """Partition-spec evolution layout (WAVE12 candidate 5): data
    before the spec-change commit (o_orderdate < 1999-01-01) is laid
    out one file per YEAR; data after it one file per MONTH — the
    Iceberg hidden-partitioning story, where changing the spec never
    rewrites old files and the manifest records each file's partition
    TRANSFORM VALUE (its date span) so readers prune each generation
    under its own spec. ``manifest.json``: [{path, spec, lo, hi}] with
    ISO date bounds derived from the partition value (metadata, not
    footer scans)."""
    import json as _json
    import shutil

    out = _scratch("partition_evo_sim", _sf_tag(sf_dir), "orders")
    params = "partition_evo_layout:cut=1999-01-01:year->month"
    if _cached(out, sf_dir, "orders", params):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)
    src = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    )
    cut = "1999-01-01"
    gen1 = src.where(
        F.col("o_orderdate") < F.lit(cut).cast("timestamp_ntz")
    ).withColumn("pv", F.date_format("o_orderdate", "yyyy"))
    gen2 = src.where(
        F.col("o_orderdate") >= F.lit(cut).cast("timestamp_ntz")
    ).withColumn("pv", F.date_format("o_orderdate", "yyyy-MM"))

    entries = []
    for gen, spec, prefix in ((gen1, "year", "y"), (gen2, "month", "m")):
        tmp = out + "_t"
        # Repartition on the partition value first so every pv lands in
        # exactly one task → exactly one part file per pv= directory; the
        # single-file copy below would otherwise silently drop rows if the
        # upstream split (multi-file fixture, AQE) spread a pv across tasks.
        gen.repartition("pv").write.mode("overwrite").partitionBy(
            "pv"
        ).parquet(tmp)
        for d in sorted(os.listdir(tmp)):
            if not d.startswith("pv="):
                continue
            pv = d.split("=", 1)[1]
            part_files = [
                f
                for f in sorted(os.listdir(os.path.join(tmp, d)))
                if f.endswith(".parquet")
            ]
            if len(part_files) != 1:
                raise AssertionError(
                    f"partition_evo layout: expected exactly one part file "
                    f"in {d}, found {len(part_files)} — the one-file-per-pv "
                    f"invariant the manifest relies on is broken"
                )
            part = part_files[0]
            dst = f"{prefix}-{pv}.parquet"
            shutil.copyfile(
                os.path.join(tmp, d, part), os.path.join(out, dst)
            )
            if spec == "year":
                lo, hi = f"{pv}-01-01", f"{int(pv) + 1}-01-01"
            else:
                y, m = int(pv[:4]), int(pv[5:7])
                nxt = (
                    f"{y + 1}-01-01"
                    if m == 12
                    else f"{y}-{m + 1:02d}-01"
                )
                lo, hi = f"{pv}-01", nxt
            entries.append(
                {"path": dst, "spec": spec, "lo": lo, "hi": hi}
            )
        shutil.rmtree(tmp)
    with open(os.path.join(out, "manifest.json"), "w") as fh:
        _json.dump({"files": entries, "cut": cut}, fh)
    with open(os.path.join(out, "_SUCCESS"), "w"):
        pass
    _seal_cache(out, sf_dir, "orders", params)
    return out


def _partition_evo_prune(out: str, lo: str, hi: str) -> tuple[list, list]:
    """Manifest pruning across BOTH specs: keep a file iff its
    partition-value span [lo, hi) intersects the query range
    [lo, hi] — each generation pruned under its own transform, the
    whole point of spec evolution. Returns (kept, pruned) entries."""
    import json as _json

    with open(os.path.join(out, "manifest.json")) as fh:
        entries = _json.load(fh)["files"]
    kept = [e for e in entries if e["lo"] <= hi and lo < e["hi"]]
    return kept, [e for e in entries if e not in kept]


_PEVO_LO, _PEVO_HI = "1998-06-01", "1999-03-31"


@register(
    "scan_partition_evolution_sim",
    oracle=f"""
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(o_totalprice), 2) AS total_price
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '{_PEVO_LO} 00:00:00'
      AND o_orderdate < TIMESTAMP '{_PEVO_HI} 00:00:00'
    GROUP BY o_orderstatus
    """,
)
def scan_partition_evolution_sim(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Partition-spec evolution (WAVE12 candidate 5, fifth
    table-format leg): history is partitioned by YEAR, data written
    after the spec-change commit by MONTH, and one query whose date
    range STRADDLES the commit prunes each generation under its own
    spec from the manifest alone — the straddle keeps exactly the
    1998 year file plus the 1999-01..03 month files (layout test pins
    inputFiles to that set). Old files are never rewritten when the
    spec changes; the manifest's partition-transform values are the
    pruning metadata, so planning stays O(files) with zero footer
    reads.

    The oracle recomputes the same range aggregate from the original
    table, so the generation split, both pruning paths, and the
    residual row-level filter (file grain is coarser than the
    predicate: the year file contains rows before 1998-06-01 that
    must drop in-scan) are all answer-exact. At 100 TB this is why
    formats version the partition SPEC in metadata: re-laying-out
    history to a finer grain would rewrite the table; evolving the
    spec costs one metadata commit and queries prune both layouts
    correctly forever."""
    out = _partition_evo_layout(spark, sf_dir)
    kept, _pruned = _partition_evo_prune(out, _PEVO_LO, _PEVO_HI)
    schema = (
        "o_orderkey bigint, o_orderstatus string, o_totalprice double, "
        "o_orderdate timestamp_ntz"
    )
    lo = F.lit(f"{_PEVO_LO} 00:00:00").cast("timestamp_ntz")
    hi = F.lit(f"{_PEVO_HI} 00:00:00").cast("timestamp_ntz")
    df = spark.read.schema(schema).parquet(
        *[os.path.join(out, e["path"]) for e in kept]
    )
    return (
        df.where((F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi))
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


def _pdv_layout(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Positional-delete-vector layout (the Iceberg v2 / Delta
    deletion-vector shape, complementing the EQUALITY tombstones of
    _mor_delete_layout): base = orders in 4 key-sorted files; the
    DELETE commit records (file_path, row_index) pairs — harvested by
    reading the base back with the ``_metadata`` columns and applying
    the delete predicate, exactly how an engine producing DVs locates
    victim rows. Row positions are deterministic because the base
    files are sorted and sealed before the DV is derived. Base files
    are never rewritten by the commit (the DV lives beside, not
    inside, the data dir)."""
    out = _scratch("pdv_base", _sf_tag(sf_dir), "orders")
    dv = _scratch("pdv_vector", _sf_tag(sf_dir), "orders")
    # the vector holds absolute base-file paths: a layout copied or
    # moved with its scratch root must not validate at the new place
    params = f"pdv_layout:files=4:pred=mod5_2000_6000:at={out}"
    if _cached(out, sf_dir, "orders", params) and _cached(
        dv, sf_dir, "orders", params
    ):
        return out, dv
    (
        load(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .repartitionByRange(4, "o_orderkey")
        .sortWithinPartitions("o_orderkey")
        .write.mode("overwrite")
        .parquet(out)
    )
    back = spark.read.parquet(out).select(
        "o_orderkey",
        F.col("_metadata.file_path").alias("file_path"),
        F.col("_metadata.row_index").alias("row_index"),
    )
    (
        back.where(
            (F.col("o_orderkey") % 5 == 0)
            & F.col("o_orderkey").between(2000, 6000)
        )
        .select("file_path", "row_index")
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(dv)
    )
    _seal_cache(out, sf_dir, "orders", params)
    _seal_cache(dv, sf_dir, "orders", params)
    return out, dv


@register(
    "scan_positional_delete_sim",
    oracle="""
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_live,
           round(sum(o_totalprice), 2) AS total_price,
           min(o_orderkey) AS min_live_key,
           max(o_orderkey) AS max_live_key
    FROM orders o
    WHERE NOT EXISTS (SELECT 1 FROM orders d
                      WHERE d.o_orderkey % 5 = 0
                        AND d.o_orderkey BETWEEN 2000 AND 6000
                        AND d.o_orderkey = o.o_orderkey)
    GROUP BY o_orderstatus
    """,
)
def scan_positional_delete_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POSITIONAL delete vectors over the simulated table format
    (WAVE17) — the second merge-on-read delete encoding real formats
    deploy (Iceberg v2 positional deletes / Delta deletion vectors),
    next to the landed EQUALITY tombstones: the delete commit records
    (file, row position) pairs instead of key values, which is what an
    engine writes when the delete came from an arbitrary predicate or
    a MERGE whose victims were already located. The read applies the
    DV as a broadcast LEFT ANTI join on (file_path, row_index) —
    Spark's ``_metadata`` columns supply both natively, so the
    position arithmetic is the reader's, not ours. The oracle
    recomputes the aggregate with the null-safe NOT EXISTS form of the
    original predicate: hash-match proves position-addressed deletion
    ≡ predicate deletion, row for row (including duplicate-key and
    NULL-key rows, where positions and keys could legally diverge).

    At 100 TB: DV commits are O(deleted positions) with zero base-file
    rewrites (byte-identity is structural — the DV lives beside the
    data dir); reads pay one broadcast anti join until compaction;
    unlike equality deletes the anti join needs NO value comparison on
    wide keys — two longs and a string, constant per row regardless of
    schema."""
    out, dv = _pdv_layout(spark, sf_dir)
    base = spark.read.parquet(out).select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.col("_metadata.file_path").alias("file_path"),
        F.col("_metadata.row_index").alias("row_index"),
    )
    vector = spark.read.schema(
        "file_path string, row_index bigint"
    ).parquet(dv)
    live = base.join(
        F.broadcast(vector), ["file_path", "row_index"], "left_anti"
    )
    return live.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_live"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        F.min("o_orderkey").alias("min_live_key"),
        F.max("o_orderkey").alias("max_live_key"),
    )


def _pdv_compacted(spark: SparkSession, sf_dir: str) -> str:
    """Compaction commit over the positional-DV layout (the lifecycle
    step _mor_compacted_layout gives equality tombstones): rewrite
    ONLY the base files the delete vector references (the touched set
    is the DV's distinct file list — manifest-grade metadata, a
    bounded driver hop), dropping their deleted positions via one
    distributed anti-join on (file_path, row_index); REFERENCE every
    untouched file unchanged; drop the DV from the manifest. After
    compaction a read is a plain scan again — the merge-on-read tax is
    paid only between compactions. ``manifest.json``: {"carried":
    [...], "rewritten": [...]}."""
    import glob as _glob
    import json as _json
    import shutil

    out = _scratch("pdv_compacted", _sf_tag(sf_dir), "orders")
    params = f"pdv_compacted:src=mod5_2000_6000:v2:at={out}"  # see _pdv_layout
    if _cached(out, sf_dir, "orders", params):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)
    base, dv = _pdv_layout(spark, sf_dir)
    vector = spark.read.schema(
        "file_path string, row_index bigint"
    ).parquet(dv)
    touched = sorted(
        r.file_path for r in vector.select("file_path").distinct().collect()
    )
    # NB: _metadata.file_path renders as "file:/abs/path" (Hadoop
    # Path.toString, ONE slash) — match that exactly or the carried-set
    # test silently keeps every file (measured while building this key)
    base_files = sorted(
        "file:" + p
        for p in _glob.glob(os.path.join(base, "*.parquet"))
    )
    carried = [p for p in base_files if p not in set(touched)]
    rewritten: list[str] = []
    if touched:
        live = (
            spark.read.parquet(*touched)
            .select(
                "o_orderkey",
                "o_orderstatus",
                "o_totalprice",
                F.col("_metadata.file_path").alias("file_path"),
                F.col("_metadata.row_index").alias("row_index"),
            )
            .join(F.broadcast(vector), ["file_path", "row_index"], "left_anti")
            .drop("file_path", "row_index")
        )
        data_dir = os.path.join(out, "data")
        (
            live.repartitionByRange(max(len(touched), 1), "o_orderkey")
            .sortWithinPartitions("o_orderkey")
            .write.mode("overwrite")
            .parquet(data_dir)
        )
        rewritten = sorted(
            "file:" + p
            for p in _glob.glob(os.path.join(data_dir, "*.parquet"))
        )
    with open(os.path.join(out, "manifest.json"), "w") as fh:
        _json.dump({"carried": carried, "rewritten": rewritten}, fh)
    _seal_cache(out, sf_dir, "orders", params)
    return out


@register(
    "scan_dv_compaction_sim",
    oracle="""
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_live,
           round(sum(o_totalprice), 2) AS total_price,
           min(o_orderkey) AS min_live_key,
           max(o_orderkey) AS max_live_key
    FROM orders o
    WHERE NOT EXISTS (SELECT 1 FROM orders d
                      WHERE d.o_orderkey % 5 = 0
                        AND d.o_orderkey BETWEEN 2000 AND 6000
                        AND d.o_orderkey = o.o_orderkey)
    GROUP BY o_orderstatus
    """,
)
def scan_dv_compaction_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction of POSITIONAL delete vectors (WAVE18), completing
    the DV lifecycle next to scan_mor_compaction_sim's equality-delete
    form: only the DV-referenced files are rewritten (positions
    dropped by one distributed position anti-join), untouched files
    are REFERENCED byte-identical, and the post-compaction read is a
    PLAIN SCAN — no anti join, no _metadata columns — with the same
    oracle as the pre-compaction DV read, so the hash gate proves
    compaction folded the deletions in without changing one row.

    At 100 TB: compaction cost is O(touched files + DV), never a table
    rewrite; between compactions readers pay the DV anti-join
    (scan_positional_delete_sim), after it they pay nothing — the
    entire reason formats carry both encodings AND a compactor."""
    import json as _json

    out = _pdv_compacted(spark, sf_dir)
    with open(os.path.join(out, "manifest.json")) as fh:
        manifest = _json.load(fh)
    files = manifest["carried"] + manifest["rewritten"]
    schema = "o_orderkey bigint, o_orderstatus string, o_totalprice double"
    if not files:
        return spark.createDataFrame(
            [],
            "o_orderstatus string, n_live bigint, total_price double, "
            "min_live_key bigint, max_live_key bigint",
        )
    live = spark.read.schema(schema).parquet(*files)
    return live.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_live"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        F.min("o_orderkey").alias("min_live_key"),
        F.max("o_orderkey").alias("max_live_key"),
    )
