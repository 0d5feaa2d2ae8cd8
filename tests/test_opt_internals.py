"""Focused tests for the r12 optimization-round internals changes:

- ``_dbl_array_lit``: the single-parse SQL literal builder must be
  BIT-identical to the nested ``F.lit`` idiom it replaced (the trained
  PQ codebooks / LSH planes / k-means centroids all ride through it).
- ``_spread``: the pre-compute repartition must still fan a
  single-split fixture scan out to ``defaultParallelism``, but must
  become a NO-OP (no RoundRobin exchange in the plan) when the input
  is already at least that parallel — the 100 TB shape.
- ``_nearest_cell``: the scan-stage argmax cell assignment must agree
  row-for-row with the crossJoin×K + window form it replaced,
  including NULL-cosine (zero-norm) tie-break semantics.
- ``pin`` (r13): the shared fan-out materialization helper must take
  the checkpoint branch on small inputs, the recompute branch above the
  size gate (same rows either way), and a ``required=True`` pin must
  survive both the debug knob and the gate.
- ``tables.load``'s schema cache: a repeated load of an unchanged
  fixture file reads with the cached schema and fires no Spark job,
  with the same schema and rows as an inferred read; a rewrite is
  re-inferred; a directory-shaped table still loads.
- ``with_dense_cumsum``: prefix sums bucketed by arithmetic on a known
  index must equal the single-partition window at any partition
  count, NULLs included, with no pin; the curriculum interleave index
  it is keyed on must equal row_number over (pos, decile).
- ``get_spark``'s generated-class cache: a second pass over keys whose
  classes outnumber Spark's default cache compiles nothing, and
  ``import noaa_etl_daily_spark.tables`` gives the module.
- The sink keys' own work: ``sink_compact_small_files`` writes its
  64-shard input once per fixture, and the read-backs that pass the
  schema just written give the same schema and rows as an inferred
  read with fewer jobs.
"""

from __future__ import annotations

import os
import shutil
import struct
import sys
import uuid

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .conftest import canonicalize


def _flat(v):
    out = []
    for e in v:
        if isinstance(e, (list, tuple)):
            out.extend(_flat(e))
        else:
            out.append(e)
    return out


def test_dbl_array_lit_bit_equals_nested_flit(spark):
    from noaa_etl_daily_spark.operators.llm import (
        _LSH_MP_PLANES,
        _LSH_PLANES,
        _dbl_array_lit,
    )

    rng = np.random.RandomState(0)
    cases = [
        list(rng.standard_normal(64)),
        [list(x) for x in rng.standard_normal((32, 8)) * 1e6],
        # signed zero, denormals, huge magnitudes, long mantissas
        [0.0, -0.0, 1e-310, -1e-310, 1e308, -1e308,
         123456789.123456789, 2.5e-15],
        [list(p) for p in _LSH_PLANES[0]],
        [list(p) for p in _LSH_MP_PLANES[1]],
    ]

    def old_lit(a):
        if isinstance(a[0], (list, tuple)):
            return F.array(*[old_lit(x) for x in a])
        return F.array(*[F.lit(float(x)) for x in a])

    df = spark.range(1)
    for case in cases:
        row = df.select(
            old_lit(case).alias("o"), _dbl_array_lit(case).alias("n")
        ).first()
        bits = [struct.pack(">d", x) for x in _flat(row.o)]
        assert bits == [struct.pack(">d", x) for x in _flat(row.n)]


def test_spread_fans_out_single_split_scan(spark, sf_dir):
    from noaa_etl_daily_spark.operators.llm import _spread
    from noaa_etl_daily_spark.tables import load

    n = spark.sparkContext.defaultParallelism
    docs = load(spark, sf_dir, "documents")
    assert docs.rdd.getNumPartitions() < n  # fixture premise: few splits
    assert _spread(docs).rdd.getNumPartitions() == n


def test_spread_is_noop_on_already_parallel_input(spark, sf_dir):
    from noaa_etl_daily_spark.operators.llm import _spread
    from noaa_etl_daily_spark.tables import load

    n = spark.sparkContext.defaultParallelism
    wide = load(spark, sf_dir, "documents").repartition(n)
    out = _spread(wide)
    assert out is wide  # no second exchange stacked on top
    # belt-and-braces: exactly the test's own round-robin, no second one
    # (AQE's toString repeats the tree under "Initial Plan" — take the
    # final-plan section only)
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("Initial Plan")[0]
    assert final.count("RoundRobinPartitioning") == 1


def test_nearest_cell_matches_window_form(spark, sf_dir):
    from noaa_etl_daily_spark.operators.llm import _dot, _nearest_cell

    # 6 vectors incl. a zero vector (NULL cosine vs every cell) and an
    # exact tie candidate; 3 cells incl. a zero-sum cell (NULL cosine
    # vs every vector).
    vecs = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0, 0.0]),
        (2, [1.0, 1.0, 0.0, 0.0]),
        (3, [0.0, 0.0, 0.0, 0.0]),   # zero norm -> NULL sim everywhere
        (4, [-1.0, 0.0, 0.0, 0.0]),
        (5, [3.0, 0.0, 0.0, 0.0]),   # colinear with vec 0 and cell 10
    ]
    cells = [
        (10, [2.0, 0.0, 0.0, 0.0]),
        (11, [0.0, 2.0, 0.0, 0.0]),
        (12, [0.0, 0.0, 0.0, 0.0]),  # zero cell -> NULL sim everywhere
    ]
    v = spark.createDataFrame(vecs, "vec_id long, m array<double>")
    cb = spark.createDataFrame(cells, "cell long, c array<double>")

    got = {
        r.vec_id: r.cell
        for r in _nearest_cell(v, cb, "vec_id").collect()
    }

    sim9 = F.round(
        F.try_divide(
            _dot(F.col("m"), F.col("c")),
            F.sqrt(
                _dot(F.col("m"), F.col("m")) * _dot(F.col("c"), F.col("c"))
            ),
        ),
        9,
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("sim").desc(), "cell")
    ref = {
        r.vec_id: r.cell
        for r in v.crossJoin(F.broadcast(cb))
        .select("vec_id", "m", "cell", sim9.alias("sim"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .collect()
    }
    assert got == ref
    assert got[3] == 10  # all-NULL sims tie-break to smallest cell


def _final_plan(df) -> str:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("Initial Plan")[0]


def test_pin_size_gate_both_branches(spark, sf_dir, monkeypatch):
    """The r13 size gate: a corpus-proportional frame is pinned (Scan
    ExistingRDD in the plan) while its bounding input is small, and
    falls back to recompute (no ExistingRDD — the r12-pre shape, always
    correct) above the threshold, with identical rows either way.
    llm_dedup_containment carries two gated pins (chunks, informative)
    and no ``required`` ones, so both branches are visible in its
    plan."""
    from noaa_etl_daily_spark.registry import load_all

    builder = load_all()["llm_dedup_containment"].builder

    monkeypatch.delenv("SPARK_GRAFT_CKPT_MAX_INPUT_BYTES", raising=False)
    pinned = builder(spark, sf_dir)
    assert "ExistingRDD" in _final_plan(pinned)

    monkeypatch.setenv("SPARK_GRAFT_CKPT_MAX_INPUT_BYTES", "0")
    recomputed = builder(spark, sf_dir)
    assert "ExistingRDD" not in _final_plan(recomputed)

    # the join under the pins is unsorted: the two physical plans may
    # emit the same rows in different orders; the values must match
    # exactly
    pd.testing.assert_frame_equal(
        canonicalize(pinned.toPandas()),
        canonicalize(recomputed.toPandas()),
        check_exact=True,
    )


def test_pin_required_survives_knob_and_gate(spark, monkeypatch):
    """scale_rank's partition-id handshake pin is correctness, not a
    perf dedup: neither the plan-dump knob nor the size gate may
    disable it — while both DO disable the non-required forms."""
    from noaa_etl_daily_spark.operators.materialize import pin

    monkeypatch.setenv("SPARK_GRAFT_NO_CKPT", "1")
    monkeypatch.setenv("SPARK_GRAFT_CKPT_MAX_INPUT_BYTES", "0")
    df = spark.range(10)
    assert pin(df) is df
    assert pin(df, approx_input_bytes=123) is df
    required = pin(df, required=True)
    assert required is not df
    assert "ExistingRDD" in _final_plan(required)


def test_recursive_cte_unroll_is_k_invariant(spark, sf_dir):
    """r13: sql_recursive_cte advances K months per UnionLoop iteration
    (VERDICT r12 item 3). The emitted balances must be BIT-identical for
    every K — including K=1 (the r12 sequential form, modulo the batch
    carrier), a K that straddles the month count mid-batch, and a K
    larger than the whole spine (one partial batch, no second
    iteration) — because each batch entry repeats the sequential nested
    double arithmetic rather than any reassociated closed form."""
    from noaa_etl_daily_spark.operators.aggregates import (
        _RC_UNROLL,
        _rc_unrolled_sql,
        sql_recursive_cte,
    )

    base = sql_recursive_cte(spark, sf_dir)  # registers _rc_idx view
    want = sorted(
        (r.month, r.rev, r.balance) for r in base.collect()
    )
    assert want, "fixture must have months"
    for k in (1, 7, len(want) - 1, len(want) + 5):
        if k == _RC_UNROLL or k < 1:
            continue
        got = sorted(
            (r.month, r.rev, r.balance)
            for r in spark.sql(_rc_unrolled_sql(k)).collect()
        )
        assert got == want, f"K={k} diverged"


def test_pin_gate_arithmetic_and_unknown_inputs(spark, monkeypatch):
    from noaa_etl_daily_spark.operators.materialize import (
        _MAX_BYTES_DEFAULT,
        _UNKNOWN_BYTES,
        input_size_bytes,
        pin,
    )

    monkeypatch.delenv("SPARK_GRAFT_NO_CKPT", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_CKPT_MAX_INPUT_BYTES", raising=False)
    df = spark.range(10)
    assert pin(df, approx_input_bytes=_MAX_BYTES_DEFAULT + 1) is df
    assert pin(df, approx_input_bytes=_MAX_BYTES_DEFAULT) is not df
    # a table that cannot be sized reads as corpus-sized -> recompute
    assert input_size_bytes("/nonexistent", "documents") == _UNKNOWN_BYTES
    assert pin(df, approx_input_bytes=_UNKNOWN_BYTES) is df


def _count_jobs(spark, fn):
    """(fn(), number of Spark jobs fn fired), counted by job group."""
    sc = spark.sparkContext
    group = f"schema-cache-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _rows(df):
    return canonicalize(df.toPandas())


def test_repeat_load_fires_no_job_and_matches_inferred_read(spark, sf_dir):
    from noaa_etl_daily_spark.tables import TABLE_NAMES, load, path_for

    for name in TABLE_NAMES:
        path = path_for(sf_dir, name)
        inferred, jobs = _count_jobs(spark, lambda: spark.read.parquet(path))
        assert jobs >= 1, f"{name}: an inferred read must fire a footer job"
        load(spark, sf_dir, name)
        cached, jobs = _count_jobs(spark, lambda: load(spark, sf_dir, name))
        assert jobs == 0, f"{name}: repeat load fired {jobs} job(s)"
        assert cached.schema == inferred.schema, name
        pd.testing.assert_frame_equal(
            _rows(cached), _rows(inferred), check_exact=True
        )


def test_cached_nanos_events_read_matches_inferred(spark, tmp_path):
    """An events file with ``ts`` as parquet TIMESTAMP(NANOS) takes
    ``_load_events``' bigint branch from the cached schema too, and
    floors ns to µs exactly like the inferred read (pre-epoch
    included)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from noaa_etl_daily_spark.tables import _SCHEMAS, load, path_for

    ns = [1_700_000_000_123_456_789, -1_500, 0, 86_400_000_000_999]
    sf = tmp_path / "sf"
    sf.mkdir()
    path = path_for(str(sf), "events")
    pq.write_table(
        pa.table({
            "event_id": pa.array(range(len(ns)), pa.int64()),
            "ts": pa.array(ns, pa.timestamp("ns")),
        }),
        path,
    )
    assert pq.read_schema(path).field("ts").type == pa.timestamp("ns")

    first = load(spark, str(sf), "events")  # infers and stores
    assert _SCHEMAS[os.path.abspath(path)][1]["ts"].dataType.typeName() == "long"
    second, jobs = _count_jobs(spark, lambda: load(spark, str(sf), "events"))
    assert jobs == 0
    assert first.schema == second.schema
    assert second.schema["ts"].dataType.typeName() == "timestamp_ntz"
    want = pd.DataFrame({
        "event_id": np.arange(len(ns), dtype="int64"),
        "ts": pd.to_datetime([n // 1000 for n in ns], unit="us").astype(
            "datetime64[us]"
        ),
    })
    for df in (first, second):
        pd.testing.assert_frame_equal(_rows(df), canonicalize(want), check_exact=True)


def test_rewritten_fixture_is_reinferred(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from noaa_etl_daily_spark.tables import load, path_for

    sf = tmp_path / "sf"
    sf.mkdir()
    path = path_for(str(sf), "region")
    pq.write_table(pa.table({"r_regionkey": [0, 1]}), path)
    assert load(spark, str(sf), "region").columns == ["r_regionkey"]
    assert load(spark, str(sf), "region").columns == ["r_regionkey"]

    pq.write_table(
        pa.table({"r_regionkey": [0, 1], "r_name": ["AFRICA", "ASIA"]}), path
    )
    got = load(spark, str(sf), "region")
    assert got.columns == ["r_regionkey", "r_name"]
    assert sorted(r.r_name for r in got.collect()) == ["AFRICA", "ASIA"]


def test_directory_shaped_table_still_loads(spark, tmp_path):
    from noaa_etl_daily_spark.tables import _SCHEMAS, load, path_for

    sf = tmp_path / "sf"
    path = path_for(str(sf), "nation")
    spark.range(5).withColumnRenamed("id", "n_nationkey").repartition(2).write.parquet(path)
    assert os.path.isdir(path)
    for _ in range(2):
        got = load(spark, str(sf), "nation")
        assert sorted(r.n_nationkey for r in got.collect()) == list(range(5))
    assert os.path.abspath(path) not in _SCHEMAS


def _window_cumsum(df):
    """Reference: the single-partition running sum the helper replaces."""
    return df.selectExpr(
        "idx",
        "sum(v) OVER (ORDER BY idx ROWS BETWEEN UNBOUNDED PRECEDING "
        "AND CURRENT ROW) AS cum",
    )


def _dense_cumsum_cases(p: int):
    """(name, n, [(idx, v)]) frames for with_dense_cumsum under P = p."""
    n = 200
    starts = {i for i in range(1, n + 1) if (i - 1) * p // n != (i - 2) * p // n}
    # every bucket opens on a NULL, after an all-NULL leading prefix
    nulls = starts | {1, 2, 3, 4}
    dense = [(i, None if i in nulls else i % 7 - 2) for i in range(1, n + 1)]
    # deciles 1-3 of a 10-way interleave (the pack key's admitted subset)
    gaps = [(i, None if i % 4 == 1 else i) for i in range(1, 301) if i % 10 in (1, 2, 3)]
    return [
        ("dense", n, dense),
        ("gaps", 300, gaps),
        ("n<P", 5, [(1, None), (2, 3), (3, None), (4, 5), (5, 1)]),
        ("one row", 1, [(1, 9)]),
        ("empty", 7, []),
    ]


def test_dense_cumsum_matches_single_partition_window(spark):
    """with_dense_cumsum buckets by arithmetic on a known index instead
    of range-sampling: its running sums must equal the single-partition
    window's at any partition count, with SQL's NULL rule (NULL iff
    the whole prefix is NULL) across bucket starts, over an index with
    gaps, with fewer rows than buckets, and on one row or none."""
    from noaa_etl_daily_spark.operators.scale_rank import with_dense_cumsum

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for p in (1, 3, 8, 64):
            spark.conf.set("spark.sql.shuffle.partitions", str(p))
            for name, n, rows in _dense_cumsum_cases(p):
                # a local VALUES relation: any ExistingRDD would be a pin
                vals = ", ".join(
                    f"({i}L, {'NULL' if v is None else f'{v}L'})" for i, v in rows
                )
                df = spark.sql(
                    f"SELECT idx, v, {n}L AS n FROM VALUES {vals or '(0L, 0L)'}"
                    f" AS t(idx, v) WHERE {bool(rows)}"
                )
                got = with_dense_cumsum(df, "idx", "n", ["v"], ["cum"])
                assert "ExistingRDD" not in _final_plan(got), (p, name)
                got = sorted(tuple(r) for r in got.select("idx", "cum").collect())
                ref = sorted(tuple(r) for r in _window_cumsum(df).collect())
                assert got == ref, (p, name)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_interleave_index_is_row_number_over_pos_decile(spark):
    """The curriculum keys' closed forms over a 1-based rank r of n rows
    — decile (ntile_bucket), within-decile position and interleave
    index g = 10·(pos − 1) + decile — equal ntile(10), r − min(r) + 1
    per decile, and row_number() OVER (ORDER BY pos, decile), for every
    n in 0..25 and n = 500."""
    from noaa_etl_daily_spark.operators.pipelines import _CURR_G, _CURR_POS
    from noaa_etl_daily_spark.operators.scale_rank import ntile_bucket

    ranks = spark.createDataFrame(
        [(n, r) for n in [*range(26), 500] for r in range(1, n + 1)],
        "ntot long, rnk long",
    )
    got = ranks.selectExpr(
        "ntot", "rnk", f"{ntile_bucket('rnk', 'ntot', 10)} AS decile"
    ).selectExpr(
        "ntot", "rnk", "decile", f"{_CURR_POS} AS pos", f"{_CURR_G} AS g"
    ).selectExpr(
        "*",
        "ntile(10) OVER (PARTITION BY ntot ORDER BY rnk) AS ref_decile",
        "rnk - min(rnk) OVER (PARTITION BY ntot, decile) + 1 AS ref_pos",
    ).selectExpr(
        "*",
        "row_number() OVER (PARTITION BY ntot ORDER BY pos, decile) AS ref_g",
    )
    rows = got.collect()
    assert len(rows) == sum(range(26)) + 500
    for r in rows:
        assert r.decile == r.ref_decile, r
        assert r.pos == r.ref_pos, r
        assert r.g == r.ref_g, r
        assert 1 <= r.g <= r.ntot, r


#: Together these make 136 generated-class cache entries at sf0.01 with
#: AQE off, more than Spark's default cache of 100: with the default
#: every warm pass recompiled 128 of them.
_CODEGEN_KEYS = (
    "pipeline_token_budget_curriculum",
    "pipeline_regional_volume",
    "join_broadcast_chain",
)


def test_warm_pass_compiles_no_generated_class(spark, sf_dir, monkeypatch):
    """Janino compiles counted by Spark's ``CodegenMetrics``: the second
    pass over ``_CODEGEN_KEYS`` must find every class in the cache.
    AQE is off here because it numbers whole-stage codegen stages, and
    the stage id is part of each class's source, in the order it
    creates query stages: that order follows which earlier stages
    finish first, so under AQE a pass can meet a new variant of a
    class it has already compiled (CHANGES.md)."""
    from noaa_etl_daily_spark.registry import load_all
    from noaa_etl_daily_spark.session import CODEGEN_CACHE_ENTRIES

    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_ENTRIES
    )
    reg = load_all()
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles = compiles.METRIC_COMPILATION_TIME()
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    monkeypatch.setenv("SPARK_GRAFT_AQE", "false")
    counts = []
    try:
        for _ in range(2):
            before = compiles.getCount()
            for key in _CODEGEN_KEYS:
                df = reg[key].builder(spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
            counts.append(compiles.getCount() - before)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    assert counts[1] == 0, f"compiles per pass: {counts}"


def test_tables_module_is_not_shadowed():
    import noaa_etl_daily_spark.tables as t

    assert t.__name__ == "noaa_etl_daily_spark.tables"


def _shards(path):
    """{name: (size, st_mtime_ns)} of the parquet files in ``path``."""
    return {
        e.name: (e.stat().st_size, e.stat().st_mtime_ns)
        for e in os.scandir(path)
        if e.name.endswith(".parquet")
    }


def _compaction(monkeypatch, scratch):
    """(builder, fragmented-input dir for ``sf``) of the compaction key,
    with the engine's scratch root moved to ``scratch``."""
    from noaa_etl_daily_spark.operators import scans
    from noaa_etl_daily_spark.registry import load_all

    monkeypatch.setattr(scans, "SCRATCH", str(scratch))
    build = load_all()["sink_compact_small_files"].builder

    def frag(sf):
        return os.path.join(str(scratch), "compact", scans._sf_tag(sf), "fragmented")

    return build, frag


def test_compaction_input_is_written_once_per_fixture(
    spark, sf_dir, tmp_path, monkeypatch
):
    build, frag = _compaction(monkeypatch, tmp_path)
    _, first = _count_jobs(spark, lambda: build(spark, sf_dir))
    shards = _shards(frag(sf_dir))
    assert len(shards) == 64
    _, second = _count_jobs(spark, lambda: build(spark, sf_dir))
    assert _shards(frag(sf_dir)) == shards
    assert second < first, f"build jobs: first {first}, second {second}"


def test_rewritten_orders_fixture_rebuilds_compaction_input(
    spark, sf_dir, tmp_path, monkeypatch
):
    import pyarrow.parquet as pq

    from noaa_etl_daily_spark.tables import path_for

    build, frag = _compaction(monkeypatch, tmp_path / "scratch")
    sf = tmp_path / "sf"
    sf.mkdir()
    src, dst = path_for(sf_dir, "orders"), path_for(str(sf), "orders")
    shutil.copyfile(src, dst)
    build(spark, str(sf))
    before = _shards(frag(str(sf)))

    pq.write_table(pq.read_table(src).slice(0, 1000), dst)
    got = build(spark, str(sf))
    assert sum(r.n_orders for r in got.collect()) == 1000
    assert not set(before) & set(_shards(frag(str(sf))))


_READBACK_KEYS = (
    "sink_parquet_zstd",
    "sink_compact_small_files",
    "sink_range_sorted_layout",
    "sink_dynamic_partition_overwrite",
    "sink_zorder_layout",
)


def _infer_builder_reads(monkeypatch):
    """Drop every schema an operator module passes to
    ``spark.read.schema``, so the builders' read-backs infer their
    schema from the files. ``tables.load`` keeps its cached fixture
    schemas."""
    from pyspark.sql.readwriter import DataFrameReader

    real = DataFrameReader.schema

    def schema(self, s):
        caller = sys._getframe(1).f_globals.get("__name__", "")
        if caller.startswith("noaa_etl_daily_spark.operators."):
            return self
        return real(self, s)

    monkeypatch.setattr(DataFrameReader, "schema", schema)


@pytest.mark.parametrize("key", _READBACK_KEYS)
def test_written_schema_read_back_matches_inference(
    spark, sf_dir, monkeypatch, key
):
    """Same schema and rows as an inferred read-back, and fewer build
    jobs: the footer-reading inference job is gone. Rows are collected
    before the next call overwrites the output."""
    from noaa_etl_daily_spark.registry import load_all

    build = load_all()[key].builder
    build(spark, sf_dir).collect()  # once-per-fixture layouts are built
    got, jobs = _count_jobs(spark, lambda: build(spark, sf_dir))
    got_rows = _rows(got)
    with monkeypatch.context() as m:
        _infer_builder_reads(m)
        want, inferred_jobs = _count_jobs(spark, lambda: build(spark, sf_dir))
        want_rows = _rows(want)
    assert got.schema == want.schema
    pd.testing.assert_frame_equal(got_rows, want_rows, check_exact=True)
    assert jobs < inferred_jobs, f"jobs {jobs}, inferred {inferred_jobs}"
