"""Checks of the benchmark's own arithmetic on hand-made inputs.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import math
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402
from tracing import Py4jCounter, Tracer, count_exchanges, scanned_tables  # noqa: E402


def test_per_key_median_and_batch_total():
    samples = {"a": [3.0, 1.0, 2.0], "b": [4.0, 6.0], "c": []}
    assert stats.per_key_medians(samples) == {"a": 2.0, "b": 5.0}
    assert stats.batch_total(samples) == 7.0


def test_geomean_weighs_every_key_equally():
    assert stats.geomean([1.0, 4.0]) == pytest.approx(2.0)
    assert stats.geomean([0.1, 10.0, 1.0]) == pytest.approx(1.0)
    # halving one short key moves the geomean as much as halving a long one
    assert stats.geomean([0.05, 10.0]) == pytest.approx(stats.geomean([0.1, 5.0]))
    with pytest.raises(ValueError):
        stats.geomean([1.0, 0.0])
    with pytest.raises(ValueError):
        stats.geomean([])


def test_slot_busy_ratio():
    assert stats.slot_busy_ratio(run_s=8.0, wall_s=4.0, cores=4) == 0.5
    assert stats.slot_busy_ratio(run_s=16.0, wall_s=4.0, cores=4) == 1.0
    assert stats.slot_busy_ratio(run_s=1.0, wall_s=0.0, cores=4) == 0.0


def span(i, name, parent, start, end):
    return {"id": i, "name": name, "parent": parent, "start": start, "end": end}


def test_self_time_subtracts_children():
    spans = [
        span(0, "key", None, 0.0, 10.0),
        span(1, "build", 0, 1.0, 4.0),
        span(2, "exec", 0, 5.0, 9.0),
        span(3, "stage", 2, 6.0, 7.0),
    ]
    own = stats.self_times(spans)
    assert own == {0: 3.0, 1: 3.0, 2: 3.0, 3: 1.0}
    # self times partition the root's interval
    assert math.isclose(sum(own.values()), 10.0)
    assert stats.self_time_by_name(spans) == {"key": 3.0, "build": 3.0, "exec": 3.0, "stage": 1.0}


def test_self_time_merges_overlaps_and_clips_children():
    spans = [
        span(0, "key", None, 0.0, 10.0),
        span(1, "a", 0, 1.0, 5.0),
        span(2, "b", 0, 3.0, 6.0),    # overlaps a: covered 1..6
        span(3, "c", 0, 9.0, 12.0),   # runs past its parent: clipped to 9..10
    ]
    assert stats.self_times(spans)[0] == pytest.approx(10.0 - 5.0 - 1.0)


def test_tracer_nests_and_records_reps():
    ticks = iter(range(100))
    tracer = Tracer(clock=lambda: float(next(ticks)))
    with tracer.span("key", "k#1"):
        with tracer.span("build", "k#1"):
            pass
        with tracer.span("exec", "k#1"):
            pass
    by_name = {s["name"]: s for s in tracer.spans}
    assert by_name["key"]["parent"] is None
    assert by_name["build"]["parent"] == by_name["key"]["id"]
    assert by_name["exec"]["parent"] == by_name["key"]["id"]
    assert {s["rep"] for s in tracer.spans} == {"k#1"}
    assert stats.self_time_by_name(tracer.spans) == {"key": 3.0, "build": 1.0, "exec": 1.0}


def test_py4j_counter_skips_reference_releases(monkeypatch):
    from py4j.clientserver import ClientServerConnection

    sent = []
    monkeypatch.setattr(
        ClientServerConnection, "send_command", lambda conn, command: sent.append(command)
    )
    fake = object()
    counter = Py4jCounter()
    counter.install()
    try:
        ClientServerConnection.send_command(fake, "c\no0\ncount\ne\n")
        ClientServerConnection.send_command(fake, "m\nd\no12\ne\n")
        ClientServerConnection.send_command(fake, "c\no1\nschema\ne\n")
    finally:
        counter.uninstall()
    ClientServerConnection.send_command(fake, "c\no0\ncount\ne\n")
    assert counter.calls == 2
    assert len(sent) == 4  # every command still reaches the JVM


def test_count_exchanges():
    plan = """AdaptiveSparkPlan isFinalPlan=false
+- HashAggregate(keys=[a#1], functions=[sum(b#2)])
   +- Exchange hashpartitioning(a#1, 8), ENSURE_REQUIREMENTS, [plan_id=10]
      +- HashAggregate(keys=[a#1], functions=[partial_sum(b#2)])
         +- BroadcastHashJoin [a#1], [c#3], Inner, BuildRight, false
            :- FileScan parquet [a#1,b#2]
            +- BroadcastExchange HashedRelationBroadcastMode(List(input[0, bigint, false]),false)
               +- ReusedExchange [c#3], Exchange hashpartitioning(c#3, 8)
"""
    assert count_exchanges(plan) == 2


def test_scanned_tables_and_write_amp():
    plan = """== Physical Plan ==
Execute InsertIntoHadoopFsRelationCommand (4)
+- WriteFiles (3)
   +- Exchange (2)
      +- Scan parquet  (1)

(1) Scan parquet
Output [2]: [o_orderkey#1L, o_orderdate#2]
Location: InMemoryFileIndex [file:/data/sf0.01/orders.parquet]

(5) Scan parquet
Location: InMemoryFileIndex [file:/work/.scratch/frag, file:/data/sf0.01x/lineitem.parquet]
"""
    assert scanned_tables(plan, "/data/sf0.01/") == {"orders"}
    assert stats.ratio(3.0, 2.0) == 1.5
    assert stats.ratio(0.0, 0.0) == 0.0  # nothing written: amplification 0
