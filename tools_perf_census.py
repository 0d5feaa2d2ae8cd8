"""Registry-wide perf census (optimization r12, guide §1.1).

Runs EVERY registry key once at a small SF through the noop sink and
prints one JSON line per key:
{"name": ..., "build_s": ..., "build_jobs": ..., "exec_s": ...,
"codegen_classes": ...}.
`build_s` is driver-side plan-construction time (py4j/literal work —
the §B class), `build_jobs` is the number of Spark jobs the builder
fires before it returns (its eager writes, schema inference, pins;
counted by job group), `exec_s` is the noop-sink execution wall, and
`codegen_classes` is how many classes Janino compiled while the key was
built and run (the count delta of Spark's `CodegenMetrics` compilation
histogram). A final summary line lists the slowest tail by exec_s and by
build_s, and the totals of `build_jobs` and `codegen_classes`.

Layouts a builder caches under `<checkout>/.scratch` survive the
process, so a second census over the same checkout shows each key's
steady-state `build_jobs`: the jobs it fires on every call.

Each key runs once. While nothing is evicted from `get_spark`'s
generated-class cache (`session.CODEGEN_CACHE_ENTRIES` entries) every
compile is a new cache entry, so the total is the number of entries the
keys need together: the figure that sizes the cache. Once the total
nears the cap it is an upper bound, since an evicted class that a later
key needs is compiled again.

Usage: python tools_perf_census.py [sf_dir] [keys...]
Default sf_dir /root/testdata/sf0.01, all registry keys.

This is a diagnostic for finding stragglers, NOT the bench: single rep,
shared session, no warm-up discipline beyond one table-count pass.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from noaa_etl_daily_spark.registry import load_all
from noaa_etl_daily_spark.session import get_spark
from noaa_etl_daily_spark.tables import TABLE_NAMES, load


def main() -> None:
    args = sys.argv[1:]
    sf_dir = args[0] if args and os.path.isdir(args[0]) else "/root/testdata/sf0.01"
    keys = args[1:] if args and os.path.isdir(args[0]) else args
    registry = load_all()
    names = keys or sorted(registry)
    unknown = [n for n in names if n not in registry]
    if unknown:
        sys.exit(f"unknown keys: {unknown}")

    spark = get_spark(app_name="perf-census")
    spark.sparkContext.setLogLevel("ERROR")
    for t in TABLE_NAMES:
        load(spark, sf_dir, t).count()
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles = codegen.METRIC_COMPILATION_TIME()

    sc = spark.sparkContext
    rows = []
    for name in names:
        group = f"census:{name}"
        sc.setJobGroup(group, group)
        compiled = compiles.getCount()
        t0 = time.perf_counter()
        try:
            df = registry[name].builder(spark, sf_dir)
            t1 = time.perf_counter()
            build_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
            sc.setJobGroup(f"{group}:exec", group)
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
        except Exception as ex:  # noqa: BLE001 — census must finish
            print(json.dumps({"name": name, "error": f"{type(ex).__name__}: {ex}"[:200]}))
            continue
        row = {
            "name": name,
            "build_s": round(t1 - t0, 3),
            "build_jobs": build_jobs,
            "exec_s": round(t2 - t1, 3),
            "codegen_classes": compiles.getCount() - compiled,
        }
        rows.append(row)
        print(json.dumps(row), flush=True)

    rows.sort(key=lambda r: r["exec_s"], reverse=True)
    summary = {
        "slowest_exec": [(r["name"], r["exec_s"]) for r in rows[:20]],
        "slowest_build": [
            (r["name"], r["build_s"])
            for r in sorted(rows, key=lambda r: r["build_s"], reverse=True)[:10]
        ],
        "total_exec_s": round(sum(r["exec_s"] for r in rows), 1),
        "total_build_s": round(sum(r["build_s"] for r in rows), 1),
        "total_build_jobs": sum(r["build_jobs"] for r in rows),
        "total_codegen_classes": sum(r["codegen_classes"] for r in rows),
        "n": len(rows),
    }
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
