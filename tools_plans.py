"""Dump explain("formatted") for the headline queries to plans/<round>/.

Usage: python tools_plans.py <round> before|after [query ...]

<round> names the plan directory (e.g. r13). Writes
plans/<round>/<query>_<tag>.txt with the formatted physical plan as
produced under the bench session configuration (same conf path bench.py
uses: AQE off below 1 GB input, shuffle partitions sized to input), so
the committed plans match what the bench actually executes.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import DEFAULT_HEADLINE, input_bytes, sized_shuffle_partitions
from noaa_etl_daily_spark.registry import load_all
from noaa_etl_daily_spark.session import get_spark


def main() -> None:
    if len(sys.argv) < 3 or sys.argv[2] not in ("before", "after"):
        sys.exit("usage: python tools_plans.py <round> before|after [query ...]")
    rnd, tag = sys.argv[1], sys.argv[2]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    registry = load_all()
    names = sys.argv[3:] or [n for n in DEFAULT_HEADLINE if n in registry]

    if input_bytes(sf_dir) < (1 << 30):
        os.environ["SPARK_GRAFT_AQE"] = "false"
    spark = get_spark(app_name="noaa-etl-daily-spark-plans")
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set(
        "spark.sql.shuffle.partitions", str(sized_shuffle_partitions(sf_dir))
    )

    out_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "plans", rnd)
    os.makedirs(out_dir, exist_ok=True)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    for name in names:
        df = registry[name].builder(spark, sf_dir)
        text = df._jdf.queryExecution().explainString(mode)
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(text)
        n_exchange = text.count("Exchange")
        n_py = text.count("EvalPython") + text.count("MapInPandas") + text.count(
            "ArrowEvalPython"
        )
        print(f"{name}: wrote {path} (Exchange={n_exchange}, PyNodes={n_py})")
    spark.stop()


if __name__ == "__main__":
    main()
