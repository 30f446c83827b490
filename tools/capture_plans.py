"""Capture .explain("formatted") for the headline bench queries into
plans/$SPARK_GRAFT_PLANS_ROUND/<query>_{before,after}.txt (optimization
round evidence; the round dir defaults to r12).

Usage: python tools/capture_plans.py before|after [query ...]

Plans are captured under the bench's own session settings (bytes-sized
shuffle partitions, AQE off, warm cache) so the committed plan matches
what the bench actually executes.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench as bench_mod
from ubdc_airbnb_spark import queries as q_mod
from ubdc_airbnb_spark.operators.prefixsum import release_pins
from ubdc_airbnb_spark.runner import bench_session


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    only = set(sys.argv[2:])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # SPARK_GRAFT_WARM_CACHE=false captures the parquet-scan plans
    # instead (PushedFilters/ReadSchema visible at the FileScan node
    # rather than an InMemoryRelation)
    spark = bench_session("capture-plans", sf_dir)

    round_dir = os.environ.get("SPARK_GRAFT_PLANS_ROUND", "r12")
    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", round_dir)
    os.makedirs(out_dir, exist_ok=True)
    specs = {s.name: s for s in q_mod.registry()}
    for name in bench_mod.HEADLINE:
        if only and name not in only:
            continue
        df = specs[name].spark(spark, sf_dir)
        txt = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(txt)
        release_pins()
        print(f"wrote {path} ({len(txt)} bytes)")


if __name__ == "__main__":
    main()
