"""Record the expected outputs the benchmark checks against.

    python3 perfbench/record.py 0.01 0.001

For each scale factor: every gate's checksum and row count on the cold
path (parquet reads) and on the warm table cache, and the curation
report of the dup20 corpus. Record only on code whose gates pass
``tools/check_oracle.py`` against the same generated tables
(``perfbench/.data/sf<sf>``), so the recorded values are the oracle's.
The file is rewritten in place; review its diff before committing.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def record(sf: float) -> tuple[dict, dict]:
    import beat
    import run as bench_run
    from gates import GATES, run_gate, specs

    from ubdc_airbnb_spark.sources.tables import warm_cache

    args = argparse.Namespace(workload="record", seed=0, trace=0, sf=sf, seconds=0)
    sf_dir = bench_run.datagen_dir(sf)
    b = bench_run.Bench(args, sf_dir, expected={})
    spark = b.start_session()
    try:
        sp = specs()
        out = {}
        for mode in ("cold", "warm"):
            if mode == "warm":
                warm_cache(spark, sf_dir, partitions=bench_run.PARTITIONS)
            out[mode] = {}
            for name in GATES:
                r = run_gate(spark, sp[name], sf_dir, f"record:{name}:%s")
                out[mode][name] = [r.checksum, r.rows]
        docs, evals = beat.curation_inputs(spark, os.path.join(sf_dir, "dup20"))
        res, _ = beat.curate(spark, docs, evals)
        return out, res.report
    finally:
        bench_run.stop_jvm(spark)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("sf", type=float, nargs="+")
    args = ap.parse_args()
    sys.path[:0] = [HERE]
    import run as bench_run

    bench_run.set_up_environment()
    path = os.path.join(HERE, "expected.json")
    try:
        with open(path) as f:
            expected = json.load(f)
    except FileNotFoundError:
        expected = {"gates": {}, "curation": {}}
    for sf in args.sf:
        gates, report = record(sf)
        expected["gates"][f"{sf:g}"] = gates
        expected["curation"][f"{sf:g}"] = report
    with open(path, "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
