"""The gate protocol, in one place: build a registry gate's frame, wrap
it in a checksum over every output column, force the physical plan,
execute, and release the gate's operator pins. ``bench.py`` and the
timing tools run gates through here.
"""

from __future__ import annotations

import os
import time
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.prefixsum import release_pins
from .session import get_spark


def checksum_frame(df: DataFrame) -> DataFrame:
    """One row: bit_xor of xxhash64 over every output column, and the row
    count. Hashing every column keeps Catalyst from pruning any output
    expression out of the timed work."""
    return df.agg(
        F.bit_xor(F.xxhash64(F.struct(*[F.col(c) for c in df.columns]))).alias("checksum"),
        F.count(F.lit(1)).alias("rows"),
    )


def shuffle_partitions(sf_dir: str, cpus: int) -> int:
    """Bytes-sized shuffle partitions: one per 4 MiB of input, at least
    4, capped at the core count. 4 MiB is a toy-scale stand-in for the
    production ~128 MB target, so small inputs still run every
    multi-partition path (shuffles, two-pass prefix sums, salting). The
    cap binds at toy scale because each task costs a fixed ~3 ms to
    schedule (r05 A/B: 17 -> 8 partitions saved 0.8 s over the headline
    set); at 100 TB the bytes term governs and the cap never binds."""
    total = 0
    for root, _dirs, files in os.walk(sf_dir):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return min(cpus, max(4, total // (4 << 20)))


def bench_session(app: str, sf_dir: str) -> SparkSession:
    """``get_spark`` as the bench runs it: bytes-sized shuffle partitions,
    AQE off (set ``SPARK_GRAFT_AQE=true`` to turn it on), a JVM/codegen
    warm-up job, then the warm table cache (``SPARK_GRAFT_WARM_CACHE=false``
    leaves every gate to read parquet itself).

    AQE stays on in ``get_spark``'s production config; under per-gate
    latency accounting it costs ~40 ms per query stage (each adaptive
    stage runs as its own job) and has nothing to adapt at toy scale
    with bytes-sized partitions (8.1 s -> 7.4 s on the headline set)."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    parts = shuffle_partitions(sf_dir, cpus)
    spark = get_spark(
        app,
        shuffle_partitions=parts,
        extra_conf={
            "spark.sql.adaptive.enabled": os.environ.get("SPARK_GRAFT_AQE", "false"),
        },
    )
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    if os.environ.get("SPARK_GRAFT_WARM_CACHE", "true").lower() != "false":
        from .sources.tables import warm_cache

        warm_cache(spark, sf_dir, partitions=parts)
    return spark


def plan_gate(build: Callable[[], DataFrame]) -> tuple[DataFrame, float, float]:
    """Build the gate's frame, wrap it in ``checksum_frame`` and force
    the physical plan without executing it. Returns the checksum frame,
    the build seconds and the plan seconds."""
    t0 = time.perf_counter()
    cs = checksum_frame(build())
    t1 = time.perf_counter()
    cs._jdf.queryExecution().executedPlan()
    return cs, t1 - t0, time.perf_counter() - t1


def run_gate(build: Callable[[], DataFrame]) -> dict:
    """``plan_gate``, then the timed ``collect()`` of the checksum. The
    pins the build took are released even when it raises, so the next
    gate starts with none."""
    try:
        cs, build_s, plan_s = plan_gate(build)
        t0 = time.perf_counter()
        row = cs.collect()[0]
        exec_s = time.perf_counter() - t0
    finally:
        pins = release_pins()
    return {
        "build_s": build_s,
        "plan_s": plan_s,
        "exec_s": exec_s,
        "checksum": row["checksum"],
        "rows": row["rows"],
        "pins_released": pins,
    }
