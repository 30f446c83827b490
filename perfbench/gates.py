"""Registry gates as the benchmark runs them: build a fresh frame, plan
its checksum, execute it, release the gate's pins.

Every phase runs under its own Spark job group
``<workload>:<gate>:<phase>#<run>``, so the jobs a phase launched can be
read back from Spark's status store afterwards.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ubdc_airbnb_spark import queries as q_mod
from ubdc_airbnb_spark.operators.prefixsum import release_pins

#: 8 of the 29 ``bench.HEADLINE`` gates, one per operator family
#: (relational aggregate, relational join, quadkey prefix cover, JSON
#: extraction, MinHash and n-gram near-dup dedup, corpus language model,
#: image decode), so that a run fits the benchmark's time budget. Frozen
#: here because ``expected.json`` records a checksum per gate.
GATES = (
    "q1_pricing_summary",
    "q5_region_volume",
    "j1_prefix_cover_semi",
    "x1_search_extract",
    "ns_dedup_minhash_lsh",
    "ns_dedup_ngram_jaccard",
    "ns_bigram_lm",
    "mm_decode_png",
)

def specs() -> dict:
    return {s.name: s for s in q_mod.registry() if s.name in GATES}


def checksum_frame(df: DataFrame) -> DataFrame:
    """One row: bit_xor of xxhash64 over every output column, and the row
    count. Hashing every column keeps Catalyst from pruning any output
    expression out of the timed work."""
    return df.agg(
        F.bit_xor(F.xxhash64(F.struct(*[F.col(c) for c in df.columns]))).alias("checksum"),
        F.count(F.lit(1)).alias("rows"),
    )


@dataclass
class GateRun:
    name: str
    group: str             # job-group template; ``group % phase`` names a phase's group
    seconds: dict          # phase -> seconds
    checksum: int | None
    rows: int
    pins_released: int

    @property
    def wall(self) -> float:
        return sum(self.seconds.values())


def run_gate(spark: SparkSession, spec, sf_dir: str, group: str) -> GateRun:
    """Build, plan and execute one gate's checksum; phases are timed
    back to back, so their sum is the gate's latency. ``group`` is a
    template such as ``"gates:q1_pricing_summary:%s#7"``; each phase runs
    under the job group ``group % phase``."""
    sc = spark.sparkContext
    t0 = time.perf_counter()
    sc.setJobGroup(group % "build", "build")
    cs = checksum_frame(spec.spark(spark, sf_dir))
    t1 = time.perf_counter()
    sc.setJobGroup(group % "plan", "plan")
    cs._jdf.queryExecution().executedPlan()
    t2 = time.perf_counter()
    sc.setJobGroup(group % "exec", "exec")
    row = cs.collect()[0]
    t3 = time.perf_counter()
    sc.setJobGroup(group % "release", "release")
    pins = release_pins()
    return GateRun(
        spec.name, group,
        {"build": t1 - t0, "plan": t2 - t1, "exec": t3 - t2},
        row["checksum"], row["rows"], pins,
    )
