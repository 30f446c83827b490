"""Benchmark harness: run the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE
JSON line: {"metric": ..., "value": N, "unit": "sec", "queries": {...},
"exec_queries": {...}, "exec_total": N, "calibration": {...}, "sf": ...}.

Two timing families per query (best-of-3, fresh lineage each run, after
a JVM/codegen warmup): ``queries`` is end-to-end (build + optimize +
execute — the round-1/2 metric), ``exec_queries`` times only the
execution of the already-optimized plan — the part that scales with
data. Session set-up and the gate protocol live in
``ubdc_airbnb_spark.runner``: every timed action is its checksum
aggregate (bit_xor of xxhash64 over every output column, plus the row
count), so Catalyst cannot prune any output expression.
``calibration`` carries a no-op 32-task job time and a same-box DuckDB
re-run of the headline oracle SQLs so cross-round numbers stay
interpretable across VM re-provisioning.
"""

from __future__ import annotations

import json
import os
import sys
import time
from functools import partial

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from ubdc_airbnb_spark import queries as q_mod
from ubdc_airbnb_spark.operators.prefixsum import release_pins
from ubdc_airbnb_spark.runner import bench_session, plan_gate, run_gate
from ubdc_airbnb_spark.sources.tables import TABLE_NAMES

HEADLINE = [
    "q1_pricing_summary",
    "q3_top_revenue",
    "q5_region_volume",
    "q6_forecast_revenue",
    "q10_returned_items",
    "j9_bridge_join",
    "w2_latest_per_key",
    "w5_availability_streak",
    "j1_prefix_cover_semi",
    "x1_search_extract",
    "ns_dedup_exact",
    "ns_dedup_minhash_lsh",
    "ns_dedup_ngram_jaccard",
    "ns_dedup_simhash",
    "ns_embed_topk",
    "ns_token_stats",
    "st_tumbling_window",
    # round 3: the rewritten two-pass window family, tracked so a
    # regression back to single-partition plans would show as a cliff
    "ns_sequence_pack",
    "ns_token_budget",
    "ns_dedup_sorted_neighborhood",
    "w6_batch_assign",
    # round 3: new corpus-model heavyweights (bigram LM trains on the
    # whole corpus; all-pairs cosine is the Σ df² inverted-index join)
    "ns_bigram_lm",
    "ns_tfidf_cosine_pairs",
    # round 4: the real PNG decode kernel (Arrow-batched pure-Python
    # unfilter — the honest cost of stdlib decode), DSIR scoring, and
    # BPE's inner pair-count statistic
    "mm_decode_png",
    "ns_dsir_weights",
    "ns_bpe_pair_counts",
    # round-4 second wave: span-level exact dedup is the heaviest new
    # gram operator (positional grams + corpus-wide gram count)
    "ns_dedup_spans",
    # round-4 fourth wave: the sampled-quadratic LSH recall harness
    # (exact truth on a half-sample — the expensive-by-design one) and
    # the image dHash over the real PNG decode
    "ns_lsh_recall",
    "mm_image_dhash",
]


#: the contraction-sensitive gates — the subset the dup20 variant runs
#: (the digest contraction's win/cost moves with duplicate mass; the
#: rest of the headline set never touches `documents.text`)
DUP_SENSITIVE = [
    "ns_dedup_exact",
    "ns_dedup_minhash_lsh",
    "ns_dedup_ngram_jaccard",
    "ns_dedup_simhash",
    "ns_dedup_spans",
    "ns_lsh_recall",
]


def _dup20_dir(sf_dir: str) -> str:
    """Materialize the dup20 bench variant (r09, VERDICT item 6): same
    table sizes, but 20% of documents carry one of ten template texts —
    ~20% duplicate mass in 10 clusters of ~n/50 copies. BENCH_NOTES r08
    disclosed the headline corpus has only 8 exact dups in 5,000 docs,
    which makes contraction-style rewrites look like pure overhead at
    bench scale while being the 100x-scale win; this variant makes that
    tradeoff visible in the artifact. Every other table is symlinked —
    byte-identical inputs for the non-document gates."""
    import duckdb

    out = f"/tmp/bench_dup20_{os.path.basename(sf_dir.rstrip('/'))}"
    marker = os.path.join(out, "documents.parquet")
    if os.path.exists(marker):
        return out
    os.makedirs(out, exist_ok=True)
    for t in TABLE_NAMES:
        if t == "documents":
            continue
        dst = os.path.join(out, f"{t}.parquet")
        if not os.path.exists(dst):
            os.symlink(os.path.join(os.path.abspath(sf_dir), f"{t}.parquet"), dst)
    src = os.path.join(sf_dir, "documents.parquet")
    # COPY to a temp path and os.replace into place (ADVICE r09): the
    # cache key is the final file's EXISTENCE, so a crashed/interrupted
    # COPY that wrote directly would leave a partial file later runs
    # silently benchmark as a valid variant corpus
    tmp = marker + ".tmp"
    duckdb.connect().execute(
        f"""
        COPY (
          SELECT d.doc_id,
                 CASE WHEN d.doc_id % 5 = 0 THEN t.text ELSE d.text END AS text,
                 d.lang, d.source,
                 CASE WHEN d.doc_id % 5 = 0 THEN length(t.text) ELSE d.n_chars END
                   AS n_chars
          FROM read_parquet('{src}') d
          LEFT JOIN (
            SELECT doc_id AS tid, text FROM read_parquet('{src}') WHERE doc_id < 10
          ) t ON (d.doc_id // 5) % 10 = t.tid
          ORDER BY d.doc_id
        ) TO '{tmp}' (FORMAT PARQUET)
        """
    )
    os.replace(tmp, marker)
    return out


def main() -> None:
    import argparse

    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--variant", choices=["base", "dup20"], default="base",
        help="dup20: re-run the contraction-sensitive dedup gates on a "
             "same-size corpus with ~20%% duplicate mass (BENCH_REPLAYS "
             "artifact; the driver's headline run stays --variant=base)",
    )
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)
    headline = HEADLINE
    variant = args.variant
    if variant == "dup20":
        sf_dir = _dup20_dir(sf_dir)
        headline = DUP_SENSITIVE
    spark = bench_session("bench", sf_dir)
    specs = {s.name: s for s in q_mod.registry()}

    # plan-warming pass: build + analyze/optimize/physical-plan every
    # headline query ONCE untimed (no execution). Catalyst and the py4j
    # bridge run on the driver JVM's cold JIT for the first ~30 plans —
    # measured 2.3 s build + 0.9 s plan on the first full loop vs 1.5 s
    # + 0.46 s on the next within one session. A production driver is
    # never JIT-cold; this is the same disclosure class as the
    # JVM/codegen warmup in bench_session. Timed runs still build fresh
    # frames and pay full analysis/optimization per run.
    for name in headline:
        plan_gate(partial(specs[name].spark, spark, sf_dir))
        release_pins()

    timings: dict[str, float] = {}
    exec_timings: dict[str, float] = {}
    total = 0.0
    exec_total = 0.0
    for name in headline:
        # Each of 3 runs builds a FRESH frame (fresh RDD lineage, and
        # run_gate releases the run's pins, so no cross-run reuse can
        # flatter the numbers), then splits the wall time at the
        # optimized-physical-plan boundary:
        #   e2e  = build + analyze/optimize/plan + execute  (the round-1/2
        #          metric, kept for cross-round comparability; at toy SF
        #          it is dominated by CONSTANT driver work — py4j
        #          expression construction + Catalyst optimization of
        #          large expression trees — that does not grow with data)
        #   exec = execute only (first run pays codegen; best-of-3 is
        #          steady state) — the component that actually scales
        #          with data volume and the honest basis for a same-box
        #          engine-vs-engine execution comparison.
        # Caveat: a query that eagerly materializes an internal
        # checkpoint during construction (ngram verify's gram table)
        # carries that work in e2e, not exec — e2e is the upper bound.
        build = partial(specs[name].spark, spark, sf_dir)
        runs = [run_gate(build) for _ in range(3)]
        timings[name] = round(min(r["build_s"] + r["plan_s"] + r["exec_s"] for r in runs), 3)
        total += timings[name]
        exec_timings[name] = round(min(r["exec_s"] for r in runs), 3)
        exec_total += exec_timings[name]

    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": round(total, 3),
                "unit": "sec",
                "queries": timings,
                "exec_queries": exec_timings,
                "exec_total": round(exec_total, 3),
                "sf": sf,
                "variant": variant,
                # scaling-probe transparency (r12, VERDICT r11 item 2): the
                # master is local[cpus], but shuffle partitions follow the
                # input bytes (runner.shuffle_partitions) and are capped at
                # cpus, so a core-scaling comparison is only meaningful at
                # an SF whose bytes rule reaches the larger core count.
                "cpus": spark.sparkContext.defaultParallelism,
                "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
                # host calibration: the driver re-provisions the VM
                # between rounds, so raw cross-round deltas carry
                # scheduling-speed noise. noop_32_tasks_sec prices pure
                # task scheduling; the DuckDB comparator re-times the
                # SAME oracle SQL on the SAME parquet on the SAME box,
                # making spark/duckdb a host-independent ratio.
                "calibration": {
                    "noop_32_tasks_sec": _noop_tasks_sec(spark),
                    "duckdb_oracle_total_sec": _duckdb_total_sec(
                        sf_dir, specs, headline
                    ),
                },
            }
        )
    )


def _noop_tasks_sec(spark, n: int = 32) -> float:
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(0, n, 1, numPartitions=n).selectExpr("count(1)").collect()
        best = min(best, time.perf_counter() - t0)
    return round(best, 3)


def _duckdb_total_sec(sf_dir: str, specs, headline=HEADLINE) -> float:
    """Best-of-3 total for the headline queries' own oracle SQL in DuckDB
    over the same parquet — the only executable same-scale comparator
    (the reference publishes no wall-clock numbers)."""
    import duckdb

    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')"
        )
    total = 0.0
    for qname in headline:
        sql = specs[qname].sql
        if sql is None:
            continue
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            con.execute(sql).fetchall()
            best = min(best, time.perf_counter() - t0)
        total += best
    return round(total, 3)


if __name__ == "__main__":
    main()
