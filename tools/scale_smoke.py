"""Scale smoke: run the expensive gates + the rewritten window family on
a ~10x table set and flag single-partition/skew regressions empirically.

The round-2 defect class (global windows silently executing in ONE
partition) was invisible to correctness gates and to toy-scale timing;
this harness would have caught it: for every checked query it measures
rows-per-partition at the output stage and fails when one partition
holds more than ``--skew-factor`` x the median of the non-empty
partitions (with an absolute floor so tiny outputs don't false-alarm).

Data: DuckDB replicates the sf0.1 parquet N times with shifted ids into
a scratch dir (text/table content repeats — fine for plan-shape and
skew detection, which depend on volume, not novelty).

Usage: python tools/scale_smoke.py [--factor 10] [--out /tmp/scale_sf1]
Prints one JSON line per query plus a final verdict line; exit 1 on any
skew/single-partition finding.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

#: one canonical driver heap per replication factor (sf1 = 10x sf0.1,
#: sf10 = 100x): growth comparisons across rounds are only valid
#: between artifacts whose headers carry the SAME heap (page-cache
#: eviction by a larger JVM moves I/O-heavy walls 2-6x on this box).
_CANONICAL_HEAP = {10: "8g", 100: "48g"}

#: (table, id columns to shift so replicas don't collide)
SHIFT_COLS = {
    "orders": ["o_orderkey"],
    "lineitem": ["l_orderkey"],
    "events": ["event_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    "customer": [],
    "supplier": [],
    "part": [],
    "region": [],
    "nation": [],
}

CHECK = [
    # the 5 most expensive headline gates (BENCH_r02 ranking)
    "ns_dedup_ngram_jaccard",
    "ns_dedup_minhash_lsh",
    "j9_bridge_join",
    "j1_prefix_cover_semi",
    "q1_pricing_summary",
    # the rewritten two-pass window family
    "ns_sequence_pack",
    "ns_token_budget",
    "ns_dedup_sorted_neighborhood",
    "w6_batch_assign",
    # round-3 corpus-model operators (corpus-wide joins/aggregates)
    "ns_bigram_lm",
    "ns_tfidf_cosine_pairs",
    "ns_ngram_novelty",
    "ns_graph_pagerank",
    "ns_scd2_intervals",
    "ns_event_funnel",
    "ns_group_ols",
    "ns_snapshot_diff",
    "ns_drift_histogram",
    "mm_resize_pool",
    # round-4 operators (real PNG decode kernel; serve-path BM25; the
    # retrieval/analytics additions)
    "mm_decode_png",
    "ns_bm25_topk",
    "ns_bm25_index",
    "ns_collocations",
    "ns_cohort_retention",
    # round-4 second wave: span-level dedup is the heaviest new gram op;
    # KL + quantization must keep their bounded/broadcast shapes
    "ns_dedup_spans",
    "ns_unigram_kl",
    "ns_embed_quantize",
    # round-4 third wave: corpus-LM buckets (trains on the corpus), the
    # CDC kernel, interpolated LM, contamination spans, attribution
    "ns_ccnet_buckets",
    "ns_interp_lm",
    "ns_cdc_chunks",
    "ns_contamination_spans",
    "ns_attribution",
    "ns_hashing_tf",
    # round-4 fourth wave: the sampled-quadratic recall harness, the
    # verified cross-source rollup, both real-decode fingerprints, the
    # two-histogram MAD screen, and the mixture executor's broadcast path
    "ns_lsh_recall",
    "ns_cross_source_dups",
    "mm_image_dhash",
    "mm_audio_fingerprint",
    "ns_outlier_mad",
    "ns_mixture_apply",
    "ns_label_centroid_sim",
    # round-7: the reworked simhash family — exactly the gates whose old
    # shapes OOMed the sf1 plan-audit session (SCALE.md r07). simhash is
    # a linear sketch pass; groups/components/canonical/semantic run the
    # contracted super-node propagation; apply consumes the keep-set.
    # ns_dedup_simhash_pairs is deliberately NOT here: its doc-level
    # pair list is OUTPUT-inherent quadratic on this dense synthetic
    # corpus (215M pairs at sf1, ~21.5B at sf10) — the sf1 count is
    # recorded in SCALE.md instead of profiled per-partition here.
    "ns_dedup_simhash",
    "ns_dedup_simhash_groups",
    "ns_dedup_components",
    "ns_dedup_canonical",
    "ns_dedup_semantic",
    "ns_dedup_apply",
    # round-7: the embedding pair generators after the same value-node
    # contraction (naive ns_dedup_semantic took 702 s at sf1)
    "ns_embed_cosine_pairs",
    "ns_embed_rp_lsh",
    # round-7: digest-contracted containment (naive form took 249 s at
    # sf1, found by the full-registry execution sweep)
    "ns_dedup_containment",
]

#: gates whose measured partition imbalance was traced to something a
#: 1000-executor run would NOT suffer from — adjudicated with the same
#: ratchet discipline as plan_audit.BENIGN (a name here means a human
#: traced the profile; re-adjudicate before extending). Recorded as
#: "skew_benign" in the output instead of failing the verdict.
SKEW_BENIGN = {
    "j10_upsert": (
        "union of a bytes-ruled scan leg (~66k rows per 2MB toy split) "
        "and a shuffle leg (~10k rows per reduce partition): two "
        "granularities, both individually bounded at scale (128MB "
        "splits / size-ruled reducers), no hot key"
    ),
    "ns_dedup_simhash": (
        "compressed-split imbalance on a pure narrow scan-following "
        "pass: maxPartitionBytes ranges equal COMPRESSED bytes, and "
        "runs of identical replicated docs RLE-pack ~6x tighter than "
        "diverse ones, so byte-equal splits hold 6x different row "
        "counts (measured at sf100). A property of the input layout, "
        "not the plan — every downstream consumer (groups/components/"
        "canonical) shuffles and rebalances immediately"
    ),
    "ns_dedup_simhash_pairs": (
        "output-inherent pair density: the gate's doc-level pair list "
        "is quadratic in duplicate-group size by definition, and the "
        "expansion joins emit each hot sketch group's pairs in the "
        "partitions owning that key. Production callers cap viral "
        "groups via simhash_hamming_pairs(max_group=...) — the minhash "
        "max_bucket device — and resolve those groups with "
        "exact_duplicates in O(B); the uncapped gate keeps oracle parity"
    ),
}


def replicate(src_dir: str, out_dir: str, factor: int) -> None:
    import duckdb

    from ubdc_airbnb_spark.sources.tables import TABLE_NAMES

    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    for t in TABLE_NAMES:
        dst = os.path.join(out_dir, f"{t}.parquet")
        if os.path.exists(dst):
            continue
        src = os.path.join(src_dir, f"{t}.parquet")
        # COPY to a temp path and os.replace into place (same hazard
        # ADVICE r09 found in bench._dup20_dir): a killed mid-COPY run
        # must not leave a partial parquet the existence cache above
        # treats as a valid replica
        tmp = dst + ".tmp"
        shift = SHIFT_COLS.get(t, [])
        if not shift:
            con.execute(f"COPY (SELECT * FROM read_parquet('{src}')) TO '{tmp}' (FORMAT PARQUET)")
            os.replace(tmp, dst)
            continue
        base = con.execute(
            f"SELECT {' ,'.join(f'MAX({c})' for c in shift)} FROM read_parquet('{src}')"
        ).fetchone()
        others = con.execute(f"DESCRIBE SELECT * FROM read_parquet('{src}')").fetchall()
        cols = ", ".join(
            f"{name} + i * {int(base[shift.index(name)]) + 1} AS {name}"
            if name in shift
            else name
            for name, *_ in others
        )
        # small row groups: a petabyte table is thousands of splittable
        # row groups, never one monolith — without this every narrow
        # scan-following stage reads as parts=1 and false-alarms
        con.execute(
            f"COPY (SELECT {cols} FROM read_parquet('{src}') CROSS JOIN range({factor}) t(i)) "
            f"TO '{tmp}' (FORMAT PARQUET, ROW_GROUP_SIZE 8192)"
        )
        os.replace(tmp, dst)


def _profile_counts_native(df) -> list[int]:
    """Rows per partition of the FINAL plan stage, measured natively
    (r09, VERDICT item 2): ``spark_partition_id()`` grouped JVM-side —
    no row ever crosses into a Python worker, so the wall no longer
    measures pickle throughput (the r08 finding: ±50% spread on 27M-row
    outputs via ``df.rdd``).

    Two pruning traps make the naive ``select(spark_partition_id())``
    report the WRONG stage (r02 observed it reporting the scan's
    partitioning under a global window):

    1. If no output column is referenced above, ColumnPruning removes
       the unreferenced operators (a Window whose expressions are
       unused collapses to its child) and the pid lands on the scan.
       → every output column is pinned with a ``max(col)`` aggregate
       (``count(col)`` does NOT work: on a non-nullable column Catalyst
       rewrites it to ``count(1)``, dropping the reference).
    2. The pins must survive to the COLLECTED row — projecting the
       count back out re-runs pruning and re-opens trap 1 — so the
       full aggregate row is collected (one short row per partition).

    Non-orderable columns (maps) are pinned via ``to_json(struct(c))``.
    The pid itself is non-deterministic, so Catalyst never pushes it
    below the final exchange; equality with the RDD-boundary profile is
    pytest-asserted across the window/aggregate/narrow/repartition plan
    shapes (tests/test_scale_smoke_profile.py)."""
    from pyspark.sql import functions as F

    pins = [
        F.max(F.to_json(F.struct(F.col(c)))) if "map<" in t else F.max(F.col(c))
        for c, t in df.dtypes
    ]
    proj = df.select(F.spark_partition_id().alias("__pid"), *df.columns)
    agg = proj.groupBy("__pid").agg(
        F.count(F.lit(1)).alias("__n"),
        *[p.alias(f"__c{i}") for i, p in enumerate(pins)],
    )
    return sorted(r["__n"] for r in agg.collect())


def partition_profile(df, native: bool = True):
    counts = (
        _profile_counts_native(df)
        if native
        else sorted(
            c
            for c in df.rdd.mapPartitions(lambda it: [sum(1 for _ in it)]).collect()
            if c
        )
    )
    if not counts:
        return {"parts": 0, "max": 0, "median": 0}
    return {
        "parts": len(counts),
        "max": counts[-1],
        "median": counts[len(counts) // 2],
    }


def run_curate_profile(spark, sf_dir: str, factor: int = 1) -> None:
    """VERDICT r04 item 7: the composed curation pipeline end-to-end at
    scale, with per-stage wall + casualty accounting — catches
    cross-stage re-computation that per-gate profiling can't see.

    The eval set is drawn from the ORIGINAL id range only (replica ids
    are orig + i*(max_orig+1), so ids < (max+1)/factor are the i=0
    copies): a plain ``id % 97`` over all replicas would, at high
    factors, give nearly every distinct text an eval-id replica and
    decontamination would empty the corpus — a harness artifact, not a
    pipeline property (observed at factor=100: rows_out 0)."""
    from pyspark.sql import functions as F

    from ubdc_airbnb_spark.operators.prefixsum import release_pins
    from ubdc_airbnb_spark.plans.curation import run_curation
    from ubdc_airbnb_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    max_id = docs.agg(F.max("doc_id")).first()[0]
    orig_limit = (int(max_id) + 1) // max(factor, 1)
    eval_docs = docs.filter(
        (F.col("doc_id") % 97 == 0) & (F.col("doc_id") < orig_limit)
    ).select("doc_id", "text")
    t0 = time.perf_counter()
    res = run_curation(
        spark,
        docs,
        eval_docs=eval_docs,
        min_tokens=10,
        min_quality=0.3,
        max_per_source=10**9,
    )
    n_out = res.corpus.count()
    total = round(time.perf_counter() - t0, 2)
    release_pins()
    print(json.dumps({
        "query": "curate_e2e",
        "sec": total,
        "rows_out": n_out,
        "report": res.report,
        "stage_seconds": res.stage_seconds,
    }))


def _bfs_split_fetcher(kind: str, key: str, offset: int) -> tuple[int, str, str]:
    """Deterministic search fetcher for the discovery-at-scale smoke.

    Split/paginate behavior is a pure function of the work item, so the
    fetcher is stateless and executor-safe: quadkeys shallower than the
    depth target report ``has_next_page`` (the BFS splits them — T7);
    at the depth cap the first pages keep paginating until the offset
    cap (T8), then finalize. Payloads are the standard synthetic search
    bodies, seeded per (quadkey, offset) so listings differ per page."""
    from ubdc_airbnb_spark.sources import payloads

    o = int(offset)
    has_next = len(key) < _BFS_DEPTH_TARGET or (o + 10) < _BFS_PAGE_CAP
    body = payloads.search_payload(
        key, has_next_page=has_next, items_offset=o, seed=f"{key}:{o}"
    )
    return 200, body, f"mock://search/{key}?o={o}"


_BFS_DEPTH_TARGET = 12
_BFS_PAGE_CAP = 30

# --- adversarial hot-tile discovery (r10, VERDICT item 6) ---------------
_HOT_SEED = "0313131000"  # the one city-center tile among 256 seeds
_HOT_MAX_LEVEL = 22  # ref MAX_GRID_LEVEL: the hot pocket descends to cap
_HOT_PAGE_CAP = 400  # 40 pages of 10 at the depth cap


def _hot_tile_fetcher(kind: str, key: str, offset: int) -> tuple[int, str, str]:
    """One pathological density pocket, 99% empty frontier: the hot seed's
    '0' descendant chain splits all the way to MAX_GRID_LEVEL, then
    paginates 40 pages; every other tile finalizes on its first fetch.
    The depth-cap pages use an ALTERNATING payload seed, so consecutive
    pages re-deliver the same listings (the real-world pagination-
    overlap case) — the listing MERGE must hold under those re-visits."""
    from ubdc_airbnb_spark.sources import payloads

    o = int(offset)
    tail = key[len(_HOT_SEED):] if key.startswith(_HOT_SEED) else None
    is_hot = tail is not None and (tail == "" or set(tail) <= {"0"})
    if is_hot and len(key) < _HOT_MAX_LEVEL:
        has_next, seed = True, f"{key}:{o}"
    elif is_hot:
        has_next = (o + 10) < _HOT_PAGE_CAP
        seed = f"{key}:{(o // 10) % 2}"  # pages alternate between 2 listing sets
    else:
        has_next, seed = False, f"{key}:{o}"
    body = payloads.search_payload(
        key, has_next_page=has_next, items_offset=o, seed=seed
    )
    return 200, body, f"mock://hot/{key}?o={o}"


def run_hot_tile_discovery(spark, skew_factor: float = 4.0,
                           min_rows: int = 10_000) -> list[str]:
    """Adversarial BFS case the uniform pipeline smoke never hits: ONE
    quadkey descends to MAX_GRID_LEVEL with pagination fan-out while
    99% of the frontier is empty. Machine checks:

    - fetch economy: the 255 cold tiles are fetched EXACTLY once — the
      hot chain never re-enqueues finalized work (fetches stay ~343,
      not 256 x waves);
    - the descent is exactly the hot chain (12 splits, one per level);
    - dedup holds under page re-visits: the alternating page seeds
      re-deliver the same 20 listings for 40 pages, and the listing
      MERGE keeps them unique (hot-tile listings <= ~20 + collisions);
    - the data-scale outputs pass the same skew/single-partition rule
      as every other smoke output.
    """
    import itertools

    from pyspark.sql import functions as F

    from ubdc_airbnb_spark.plans import discovery

    bad: list[str] = []
    seeds = [_HOT_SEED[:6] + "".join(t) for t in itertools.product("0123", repeat=4)]
    assert _HOT_SEED in seeds and len(seeds) == 256
    t0 = time.perf_counter()
    res = discovery.discover(
        spark, _hot_tile_fetcher, seeds,
        max_level=_HOT_MAX_LEVEL, max_waves=60, partitions=32,
    )
    wall = round(time.perf_counter() - t0, 2)
    n_bronze = res.bronze.count()
    n_listings = res.listings.count()
    levels = _HOT_MAX_LEVEL - len(_HOT_SEED)  # splits along the hot chain
    pages = _HOT_PAGE_CAP // 10
    # 256 seeds once + 4 children per split level + the pagination tail
    expected_fetches = 256 + 4 * levels + (pages - 1)
    hot22 = _HOT_SEED + "0" * levels
    n_hot_listings = res.listings.filter(
        F.col("quadkey").startswith(hot22)
    ).count()
    checks = {
        "fetch_economy": res.fetches <= expected_fetches + 8,
        "no_refetch_of_finalized": res.fetches >= 256 + 4 * levels,
        "splits_are_hot_chain_only": len(res.splits) == levels
        and all(s.startswith(_HOT_SEED) for s in res.splits),
        "wave_bound": res.waves <= 1 + levels + pages + 2,
        "revisit_dedup": 10 <= n_hot_listings <= 30,
        "listings_unique": n_listings
        == res.listings.select("listing_id").distinct().count(),
    }
    print(json.dumps({
        "query": "hot_tile:discovery", "sec": wall, "waves": res.waves,
        "fetches": res.fetches, "expected_fetches": expected_fetches,
        "splits": len(res.splits), "bronze_rows": n_bronze,
        "listings": n_listings, "hot_tile_listings": n_hot_listings,
        "checks": checks,
    }))
    sys.stdout.flush()
    bad.extend(f"hot_tile:{k}" for k, v in checks.items() if not v)
    for name, df, n in (("hot_tile:bronze", res.bronze, n_bronze),
                        ("hot_tile:listings", res.listings, n_listings)):
        prof = partition_profile(df)
        skewed = (
            prof["parts"] > 0
            and prof["max"] >= min_rows
            and (prof["parts"] == 1
                 or prof["max"] > skew_factor * max(prof["median"], 1))
        )
        print(json.dumps({"query": name, "rows": n, **prof, "skewed": skewed}))
        sys.stdout.flush()
        if skewed:
            bad.append(name)
    return bad


def run_pipeline_profile(spark, skew_factor: float = 4.0, min_rows: int = 10_000,
                         harvest_cap: int = 20_000) -> list[str]:
    """VERDICT r06 item 7: the harvest/discovery composed plans at
    ~100x+ the e2e-test scale (the pytest e2e runs 1-2 grids / 2-3
    listings; this runs a 64-seed quadtree BFS through two full split
    levels plus the depth-cap pagination tail — 3,392 fetches — then a
    calendar harvest over the ~30k discovered listings, ~7M calendar-day
    rows). Checks the same skew/single-partition rule as the gate smoke
    on every data-scale output (bronze, listings, calendar days).
    """
    import itertools

    from pyspark.sql import functions as F

    from ubdc_airbnb_spark.plans import discovery, ops

    bad: list[str] = []

    def _check(name: str, df, n_rows: int, extra: dict) -> None:
        prof = partition_profile(df)
        skewed = (
            prof["parts"] > 0
            and prof["max"] >= min_rows
            and (
                prof["parts"] == 1
                or prof["max"] > skew_factor * max(prof["median"], 1)
            )
        )
        print(json.dumps({"query": name, "rows": n_rows, **prof,
                          "skewed": skewed, **extra}))
        if skewed:
            bad.append(name)

    # --- discovery BFS: 64 seeds (len 10) -> split to 256 -> split to
    # 1024 at the depth cap -> 3 pagination pages each = 3,392 fetches
    seeds = ["0313131" + "".join(t) for t in itertools.product("0123", repeat=3)]
    t0 = time.perf_counter()
    res = discovery.discover(
        spark, _bfs_split_fetcher, seeds,
        max_level=_BFS_DEPTH_TARGET, max_waves=10, partitions=32,
    )
    n_bronze = res.bronze.count()
    n_listings = res.listings.count()
    wall = round(time.perf_counter() - t0, 2)
    _check("pipeline:discover_bronze", res.bronze, n_bronze,
           {"sec": wall, "waves": res.waves, "fetches": res.fetches,
            "splits": len(res.splits)})
    _check("pipeline:discover_listings", res.listings, n_listings, {})

    # --- calendar harvest over the discovered listings (S2+X11+J9+T10)
    listings = res.listings.withColumn(
        "calendar_updated_at", F.lit(None).cast("timestamp")
    )
    covers = spark.createDataFrame(
        [("03", True)], "qk_prefix string, collect_calendars boolean"
    )
    t0 = time.perf_counter()
    h = ops.run_calendar_harvest(spark, listings, covers, how_many=harvest_cap)
    n_hb = h.bronze.count()
    n_days = h.calendar_days.count()
    wall = round(time.perf_counter() - t0, 2)
    _check("pipeline:harvest_bronze", h.bronze, n_hb,
           {"sec": wall, "n_due": h.n_due})
    _check("pipeline:harvest_days", h.calendar_days, n_days, {})

    # --- review harvest + user enrichment (S3+X12+X5+J10+T8), the last
    # composed plan with only toy e2e coverage (VERDICT r07 item 6): the
    # pytest e2e runs ONE due listing; this runs 5,000 — the mock payload
    # declares reviews_count=350, so the pagination fan-out computes 4
    # page offsets per listing up front (20k fetches, no sequential
    # chaining), then mirrors cli._beat_reviews' user enrichment:
    # partial review-author profiles widened to placeholder defaults and
    # MERGEd into an existing users table via insert_if_absent.
    from ubdc_airbnb_spark.operators.upsert import insert_if_absent
    from ubdc_airbnb_spark.plans.ops import placeholder_users

    n_rl = 5_000
    rlistings = spark.range(n_rl).select(
        (F.col("id") + 10_000).alias("listing_id"),
        F.lit("02000").alias("quadkey"),
        F.lit(None).cast("timestamp").alias("reviews_updated_at"),
    )
    rcovers = spark.createDataFrame(
        [("02", True)], "qk_prefix string, collect_reviews boolean"
    )
    t0 = time.perf_counter()
    r = ops.run_review_harvest(spark, rlistings, rcovers, how_many=n_rl)
    n_rb = r.bronze.count()
    n_rv = r.reviews.count()
    partial = r.users.dropDuplicates(["user_id"])
    wide = (
        placeholder_users(partial.select("user_id"))
        .drop(*[c for c in partial.columns if c != "user_id"])
        .join(partial, "user_id")
    )
    existing = placeholder_users(
        spark.range(500).select((F.col("id") + 1_000_000_000).alias("user_id"))
    )
    users = insert_if_absent(existing, wide, ["user_id"])
    n_users = users.count()
    wall = round(time.perf_counter() - t0, 2)
    _check("pipeline:review_bronze", r.bronze, n_rb,
           {"sec": wall, "n_due": r.n_due, "pages": r.n_pages})
    _check("pipeline:review_rows", r.reviews, n_rv, {})
    _check("pipeline:review_users_merged", users, n_users, {})
    return bad


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--src", default="/root/testdata/sf0.1")
    ap.add_argument("--factor", type=int, default=10)
    ap.add_argument("--out", default="/tmp/scale_sf1")
    ap.add_argument("--skew-factor", type=float, default=4.0)
    ap.add_argument("--min-rows", type=int, default=10_000,
                    help="outputs smaller than this skip the skew check")
    ap.add_argument("--queries", nargs="*", default=None,
                    help="run only these CHECK entries (sfN growth runs)")
    ap.add_argument("--curate", action="store_true",
                    help="also profile the composed curation pipeline "
                         "end-to-end with per-stage timings")
    ap.add_argument("--hot-tile", action="store_true",
                    help="adversarial hot-tile discovery (one city-center "
                         "quadkey descends to MAX_GRID_LEVEL with pagination "
                         "fan-out while 99%% of the frontier is empty); "
                         "skips replicate + gates")
    ap.add_argument("--pipeline", action="store_true",
                    help="profile ONLY the harvest/discovery composed "
                         "plans (quadtree BFS + calendar harvest) at "
                         "~100x e2e-test scale; skips replicate + gates")
    ap.add_argument("--no-solo", action="store_true",
                    help="skip the fresh-session solo re-measure pass "
                         "(set automatically in the solo subprocesses)")
    ap.add_argument("--solo-threshold", type=float, default=5.0,
                    help="gates whose in-run sec_native exceeds this are "
                         "auto re-measured in a fresh subprocess session")
    args = ap.parse_args()

    # Canonical driver heap PER SCALE FACTOR (VERDICT r09 item 5): sf10
    # walls are not cross-round comparable without matching heap — a 48g
    # JVM on this 128 GiB box evicts ~40 GB of page cache an 8g run
    # keeps, moving I/O-heavy gates 2-6x. Pin one heap per factor unless
    # the caller overrides explicitly, and STAMP heap + box state into
    # the artifact header so growth tables can reject mismatched pairs.
    if "SPARK_DRIVER_MEMORY" not in os.environ:
        os.environ["SPARK_DRIVER_MEMORY"] = _CANONICAL_HEAP.get(args.factor, "8g")
    meminfo = {}
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                k, v = line.split(":", 1)
                if k in ("MemFree", "MemAvailable", "Cached"):
                    meminfo[k] = round(int(v.split()[0]) / 1024 / 1024, 1)
    except OSError:
        pass
    print(json.dumps({
        "header": True,
        "driver_mem": os.environ["SPARK_DRIVER_MEMORY"],
        "factor": args.factor,
        "src": args.src,
        "out": args.out,
        "box_free_gb": meminfo.get("MemFree"),
        "box_page_cache_gb": meminfo.get("Cached"),
        "box_available_gb": meminfo.get("MemAvailable"),
    }))
    sys.stdout.flush()

    if args.pipeline or args.hot_tile:
        from ubdc_airbnb_spark.session import get_spark

        spark = get_spark("scale-smoke-pipeline", extra_conf={
            "spark.sql.adaptive.coalescePartitions.enabled": "false",
        })
        bad = (
            run_hot_tile_discovery(spark, skew_factor=args.skew_factor,
                                   min_rows=args.min_rows)
            if args.hot_tile
            else run_pipeline_profile(spark, skew_factor=args.skew_factor,
                                      min_rows=args.min_rows)
        )
        print(json.dumps({"verdict": "FAIL" if bad else "PASS", "skewed": bad}))
        return 1 if bad else 0

    replicate(args.src, args.out, args.factor)

    from ubdc_airbnb_spark import queries as q_mod
    from ubdc_airbnb_spark.operators import prefixsum
    from ubdc_airbnb_spark.session import get_spark

    # The smoke validates the AT-SCALE physical plan: force the two-pass
    # path (auto mode would legitimately pick the single-partition window
    # below its size threshold — Catalyst's column-pruned estimate of a
    # 10x toy table is still tiny — but that's the plan we're NOT here
    # to test).
    prefixsum.SINGLE_PARTITION_MAX_BYTES = -1
    # AQE's partition coalescing folds toy-sized post-shuffle outputs
    # into one partition (its job — a 100 TB run would keep them split);
    # disable it so the measured distribution reflects the PLAN's
    # partitioning, which is what a 1000-executor run would see.
    # Model the 100 TB scan: a petabyte table never arrives as one
    # 128 MB-undersized file, so split the toy files the way a real run
    # splits row groups — otherwise every narrow scan-following operator
    # reports parts=1 and false-alarms the single-partition check.
    extra_conf = {
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.files.maxPartitionBytes": str(2 * 1024 * 1024),
    }

    spark = get_spark("scale-smoke", extra_conf=extra_conf)
    # absorb one-time session costs (executor thread spin-up, codegen
    # bootstrap) so neither the first gate of a full run nor a solo
    # single-gate subprocess carries JVM warmup in its wall — keeps the
    # in-run vs solo comparison apples-to-apples
    spark.range(10**7).selectExpr("sum(id)").collect()
    specs = {s.name: s for s in q_mod.registry()}
    bad = []
    inrun_native: dict[str, float] = {}
    for name in (args.queries if args.queries else CHECK):
        t0 = time.perf_counter()
        df = specs[name].spark(spark, args.out)
        t_build = time.perf_counter() - t0
        # "sec_native" = build + one native count — the honest
        # growth-curve number (r08 finding: the old df.rdd profile
        # shipped every output row through Python workers, so on
        # 27M-pair gates "sec" measured pickle throughput, ±50%).
        # "sec" = build + profile, its pre-r08 meaning — the count is
        # EXCLUDED from its window again (ADVICE r09: r08 accidentally
        # timed build+count+profile under the old name). The profile
        # itself is native since r09, so both numbers are JVM-only.
        n_rows = df.count()
        dt_native = round(time.perf_counter() - t0, 2)
        t1 = time.perf_counter()
        prof = partition_profile(df)
        dt = round(t_build + (time.perf_counter() - t1), 2)
        total = prof["max"] if prof["parts"] == 1 else None
        # A parts==1 result is a defect only when the PLAN reduced
        # parallelism — an Exchange down to one partition (the global-
        # window / unkeyed-aggregate bug class this check hunts). A plan
        # with NO exchange at all is a narrow chain: its output
        # partitioning IS the scan's, and a single split just means the
        # toy file is under maxPartitionBytes (documents at sf1 is
        # 1.9 MB compressed) — at 100 TB the same bytes rule yields
        # thousands of splits and the same plan keeps all of them.
        narrow_scan = False
        if prof["parts"] == 1 and prof["max"] >= args.min_rows:
            plan_str = df._jdf.queryExecution().executedPlan().toString()
            # only SHUFFLE exchanges reduce the streamed side's
            # parallelism; BroadcastExchange (and reuses of one) ships
            # the build side without touching the probe side's layout
            shuffles = plan_str.replace("BroadcastExchange", "").replace(
                "ReusedExchange", ""
            )
            narrow_scan = "Exchange" not in shuffles
            if not narrow_scan:
                # shuffle exchanges may all live in broadcast BUILD
                # subtrees (e.g. a group-count aggregate feeding a
                # broadcast rates table) while the streamed path is
                # scan → narrow → join(broadcast). A tree-string check
                # can't tell which side an Exchange is on, so test the
                # property we actually care about DYNAMICALLY: halve
                # the split size and re-profile — if the output
                # partition count tracks the input splits, the final
                # stage's parallelism is scan-bound and a 100 TB input
                # (thousands of splits) keeps it parallel.
                cur = spark.conf.get("spark.sql.files.maxPartitionBytes")
                try:
                    spark.conf.set(
                        "spark.sql.files.maxPartitionBytes", str(256 * 1024)
                    )
                    re_prof = partition_profile(specs[name].spark(spark, args.out))
                    narrow_scan = re_prof["parts"] > 1
                finally:
                    spark.conf.set("spark.sql.files.maxPartitionBytes", cur)
        skewed = (
            prof["parts"] > 0
            and prof["max"] >= args.min_rows
            and not narrow_scan
            and (
                prof["parts"] == 1
                or prof["max"] > args.skew_factor * max(prof["median"], 1)
            )
        )
        rec = {"query": name, "sec": dt, "sec_native": dt_native,
               "rows": n_rows, **prof, "skewed": skewed}
        if narrow_scan:
            rec["narrow_scan"] = True
        if skewed and name in SKEW_BENIGN:
            skewed = rec["skewed"] = False
            rec["skew_benign"] = SKEW_BENIGN[name]
        print(json.dumps(rec))
        sys.stdout.flush()
        prefixsum.release_pins()  # per-query pin hygiene, as in the gate
        inrun_native[name] = dt_native
        if skewed:
            bad.append(name)
    if args.curate:
        run_curate_profile(spark, args.out, factor=args.factor)
    # Fresh-session solo re-measure (r09, VERDICT item 2): a long-lived
    # smoke session contaminates individual gate walls (r08: j9 read
    # 156 s in-run vs 20.2 s in a fresh session, identical conf), which
    # previously forced manual solo adjudication of every outlier. Any
    # gate whose in-run sec_native exceeds --solo-threshold is re-run in
    # its own subprocess session; the record carries both walls plus a
    # contaminated flag (in-run > 1.5x solo), so growth curves read the
    # solo number and no hand-written adjudication paragraph is needed.
    # The parent session is STOPPED first: a resident multi-GB parent
    # heap evicts the page cache the solo JVM needs, inflating I/O-heavy
    # solos 2-6x (measured in the first r09 sf10 run: j9 290 s with the
    # 48g parent resident vs 35.9 s on an idle box).
    if not args.no_solo and not args.pipeline:
        spark.stop()
        import subprocess

        heavy = [n for n, s in inrun_native.items() if s > args.solo_threshold]
        for name in heavy:
            cmd = [
                sys.executable, os.path.abspath(__file__),
                "--src", args.src, "--factor", str(args.factor),
                "--out", args.out, "--skew-factor", str(args.skew_factor),
                "--min-rows", str(args.min_rows),
                "--queries", name, "--no-solo",
            ]
            try:
                out = subprocess.run(
                    cmd, capture_output=True, text=True, timeout=3600
                ).stdout
                # per-line parse is defensive (ADVICE r09): a malformed
                # or interleaved '{'-prefixed line (JVM stderr bleed,
                # partial flush) must not crash the parent AFTER all
                # gates ran — that loses the final verdict line
                solo = None
                for line in out.splitlines():
                    if not line.startswith("{"):
                        continue
                    try:
                        rec = json.loads(line)
                    except ValueError:
                        continue
                    if rec.get("query") == name:
                        solo = rec
                        break
                if solo is None or "sec_native" not in solo:
                    raise LookupError
            except (LookupError, subprocess.TimeoutExpired, OSError):
                print(json.dumps({"solo_recheck": name, "err": "solo run failed"}))
                continue
            print(json.dumps({
                "solo_recheck": name,
                "inrun_sec_native": inrun_native[name],
                "solo_sec_native": solo["sec_native"],
                "solo_skewed": solo["skewed"],
                "contaminated": inrun_native[name] > 1.5 * max(solo["sec_native"], 0.01),
            }))
            sys.stdout.flush()
    print(json.dumps({"verdict": "FAIL" if bad else "PASS", "skewed": bad}))
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
