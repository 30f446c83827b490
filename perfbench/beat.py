"""The ``harvest_curate`` beat cycle: discovery, calendar harvest and
curation, each called through its public ``plans`` entry point.

The mock fetcher is shipped to the Python workers by value (see
:func:`make_fetcher`): the workers can import ``ubdc_airbnb_spark`` but
not this directory.
"""

from __future__ import annotations

import json
import random
import sys
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ubdc_airbnb_spark.plans import curation, discovery, ops
from ubdc_airbnb_spark.sources import payloads
from ubdc_airbnb_spark.sources.tables import load_table

PREFIX_LEVEL = 6  # the seed picks one tile at this level ...
SEED_LEVEL = 8    # ... and its 16 descendants at this level are the seeds
WAVES = 2         # discovery fetches the seeds, then their children
N_DUE = 200       # calendars harvested per cycle
EVAL_MOD = 97     # doc_id % EVAL_MOD == 0 is the eval set


def make_fetcher(payload_seed: int):
    """Deterministic fetcher for ``search`` and ``calendar`` work items.
    A seed tile reports a next page, so discovery splits it into its four
    children; the children report none. This module is registered to
    pickle by value, so the closure travels with the task instead of
    being imported."""
    from pyspark import cloudpickle

    cloudpickle.register_pickle_by_value(sys.modules[__name__])

    def fetch(kind: str, key: str, offset: int) -> tuple[int, str, str]:
        if kind == "search":
            body = payloads.search_payload(
                key, has_next_page=len(key) <= SEED_LEVEL, items_offset=int(offset),
                seed=payload_seed,
            )
            return 200, body, f"mock://search/{key}"
        if kind == "calendar":
            return 200, payloads.calendar_payload(int(key), seed=payload_seed), f"mock://calendar/{key}"
        return 404, "", f"mock://{kind}/{key}"

    return fetch


@dataclass(frozen=True)
class BeatInputs:
    prefix: str
    seeds: list[str]
    payload_seed: int
    expect_listings: int
    fetched: list[str]         # every tile discovery fetches: the seeds, then their children


def plan_inputs(seed: int) -> BeatInputs:
    """Seed quadkeys and payload seed for workload seed ``seed``, plus the
    expected listing count, derived on the driver without Spark from the
    same payload generator."""
    rng = random.Random(f"beat-{seed}")
    prefix = "".join(rng.choice("0123") for _ in range(PREFIX_LEVEL))
    seeds = [prefix]
    for _ in range(SEED_LEVEL - PREFIX_LEVEL):
        seeds = [qk + d for qk in seeds for d in "0123"]
    payload_seed = rng.randrange(1 << 30)

    fetched = seeds + [qk + d for qk in seeds for d in "0123"]
    listing_ids = set()
    for qk in fetched:
        body = json.loads(payloads.search_payload(qk, seed=payload_seed))
        for sec in body["explore_tabs"][0]["sections"]:
            listing_ids.update(e["listing"]["id"] for e in sec.get("listings", []))
    return BeatInputs(prefix, seeds, payload_seed, len(listing_ids), fetched)


def discover(spark: SparkSession, inputs: BeatInputs):
    """Discovery BFS; returns the result and its listing count."""
    res = discovery.discover(spark, make_fetcher(inputs.payload_seed), inputs.seeds)
    return res, res.listings.count()


def calendar_harvest(spark: SparkSession, listings: DataFrame, inputs: BeatInputs):
    """Calendar harvest of the ``N_DUE`` stalest discovered listings;
    returns the result and its calendar-day count."""
    fleet = listings.select(
        "listing_id", "quadkey", F.lit(None).cast("timestamp").alias("calendar_updated_at")
    )
    covers = spark.createDataFrame(
        [(inputs.prefix, True)], "qk_prefix string, collect_calendars boolean"
    )
    res = ops.run_calendar_harvest(
        spark, fleet, covers, fetcher=make_fetcher(inputs.payload_seed), how_many=N_DUE,
    )
    return res, res.calendar_days.count()


def curation_inputs(spark: SparkSession, dup20_dir: str):
    """The dup20 documents, read and materialised in the cache, and the
    eval set drawn from them; a count forces the read."""
    docs = load_table(spark, dup20_dir, "documents", use_cache=False).cache()
    evals = docs.filter(F.col("doc_id") % EVAL_MOD == 0).select("doc_id", "text")
    docs.count()
    return docs, evals


def curate(spark: SparkSession, docs: DataFrame, evals: DataFrame):
    """Curation pass; returns the result and its surviving-doc count."""
    res = curation.run_curation(spark, docs, eval_docs=evals)
    return res, res.corpus.count()
