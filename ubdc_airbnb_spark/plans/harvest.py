"""Harvest planners: the due-selection DataFrame jobs that replace the
reference's beat-op initiators (SURVEY §3.2/§3.3; ref
app/operations/calendars.py:84-133, reviews.py:79-139, bookings.py:41-70).

Each planner composes: flagged-AOI cover semi-join (J2) → staleness
predicate (P7/T4) → in-flight anti-join (J6/T2) → top-k stalest (W1) →
fixed-size batching (W6), and stamps expiry (T3). One shuffle-light plan:
the cover side is broadcast, the ledger side is pre-aggregated distinct
keys, and the top-k is TakeOrderedAndProject.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..operators.joins import anti_join, flagged_cover_semi_join
from ..operators.windows import assign_batches, first_row_per_key, topk_stalest


def _stale(col: str, threshold_expr: str) -> Column:
    """P7: never-collected or stale-before-threshold."""
    return F.col(col).isNull() | (F.col(col) < F.expr(threshold_expr))


def select_due(
    listings: DataFrame,
    aoi_covers: DataFrame,
    inflight: DataFrame | None,
    flag_col: str,
    freshness_col: str,
    threshold_expr: str,
    how_many: int,
    stale_only: bool = True,
    batch_size: int = 100,
) -> DataFrame:
    """Generic due-selection (the shape shared by calendars / details /
    reviews / bookings planners)."""
    due = flagged_cover_semi_join(
        listings, aoi_covers, flag_col, keep=["listing_id"]
    )
    if stale_only:
        due = due.filter(_stale(freshness_col, threshold_expr))
    if inflight is not None:
        due = anti_join(due, inflight, "listing_id")
    picked = topk_stalest(due, freshness_col, how_many, tiebreak="listing_id")
    return assign_batches(picked, "listing_id", batch_size)


def select_due_calendars(
    listings: DataFrame,
    aoi_covers: DataFrame,
    inflight: DataFrame | None = None,
    how_many: int = 500_000,
    stale_only: bool = True,
) -> DataFrame:
    """Daily calendar harvest planner (ref operations/calendars.py:84-133:
    for_purpose('calendar') + stale filter + chunked groups)."""
    return select_due(
        listings,
        aoi_covers,
        inflight,
        flag_col="collect_calendars",
        freshness_col="calendar_updated_at",
        threshold_expr="date_trunc('DAY', current_timestamp())",
        how_many=how_many,
        stale_only=stale_only,
    )


def review_page_offsets(counts: DataFrame, page_size: int = 100) -> DataFrame:
    """X12/T8 improvement: the reference fans out review pages
    sequentially from page 1's metadata (ref tasks.py:55-72); the data
    model allows computing ALL page offsets up front and fetching them in
    parallel — ``explode(sequence(0, pages-1)) * page_size``."""
    pages = F.ceil(F.col("reviews_count") / page_size).cast("int")
    return counts.select(
        "listing_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.greatest(pages - 1, F.lit(0))),
                lambda i: i * page_size,
            )
        ).alias("offset"),
    )


def derive_booking_window(
    calendar_days: DataFrame,
    today_expr: str = "DATE '2024-01-01'",
) -> DataFrame:
    """S7/W5: first feasible (check_in, check_out) per listing — the
    reference's imperative calendar scan (ref airbnb_api.py:447-480)
    as window algebra:

    - consider only future days, ordered; index them per listing;
    - check_in = first day with ``available_for_checkin``;
    - check_out = first later checkin-able day whose running day count
      satisfies check_in's ``min_nights`` (stays = idx - idx_ci + 1 >
      min_nights, mirroring the reference's loop which increments
      ``stays`` before testing).
    """
    from pyspark.sql import Window

    w = Window.partitionBy("listing_id").orderBy("date")
    days = (
        calendar_days.filter(F.col("date") > F.expr(today_expr))
        .withColumn("idx", F.row_number().over(w))
    )
    checkins = days.filter(F.col("available_for_checkin")).select(
        "listing_id",
        F.col("date").alias("check_in"),
        F.col("idx").alias("ci_idx"),
        F.col("min_nights").alias("ci_min_nights"),
    )
    first_ci = first_row_per_key(checkins, ["listing_id"], [F.col("ci_idx").asc()])
    candidates = (
        days.filter(F.col("available_for_checkin"))
        .select("listing_id", F.col("date").alias("check_out"), F.col("idx").alias("co_idx"))
        .join(first_ci, "listing_id")
        .filter(
            (F.col("co_idx") > F.col("ci_idx"))
            & (F.col("co_idx") - F.col("ci_idx") + 1 >= F.col("ci_min_nights"))
        )
    )
    return first_row_per_key(candidates, ["listing_id"], [F.col("co_idx").asc()]).select(
        "listing_id", "check_in", "check_out"
    )
