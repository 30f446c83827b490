"""Session hygiene: operators that _pin() multi-pass inputs must leave
nothing persisted once release_pins() runs — the gate runner, bench
harness, and report CLI all call it per query, so a 173-query session
never accumulates dead cache entries (round-3 verdict item 7). And
session conf is decided in session.py alone: loaders, kernels and
streaming writers leave it unchanged, so one query's settings never
leak into the next."""

from __future__ import annotations

import pathlib

from ubdc_airbnb_spark import queries as q_mod
from ubdc_airbnb_spark.operators.prefixsum import _PINNED, _pin, release_pins

from conftest import SF_DIR


def _persistent_rdd_count(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _spec(name):
    return next(s for s in q_mod.registry() if s.name == name)


def test_pin_dedupes_same_plan(spark):
    release_pins()  # other tests' operators may have left session pins
    df = spark.range(100).selectExpr("id", "id * 2 as v")
    a = _pin(df)
    b = _pin(spark.range(100).selectExpr("id", "id * 2 as v"))
    assert a is b, "same semantic plan must reuse the existing pin handle"
    assert len(_PINNED) == 1
    release_pins()
    assert len(_PINNED) == 0


def test_unpin_removes_registry_entry(spark):
    """unpin() must drop the _PINNED entry with the cache: a bare
    unpersist() leaves a dead handle that a later identical _pin returns
    as 'cached' (silent full-lineage recompute on every pass)."""
    from ubdc_airbnb_spark.operators.prefixsum import unpin

    release_pins()
    df = _pin(spark.range(50).selectExpr("id", "id * 3 as v"))
    assert len(_PINNED) == 1
    assert unpin(df)
    assert len(_PINNED) == 0
    # re-pinning the same semantic plan creates a FRESH live handle
    again = _pin(spark.range(50).selectExpr("id", "id * 3 as v"))
    assert again is not df and len(_PINNED) == 1
    release_pins()


def test_curation_rerun_gets_live_pins(spark):
    """Two back-to-back run_curation calls in one session: the second
    run's stage pins must be live (the first run's per-stage unpins must
    not leave dead registry entries the second run would reuse)."""
    from ubdc_airbnb_spark.plans.curation import run_curation
    from ubdc_airbnb_spark.sources.tables import load_table

    release_pins()
    docs = load_table(spark, SF_DIR, "documents").limit(200)
    r1 = run_curation(spark, docs)
    r2 = run_curation(spark, docs)
    assert r1.report == r2.report
    # every pin left registered must still be genuinely persisted
    for df in _PINNED.values():
        assert df.storageLevel.useMemory or df.storageLevel.useDisk
    release_pins()


def test_gate_queries_release_all_pins(spark):
    release_pins()
    before = _persistent_rdd_count(spark)
    any_pinned = False
    # ns_bm25_topk / ns_token_budget pin unconditionally; the prefix-sum
    # family pins only on its two-pass path (size-adaptive, so toy SF may
    # legitimately take the pin-free single-partition plan)
    for name in ("ns_sequence_pack", "ns_bm25_topk", "ns_token_budget"):
        _spec(name).spark(spark, SF_DIR).collect()
        any_pinned = any_pinned or len(_PINNED) > 0
        release_pins()
        assert len(_PINNED) == 0
    assert any_pinned, "at least one gate query should have pinned input"
    # non-blocking unpersist: registry is the contract surface; the JVM
    # side must also drain back to the pre-test level
    import time

    for _ in range(50):
        if _persistent_rdd_count(spark) <= before:
            break
        time.sleep(0.1)
    assert _persistent_rdd_count(spark) <= before


def test_corpus_rows_exact_and_memoless(spark):
    """r12 (VERDICT r11 item 1a): the LSH-recall corpus constant must
    come from per-build metadata (parquet footer / materialized-cache
    stats), never a cross-run memo, and must be EXACT — a filtered frame
    (where footer totals would be wrong) must fall back to a real count."""
    import ubdc_airbnb_spark.operators.dedup as dd

    # no module-level memo dict keyed on data/plans may exist
    assert not hasattr(dd, "_COUNTS") and not hasattr(dd, "_count_memo")

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    n = docs.count()
    assert dd._corpus_rows(docs) == n
    # projections preserve cardinality -> still the metadata path
    assert dd._corpus_rows(docs.select("doc_id")) == n
    # a filter breaks row-preservation: footer totals are WRONG here,
    # the helper must return the true filtered count instead
    filt = docs.filter("doc_id % 2 = 0")
    assert dd._corpus_rows(filt) == filt.count()
    # driver-local frames (no files, no footers) are exact too
    local = spark.range(37).selectExpr("id AS doc_id", "'x' AS text")
    assert dd._corpus_rows(local) == 37


def test_queries_leave_session_conf_unchanged(spark):
    """A table load and an Arrow kernel gate must not change session
    conf. Runs in a fresh session (same conf as the fixture's, from
    get_spark) so a write that an earlier test already triggered in the
    fixture session cannot hide here. Streaming writers run in the
    stream's own cloned session, where a snapshot of this one could not
    see a write; the source ratchet below covers them."""
    from ubdc_airbnb_spark.sources.tables import load_table

    s = spark.newSession()
    before = dict(s.conf.getAll)

    load_table(s, SF_DIR, "events", use_cache=False)
    _spec("mm_decode_png").spark(s, SF_DIR).collect()
    release_pins()

    assert dict(s.conf.getAll) == before


def test_no_session_conf_writes_in_package():
    """Source ratchet: session conf is decided in session.py, never by
    ``conf.set``/``conf.unset`` in a loader, operator or writer."""
    pkg = pathlib.Path(__file__).resolve().parents[1] / "ubdc_airbnb_spark"
    offenders = [
        f"{p.relative_to(pkg)}:{i}"
        for p in sorted(pkg.rglob("*.py"))
        if p != pkg / "session.py"
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if "conf.set(" in line or "conf.unset(" in line
    ]
    assert offenders == []


def test_load_table_on_a_session_not_built_by_get_spark(spark, tmp_path):
    """``__spark_entry__`` is handed a session get_spark did not build.
    With its zone and ``nanosAsLong`` at their defaults, load_table must
    still read TIMESTAMP(NANOS) and µs naive timestamps as the same UTC
    instants a get_spark session gives."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from ubdc_airbnb_spark.sources.tables import load_table

    wall = [dt.datetime(2024, 3, 10, 1, 30, 0, 123456), dt.datetime(2024, 11, 3, 1, 30)]
    want = [int((w - dt.datetime(1970, 1, 1)).total_seconds()) * 10**6 + w.microsecond for w in wall]
    for name, unit in (("ns_ts", "ns"), ("us_ts", "us")):
        pq.write_table(
            pa.table({"ts": pa.array(wall, pa.timestamp(unit))}),
            str(tmp_path / f"{name}.parquet"),
        )

    s = spark.newSession()
    s.conf.set("spark.sql.session.timeZone", "America/New_York")
    s.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    assert s.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "false"

    for name in ("ns_ts", "us_ts"):
        got = load_table(s, str(tmp_path), name, use_cache=False)
        assert [r[0] for r in got.selectExpr("unix_micros(ts)").collect()] == want, name
        # ...and hour() etc. downstream see the UTC wall clock, as DuckDB does
        assert [r[0] for r in got.selectExpr("hour(ts)").collect()] == [1, 1], name
    assert s.conf.get("spark.sql.session.timeZone") == "UTC"


def test_session_timestamp_and_arrow_bounds(spark):
    """get_spark reads parquet TIMESTAMP(NANOS) as int64 for load_table,
    and Arrow batches stay byte-bounded: the Arrow kernels set no row
    cap, so ``maxBytesPerBatch`` is their memory guard — a future Spark
    raising its 64 MiB default must be a visible decision."""
    assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
    max_bytes = spark._jsparkSession.sessionState().conf().arrowMaxBytesPerBatch()
    assert 0 < max_bytes <= 64 * 1024 * 1024
