"""The gate runner: one protocol for building, planning, executing and
releasing a registry gate."""

from __future__ import annotations

import os

import pytest

from ubdc_airbnb_spark import queries as q_mod
from ubdc_airbnb_spark.operators import prefixsum
from ubdc_airbnb_spark.runner import run_gate, shuffle_partitions

from conftest import SF_DIR

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_run_gate_checksum_is_stable_and_counts_rows(spark):
    spec = next(s for s in q_mod.registry() if s.name == "q1_pricing_summary")
    a = run_gate(lambda: spec.spark(spark, SF_DIR))
    b = run_gate(lambda: spec.spark(spark, SF_DIR))
    assert a["checksum"] == b["checksum"]
    assert a["rows"] == spec.spark(spark, SF_DIR).count() > 0
    assert min(a["build_s"], a["plan_s"], a["exec_s"]) >= 0


def test_run_gate_releases_pins(spark):
    r = run_gate(lambda: prefixsum._pin(spark.range(5)))
    assert r["rows"] == 5 and r["pins_released"] == 1
    assert prefixsum._PINNED == {}

    def failing_build():
        prefixsum._pin(spark.range(7))
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError, match="build failed"):
        run_gate(failing_build)
    assert prefixsum._PINNED == {}


def test_shuffle_partitions_bytes_rule(tmp_path):
    small = tmp_path / "small"
    small.mkdir()
    (small / "t.parquet").write_bytes(b"x" * 1000)
    assert shuffle_partitions(str(small), 8) == 4  # floor
    assert shuffle_partitions(str(small), 2) == 2  # cap below the floor

    big = tmp_path / "big"
    big.mkdir()
    with open(big / "t.parquet", "wb") as f:
        f.truncate(10 * (4 << 20))  # sparse: 10 partitions' worth of bytes
    assert shuffle_partitions(str(big), 8) == 8  # cap at the core count
    assert shuffle_partitions(str(big), 32) == 10  # one per 4 MiB


def test_checksum_expression_lives_only_in_runner():
    needle = "xxhash64(" + "F.struct("
    allowed = os.path.join("ubdc_airbnb_spark", "runner.py")
    hits = []
    for root, dirs, files in os.walk(REPO):
        rel_root = os.path.relpath(root, REPO)
        dirs[:] = [d for d in dirs if not d.startswith(".") and d != "perfbench"]
        for f in files:
            rel = os.path.normpath(os.path.join(rel_root, f))
            if f.endswith(".py") and rel != allowed:
                with open(os.path.join(root, f), encoding="utf-8") as fh:
                    if needle in fh.read():
                        hits.append(rel)
    assert hits == []
