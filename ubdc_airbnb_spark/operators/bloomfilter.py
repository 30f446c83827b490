"""Bloom-filter runtime pruning (north-star: shuffle-free semi-join
pre-filter at 100 TB).

Spark's own runtime row-group filtering (``spark.sql.optimizer.
runtimeFilter.bloomFilter.enabled``) is a black box whose bit layout is
engine-internal, so it cannot be oracle-checked. This module builds a
*portable* Bloom filter entirely as DataFrame algebra — k salted
md5-derived bit positions per key, a 64-bit-word register table folded
with ``bit_or`` — so the DuckDB oracle replays the identical bitmap and
the identical surviving-row set.

Scale shape (the point of the operator):

- **build**: one map-side-combinable groupBy over ``m/32`` word ids
  (``m`` = a few KB-to-MB of bits — *constant* state, never O(keys)).
- **probe**: the word table is collected (≤ ``m/32`` rows — driver-safe
  by construction) and baked into the probe plan as a broadcast-style
  array literal; the 100-TB fact side is then filtered with pure
  codegen'd bit arithmetic — **zero shuffle, zero join** before the real
  join runs on the ~|matching| survivors. This is exactly the runtime-
  filter pattern Spark applies to star-schema joins, made explicit and
  portable.

False positives pass the filter (and are eliminated by the real join
that follows); false negatives are impossible — asserted in tests
against an exact semi-join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import md5_long


def _positions(key: Column, n_hashes: int, m_bits: int) -> list[Column]:
    """k salted 60-bit hashes → k bit positions in [0, m_bits)."""
    return [md5_long(key, salt=f"bf{i}") % m_bits for i in range(n_hashes)]


def bloom_build(
    df: DataFrame, key: Column | str, n_hashes: int = 4, m_bits: int = 8192
) -> DataFrame:
    """Register table ``(word_id, word)``: bit ``p`` lives in word
    ``p >> 5`` at bit ``p & 31`` — 32-bit words, because a shift into
    bit 63 wraps negative in Spark but raises in DuckDB; 31 is safe and
    identical everywhere. One narrow explode of k positions per row,
    then a groupBy over ≤ ``m_bits/32`` uniform keys with ``bit_or`` —
    fully map-side combinable, output size constant."""
    key = F.col(key) if isinstance(key, str) else key
    pos = F.array(*_positions(key, n_hashes, m_bits))
    return (
        df.select(F.explode(pos).alias("p"))
        .select(
            F.shiftright("p", 5).alias("word_id"),
            # shift amount is a Column: F.shiftleft rejects it, call_function works
            F.call_function(
                "shiftleft", F.lit(1).cast("long"), F.col("p").bitwiseAND(F.lit(31)).cast("int")
            ).alias("w"),
        )
        .groupBy("word_id")
        .agg(F.bit_or("w").alias("word"))
    )


def bloom_probe(
    df: DataFrame,
    key: Column | str,
    bloom: DataFrame,
    n_hashes: int = 4,
    m_bits: int = 8192,
) -> DataFrame:
    """Filter ``df`` to rows whose key *may* be in the filter.

    The register table (≤ ``m_bits/32`` rows — constant-size, driver-safe)
    is baked into the plan as a dense array literal, so the probe is a
    codegen'd expression over the fact table: no shuffle, no join node at
    all. Every one of the k bit tests must pass."""
    key = F.col(key) if isinstance(key, str) else key
    words = [0] * (m_bits >> 5)
    for row in bloom.collect():  # ≤ m_bits/32 rows by construction
        words[row["word_id"]] = row["word"]
    warr = F.array(*[F.lit(w).cast("long") for w in words])
    cond = F.lit(True)
    for p in _positions(key, n_hashes, m_bits):
        word = F.element_at(warr, (F.shiftright(p, 5) + 1).cast("int"))
        bit = F.call_function("shiftleft", F.lit(1).cast("long"), p.bitwiseAND(F.lit(31)).cast("int"))
        cond = cond & (word.bitwiseAND(bit) != 0)
    return df.filter(cond)


def bloom_prune_semi_join(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    n_hashes: int = 4,
    m_bits: int = 8192,
) -> DataFrame:
    """Exact semi-join with Bloom pre-pruning: build on the dim keys,
    probe the fact side (shuffle-free), then the real semi-join touches
    only survivors. Result is identical to a plain LEFT SEMI join —
    the Bloom stage only removes rows that *cannot* match."""
    bloom = bloom_build(dim, dim_key, n_hashes, m_bits)
    pruned = bloom_probe(fact, fact_key, bloom, n_hashes, m_bits)
    return pruned.join(
        F.broadcast(dim.select(F.col(dim_key).alias(fact_key)).distinct()),
        fact_key,
        "left_semi",
    )
