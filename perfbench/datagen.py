"""Deterministic synthetic inputs for the benchmark.

Writes the ten tables the registry gates read (``region nation customer
supplier part orders lineitem events documents embeddings``, one
single-row-group parquet file each, the layout of TESTDATA.md) plus the
dup20 documents variant the curation step reads. Every table is a pure
function of ``(sf, DATA_SEED)``, so the expected gate checksums recorded
in ``expected.json`` hold for every run; the workload seed only changes
the order and mock payloads of a run, never these tables.

Run directly to (re)generate one scale: ``python3 perfbench/datagen.py
0.01 perfbench/.data``.
"""

from __future__ import annotations

import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
PART_NOUN = ["widget", "gear", "bolt", "ring", "plate", "gizmo", "valve", "spring"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.43, 0.14, 0.15, 0.14, 0.14]
VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window order data column join small big customer "
    "query filter stream group vector index shard plan stage task cache "
    "read write node"
).split()
EMBED_DIM = 64

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(sf: float) -> dict[str, pa.Table]:
    """All ten tables at scale factor ``sf`` (row counts follow TESTDATA.md:
    6M×sf lineitem rows, 1M×sf events, at least 500 documents)."""
    rng = np.random.default_rng(DATA_SEED)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_evt = max(1_000, int(1_000_000 * sf))
    n_users = max(150, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vecs = max(500, int(20_000 * sf))

    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    adj = rng.integers(0, len(PART_ADJ), n_part)
    noun = rng.integers(0, len(PART_NOUN), n_part)
    out["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{a}{b}" for a, b in zip(rng.integers(1, 6, n_part), rng.integers(1, 6, n_part))],
        "p_type": np.array(PART_TYPES)[rng.integers(0, len(PART_TYPES), n_part)],
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": np.round(rng.uniform(900.0, 999.9, n_part), 1),
    })
    order_day = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": np.array(STATUSES)[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(_EPOCH_1995 + order_day * _DAY_US),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    l_order = rng.integers(0, n_ord, n_line, dtype=np.int64)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": l_order,
        "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n_line, dtype=np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(_EPOCH_1995 + (order_day[l_order] + rng.integers(1, 95, n_line)) * _DAY_US),
    })
    out["events"] = pa.table({
        "event_id": np.arange(n_evt, dtype=np.int64),
        # nanoseconds, as in the driver's tables: load_table reads them
        # through its nanosAsLong branch
        "ts": pa.array((_EPOCH_2024 + rng.integers(0, 30 * _DAY_US, n_evt)) * 1000,
                       type=pa.timestamp("ns")),
        "user_id": rng.integers(0, n_users, n_evt, dtype=np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_evt)],
        "value": np.round(rng.exponential(50.0, n_evt), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
    })
    words = np.array(VOCAB)
    n_words = rng.integers(8, 100, n_docs)
    texts = [" ".join(words[rng.integers(0, len(VOCAB), k)]) for k in n_words]
    # 5% near-duplicates: another document's text plus one extra token
    for i in rng.choice(np.arange(1, n_docs), n_docs // 20, replace=False):
        texts[i] = texts[rng.integers(0, i)] + " dup"
    out["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(len(LANGS), n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    vecs = rng.standard_normal((n_vecs, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(vecs.ravel(), EMBED_DIM).cast(pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vecs, dtype=np.int32),
    })
    return out


def dup20(docs: pa.Table) -> pa.Table:
    """The dup20 corpus of ``bench._dup20_dir``: every fifth document
    carries one of ten template texts (those of docs 0-9), so ~20% of the
    corpus falls in ten exact-duplicate clusters."""
    ids = docs["doc_id"].to_numpy()
    texts = docs["text"].to_pylist()
    template = {int(i): texts[k] for k, i in enumerate(ids) if i < 10}
    new = [template[(int(i) // 5) % 10] if i % 5 == 0 else t for i, t in zip(ids, texts)]
    return docs.set_column(1, "text", pa.array(new)).set_column(
        4, "n_chars", pa.array([len(t) for t in new], pa.int64())
    )


def sf_dir(root: str, sf: float) -> str:
    return os.path.join(root, f"sf{sf:g}")


def ensure(root: str, sf: float) -> str:
    """Generate ``<root>/sf<sf>`` once and return it. The directory is
    written under a temporary name and renamed into place, so an
    interrupted generation never leaves a partial table set behind."""
    final = sf_dir(root, sf)
    if os.path.isdir(final):
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "dup20"))
    for name, table in tables(sf).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
        if name == "documents":
            pq.write_table(dup20(table), os.path.join(tmp, "dup20", "documents.parquet"))
    try:
        os.rename(tmp, final)
    except OSError:  # generated concurrently by another process
        shutil.rmtree(tmp, ignore_errors=True)
    return final


if __name__ == "__main__":
    print(ensure(sys.argv[2] if len(sys.argv) > 2 else "perfbench/.data", float(sys.argv[1])))
