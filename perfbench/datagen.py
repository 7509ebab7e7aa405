"""Deterministic fixture tables for the benchmark.

Writes the ten fixture tables the engine's queries read (`region`,
`nation`, `customer`, `supplier`, `part`, `orders`, `lineitem`,
`events`, `documents`, `embeddings`) as one parquet file each, with the
same schemas, cardinalities per scale factor and value distributions as
the engine's test fixtures: independent uniform keys, a time-ordered
events corpus with exponential inter-arrival gaps, a 30-word document
vocabulary with exact and near duplicates, and unit-norm 64-d
embeddings.

The data depend only on the scale factor and DATA_SEED, never on the
workload seed, so the recorded output expectations hold for every run.

    python3 perfbench/datagen.py OUT_DIR [SCALE]
"""

from __future__ import annotations

import hashlib
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("large", "hot", "blue", "old", "cold", "red", "small", "new")
PART_NOUN = ("ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo")
PART_TYPES = ("LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO")
ORDER_STATUS = ("F", "O", "P")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
EMBED_DIM = 64

_US_PER_DAY = 86_400 * 1_000_000
_D1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_D2024 = np.datetime64("2024-01-01", "us").astype(np.int64)
_EVENT_SPAN_US = 2_590_000 * 1_000_000


def row_counts(scale: float) -> dict[str, int]:
    def n(base: int, floor: int = 1) -> int:
        return max(floor, int(round(base * scale)))

    return {
        "region": 5,
        "nation": 25,
        "customer": n(150_000),
        "supplier": n(10_000),
        "part": n(200_000),
        "orders": n(1_500_000),
        "lineitem": n(6_000_000),
        "events": n(1_000_000),
        "documents": n(50_000, 500),
        "embeddings": n(20_000, 500),
    }


def _money(rng, lo: float, hi: float, size: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size), 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), pa.timestamp("us"))


def build_tables(scale: float) -> dict[str, pa.Table]:
    n = row_counts(scale)
    rng = np.random.default_rng(DATA_SEED)
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(REGIONS),
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })

    nc = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)],
    })

    ns = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })

    npart = n["part"]
    pk = np.arange(npart)
    names = np.char.add(
        np.char.add(np.array(PART_ADJ)[rng.integers(0, 8, npart)], " "),
        np.array(PART_NOUN)[rng.integers(0, 8, npart)],
    )
    out["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": names,
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, npart).astype(str)),
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900 + (pk % 1000) / 10, 1),
    })

    no = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": np.array(ORDER_STATUS)[rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, no),
        "o_orderdate": _ts(_D1995 + rng.integers(0, 2405, no) * _US_PER_DAY),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)],
    })

    nl = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(("A", "N", "R"))[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(("F", "O"))[rng.integers(0, 2, nl)],
        "l_shipdate": _ts(_D1995 + rng.integers(1, 2500, nl) * _US_PER_DAY),
    })

    ne = n["events"]
    # the corpus spans 30 days at every scale, as the fixtures' does
    gaps = rng.exponential(_EVENT_SPAN_US / ne, ne).astype(np.int64) + 1
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": _ts(_D2024 + 10_000_000 + np.cumsum(gaps)),
        "user_id": pa.array(rng.integers(0, 1500, ne), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })

    nd = n["documents"]
    vocab = np.array(VOCAB)
    texts = [
        " ".join(vocab[rng.integers(0, len(VOCAB), int(k))])
        for k in rng.integers(10, 101, nd)
    ]
    # 5% near duplicates (an earlier text plus one token) and a handful
    # of exact duplicates, so the dedup and similarity queries find pairs
    for i in rng.choice(np.arange(1, nd), nd // 20, replace=False):
        texts[i] = texts[rng.integers(0, i)] + " dup"
    for i in rng.choice(np.arange(1, nd), max(1, nd // 600), replace=False):
        texts[i] = texts[rng.integers(0, i)]
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, nd, p=LANG_P)],
        "source": np.char.add("src", (np.arange(nd) % 20).astype(str)),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    nv = n["embeddings"]
    vecs = rng.standard_normal((nv, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32()),
    })
    return out


def write_tables(out_dir: str, scale: float) -> None:
    """Write every table to OUT_DIR/<name>.parquet, atomically: the files
    appear under their final names only once all of them are complete."""
    os.makedirs(os.path.dirname(os.path.abspath(out_dir)), exist_ok=True)
    tmp = f"{out_dir}.tmp{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)
    for name, table in build_tables(scale).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    publish(tmp, out_dir)


def publish(tmp: str, out_dir: str) -> None:
    """Rename a finished directory into place; if a concurrent run got
    there first, keep its copy and drop ours."""
    try:
        os.rename(tmp, out_dir)
    except OSError:
        if not os.path.isdir(out_dir):
            raise
        shutil.rmtree(tmp)


def version() -> str:
    """Digest of this generator, so cached tables from another version of
    it are never reused."""
    with open(os.path.abspath(__file__), "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:8]


def ensure_tables(out_dir: str, scale: float) -> str:
    if not os.path.isdir(out_dir):
        write_tables(out_dir, scale)
    return out_dir


if __name__ == "__main__":
    write_tables(sys.argv[1], float(sys.argv[2]) if len(sys.argv) > 2 else 0.1)
