"""Seeded input generation for every workload.

Everything a workload consumes is derived from one integer seed: the
TPC-H-shaped star schema (same column names and types as the package's
test data), the NULL mask of ``stats_flow``, the DML predicates and merge
batch of ``lakehouse_dml``, the injected near-duplicate documents (and
their ground truth), the ANN query set, and the fact-table enlargement of
``olap_star``. The same seed always yields byte-identical tables.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["large", "small", "hot", "cold", "green", "shiny", "plain", "red"]
PART_NOUN = ["ring", "bolt", "widget", "gear", "spring", "valve", "panel"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["view", "click", "purchase", "error", "signup"]
VOCAB = (
    "the a of and to in is it data spark query table row column batch "
    "stream scan filter join group sort hash key value window merge part "
    "line order fast slow big small agg vector index model train token "
    "text file log commit snapshot shard cache node task stage job plan"
).split()
LANGS = ["en", "de", "fr", "es", "zh"]

DAY_US = 86_400_000_000
EPOCH_1992 = np.datetime64("1992-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)

# Row-group size of the written parquet files: several row groups per
# fact table so local scans split across every core.
ROW_GROUP = 65_536


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _round2(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def star_schema(rng: np.random.Generator, n_lineitem: int) -> dict[str, pa.Table]:
    """The eight relational tables at ``n_lineitem`` fact rows (sf0.1 is
    600k). Dimension sizes keep the test data's ratios."""
    n_orders = max(n_lineitem // 4, 10)
    n_cust = max(n_lineitem // 40, 10)
    n_supp = max(n_lineitem // 600, 10)
    n_part = max(n_lineitem // 30, 10)
    n_events = max(n_lineitem // 6, 100)

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _round2(rng.uniform(-999.99, 9999.99, n_cust)),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _round2(rng.uniform(-999.99, 9999.99, n_supp)),
        }
    )
    adj = np.array(PART_ADJ)[rng.integers(0, len(PART_ADJ), n_part)]
    noun = np.array(PART_NOUN)[rng.integers(0, len(PART_NOUN), n_part)]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": np.char.add(np.char.add(adj, " "), noun),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
            "p_type": np.array(PART_TYPES)[rng.integers(0, len(PART_TYPES), n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": _round2(900.0 + (np.arange(n_part) % 1000) * 0.1),
        }
    )
    o_date = EPOCH_1992 + rng.integers(0, 2400, n_orders) * DAY_US
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)],
            "o_totalprice": _round2(rng.uniform(900.0, 450_000.0, n_orders)),
            "o_orderdate": _ts(o_date),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_orders)],
        }
    )
    l_order = rng.integers(0, n_orders, n_lineitem)
    qty = rng.integers(1, 51, n_lineitem).astype(np.float64)
    part_key = rng.integers(0, n_part, n_lineitem)
    price = _round2(qty * (900.0 + (part_key % 1000) * 0.1))
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(l_order, pa.int64()),
            "l_partkey": pa.array(part_key, pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_lineitem), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_lineitem), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": price,
            "l_discount": rng.integers(0, 11, n_lineitem) / 100.0,
            "l_tax": rng.integers(0, 9, n_lineitem) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_lineitem)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_lineitem)],
            "l_shipdate": _ts(o_date[l_order] + rng.integers(1, 122, n_lineitem) * DAY_US),
        }
    )
    n_users = max(n_events // 50, 10)
    ts = EPOCH_2024 + np.sort(rng.integers(0, 90 * DAY_US, n_events))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_events), pa.int64()),
            "ts": _ts(ts),
            "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_events)],
            "value": _round2(rng.uniform(0.0, 200.0, n_events)),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }
    )
    return t


def enlarge(tables: dict[str, pa.Table], factor: int) -> dict[str, pa.Table]:
    """Replicate the fact tables ``factor`` times with key offsets, so the
    copies join among themselves exactly like the base rows do."""
    if factor <= 1:
        return tables
    out = dict(tables)
    n_orders = tables["orders"].num_rows
    n_events = tables["events"].num_rows
    n_users = int(pc.max(tables["events"]["user_id"]).as_py()) + 1

    def rep(tbl: pa.Table, offsets: dict[str, int]) -> pa.Table:
        parts = []
        for k in range(factor):
            cols = {}
            for name in tbl.column_names:
                col = tbl[name]
                if name in offsets:
                    col = pc.add(col, pa.scalar(k * offsets[name], col.type))
                cols[name] = col
            parts.append(pa.table(cols))
        return pa.concat_tables(parts).combine_chunks()

    out["orders"] = rep(tables["orders"], {"o_orderkey": n_orders})
    out["lineitem"] = rep(tables["lineitem"], {"l_orderkey": n_orders})
    out["events"] = rep(tables["events"], {"event_id": n_events, "user_id": n_users})
    return out


def documents(
    rng: np.random.Generator, n_docs: int, dup_fraction: float
) -> tuple[pa.Table, dict[int, int]]:
    """Word-salad documents of 10-100 words, as in the package's test
    data, plus near-duplicate copies of a seed-chosen fraction of them (one
    adjacent-word swap and one word drop each). Copies are made of
    documents of at least 60 words, whose copy keeps a 3-shingle Jaccard
    near 0.8; on a shorter one the two edits change most shingles, and it
    is no longer a near-duplicate. Returns the corpus and
    ``{duplicate_id: source_id}``."""
    texts, langs, srcs = [], [], []
    vocab = np.array(VOCAB)
    for i in range(n_docs):
        words = vocab[rng.integers(0, len(vocab), int(rng.integers(10, 101)))]
        texts.append(" ".join(words))
        langs.append(LANGS[int(rng.integers(0, len(LANGS)))])
        srcs.append(f"src{i % 7}")
    n_dup = int(round(n_docs * dup_fraction))
    long_docs = [i for i, t in enumerate(texts) if t.count(" ") >= 59]
    sources = np.sort(rng.choice(long_docs, n_dup, replace=False))
    truth: dict[int, int] = {}
    for j, src in enumerate(sources):
        words = texts[src].split(" ")
        i = int(rng.integers(1, len(words) - 2))
        words[i], words[i + 1] = words[i + 1], words[i]
        del words[int(rng.integers(0, len(words)))]
        truth[n_docs + j] = int(src)
        texts.append(" ".join(words))
        langs.append(langs[src])
        srcs.append(srcs[src])
    n = len(texts)
    tbl = pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": langs,
            "source": srcs,
            "n_chars": pa.array([len(x) for x in texts], pa.int64()),
        }
    )
    return tbl, truth


def embeddings(
    rng: np.random.Generator, n_vecs: int, dim: int = 64, n_clusters: int = 10
) -> tuple[pa.Table, np.ndarray]:
    """Clustered unit-norm float32 vectors (gaussian blobs around random
    centres), the shape an IVF quantizer is built for. Dimension and
    cluster count are those of the package's test data."""
    centres = rng.normal(size=(n_clusters, dim))
    label = rng.integers(0, n_clusters, n_vecs)
    vecs = centres[label] + 0.6 * rng.normal(size=(n_vecs, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tbl = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(label, pa.int32()),
        }
    )
    return tbl, vecs


def ann_queries(
    rng: np.random.Generator, corpus: np.ndarray, n_queries: int
) -> tuple[pa.Table, np.ndarray]:
    """Query vectors: perturbed copies of seed-chosen corpus vectors, with
    ids disjoint from the corpus."""
    pick = rng.choice(len(corpus), n_queries, replace=False)
    q = corpus[pick] + 0.05 * rng.normal(size=(n_queries, corpus.shape[1]))
    q = (q / np.linalg.norm(q, axis=1, keepdims=True)).astype(np.float32)
    tbl = pa.table(
        {
            "vec_id": pa.array(1_000_000_000 + np.arange(n_queries), pa.int64()),
            "embedding": pa.array(list(q), pa.list_(pa.float32())),
        }
    )
    return tbl, q


@dataclass
class DmlPlan:
    """Seed-parameterised statements of one ``lakehouse_dml`` pass."""

    delete_where: str
    update_set: dict[str, str]
    update_where: str
    key_range: tuple[int, int]
    merge_keys: list[int]


def dml_plan(rng: np.random.Generator, n_rows: int) -> DmlPlan:
    flag = ["A", "N", "R"][int(rng.integers(0, 3))]
    qty = int(rng.integers(5, 45))
    disc = int(rng.integers(0, 11)) / 100.0
    width = max(n_rows // 50, 1)
    lo = int(rng.integers(1, max(n_rows - width, 2)))
    n_merge = max(n_rows // 200, 4)
    # half of the merge keys hit existing rows, half are new
    existing = rng.choice(n_rows, n_merge // 2, replace=False) + 1
    fresh = n_rows + 1 + np.arange(n_merge - n_merge // 2)
    return DmlPlan(
        delete_where=f"l_returnflag = '{flag}' AND l_quantity = {qty}.0",
        update_set={"l_tax": "l_tax + 0.5"},
        update_where=f"l_discount = {disc}",
        # a narrow row-id range: on the range-partitioned commit a scan
        # prunes to one or two files; compaction undoes that clustering
        key_range=(lo, lo + width - 1),
        merge_keys=sorted(int(x) for x in np.concatenate([existing, fresh])),
    )


def null_mask(rng: np.random.Generator, n: int, rate: float = 0.1) -> tuple[np.ndarray, np.ndarray]:
    """Independent NULL masks for the two imputed numeric columns."""
    return rng.random(n) < rate, rng.random(n) < rate


def write_table(tbl: pa.Table, path: str) -> int:
    """Write one parquet file; returns its size in bytes."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(tbl, path, row_group_size=ROW_GROUP)
    return os.path.getsize(path)


def write_tables(tables: dict[str, pa.Table], root: str) -> dict[str, int]:
    return {n: write_table(t, os.path.join(root, f"{n}.parquet")) for n, t in tables.items()}

