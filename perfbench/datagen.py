"""Seeded generator for the benchmark's input tables.

Writes the ten fixture tables the library's declared queries read
(``region`` .. ``embeddings``, one parquet file each) with the schemas,
key domains and value ranges of the TPC-H-ish fixtures described in
FIXTURES.md.  The same ``seed`` and scale always give byte-identical
rows.  ``events.ts`` is written as Parquet ``TIMESTAMP(NANOS)``, like
the fixtures, so the library's loader takes its nanos path.

``near_dup_copies`` appends key-shifted, lightly edited copies of every
document (doc ids ``+ c * DUP_STRIDE``) so the dedup and similarity
operators see a corpus with real near-duplicate clusters.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DUP_STRIDE = 10_000_000

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_STATUS = ["F", "O", "P"]
_PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_VOCAB = (
    "query row stream the spark line small fast group customer batch sort "
    "value hash filter big data dup part column order scan a slow agg key "
    "window table merge vector join"
).split()
_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]

_DAY_S = 86_400
_EPOCH_1995 = 788_918_400  # 1995-01-01T00:00:00Z
_EPOCH_2024 = 1_704_067_200  # 2024-01-01T00:00:00Z


def _ts_days(days: np.ndarray) -> pa.Array:
    secs = (_EPOCH_1995 + days.astype(np.int64) * _DAY_S) * 1000
    return pa.array(secs, type=pa.timestamp("ms"))


def _money(rng, lo, hi, n) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _texts(rng, n: int) -> list[str]:
    lens = rng.integers(8, 106, n)
    words = rng.integers(0, len(_VOCAB), int(lens.sum()))
    out, pos = [], 0
    for k in lens:
        out.append(" ".join(_VOCAB[w] for w in words[pos : pos + k]))
        pos += k
    return out


def _near_dup(rng, text: str) -> str:
    """Replace ~5 % of the words (at least one) with random vocabulary."""
    words = text.split(" ")
    k = max(1, len(words) // 20)
    for i in rng.choice(len(words), size=k, replace=False):
        words[i] = _VOCAB[rng.integers(0, len(_VOCAB))]
    return " ".join(words)


def _documents(rng, n_docs: int, copies: int) -> pa.Table:
    ids = np.arange(n_docs, dtype=np.int64)
    texts = _texts(rng, n_docs)
    langs = [_LANGS[i] for i in rng.integers(0, len(_LANGS), n_docs)]
    sources = [f"src{i % 20}" for i in range(n_docs)]
    all_ids, all_texts, all_langs, all_sources = [ids], list(texts), list(langs), list(sources)
    for c in range(1, copies + 1):
        all_ids.append(ids + c * DUP_STRIDE)
        all_texts.extend(_near_dup(rng, t) for t in texts)
        all_langs.extend(langs)
        all_sources.extend(sources)
    return pa.table(
        {
            "doc_id": pa.array(np.concatenate(all_ids)),
            "text": pa.array(all_texts),
            "lang": pa.array(all_langs),
            "source": pa.array(all_sources),
            "n_chars": pa.array(np.array([len(t) for t in all_texts], dtype=np.int64)),
        }
    )


def generate(
    out_dir: str,
    seed: int,
    sf: float,
    n_docs: int,
    n_vecs: int,
    near_dup_copies: int = 0,
) -> dict[str, int]:
    """Write the ten tables under ``out_dir``; return rows per table."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_ev = max(1_000, int(1_000_000 * sf))
    n_users = max(15, n_ev // 67)

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS}
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
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": [
                f"{_ADJ[a]} {_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": [_PTYPES[i] for i in rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
        }
    )
    order_days = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
            "o_orderstatus": [_STATUS[i] for i in rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000, 500_000, n_ord),
            "o_orderdate": _ts_days(order_days),
            "o_orderpriority": [_PRIORITY[i] for i in rng.integers(0, 5, n_ord)],
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105_000, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": [["A", "N", "R"][i] for i in rng.integers(0, 3, n_line)],
            "l_linestatus": [["F", "O"][i] for i in rng.integers(0, 2, n_line)],
            "l_shipdate": _ts_days(rng.integers(1, 2500, n_line)),
        }
    )
    ev_ns = np.sort(rng.integers(0, 30 * _DAY_S * 10**9, n_ev)) + _EPOCH_2024 * 10**9
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
            "ts": pa.array(ev_ns, type=pa.timestamp("ns")),
            "user_id": pa.array(rng.integers(0, n_users, n_ev)),
            "event_type": [_EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
            "value": _money(rng, 0, 200, n_ev),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    t["documents"] = _documents(rng, n_docs, near_dup_copies)
    emb = rng.normal(0.0, 0.12, (n_vecs, 64)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
            "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_vecs).astype(np.int32)),
        }
    )
    for name, table in t.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: table.num_rows for name, table in t.items()}
