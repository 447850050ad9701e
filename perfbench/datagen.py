"""Seeded generator for the ten corpus tables the engine's queries read.

The tables have the schemas, key ranges and value distributions of the
engine's reference corpus (TPC-H-ish star schema, an `events` stream, a
`documents` text table with 5% near-duplicates and an `embeddings`
table of unit vectors), one parquet file with one row group each.  The
same (sf, seed) always yields byte-identical files, so oracle digests
computed once stay valid.  `stream_batches` writes the seeded input
files of the streaming ingest.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "new"]
_PART_NOUN = ["ring", "bolt", "plate", "gear", "nut", "screw", "spring", "pipe"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_EMBED_DIM = 64


def _days(rng, n, start, end):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * 86_400_000_000).astype("datetime64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_ev = int(10_000_000 * sf)
    n_users = int(15_000 * sf)
    n_docs = max(500, int(50_000 * sf))
    n_vecs = max(500, int(20_000 * sf))
    i32, i64 = pa.int32(), pa.int64()

    out = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(range(5), i32),
                "r_name": _REGIONS,
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), i32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust), i64),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
                "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
                "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp), i64),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
                "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part), i64),
                "p_name": [
                    f"{a} {b}"
                    for a, b in zip(
                        rng.choice(_PART_ADJ, n_part), rng.choice(_PART_NOUN, n_part)
                    )
                ],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                "p_type": rng.choice(_PART_TYPES, n_part),
                "p_size": pa.array(rng.integers(1, 51, n_part), i32),
                "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_ord), i64),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
                "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
                "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
                "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
                "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
                "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
                "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
                "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
                "l_extendedprice": _money(rng, n_line, 900.0, 105_000.0),
                "l_discount": rng.integers(0, 11, n_line) / 100.0,
                "l_tax": rng.integers(0, 9, n_line) / 100.0,
                "l_returnflag": rng.choice(["A", "N", "R"], n_line),
                "l_linestatus": rng.choice(["F", "O"], n_line),
                "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04"),
            }
        ),
    }

    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span_us = 30 * 86_400_000_000
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), i64),
            "ts": np.sort(t0 + rng.integers(0, span_us, n_ev)).astype("datetime64[us]"),
            "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
            "event_type": rng.choice(_EVENT_TYPES, n_ev),
            "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )

    texts: list[str] = []
    for i in range(n_docs):
        if i >= 20 and rng.random() < 0.05:
            # near-duplicate: an earlier document plus one marker token
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n_words = int(rng.integers(10, 101))
            texts.append(" ".join(rng.choice(_VOCAB, n_words)))
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), i64),
            "text": texts,
            "lang": rng.choice(_LANGS, n_docs, p=_LANG_P),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], i64),
        }
    )

    labels = rng.integers(0, 10, n_vecs)
    centers = rng.normal(size=(10, _EMBED_DIM))
    vecs = rng.normal(size=(n_vecs, _EMBED_DIM)) + 0.15 * centers[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs), i64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, i32),
        }
    )
    return out


def stream_batches(
    in_dir: str, seed: int, corpus_texts: list[str], n_batches: int, batch_rows: int
) -> list[list[tuple[int, str]]]:
    """Writes `n_batches` parquet files of (doc_id, text) into `in_dir`
    for the streaming ingest and returns their rows in arrival order.
    A third of the rows repeat an earlier text (from the corpus, an
    earlier batch or the same batch) with one token changed or one
    appended; the rest are fresh texts over the corpus vocabulary.
    Modification times are set one apart, in batch order, because the
    file source hands files out oldest first."""
    rng = np.random.default_rng([seed, 7])
    pool = list(corpus_texts)
    next_id = 1_000_000
    batches = []
    os.makedirs(in_dir, exist_ok=True)
    for b in range(n_batches):
        rows = []
        for _ in range(batch_rows):
            if rng.random() < 1 / 3:
                toks = pool[int(rng.integers(0, len(pool)))].split(" ")
                if rng.random() < 0.5:
                    toks[int(rng.integers(0, len(toks)))] = str(rng.choice(_VOCAB))
                else:
                    toks.append("dup")
                text = " ".join(toks)
            else:
                text = " ".join(rng.choice(_VOCAB, int(rng.integers(10, 101))))
            pool.append(text)
            rows.append((next_id, text))
            next_id += 1
        path = os.path.join(in_dir, f"batch{b:03d}.parquet")
        pq.write_table(
            pa.table({"doc_id": pa.array([r[0] for r in rows], pa.int64()), "text": [r[1] for r in rows]}),
            path,
        )
        os.utime(path, (1_600_000_000 + b, 1_600_000_000 + b))
        batches.append(rows)
    return batches


def ensure_corpus(root: str, sf: float, seed: int) -> tuple[str, str]:
    """Writes the corpus under `root` unless already there; returns
    (directory, content digest).  The digest is the sha256 of every
    table file and keys the oracle-digest cache."""
    sf_dir = os.path.join(root, f"sf{sf}-seed{seed}")
    manifest = os.path.join(sf_dir, "MANIFEST.json")
    if os.path.exists(manifest):
        with open(manifest) as f:
            return sf_dir, json.load(f)["digest"]
    tmp = sf_dir + f".tmp{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)
    h = hashlib.sha256()
    for name, table in _tables(sf, seed).items():
        path = os.path.join(tmp, f"{name}.parquet")
        pq.write_table(table, path, row_group_size=table.num_rows or 1)
        with open(path, "rb") as f:
            h.update(name.encode() + f.read())
    digest = h.hexdigest()
    with open(os.path.join(tmp, "MANIFEST.json"), "w") as f:
        json.dump({"sf": sf, "seed": seed, "digest": digest}, f)
    os.rename(tmp, sf_dir)
    return sf_dir, digest
