"""Benchmark inputs: the ten testdata tables at a given scale factor.

The tables have the schema and distributions of the engine's testdata
(TPC-H-shaped star schema, an `events` stream, a `documents` corpus with ~5%
near-duplicates and unit-norm `embeddings` in 10 weak clusters). The
generator lives with the benchmark so that every revision of the engine is
measured on byte-identical inputs. Generation is deterministic (fixed RNG
seed) and takes about 2 s at sf0.1; `ensure()` caches the result under the
benchmark's work directory, keyed on this file's content and the scale.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJS = ["large", "hot", "blue", "old", "small", "red", "new", "cold", "green", "dark"]
NOUNS = ["ring", "bolt", "plate", "screw", "wheel", "pipe", "cap", "rod", "gear", "pin"]
ETYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS, LANG_P = ["en", "de", "es", "fr", "zh"], [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
DAY_US = 86_400_000_000


def _ts_us(day: str) -> int:
    return int(np.datetime64(day, "us").astype(np.int64))


def _pick(rng, values, n):
    return pa.array(np.array(values)[rng.randint(0, len(values), n)])


def tables(sf: float) -> dict[str, pa.Table]:
    rng = np.random.RandomState(42)
    ts = pa.timestamp("us")
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users, n_doc, n_emb = int(15_000 * sf), max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    out = {
        "region": pa.table({"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.randint(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": np.round(rng.uniform(-1000, 10000, n_cust), 2),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.randint(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": np.round(rng.uniform(0, 10000, n_supp), 2),
        }),
    }
    pk = np.arange(n_part, dtype=np.int64)
    out["part"] = pa.table({
        "p_partkey": pa.array(pk),
        "p_name": [f"{ADJS[rng.randint(10)]} {NOUNS[rng.randint(10)]}" for _ in range(n_part)],
        "p_brand": pa.array([f"Brand#{b}" for b in rng.randint(0, 25, n_part)]),
        "p_type": _pick(rng, PTYPES, n_part),
        "p_size": pa.array(rng.randint(1, 51, n_part).astype(np.int32)),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
    })
    lo, hi = _ts_us("1995-01-01"), _ts_us("2001-08-01")
    n_days = (hi - lo) // DAY_US + 1
    odays = rng.randint(0, n_days, n_ord).astype(np.int64)
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.randint(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": pa.array(lo + odays * DAY_US, ts),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    sdays = (rng.randint(0, n_days, n_li) + rng.randint(1, 96, n_li)).astype(np.int64)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.randint(0, n_ord, n_li).astype(np.int64)),
        "l_partkey": pa.array(rng.randint(0, n_part, n_li).astype(np.int64)),
        "l_suppkey": pa.array(rng.randint(0, n_supp, n_li).astype(np.int64)),
        "l_linenumber": pa.array(rng.randint(1, 8, n_li).astype(np.int32)),
        "l_quantity": rng.randint(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n_li), 2),
        "l_discount": np.round(rng.randint(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.randint(0, 9, n_li) / 100.0, 2),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": pa.array(lo + sdays * DAY_US, ts),
    })
    ev_lo, ev_hi = _ts_us("2024-01-01"), _ts_us("2024-01-31")
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(np.sort(rng.randint(ev_lo, ev_hi, n_ev).astype(np.int64)), ts),
        "user_id": pa.array(rng.randint(0, n_users, n_ev).astype(np.int64)),
        "event_type": _pick(rng, ETYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.randint(0, 100, n_ev)]),
    })
    vocab, texts = np.array(VOCAB), []
    for i in range(n_doc):
        if i > 0 and rng.rand() < 0.05:  # near-duplicate of an earlier doc
            words = texts[rng.randint(0, i)].split()
            if len(words) > 1:
                words[rng.randint(0, len(words))] = "dup"
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(vocab[rng.randint(0, len(vocab), rng.randint(10, 101))]))
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": texts,
        "lang": pa.array(np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in rng.randint(0, 10_000, n_doc)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    centers = rng.normal(0, 0.01, (10, 64))
    labels = rng.randint(0, 10, n_emb)
    vecs = centers[labels] + rng.normal(0, 0.125, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })
    return out


def ensure(sf: float, work_dir: str) -> str:
    """Return a directory holding `<table>.parquet` for every table at `sf`,
    generating it on first use. The directory is filled in a sibling temp
    dir and renamed into place, so an interrupted run never leaves a partial
    data set behind."""
    with open(__file__, "rb") as f:
        key = hashlib.sha256(f.read() + repr(sf).encode()).hexdigest()[:12]
    final = os.path.join(work_dir, f"data-sf{sf}-{key}")
    if os.path.isdir(final):
        return final
    os.makedirs(work_dir, exist_ok=True)
    tmp = tempfile.mkdtemp(dir=work_dir, prefix="data-tmp-")
    try:
        for name, tbl in tables(sf).items():
            pq.write_table(tbl, os.path.join(tmp, f"{name}.parquet"), row_group_size=262_144)
        os.rename(tmp, final)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return final
