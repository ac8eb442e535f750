"""Seeded input generator for the benchmark.

Writes the ten catalog tables (``pipetree_spark.catalog.TABLES``) as one
parquet file each, ``<out>/<table>.parquet``, with the schemas the
catalog pins. The same (seed, scale) always gives the same bytes of
content, so every workload and every oracle sees identical inputs.

The corpus is built so the curation funnel never collapses and every
gate has work to do:

- documents are word salad over a 4096-word Zipf vocabulary, so
  cross-document line collisions are rare and line dedup strips only the
  planted residue-class headers;
- near-duplicates drop their first word and swap one token. The drop
  shifts the spec's 5-word line split, so no line is shared with the
  original and line dedup keeps both, while shingle Jaccard stays far
  above the 0.5 LSH threshold;
- exact duplicates are upper-cased copies. Line dedup compares raw
  lines and keeps them; exact dedup lower-cases and drops them;
- repetitive documents alternate two words and fail the repetition gate;
- embeddings are Gaussian clusters plus sigma-jittered copies, and the
  fact tables are a foreign-key-closed star schema.
"""

from __future__ import annotations

import os
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Share of documents planted as near-duplicates, upper-cased exact
#: duplicates and two-word repetitive texts.
NEAR_SHARE, EXACT_SHARE, REP_SHARE = 0.10, 0.03, 0.03
VOCAB = 4096
DIM = 64


def sizes(scale: float) -> dict[str, int]:
    """Row counts at ``scale``; scale 1.0 is 4,000 documents and 40,000
    orders (about 160,000 line items)."""
    n_ord = max(int(40_000 * scale), 300)
    return {
        "orders": n_ord,
        "customer": max(n_ord // 10, 30),
        "supplier": max(n_ord // 150, 10),
        "part": max(n_ord * 2 // 15, 20),
        "events": 2_000,
        "documents": max(int(4_000 * scale), 200),
        "embeddings": max(int(3_000 * scale), 200),
    }


def _vocab(rng: np.random.Generator) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: set[str] = set()
    while len(words) < VOCAB:
        n = int(rng.integers(3, 9))
        words.add("".join(rng.choice(letters, n)))
    # keep the blocklist terms out of the ordinary vocabulary: only the
    # spec's planted tail may trip the blocklist gate
    words -= {"casino", "jackpot", "free", "spins"}
    return sorted(words)


def _documents(rng: np.random.Generator, n_doc: int) -> pa.Table:
    vocab = np.array(_vocab(rng))
    p = 1.0 / (np.arange(len(vocab)) + 10.0)
    p /= p.sum()
    n_near = int(n_doc * NEAR_SHARE)
    n_exact = int(n_doc * EXACT_SHARE)
    n_rep = int(n_doc * REP_SHARE)
    n_base = n_doc - n_near - n_exact - n_rep
    base = [
        " ".join(rng.choice(vocab, int(rng.integers(24, 97)), p=p))
        for _ in range(n_base)
    ]
    texts = list(base)
    for src in rng.integers(0, n_base, n_near):
        w = base[src].split(" ")[1:]
        w[int(rng.integers(0, len(w)))] = str(rng.choice(vocab))
        texts.append(" ".join(w))
    texts += [base[src].upper() for src in rng.integers(0, n_base, n_exact)]
    for _ in range(n_rep):
        a, b = rng.choice(vocab, 2, replace=False)
        texts.append(" ".join([a, b] * int(rng.integers(12, 40))))
    texts = [texts[i] for i in rng.permutation(len(texts))]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n_doc), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(["de", "en", "es", "fr", "zh"], n_doc), pa.string()),
            "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n_doc)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n_vec: int) -> pa.Table:
    n_jit = n_vec // 10
    n_base = n_vec - n_jit
    centers = rng.uniform(-1.0, 1.0, (16, DIM))
    cid = rng.integers(0, 16, n_base)
    base = centers[cid] + rng.normal(0.0, 0.25, (n_base, DIM))
    src = rng.integers(0, n_base, n_jit)
    jit = base[src] + rng.normal(0.0, 0.01, (n_jit, DIM))
    vecs = np.vstack([base, jit]).astype(np.float32)
    labels = np.concatenate([cid, cid[src]]) % 10
    order = rng.permutation(n_vec)
    vecs, labels = vecs[order], labels[order]
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n_vec), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, n: int, start: str, end: str) -> np.ndarray:
    s = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - s).astype(int))
    return (s + rng.integers(0, span + 1, n)).astype("datetime64[ms]")


def _star(rng: np.random.Generator, n: dict[str, int]) -> dict[str, pa.Table]:
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    n_cust, n_supp, n_part, n_ord = n["customer"], n["supplier"], n["part"], n["orders"]
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5), i32),
            "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"], s),
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25), i32),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
            "n_regionkey": pa.array(np.arange(25) % 5, i32),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), i64),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], s),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": pa.array(_money(rng, n_cust, -999.99, 9999.99), f64),
            "c_mktsegment": pa.array(
                rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust), s
            ),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), i64),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], s),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": pa.array(_money(rng, n_supp, -999.99, 9999.99), f64),
        }
    )
    kinds = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
    finish = ["ANODIZED", "BRUSHED", "BURNISHED", "PLATED", "POLISHED"]
    metal = ["BRASS", "COPPER", "NICKEL", "STEEL", "TIN"]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), i64),
            "p_name": pa.array([f"part {i}" for i in range(n_part)], s),
            "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 6, n_part)], s),
            "p_type": pa.array(
                [
                    f"{a} {b} {c}"
                    for a, b, c in zip(
                        rng.choice(kinds, n_part), rng.choice(finish, n_part), rng.choice(metal, n_part)
                    )
                ],
                s,
            ),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": pa.array(_money(rng, n_part, 900.0, 2000.0), f64),
        }
    )
    # ~9% of customers place no orders, so anti/semi joins stay non-trivial
    odate = _days(rng, n_ord, "1995-01-01", "2001-08-01")
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), i64),
            "o_custkey": pa.array(rng.integers(0, max(int(n_cust * 0.91), 1), n_ord), i64),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord), s),
            "o_totalprice": pa.array(_money(rng, n_ord, 1000.0, 400_000.0), f64),
            "o_orderdate": pa.array(odate, pa.timestamp("ms")),
            "o_orderpriority": pa.array(
                rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord), s
            ),
        }
    )
    per_order = rng.integers(1, 8, n_ord)
    l_order = np.repeat(np.arange(n_ord), per_order)
    n_li = len(l_order)
    l_line = np.concatenate([np.arange(1, k + 1) for k in per_order])
    ship = np.repeat(odate, per_order) + rng.integers(1, 122, n_li).astype("timedelta64[D]")
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(l_order, i64),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
            "l_linenumber": pa.array(l_line, i32),
            "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64), f64),
            "l_extendedprice": pa.array(_money(rng, n_li, 900.0, 100_000.0), f64),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0, f64),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0, f64),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li), s),
            "l_linestatus": pa.array(rng.choice(["F", "O"], n_li), s),
            "l_shipdate": pa.array(ship.astype("datetime64[ms]"), pa.timestamp("ms")),
        }
    )
    n_ev = n["events"]
    ev_ts = np.datetime64("2024-01-01", "ns") + rng.integers(0, 29 * 86400, n_ev).astype("timedelta64[s]")
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), i64),
            "ts": pa.array(ev_ts.astype("datetime64[ns]"), pa.timestamp("ns")),
            "user_id": pa.array(rng.integers(0, n_cust, n_ev), i64),
            "event_type": pa.array(rng.choice(["click", "error", "purchase", "signup", "view"], n_ev), s),
            "value": pa.array(_money(rng, n_ev, 0.0, 1000.0), f64),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], s),
        }
    )
    return t


def generate(out: str, seed: int, scale: float) -> dict[str, dict[str, int]]:
    """Write every table under ``out`` (skipped when a previous call with
    the same directory finished) and return ``{table: {rows, bytes}}``."""
    root = Path(out)
    done = root / "_DONE"
    if not done.exists():
        root.mkdir(parents=True, exist_ok=True)
        rng = np.random.default_rng(seed)
        n = sizes(scale)
        tables = _star(rng, n)
        tables["documents"] = _documents(rng, n["documents"])
        tables["embeddings"] = _embeddings(rng, n["embeddings"])
        for name, table in tables.items():
            tmp = root / f".{name}.parquet.tmp"
            pq.write_table(table, tmp)
            os.replace(tmp, root / f"{name}.parquet")
        done.write_text(str(seed))
    return {
        p.name[: -len(".parquet")]: {
            "rows": pq.ParquetFile(p).metadata.num_rows,
            "bytes": p.stat().st_size,
        }
        for p in sorted(root.glob("*.parquet"))
    }
