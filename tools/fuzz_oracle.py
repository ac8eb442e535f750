"""Whole-inventory ORACLE REPLAY on random datasets (r7).

Generates a complete random testdata set (all 10 tables, schema- and
domain-faithful to FIXTURES.md but with seeded-random contents), then
runs EVERY declared (query fn, oracle SQL) pair against DuckDB over the
identical parquet files — the driver's correctness gate replayed on
data the queries have never seen. tests/test_fuzz_oracle.py is the
fast per-family hypothesis slice of this idea; this tool is the full
sweep, run per-round like check_parity.

Usage:
    python tools/fuzz_oracle.py [--seeds 2] [--only name ...]
Exit 0 iff every oracled query matches on every seed.
"""

from __future__ import annotations

import argparse
import datetime as dt
import sys
import tempfile
import time
from pathlib import Path

import duckdb
import numpy as np

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
sys.path.insert(0, str(Path(__file__).resolve().parent))

from check_parity import check_query  # noqa: E402

from pipetree_spark.catalog import TABLES  # noqa: E402
from pipetree_spark.queries import load_registry  # noqa: E402
from pipetree_spark.session import get_spark  # noqa: E402

WORDS = [
    "join", "filter", "window", "shuffle", "spark", "query", "table",
    "column", "batch", "stream", "alpha", "beta", "gamma", "delta",
]
P_TYPES = ["ECONOMY BURNISHED COPPER", "LARGE PLATED STEEL", "PROMO ANODIZED TIN",
           "SMALL POLISHED NICKEL", "STANDARD BRUSHED BRASS", "MEDIUM PLATED COPPER"]


def _money(rng, n, lo=1.0, hi=100_000.0):
    return np.round(rng.uniform(lo, hi, n), 2)


def _dates(rng, n, start, end):
    s = dt.datetime.fromisoformat(start).timestamp()
    e = dt.datetime.fromisoformat(end).timestamp()
    days = rng.randint(0, int((e - s) // 86400) + 1, n)
    return [dt.datetime.fromisoformat(start) + dt.timedelta(days=int(d)) for d in days]


def generate(spark, out: str, seed: int) -> None:
    """Write a full random dataset (domain-faithful, FK-closed) to
    ``out``. Sizes are small — the point is adversarial VALUES, not
    volume (scale_stress covers volume)."""
    rng = np.random.RandomState(seed)
    n_cust, n_supp, n_part, n_ord, n_li, n_ev, n_doc, n_vec = (
        60, 10, 20, 150, 400, 200, 40, 30,
    )

    def w(rows, schema, name):
        spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(
            f"{out}/{name}.parquet"
        )

    w(
        [(i, n) for i, n in enumerate(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])],
        "r_regionkey int, r_name string",
        "region",
    )
    w(
        [(i, f"NATION_{i}", int(rng.randint(0, 5))) for i in range(25)],
        "n_nationkey int, n_name string, n_regionkey int",
        "nation",
    )
    w(
        [
            (i, f"Customer {i}", int(rng.randint(0, 25)), float(m),
             str(rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])))
            for i, m in enumerate(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2))
        ],
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double, c_mktsegment string",
        "customer",
    )
    w(
        [
            (i, f"Supplier {i}", int(rng.randint(0, 25)), float(m))
            for i, m in enumerate(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2))
        ],
        "s_suppkey long, s_name string, s_nationkey int, s_acctbal double",
        "supplier",
    )
    w(
        [
            (i, f"part {rng.choice(WORDS)} {i}", f"Brand#{rng.randint(1, 6)}",
             str(rng.choice(P_TYPES)), int(rng.randint(1, 51)), float(m))
            for i, m in enumerate(_money(rng, n_part, 900, 2000))
        ],
        "p_partkey long, p_name string, p_brand string, p_type string, p_size int, p_retailprice double",
        "part",
    )
    odates = _dates(rng, n_ord, "1995-01-01", "2001-08-01")
    w(
        [
            (i, int(rng.randint(0, n_cust)), str(rng.choice(["F", "O", "P"])),
             float(m), odates[i],
             str(rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])))
            for i, m in enumerate(_money(rng, n_ord))
        ],
        "o_orderkey long, o_custkey long, o_orderstatus string, o_totalprice double, "
        "o_orderdate timestamp_ntz, o_orderpriority string",
        "orders",
    )
    sdates = _dates(rng, n_li, "1995-01-02", "2001-11-04")
    w(
        [
            (int(rng.randint(0, n_ord)), int(rng.randint(0, n_part)),
             int(rng.randint(0, n_supp)), int(rng.randint(1, 8)),
             float(rng.randint(1, 51)), float(ep),
             round(int(rng.randint(0, 11)) / 100.0, 2), round(int(rng.randint(0, 9)) / 100.0, 2),
             str(rng.choice(["A", "N", "R"])), str(rng.choice(["F", "O"])), sdates[i])
            for i, ep in enumerate(_money(rng, n_li, 1000, 100_000))
        ],
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, l_quantity double, "
        "l_extendedprice double, l_discount double, l_tax double, l_returnflag string, "
        "l_linestatus string, l_shipdate timestamp_ntz",
        "lineitem",
    )
    ebase = dt.datetime(2024, 1, 1)
    w(
        [
            (i, ebase + dt.timedelta(seconds=int(rng.randint(0, 29 * 86400))),
             int(rng.randint(0, n_cust)),
             str(rng.choice(["click", "error", "purchase", "signup", "view"])),
             float(v), '{"k": %d}' % rng.randint(0, 100))
            for i, v in enumerate(_money(rng, n_ev, 0, 1000))
        ],
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
        "events",
    )
    texts = [
        " ".join(rng.choice(WORDS, rng.randint(0, 40)))
        for _ in range(n_doc - 4)
    ]
    texts += [texts[0], "  " + texts[0].upper() + " ", "", texts[1]]  # planted dups + empty
    w(
        [
            (i, t, str(rng.choice(["de", "en", "es", "fr", "zh"])),
             f"src{rng.randint(0, 6)}", len(t))
            for i, t in enumerate(texts)
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
        "documents",
    )
    vecs = np.float32(rng.uniform(-1, 1, (n_vec, 64)))
    vecs[n_vec - 1] = vecs[0]          # byte-identical pair
    vecs[n_vec - 2] = np.float32(0.0)  # zero vector
    # Adversarial signed-zero emitters (r10 verdict: the corpus-based
    # -0.0 sweep missed q_vec_norm because uniform draws almost never
    # land a component sum in (-5e-5, 0)). Plant vectors whose sums,
    # means, and pairwise cosines round to zero FROM BELOW so any
    # unpinned round() edge over vector math diverges on every seed:
    # tiny all-negative atoms, exact-cancelling pairs with a -1e-5
    # residue, and a near-orthogonal pair (cosine ~ -2e-6).
    if n_vec >= 8:
        vecs[n_vec - 3] = np.float32(-1e-5)              # sum = -6.4e-4 → rounds to -0.0 at 2dp..3dp
        tiny = np.zeros(64, np.float32)
        tiny[0::2], tiny[1::2] = np.float32(0.5), np.float32(-0.5)
        tiny[0] = np.float32(0.5 - 4.9e-5)               # cancels to ~-4.9e-5
        vecs[n_vec - 4] = tiny
        orth = np.zeros(64, np.float32)
        orth[0], orth[1] = np.float32(1.0), np.float32(-2e-6)
        vecs[n_vec - 5] = orth
        orth2 = np.zeros(64, np.float32)
        orth2[1], orth2[0] = np.float32(1.0), np.float32(1e-6)
        vecs[n_vec - 6] = orth2                          # cos(orth, orth2) ≈ -1e-6 → rounds to -0.0
    w(
        [(i, [float(x) for x in v], int(rng.randint(0, 10))) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>, label int",
        "embeddings",
    )


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=int, default=2)
    ap.add_argument("--seed-base", type=int, default=0, help="first seed (run fresh seeds each round)")
    ap.add_argument("--only", nargs="*", default=None)
    args = ap.parse_args()

    spark = get_spark("fuzz-oracle")
    registry = load_registry()
    names = args.only or list(registry)
    failures: list[tuple[int, str, str]] = []
    for seed in range(args.seed_base, args.seed_base + args.seeds):
        out = tempfile.mkdtemp(prefix=f"pipetree_fuzz_s{seed}_")
        print(f"seed {seed}: generating random dataset at {out}", flush=True)
        generate(spark, out, seed)
        con = duckdb.connect()
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{out}/{t}.parquet/*.parquet')"
            )
        n_pass = n_rows_only = 0
        for name in names:
            t0 = time.perf_counter()
            problems, rows_only = check_query(spark, con, registry[name], out)
            if problems:
                failures.append((seed, name, str(problems[:2])))
                print(f"  FAIL  {name}: {problems[:2]}", flush=True)
            elif rows_only:
                n_rows_only += 1
            else:
                n_pass += 1
                secs = time.perf_counter() - t0
                if secs > 15:
                    print(f"  slow  {name}: {secs:.1f}s", flush=True)
        print(
            f"seed {seed}: {n_pass} pass, {n_rows_only} rows-only, "
            f"{sum(1 for s, _, _ in failures if s == seed)} failures",
            flush=True,
        )
    if failures:
        print(f"\n{len(failures)} failures total")
        for s, n, p in failures:
            print(f"  seed {s} {n}: {p[:300]}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
