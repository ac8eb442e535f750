"""Signed-zero emitter audit (r10).

The engines do not agree on the SIGN of a rounds-to-zero result
(CORRECTNESS_r09 q_text_pmi; q_vec_centroid at sf0.001), so any query
that can emit ``-0.0`` from either engine is a latent driver-hash
failure even while the fixed corpus happens to agree. This tool runs
every oracled query on one or more sf dirs and flags a query when ANY
float in EITHER engine's output is bitwise ``-0.0`` — the actionable
signal to add :func:`pipetree_spark.exact.pin_zero` (+ ``+ 0.0`` in the
oracle) at that round edge, which is pairwise-safe (IEEE identity for
every value except the drifting bit).

Usage:
    python tools/negzero_audit.py [--sf DIR ...] [names ...]
Exit 0 iff no emitter found.
"""

from __future__ import annotations

import argparse
import math
import sys
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pipetree_spark.catalog import TABLES, table_path  # noqa: E402
from pipetree_spark.ops.relational import checkpoint_scope  # noqa: E402
from pipetree_spark.queries import load_registry  # noqa: E402
from pipetree_spark.session import get_spark  # noqa: E402


def _neg_zero_cols(cols, rows) -> set[str]:
    hit = set()
    for row in rows:
        for name, v in zip(cols, row):
            if isinstance(v, float) and v == 0.0 and math.copysign(1.0, v) < 0:
                hit.add(name)
            elif isinstance(v, (list, tuple)) and any(
                isinstance(x, float) and x == 0.0 and math.copysign(1.0, x) < 0
                for x in v
            ):
                hit.add(name)
    return hit


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument(
        "--sf",
        action="append",
        default=None,
        help="sf dirs to scan (default: sf0.001 AND sf0.01)",
    )
    args = ap.parse_args()
    sf_dirs = args.sf or ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]

    registry = load_registry()
    names = args.names or sorted(n for n, q in registry.items() if q.oracle)
    spark = get_spark("negzero-audit")

    emitters: dict[str, list[str]] = {}
    for sf in sf_dirs:
        con = duckdb.connect()
        for t in TABLES:
            # fuzz datasets are Spark-written DIRECTORIES (t.parquet/part-*);
            # the fixed testdata dirs are single files — glob the former
            p = Path(table_path(sf, t))
            src = f"{p}/*.parquet" if p.is_dir() else str(p)
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
        for name in names:
            q = registry[name]
            notes = []
            try:
                with checkpoint_scope(spark):
                    sdf = q.fn(spark, sf)
                    s_hit = _neg_zero_cols(sdf.columns, [tuple(r) for r in sdf.collect()])
                if s_hit:
                    notes.append(f"spark:{sorted(s_hit)}")
            except Exception as exc:  # noqa: BLE001
                notes.append(f"spark-error:{type(exc).__name__}")
            if q.oracle:
                try:
                    cur = con.execute(q.oracle)
                    cols = [d[0] for d in cur.description]
                    o_hit = _neg_zero_cols(cols, cur.fetchall())
                    if o_hit:
                        notes.append(f"oracle:{sorted(o_hit)}")
                except Exception as exc:  # noqa: BLE001
                    notes.append(f"oracle-error:{type(exc).__name__}")
            if notes:
                emitters.setdefault(name, []).append(f"{sf.rsplit('/', 1)[-1]} {';'.join(notes)}")
                print(f"HIT   {name:28s} {emitters[name][-1]}")
        con.close()

    print(f"\n{len(emitters)} emitter(s) across {len(sf_dirs)} sf dir(s) / {len(names)} queries")
    if emitters:
        print("flagged:", " ".join(sorted(emitters)))
        sys.exit(1)


if __name__ == "__main__":
    main()
