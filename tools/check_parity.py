"""Local clone of the driver's t2 correctness loop (SURVEY §5.3.1).

Runs each declared query in Spark AND its oracle SQL in DuckDB on the
same sf dir, then compares row-count + column names + order-insensitive
values (exact equality; floats must match bit-for-bit, which the
exact-decimal policy in pipetree_spark.exact is designed to guarantee).

Gate rule: a query may only stay declared if it passes here at sf0.01.

Usage:
    python tools/check_parity.py                 # all declared queries
    python tools/check_parity.py q_agg_groupby   # subset
    python tools/check_parity.py --sf /root/testdata/sf0.001 --tol 0
"""

from __future__ import annotations

import argparse
import datetime as dt
import math
import sys
import time
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pipetree_spark.catalog import TABLES, table_path  # noqa: E402
from pipetree_spark.ops.relational import checkpoint_scope  # noqa: E402
from pipetree_spark.queries import load_registry  # noqa: E402
from pipetree_spark.session import get_spark  # noqa: E402


def canon_val(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, (list, tuple)):
        return tuple(canon_val(x) for x in v)
    if hasattr(v, "tolist"):  # numpy scalar/array
        return canon_val(v.tolist())
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, float):
        return v
    # Deliberately do NOT coerce Decimal → float: a Decimal in either
    # result means an oracle (or query) emits a type the other side
    # doesn't — the driver's hash may treat them differently, so the
    # local gate must flag it.
    return v


def canon_result(col_names, rows):
    order = sorted(range(len(col_names)), key=lambda i: col_names[i])
    cols = [col_names[i] for i in order]
    data = [tuple(canon_val(row[i]) for i in order) for row in rows]
    data.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return cols, data


def values_close(a, b, tol):
    if isinstance(a, float) and isinstance(b, (float, int)):
        if math.isnan(a) and isinstance(b, float) and math.isnan(b):
            return True
        if a == 0.0 and b == 0.0 and tol == 0.0:
            # Signed zero: -0.0 == 0.0 under Python ==, but the driver's
            # pandas value-hash is BITWISE and diverges (proven failure:
            # CORRECTNESS_r09 q_text_pmi — DuckDB round(log2(x),2) → -0.0
            # vs Spark → +0.0 on 6 rows). The strict (tol=0) pass must
            # therefore distinguish them; the loose diagnostic pass may
            # still treat them as equal.
            return math.copysign(1.0, a) == math.copysign(1.0, float(b))
        return a == b or abs(a - b) <= tol * max(1.0, abs(a), abs(b))
    if isinstance(a, tuple) and isinstance(b, tuple) and len(a) == len(b):
        return all(values_close(x, y, tol) for x, y in zip(a, b))
    return a == b


def compare(spark_cols, spark_rows, ora_cols, ora_rows, tol=0.0):
    problems = []
    if spark_cols != ora_cols:
        problems.append(f"columns differ: spark={spark_cols} oracle={ora_cols}")
        return problems
    if len(spark_rows) != len(ora_rows):
        problems.append(f"row count differs: spark={len(spark_rows)} oracle={len(ora_rows)}")
        return problems
    n_bad = 0
    for i, (sr, orr) in enumerate(zip(spark_rows, ora_rows)):
        # NOTE: no `sr == orr` fast-path — Python == is signed-zero-blind
        # (-0.0 == 0.0) and would let the exact class of drift this gate
        # exists to catch (bitwise pandas hash divergence) slip through.
        if values_close(sr, orr, tol):
            continue
        n_bad += 1
        if n_bad <= 3:
            problems.append(f"row {i} differs:\n    spark : {sr}\n    oracle: {orr}")
    if n_bad > 3:
        problems.append(f"... {n_bad} differing rows total")
    return problems


def run_oracle(con, sql):
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return cols, cur.fetchall()


_SPARK_INT_TYPES = {"tinyint", "smallint", "int", "bigint"}


def oracle_dtype_problems(spark_fields, spark_rows, ora_df):
    """Driver-hash dtype drift the fetchall() value compare can't see.

    The round driver canonicalizes BOTH sides through pandas before
    hashing, so representation differences that Python-level equality
    hides become hash mismatches there. Proven failure classes
    (CORRECTNESS_r01/r02): DuckDB HUGEINT (e.g. uncast ``count_if``)
    → pandas float64 vs Spark int64 (``2.0`` vs ``2``); Decimal objects
    vs floats; raw bools. This check fetches the oracle via ``.df()``
    — the driver's canonicalization path — and flags exactly those
    classes against the Spark schema. Nullable-int columns that
    actually contain NULLs are exempt from the int-vs-float check
    (pandas legitimately widens them to float64 on both sides).
    """
    problems = []
    name_to_idx = {f.name: i for i, f in enumerate(spark_fields)}
    for f in spark_fields:
        if f.name not in ora_df.columns:
            continue  # column-set mismatch is reported by compare()
        st = f.dataType.simpleString()
        col = ora_df[f.name]
        kind = col.dtype.kind
        i = name_to_idx[f.name]
        has_null = any(r[i] is None for r in spark_rows)
        if st in _SPARK_INT_TYPES and kind == "f" and not has_null:
            problems.append(
                f"col {f.name!r}: spark {st} (no NULLs) but oracle pandas "
                f"dtype {col.dtype} — driver hashes e.g. 2.0 vs 2 "
                f"(uncast count_if / HUGEINT? CAST(... AS BIGINT))"
            )
        elif st in ("float", "double") and kind in ("i", "u"):
            problems.append(
                f"col {f.name!r}: spark {st} but oracle pandas dtype "
                f"{col.dtype} — driver hashes e.g. 2 vs 2.0"
            )
        if kind == "b" or st == "boolean":
            problems.append(
                f"col {f.name!r}: boolean reaches the driver hash "
                f"(spark={st}, oracle dtype={col.dtype}) — cast to INT"
            )
        if kind == "O" and st in _SPARK_INT_TYPES | {"float", "double"}:
            import decimal

            sample = col.dropna()
            if len(sample) and isinstance(sample.iloc[0], decimal.Decimal):
                problems.append(
                    f"col {f.name!r}: oracle emits Decimal objects but "
                    f"spark emits {st} — driver hashes Decimal vs number"
                )
    return problems


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--vanilla", action="store_true",
                    help="use a driver-like plain SparkSession (no engine confs)")
    ap.add_argument("names", nargs="*", help="query names (default: all declared)")
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--tol", type=float, default=0.0, help="relative float tolerance (0 = driver-strict)")
    ap.add_argument("--tag", default=None, help="only queries with this tag")
    args = ap.parse_args()

    registry = load_registry()
    names = args.names or sorted(registry)
    if args.tag:
        names = [n for n in names if args.tag in registry[n].tags]
    unknown = [n for n in names if n not in registry]
    if unknown:
        sys.exit(f"unknown queries: {unknown}")

    if args.vanilla:
        # simulate the round driver: a PLAIN session with none of the
        # engine confs — pipetree_spark must apply what it needs at
        # runtime (catalog loaders own the ns-timestamp conf etc.)
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[8]")
            .appName("parity-check-vanilla")
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .getOrCreate()
        )
    else:
        spark = get_spark("parity-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(args.sf, t)}')")

    n_pass = n_fail = n_rows_only = 0
    failures = []
    for name in names:
        q = registry[name]
        t0 = time.perf_counter()
        try:
            with checkpoint_scope(spark):
                sdf = q.fn(spark, args.sf)
                srows = sdf.collect()
            scols = sdf.columns
        except Exception as exc:  # noqa: BLE001
            n_fail += 1
            failures.append(name)
            print(f"FAIL  {name:24s} spark error: {type(exc).__name__}: {exc}")
            continue
        # Harness-representability round-trip: the round driver
        # canonicalizes the Spark result via toPandas() (Arrow path).
        # Values that collect() handles fine can still blow up there —
        # proven class: TIMESTAMP '9999-12-31' sentinel > Arrow's ns
        # range (CORRECTNESS_r03 q_ts_scd2 ArrowInvalid). Exercise the
        # same Arrow→pandas ns conversion on the ALREADY-collected rows
        # (pa.Table from the Spark schema, then to_pandas) instead of
        # sdf.toPandas(), which would re-execute the whole plan and
        # double the gate's runtime on the expensive queries.
        try:
            import pyarrow as pa
            from pyspark.sql.pandas.types import to_arrow_schema

            tbl = pa.Table.from_pylist(
                [r.asDict(recursive=True) for r in srows],
                schema=to_arrow_schema(sdf.schema),
            )
            # Spark's toPandas passes coerce_temporal_nanoseconds=True
            # (pandas-2 default unit would otherwise stay 'us' and mask
            # the ns-range overflow the driver actually hits).
            tbl.to_pandas(coerce_temporal_nanoseconds=True)
        except Exception as exc:  # noqa: BLE001
            n_fail += 1
            failures.append(name)
            print(f"FAIL  {name:24s} toPandas round-trip: {type(exc).__name__}: {str(exc)[:200]}")
            continue
        if q.oracle is None:
            n_rows_only += 1
            print(f"rows  {name:24s} {len(srows)} rows (no oracle — rows-only) [{time.perf_counter()-t0:.1f}s]")
            continue
        try:
            ocols, orows = run_oracle(con, q.oracle)
        except Exception as exc:  # noqa: BLE001
            n_fail += 1
            failures.append(name)
            print(f"FAIL  {name:24s} oracle error: {type(exc).__name__}: {exc}")
            continue
        sc, sr = canon_result(scols, [tuple(r) for r in srows])
        oc, orr = canon_result(ocols, orows)
        problems = compare(sc, sr, oc, orr, tol=args.tol)
        if not problems:
            # values match — now check the driver's pandas dtype view
            ora_df = con.execute(q.oracle).df()
            problems = oracle_dtype_problems(
                sdf.schema.fields, [tuple(r) for r in srows], ora_df
            )
        dtime = time.perf_counter() - t0
        if problems:
            # diagnose: would it pass with loose tolerance?
            loose = not compare(sc, sr, oc, orr, tol=1e-6)
            n_fail += 1
            failures.append(name)
            tagnote = " [CLOSE: float drift only]" if loose else ""
            print(f"FAIL  {name:24s} ({len(sr)} rows) [{dtime:.1f}s]{tagnote}")
            for p in problems:
                print(f"      {p}")
        else:
            n_pass += 1
            print(f"PASS  {name:24s} ({len(sr)} rows) [{dtime:.1f}s]")

    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only of {len(names)}")
    if failures:
        print("failing:", " ".join(failures))
        sys.exit(1)


if __name__ == "__main__":
    main()
