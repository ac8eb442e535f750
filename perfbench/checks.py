"""Output checks for the benchmark (untimed).

- :class:`Oracle` runs a declared query's DuckDB oracle over the same
  parquet files; :func:`diff` compares order-insensitively with exact
  value equality, signed zeros included (the parity rule the package's
  declared queries are certified under).
- :func:`predict_statuses` derives, from a spec alone, the status
  ``Pipeline.run(targets=...)`` must report for every stage when a given
  set of stages changed definition, so a rerun's hit/recompute split is
  checked against the skip-if-cached rule rather than against itself.
"""

from __future__ import annotations

import datetime as dt
import math

import duckdb

from pipetree_spark.catalog import TABLES, table_path


def canon(columns: list[str], rows: list[tuple]) -> tuple[list[str], list[tuple]]:
    """Columns sorted by name, rows sorted, values made comparable."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    data = [tuple(_canon_val(r[i]) for i in order) for r in rows]
    data.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return [columns[i] for i in order], data


def _canon_val(v):
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, (list, tuple)):
        return tuple(_canon_val(x) for x in v)
    if hasattr(v, "tolist"):
        return _canon_val(v.tolist())
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ")
    if isinstance(v, dt.date):
        return v.isoformat()
    return v


def _same(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, (float, int)):
        if isinstance(b, float) and math.isnan(a) and math.isnan(b):
            return True
        if a == 0.0 and b == 0.0:
            return math.copysign(1.0, a) == math.copysign(1.0, float(b))
        return a == b
    if isinstance(a, tuple) and isinstance(b, tuple) and len(a) == len(b):
        return all(_same(x, y) for x, y in zip(a, b))
    return a == b


def diff(got: tuple[list[str], list[tuple]], want: tuple[list[str], list[tuple]]) -> str | None:
    """None when two canonical results are equal, else the first difference."""
    (gc, gr), (wc, wr) = got, want
    if gc != wc:
        return f"columns {gc} != {wc}"
    if len(gr) != len(wr):
        return f"{len(gr)} rows != {len(wr)}"
    for i, (g, w) in enumerate(zip(gr, wr)):
        if not _same(g, w):
            return f"row {i}: {g} != {w}"
    return None


class Oracle:
    """DuckDB over the generated tables, one view per catalog table."""

    def __init__(self, data_dir: str):
        self.con = duckdb.connect()
        for t in TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(data_dir, t)}')"
            )

    def problems(self, sql: str, got: tuple[list[str], list[tuple]]) -> str | None:
        cur = self.con.execute(sql)
        want = canon([d[0] for d in cur.description], cur.fetchall())
        return diff(got, want)

    def close(self) -> None:
        self.con.close()


def predict_statuses(spec: dict, targets: list[str], changed: set[str]) -> dict[str, str]:
    """Statuses a targeted run must report when every materialized stage
    outside the downstream closure of ``changed`` is already stored.

    A stage is ``hit`` when it is stored and some live consumer reads it,
    ``skipped`` when no live consumer needs it, and otherwise
    ``materialized`` (stored stages) or ``computed`` (flow-through)."""
    stages = spec["stages"]
    inputs = {n: list(s.get("inputs", [])) for n, s in stages.items()}
    needed: set[str] = set()
    stack = list(targets)
    while stack:
        n = stack.pop()
        if n not in needed:
            needed.add(n)
            stack.extend(inputs[n])
    dirty = set(changed)
    grew = True
    while grew:
        new = {n for n in needed if n not in dirty and any(i in dirty for i in inputs[n])}
        dirty |= new
        grew = bool(new)
    stored = {n for n in needed if stages[n].get("materialize") and n not in dirty}
    live: set[str] = set()
    stack = list(targets)
    while stack:
        n = stack.pop()
        if n not in live:
            live.add(n)
            if n not in stored:
                stack.extend(inputs[n])
    out = {}
    for n in needed:
        if n not in live:
            out[n] = "skipped"
        elif n in stored:
            out[n] = "hit"
        else:
            out[n] = "materialized" if stages[n].get("materialize") else "computed"
    return out
