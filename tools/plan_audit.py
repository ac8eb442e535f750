"""Whole-inventory physical-plan audit (the 100 TB design gate, SURVEY §4.2).

tests/test_plans.py pins plan shapes for ~20 hand-picked queries; this
tool sweeps ALL declared queries, extracts the plan features that decide
scale behavior, and writes PLANS.md:

- shuffle count (Exchange nodes) and join strategy mix (BHJ / SMJ /
  SHJ / BNLJ / CartesianProduct),
- unpartitioned windows (single-reducer funnels — the q_sort_multi r2
  scale-killer class) via the windowspecdefinition argument heuristic,
- parquet pushdown evidence (non-empty PushedFilters),
- build jobs: Spark jobs fired while the query's frame is BUILT (eager
  checkpoints of iterative ops, cache writes), counted by running the
  build in its own job group. The plan of an iterative op reads its
  last checkpoint, so its rounds show here and not in the plan columns.

Queries with a *documented* bounded/unpartitioned window (≤k-row
re-ranks, k-row inits, definitional certification replays) are
whitelisted here with the justification printed in the report, so an
UNDOCUMENTED single-reducer window is a red row — the audit exits 1.

Usage:
    python tools/plan_audit.py            # writes PLANS.md, exits !=0 on red
    python tools/plan_audit.py --no-write # check only
"""

from __future__ import annotations

import argparse
import re
import sys
import uuid
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pipetree_spark.catalog import load_all  # noqa: E402
from pipetree_spark.queries import load_registry  # noqa: E402
from pipetree_spark.session import get_spark  # noqa: E402

#: name → justification for an intentionally unpartitioned window.
#: Every entry must state why the window input is BOUNDED (or the query
#: is a certification replay that never ships as a production plan).
UNPARTITIONED_WINDOW_OK = {
    "q_sort_multi": "window input is the 100-row TakeOrdered result",
    "q_stream_watermark": "definitional arrival-order replay; production path is Structured Streaming (ops/streaming.py)",
    # r10: the six q_vec_* init-frame waivers (row_number over the 8/16-row
    # init frames) are gone — kmeans_portable_fit / pq_fit_portable collect
    # their model state at fit time into local frames (ops.vector._lloyd),
    # whose init ranks the k collected rows on the driver, so no init
    # window appears in any plan.
    "q_agg_quantile_hist": "cumulative sum over the ≤256-bucket histogram (bounded by construction)",
    "q_search_rrf": "rank windows run over ≤100-row TakeOrdered list cuts and the ≤200-row fused frame (ops/retrieval.py topn_ranked/rrf_fuse — bounded by construction)",
    "q_search_rrf3": "rank windows run over ≤100-row TakeOrdered list cuts and the ≤300-row fused frame (ops/retrieval.py topn_ranked/rrf_fuse — bounded by construction)",
    "q_agg_ks_hist": "CDF cumulative sum over the constant 256-row bucket spine (bounded by construction)",
}


def dead_waivers(rows: list[dict]) -> list[str]:
    """Whitelist entries whose query currently has NO unpartitioned
    window in its plan. A dead waiver would silently pre-excuse a
    future single-reducer regression in that query (the r6 verdict's
    finding: four such rows), so the audit fails on them — prune the
    entry when the plan shape improves."""
    live = {r["name"] for r in rows if "error" not in r and r["unpart_windows"] > 0}
    return sorted(set(UNPARTITIONED_WINDOW_OK) - live)


def plan_str(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def n(p: str, node: str) -> int:
    return len(re.findall(rf"\(\d+\) {node}\b", p))


def _top_level_groups(s: str) -> list[str]:
    """Top-level [...] group contents of a formatted Arguments line."""
    depth = 0
    groups: list[str] = []
    buf: list[str] = []
    for ch in s:
        if ch == "[":
            depth += 1
            if depth == 1:
                buf = []
                continue
        elif ch == "]":
            depth -= 1
            if depth == 0:
                groups.append("".join(buf))
                continue
        if depth >= 1:
            buf.append(ch)
    return groups


def unpartitioned_windows(p: str) -> int:
    """A formatted Window node prints ``Arguments: [exprs], [partCols],
    [orderCols]`` when fully specified; with an EMPTY partition spec the
    middle group is dropped — ``[exprs], [orderCols]`` — and with an
    empty order spec the last is — ``[exprs], [partCols]``. The order
    group is recognizable by ASC/DESC markers (verified against
    q_win_rownum / q_stream_watermark / q_ts_locf), so: exactly two
    groups AND the second carries a sort direction ⇒ a single-reducer
    window."""
    lines = p.splitlines()
    count = 0
    for i, line in enumerate(lines):
        if re.match(r"\(\d+\) Window$", line.strip()):
            for j in range(i + 1, min(i + 8, len(lines))):
                if lines[j].startswith("Arguments"):
                    groups = _top_level_groups(lines[j])
                    if len(groups) == 2 and (
                        " ASC" in groups[1] or " DESC" in groups[1]
                    ):
                        count += 1
                    break
    return count


def jobs_fired(spark, body):
    """``body()``'s result and the number of Spark jobs it fired, counted
    by running it in a job group of its own."""
    sc = spark.sparkContext
    group = f"jobs-fired-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = body()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def audit(sf_dir: str) -> list[dict]:
    registry = load_registry()
    spark = get_spark("plan-audit")
    load_all(spark, sf_dir)  # table loads' schema checks are no query's build work
    rows = []
    for name, q in registry.items():
        try:
            df, jobs = jobs_fired(spark, lambda: q.fn(spark, sf_dir))
            p = plan_str(df)
        except Exception as exc:  # noqa: BLE001
            rows.append({"name": name, "error": f"{type(exc).__name__}: {exc}"})
            continue
        rows.append(
            {
                "name": name,
                "build_jobs": jobs,
                "exchanges": n(p, "Exchange"),
                "bhj": n(p, "BroadcastHashJoin"),
                "smj": n(p, "SortMergeJoin"),
                "shj": n(p, "ShuffledHashJoin"),
                "bnlj": n(p, "BroadcastNestedLoopJoin"),
                "cartesian": n(p, "CartesianProduct"),
                "windows": n(p, "Window"),
                "unpart_windows": unpartitioned_windows(p),
                "pushed": len(re.findall(r"PushedFilters: \[[^\]]", p)),
            }
        )
    return rows


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    ap.add_argument("--no-write", action="store_true")
    args = ap.parse_args()

    rows = audit(args.sf)
    errors = [r for r in rows if "error" in r]
    red = [
        r
        for r in rows
        if "error" not in r
        and (r["unpart_windows"] > 0 and r["name"] not in UNPARTITIONED_WINDOW_OK)
    ]
    cart = [r for r in rows if "error" not in r and r["cartesian"] > 0]
    dead = dead_waivers(rows)

    ok = [r for r in rows if "error" not in r]
    lines = [
        "# PLANS — whole-inventory physical-plan audit",
        "",
        "Generated by `python tools/plan_audit.py` (plan construction at "
        f"sf dir `{args.sf}`; features from `explain('formatted')`). "
        "tests/test_plans.py pins ~20 shapes exactly; this table sweeps "
        "every declared query for the features that decide 100 TB "
        "behavior. `build jobs` counts the Spark jobs fired while the "
        "frame is built (eager checkpoints, cache writes); tables are "
        "loaded before the sweep, so their schema checks are not counted. "
        "An unpartitioned window outside the documented "
        "whitelist, or a CartesianProduct, fails the audit (and the "
        "pytest gate).",
        "",
        f"**{len(ok)} queries audited** — "
        f"{sum(r['exchanges'] for r in ok)} total exchanges, "
        f"joins: {sum(r['bhj'] for r in ok)} broadcast-hash / "
        f"{sum(r['smj'] for r in ok)} sort-merge / "
        f"{sum(r['shj'] for r in ok)} shuffled-hash / "
        f"{sum(r['bnlj'] for r in ok)} broadcast-NL, "
        f"{sum(r['cartesian'] for r in ok)} cartesian; "
        f"{sum(r['unpart_windows'] for r in ok)} unpartitioned windows, "
        f"{sum(r['build_jobs'] for r in ok)} build jobs in "
        f"{sum(1 for r in ok if r['build_jobs'])} queries, "
        f"all whitelisted: {not red and not cart}; dead waivers: {len(dead)}.",
        "",
        "## Whitelisted unpartitioned windows (bounded by construction)",
        "",
    ]
    for qname, why in sorted(UNPARTITIONED_WINDOW_OK.items()):
        used = any(r["name"] == qname and r["unpart_windows"] for r in ok)
        lines.append(f"- `{qname}` — {why}{'' if used else ' ⚠ DEAD WAIVER (audit fails)'}")
    lines += [
        "",
        "## Per-query features",
        "",
        "| query | exchanges | BHJ | SMJ | SHJ | BNLJ | cartesian | windows | unpart. win | pushed filters | build jobs |",
        "|---|---|---|---|---|---|---|---|---|---|---|",
    ]
    for r in ok:
        flag = " ⚠" if (r["unpart_windows"] and r["name"] not in UNPARTITIONED_WINDOW_OK) or r["cartesian"] else ""
        lines.append(
            f"| {r['name']}{flag} | {r['exchanges']} | {r['bhj']} | {r['smj']} | "
            f"{r['shj']} | {r['bnlj']} | {r['cartesian']} | {r['windows']} | "
            f"{r['unpart_windows']} | {r['pushed']} | {r['build_jobs']} |"
        )
    if errors:
        lines += ["", "## Errors", ""]
        lines += [f"- {r['name']}: {r['error']}" for r in errors]
    report = "\n".join(lines) + "\n"

    if not args.no_write:
        Path(__file__).resolve().parent.parent.joinpath("PLANS.md").write_text(report)
        print("wrote PLANS.md")
    for r in red:
        print(f"RED  {r['name']}: {r['unpart_windows']} unpartitioned window(s) not whitelisted")
    for r in cart:
        print(f"RED  {r['name']}: CartesianProduct in plan")
    for w in dead:
        print(f"RED  {w}: dead whitelist waiver (no unpartitioned window in plan — prune it)")
    for r in errors:
        print(f"ERR  {r['name']}: {r['error']}")
    print(
        f"{len(ok)} audited, {len(red)} red, {len(cart)} cartesian, "
        f"{len(dead)} dead waivers, {len(errors)} errors"
    )
    return 1 if (red or cart or dead or errors) else 0


if __name__ == "__main__":
    sys.exit(main())
