"""Layer-by-layer measurement of bench metrics and declared queries.

Every rep goes through :func:`measure_once` under perfbench's layer
``Tracer`` (``perfbench/layers.py``) in its own Spark job group: the
construction and the ``.collect()`` are timed and their py4j RPCs counted
apart; the group's jobs, stages, tasks, driver gap, executor time and
bytes come from the live status store; Catalyst phase times from the
collected frame. Construction runs inside the group, so jobs that eager
checkpoints fire while a frame is built are counted too. Every rep and
warm-up runs in a ``checkpoint_scope``, so reps start from the same
executor storage; ``spark.pinned_rdds`` counts the RDDs a rep still has
pinned when its collect returns: what the scope then frees, and what an
unscoped run such as bench.py keeps until a JVM GC.

Names are bench.BENCH_QUERIES metrics or query names (default: every
bench metric); data is read from $SPARK_GRAFT_SF_DIR (default sf0.1).

Usage:
    python tools/measure.py [--tag TAG] [NAME ...]  # warm-up + 5 reps; --tag writes LAYERS_<TAG>.json
    python tools/measure.py --sites NAME ...        # pipetree_spark/ call sites paying the RPCs
    python tools/measure.py --ab REF NAME ...       # REF's changed modules vs the working tree, 4 cycles
"""

from __future__ import annotations

import argparse
import importlib
import inspect
import json
import os
import statistics
import subprocess
import sys
import time
import types
from collections import Counter
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from bench import BENCH_QUERIES, CORE_RUNS, _cpu_totals  # noqa: E402
from perfbench.layers import Tracer  # noqa: E402
from pipetree_spark.catalog import DEFAULT_SF_DIR  # noqa: E402
from pipetree_spark.ops.relational import checkpoint_scope  # noqa: E402
from pipetree_spark.queries import load_registry  # noqa: E402
from pipetree_spark.session import default_parallelism, get_spark  # noqa: E402
from tools.plan_audit import plan_str  # noqa: E402

#: Counters every row carries, zero when a rep never reached the layer.
COUNTERS = (
    "queries.build_s", "queries.build_rpcs", "spark.action_s", "spark.action_rpcs",
    "spark.analyze_ms", "spark.optimize_ms", "spark.plan_ms",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.driver_gap_s",
    "spark.exec_run_s", "spark.exec_cpu_s", "spark.gc_s", "spark.input_bytes",
    "spark.shuffle_read_bytes", "spark.shuffle_write_bytes", "spark.spill_bytes",
)
AB_CYCLES = 4
PKG = str(REPO / "pipetree_spark") + os.sep


def measure_once(spark, fn, sf_dir: str, name: str, sites: dict[str, Counter] | None = None):
    """Build and collect ``fn(spark, sf_dir)`` as one traced operation.
    Returns (collected frame, {"wall_s": ..., counter: value}). With
    ``sites``, each RPC is also charged to its innermost pipetree_spark/
    frame under "construction" or "action"."""
    pinned0 = spark._jsc.getPersistentRDDs().size()
    tracer = Tracer(spark).install()
    if sites is not None:
        _charge_sites(tracer, sites)
    try:
        with checkpoint_scope(spark):
            with tracer.op(name):
                t0, r0 = time.perf_counter(), tracer.rpcs
                with tracer.timed("queries.build"):
                    df = fn(spark, sf_dir)
                r1 = tracer.rpcs
                with tracer.timed("spark.action"):
                    df.collect()
                wall = time.perf_counter() - t0
                tracer.counts["queries.build_rpcs"] += r1 - r0
                tracer.counts["spark.action_rpcs"] += tracer.rpcs - r1
            tracer.counts["spark.pinned_rdds"] = spark._jsc.getPersistentRDDs().size() - pinned0
        tracer.phases(df)
    finally:
        tracer.uninstall()
    return df, {"wall_s": wall, **tracer.counts}


def warm_up(spark, fn, sf_dir: str) -> None:
    with checkpoint_scope(spark):
        fn(spark, sf_dir).collect()


def _charge_sites(tracer: Tracer, sites: dict[str, Counter]) -> None:
    """Wrap the tracer's py4j ``send_command`` patch with a stack walk;
    ``tracer.uninstall()`` removes both."""
    import py4j.clientserver as cs
    import py4j.java_gateway as jg

    def site() -> str:
        f = sys._getframe(2)
        while f is not None and not f.f_code.co_filename.startswith(PKG):
            f = f.f_back
        return "<other>" if f is None else \
            f"{os.path.relpath(f.f_code.co_filename, REPO)}:{f.f_lineno} {f.f_code.co_name}"

    for klass in (cs.ClientServerConnection, jg.GatewayConnection):
        def send_command(conn, *a, _traced=klass.send_command, **kw):
            for phase, span in (("construction", "queries.build"), ("action", "spark.action")):
                if span in tracer._stack:
                    sites[phase][site()] += 1
                    break
            return _traced(conn, *a, **kw)

        tracer._patch(klass, "send_command", send_command)


def summarize(reps: list[dict]) -> dict:
    walls = sorted(r["wall_s"] for r in reps)
    return {
        "wall_s": {"best": walls[0], "median": statistics.median(walls),
                   "spread": walls[-1] - walls[0], "reps": [r["wall_s"] for r in reps]},
        "counters": {k: statistics.median(r.get(k, 0) for r in reps)
                     for k in sorted(set(COUNTERS).union(*reps) - {"wall_s"})},
    }


def layers(spark, registry, sf_dir: str, names: dict[str, str]) -> list[dict]:
    """One row per metric: a warm-up, then bench.py's CORE_RUNS reps."""
    rows = []
    for metric, qname in names.items():
        fn = registry[qname].fn
        warm_up(spark, fn, sf_dir)
        reps = [measure_once(spark, fn, sf_dir, metric) for _ in range(CORE_RUNS)]
        rows.append({"metric": metric, "query": qname, **summarize([r for _, r in reps]),
                     "plan": plan_str(reps[-1][0])})
        w, c = rows[-1]["wall_s"], rows[-1]["counters"]
        print(f"# {metric}: best {w['best']:.3f}s median {w['median']:.3f}s | construction "
              f"{c['queries.build_s']:.3f}s/{c['queries.build_rpcs']:.0f} RPCs | action "
              f"{c['spark.action_s']:.3f}s/{c['spark.action_rpcs']:.0f} RPCs | {c['spark.jobs']:.0f} jobs "
              f"{c['spark.stages']:.0f} stages {c['spark.tasks']:.0f} tasks", flush=True)
    return rows


def call_sites(spark, registry, sf_dir: str, names: dict[str, str]) -> dict[str, dict[str, Counter]]:
    out = {}
    for metric, qname in names.items():
        fn = registry[qname].fn
        warm_up(spark, fn, sf_dir)
        out[metric] = {"construction": Counter(), "action": Counter()}
        measure_once(spark, fn, sf_dir, metric, sites=out[metric])
        for phase, charged in out[metric].items():
            print(f"\n=== {metric} {phase}: {sum(charged.values())} RPCs; top sites:")
            for s, n in charged.most_common(20):
                print(f"  {n:6d}  {s}")
    return out


# -- A/B against a git ref -----------------------------------------------------
def load_ref(ref: str) -> list[tuple[object, str, object, object]]:
    """(owner, attr, REF value, live value) for every function and method of
    each pipetree_spark module changed since REF. REF's code closes over
    REF's module globals, so each side runs self-consistently."""
    import pipetree_spark.queries as Q

    changed = subprocess.run(["git", "diff", "--name-only", ref, "--", "pipetree_spark"],
                             capture_output=True, check=True, text=True, cwd=REPO).stdout.split()
    swaps, olds = [], []
    real_declare = Q.declare
    Q.declare = lambda *a, **kw: (lambda fn: fn)  # REF's query modules must not re-register
    try:
        for path in changed:
            if not path.endswith(".py") or not (REPO / path).exists():
                continue  # not code, or deleted since REF
            shown = subprocess.run(["git", "show", f"{ref}:{path}"], capture_output=True, text=True, cwd=REPO)
            if shown.returncode:
                continue  # added since REF
            modname = path[:-3].replace("/", ".").removesuffix(".__init__")
            live, old = importlib.import_module(modname), types.ModuleType(f"{modname}@{ref}")
            sys.modules[old.__name__] = old  # dataclasses look their module up while executing
            try:
                exec(compile(shown.stdout, f"{path}@{ref}", "exec"), old.__dict__)
            finally:
                del sys.modules[old.__name__]  # unimportable, so cloudpickle ships REF's UDFs by value
            olds.append(old)
            for name, v in vars(old).items():
                lv = getattr(live, name, None)
                if getattr(v, "__module__", None) != old.__name__ or getattr(lv, "__module__", None) != modname:
                    continue  # imported, not defined here
                if inspect.isfunction(v) and inspect.isfunction(lv):
                    swaps.append((live, name, v, lv))
                elif inspect.isclass(v) and inspect.isclass(lv):
                    swaps += [(lv, a, m, vars(lv)[a]) for a, m in vars(v).items() if a in vars(lv)
                              and isinstance(m, (types.FunctionType, classmethod, staticmethod))]
    finally:
        Q.declare = real_declare
    # a REF module's top-level `from M import f` bound M's live f; rebind
    # it to REF's f, so a signature changed since REF is called as REF did
    ref_of = {id(lv): v for _, _, v, lv in swaps if inspect.isfunction(lv)}
    for old in olds:
        old.__dict__.update({n: ref_of[id(v)] for n, v in vars(old).items() if id(v) in ref_of})
    return swaps


def ab(spark, registry, sf_dir: str, names: dict[str, str], ref: str) -> dict[str, dict[str, dict]]:
    swaps = load_ref(ref)
    print(f"# {ref}: {len(swaps)} functions and methods swapped", flush=True)

    def use(side: str, fn):
        for owner, attr, old, new in swaps:
            setattr(owner, attr, old if side == "old" else new)
        return getattr(sys.modules[fn.__module__], fn.__name__, fn)  # the query fn may be swapped too

    out = {}
    try:
        for metric, qname in names.items():
            fn, reps = registry[qname].fn, {"old": [], "new": []}
            for side in reps:
                warm_up(spark, use(side, fn), sf_dir)
            for _ in range(AB_CYCLES):
                for side in reps:
                    reps[side].append(measure_once(spark, use(side, fn), sf_dir, f"{metric}-{side}")[1])
            out[metric] = {side: summarize(r) for side, r in reps.items()}
            o, n = out[metric]["old"], out[metric]["new"]
            (ob, om), (nb, nm) = ((x["wall_s"]["best"], x["wall_s"]["median"]) for x in (o, n))
            print(f"\n=== {metric}: wall best/median old {ob:.3f}/{om:.3f}s new {nb:.3f}/{nm:.3f}s"
                  f" ratio(median) {nm / om:.2f}")
            print(f"  {'counter (median)':28s} {'old':>16s} {'new':>16s} {'delta':>16s}")
            for k in sorted(set(o["counters"]) | set(n["counters"])):
                a, b = o["counters"].get(k, 0), n["counters"].get(k, 0)
                print(f"  {k:28s} {a:16.10g} {b:16.10g} {b - a:+16.10g}")
    finally:
        for owner, attr, _, new in swaps:
            setattr(owner, attr, new)
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("names", nargs="*", help="bench metrics or query names (default: every bench metric)")
    mode = ap.add_mutually_exclusive_group()
    mode.add_argument("--tag", help="write LAYERS_<TAG>.json at the repo root")
    mode.add_argument("--sites", action="store_true", help="print the top pipetree_spark/ RPC call sites")
    mode.add_argument("--ab", metavar="REF", help="alternate REF's changed modules with the working tree's")
    args = ap.parse_args()
    registry = load_registry()
    names = {n: BENCH_QUERIES.get(n, n) for n in args.names} or dict(BENCH_QUERIES)
    unknown = sorted(q for q in names.values() if q not in registry)
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")
    spark = get_spark("pipetree-spark-measure")
    if args.sites:
        call_sites(spark, registry, DEFAULT_SF_DIR, names)
    elif args.ab:
        ab(spark, registry, DEFAULT_SF_DIR, names, args.ab)
    else:
        total0, steal0 = _cpu_totals()
        rows = layers(spark, registry, DEFAULT_SF_DIR, names)
        total1, steal1 = _cpu_totals()
        if args.tag:
            record = {"sf_dir": DEFAULT_SF_DIR, "cores": default_parallelism(), "runs": CORE_RUNS,
                      "loadavg": list(os.getloadavg()),
                      "steal_pct": round(100 * (steal1 - steal0) / max(total1 - total0, 1), 3), "rows": rows}
            out = REPO / f"LAYERS_{args.tag}.json"
            out.write_text(json.dumps(record, indent=1) + "\n")
            print(f"wrote {out.name}")
    spark.stop()


if __name__ == "__main__":
    main()
