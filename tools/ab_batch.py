"""In-process alternating A/B for the r16 expression-batching wave.

Loads the PRE-change ops modules from a git ref (default HEAD) as
separate module objects and alternates old/new implementations rep by
rep inside ONE Spark session — the only timing evidence this host's
steal allows (SCALING.md r13-r15). Old functions close over their own
module globals, so each rep runs a self-consistent implementation.

Usage: python tools/ab_batch.py q_vec_ann_pq_ivf q_dedup_cc [--ref HEAD] [--cycles 4]
"""

from __future__ import annotations

import os
import subprocess
import sys
import time
import types
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from bench import BENCH_QUERIES  # noqa: E402
from pipetree_spark.queries import load_registry  # noqa: E402
from pipetree_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: module-global function names the r16 waves touched; patching these
#: on the LIVE modules routes compositions through the old code
PATCH = {
    "pipetree_spark.ops.vector": [
        "kmeans_portable_fit", "pq_fit_portable", "_probe_cells",
        "_pq_adc_dist", "_pq_quantize", "ivf_multiprobe_assign",
    ],
    "pipetree_spark.ops.graph": ["connected_components"],
    "pipetree_spark.ops.bloom": ["bloom_build"],
    "pipetree_spark.ops.text": ["near_dup_pairs_lsh"],
}
#: module holding changed QUERY fns — old reps call the old module's
#: fn directly (declare() stubbed at exec so nothing re-registers)
QUERY_MODULE = "pipetree_spark.queries.llm_ops"


def load_old(ref: str) -> dict[str, types.ModuleType]:
    import pipetree_spark.queries as Q

    out = {}
    repo = Path(__file__).resolve().parent.parent
    real_declare = Q.declare
    Q.declare = lambda name, oracle=None, tags=(): (lambda fn: fn)
    try:
        for modname in list(PATCH) + [QUERY_MODULE]:
            relpath = modname.replace(".", "/") + ".py"
            src = subprocess.run(
                ["git", "show", f"{ref}:{relpath}"],
                capture_output=True, check=True, cwd=repo,
            ).stdout.decode()
            mod = types.ModuleType(modname + "_OLD")
            mod.__dict__["__name__"] = modname + "_OLD"
            exec(compile(src, relpath + "@" + ref, "exec"), mod.__dict__)
            out[modname] = mod
    finally:
        Q.declare = real_declare
    return out


def main() -> None:
    import argparse

    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("metrics", nargs="+")
    ap.add_argument("--ref", default="HEAD")
    ap.add_argument("--cycles", type=int, default=4)
    ns = ap.parse_args()
    ref, cycles, args = ns.ref, ns.cycles, ns.metrics
    import importlib

    live = {m: importlib.import_module(m) for m in PATCH}
    new_fns = {m: {n: getattr(live[m], n) for n in names} for m, names in PATCH.items()}
    old_mods = load_old(ref)
    old_fns = {m: {n: getattr(old_mods[m], n) for n in names} for m, names in PATCH.items()}

    def apply(fns):
        for m, names in PATCH.items():
            for n in names:
                setattr(live[m], n, fns[m][n])

    registry = load_registry()
    spark = get_spark("pipetree-spark-ab-batch")
    results: dict[str, dict[str, list[float]]] = {}
    for metric in args:
        qname = BENCH_QUERIES.get(metric, metric)
        fn = registry[qname].fn
        old_query_fn = getattr(old_mods[QUERY_MODULE], qname, None)
        fn(spark, SF_DIR).collect()  # warm-up (new impl)
        times = {"old": [], "new": []}
        for c in range(cycles):
            for label, fns in (("old", old_fns), ("new", new_fns)):
                apply(fns)
                run = fn if label == "new" or old_query_fn is None else old_query_fn
                spark.sparkContext.setJobDescription(f"ab:{metric}:{label}:{c}")
                t0 = time.perf_counter()
                run(spark, SF_DIR).collect()
                times[label].append(round(time.perf_counter() - t0, 4))
        apply(new_fns)
        results[metric] = times
        bo, bn = min(times["old"]), min(times["new"])
        mo = sorted(times["old"])[len(times["old"]) // 2]
        mn = sorted(times["new"])[len(times["new"]) // 2]
        print(f"# {metric}: old best/med {bo:.3f}/{mo:.3f}  new best/med "
              f"{bn:.3f}/{mn:.3f}  ratio(best) {bn / bo:.2f}  old={times['old']} new={times['new']}")
    print({"loadavg": list(os.getloadavg()), "results": results})


if __name__ == "__main__":
    main()
