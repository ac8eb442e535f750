"""Benchmark of pipetree_spark's skip-if-cached pipeline and its executor ops.

Usage, from the repository root:

    python3 perfbench/run.py --workload curate_rerun --seed 1 --seconds 1 --trace 0

One process, ``local[nproc]``, the package's default driver heap. The run
writes a seeded corpus (``corpus.py``) under ``.perfbench_work/`` and sets
up once (``setup_s``: ``get_spark``, which launches the JVM,
``load_registry`` and the first catalog loads). It then repeats the
workload's operation until ``--seconds`` have passed (at least once) and
checks every output. ``op_s`` is the median operation. All scratch files,
Spark's included, stay under ``.perfbench_work/``.

Workloads (closed loop, one caller):

- ``curate_rerun``: one operation is a curation session. The shipped
  ``specs/curation_full_pipeline.json`` runs to its report cold, against
  an empty private artifact root (``cold_s``, ``artifact_mb``: every probe
  misses; text ops, executor work and artifact writes dominate), then
  ``PAIRS`` times against the store it filled: a full-hit rerun
  (``warm_s``) and a rerun after a definition-only edit of the mid-DAG
  ``gated`` stage (``edit_s``; a unique SQL comment: new content key, same
  result). Content keys, cache probes and the recompute of the edited
  stage's downstream closure dominate the reruns.
- ``query_mix``: one operation is a pass over six declared executor-heavy
  queries, built fresh and collected. It never touches ``pipeline`` or
  ``cache``, so a change to orchestration must read flat here.

``--trace 0`` prints the end-to-end metrics of untraced operations.
``--trace 1`` prints the per-layer metrics (``layers.py``). It alternates
untraced and traced units, a query pass or a rerun pair, and takes each
counter's median over the traced ones; ``trace.overhead_s`` is a traced
unit's wall minus that of the untraced one after it. The last stdout line
is the result object; the line before it is the run record (host, inputs,
every wall).
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import tempfile
import time
from contextlib import nullcontext
from importlib import resources
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"
sys.path.insert(0, str(ROOT))

import pyspark  # noqa: E402
from pyspark import SparkContext  # noqa: E402

import corpus  # noqa: E402
from checks import Oracle, canon, diff, predict_statuses  # noqa: E402
from layers import TracedCache, Tracer, dir_bytes  # noqa: E402
from pipetree_spark import catalog, pipeline  # noqa: E402
from pipetree_spark.cache import ArtifactCache  # noqa: E402
from pipetree_spark.queries import load_registry  # noqa: E402
from pipetree_spark.session import get_spark  # noqa: E402

#: Executor-heavy declared queries: relational, text dedup, vector ANN,
#: bloom decontamination and graph. All have DuckDB oracles.
MIX = (
    "q_agg_groupby",
    "q_join_3way",
    "q_dedup_near_lsh",
    "q_vec_ann_pq_ivf",
    "q_text_decontam_bloom",
    "q_graph_pagerank",
)
#: Corpus scale (corpus.sizes): 800 documents, 8,000 orders. The cold
#: curation run and the first query pass are driver- and JIT-bound (a
#: warm cold run reads 9-10 s from 600 to 4,000 documents on 4 cores), so
#: a larger corpus buys little and costs the run budget.
SCALE = 0.2
#: Rerun pairs in one curation session. Timing the whole session, not a
#: run's median pair, keeps the cold write path under op_s's bound at no
#: cost in steadiness: on 4 cores at 0.3-5% steal, two sets of ten runs
#: spread 0.168 and 0.135 of their median by session, 0.149 and 0.182 by
#: median pair. Four pairs give the reruns about half the session's time.
PAIRS = 4
EDITED = "gated"
TARGETS = ["report"]
#: Metric names and units, as BENCHMARK.json lists them.
BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())


def _isolate() -> None:
    """Keep every file the run writes, the JVM's included, under WORK."""
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    (WORK / "artifacts").mkdir(exist_ok=True)
    nproc = len(os.sched_getaffinity(0))
    os.environ.update(
        TMPDIR=str(tmp),
        SPARK_LOCAL_DIRS=str(WORK / "spark-local"),
        # -UsePerfData: HotSpot writes /tmp/hsperfdata_<user> whatever tmpdir says
        JDK_JAVA_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        SPARK_GRAFT_CPUS=str(nproc),
    )
    # the package's default driver heap, as its callers get it
    os.environ.pop("PIPETREE_SPARK_DRIVER_MEM", None)
    tempfile.tempdir = str(tmp)
    os.chdir(WORK)  # spark-warehouse and other cwd-relative output


def _cpu_steal() -> tuple[int, int]:
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return sum(vals), vals[7]


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


class Bench:
    """One Spark session over one generated corpus, with check bookkeeping."""

    def __init__(self, data_dir: str, trace: bool):
        """Set up once, as a fresh process does: ``get_spark`` launches the
        JVM and ``load_registry`` imports the query modules. A second
        set-up in the same process would reuse both."""
        self.data_dir = data_dir
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.spans: list[dict] = []
        self.cold: dict[str, float] = {}  # the cold run that fills curate_rerun's store
        tracer = Tracer(None).install() if trace else None
        try:
            t0 = time.perf_counter()
            self.spark = get_spark("perfbench")
            t1 = time.perf_counter()
            self.registry = load_registry()
            t2 = time.perf_counter()
            for t in catalog.TABLES:
                catalog.load_table(self.spark, data_dir, t)
            t3 = time.perf_counter()
        finally:
            if tracer:
                tracer.uninstall()
        self.setup = {
            "setup_s": t3 - t0,
            "session.get_spark_s": t1 - t0,
            "queries.load_registry_s": t2 - t1,
        }
        if tracer:
            self.setup["catalog.load_table_s"] = tracer.counts["catalog.load_table_s"]
            self.setup["catalog.load_table_calls"] = tracer.counts["catalog.load_table_calls"]

    # -- operations ---------------------------------------------------------
    def op(self, name: str, fn, traced: bool):
        """Run ``fn(tracer)`` as one timed operation. Returns (output,
        wall, counters or None); an exception counts as a failed operation."""
        tracer = Tracer(self.spark).install() if traced else None
        self.attempted += 1
        try:
            with tracer.op(name) if tracer else nullcontext():
                t0 = time.perf_counter()
                out = fn(tracer)
                wall = time.perf_counter() - t0
        except Exception as exc:  # noqa: BLE001 - one failed op must not end the run
            self.failed += 1
            self.problems.append(f"{name}: {type(exc).__name__}: {str(exc)[:300]}")
            return None, None, None
        finally:
            if tracer:
                tracer.uninstall()
        if tracer:
            self.spans += tracer.spans
        return out, wall, (tracer.counts if tracer else None)

    def check(self, problem: str | None, what: str) -> None:
        """Record one correctness check, attempted like an operation and
        failed when it finds a problem, so ``failed`` never exceeds
        ``attempted``."""
        self.attempted += 1
        if problem:
            self.failed += 1
            self.problems.append(f"{what}: {problem}")

    def collect(self, df, tracer):
        """Collect a frame, counting its action RPCs and Catalyst phases."""
        r0 = tracer.rpcs if tracer else 0
        rows = [tuple(r) for r in df.collect()]
        if tracer:
            tracer.counts["spark.action_rpcs"] += tracer.rpcs - r0
            tracer.phases(df)
        return df.columns, rows

    # -- curation -------------------------------------------------------------
    def spec(self, edit: int | None = None) -> dict:
        spec = json.loads(
            resources.files("pipetree_spark").joinpath("specs/curation_full_pipeline.json").read_text()
        )
        # the corpus path enters every content key, as in q_pipe_curation_full
        spec["stages"]["documents"]["sf_dir"] = self.data_dir
        if edit is not None:
            spec["stages"][EDITED]["query"] += f" -- perfbench edit {edit}"
        return spec

    def curate(self, name: str, spec: dict, root: str, traced: bool):
        """One spec run to the collected report. Returns (statuses,
        canonical report, wall, counters)."""

        def go(tracer):
            cache = TracedCache(root, tracer) if tracer else ArtifactCache(root)
            p = pipeline.Pipeline.from_spec(spec, sf_dir=self.data_dir)
            t0 = time.perf_counter()
            frames = p.run(self.spark, cache=cache, targets=TARGETS)
            if tracer:
                tracer.counts["pipeline.run_s"] += time.perf_counter() - t0
            return p.last_run_report, self.collect(frames["report"], tracer)

        out, wall, counts = self.op(name, go, traced)
        if out is None:
            return None, None, None, None
        statuses, report = out
        if counts is not None:
            for status in statuses.values():
                counts[f"pipeline.stages_{status}"] += 1
        return statuses, canon(*report), wall, counts

    # -- queries ----------------------------------------------------------------
    def query(self, name: str, traced: bool):
        def go(tracer):
            r0, t0 = (tracer.rpcs if tracer else 0), time.perf_counter()
            df = self.registry[name].fn(self.spark, self.data_dir)
            if tracer:
                tracer.counts["queries.build_s"] += time.perf_counter() - t0
                tracer.counts["queries.build_rpcs"] += tracer.rpcs - r0
            return self.collect(df, tracer)

        out, wall, counts = self.op(name, go, traced)
        if out is None:
            return None, None, None
        return canon(*out), wall, counts

    def close(self) -> float:
        """Stop Spark and its JVM; returns the peak RSS in MB of this
        driver plus the JVM (each process's own high-water mark)."""
        proc = SparkContext._gateway.proc
        with open(f"/proc/{proc.pid}/status") as f:
            jvm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        self.spark.stop()
        proc.stdin.close()  # the gateway exits on stdin EOF
        proc.wait(timeout=60)
        return (jvm_kb + py_kb) / 1024


# -- workloads ------------------------------------------------------------------
def _loop(seconds: float, operation, least: int = 1) -> list:
    """Run ``operation(k)`` until ``seconds`` pass, at least ``least``
    times, and return its results."""
    out = []
    t0 = time.perf_counter()
    while len(out) < least or time.perf_counter() - t0 < seconds:
        out.append(operation(len(out)))
    return out


def _merge(parts: list[dict | None]) -> dict | None:
    if any(p is None for p in parts):
        return None
    merged: dict[str, float] = {}
    for p in parts:
        for k, v in p.items():
            merged[k] = merged.get(k, 0.0) + v
    return merged


def curate_rerun(b: Bench, seconds: float, trace: bool):
    """Returns (operation walls, rerun pairs as (traced, walls, counters))."""
    spec = b.spec()
    want = {
        "cold": predict_statuses(spec, TARGETS, set(spec["stages"])),
        "warm": predict_statuses(spec, TARGETS, set()),
        "edit": predict_statuses(spec, TARGETS, {EDITED}),
    }
    first: list = []  # the first session's cold report

    def pair(root, ref, edit: int, traced: bool):
        walls, counts = {}, {}
        for name, s in (("warm", spec), ("edit", b.spec(edit=edit))):
            statuses, report, wall, c = b.curate(name, s, root, traced)
            if statuses is None:
                return None
            b.check(None if statuses == want[name] else f"statuses {statuses}", f"{name} statuses")
            b.check(diff(report, ref), f"{name} report vs cold report")
            walls[f"{name}_s"] = wall
            counts[name] = c
        if not traced:
            return traced, walls, None
        warm, edit_c = counts["warm"], counts["edit"]
        merged = _merge([warm, edit_c])
        merged["rerun.warm_hit_ratio"] = _ratio(warm["cache.hits"], warm["cache.has_calls"])
        merged["rerun.warm_materialize_calls"] = warm["cache.materialize_calls"]
        merged["rerun.edit_materialize_calls"] = edit_c["cache.materialize_calls"]
        return traced, walls, merged

    def session(k):
        """One operation. Its wall is the sum of its spec runs' walls; the
        checks between them are not timed. The first cold run is the first
        in a fresh JVM, as a one-shot ``python -m pipetree_spark run`` pays
        it: a warm-up cold run on a tenth of the corpus costs 23-30 s on 4
        cores, which the run budget cannot hold."""
        root = tempfile.mkdtemp(prefix="rerun-", dir=WORK / "artifacts")
        try:
            statuses, ref, wall, _ = b.curate("cold", spec, root, False)
            if statuses is None:
                return None, []
            b.check(None if statuses == want["cold"] else f"statuses {statuses}", "cold statuses")
            if first:
                b.check(diff(ref, first[0]), "cold report vs first cold report")
            else:
                first.append(ref)
                b.cold = {"cold_s": wall, "artifact_mb": dir_bytes(root) / 1e6}
                oracle = Oracle(b.data_dir)
                b.check(oracle.problems(b.registry["q_pipe_curation_full"].oracle, ref),
                        "curation report vs DuckDB oracle")
                oracle.close()
                _check_funnel(b, ref)
            pairs = []
            for i in range(PAIRS):
                # traced runs alternate plain and traced pairs, so each
                # traced pair can be compared with the plain one after it
                got = pair(root, ref, k * PAIRS + i, trace and i % 2 == 1)
                if got is None:
                    return None, pairs
                pairs.append(got)
                wall += sum(got[1].values())
            return wall, pairs
        finally:
            shutil.rmtree(root, ignore_errors=True)

    sessions = _loop(seconds, session)
    return [op for op, _ in sessions if op is not None], [p for _, ps in sessions for p in ps]


def query_mix(b: Bench, seconds: float, trace: bool):
    """Returns (operation walls, passes as (traced, walls, counters))."""
    ref: dict[str, tuple] = {}

    def iteration(k):
        # traced runs alternate plain and traced passes, at least plain,
        # traced, plain, so the traced one can be compared with the plain
        # one after it
        traced = trace and k % 2 == 1
        walls, counts = {}, []
        for q in MIX:
            got, wall, c = b.query(q, traced)
            if got is None:
                return traced, {}, None
            if q in ref:
                b.check(diff(got, ref[q]), f"{q} vs its first result")
            else:
                ref[q] = got
            walls[f"ops.{q}.s"] = wall
            counts.append(c)
        walls["mix_s"] = sum(walls.values())
        return traced, walls, _merge(counts)

    # No warm-up pass, as for the cold run of curate_rerun: a pass on a
    # tenth of the corpus costs about 23 s on 4 cores.
    units = _loop(seconds, iteration, least=3 if trace else 1)
    oracle = Oracle(b.data_dir)
    for q, got in ref.items():
        b.check(oracle.problems(b.registry[q].oracle, got), f"{q} vs DuckDB oracle")
    oracle.close()
    b.check(None if ref.get("q_dedup_near_lsh", (None, []))[1] else "no near-dup pairs",
            "planted near-duplicates found")
    return [w["mix_s"] for traced, w, _ in units if not traced and w], units


def _check_funnel(b: Bench, report) -> None:
    """The corpus must keep every curation gate non-empty."""
    cols, rows = report
    ok = len(rows) == 1 and all(v and v > 0 for v in rows[0])
    b.check(None if ok else f"degenerate funnel {cols} {rows}", "curation funnel")


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


WORKLOADS = {"curate_rerun": curate_rerun, "query_mix": query_mix}


# -- result -----------------------------------------------------------------------
def _layer_metrics(b: Bench, units, workload: str) -> dict[str, float]:
    """The median of each counter over the traced units, then the set-up
    layers (``catalog.*`` from set-up, not from the operations), the first
    cold run and the walls of the first untraced unit. A metric the
    workload never reaches reads 0."""
    plain = [w for traced, w, _ in units if not traced and w]
    per_iter = []
    for t, _, c in units:
        if not t or c is None:
            continue
        c = dict(c)
        c["pipeline.self_s"] = c.get("pipeline.run_s", 0.0) - sum(
            c.get(k, 0.0) for k in ("cache.has_s", "cache.load_s", "cache.materialize_s")
        )
        c["cache.hit_ratio"] = _ratio(c.get("cache.hits", 0.0), c.get("cache.has_calls", 0.0))
        per_iter.append(c)
    out = {name: _median([c.get(name, 0.0) for c in per_iter]) for name in set().union(*per_iter)}
    out.update({**b.setup, **b.cold, **(plain[0] if plain else {})})
    out["fail_ratio"] = _ratio(b.failed, b.attempted)
    pairs = [
        (sum(_op_walls(w, workload)), sum(_op_walls(nxt, workload)))
        for (t, w, _), (nt, nxt, _) in zip(units, units[1:])
        if t and not nt and w and nxt
    ]
    out["trace.overhead_s"] = _median([tw - pw for tw, pw in pairs])
    return out


def _op_walls(walls: dict, workload: str) -> list[float]:
    keys = {"curate_rerun": ("warm_s", "edit_s"), "query_mix": ("mix_s",)}
    return [walls[k] for k in keys[workload] if k in walls]


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=SCALE, help="corpus scale (self-test only)")
    args = ap.parse_args(argv)

    t_start = time.perf_counter()
    cpu0, steal0 = _cpu_steal()
    _isolate()
    data_dir = str(WORK / "data" / f"s{args.seed}-x{args.scale}")
    inputs = corpus.generate(data_dir, args.seed, args.scale)

    phases = {"generate_s": time.perf_counter() - t_start}
    b = Bench(data_dir, bool(args.trace))
    phases["setup_s"] = time.perf_counter() - t_start - sum(phases.values())
    ops, units = WORKLOADS[args.workload](b, args.seconds, bool(args.trace))
    phases["workload_s"] = time.perf_counter() - t_start - sum(phases.values())
    rss_mb = b.close()
    cpu1, steal1 = _cpu_steal()

    if not ops:
        b.check("no operation completed", "workload")
    if args.trace:
        values = _layer_metrics(b, units, args.workload)
        values["peak_rss_mb"] = rss_mb
        spans = WORK / f"spans-{args.workload}-s{args.seed}.json"
        spans.write_text(json.dumps(b.spans))
    else:
        values = {"setup_s": b.setup["setup_s"], "op_s": _median(ops)}
    section = BENCH["per_layer" if args.trace else "end_to_end"]
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "scale": args.scale,
        "nproc": len(os.sched_getaffinity(0)),
        "steal_pct": 100.0 * (steal1 - steal0) / max(cpu1 - cpu0, 1),
        "loadavg": os.getloadavg(),
        "spark": pyspark.__version__,
        "python": sys.version.split()[0],
        "inputs": inputs,
        "setup": b.setup,
        "cold": b.cold,
        "ops": ops,
        "units": [{"traced": t, "walls": w} for t, w, _ in units],
        "peak_rss_mb": rss_mb,
        "problems": b.problems,
        "phases": phases,
        "wall_s": time.perf_counter() - t_start,
    }
    print(json.dumps({"record": record}))
    print(
        json.dumps(
            {
                "correct": b.failed == 0,
                "attempted": b.attempted,
                "failed": b.failed,
                "metrics": {
                    m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]} for m in section
                },
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
