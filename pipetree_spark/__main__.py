"""CLI — reference parity for `pipetree <config.json>` (SURVEY §3.1.1).

The reference's primary UX is "point the CLI at a JSON pipeline config,
it builds the DAG, skips cached stages, and runs the rest". Same here:

    python -m pipetree_spark run examples/pipeline.json \
        --sf-dir /root/testdata/sf0.01 --targets report

Skip-if-cached is on by default (artifacts under a per-user cache dir —
$XDG_CACHE_HOME/pipetree_spark or ~/.cache/pipetree_spark; override with
--cache DIR or disable with --no-cache) — rerunning a spec recomputes
only stages whose definition or upstreams changed, the reference's
incremental-recompute UX. Cache keys are DEFINITION-addressed (spec +
upstream keys + python-stage code fingerprint), not data-addressed: if
the source data at an sf_dir changes in place, pass --no-cache or a
fresh --cache dir.

JSON specs support the declarative stage types (source / values / sql /
grid); ``python`` stages exist only in the direct API (a JSON file can't
carry a callable — the reference serialized references to module paths,
which is a config-injection surface we deliberately don't reproduce).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from pipetree_spark.cache import ArtifactCache
from pipetree_spark.catalog import DEFAULT_SF_DIR
from pipetree_spark.ops.relational import checkpoint_scope
from pipetree_spark.pipeline import Pipeline
from pipetree_spark.session import get_spark


def default_cache_dir() -> str:
    """Per-user cache root: a world-shared /tmp path would let another
    uid pre-plant or poison artifacts and made skip-if-cached trust
    whatever was already there."""
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(
        os.path.expanduser("~"), ".cache"
    )
    return os.path.join(base, "pipetree_spark")


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(prog="pipetree_spark")
    sub = parser.add_subparsers(dest="cmd", required=True)

    run = sub.add_parser("run", help="run a JSON pipeline spec")
    run.add_argument("spec", help="path to pipeline spec JSON")
    run.add_argument("--sf-dir", default=DEFAULT_SF_DIR, help="table directory")
    run.add_argument(
        "--cache",
        default=default_cache_dir(),
        help="artifact-cache root (skip-if-cached is ON by default — the "
        "reference's incremental-recompute UX; use --no-cache to disable)",
    )
    run.add_argument("--no-cache", action="store_true", help="disable the artifact cache")
    run.add_argument(
        "--targets", nargs="*", default=None,
        help="only these stages (+ upstreams); targeted runs never "
        "re-materialize evicted upstream artifacts whose consumers are "
        "all cache hits — run targetless to backfill a partial cache",
    )
    run.add_argument("--show", type=int, default=0, metavar="N", help="print N rows per target")

    args = parser.parse_args(argv)

    with open(args.spec) as f:
        spec = json.load(f)
    pipeline = Pipeline.from_spec(spec, sf_dir=args.sf_dir)
    cache = None if args.no_cache else ArtifactCache(args.cache)
    spark = get_spark("pipetree-spark-cli")

    with checkpoint_scope(spark):
        results = pipeline.run(spark, cache=cache, targets=args.targets)
        for name, status in pipeline.last_run_report.items():
            print(f"{name}: {status}", file=sys.stderr)
        for name in args.targets or results:
            df = results[name]
            print(f"{name}: {df.count()} rows")
            if args.show:
                df.show(args.show, truncate=False)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
