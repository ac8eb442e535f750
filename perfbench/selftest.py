"""Self-test of the benchmark: a smoke run of every workload, untraced and
traced, on a tiny corpus with one operation each (``--seconds 0``).

    python3 perfbench/selftest.py

Asserts that each run prints every metric BENCHMARK.json names, with its
unit; that no operation or output check failed; and that the traced
counts follow the skip-if-cached rule: the full-hit rerun hits every
probe and writes nothing, the edit writes exactly the predicted
downstream closure, and query_mix never calls into pipeline or cache.
"""

from __future__ import annotations

import json
import subprocess
import sys
from importlib import resources
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(ROOT))

from checks import predict_statuses  # noqa: E402

SMOKE_SCALE = "0.02"


def _run(workload: str, trace: int) -> dict:
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "1",
           "--seconds", "0", "--trace", str(trace), "--scale", SMOKE_SCALE]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        raise SystemExit(f"{workload} trace={trace} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    pipeline_spec = json.loads(
        resources.files("pipetree_spark").joinpath("specs/curation_full_pipeline.json").read_text()
    )
    edit_writes = sum(
        s == "materialized" for s in predict_statuses(pipeline_spec, ["report"], {"gated"}).values()
    )
    for w in spec["workloads"]:
        for trace, section in ((0, "end_to_end"), (1, "per_layer")):
            res = _run(w["name"], trace)
            m = res["metrics"]
            want = {x["name"]: x["unit"] for x in spec[section]}
            assert set(res) == {"correct", "attempted", "failed", "metrics"}, res.keys()
            assert {k: v["unit"] for k, v in m.items()} == want, (w["name"], trace, m)
            assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, res
            if trace:
                assert m["fail_ratio"]["value"] == 0, m["fail_ratio"]
            if trace and w["name"] == "curate_rerun":
                assert m["rerun.warm_hit_ratio"]["value"] == 1, m["rerun.warm_hit_ratio"]
                assert m["rerun.warm_materialize_calls"]["value"] == 0
                assert m["rerun.edit_materialize_calls"]["value"] == edit_writes
            if trace and w["name"] == "query_mix":
                touched = {k: v["value"] for k, v in m.items()
                           if k.startswith(("pipeline.", "cache.")) and v["value"]}
                assert not touched, touched
            print(f"ok  {w['name']:13s} trace={trace}  {len(m)} metrics", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
