"""tools/measure.py: the LAYERS record, RPC call sites, and tool imports."""

from __future__ import annotations

import importlib
import sys
from pathlib import Path

import pytest

from pipetree_spark.queries import load_registry
from tools import measure

TOOLS = Path(__file__).resolve().parent.parent / "tools"


def _patched_surface() -> list:
    """Everything perfbench's Tracer patches while installed."""
    import py4j.clientserver as cs
    import py4j.java_gateway as jg

    from pipetree_spark import catalog, pipeline

    loaders = [m.load_table for name, m in sorted(sys.modules.items())
               if name.startswith("pipetree_spark") and hasattr(m, "load_table")]
    return [cs.ClientServerConnection.__dict__["send_command"],
            jg.GatewayConnection.__dict__["send_command"],
            pipeline.content_key, pipeline.Pipeline.__dict__["from_spec"],
            catalog.load_table, *loaders]


def _assert_unpatched(before: list) -> None:
    after = _patched_surface()
    assert len(after) == len(before)
    assert all(a is b for a, b in zip(after, before))


def test_layers_row_carries_every_counter_and_the_plan(spark, sf_small):
    registry = load_registry()
    before = _patched_surface()
    [row] = measure.layers(spark, registry, sf_small, {"q_pricing_summary": "q_agg_groupby"})
    _assert_unpatched(before)

    assert set(row) == {"metric", "query", "wall_s", "counters", "plan"}
    assert (row["metric"], row["query"]) == ("q_pricing_summary", "q_agg_groupby")
    wall = row["wall_s"]
    assert set(wall) == {"best", "median", "spread", "reps"}
    assert len(wall["reps"]) == measure.CORE_RUNS
    assert 0 < wall["best"] <= wall["median"] and wall["spread"] >= 0
    c = row["counters"]
    assert set(measure.COUNTERS) <= set(c)
    assert c["spark.jobs"] >= 1 and c["spark.stages"] >= 1 and c["spark.tasks"] >= 1
    assert c["queries.build_rpcs"] > 0 and c["spark.action_rpcs"] > 0
    assert c["spark.exec_run_s"] > 0 and c["spark.input_bytes"] > 0
    assert "== Physical Plan ==" in row["plan"]


def test_measure_once_counts_the_pins_it_then_frees(spark, sf_small):
    """spark.pinned_rdds is what the rep still pins when its collect
    returns (what an unscoped bench.py rep leaves behind); the rep's
    scope frees it, so a checkpointing query reruns from the same start."""
    def two_checkpoints(spark, sf_dir):
        a = spark.range(20).localCheckpoint(eager=True)
        return a.withColumn("b", a["id"] * 2).localCheckpoint(eager=True)

    start = set(spark._jsc.getPersistentRDDs().keys())
    for _ in range(2):
        _, counts = measure.measure_once(spark, two_checkpoints, sf_small, "pins")
        assert counts["spark.pinned_rdds"] == 2
        assert set(spark._jsc.getPersistentRDDs().keys()) <= start


def test_sites_charges_rpcs_to_package_frames(spark, sf_small):
    registry = load_registry()
    before = _patched_surface()
    charged = measure.call_sites(spark, registry, sf_small, {"q_agg_groupby": "q_agg_groupby"})
    _assert_unpatched(before)

    construction = charged["q_agg_groupby"]["construction"]
    assert sum(n for site, n in construction.items() if site.startswith("pipetree_spark/")) >= 1
    assert sum(charged["q_agg_groupby"]["action"].values()) >= 1


@pytest.mark.parametrize("name", sorted(p.stem for p in TOOLS.glob("*.py")))
def test_tool_imports_without_running_main(name):
    """A tool that imports a deleted or renamed module fails here, not
    when someone next runs it."""
    importlib.import_module(f"tools.{name}")
