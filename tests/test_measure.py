"""tools/measure.py (the LAYERS record, RPC call sites), tools/scale_stress.py
(the replica and the stress modes at toy size), and tool imports."""

from __future__ import annotations

import importlib
import sys
from pathlib import Path

import pytest

from pipetree_spark.queries import load_registry
from tools import measure, scale_stress

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


def test_replicate_perturbs_each_copy_by_its_index(spark):
    docs = spark.createDataFrame(
        [(0, "alpha beta gamma", "en", "s0", 16), (7, " delta  eps", "de", "s1", 11)],
        "doc_id long, text string, lang string, source string, n_chars long")
    emb = spark.createDataFrame(
        [(0, [0.1, 0.2, 0.3], 1), (4, [0.0, -0.5, 1.0], 2)],
        "vec_id long, embedding array<float>, label int")
    copies = 3
    for src, table, key in ((docs, "documents", "doc_id"), (emb, "embeddings", "vec_id")):
        out = scale_stress.replicate(src, table, copies)
        assert out.schema == src.schema
        rows = {r[key]: r for r in out.collect()}
        assert len(rows) == out.count() == copies * src.count()  # keys unique across copies
        [off] = scale_stress.key_offsets(src, table)
        for s in src.collect():
            assert rows[s[key]] == s  # copy 0 is the source
            for i in range(1, copies):
                c = rows[s[key] + i * off]
                if table == "documents":
                    a, b = s["text"].split(), c["text"].split()
                    assert len(a) == len(b) and sum(x != y for x, y in zip(a, b)) == 1
                    assert c["n_chars"] == len(c["text"]) and c["lang"] == s["lang"]
                else:
                    assert c["embedding"] != s["embedding"] and c["label"] == s["label"]
                    assert all(abs(x - y) <= scale_stress.SIGMA + 1e-6
                               for x, y in zip(c["embedding"], s["embedding"]))


def test_skip_gen_refuses_a_replica_without_the_current_marker(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(scale_stress, "DST", str(tmp_path))
    with pytest.raises(SystemExit, match="not a"):
        scale_stress.ensure_replica(spark, skip_gen=True)
    (tmp_path / scale_stress.MARKER).write_text("exact-copies\n")
    with pytest.raises(SystemExit, match="not a"):
        scale_stress.ensure_replica(spark, skip_gen=True)
    (tmp_path / scale_stress.MARKER).write_text(scale_stress.REPLICA + "\n")
    assert scale_stress.ensure_replica(spark, skip_gen=True) == str(tmp_path)


def test_scale_modes_run_at_toy_size(spark, sf_small, tmp_path):
    g = scale_stress.graph(spark, nodes=(100, 400), degree=4)
    assert set(g["ratio"]) == {"triangle_counts", "bfs_khop(k=3)", "sssp_khop(k=3)"}
    assert all(v > 0 for v in g["400"].values())

    b = scale_stress.bpe(spark, n_words=300, n_merges=24, src=sf_small, dst=sf_small)
    assert b["n_words"] == 300 and 0 < b["n_merges"] <= 24
    assert b["encode_1x_s"] > 0 and b["encode_ratio"] > 0 and b["encode_plan_lines"] > 0

    u = scale_stress.uvec(spark, sizes=((12, 5),), src=sf_small)
    assert {"k", "p", "train_s", "dedup_s", "recall", "cell_avg", "cell_max"} <= set(u["60"])
    assert 0 <= u["60"]["recall"] <= 1


def test_sweep_reps_of_a_cached_query_start_cold():
    """``cold`` removes a cached query's process-wide artifact root, and the
    next call recreates an empty one, so each sweep rep walks cold."""
    from pipetree_spark.cache import process_cache_root

    root = Path(process_cache_root("curation_full_artifacts"))
    (root / "hit").write_text("x")
    scale_stress.cold("q_graph_pagerank")  # no cache root: left alone
    assert (root / "hit").exists()
    scale_stress.cold("q_pipe_curation_full")
    assert not root.exists()
    assert not any(Path(process_cache_root("curation_full_artifacts")).iterdir())


def test_stream_mode_restores_the_state_store_confs(spark, tmp_path):
    from pipetree_spark.ops.streaming import rocksdb_state_confs

    keys = list(rocksdb_state_confs(bounded_memory_mb=512))
    before = {k: spark.conf.get(k, None) for k in keys}
    s = scale_stress.stream(spark, n_events=2000, files=2, n_docs=400, batches=4, root=str(tmp_path))
    assert {k: spark.conf.get(k, None) for k in keys} == before
    assert s["rocksdb"]["dedup"]["rocksdb_metrics"] and not s["heap"]["dedup"]["rocksdb_metrics"]
    assert s["heap"]["dedup"]["rows"] == s["rocksdb"]["dedup"]["rows"] == 2000
    assert s["ingest"]["admitted"] == 100 + 3 * 80 and len(s["ingest"]["batch_s"]) == 4
