"""Versioned-table semantics (pipetree_spark/versioned.py): linear
history, time travel, O(1) rollback, commit-conflict detection, vacuum
retention. Parametrized over a bare local root AND a ``file:``-scheme
root so the Hadoop-FileSystem manifest I/O path (the same code an
``s3a://`` root would take) is exercised end-to-end."""

from __future__ import annotations

import os

import pytest

import pipetree_spark.versioned as V
from pipetree_spark.versioned import CommitConflict, VersionedTable


def _rows(df):
    return sorted((r.k, r.v) for r in df.collect())


@pytest.fixture(params=["bare", "file-scheme"])
def root(request, tmp_path):
    return str(tmp_path) if request.param == "bare" else f"file://{tmp_path}"


def test_versioned_append_overwrite_timetravel_rollback(spark, root):
    t = VersionedTable(root, "docs")
    a = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    b = spark.createDataFrame([(3, "c")], "k long, v string")
    c = spark.createDataFrame([(9, "z")], "k long, v string")

    assert t.write(a, mode="overwrite") == 0
    assert t.write(b, mode="append") == 1
    assert t.write(c, mode="overwrite") == 2

    # latest = the overwrite; time travel sees every prior state
    assert _rows(t.read(spark)) == [(9, "z")]
    assert _rows(t.read(spark, 0)) == [(1, "a"), (2, "b")]
    assert _rows(t.read(spark, 1)) == [(1, "a"), (2, "b"), (3, "c")]

    # rollback commits a NEW version with v1's content — history intact
    assert t.rollback(1) == 3
    assert _rows(t.read(spark)) == [(1, "a"), (2, "b"), (3, "c")]
    assert _rows(t.read(spark, 2)) == [(9, "z")]
    acts = [m["action"] for m in t.history()]
    assert acts == ["overwrite", "append", "overwrite", "rollback:1"]

    # append after rollback builds on the rolled-back state
    t.write(c, mode="append")
    assert _rows(t.read(spark)) == [(1, "a"), (2, "b"), (3, "c"), (9, "z")]


def test_versioned_commit_conflict_and_vacuum(spark, root, tmp_path):
    t = VersionedTable(root, "docs")
    a = spark.createDataFrame([(1, "a")], "k long, v string")
    t.write(a, mode="overwrite")
    t.write(a, mode="overwrite")  # v1 orphans v0's snapshot

    # vacuum(1) deletes only the snapshot no retained version references
    snaps_before = {e for e in os.listdir(tmp_path / "docs") if e.startswith("snap-")}
    assert len(snaps_before) == 2
    deleted = t.vacuum(retain_last=1)
    assert len(deleted) == 1
    assert _rows(t.read(spark)) == [(1, "a")]  # latest untouched
    with pytest.raises(Exception):
        t.read(spark, 0).collect()  # vacuumed version is gone

    # a racing writer that lost the promotion race must get
    # CommitConflict: simulate the stale view by pinning latest_version
    # one commit back, so _commit targets the already-taken slot
    from unittest import mock

    with mock.patch.object(
        VersionedTable, "latest_version", return_value=t.latest_version() - 1
    ):
        with pytest.raises(CommitConflict):
            t.write(a, mode="overwrite")


def test_commit_is_create_exclusive_not_clobber(spark, tmp_path):
    """The lost-commit race the ADVICE flagged: two writers that BOTH
    passed any exists-style check must still serialize — the loser gets
    CommitConflict and the winner's manifest survives byte-identical
    (os.rename would silently replace it)."""
    t = VersionedTable(str(tmp_path), "docs")
    t._commit(["snap-winner"], "overwrite")  # v0 = the winner, already durable
    from unittest import mock

    # loser computed latest=None before the winner landed → targets v0 too
    with mock.patch.object(VersionedTable, "latest_version", return_value=None):
        with pytest.raises(CommitConflict):
            t._commit(["snap-loser"], "overwrite")
    assert t._manifest(0)["dirs"] == ["snap-winner"]
    # no tmp litter left behind by the losing writer
    assert [f for f in os.listdir(t.log_dir.replace("file://", "")) if ".tmp-" in f] == []


def test_commit_hadoop_rename_branch(spark, tmp_path, monkeypatch):
    """Route the commit through the non-local (Hadoop rename) branch by
    disabling the local-path fast path — the code an hdfs:// root runs,
    exercised against the local FileSystem implementation."""
    monkeypatch.setattr(V, "_local_path", lambda fs, jpath: None)
    t = VersionedTable(f"file://{tmp_path}", "docs")
    assert t._commit(["snap-a"], "overwrite") == 0
    assert t._manifest(0)["dirs"] == ["snap-a"]
    from unittest import mock

    with mock.patch.object(VersionedTable, "latest_version", return_value=None):
        with pytest.raises(CommitConflict):
            t._commit(["snap-b"], "overwrite")
    assert t._manifest(0)["dirs"] == ["snap-a"]
    assert [f for f in os.listdir(tmp_path / "docs" / "_versions") if ".tmp-" in f] == []


def test_streaming_dedup_ingest_into_versioned_table(spark, tmp_path):
    """END-TO-END production ingest: foreachBatch incremental dedup
    feeding a VersionedTable — each micro-batch's admitted rows commit
    as one version, so the corpus is time-travelable batch-by-batch and
    a bad ingest day rolls back in O(1) without touching the data."""
    from pipetree_spark.ops.streaming import incremental_dedup_batch

    schema = "doc_id long, text string, lang string"
    batches = [
        spark.createDataFrame(
            [(1, "alpha beta gamma", "en"), (2, "delta epsilon", "en")], schema
        ),
        spark.createDataFrame(
            [(3, "alpha beta gamma", "en"), (4, "zeta eta theta", "en")], schema
        ),
        spark.createDataFrame([(5, "iota kappa", "en")], schema),
    ]
    ledger = str(tmp_path / "ledger")
    t = VersionedTable(str(tmp_path), "corpus")
    for i, b in enumerate(batches):
        stage = str(tmp_path / f"stage{i}")
        admitted = incremental_dedup_batch(b, i, ledger, stage)
        if admitted:
            t.write(spark.read.parquet(f"{stage}/batch_id={i}"), mode="append")

    # batch 2's doc 3 is an exact dup of doc 1 → never admitted
    assert sorted(r.doc_id for r in t.read(spark).collect()) == [1, 2, 4, 5]
    # time travel: the corpus as of each ingest batch
    assert sorted(r.doc_id for r in t.read(spark, 0).collect()) == [1, 2]
    assert sorted(r.doc_id for r in t.read(spark, 1).collect()) == [1, 2, 4]
    # O(1) rollback of the last ingest
    t.rollback(1)
    assert sorted(r.doc_id for r in t.read(spark).collect()) == [1, 2, 4]


_RACER = r"""
import json, os, sys, time
sys.path.insert(0, "__REPO__")
from pyspark.sql import SparkSession
from pipetree_spark.versioned import CommitConflict, VersionedTable

root, name, tag, rounds, go_file, out_file = sys.argv[1:7]
spark = (
    SparkSession.builder.master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.ui.showConsoleProgress", "false")
    .getOrCreate()
)
t = VersionedTable(root, name)
dirs = t._manifest(0)["dirs"]
open(out_file + ".ready", "w").close()
deadline = time.time() + 60
while not os.path.exists(go_file):
    if time.time() > deadline:
        raise SystemExit("no go signal")
    time.sleep(0.005)
wins, conflicts = [], 0
for i in range(int(rounds)):
    while True:
        try:
            wins.append(t._commit(dirs, f"{tag}-{i}"))
            break
        except CommitConflict:
            conflicts += 1
with open(out_file, "w") as fh:
    json.dump({"wins": wins, "conflicts": conflicts}, fh)
"""


def test_concurrent_writers_exactly_one_winner_per_version(spark, root, tmp_path):
    """r7 verdict #6: optimistic concurrency was only ever exercised
    in-process. Race a REAL second JVM/process against this session on
    one root (both the bare-path and file:-scheme params, covering the
    resolved-scheme os.link fast path): both sides fire `rounds`
    commits as fast as they can from a filesystem start barrier, losers
    retry on CommitConflict. Linearizability contract: every version
    number is claimed by exactly one writer, the log is contiguous, and
    every loser retried cleanly to a win (no lost commits, no orphan
    temp manifests)."""
    import json
    import subprocess
    import sys
    import time
    from pathlib import Path

    repo = str(Path(__file__).resolve().parent.parent)
    t = VersionedTable(root, "docs")
    t.write(spark.createDataFrame([(1, "a")], "k long, v string"), mode="overwrite")
    dirs = t._manifest(0)["dirs"]

    rounds = 15
    go = tmp_path / "go"
    out = tmp_path / "child.json"
    child = subprocess.Popen(
        [sys.executable, "-c", _RACER.replace("__REPO__", repo),
         root, "docs", "child", str(rounds), str(go), str(out)],
        cwd=repo,
    )
    try:
        deadline = time.time() + 120
        while not (tmp_path / "child.json.ready").exists():
            assert time.time() < deadline, "child session never came up"
            assert child.poll() is None, "child died during startup"
            time.sleep(0.05)
        go.touch()
        my_wins, my_conflicts = [], 0
        for i in range(rounds):
            while True:
                try:
                    my_wins.append(t._commit(dirs, f"parent-{i}"))
                    break
                except CommitConflict:
                    my_conflicts += 1
        assert child.wait(timeout=120) == 0
    finally:
        if child.poll() is None:
            child.kill()
    res = json.loads(out.read_text())
    child_wins = res["wins"]
    # exactly one winner per version, nothing lost, nothing doubled
    assert not (set(my_wins) & set(child_wins))
    assert sorted(my_wins + child_wins) == list(range(1, 2 * rounds + 1))
    assert t.versions() == list(range(0, 2 * rounds + 1))
    # every manifest belongs to the writer that believes it won
    actions = {m["version"]: m["action"] for m in t.history()}
    assert all(actions[v].startswith("parent-") for v in my_wins)
    assert all(actions[v].startswith("child-") for v in child_wins)
    # no orphan temp manifests survive the race
    log_dir = t.log_dir
    if log_dir.startswith("file://"):
        log_dir = log_dir[len("file://"):]
    assert [f for f in os.listdir(log_dir) if ".tmp-" in f] == []


def test_pq_index_persists_and_queries_identically(spark, tmp_path):
    """The build-once / query-many ANN workflow: fit the PQ model on
    the corpus, persist codes + codebook as versioned tables, reload
    them in place of the in-memory frames, and the ADC top-k must be
    IDENTICAL (codes and distances are exact integers — parquet
    round-trips them losslessly, including the nested codebook
    struct). This is the production shape at 10⁹ vectors: the index
    tables are committed once and every query batch reads them,
    rather than re-running the Lloyd fits per batch."""
    from pipetree_spark.catalog import load_table
    from pipetree_spark.ops import vector as VX
    from pyspark.sql import functions as F

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    codes, cb = VX.pq_fit_portable(e, "embedding", "vec_id", m=4, n_codes=16, dim=64)
    t_codes = VersionedTable(str(tmp_path), "pq_codes")
    t_cb = VersionedTable(str(tmp_path), "pq_codebook")
    t_codes.write(codes, mode="overwrite")
    t_cb.write(cb, mode="overwrite")

    codes_rt = t_codes.read(spark)
    cb_rt = t_cb.read(spark)
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    want = {
        (r.query_id, r.vec_id, r.adc_dist, r.rnk)
        for r in VX.pq_adc_topk_portable(q, codes, cb, k=5).collect()
    }
    got = {
        (r.query_id, r.vec_id, r.adc_dist, r.rnk)
        for r in VX.pq_adc_topk_portable(q, codes_rt, cb_rt, k=5).collect()
    }
    assert got == want and len(got) == 25
    # and the composition accepts a reloaded codebook as injected state
    comp = {
        (r.query_id, r.vec_id, r.cos_sim, r.rnk)
        for r in VX.pq_ivf_ann_portable(
            q, e, k=5, n_clusters=4, n_probe=3, shortlist=20, codebook=cb_rt
        ).collect()
    }
    base = {
        (r.query_id, r.vec_id, r.cos_sim, r.rnk)
        for r in VX.pq_ivf_ann_portable(
            q, e, k=5, n_clusters=4, n_probe=3, shortlist=20
        ).collect()
    }
    assert comp == base


def test_changes_feed_between_versions(spark, tmp_path):
    """VersionedTable.changes: v0→v2 feed classifies added (new key in
    an append), removed (key absent after overwrite), and changed
    (same key, new payload) — and never emits unchanged keys."""
    from pipetree_spark.versioned import VersionedTable

    vt = VersionedTable(str(tmp_path), "t", spark=spark)
    v0 = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, payload string"
    )
    vt.write(v0)  # v0
    # v1: key 2 re-stated with a new payload, key 4 added, key 3 dropped
    v1 = spark.createDataFrame(
        [(1, "a"), (2, "B2"), (4, "d")], "k long, payload string"
    )
    vt.write(v1, mode="overwrite")  # v1
    feed = {
        (r.k, r.status)
        for r in vt.changes(spark, 0, 1, keys=["k"]).collect()
    }
    assert feed == {(2, "changed"), (3, "removed"), (4, "added")}
    # identical versions → empty feed (rollback commits v0's dirs as v2)
    vt.rollback(0)
    assert vt.changes(spark, 0, 2, keys=["k"]).count() == 0
    import pytest

    with pytest.raises(ValueError, match="absent"):
        vt.changes(spark, 0, 1, keys=["k"], compare_cols=["nope"])
