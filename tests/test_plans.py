"""Physical-plan quality gates (SURVEY §4.2; the 100 TB design rules).

These tests assert the *plan*, not the result: filters reach the parquet
scan, projections prune the read schema, dims broadcast, top-k plans as
TakeOrderedAndProject, and the hot path stays inside WholeStageCodegen.
A correctness-green query that regresses one of these properties would
silently lose 10-100× at scale — so the properties are pinned here.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from pipetree_spark.catalog import load_table
from pipetree_spark.queries import load_registry


def plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def n_nodes(p: str, node: str) -> int:
    """Count physical-plan nodes of a type in formatted explain output
    (each node appears once as '(N) <node>' in the detail section)."""
    import re

    return len(re.findall(rf"\(\d+\) {node}\b", p))


@pytest.fixture(scope="module")
def registry():
    return load_registry()


def q(registry, name, spark, sf):
    return registry[name].fn(spark, sf)


def test_pricing_filter_pushed_and_schema_pruned(spark, sf_small, registry):
    p = plan(q(registry, "q_agg_groupby", spark, sf_small))
    # shipdate predicate reaches the parquet reader
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in p
    # scan reads only the 7 needed columns, not all 16
    read_schema = next(l for l in p.splitlines() if "ReadSchema" in l)
    assert "l_orderkey" not in read_schema and "l_comment" not in read_schema
    for col in ("l_quantity", "l_extendedprice", "l_discount", "l_tax", "l_shipdate"):
        assert col in read_schema
    # hot path stays in whole-stage codegen (codegen explain shows 0
    # subtrees under un-executed AQE plans, so toggle AQE off to check)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = q(registry, "q_agg_groupby", spark, sf_small)
        cg = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "codegen")
        assert "Found 0" not in cg and "WholeStageCodegen subtrees" in cg
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_dim_joins_broadcast(spark, sf_small, registry):
    for name in ("q_join_broadcast", "q_join_3way"):
        p = plan(q(registry, name, spark, sf_small))
        assert "BroadcastHashJoin" in p, name
        assert "CartesianProduct" not in p, name


def test_join_3way_pushdown_branch_matches_direct(spark, sf_small, registry):
    """q_join_3way picks its shape from the broadcast threshold: the
    big-customer branch pushes the agg below the customer join. Force
    that branch (threshold below customer's file size) and require
    bit-identical output to the broadcastable-customer direct shape."""
    direct = sorted(tuple(r) for r in q(registry, "q_join_3way", spark, sf_small).collect())
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1024")
        pushed = sorted(tuple(r) for r in q(registry, "q_join_3way", spark, sf_small).collect())
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert direct == pushed


def test_topk_plans_take_ordered(spark, sf_small, registry):
    p = plan(q(registry, "q_topk_global", spark, sf_small))
    assert "TakeOrderedAndProject" in p


def test_sort_multi_plans_take_ordered_not_global_sort(spark, sf_small, registry):
    """q_sort_multi's bounded rank must come from TakeOrderedAndProject
    + a ≤100-row window, never a full-relation single-partition sort
    (the r2 VERDICT scale-killer)."""
    p = plan(q(registry, "q_sort_multi", spark, sf_small))
    # the bounded top-100 comes from a per-partition heap, not a sort
    assert n_nodes(p, "TakeOrderedAndProject") == 1
    # the only Sort left is the ≤100-row re-rank feeding the Window
    assert n_nodes(p, "Window") == 1
    assert n_nodes(p, "Sort") <= 1


def test_semi_anti_plan_as_joins_not_subqueries(spark, sf_small, registry):
    for name, kind in (("q_join_semi", "LeftSemi"), ("q_join_anti", "LeftAnti")):
        p = plan(q(registry, name, spark, sf_small))
        assert kind in p, name


def test_theta_join_broadcasts_small_side(spark, sf_small, registry):
    p = plan(q(registry, "q_join_theta", spark, sf_small))
    # non-equi join must broadcast (nested loop), never a shuffled cartesian
    assert "BroadcastNestedLoopJoin" in p
    assert "CartesianProduct" not in p


def test_knn_broadcasts_query_side(spark, sf_small, registry):
    p = plan(q(registry, "q_vec_cosine_knn", spark, sf_small))
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p


def test_subqueries_decorrelate_to_joins(spark, sf_small, registry):
    """Correlated scalar subquery → aggregate+join; IN → semi; NOT IN →
    anti. No per-row subquery execution survives in the physical plan."""
    p = plan(q(registry, "q_subq_scalar", spark, sf_small))
    assert "Subquery" not in p and n_nodes(p, "HashAggregate") >= 2
    p = plan(q(registry, "q_subq_in", spark, sf_small))
    assert "LeftSemi" in p
    p = plan(q(registry, "q_subq_notin", spark, sf_small))
    assert "LeftAnti" in p


def test_projection_prunes_unused_columns(spark, sf_small):
    l = load_table(spark, sf_small, "lineitem").select("l_orderkey", "l_quantity")
    p = plan(l)
    read_schema = next(ln for ln in p.splitlines() if "ReadSchema" in ln)
    assert "l_extendedprice" not in read_schema and "l_comment" not in read_schema


def test_exact_sums_partial_combines_before_shuffle(spark, sf_small):
    """The two-level exact sum's level-1 agg must plan a partial_sum
    (map-side combine) so the shuffle carries one row per (key, pid)."""
    from pipetree_spark.exact import exact_sums

    l = load_table(spark, sf_small, "lineitem")
    g = exact_sums(l, keys=["l_returnflag"], sums={"s": ("l_quantity", 2)}, count="n")
    p = plan(g)
    assert "partial_sum" in p
    assert n_nodes(p, "Exchange") == 2  # level-1 agg, level-2 agg — no extras


def test_bucketed_materialization_kills_join_shuffle(spark, sf_small, tmp_path):
    """The 100 TB fact⋈fact recipe: bucket both sides on the join key at
    materialization → downstream sort-merge join plans ZERO exchanges
    (vs 2 for plain parquet artifacts), also via the cache-hit path."""
    from pipetree_spark.cache import ArtifactCache

    cache = ArtifactCache(str(tmp_path))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        l = load_table(spark, sf_small, "lineitem").select("l_orderkey", "l_extendedprice")
        o = load_table(spark, sf_small, "orders").select("o_orderkey", "o_orderpriority")
        lb = cache.materialize(spark, l, "lineitem_b", "k", bucket_by=(8, ["l_orderkey"]), sort_by=["l_orderkey"])
        ob = cache.materialize(spark, o, "orders_b", "k", bucket_by=(8, ["o_orderkey"]), sort_by=["o_orderkey"])
        # the sidecar commit marker is written for bucketed artifacts too
        assert cache.has(spark, "lineitem_b", "k") and cache.has(spark, "orders_b", "k")

        bucketed = plan(lb.join(ob, lb.l_orderkey == ob.o_orderkey))
        assert n_nodes(bucketed, "Exchange") == 0 and "SortMergeJoin" in bucketed

        plain = plan(l.join(o, l.l_orderkey == o.o_orderkey))
        assert n_nodes(plain, "Exchange") == 2

        hit = cache.load_bucketed(spark, "lineitem_b", "k")
        rehit = plan(hit.join(ob, hit.l_orderkey == ob.o_orderkey))
        assert n_nodes(rehit, "Exchange") == 0
        assert hit.count() == l.count()
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")


def test_no_query_collects_on_driver(registry):
    """Declared queries must be lazy: building the DataFrame must not
    trigger a job (no .collect/.toPandas in the construction path)."""
    import inspect

    for name, decl in registry.items():
        src = inspect.getsource(decl.fn)
        assert ".collect()" not in src and ".toPandas()" not in src, name


def test_tpch_q6_all_predicates_pushed(spark, sf_small, registry):
    p = plan(q(registry, "q_tpch_q6", spark, sf_small))
    pushed = next(l for l in p.splitlines() if "PushedFilters" in l)
    for frag in ("l_shipdate", "l_discount", "LessThan(l_quantity,24"):
        assert frag in pushed, f"{frag} not pushed: {pushed}"
    read_schema = next(l for l in p.splitlines() if "ReadSchema" in l)
    assert "l_orderkey" not in read_schema and "l_returnflag" not in read_schema


def test_tpch_q3_plans_take_ordered(spark, sf_small, registry):
    p = plan(q(registry, "q_tpch_q3", spark, sf_small))
    assert "TakeOrderedAndProject" in p


def test_tpch_q5_dims_broadcast(spark, sf_small, registry):
    p = plan(q(registry, "q_tpch_q5", spark, sf_small))
    # supplier, customer, nation(+region) all broadcast; only the
    # lineitem⋈orders fact join may shuffle
    assert n_nodes(p, "BroadcastHashJoin") >= 3
    assert n_nodes(p, "SortMergeJoin") + n_nodes(p, "ShuffledHashJoin") <= 1


def test_partitioned_sink_scan_prunes_partitions(spark, sf_small, registry):
    p = plan(q(registry, "q_src_partitioned", spark, sf_small))
    part_line = next(l for l in p.splitlines() if "PartitionFilters" in l)
    import re

    assert re.search(r"l_returnflag#\d+ = R", part_line), part_line


def test_gapfill_aggregates_before_spine_join(spark, sf_small, registry):
    # the events aggregation must sit BELOW the spine join: the join input
    # is one row per non-empty bucket, never one row per event
    p = plan(q(registry, "q_ts_gapfill", spark, sf_small))
    join_pos = p.find("Join")
    agg_section = p[join_pos:]
    assert "HashAggregate" in agg_section


def test_pipe_bucketed_join_has_no_exchange(spark, sf_small, registry):
    # disable broadcast so the join planning mirrors the 100 TB case
    # (at scale neither fact side fits a broadcast)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        df = q(registry, "q_pipe_bucketed", spark, sf_small)
        p = plan(df)
        # bucketed scans feed the SMJ directly; the only exchanges are
        # the exact_sums two-level aggregation's own (2)
        assert "SortMergeJoin" in p
        assert n_nodes(p, "Exchange") == 2, p[:2000]
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")


def test_kmeans_portable_broadcasts_centroids_no_smj(spark, sf_small, registry):
    """The portable Lloyd plan must keep centroids broadcast (no
    sort-merge join anywhere): assignment is a BroadcastNestedLoopJoin
    against the 1-row centroid frame, and the recompute is one
    map-side-combined shuffle on cluster per iteration."""
    p = plan(q(registry, "q_vec_kmeans_port", spark, sf_small))
    assert n_nodes(p, "SortMergeJoin") == 0
    assert "BroadcastNestedLoopJoin" in p


def test_ivf_portable_candidates_join_on_cluster(spark, sf_small, registry):
    """IVF candidate generation must be an equi-join on the cluster id
    (broadcast or shuffled hash — never a cartesian pair blow-up)."""
    p = plan(q(registry, "q_vec_ann_ivf_port", spark, sf_small))
    assert (
        n_nodes(p, "BroadcastHashJoin")
        + n_nodes(p, "ShuffledHashJoin")
        + n_nodes(p, "SortMergeJoin")
        >= 1
    )
    # the probe side explodes ≤ n_probe clusters per query — the only
    # nested-loop joins are against 1-row broadcast model state
    for line in p.splitlines():
        if "NestedLoopJoin" in line and "Broadcast" not in line:
            raise AssertionError(f"non-broadcast nested loop: {line}")


def test_plan_audit_heuristic_detects_single_reducer_windows(spark, sf_small, registry):
    """tools/plan_audit.py sweeps all queries for un-whitelisted
    single-reducer windows; this pins its detector against known
    positives (bounded-by-construction, whitelisted) and negatives
    (properly partitioned / no-order partitioned) so the full-audit
    signal can't silently rot."""
    sys_path = __import__("sys").path
    from pathlib import Path

    tools = str(Path(__file__).resolve().parent.parent / "tools")
    if tools not in sys_path:
        sys_path.insert(0, tools)
    from plan_audit import UNPARTITIONED_WINDOW_OK, unpartitioned_windows

    # r10: q_vec_kmeans_port left the positives — the init-frame
    # row_number now runs eagerly at fit time (localCheckpoint) and no
    # longer appears in the audited plan; q_agg_quantile_hist's bounded
    # cumulative-sum window is the remaining whitelisted positive.
    positives = ["q_stream_watermark", "q_sort_multi", "q_agg_quantile_hist"]
    negatives = ["q_win_rownum", "q_topk_pergroup", "q_ts_locf", "q_tpch_q21",
                 "q_vec_kmeans_port"]
    for name in positives:
        assert unpartitioned_windows(plan(q(registry, name, spark, sf_small))) >= 1, name
        assert name in UNPARTITIONED_WINDOW_OK, f"{name} must carry a documented bound"
    for name in negatives:
        assert unpartitioned_windows(plan(q(registry, name, spark, sf_small))) == 0, name


def test_plan_audit_fails_on_dead_waivers():
    """A whitelist entry whose query has NO unpartitioned window left in
    its plan is a DEAD waiver — it would pre-excuse a future
    single-reducer regression unnoticed (r6 verdict finding #2). The
    audit must flag exactly the unmatched entries; every current
    whitelist entry must be exercised by the live test positives or the
    audit run itself."""
    sys_path = __import__("sys").path
    from pathlib import Path

    tools = str(Path(__file__).resolve().parent.parent / "tools")
    if tools not in sys_path:
        sys_path.insert(0, tools)
    from plan_audit import UNPARTITIONED_WINDOW_OK, dead_waivers

    rows = [
        {"name": n, "unpart_windows": 1, "cartesian": 0}
        for n in UNPARTITIONED_WINDOW_OK
    ]
    assert dead_waivers(rows) == []                      # all live → none dead
    assert dead_waivers(rows[1:]) == [rows[0]["name"]]   # missing → flagged
    # an errored query must NOT count as live (error rows lack features)
    errored = [{"name": rows[0]["name"], "error": "boom"}] + rows[1:]
    assert dead_waivers(errored) == [rows[0]["name"]]
    # the four r6 dead waivers stay pruned
    assert not {"q_limit", "q_subq_recursive", "q_tpch_q2", "q_vec_pca_port"} & set(
        UNPARTITIONED_WINDOW_OK
    )


def test_aqe_splits_skewed_join_partitions(spark, sf_small):
    """Skew discipline at join time is AQE's job (SURVEY §4.3): with a
    deliberately skewed key (60% of rows on one user) and thresholds
    scaled down to local data sizes, the executed plan must mark the
    sort-merge join skew=true (partition split at runtime)."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.5",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
    }
    old = {}
    for k, v in confs.items():
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
        spark.conf.set(k, v)
    try:
        # synthetic skew: 80% of 300k rows on one key. Needs enough
        # shuffle bytes for the size-based detector (the parquet test
        # tables compress below it) and multiple map tasks (splits
        # happen along map-output boundaries — always true at scale).
        big = spark.range(300_000).select(
            F.when(F.col("id") % 10 < 8, 0).otherwise(F.col("id") % 1000).alias("skey"),
            F.col("id").alias("payload"),
        )
        dim = spark.range(1000).select(F.col("id").alias("skey"))
        # collect the JOINED dataset itself: the skew marker lives in the
        # final adaptive plan of the executed dataset (an agg on top
        # would veto the split — it breaks the agg's required
        # distribution — unless forceOptimizeSkewedJoin is set)
        j = big.join(dim, "skey")
        assert len(j.collect()) == 300_000
        final = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in final, final[:3000]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_salted_join_plans_shuffle_hash_not_broadcast(spark, sf_small, registry):
    """q_join_salted exists to exercise the salted SHUFFLE path — a
    broadcast would bypass the salt entirely (and at real skew scale the
    build side can't broadcast). Pin the hint: the salted join must plan
    as ShuffledHashJoin on the composite (key, salt) with zero
    BroadcastHashJoin in the whole query."""
    p = plan(q(registry, "q_join_salted", spark, sf_small))
    assert n_nodes(p, "ShuffledHashJoin") == 1
    assert n_nodes(p, "BroadcastHashJoin") == 0
    assert n_nodes(p, "SortMergeJoin") == 0


def test_dynamic_partition_pruning_fires_on_partitioned_artifact(spark, sf_small, tmp_path):
    """Partition-pruned sinks are only half the 100 TB story — the other
    half is that a JOIN against a filtered dim prunes fact partitions at
    RUNTIME (DPP). Lay orders out partitioned by o_orderpriority, join
    to a one-priority dim, and assert the scan carries a dynamic pruning
    predicate — i.e. Spark reads 1 of 5 partitions, not all of them."""
    fact_dir = str(tmp_path / "orders_part")
    o = load_table(spark, sf_small, "orders")
    o.write.partitionBy("o_orderpriority").parquet(fact_dir)
    fact = spark.read.parquet(fact_dir)

    # Case 1: dim filtered ON the join column — Catalyst propagates the
    # equality constraint statically: the literal lands in the fact
    # scan's PartitionFilters with no runtime machinery at all.
    dim_static = (
        o.select("o_orderpriority").distinct()
        .filter(F.col("o_orderpriority") == "1-URGENT")
    )
    p_static = plan(fact.join(F.broadcast(dim_static), "o_orderpriority").groupBy().count())
    assert any(
        "PartitionFilters" in ln and "1-URGENT" in ln for ln in p_static.splitlines()
    ), p_static

    # Case 2: dim filtered on a NON-join attribute — the partition value
    # is only known at runtime, so the scan must carry a dynamicpruning
    # subquery (DPP). Without it, a 100 TB date-partitioned fact would
    # read every partition for a "last week's dates" dim filter.
    dim_attr = (
        o.select("o_orderpriority").distinct()
        .withColumn("prio_class", F.substring("o_orderpriority", 1, 1).cast("int"))
    )
    joined = (
        fact.join(F.broadcast(dim_attr), "o_orderpriority")
        .filter(F.col("prio_class") == 1)
        .groupBy()
        .count()
    )
    p = plan(joined)
    assert "dynamicpruning" in p.lower(), p


def test_incremental_agg_merge_equals_flat_recompute(spark, sf_small):
    """q_agg_incremental's merge invariant, engine-side: stored-partial +
    batch-partial merge must equal the flat recompute bit-for-bit (the
    oracle proves it cross-engine; this pins it against the Spark plan
    alone, including groups present on only one side of the split)."""
    from pipetree_spark.exact import dec, dsum

    reg = load_registry()
    inc = {tuple(r) for r in reg["q_agg_incremental"].fn(spark, sf_small).collect()}
    o = load_table(spark, sf_small, "orders")
    flat = {
        tuple(r)
        for r in o.groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            dsum("o_totalprice").alias("sum_price"),
            (dsum("o_totalprice") / F.count("*")).alias("avg_price"),
            F.min("o_orderdate").alias("first_date"),
            F.max(dec("o_totalprice", 2)).cast("double").alias("max_price"),
        )
        .collect()
    }
    assert inc == flat
    # the split boundary leaves at least one side non-trivial at sf0.001
    assert o.filter(F.col("o_orderdate") < "1996-01-01").count() > 0
    assert o.filter(F.col("o_orderdate") >= "1996-01-01").count() > 0


# ---------------------------------------------------------------------------
# Signed-zero lint gate (r11): the class is closed by CONSTRUCTION, not by
# corpus sweeps — the -0.0 sweep missed q_vec_norm twice because the
# on-disk corpora never produce a rounds-to-zero negative sum (r10 verdict).
# ---------------------------------------------------------------------------


def _lint_tree(pkg_dir):
    import sys
    from pathlib import Path

    tools = Path(__file__).resolve().parents[1] / "tools"
    sys.path.insert(0, str(tools))
    try:
        import negzero_lint

        errors: list[str] = []
        matched = set()
        for path in sorted(Path(pkg_dir).rglob("*.py")):
            errs, waived = negzero_lint.lint_file(path)
            errors.extend(errs)
            matched |= waived
        return errors, matched
    finally:
        sys.path.remove(str(tools))


def test_negzero_lint_repo_is_clean():
    """Every F.round() in the package is pin_zero-wrapped, integral-cast,
    or carries a written non-negativity waiver — and no waiver is dead."""
    import subprocess
    import sys
    from pathlib import Path

    root = Path(__file__).resolve().parents[1]
    r = subprocess.run(
        [sys.executable, str(root / "tools" / "negzero_lint.py")],
        capture_output=True,
        text=True,
    )
    assert r.returncode == 0, r.stdout + r.stderr


def test_negzero_lint_catches_planted_emitter(tmp_path):
    """The lint must FAIL on a deliberately planted unpinned signable
    round() (the r10 'closure evidence overstated' finding: an audit that
    cannot catch a planted emitter proves nothing)."""
    import sys
    from pathlib import Path

    tools = Path(__file__).resolve().parents[1] / "tools"
    sys.path.insert(0, str(tools))
    try:
        import negzero_lint

        bad = tmp_path / "planted.py"
        bad.write_text(
            "from pyspark.sql import functions as F\n"
            "def q_planted(df):\n"
            "    return df.select(F.round(df.x - df.y, 4).alias('diff'))\n"
        )
        # lint_file keys off paths relative to the package dir; point PKG
        # at tmp_path for this call
        old_pkg = negzero_lint.PKG
        negzero_lint.PKG = tmp_path
        try:
            errs, _ = negzero_lint.lint_file(bad)
        finally:
            negzero_lint.PKG = old_pkg
        assert len(errs) == 1 and "unpinned F.round()" in errs[0]

        # pinned and integral-cast forms must both pass
        ok = tmp_path / "clean.py"
        ok.write_text(
            "from pyspark.sql import functions as F\n"
            "from pipetree_spark.exact import pin_zero\n"
            "def q_ok(df):\n"
            "    a = pin_zero(F.round(df.x - df.y, 4)).alias('diff')\n"
            "    b = F.round(df.x * 100).cast('long').alias('cents')\n"
            "    return df.select(a, b)\n"
        )
        negzero_lint.PKG = tmp_path
        try:
            errs, _ = negzero_lint.lint_file(ok)
        finally:
            negzero_lint.PKG = old_pkg
        assert errs == []
    finally:
        sys.path.remove(str(tools))


# ---------------------------------------------------------------------------
# Checkpoint lint: every localCheckpoint, and every reach into a checkpoint's
# RDD through its analyzed plan, goes through ops/relational.py (checkpoint,
# release, stored_bytes), so one module owns when storage is pinned and freed.
# ---------------------------------------------------------------------------

_CHECKPOINT_CALLS = (".localCheckpoint(", "analyzed().rdd()")


def _checkpoint_call_sites(root) -> list[tuple[str, str, int]]:
    """(relpath, call, count) for each checkpoint call in the CODE of the
    .py files under ``root``: only name and operator tokens are kept, so
    comments, docstrings and other string literals never match."""
    import io
    import tokenize
    from pathlib import Path

    hits = []
    for path in sorted(Path(root).rglob("*.py")):
        toks = tokenize.generate_tokens(io.StringIO(path.read_text()).readline)
        code = "".join(t.string for t in toks if t.type in (tokenize.NAME, tokenize.OP))
        rel = path.relative_to(root).as_posix()
        hits += [(rel, c, code.count(c)) for c in _CHECKPOINT_CALLS if c in code]
    return hits


def test_checkpoint_calls_only_in_ops_relational():
    from pathlib import Path

    root = Path(__file__).resolve().parents[1]
    pkg = _checkpoint_call_sites(root / "pipetree_spark")
    assert {h[0] for h in pkg} == {"ops/relational.py"}  # the helper is seen, nothing else
    assert _checkpoint_call_sites(root / "tools") == []


def test_checkpoint_lint_catches_planted_call(tmp_path):
    """The lint must FAIL on planted calls in code and ignore the same text
    in comments and docstrings."""
    (tmp_path / "planted.py").write_text(
        "def q_planted(df):\n"
        '    """Pins with df.localCheckpoint(eager=True); see analyzed().rdd()."""\n'
        "    # df.localCheckpoint(eager=True)\n"
        "    out = df.localCheckpoint (eager=True)\n"
        "    out._jdf.queryExecution().analyzed()\\\n"
        "        .rdd().unpersist(False)\n"
        "    return out\n"
    )
    (tmp_path / "clean.py").write_text(
        '"""A docstring may name df.localCheckpoint( and analyzed().rdd()."""\n'
        "# so may a comment: df.localCheckpoint(eager=True)\n"
        "MSG = 'analyzed().rdd()'\n"
    )
    assert _checkpoint_call_sites(tmp_path) == [
        ("planted.py", ".localCheckpoint(", 1),
        ("planted.py", "analyzed().rdd()", 1),
    ]


def test_negzero_lint_string_channel(tmp_path):
    """r12 (r11-advice fix): round() inside F.expr/selectExpr/spark.sql
    STRING literals is linted too — integral casts and the '+ 0.0' twin
    pass, a bare signable round() fails."""
    import sys
    from pathlib import Path

    root = Path(__file__).resolve().parents[1]
    sys.path.insert(0, str(root / "tools"))
    try:
        import negzero_lint
    finally:
        sys.path.pop(0)

    errs: list[str] = []
    negzero_lint._scan_sql_literal("round(x - y, 2) AS z", "f.py", 1, "q", errs)
    assert len(errs) == 1 and "STRING" in errs[0]
    ok: list[str] = []
    for s in (
        "CAST(round(value * 100) AS BIGINT)",
        "round(a / b, 4) + 0.0 AS s",
        "round(n, 2)::bigint",
        "no rounds here",
    ):
        negzero_lint._scan_sql_literal(s, "f.py", 1, "q", ok)
    assert ok == [], ok

    # end-to-end: a file using F.expr with a bare round() fails lint_file
    bad = root / "pipetree_spark" / "__lint_probe__.py"
    bad.write_text(
        "from pyspark.sql import functions as F\n"
        "def q():\n"
        "    return F.expr('round(a - b, 2) as s')\n"
    )
    try:
        errs2, _ = negzero_lint.lint_file(bad)
        assert any("STRING" in e for e in errs2), errs2
    finally:
        bad.unlink()
