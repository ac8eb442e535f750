"""Unit tests for ops.relational on tiny literal frames with exact
expected outputs (SURVEY §5.3.2)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pipetree_spark.ops.relational import asof_join, range_join, salted, topk_per_group


def _trades(spark):
    return spark.createDataFrame(
        [(1, "A", 100), (2, "A", 205), (3, "B", 150)], "trade_id long, sym string, t long"
    )


def _quotes(spark):
    return spark.createDataFrame(
        [("A", 90, 10.0), ("A", 100, 11.0), ("A", 200, 12.0), ("B", 160, 20.0)],
        "sym string, t long, px double",
    )


def test_asof_backward(spark):
    out = asof_join(
        _trades(spark), _quotes(spark), on=["sym"], left_time="t", right_time="t",
        left_key="trade_id",
    ).collect()
    picked = {r["trade_id"]: r["px_r"] for r in out}
    # trade 1 @100: latest quote ≤100 is (A,100,11.0) — inclusive boundary
    # trade 2 @205: latest quote ≤205 is (A,200,12.0)
    # trade 3 @150: no B quote ≤150 → left join keeps row with null
    assert picked == {1: 11.0, 2: 12.0, 3: None}


def test_asof_left_keeps_match_when_left_has_nulls(spark):
    """how='left' re-attaches by the unique left_key only — a NULL in
    any OTHER left column must not lose the row's asof match (the old
    all-columns rejoin never equi-matched NULLs)."""
    trades = spark.createDataFrame(
        [(1, "A", 100, None), (2, "A", 205, "x")],
        "trade_id long, sym string, t long, note string",
    )
    out = asof_join(
        trades, _quotes(spark), on=["sym"], left_time="t", right_time="t",
        left_key="trade_id",
    ).collect()
    picked = {r["trade_id"]: r["px_r"] for r in out}
    assert picked == {1: 11.0, 2: 12.0}  # NULL note row still matched


def test_asof_forward_inner(spark):
    out = asof_join(
        _trades(spark), _quotes(spark), on=["sym"], left_time="t", right_time="t",
        left_key="trade_id", direction="forward", how="inner",
    ).collect()
    picked = {r["trade_id"]: r["px_r"] for r in out}
    # trade 1 @100: earliest A quote ≥100 is (A,100,11.0) — inclusive boundary
    # trade 2 @205: no A quote ≥205 (max is 200) → dropped by inner
    # trade 3 @150: earliest B quote ≥150 is (B,160,20.0)
    assert picked == {1: 11.0, 3: 20.0}


def test_asof_forward_drops_unmatched_inner(spark):
    out = asof_join(
        _trades(spark).filter(F.col("trade_id") == 2),
        _quotes(spark),
        on=["sym"], left_time="t", right_time="t", left_key="trade_id",
        direction="forward", how="inner",
    ).collect()
    assert out == []  # no A quote at/after t=205


def test_range_join_bounds(spark):
    left = spark.createDataFrame([(1, "u", 100)], "id long, k string, t long")
    right = spark.createDataFrame(
        [("u", 100), ("u", 101), ("u", 400), ("u", 401), ("v", 150)], "k string, t long"
    )
    out = range_join(left, right, on=["k"], left_time="t", right_time="t", lower=1, upper=300)
    ts = sorted(r["t"] for r in out.select(F.col("r.t")).collect())
    assert ts == [101, 400]  # strictly after, within +300; (u,100) excluded, (v,*) excluded


def test_topk_deterministic_under_ties(spark):
    df = spark.createDataFrame(
        [("g", 5, 1), ("g", 5, 2), ("g", 5, 3), ("g", 4, 4)], "g string, score long, id long"
    )
    out = topk_per_group(df, ["g"], [F.col("score").desc(), F.col("id")], k=2).collect()
    assert [(r["id"], r["rnk"]) for r in sorted(out, key=lambda r: r["rnk"])] == [(1, 1), (2, 2)]


def test_salted_stable_and_bounded(spark):
    df = spark.createDataFrame([(i,) for i in range(100)], "k long")
    s1 = salted(df, "k", 8).collect()
    s2 = salted(df, "k", 8).collect()
    assert {r["k"]: r["__salt"] for r in s1} == {r["k"]: r["__salt"] for r in s2}
    assert all(0 <= r["__salt"] < 8 for r in s1)


def test_approx_quantile_within_rsd(spark, sf_small, sf_med):
    """q_agg_approx_quantile's GK sketches (accuracy 10000, so rank
    error ε·n with ε = 1e-4) must land inside DuckDB's exact
    ``quantile_disc`` at p ± (ε + 1/n) on the same parquet — the extra
    1/n is one rank of slack between the two engines' discrete-quantile
    conventions. The exact median is checked against DuckDB's too."""
    import duckdb

    from pipetree_spark.catalog import table_path
    from pipetree_spark.queries import load_registry

    eps = 1.0 / 10000
    fn = load_registry()["q_agg_approx_quantile"].fn
    for sf in (sf_small, sf_med):
        src = f"read_parquet('{table_path(sf, 'lineitem')}')"
        rows = fn(spark, sf).collect()
        assert len(rows) == 3
        for r in rows:
            where = f"FROM {src} WHERE l_returnflag = '{r['l_returnflag']}'"
            n, median = duckdb.sql(f"SELECT count(*), median(l_extendedprice) {where}").fetchone()
            assert r["exact_median"] == pytest.approx(median, rel=1e-12)
            tol = eps + 1.0 / n
            for col, p in (("approx_median", 0.5), ("approx_p95", 0.95)):
                lo, hi = duckdb.sql(
                    f"SELECT quantile_disc(l_extendedprice, {max(0.0, p - tol)}),"
                    f" quantile_disc(l_extendedprice, {min(1.0, p + tol)}) {where}"
                ).fetchone()
                assert lo <= r[col] <= hi, (sf, r["l_returnflag"], col, lo, r[col], hi)


def test_agg_mode_tie_breaks_on_smallest_value(spark, tmp_path):
    """q_agg_mode's contract is the PINNED tie-break: equal counts →
    smallest value wins. Plant an exact tie and assert it."""
    from pipetree_spark.queries.aggregates import q_agg_mode

    rows = [
        (1, 7, "F", 10.0, "2024-01-01", "3-MEDIUM"),
        (2, 7, "F", 10.0, "2024-01-01", "1-URGENT"),
        (3, 7, "F", 10.0, "2024-01-01", "3-MEDIUM"),
        (4, 7, "F", 10.0, "2024-01-01", "1-URGENT"),  # tie: 2x each
        (5, 7, "O", 10.0, "2024-01-01", "5-LOW"),
    ]
    df = spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate string, o_orderpriority string",
    ).withColumn("o_orderdate", F.col("o_orderdate").cast("timestamp_ntz"))
    out = str(tmp_path / "sf")
    df.coalesce(1).write.parquet(out + "/orders.parquet")
    got = {r.o_orderstatus: (r.mode_priority, r.n) for r in q_agg_mode(spark, out).collect()}
    assert got == {"F": ("1-URGENT", 2), "O": ("5-LOW", 1)}


def test_countmin_never_undercounts_and_is_exact_without_collisions(spark, sf_small):
    """CMS guarantee on real data: estimate >= exact for every probe
    key, and for keys whose 4 cells all happen to be collision-free the
    estimate equals the exact count."""
    from pipetree_spark.queries.aggregates import q_agg_countmin

    rows = q_agg_countmin(spark, sf_small).collect()
    assert len(rows) == 10
    for r in rows:
        assert r.overcount >= 0, r
        assert r.est == r.exact_cnt + r.overcount


def test_binned_interval_join_equals_theta_join(spark):
    """ops/relational.binned_interval_join must return EXACTLY the
    theta-join pair set (boundary |Δ| = delta inclusive, bucket-edge
    pairs included via the ±1 replication, no duplicate pairs from the
    3× replication), and reject column collisions / non-positive
    delta."""
    import random

    import pytest

    from pipetree_spark.ops.relational import binned_interval_join

    rng = random.Random(7)
    left = [(i, rng.randrange(0, 1000)) for i in range(80)]
    right = [(1000 + j, rng.randrange(0, 1000)) for j in range(120)]
    # force boundary cases: exact-delta gap and same-bucket-edge pairs
    left += [(900, 100), (901, 199)]
    right += [(1900, 130), (1901, 229)]
    delta = 30
    l = spark.createDataFrame(left, "lid long, lt long")
    r = spark.createDataFrame(right, "rid long, rt long")
    got = sorted(
        (row.lid, row.rid)
        for row in binned_interval_join(l, r, "lt", "rt", delta).collect()
    )
    expect = sorted(
        (lid, rid)
        for lid, lt in left
        for rid, rt in right
        if abs(lt - rt) <= delta
    )
    assert got == expect and len(got) == len(set(got))

    with pytest.raises(ValueError, match="collision"):
        binned_interval_join(l, l, "lt", "lt", delta)
    with pytest.raises(ValueError, match="positive"):
        binned_interval_join(l, r, "lt", "rt", 0)


def test_table_fingerprint_invariance_sensitivity_and_merge_law(spark):
    """ops/sketch.table_fingerprint: invariant under row order and
    partitioning; any single-row change moves it; group fingerprints
    fold into the global one by modular addition (the incremental
    check's algebra); NULL layouts don't alias."""
    from pipetree_spark.ops.sketch import FP_MOD, table_fingerprint

    rows = [(i, f"v{i}", "a" if i % 2 else "b") for i in range(200)]
    df = spark.createDataFrame(rows, "id long, s string, g string")
    base = table_fingerprint(df, ["id", "s"], ["g"]).collect()
    fp = {r.g: (r.n_rows, r.fp) for r in base}

    shuffled = spark.createDataFrame(rows[::-1], "id long, s string, g string").repartition(7)
    fp2 = {r.g: (r.n_rows, r.fp) for r in table_fingerprint(shuffled, ["id", "s"], ["g"]).collect()}
    assert fp == fp2

    mutated = [(i, "MUTANT" if i == 137 else f"v{i}", "a" if i % 2 else "b") for i in range(200)]
    fp3 = {r.g: (r.n_rows, r.fp) for r in table_fingerprint(
        spark.createDataFrame(mutated, "id long, s string, g string"), ["id", "s"], ["g"]).collect()}
    assert fp3["a"] != fp["a"] and fp3["b"] == fp["b"]

    # merge law: global fp == sum of group fps (mod p), counts add
    g = table_fingerprint(df, ["id", "s"]).collect()[0]
    assert g.n_rows == sum(n for n, _ in fp.values())
    assert g.fp == sum(f for _, f in fp.values()) % FP_MOD

    # NULL vs empty-string vs shifted-NULL layouts all distinct
    n1 = spark.createDataFrame([(None, "a")], "x string, y string")
    n2 = spark.createDataFrame([("", "a")], "x string, y string")
    n3 = spark.createDataFrame([("a", None)], "x string, y string")
    fps = {table_fingerprint(d, ["x", "y"]).collect()[0].fp for d in (n1, n2, n3)}
    assert len(fps) == 3


def test_snapshot_diff_classifies_and_skips_unchanged(spark):
    """ops/relational.snapshot_diff on hand snapshots: added/removed/
    changed classified by hash, unchanged keys absent from the output."""
    from pipetree_spark.ops.relational import snapshot_diff

    old = spark.createDataFrame(
        [(1, "h1"), (2, "h2"), (3, "h3")], "k long, rh string"
    )
    new = spark.createDataFrame(
        [(2, "h2"), (3, "h3x"), (4, "h4")], "k long, rh string"
    )
    got = {(r.k, r.status) for r in snapshot_diff(old, new, ["k"], "rh").collect()}
    assert got == {(1, "removed"), (3, "changed"), (4, "added")}


def test_zorder_key_interleave_and_locality(spark):
    """ops/relational.zorder_key: exact Morton interleave on a full
    32×32 grid, and the locality contract — 16 consecutive z codes
    form a 4×4 tile (span ≤ 3 in BOTH dims), where a 1-D sort leaves
    the untracked dimension spanning 15. This is the property that
    makes min-max stats prune on either filter column."""
    from pipetree_spark.ops.relational import zorder_key

    pts = [(n, b) for n in range(32) for b in range(32)]
    df = spark.createDataFrame(pts, "n long, b long").select(
        "n", "b", zorder_key("n", "b", bits=5).alias("z")
    )
    got = sorted((r.z, r.n, r.b) for r in df.collect())

    def ref_z(n, b):
        out = 0
        for k in range(5):
            out |= ((n >> k) & 1) << (2 * k)
            out |= ((b >> k) & 1) << (2 * k + 1)
        return out

    assert [(z, n, b) for z, n, b in got] == sorted(
        (ref_z(n, b), n, b) for n, b in pts
    )
    # z codes over the full grid are a permutation of 0..1023
    assert [z for z, _, _ in got] == list(range(1024))
    for i in range(0, 1024, 16):
        chunk = got[i : i + 16]
        assert max(n for _, n, _ in chunk) - min(n for _, n, _ in chunk) <= 3
        assert max(b for _, _, b in chunk) - min(b for _, _, b in chunk) <= 3


def test_kmv_sketch_estimates_and_set_op_laws(spark):
    """ops/sketch KMV: unsaturated sketches are EXACT; saturated
    estimates land within the order-statistic error envelope
    (~3/sqrt(k)); the union law (k-min of merged sketches == sketch
    of union) holds exactly; intersection hit-rate tracks Jaccard."""
    from pyspark.sql import functions as F

    from pipetree_spark.ops.sketch import kmv_estimate, kmv_sketch, kmv_union

    k = 128
    # A = 0..3999, B = 2000..5999 → |A|=|B|=4000, |A∪B|=6000, |A∩B|=2000
    a = spark.range(0, 4000).withColumnRenamed("id", "v")
    b = spark.range(2000, 6000).withColumnRenamed("id", "v")
    ska, skb = kmv_sketch(a, "v", k), kmv_sketch(b, "v", k)

    def est_of(sk):
        return (
            sk.agg(F.count("*").alias("cnt"), F.max("h").alias("hk"))
            .select(kmv_estimate(k).alias("e"))
            .collect()[0]
            .e
        )

    tol = 3.0 / (k ** 0.5)  # ~26% at k=128
    assert abs(est_of(ska) - 4000) / 4000 < tol
    assert abs(est_of(skb) - 4000) / 4000 < tol

    sku = kmv_union(ska, skb, k)
    # union law: merged k-min == sketch built from the union directly
    direct = kmv_sketch(a.unionByName(b), "v", k)
    assert [r.h for r in sku.orderBy("h").collect()] == [
        r.h for r in direct.orderBy("h").collect()
    ]
    assert abs(est_of(sku) - 6000) / 6000 < tol

    hits = sku.join(ska, "h", "semi").join(skb, "h", "semi").count()
    est_inter = hits * est_of(sku) / k
    # Jaccard = 1/3 → binomial std ~ sqrt(J(1-J)/k) ≈ 0.042; 4σ bound
    assert abs(est_inter - 2000) / 6000 < 4 * (1 / 3 * 2 / 3 / k) ** 0.5 + tol / 3

    # unsaturated → exact count, no estimator involved
    small = spark.range(0, 50).withColumnRenamed("id", "v")
    assert est_of(kmv_sketch(small, "v", k)) == 50.0


def test_incremental_join_delta_algebra(spark):
    """ops/relational.incremental_join_delta: stored ∪ delta must be
    EXACTLY the full join as a multiset, on random insert splits —
    including duplicate join keys on both sides (multiplicity
    products) and keys appearing only in a delta."""
    import random

    from pipetree_spark.ops.relational import incremental_join_delta

    rng = random.Random(11)
    a = [(rng.randrange(0, 20), i) for i in range(120)]
    b = [(rng.randrange(0, 20), 1000 + j) for j in range(150)]
    adf = spark.createDataFrame(a, "k long, av long")
    bdf = spark.createDataFrame(b, "k long, bv long")
    a_old = adf.where(F.col("av") % 3 != 0)
    a_new = adf.where(F.col("av") % 3 == 0)
    b_old = bdf.where(F.col("bv") % 4 != 0)
    b_new = bdf.where(F.col("bv") % 4 == 0)

    full = sorted((r.k, r.av, r.bv) for r in adf.join(bdf, "k").collect())
    stored = a_old.join(b_old, "k")
    delta = incremental_join_delta(a_old, a_new, b_old, b_new, ["k"])
    maintained = sorted(
        (r.k, r.av, r.bv) for r in stored.unionByName(delta).collect()
    )
    assert maintained == full


def test_asof_join_tolerance_bounds_the_match_window(spark):
    """asof_join tolerance semantics (merge_asof parity): a right row
    beyond the tolerance must NOT match even if it is the nearest one,
    in both directions; how='left' keeps the unmatched left row."""
    from pipetree_spark.ops.relational import asof_join

    left = spark.createDataFrame([(1, 1, 100), (2, 1, 500)], "lk long, k long, t long")
    right = spark.createDataFrame(
        [(10, 1, 90), (11, 1, 430)], "rid long, k long, rt long"
    )
    fwd = {
        r.lk: r.rid_r
        for r in asof_join(
            left, right, ["k"], "t", "rt", "lk",
            direction="forward", tolerance=50,
        ).collect()
    }
    # lk=1 at t=100: nearest forward rt=430 (gap 330) > 50; lk=2 at
    # t=500 has no forward row at all — both unmatched but present
    assert fwd == {1: None, 2: None}
    bwd = {
        r.lk: r.rid_r
        for r in asof_join(
            left, right, ["k"], "t", "rt", "lk",
            direction="backward", tolerance=50,
        ).collect()
    }
    # lk=1: rt=90 within 50 back → match; lk=2 at 500: rt=430 gap 70 > 50 → none
    assert bwd == {1: 10, 2: None}
    # no tolerance → plain as-of: both match their nearest side
    bwd_all = {
        r.lk: r.rid_r
        for r in asof_join(left, right, ["k"], "t", "rt", "lk").collect()
    }
    assert bwd_all == {1: 10, 2: 11}


def test_sized_repartition_hits_target_file_sizes(spark, tmp_path):
    """sized_repartition: the measured-sample sizing must produce
    multiple near-target files for a frame much larger than the
    target, and a single partition for a tiny frame."""
    from pathlib import Path

    from pyspark.sql import functions as F

    from pipetree_spark.ops.relational import sized_repartition

    df = spark.range(20000).select(
        "id", F.sha2(F.col("id").cast("string"), 256).alias("payload")
    )
    out = sized_repartition(
        df, str(tmp_path), target_bytes=64 << 10, sample_rows=2000
    )
    n = out.rdd.getNumPartitions()
    assert n > 1
    dest = tmp_path / "sized_out"
    out.write.parquet(str(dest))
    files = [f for f in Path(dest).rglob("*.parquet") if f.is_file()]
    assert len(files) == n
    sizes = [f.stat().st_size for f in files]
    # loose band: parquet metadata overhead + compression variance
    assert all(8 << 10 < s < 5 * (64 << 10) for s in sizes), sizes

    tiny = sized_repartition(
        spark.range(5), str(tmp_path), target_bytes=64 << 10
    )
    assert tiny.rdd.getNumPartitions() == 1

    # r14 hardening: the size-probe directory must be cleaned up
    # (previously leaked one __size_probe_* dir per call)
    assert not list(Path(tmp_path).glob("__size_probe_*"))


def test_sized_repartition_precomputed_rows_and_registry(spark, tmp_path):
    """r14: precomputed_rows skips the input count (a caller that
    already paid for a count must not re-evaluate a long pipeline),
    and the op is JSON-spec-declarable through the registry."""
    from pathlib import Path

    from pyspark.sql import functions as F

    from pipetree_spark.ops.relational import sized_repartition
    from pipetree_spark.pipeline import _op_registry

    df = spark.range(20000).select(
        "id", F.sha2(F.col("id").cast("string"), 256).alias("payload")
    )
    out = sized_repartition(
        df,
        str(tmp_path),
        target_bytes=64 << 10,
        sample_rows=2000,
        precomputed_rows=20000,
    )
    assert out.rdd.getNumPartitions() > 1
    assert not list(Path(tmp_path).glob("__size_probe_*"))

    fn, arity = _op_registry()["sized_repartition"]
    assert arity == 1
    spec_out = fn(df, str(tmp_path), target_bytes=64 << 10)
    assert spec_out.rdd.getNumPartitions() > 1


def test_fan_out_floors_small_scans_and_noops_elsewhere(spark, tmp_path):
    """r15 fan_out: a one-file scan below defaultParallelism splits gets
    round-robin repartitioned to the parallelism floor with identical
    rows; frames with no file leaves (in-memory) are left alone; a scan
    already yielding >= target splits is returned unchanged (same plan
    object, no added exchange)."""
    from pipetree_spark.ops.relational import fan_out

    p = str(tmp_path / "small")
    spark.range(500).select(
        "id", F.sha2(F.col("id").cast("string"), 256).alias("t")
    ).coalesce(1).write.parquet(p)
    small = spark.read.parquet(p)
    assert small.rdd.getNumPartitions() == 1
    spread = fan_out(small)
    target = spark.sparkContext.defaultParallelism
    assert spread.rdd.getNumPartitions() == target
    # identical multiset of rows
    assert sorted(r["id"] for r in spread.collect()) == list(range(500))

    # in-memory frame: no file leaves -> untouched
    mem = spark.createDataFrame([(1,), (2,)], "x long")
    assert fan_out(mem) is mem

    # many-file scan at/above the floor -> untouched (no-op at scale)
    p2 = str(tmp_path / "manyfiles")
    spark.range(target * 20).repartition(target).write.parquet(p2)
    many = spark.read.parquet(p2)
    assert fan_out(many) is many

    # pushdown survives the floor: a filter below fan_out still reaches
    # the parquet scan (PushedFilters), so eval-style branches stay cheap
    plan = fan_out(small).filter(F.col("id") < 5)._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "LessThan(id,5)" in plan
