"""Graph operators for dedup clustering (SURVEY §2.12 extension).

Near-duplicate pairs (shingle-Jaccard / MinHash / SimHash) are edges;
turning them into *clusters* (pick one keeper per component) needs
connected components. This is the one genuinely iterative operator in
the engine: each iteration is pure DataFrame work (join + groupBy —
fully distributed, no driver data), and only the converged?-flag comes
back to the driver, mirroring Spark GraphX/GraphFrames' own driver-side
iteration loops.

Scale notes (100 TB discipline):
- Label propagation converges in O(max component diameter) rounds;
  near-dup graphs are overwhelmingly tiny star/clique components, so
  3-5 rounds are typical regardless of corpus size.
- Each round is checkpointed (``ops.relational.checkpoint``), which
  truncates the lineage — without it the plan doubles per iteration and
  the driver OOMs on plan bytes long before data is a problem — and the
  previous round is freed once the new one is stored, so an op leaves
  pinned only what its returned plan reads.
- Each round shuffles |edges| + |nodes| rows on node id; no
  driver-side collection of labels ever happens.

Reference note: /root/reference is empty (SURVEY §0); the reference
orchestrator has no graph surface — north-star extension.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from pipetree_spark.ops.relational import checkpoint, release


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    check_every: int = 3,
    jump_after: int = 4,
) -> DataFrame:
    """Min-label connected components over an undirected edge list.

    Returns ``(node, component)`` where ``component`` is the smallest
    node id reachable from ``node`` — a deterministic canonical label.

    Every node that appears in ``edges`` is labeled (isolated nodes
    aren't known to an edge list; callers union them in if needed).

    Raises ``RuntimeError`` if ``max_iter`` rounds pass while labels are
    still changing (component diameter > max_iter): silently returning
    half-propagated labels would split one real component into several.

    Convergence checking is FREE (r15, guide §1.2/§7.3): the
    changed-labels count rides the round's checkpoint materialization
    as a ``DataFrame.observe`` metric (one CollectMetrics node in the
    already-running job), so it costs zero extra jobs and zero extra
    passes — the r12 amortization (``check_every``) existed to dodge a
    separate count job per round; with the count folded into the round
    itself, checking EVERY round is strictly cheaper than running even
    one unneeded extra round (each round is a full |edges|+|nodes|
    shuffle; the metric is a per-task counter). ``check_every`` is
    kept for API compatibility and ignored. The round-r comparison
    ``component < __own`` measures exactly whether one more round
    would change anything, so the final check doubles as the FIXPOINT
    ASSERTION, as before.

    Per-round cost (r6 rewrite — was the slowest op in the suite at
    11.6 s sf0.1): ONE shuffle job per round. The old label rides the
    same tagged union the neighbor labels do, so ``min(component)`` and
    ``min(__own)`` come out of one groupBy and "did anything change?"
    is a filter on the already-materialized checkpoint — the previous
    version burned a second full join + shuffle per round just to
    detect convergence. ``sym`` is pre-partitioned on the join key
    once (before its checkpoint), so each round's neighbor join
    exchanges only the (|nodes|-sized) label side, never the
    (2|edges|-sized) edge side.

    Adaptive pointer-jumping (``jump_after``): plain min-label
    propagation converges in O(component diameter) rounds — fine for
    the star/clique components near-dup graphs actually produce (2-4
    rounds), fatal for chain-shaped components (A≈B≈C≈… boilerplate
    drift), which would exhaust ``max_iter`` at diameter > 25. From
    round ``jump_after`` on, each round additionally contracts
    ``label ← label[label]`` — since r15 fused into the SAME round
    plan and checkpoint (the aggregate subtree appears on both sides
    of the self-join; AQE's ReusedExchange materializes it once), so
    jump rounds cost one materialization, not two. Doubling the
    distance a label travels per round gives O(log diameter) rounds
    overall. Cheap graphs never pay (they converge before the
    escalation kicks in); a converged labeling is a fixed point of the
    jump, so the convergence contract is unchanged. ``jump_after=None``
    disables escalation.

    r15 round-0 fusion (guide §2.4): with identity initial labels the
    first round's neighbor join is the edge list itself (label(v) = v),
    so round 0 is ONE groupBy over the pre-partitioned edge frame —
    ``component = least(u, min(v))`` — instead of distinct + join +
    union + groupBy (two exchanges and the init frame gone). The sym
    build itself also drops an exchange: dedup runs as
    ``dropDuplicates`` ON TOP of the hash(v) repartition (equal (u,v)
    rows share a v, so hashpartitioning(v) already satisfies the
    aggregation's clustered distribution — no second exchange).
    """
    sym = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).unionByName(
        edges.select(F.col(dst).alias("u"), F.col(src).alias("v"))
    )
    # partition by v ONCE: localCheckpoint preserves partitioning, so
    # every round's join on v reuses it (labels side alone shuffles).
    # dropDuplicates AFTER the repartition: hashpartitioning(v)
    # satisfies ClusteredDistribution(u, v), so the dedup aggregation
    # adds no exchange of its own (plan: 1 exchange, was 2).
    sym = checkpoint(sym.repartition("v").dropDuplicates(["u", "v"]))

    own_sql = sym.schema["u"].dataType.simpleString()

    labels = ck = None
    for it in range(max_iter):
        # candidate label for u: min over (own label, neighbors' labels).
        # Own rows carry their label in __own, neighbor rows carry null
        # (min ignores nulls; each u has exactly one own row) — so the
        # new label AND the pre-round label surface from ONE aggregation.
        # r16 (guide §1.2 step 2, the W3 pattern): each round body is
        # built from parsed selectExpr/expr strings — the Column-op
        # formulation issued ~120 py4j RPCs per round (~940 per deep-CC
        # construction); the parsed trees are identical (parity + the
        # CC property tests pin the labels).
        if it == 0:
            # fused round 0: labels are the identity, so neighbor label
            # min is just min(v) per u — one groupBy over sym, no join,
            # no init frame
            new_labels = (
                sym.groupBy("u")
                .agg(F.expr("min(v) AS __nbr"))
                .selectExpr("u", "least(u, __nbr) AS component", "u AS __own")
            )
        else:
            nbr_labels = sym.join(
                labels.withColumnRenamed("u", "v"), on="v"
            ).selectExpr("u", "component", f"CAST(NULL AS {own_sql}) AS __own")
            new_labels = (
                labels.selectExpr("u", "component", "component AS __own")
                .unionByName(nbr_labels)
                .groupBy("u")
                .agg(
                    F.expr("min(component) AS component"),
                    F.expr("min(__own) AS __own"),
                )
            )
        if jump_after is not None and it >= jump_after:
            # pointer jump: label ← label[label], fused into this
            # round's plan — the round's subtree feeds both join sides.
            # Every component value is itself a labeled node, so the
            # inner join is total. Labels only decrease, so __own
            # comparisons below remain valid. The explicit non-null u
            # (the lookup side's inferred join filter) gives both copies
            # identical leaf scans, so AQE reuses their exchanges and the
            # labels broadcast; without it the copies re-planned apart
            # and whichever leaf shuffle finished first picked a build
            # side, adding one broadcast job in about half the runs.
            new_labels = new_labels.filter("u IS NOT NULL")
            lk = new_labels.selectExpr("u AS __cu", "component AS __cc")
            new_labels = new_labels.join(lk, F.expr("component = __cu")).selectExpr(
                "u", "__cc AS component", "__own"
            )
        # the changed-labels count rides the checkpoint job as an
        # observe metric — zero extra jobs; a label changed iff the new
        # min beat the old one. On the final round this IS the fixpoint
        # assertion. (sum over an empty frame observes NULL → 0.)
        obs = Observation()
        ck = checkpoint(
            new_labels.observe(obs, F.expr("sum(cast((component < __own) as int)) AS changed")),
            replaces=ck,
        )
        labels = ck.drop("__own")
        if not obs.get["changed"]:
            break
    else:
        release(*[f for f in (sym, ck) if f is not None])
        raise RuntimeError(
            f"connected_components did not converge in max_iter={max_iter} rounds "
            "(component diameter exceeds max_iter); raise max_iter"
        )
    release(sym)
    return labels.select(F.col("u").alias("node"), "component")


def pagerank_exact(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 3,
    scale: int = 10**12,
) -> DataFrame:
    """Fixed-iteration PageRank in INTEGER arithmetic — bit-exact across
    engines (no float sums anywhere, so no summation-order drift).

    Ranks live in ``scale``-units (BIGINT): r0 = scale div N, teleport =
    (15·scale) div (100·N), and each round
    ``r' = teleport + (85 · (inflow + dangling_mass div N)) div 100``
    where ``inflow = Σ_{edges u→n} r_u div out_deg(u)`` and dangling
    mass is the rank held by sink nodes. Every op is BIGINT
    multiply/add/``div`` (truncating; all values non-negative, so
    truncation == floor in both Spark and DuckDB) — the same
    integer-units discipline as the k-means quantizer
    (ops/vector.py): determinism by construction, not by rounding
    policy. Mass lost to floors is deterministic too.

    Scale: per iteration ONE shuffle of |edges| contributions on dst
    (the rank side joins src via the pre-partitioned edge checkpoint —
    the CC trick above); the dangling total rides the round checkpoint
    as an observe metric and re-enters as a driver literal; ranks
    are checkpointed per round to cut lineage. O(iters) rounds, no
    driver-side data beyond the node count. Returns (node, rank).

    r15 round-body re-plan (guide §2.3/§2.4): the dangling mass used to
    be a per-round ``dangling ⋈ ranks`` join and the new-rank join used
    the unpartitioned ``nodes`` frame — two |nodes|-sized exchanges per
    round that carry no information the rank frame doesn't already
    hold. Now a ``__dang`` FLAG rides the rank frame (computed once
    from the degree table), so the dangling total is a filter+sum over
    the already-materialized checkpoint, and the new-rank join keys on
    the rank frame itself — its checkpoint preserves the previous
    round's hashpartitioning(node), and inflow arrives partitioned by
    dst ≡ node, so from round 2 on the join is exchange-free. Same
    integer arithmetic, bit-identical ranks.
    """
    # checkpoint the deduped edge list FIRST: nodes, degrees, the
    # partitioned edge frame, and the dangling flag all derive from it,
    # and without the cut each would re-run the caller's (possibly
    # fact-join-sized) edge derivation from scratch
    e = checkpoint(edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct())
    nodes = checkpoint(
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    n_total = nodes.count()
    if n_total == 0:
        release(e)
        return nodes.withColumn("rank", F.lit(0).cast("long"))
    deg = e.groupBy("src").agg(F.count("*").alias("deg"))
    # degree rides the edge checkpoint; partition by src so each round's
    # rank join exchanges only the (|nodes|-sized) rank side
    ed = checkpoint(e.join(deg, "src").repartition("src"))

    teleport = (15 * scale) // (100 * n_total)
    # rank frame carries (node, rank, __dang): a node is dangling iff it
    # has no out-degree — the flag is immutable, so it is computed ONCE
    # and rides the per-round checkpoint instead of being re-derived by
    # a per-round anti-join + join (guide §2.4).
    # checkpointed once (replacing the old dangling-set checkpoint):
    # every round consumes the rank frame twice (edge join, new-rank
    # join) and round 1 would otherwise replay the degree join per
    # consumer.
    # r15 (guide §1.4/§2.4, the CC observe pattern): the dangling TOTAL
    # rides each checkpoint materialization as a DataFrame.observe
    # metric instead of being a per-round agg job + BroadcastExchange +
    # BNLJ — the next round needs only the scalar, and it is exact
    # BIGINT arithmetic, so it enters the round as a driver literal
    # bit-identically (dang_tot // n_total in Python == BIGINT div for
    # the non-negative values here; sum over an empty filter observes
    # NULL → 0).
    _dang_sum = F.sum(F.when(F.col("__dang"), F.col("rank"))).alias("__dang_tot")
    obs = Observation()
    ranks = checkpoint(
        nodes.join(deg.select(F.col("src").alias("node"), "deg"), "node", "left")
        .select(
            "node",
            F.lit(scale // n_total).cast("long").alias("rank"),
            F.col("deg").isNull().alias("__dang"),
        )
        .observe(obs, _dang_sum)
    )
    for _ in range(iters):
        dang_share = (obs.get["__dang_tot"] or 0) // n_total
        # project to the two columns the edge join needs — __dang must
        # not ride the |edges|-sized contribution rows (guide §2.3)
        contrib = ed.join(
            ranks.select(F.col("node").alias("src"), "rank"), "src"
        ).select("dst", F.expr("rank div deg").alias("__c"))
        inflow = contrib.groupBy("dst").agg(F.sum("__c").alias("__inflow"))
        obs = Observation()
        ranks = checkpoint(
            ranks.select("node", "__dang")
            .join(inflow.withColumnRenamed("dst", "node"), "node", "left")
            .select(
                "node",
                (
                    F.lit(teleport)
                    + F.expr(
                        f"(85 * (coalesce(__inflow, CAST(0 AS BIGINT))"
                        f" + {dang_share})) div 100"
                    )
                ).cast("long").alias("rank"),
                "__dang",
            )
            .observe(obs, _dang_sum),
            replaces=ranks,
        )
    release(e, nodes, ed)
    return ranks.select("node", "rank")


def triangle_counts(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Exact per-node triangle counts over an undirected edge list —
    the degree-ordered-orientation algorithm (Cohen's MapReduce
    triangle counting / the "compact-forward" order).

    Returns ``(node, tri_cnt)`` for every node in ≥ 1 triangle, where
    ``tri_cnt`` is the number of distinct triangles containing the node.

    Why orientation matters at 100 TB: counting by joining wedges from
    RAW adjacency enumerates Σ deg(v)² wedges — a single celebrity node
    with 10⁸ neighbors contributes 10¹⁶ candidates. Orienting every
    edge from its lower-(degree, id) endpoint to the higher one turns
    the graph into a DAG whose max out-degree is O(√m), bounding total
    wedges at O(m^1.5) REGARDLESS of skew — the hot node's edges all
    point INTO it and produce no wedges of their own. Measured on the
    co-purchase graph: wedges grow 10.6× for 10.4× edges (SCALING.md).

    Plan shape: 3 equi-joins + 2 groupBys, all shuffles keyed on node
    ids; no theta join, no cross join, no driver data. The oriented
    edge list is localCheckpoint'd once since the wedge self-join and
    the closing-edge probe both reuse it.
    """
    e = checkpoint(
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    deg = (
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )
    # orient u→v when (deg, id) of u < (deg, id) of v; ties on degree
    # break by id, and ids are distinct, so the order is total
    du, dv = F.col("du"), F.col("dv")
    u_first = (du < dv) | ((du == dv) & (F.col("u") < F.col("v")))
    oriented = checkpoint(
        e.join(deg.select(F.col("node").alias("u"), F.col("d").alias("du")), "u")
        .join(deg.select(F.col("node").alias("v"), F.col("d").alias("dv")), "v")
        .select(
            F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("s"),
            F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("t"),
            F.when(u_first, dv).otherwise(du).alias("dt"),
        ),
        replaces=e,
    )
    o1 = oriented.select(F.col("s"), F.col("t").alias("b"), F.col("dt").alias("db"))
    o2 = oriented.select(F.col("s"), F.col("t").alias("c"), F.col("dt").alias("dc"))
    wedges = o1.join(o2, "s").where(
        (F.col("db") < F.col("dc")) | ((F.col("db") == F.col("dc")) & (F.col("b") < F.col("c")))
    )
    closing = oriented.select(F.col("s").alias("b"), F.col("t").alias("c"))
    tri = wedges.select(F.col("s").alias("a"), "b", "c").join(closing, ["b", "c"])
    corners = (
        tri.select(F.col("a").alias("node"))
        .unionByName(tri.select(F.col("b").alias("node")))
        .unionByName(tri.select(F.col("c").alias("node")))
    )
    return corners.groupBy("node").agg(F.count("*").alias("tri_cnt"))


def bfs_khop(
    edges: DataFrame,
    sources: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Multi-source bounded BFS over an undirected edge list: for every
    node within ``k`` hops of ANY source, the exact hop distance
    ``(node, dist)``. Nodes farther than k (or unreachable) are absent
    — the k-hop cap is the SEMANTICS, not a convergence shortcut, so
    the result is well-defined on any graph (no diameter assumption)
    and the relational twin unrolls to exactly k levels.

    ``sources`` is a one-column node frame; sources not present in the
    edge list still appear at dist 0 (they're in the queried set even
    if isolated). The classic use: blast-radius / influence-cohort
    queries ("everything within 3 hops of the flagged accounts").

    Scale: per round ONE shuffle of the frontier joined against the
    symmetrized edge list (pre-partitioned on the join key once, the
    CC/PageRank trick), state is (node, dist) — never materializes
    paths. k rounds total, each checkpointed to cut lineage.
    """
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    sym = checkpoint(
        e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
        .repartition("u")
    )
    dist = checkpoint(
        sources.select(F.col(sources.columns[0]).alias("node"))
        .distinct()
        .withColumn("dist", F.lit(0))
    )
    for _ in range(k):
        reached = (
            dist.withColumnRenamed("node", "u")
            .join(sym, "u")
            .select(F.col("v").alias("node"), (F.col("dist") + 1).alias("dist"))
        )
        dist = checkpoint(
            dist.unionByName(reached)
            .groupBy("node")
            .agg(F.min("dist").alias("dist")),
            replaces=dist,
        )
    release(sym)
    return dist


def sssp_khop(
    edges: DataFrame,
    sources: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
) -> DataFrame:
    """Bounded Bellman-Ford: cheapest path cost from ANY source using
    at most ``k`` edges, over an undirected weighted edge list with
    non-negative INTEGER weights — :func:`bfs_khop` generalized (BFS
    is the all-weights-1 case). Like BFS, the k-edge cap is the
    SEMANTICS: the relational twin unrolls exactly k relaxation
    rounds, so the result is well-defined on any graph with no
    convergence loop and a wall-clock bound known up front.

    Integer costs keep every relaxation exact (min over BIGINT sums —
    no float accumulation order anywhere). Parallel edges are reduced
    to their min weight up front; isolated sources still appear at
    cost 0. Per round: ONE shuffle of the frontier against the
    pre-partitioned symmetrized edge list; state is (node, dist).
    """
    e = (
        edges.select(
            F.col(src).alias("u"), F.col(dst).alias("v"), F.col(weight).alias("w")
        )
        .where(F.col("u") != F.col("v"))
        .groupBy("u", "v")
        .agg(F.min("w").alias("w"))
    )
    sym = checkpoint(
        e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v"), "w"))
        .groupBy("u", "v")
        .agg(F.min("w").alias("w"))
        .repartition("u")
    )
    dist = checkpoint(
        sources.select(F.col(sources.columns[0]).alias("node"))
        .distinct()
        .withColumn("dist", F.lit(0).cast("long"))
    )
    for _ in range(k):
        relaxed = (
            dist.withColumnRenamed("node", "u")
            .join(sym, "u")
            .select(F.col("v").alias("node"), (F.col("dist") + F.col("w")).alias("dist"))
        )
        dist = checkpoint(
            dist.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("dist").alias("dist")),
            replaces=dist,
        )
    release(sym)
    return dist
