"""Graph-analytics queries (SURVEY §2.12b extension).

Connected components certifies the dedup-clustering engine from
llm_ops; this module certifies the *iterative rank propagation* side of
ops/graph.py over a relational-derived graph. The graph: distinct
customer→supplier trade edges from orders⋈lineitem, with node ids
disambiguated arithmetically (customer c → 2c, supplier s → 2s+1 —
custkey and suppkey ranges overlap numerically, so raw keys would alias
two real entities onto one node).

Reference note: /root/reference is empty (SURVEY §0); the reference
orchestrator has no graph surface — north-star extension.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pipetree_spark.catalog import load_table
from pipetree_spark.ops.graph import (
    PAGERANK_SCALE,
    bfs_khop,
    pagerank_exact,
    sssp_khop,
    triangle_counts,
)
from pipetree_spark.ops.relational import checkpoint
from pipetree_spark.queries import declare


def _pagerank_sql(iters: int = 3, edges_cte: str | None = None) -> str:
    """Unrolled DuckDB twin of ops.graph.pagerank_exact, in the same
    ``PAGERANK_SCALE`` units. All-BIGINT arithmetic; ``//`` on positive
    BIGINTs truncates exactly like Spark's ``div``. ``edges_cte``
    overrides the edge derivation (one or more leading CTEs ending in
    ``e(src, dst)``) so compositions — e.g. the crawl link graph — reuse
    the same unrolled iterations; default is the customer→supplier trade
    graph."""
    ctes = [
        edges_cte
        or "e AS (SELECT DISTINCT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst"
        " FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey)",
        "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e)",
        "nn AS (SELECT COUNT(*) AS n FROM nodes)",
        "deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src)",
        "dang AS (SELECT node FROM nodes WHERE node NOT IN (SELECT src FROM deg))",
        f"r0 AS (SELECT node, {PAGERANK_SCALE} // (SELECT n FROM nn) AS rank FROM nodes)",
    ]
    prev = "r0"
    for k in range(1, iters + 1):
        ctes.append(
            f"inf{k} AS (SELECT e.dst AS node, SUM(r.rank // d.deg) AS inflow"
            f" FROM e JOIN deg d ON e.src = d.src"
            f" JOIN {prev} r ON e.src = r.node GROUP BY e.dst)"
        )
        ctes.append(
            f"dg{k} AS (SELECT COALESCE(SUM(r.rank), 0) AS dang_mass"
            f" FROM dang JOIN {prev} r ON dang.node = r.node)"
        )
        ctes.append(
            f"r{k} AS (SELECT nd.node,"
            f" ({15 * PAGERANK_SCALE} // (100 * (SELECT n FROM nn)))"
            f" + (85 * (COALESCE(i.inflow, 0)"
            f" + ((SELECT dang_mass FROM dg{k}) // (SELECT n FROM nn)))) // 100 AS rank"
            f" FROM nodes nd LEFT JOIN inf{k} i ON nd.node = i.node)"
        )
        prev = f"r{k}"
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT node, CAST(rank AS BIGINT) AS rank FROM {prev}"
    )


@declare("q_graph_pagerank", oracle=_pagerank_sql(), tags=("graph",))
def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (3 integer-exact iterations, ops.graph.pagerank_exact)
    over the customer→supplier trade graph: who are the systemically
    central suppliers when order volume routes rank through the
    bipartite purchase network? Suppliers have no out-edges, so the
    dangling-mass branch is structurally live every round, and
    customers receive teleport + dangling share only — both engine
    branches are exercised, not just the happy inflow path.

    Scale shape: one |edges| shuffle per iteration (edge side
    pre-partitioned once, rank side alone moves), a broadcast one-row
    dangling total, O(iters) rounds. No floats anywhere — the driver's
    value-hash re-proves bit-exactness every round it's sampled.
    """
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    edges = (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
    )
    return pagerank_exact(edges, iters=3)


_TRIANGLE_SQL = """
WITH cp AS (
  SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
  WHERE l.l_quantity >= 45),
e AS (SELECT DISTINCT a.c AS u, b.c AS v FROM cp a JOIN cp b ON a.p = b.p AND a.c < b.c),
deg AS (SELECT node, COUNT(*) AS d
        FROM (SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e)
        GROUP BY node),
o AS (SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v) THEN e.u ELSE e.v END AS s,
             CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v) THEN e.v ELSE e.u END AS t,
             CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v) THEN dv.d ELSE du.d END AS dt
      FROM e JOIN deg du ON e.u = du.node JOIN deg dv ON e.v = dv.node),
w AS (SELECT o1.s AS a, o1.t AS b, o2.t AS c
      FROM o o1 JOIN o o2 ON o1.s = o2.s
      WHERE o1.dt < o2.dt OR (o1.dt = o2.dt AND o1.t < o2.t)),
tri AS (SELECT w.a, w.b, w.c FROM w JOIN o ON o.s = w.b AND o.t = w.c),
corners AS (SELECT a AS node FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri)
SELECT node, COUNT(*) AS tri_cnt FROM corners GROUP BY node
"""


@declare("q_graph_triangles", oracle=_TRIANGLE_SQL, tags=("graph",))
def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-node triangle counts (ops.graph.triangle_counts,
    degree-ordered orientation) over the customer co-purchase graph:
    customers are adjacent when they bought the same part in a
    high-quantity lineitem (l_quantity ≥ 45 keeps the graph sparse with
    a scale-invariant ≈17 average degree — measured 12.5k edges/1.5k
    nodes at sf0.01 and 129k/15k at sf0.1, wedge count growing 10.6×
    for 10.4× edges, i.e. linearly, which is the orientation bound
    doing its job; raw-adjacency wedges would grow quadratically in
    the hottest degree).

    Triangle density is the classic cohesion signal (community
    seeding, spam-graph features, clustering coefficients); per-node
    counts hash-certify every triangle corner, not just the global
    total. All joins are equi-joins on node ids — no theta join
    anywhere — so the plan survives a 1000-executor scale-up on
    shuffle hash alone.
    """
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    cp = (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .where(F.col("l_quantity") >= 45)
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    a, b = cp.alias("a"), cp.alias("b")
    edges = a.join(
        b, (F.col("a.p") == F.col("b.p")) & (F.col("a.c") < F.col("b.c"))
    ).select(F.col("a.c").alias("src"), F.col("b.c").alias("dst"))
    return triangle_counts(edges)


def _bfs_sql(k: int = 3) -> str:
    """Unrolled DuckDB twin of ops.graph.bfs_khop over the co-purchase
    graph: exactly k min-distance relaxation levels (the k-hop cap is
    the query's semantics, so the unroll is the definition, not an
    approximation of a fixpoint)."""
    ctes = [
        "cp AS (SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p"
        " FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey"
        " WHERE l.l_quantity >= 45)",
        "e AS (SELECT DISTINCT a.c AS u, b.c AS v FROM cp a JOIN cp b"
        " ON a.p = b.p AND a.c < b.c)",
        "sym AS (SELECT u, v FROM e UNION SELECT v, u FROM e)",
        "l0 AS (SELECT DISTINCT c_custkey AS node, 0 AS dist FROM customer"
        " WHERE c_acctbal >= 9900)",
    ]
    prev = "l0"
    for i in range(1, k + 1):
        ctes.append(
            f"l{i} AS (SELECT node, MIN(dist) AS dist FROM ("
            f"SELECT node, dist FROM {prev}"
            f" UNION ALL SELECT s.v AS node, p.dist + 1 AS dist"
            f" FROM {prev} p JOIN sym s ON p.node = s.u) GROUP BY node)"
        )
        prev = f"l{i}"
    return "WITH " + ",\n".join(ctes) + f"\nSELECT node, dist FROM {prev}"


@declare("q_graph_bfs", oracle=_bfs_sql(), tags=("graph",))
def q_graph_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source 3-hop BFS (ops.graph.bfs_khop): exact hop distance
    from the VIP cohort (c_acctbal ≥ 9900) through the customer
    co-purchase graph — the blast-radius / influence-cohort query
    ("who is within 3 hops of a flagged account"). Distances are
    small integers, so the driver hash certifies every frontier
    expansion exactly; VIPs outside the graph still surface at
    dist 0.

    Scale: one frontier-vs-edges shuffle per hop on a pre-partitioned
    symmetrized edge list; state is (node, dist) only. The 3-hop cap
    bounds rounds BY SEMANTICS — no diameter-dependent convergence
    loop, so worst-case wall-clock is known before the job starts.
    """
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    c = load_table(spark, sf_dir, "customer")
    cp = (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .where(F.col("l_quantity") >= 45)
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    a, b = cp.alias("a"), cp.alias("b")
    edges = a.join(
        b, (F.col("a.p") == F.col("b.p")) & (F.col("a.c") < F.col("b.c"))
    ).select(F.col("a.c").alias("src"), F.col("b.c").alias("dst"))
    vips = c.where(F.col("c_acctbal") >= 9900).select("c_custkey")
    return bfs_khop(edges, vips, k=3)


def _sssp_sql(k: int = 3) -> str:
    """Unrolled DuckDB twin of ops.graph.sssp_khop over the weighted
    co-purchase graph (weight = 1000 // shared-part count: stronger
    ties are cheaper). Exactly k integer relaxation rounds."""
    ctes = [
        "cp AS (SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p"
        " FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey"
        " WHERE l.l_quantity >= 45)",
        "ew AS (SELECT a.c AS u, b.c AS v, CAST(1000 // COUNT(*) AS BIGINT) AS w"
        " FROM cp a JOIN cp b ON a.p = b.p AND a.c < b.c GROUP BY a.c, b.c)",
        "sym AS (SELECT u, v, MIN(w) AS w FROM"
        " (SELECT u, v, w FROM ew UNION ALL SELECT v, u, w FROM ew) GROUP BY u, v)",
        "l0 AS (SELECT DISTINCT c_custkey AS node, CAST(0 AS BIGINT) AS dist"
        " FROM customer WHERE c_acctbal >= 9900)",
    ]
    prev = "l0"
    for i in range(1, k + 1):
        ctes.append(
            f"l{i} AS (SELECT node, MIN(dist) AS dist FROM ("
            f"SELECT node, dist FROM {prev}"
            f" UNION ALL SELECT s.v AS node, p.dist + s.w AS dist"
            f" FROM {prev} p JOIN sym s ON p.node = s.u) GROUP BY node)"
        )
        prev = f"l{i}"
    return "WITH " + ",\n".join(ctes) + f"\nSELECT node, dist FROM {prev}"


@declare("q_graph_sssp", oracle=_sssp_sql(), tags=("graph",))
def q_graph_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded Bellman-Ford (ops.graph.sssp_khop): cheapest ≤3-edge
    path cost from the VIP cohort through the WEIGHTED co-purchase
    graph, edge weight 1000 div (shared-part count) — strong
    commercial ties are cheap to traverse, so low cost means "closely
    connected to a VIP through repeated co-purchasing", the weighted
    refinement of q_graph_bfs's hop distance. All-integer relaxation
    (min over BIGINT sums) — the driver hash certifies every cost.

    Scale: identical shape to BFS (k frontier shuffles against the
    pre-partitioned symmetrized edge list, (node, dist) state), plus
    one edge-weight aggregation up front. The k-edge cap bounds
    rounds by semantics, not convergence.
    """
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    c = load_table(spark, sf_dir, "customer")
    cp = (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .where(F.col("l_quantity") >= 45)
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    a, b = cp.alias("a"), cp.alias("b")
    ew = (
        a.join(b, (F.col("a.p") == F.col("b.p")) & (F.col("a.c") < F.col("b.c")))
        .groupBy(F.col("a.c").alias("src"), F.col("b.c").alias("dst"))
        .agg(F.expr("CAST(1000 div count(*) AS BIGINT)").alias("w"))
    )
    vips = c.where(F.col("c_acctbal") >= 9900).select("c_custkey")
    return sssp_khop(ew, vips, k=3)


_COMMON_NEIGHBORS_SQL = """
WITH cp AS (
  SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
  WHERE l.l_quantity >= 45),
e AS (SELECT DISTINCT a.c AS u, b.c AS v FROM cp a JOIN cp b ON a.p = b.p AND a.c < b.c),
sym AS (SELECT u, v FROM e UNION SELECT v, u FROM e),
deg AS (SELECT u AS node, COUNT(*) AS d FROM sym GROUP BY u),
wedge AS (
  SELECT s1.v AS a, s2.v AS b, COUNT(*) AS common
  FROM sym s1 JOIN sym s2 ON s1.u = s2.u AND s1.v < s2.v
  GROUP BY s1.v, s2.v
  HAVING COUNT(*) >= 4),
cand AS (
  SELECT w.a, w.b, w.common FROM wedge w
  LEFT JOIN e ON e.u = w.a AND e.v = w.b
  WHERE e.u IS NULL)
SELECT c.a, c.b, c.common,
       round(CAST(c.common AS DOUBLE)
             / (da.d + db.d - c.common), 4) AS jaccard
FROM cand c JOIN deg da ON da.node = c.a JOIN deg db ON db.node = c.b
"""


@declare("q_graph_common_neighbors", oracle=_COMMON_NEIGHBORS_SQL, tags=("graph",))
def q_graph_common_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction over the co-purchase graph: NON-adjacent
    customer pairs ranked by shared neighbors — common-neighbor count
    (≥ 4, the integer membership threshold, same constant in the
    HAVING above and the .where below) and neighborhood Jaccard
    |N(a)∩N(b)| / (deg(a)+deg(b)−common), one pinned divide on exact
    integers. The classic "customers who should know each other"
    / recommendation-candidate feature.

    Scale shape: common-neighbor counting is the SAME wedge join
    triangle_counts bounds with degree orientation — here the wedge
    count aggregation itself (groupBy (a,b)) map-side combines, the
    HAVING threshold prunes before the anti-join against existing
    edges, and degrees broadcast. No theta join, no driver data.
    """
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    cp = (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .where(F.col("l_quantity") >= 45)
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    a, b = cp.alias("a"), cp.alias("b")
    e = checkpoint(
        a.join(b, (F.col("a.p") == F.col("b.p")) & (F.col("a.c") < F.col("b.c")))
        .select(F.col("a.c").alias("u"), F.col("b.c").alias("v"))
        .distinct()
    )
    sym = e.unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).distinct()
    deg = sym.groupBy(F.col("u").alias("node")).agg(F.count("*").alias("d"))
    s1, s2 = sym.alias("s1"), sym.alias("s2")
    wedge = (
        s1.join(s2, (F.col("s1.u") == F.col("s2.u")) & (F.col("s1.v") < F.col("s2.v")))
        .groupBy(F.col("s1.v").alias("a"), F.col("s2.v").alias("b"))
        .agg(F.count("*").alias("common"))
        .where(F.col("common") >= 4)
    )
    cand = wedge.join(
        e, (F.col("u") == F.col("a")) & (F.col("v") == F.col("b")), "left_anti"
    )
    return (
        cand.join(F.broadcast(deg.select(F.col("node").alias("a"), F.col("d").alias("da"))), "a")
        .join(F.broadcast(deg.select(F.col("node").alias("b"), F.col("d").alias("db"))), "b")
        .select(
            "a",
            "b",
            "common",
            F.round(
                F.col("common").cast("double")
                / (F.col("da") + F.col("db") - F.col("common")),
                4,
            ).alias("jaccard"),
        )
    )
