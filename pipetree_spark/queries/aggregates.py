"""Aggregation queries (SURVEY §2.4).

Spark physical path: partial (map-side) + final hash aggregation with
sort-agg fallback — free from Catalyst. Float sums use the exact-decimal
policy from :mod:`pipetree_spark.exact`; float *statistics* (stddev/corr)
are taken over small-magnitude columns and rounded, which keeps the
round-boundary flip probability negligible (see exact.py docstring).

Reference note: the reference (pipetree/pipetree, an ML pipeline
orchestrator — SURVEY §0: /root/reference is empty) has no aggregation
operators; this family is the north-star extension surface [SURVEY §2.0].
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pipetree_spark.catalog import load_table
from pipetree_spark.exact import davg_sql, dec, dsum, dsum_sql, exact_sums, lsum, pin_zero, safe_div
from pipetree_spark.queries import declare

SHIP_CUTOFF = "2000-12-01 00:00:00"

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: TPC-H-Q1-style pricing summary (SURVEY §7 phase 1).

    Exercises scan → filter (pushed to parquet) → hash groupBy →
    exact-decimal aggregation → sort. At 100 TB this is a pure
    map-side-combine + 6-group final agg: minimal shuffle, no skew risk.
    """
    l = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    g = exact_sums(
        l.filter(F.col("l_shipdate") <= F.lit(SHIP_CUTOFF).cast("timestamp")),
        keys=["l_returnflag", "l_linestatus"],
        sums={
            "sum_qty": ("l_quantity", 2),
            "sum_base_price": ("l_extendedprice", 2),
            "sum_disc_price": (disc_price, 6),
            "sum_charge": (charge, 6),
        },
        count="count_order",
    )
    return g.select(
        "l_returnflag",
        "l_linestatus",
        "sum_qty",
        "sum_base_price",
        "sum_disc_price",
        "sum_charge",
        (F.col("sum_qty") / F.col("count_order")).alias("avg_qty"),
        (F.col("sum_base_price") / F.col("count_order")).alias("avg_price"),
        "count_order",
    ).orderBy("l_returnflag", "l_linestatus")


PRICING_SUMMARY_SQL = f"""
SELECT
  l_returnflag,
  l_linestatus,
  {dsum_sql('l_quantity')} AS sum_qty,
  {dsum_sql('l_extendedprice')} AS sum_base_price,
  {dsum_sql('l_extendedprice * (1 - l_discount)', 6, 24)} AS sum_disc_price,
  {dsum_sql('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 6, 24)} AS sum_charge,
  {dsum_sql('l_quantity')} / COUNT(*) AS avg_qty,
  {dsum_sql('l_extendedprice')} / COUNT(*) AS avg_price,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '{SHIP_CUTOFF}'
GROUP BY l_returnflag, l_linestatus
"""

declare("q_agg_groupby", oracle=PRICING_SUMMARY_SQL, tags=("agg", "bench"))(pricing_summary)


@declare(
    "q_agg_global",
    oracle=f"""
SELECT
  COUNT(*) AS n_rows,
  {dsum_sql('l_quantity')} AS sum_qty,
  MIN(l_extendedprice) AS min_price,
  MAX(l_extendedprice) AS max_price,
  COUNT(DISTINCT l_orderkey) AS n_orders
FROM lineitem
""",
    tags=("agg",),
)
def q_agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global (no-key) aggregate: single final group, map-side partials."""
    l = load_table(spark, sf_dir, "lineitem")
    return l.agg(
        F.count("*").alias("n_rows"),
        dsum("l_quantity").alias("sum_qty"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
        F.count_distinct("l_orderkey").alias("n_orders"),
    )


@declare(
    "q_agg_having",
    oracle=f"""
SELECT l_suppkey,
       {dsum_sql('l_extendedprice * (1 - l_discount)', 6, 24)} AS revenue,
       COUNT(*) AS n_items
FROM lineitem
GROUP BY l_suppkey
HAVING {dsum_sql('l_extendedprice * (1 - l_discount)', 6, 24)} > 1000000.0
""",
    tags=("agg",),
)
def q_agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-aggregation filter (HAVING)."""
    l = load_table(spark, sf_dir, "lineitem")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.groupBy("l_suppkey")
        .agg(
            # per-supplier groups stay small at any SF → single-level lsum
            lsum(revenue, scale=6).alias("revenue"),
            F.count("*").alias("n_items"),
        )
        .filter(F.col("revenue") > 1000000.0)
    )


@declare(
    "q_agg_distinct",
    oracle="""
SELECT l_returnflag,
       COUNT(DISTINCT l_partkey) AS n_parts,
       COUNT(DISTINCT l_suppkey) AS n_supps,
       CAST(SUM(DISTINCT l_quantity) AS DOUBLE) AS sum_distinct_qty
FROM lineitem
GROUP BY l_returnflag
""",
    tags=("agg", "bench"),
)
def q_agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-distinct aggregation (expand + two-phase agg in Spark).

    ``sum(DISTINCT l_quantity)`` is exact: quantities are small integral
    doubles, so the distinct-set sum is order-independent.
    """
    l = load_table(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.count_distinct("l_partkey").alias("n_parts"),
        F.count_distinct("l_suppkey").alias("n_supps"),
        F.sum_distinct(F.col("l_quantity")).alias("sum_distinct_qty"),
    )


@declare("q_agg_approx_cd", oracle=None, tags=("agg", "approx"))
def q_agg_approx_cd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ approximate count-distinct — rows-only check
    (approximate result has no exact oracle; SURVEY §2.4)."""
    l = load_table(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey", 0.02).alias("approx_orders"),
        F.count_distinct("l_orderkey").alias("exact_orders"),
    )


@declare(
    "q_agg_rollup",
    oracle=f"""
SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
       COALESCE(l_linestatus, 'ALL') AS linestatus,
       GROUPING(l_returnflag, l_linestatus) AS gid,
       COUNT(*) AS n_rows,
       {dsum_sql('l_extendedprice')} AS sum_price
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
""",
    tags=("agg",),
)
def q_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup hierarchy with grouping_id; keys coalesced to 'ALL' so the
    subtotal rows are null-free for hashing."""
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().alias("gid"),
            F.count("*").alias("n_rows"),
            dsum("l_extendedprice").alias("sum_price"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "gid",
            "n_rows",
            "sum_price",
        )
    )


@declare(
    "q_agg_cube",
    oracle=f"""
SELECT COALESCE(o_orderstatus, 'ALL') AS orderstatus,
       COALESCE(o_orderpriority, 'ALL') AS orderpriority,
       GROUPING(o_orderstatus, o_orderpriority) AS gid,
       COUNT(*) AS n_orders,
       {dsum_sql('o_totalprice')} AS sum_total
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
""",
    tags=("agg",),
)
def q_agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping_id().alias("gid"),
            F.count("*").alias("n_orders"),
            dsum("o_totalprice").alias("sum_total"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("orderstatus"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("orderpriority"),
            "gid",
            "n_orders",
            "sum_total",
        )
    )


@declare(
    "q_agg_gsets",
    oracle=f"""
SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
       COALESCE(l_linestatus, 'ALL') AS linestatus,
       COUNT(*) AS n_rows,
       {dsum_sql('l_quantity')} AS sum_qty
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
""",
    tags=("agg",),
)
def q_agg_gsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit grouping sets via the SQL entry point (Engine.sql path)."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_gsets_v")
    return spark.sql(
        f"""
        SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
               COALESCE(l_linestatus, 'ALL') AS linestatus,
               COUNT(*) AS n_rows,
               {dsum_sql('l_quantity')} AS sum_qty
        FROM lineitem_gsets_v
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


@declare(
    "q_agg_pivot",
    oracle="""
SELECT user_id,
       COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS click,
       COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS error,
       COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
       COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
       COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS view
FROM events
GROUP BY user_id
""",
    tags=("agg", "events"),
)
def q_agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot event_type → columns (explicit value list ⇒ single pass,
    no distinct-values pre-query — the scale-safe form)."""
    e = load_table(spark, sf_dir, "events")
    df = e.groupBy("user_id").pivot("event_type", EVENT_TYPES).agg(F.count(F.lit(1)))
    # pivot yields NULL for absent combinations; oracle COUNT(CASE) yields 0
    return df.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0)).cast("long").alias(t) for t in EVENT_TYPES],
    )


@declare(
    "q_agg_collect",
    oracle="""
SELECT n.n_name AS nation,
       array_to_string(list_sort(list(s.s_suppkey)), ',') AS supp_keys,
       COUNT(*) AS n_supps
FROM nation n JOIN supplier s ON s.s_nationkey = n.n_nationkey
GROUP BY n.n_name
""",
    tags=("agg",),
)
def q_agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array agg — MUST be sorted: collect_list order is nondeterministic
    under parallel execution (SURVEY §2.4).

    The sorted array is emitted as a comma-joined string (sorted
    numerically first, THEN stringified) — raw array columns break the
    driver's pandas canonicalizer (r1 ndarray TypeError), and the
    joined form hashes identically across engines.
    """
    n = load_table(spark, sf_dir, "nation")
    s = load_table(spark, sf_dir, "supplier")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.array_join(
                F.transform(F.array_sort(F.collect_list("s_suppkey")), lambda x: x.cast("string")),
                ",",
            ).alias("supp_keys"),
            F.count("*").alias("n_supps"),
        )
    )


@declare(
    "q_agg_stats",
    oracle="""
SELECT l_returnflag,
       ROUND(AVG(l_discount), 6) AS avg_disc,
       ROUND(STDDEV_SAMP(l_discount), 6) AS sd_disc,
       ROUND(VAR_SAMP(l_tax), 6) AS var_tax,
       ROUND(CORR(l_discount, l_tax), 6) + 0.0 AS corr_disc_tax
FROM lineitem
GROUP BY l_returnflag
""",
    tags=("agg",),
)
def q_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates. Taken over small-magnitude columns
    (discount/tax ∈ [0, 0.1]) so accumulation-order drift (~1e-12 abs)
    sits far from the round(6) boundary (5e-7)."""
    l = load_table(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.round(F.avg("l_discount"), 6).alias("avg_disc"),
        F.round(F.stddev_samp("l_discount"), 6).alias("sd_disc"),
        F.round(F.var_samp("l_tax"), 6).alias("var_tax"),
        pin_zero(F.round(F.corr("l_discount", "l_tax"), 6)).alias("corr_disc_tax"),
    )


@declare(
    "q_agg_percentile",
    oracle="""
SELECT l_returnflag,
       MEDIAN(l_extendedprice) AS median_price,
       QUANTILE_CONT(l_quantity, 0.25) AS q25_qty,
       QUANTILE_CONT(l_quantity, 0.90) AS q90_qty
FROM lineitem
GROUP BY l_returnflag
""",
    tags=("agg",),
)
def q_agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (linear interpolation — both engines use the
    p*(n-1) continuous-quantile convention on identical doubles)."""
    l = load_table(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.median("l_extendedprice").alias("median_price"),
        F.percentile("l_quantity", F.lit(0.25)).alias("q25_qty"),
        F.percentile("l_quantity", F.lit(0.90)).alias("q90_qty"),
    )


@declare(
    "q_agg_events",
    oracle=f"""
SELECT user_id, event_type,
       COUNT(*) AS n_events,
       {dsum_sql('value')} AS sum_value
FROM events
GROUP BY user_id, event_type
""",
    tags=("agg", "events", "bench"),
)
def q_agg_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BASELINE.md's q_events_sessionish: events groupBy (user, type)."""
    e = load_table(spark, sf_dir, "events")
    return e.groupBy("user_id", "event_type").agg(
        F.count("*").alias("n_events"), lsum("value").alias("sum_value")
    )


@declare(
    "q_agg_distinct_global",
    oracle="""
SELECT COUNT(DISTINCT l_partkey) AS n_parts,
       COUNT(DISTINCT l_suppkey) AS n_supps
FROM lineitem
""",
    tags=("agg", "bench"),
)
def q_agg_distinct_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global two-column distinct count — BASELINE.md's q_distinct shape
    (the grouped 3-distinct variant is q_agg_distinct)."""
    l = load_table(spark, sf_dir, "lineitem")
    return l.agg(
        F.count_distinct("l_partkey").alias("n_parts"),
        F.count_distinct("l_suppkey").alias("n_supps"),
    )


@declare(
    "q_agg_salted",
    oracle=f"""
SELECT l_returnflag,
       {dsum_sql('l_extendedprice * (1 - l_discount)', 6, 24)} AS revenue,
       COUNT(*) AS n_items
FROM lineitem
GROUP BY l_returnflag
""",
    tags=("agg",),
)
def q_agg_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-stage aggregation with an EXPLICIT salt column.

    3 group keys over the whole fact table is the worst-case skew shape
    (every row funnels to 3 reducers). Stage 1 groups by
    (key, salt = pmod(hash(unique_col), 64)) — 64-way fan-out of each
    hot key with map-side combine; stage 2 reduces 3×64 partial rows.
    Same salting utility AQE cannot apply (AQE splits skewed JOIN
    partitions, not agg keys — SURVEY §4.3). Results are bit-exact vs
    the unsalted oracle: long partials per salt, decimal across salts
    (same two-level discipline as exact.exact_sums, salt instead of
    partition id, so the result is layout-independent too).
    """
    l = load_table(spark, sf_dir, "lineitem")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    salt = F.pmod(F.hash("l_orderkey", "l_linenumber"), F.lit(64))
    partials = (
        l.withColumn("__salt", salt)
        .groupBy("l_returnflag", "__salt")
        .agg(
            F.sum(F.round(revenue * F.lit(10**6)).cast("long")).alias("rev6"),
            F.count("*").alias("n"),
        )
    )
    return partials.groupBy("l_returnflag").agg(
        (F.sum(F.col("rev6").cast("decimal(38,0)")).cast("double") / F.lit(1e6)).alias("revenue"),
        F.sum("n").alias("n_items"),
    )


@declare("q_agg_approx_quantile", oracle=None, tags=("agg", "approx"))
def q_agg_approx_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentiles (Greenwald-Khanna sketch,
    ``percentile_approx``) next to their exact counterparts — the
    single-pass sketch path used at 100 TB where exact percentiles
    would need a full sort. No cross-engine oracle (sketch internals
    differ); pytest bounds both sketches by DuckDB's exact
    ``quantile_disc`` within the sketch's rank error."""
    l = load_table(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("approx_median"),
        F.median("l_extendedprice").alias("exact_median"),
        F.percentile_approx("l_extendedprice", 0.95, 10000).alias("approx_p95"),
    )


@declare(
    "q_agg_unpivot",
    oracle="""
SELECT l_returnflag, metric, val
FROM (
  SELECT l_returnflag,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
         CAST(COUNT(*) AS DOUBLE) AS n_rows
  FROM lineitem GROUP BY l_returnflag
)
UNPIVOT (val FOR metric IN (sum_qty, sum_price, n_rows))
""",
    tags=("agg",),
)
def q_agg_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT / melt: wide per-key metrics → long (key, metric, value).

    ``DataFrame.unpivot`` is Spark 4's native melt (an Expand node — a
    narrow op, no shuffle beyond the upstream aggregate). The inverse of
    q_agg_pivot; both directions declared.
    """
    l = load_table(spark, sf_dir, "lineitem")
    wide = l.groupBy("l_returnflag").agg(
        dsum("l_quantity").alias("sum_qty"),
        dsum("l_extendedprice").alias("sum_price"),
        F.count("*").cast("double").alias("n_rows"),
    )
    return wide.unpivot(
        ids=["l_returnflag"],
        values=["sum_qty", "sum_price", "n_rows"],
        variableColumnName="metric",
        valueColumnName="val",
    )


@declare(
    "q_agg_stragg",
    oracle="""
SELECT n_name,
       string_agg(s_name, ',' ORDER BY s_name) AS supplier_csv,
       COUNT(*) AS n_supps
FROM supplier JOIN nation ON s_nationkey = n_nationkey
GROUP BY n_name
""",
    tags=("agg",),
)
def q_agg_stragg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (string_agg / listagg).

    Expressed as sort-then-join over the collected array so the element
    order is explicit and deterministic — collect_list order itself is
    execution-order-dependent and must never leak into results
    (SURVEY §2.4 discipline).
    """
    s, n = (load_table(spark, sf_dir, t) for t in ("supplier", "nation"))
    j = s.join(F.broadcast(n.select("n_nationkey", "n_name")), F.col("s_nationkey") == F.col("n_nationkey"))
    return j.groupBy("n_name").agg(
        F.array_join(F.array_sort(F.collect_list("s_name")), ",").alias("supplier_csv"),
        F.count("*").alias("n_supps"),
    )


@declare(
    "q_agg_groupby_all",
    oracle=f"""
SELECT l_returnflag, l_linestatus,
       COUNT(*) AS n_rows,
       {dsum_sql('l_quantity')} AS sum_qty
FROM lineitem
GROUP BY ALL
""",
    tags=("agg",),
)
def q_agg_groupby_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL (infer grouping keys from the non-aggregate select
    list) — the DuckDB-originated convenience Spark 4 adopted; declared
    through the SQL entry to pin the dialect agreement."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_gba_v")
    return spark.sql(
        f"""
        SELECT l_returnflag, l_linestatus,
               COUNT(*) AS n_rows,
               {dsum_sql('l_quantity')} AS sum_qty
        FROM lineitem_gba_v
        GROUP BY ALL
        """
    )


@declare(
    "q_agg_mode",
    oracle="""
WITH c AS (
  SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
  FROM orders GROUP BY o_orderstatus, o_orderpriority
)
SELECT o_orderstatus, o_orderpriority AS mode_priority, n
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY o_orderstatus ORDER BY n DESC, o_orderpriority) AS rn
  FROM c
) WHERE rn = 1
""",
    tags=("agg",),
)
def q_agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped MODE (most frequent value) — count-then-argmax, with the
    deterministic tie-break (largest count, then smallest value) that a
    bare ``mode()`` aggregate leaves unspecified in every engine.

    Scale: the count is a map-side-combined groupBy whose output is
    |groups × distinct values| — tiny — so the argmax window costs
    nothing; the heavy relation is touched once."""
    o = load_table(spark, sf_dir, "orders")
    c = o.groupBy("o_orderstatus", "o_orderpriority").agg(F.count("*").alias("n"))
    w = Window.partitionBy("o_orderstatus").orderBy(F.col("n").desc(), F.col("o_orderpriority"))
    return (
        c.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_orderstatus", F.col("o_orderpriority").alias("mode_priority"), "n")
    )


@declare(
    "q_agg_weighted",
    oracle=f"""
SELECT l_returnflag,
       {dsum_sql('l_discount * l_quantity', 4, 24)}
         / {dsum_sql('l_quantity', 2, 18)} AS wavg_discount,
       COUNT(*) AS n_rows
FROM lineitem
GROUP BY l_returnflag
""",
    tags=("agg",),
)
def q_agg_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted mean discount — Σ(w·x)/Σ(w) with BOTH sums in
    exact decimal: discount has 2 dp and quantity is integral, so the
    per-row product has exactly 2 dp (DECIMAL(24,4) holds it losslessly
    after one IEEE multiply of identical bits) and each sum is
    order-independent; the single final divide is correctly rounded —
    the weighted aggregate stays bit-identical cross-engine, same
    policy as the window moments in q_ts_anomaly."""
    l = load_table(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        (
            F.sum(dec(F.col("l_discount") * F.col("l_quantity"), 4, 24)).cast("double")
            / F.sum(dec("l_quantity")).cast("double")
        ).alias("wavg_discount"),
        F.count("*").alias("n_rows"),
    )


@declare(
    "q_agg_moments",
    oracle="""
WITH c AS (
  SELECT event_type, CAST(ROUND(value * 100) AS HUGEINT) AS c FROM events
),
m AS (
  SELECT event_type,
         COUNT(c) AS n,
         CAST(SUM(c) AS DOUBLE) / 1e2 AS s1,
         CAST(SUM(c * c) AS DOUBLE) / 1e4 AS s2,
         CAST(SUM(c * c * c) AS DOUBLE) / 1e6 AS s3
  FROM c
  GROUP BY event_type
),
d AS (
  SELECT event_type, n, s1 / n AS mean,
         s2 / n - (s1 / n) * (s1 / n) AS vp,
         s3 / n - 3 * (s1 / n) * (s2 / n) + 2 * (s1 / n) * (s1 / n) * (s1 / n) AS m3c,
         s2, s1
  FROM m
)
SELECT event_type, n, mean,
       (s2 - (s1 * s1) / n) / NULLIF(CAST(n - 1 AS DOUBLE), 0) AS var_samp,
       CASE WHEN vp > 0 THEN m3c / (vp * SQRT(vp)) END AS skewness
FROM d
""",
    tags=("agg", "events"),
)
def q_agg_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BIT-EXACT higher statistical moments — mean, sample variance, and
    skewness per event_type, with no rounding policy. The moments are
    INTEGER-CENTS sums: value has 2 dp, so c = round(value·100) is an
    exact integer in both engines, c/c²/c³ are exact DECIMAL products
    (never a double→decimal cast of a 16-digit value — the r7 fuzz
    harness caught the previous DECIMAL(38,6) spelling diverging
    per-row at value³ magnitudes, where Spark's shortest-repr HALF_UP
    cast and DuckDB's binary scaling can round a borderline 6th digit
    apart), their sums are order-independent, and s1/s2/s3 come out
    through one correctly-rounded cast + one pinned IEEE division
    each. mean/var/skew then derive through a pinned tree of
    correctly-rounded ops. σ³ is spelled ``v·√v``, NOT ``pow(v, 1.5)``
    — pow is a libm transcendental with last-ulp drift across engines,
    while multiply and sqrt are IEEE-correctly-rounded. Domain bound:
    |value| < 10¹⁰ (DECIMAL(12,0) cents; c³ ≤ DECIMAL(38,0)) — ANSI
    overflows loudly rather than drifting silently beyond it.

    Scale: one map-side-combined groupBy; three decimal sums ride the
    same partial-agg pass, |event types| final groups."""
    e = load_table(spark, sf_dir, "events")
    c = F.round(F.col("value") * 100).cast("decimal(12,0)")
    m = e.groupBy("event_type").agg(
        F.count(c).alias("n"),
        (F.sum(c).cast("double") / F.lit(1e2)).alias("s1"),
        (F.sum(c * c).cast("double") / F.lit(1e4)).alias("s2"),
        (F.sum(c * c * c).cast("double") / F.lit(1e6)).alias("s3"),
    )
    n, s1, s2, s3 = F.col("n"), F.col("s1"), F.col("s2"), F.col("s3")
    mean = s1 / n
    vp = s2 / n - mean * mean
    m3c = s3 / n - F.lit(3) * mean * (s2 / n) + F.lit(2) * mean * mean * mean
    # Degenerate-group policy (r7 torture + review findings), mirrored
    # in the oracle: singleton groups (n-1 = 0) → NULL var_samp;
    # skewness is gated on vp > 0 BEFORE the sqrt — a constant group
    # with fractional cents cancels to a TINY NEGATIVE vp (≈ -1e-20),
    # where an unguarded SQRT crashes DuckDB outright and Spark emits
    # NaN. n counts non-NULL values (COUNT(c)) so NULL rows can never
    # skew the ratio of a count against NULL-skipping sums.
    return m.select(
        "event_type",
        "n",
        mean.alias("mean"),
        safe_div(s2 - (s1 * s1) / n, (n - 1).cast("double")).alias("var_samp"),
        F.when(vp > 0, m3c / (vp * F.sqrt(vp))).alias("skewness"),
    )


def _countmin_sql(depth: int = 4, width: int = 256) -> str:
    """DuckDB twin of q_agg_countmin: same md5 base hash, same
    minhash_coeffs literals, same (row, bucket) cells."""
    from pipetree_spark.ops.text import MINHASH_P, minhash_coeffs

    base = "CAST(concat('0x', substr(md5(CAST({k} AS VARCHAR)), 1, 15)) AS BIGINT)" \
           f" % {MINHASH_P}"
    coeffs = minhash_coeffs(depth)
    build = "\nUNION ALL\n".join(
        f"SELECT {i} AS i, (({a} * ({base.format(k='l_partkey')}) + {b}) % {MINHASH_P})"
        f" % {width} AS bucket FROM lineitem"
        for i, (a, b) in enumerate(coeffs)
    )
    probe = "\nUNION ALL\n".join(
        f"SELECT k, {i} AS i, (({a} * ({base.format(k='k')}) + {b}) % {MINHASH_P})"
        f" % {width} AS bucket FROM probes"
        for i, (a, b) in enumerate(coeffs)
    )
    return f"""
WITH cells AS ({build}),
cms AS (SELECT i, bucket, COUNT(*) AS c FROM cells GROUP BY i, bucket),
probes AS (SELECT UNNEST(range(1, 11)) AS k),
pcells AS ({probe}),
est AS (
  SELECT p.k, MIN(COALESCE(m.c, 0)) AS est
  FROM pcells p LEFT JOIN cms m ON p.i = m.i AND p.bucket = m.bucket
  GROUP BY p.k
),
exact AS (SELECT l_partkey AS k, COUNT(*) AS exact_cnt FROM lineitem GROUP BY l_partkey)
SELECT e.k AS probe_key, e.est,
       COALESCE(x.exact_cnt, 0) AS exact_cnt,
       e.est - COALESCE(x.exact_cnt, 0) AS overcount
FROM est e LEFT JOIN exact x ON e.k = x.k
"""


@declare("q_agg_countmin", oracle=_countmin_sql(), tags=("agg", "approx"))
def q_agg_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-EXACT count-min sketch — the streaming heavy-hitter
    sketch, built with the portable universal-hash family
    (ops.text.minhash_coeffs: fixed literals, md5 base hash) instead of
    seeded RNG, so unlike spark's HLL/GK sketches (rows-only by
    design) the whole sketch AND its estimates hash-match DuckDB
    bit-for-bit. Depth 4 × width 256; emits per probe key the CMS
    estimate, the exact count, and the overcount — which the CMS
    guarantee makes ≥ 0 (estimates never undercount), a property the
    driver's hash compare re-proves every round.

    Scale shape: the build is ONE map-side-combined groupBy over
    depth·|rows| cells with a hard 1024-cell state bound — the classic
    fixed-memory stream summary (this is what replaces exact counts
    when the key space, not the data, is the problem); probes and the
    sketch itself are broadcast-sized."""
    from pipetree_spark.ops.text import MINHASH_P, minhash_coeffs

    depth, width = 4, 256
    coeffs = minhash_coeffs(depth)
    l = load_table(spark, sf_dir, "lineitem")

    def cells(df, key_col):
        base = (
            F.conv(F.substring(F.md5(F.col(key_col).cast("string")), 1, 15), 16, 10)
            .cast("long") % MINHASH_P
        )
        structs = [
            F.struct(
                F.lit(i).alias("i"),
                (((F.lit(a) * base + F.lit(b)) % MINHASH_P) % width).alias("bucket"),
            )
            for i, (a, b) in enumerate(coeffs)
        ]
        return df.select(key_col, F.explode(F.array(*structs)).alias("__c")).select(
            key_col, F.col("__c.i").alias("i"), F.col("__c.bucket").alias("bucket")
        )

    cms = cells(l.select("l_partkey"), "l_partkey").groupBy("i", "bucket").agg(
        F.count("*").alias("c")
    )
    probes = spark.range(1, 11).select(F.col("id").alias("k"))
    est = (
        cells(probes, "k")
        .join(F.broadcast(cms), ["i", "bucket"], "left")
        .groupBy("k")
        .agg(F.min(F.coalesce("c", F.lit(0))).alias("est"))
    )
    exact = l.groupBy(F.col("l_partkey").alias("k")).agg(F.count("*").alias("exact_cnt"))
    return (
        est.join(F.broadcast(exact), "k", "left")
        .select(
            F.col("k").alias("probe_key"),
            "est",
            F.coalesce("exact_cnt", F.lit(0)).alias("exact_cnt"),
            (F.col("est") - F.coalesce("exact_cnt", F.lit(0))).alias("overcount"),
        )
    )


def _bloom_sql(depth: int = 4, width: int = 1024) -> str:
    """DuckDB twin of q_agg_bloom — same hash family as the count-min
    oracle, bits represented as the distinct (i, pos) set."""
    from pipetree_spark.ops.text import MINHASH_P, minhash_coeffs

    base = "CAST(concat('0x', substr(md5(CAST({k} AS VARCHAR)), 1, 15)) AS BIGINT)" \
           f" % {MINHASH_P}"
    coeffs = minhash_coeffs(depth)
    build = "\nUNION ALL\n".join(
        f"SELECT DISTINCT {i} AS i, (({a} * ({base.format(k='o_custkey')}) + {b})"
        f" % {MINHASH_P}) % {width} AS pos FROM orders"
        for i, (a, b) in enumerate(coeffs)
    )
    probe = "\nUNION ALL\n".join(
        f"SELECT k, {i} AS i, (({a} * ({base.format(k='k')}) + {b})"
        f" % {MINHASH_P}) % {width} AS pos FROM probes"
        for i, (a, b) in enumerate(coeffs)
    )
    return f"""
WITH bits AS ({build}),
probes AS (SELECT UNNEST(range(1, 6)) AS k UNION ALL
           SELECT UNNEST(range(1000001, 1000006)) AS k),
pcells AS ({probe}),
hit AS (
  SELECT p.k, CAST(MIN(CASE WHEN b.pos IS NOT NULL THEN 1 ELSE 0 END) AS INT)
           AS maybe_present
  FROM pcells p LEFT JOIN bits b ON p.i = b.i AND p.pos = b.pos
  GROUP BY p.k
),
truth AS (SELECT DISTINCT o_custkey AS k FROM orders)
SELECT h.k AS probe_key, h.maybe_present,
       CAST(t.k IS NOT NULL AS INT) AS actually_present
FROM hit h LEFT JOIN truth t ON h.k = t.k
"""


@declare("q_agg_bloom", oracle=_bloom_sql(), tags=("agg", "approx"))
def q_agg_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-EXACT Bloom filter — the membership sketch beside
    q_agg_countmin's frequency sketch, same portable universal-hash
    family (fixed literals, md5 base hash): build the filter over
    orders.o_custkey as the distinct set of (hash-row, bit-position)
    cells, then probe 5 known-present and 5 known-absent keys. Emits
    (probe_key, maybe_present, actually_present); Bloom's one-sided
    guarantee — maybe_present ≥ actually_present, no false negatives —
    is re-proved by the driver's hash compare every round, and any
    false POSITIVE the parameters produce is the same bit pattern in
    both engines.

    Scale shape: the filter is a map-side-combined DISTINCT over
    depth·|rows| cells with a hard depth×width state bound (4×1024
    bits here — a real deployment sizes width from the FP target);
    probing is a broadcast join against the tiny bit set. This is the
    build-side pattern of runtime join pruning (Spark's own
    InjectRuntimeFilter builds exactly this and ships it to scans)."""
    from pipetree_spark.ops.text import MINHASH_P, minhash_coeffs

    depth, width = 4, 1024
    coeffs = minhash_coeffs(depth)
    o = load_table(spark, sf_dir, "orders")

    def cells(df, key_col):
        base = (
            F.conv(F.substring(F.md5(F.col(key_col).cast("string")), 1, 15), 16, 10)
            .cast("long") % MINHASH_P
        )
        structs = [
            F.struct(
                F.lit(i).alias("i"),
                (((F.lit(a) * base + F.lit(b)) % MINHASH_P) % width).alias("pos"),
            )
            for i, (a, b) in enumerate(coeffs)
        ]
        return df.select(key_col, F.explode(F.array(*structs)).alias("__c")).select(
            key_col, F.col("__c.i").alias("i"), F.col("__c.pos").alias("pos")
        )

    bits = cells(o.select("o_custkey"), "o_custkey").select("i", "pos").distinct()
    probes = (
        spark.range(1, 6).select(F.col("id").alias("k"))
        .unionByName(spark.range(1000001, 1000006).select(F.col("id").alias("k")))
    )
    hit = (
        cells(probes, "k")
        .join(F.broadcast(bits.withColumn("__hit", F.lit(1))), ["i", "pos"], "left")
        .groupBy("k")
        .agg(F.min(F.coalesce("__hit", F.lit(0))).cast("int").alias("maybe_present"))
    )
    truth = o.select(F.col("o_custkey").alias("k")).distinct().withColumn("__t", F.lit(1))
    return (
        hit.join(F.broadcast(truth), "k", "left")
        .select(
            F.col("k").alias("probe_key"),
            "maybe_present",
            F.coalesce("__t", F.lit(0)).alias("actually_present"),
        )
    )


@declare(
    "q_agg_incremental",
    oracle=f"""
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       {dsum_sql('o_totalprice')} AS sum_price,
       {dsum_sql('o_totalprice')} / COUNT(*) AS avg_price,
       MIN(o_orderdate) AS first_date,
       CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS max_price
FROM orders
GROUP BY o_orderpriority
""",
    tags=("agg", "incremental"),
)
def q_agg_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance: merge STORED partial
    aggregates with a new batch's partials and get bit-for-bit the
    full-recompute answer (the oracle groups the whole table flat).

    The materialized-view pattern for 100 TB rollups: history
    (o_orderdate < 1996-01-01, standing in for last night's stored
    partial table) and the new batch each reduce to one partial row per
    group — count, exact-decimal sum, min date, max price, all
    ALGEBRAIC aggregates whose partials merge losslessly (sum of sums,
    sum of counts, min of mins, max of maxes; avg derived from merged
    sum/count, never averaged-of-averages). Nightly cost is
    O(batch + |groups|): history is never rescanned, and the merge
    input is |groups| × 2 rows regardless of corpus size. Decimal
    partials make the merge order-independent, so the incremental
    answer hashes identically to the flat recompute under the driver's
    gate every round.
    """
    o = load_table(spark, sf_dir, "orders")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderpriority").agg(
            F.count("*").alias("__n"),
            F.sum(dec("o_totalprice", 2)).alias("__sum"),
            F.min("o_orderdate").alias("__min_d"),
            F.max(dec("o_totalprice", 2)).alias("__max_p"),
        )

    hist = partial(o.filter(F.col("o_orderdate") < "1996-01-01"))
    batch = partial(o.filter(F.col("o_orderdate") >= "1996-01-01"))
    return (
        hist.unionByName(batch)
        .groupBy("o_orderpriority")
        .agg(
            F.sum("__n").alias("n_orders"),
            F.sum("__sum").cast("double").alias("sum_price"),
            (F.sum("__sum").cast("double") / F.sum("__n")).alias("avg_price"),
            F.min("__min_d").alias("first_date"),
            F.max("__max_p").cast("double").alias("max_price"),
        )
    )


def _hll_sql(m: int = 64) -> str:
    """DuckDB twin of q_agg_hll: same md5 base hash, same integer-only
    rho (leading-zero rank) via a comparison chain — no float log2
    anywhere near the registers."""
    bits_chain = " + ".join(f"CAST(w >= {1 << k} AS INT)" for k in range(1, 54))
    two62 = 1 << 62
    alpha_m2 = repr(0.709 * m * m)
    return f"""
WITH h AS (
  SELECT CAST(concat('0x', substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15)) AS BIGINT) AS h
  FROM lineitem
),
cells AS (SELECT h % {m} AS j, h // {m} AS w FROM h),
rho AS (
  SELECT j, CASE WHEN w = 0 THEN 55 ELSE 55 - (1 + {bits_chain}) END AS rho FROM cells
),
regs AS (SELECT j, MAX(rho) AS reg FROM rho GROUP BY j),
dense AS (
  SELECT g.j AS j, COALESCE(r.reg, 0) AS reg
  FROM (SELECT UNNEST(range(0, {m})) AS j) g LEFT JOIN regs r ON g.j = r.j
),
summary AS (
  SELECT CAST(list(reg ORDER BY j) AS INTEGER[]) AS registers,
         CAST(SUM(CASE WHEN reg = 0 THEN 1 ELSE 0 END) AS INT) AS n_zeros,
         CAST(SUM(CAST(1 AS HUGEINT) << CAST(62 - reg AS INT)) AS DOUBLE) AS sum_scaled
  FROM dense
),
ex AS (SELECT COUNT(DISTINCT l_partkey) AS exact_distinct FROM lineitem)
SELECT {m} AS m, n_zeros, array_to_string(registers, ',') AS registers, sum_scaled,
       CASE WHEN ({alpha_m2} / (sum_scaled / {float(two62)!r})) <= {2.5 * m}
                 AND n_zeros > 0
            THEN round({float(m)!r} * ln({float(m)!r} / n_zeros), 2)
            ELSE round({alpha_m2} / (sum_scaled / {float(two62)!r}), 2)
       END AS est_hll,
       exact_distinct
FROM summary, ex
"""


@declare("q_agg_hll", oracle=_hll_sql(), tags=("agg", "approx"))
def q_agg_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-EXACT HyperLogLog — closes the sketch family triangle
    beside q_agg_countmin (frequency) and q_agg_bloom (membership)
    with the cardinality sketch, and gives q_agg_approx_cd (Spark's
    native HLL++, rows-only by design) a fully certified portable
    twin. Same md5 base hash as the other portable sketches; the
    register rank rho is INTEGER-ONLY (a 53-term comparison chain
    computes bit-length — no float log2 can drift), the register sum
    Σ2^(-reg) is taken in exact DECIMAL(38,0) units of 2^-62, and only
    the final estimate touches doubles (identical literals, identical
    op order; ln() in the linear-counting branch is 1-ulp-rounded
    away by the r2 policy). Emits the full 64-register sketch, the
    zero count, the scaled sum, the estimate, and the exact distinct
    count the driver re-proves the estimate against every round.

    Scale shape: ONE map-side-combined groupBy over |rows| cells with
    a hard 64-register state bound — THE fixed-memory distinct-count
    summary for 100 TB streams (exact distinct shuffles every key;
    this shuffles 64 rows). Registers merge by MAX, so partials
    compose across partitions, days, and tables for free.
    """
    from pipetree_spark.ops.sketch import hll_estimate, hll_registers

    m = 64
    l = load_table(spark, sf_dir, "lineitem")
    summary = hll_registers(l, "l_partkey", m).select("registers", *hll_estimate("registers", m))
    ex = l.agg(F.count_distinct("l_partkey").alias("exact_distinct"))
    return summary.crossJoin(F.broadcast(ex)).select(
        F.lit(m).alias("m"),
        "n_zeros",
        # serialize at the query edge: the driver's pandas sort+hash
        # can't take raw arrays (tests/test_oracle_parity.py pins this)
        F.array_join(
            F.expr("transform(registers, x -> CAST(x AS STRING))"), ","
        ).alias("registers"),
        "sum_scaled",
        "est_hll",
        "exact_distinct",
    )


def _hll_by_sql(m: int = 64) -> str:
    """DuckDB twin of q_agg_hll_bygroup: q_agg_hll's math with the
    register key widened to (event_type, j)."""
    bits_chain = " + ".join(f"CAST(w >= {1 << k} AS INT)" for k in range(1, 54))
    two62 = 1 << 62
    alpha_m2 = repr(0.709 * m * m)
    return f"""
WITH h AS (
  SELECT event_type,
         CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
  FROM events
),
cells AS (SELECT event_type, h % {m} AS j, h // {m} AS w FROM h),
rho AS (
  SELECT event_type, j,
         CASE WHEN w = 0 THEN 55 ELSE 55 - (1 + {bits_chain}) END AS rho
  FROM cells
),
regs AS (SELECT event_type, j, MAX(rho) AS reg FROM rho GROUP BY event_type, j),
grps AS (SELECT DISTINCT event_type FROM events),
dense AS (
  SELECT grps.event_type, g.j AS j, COALESCE(r.reg, 0) AS reg
  FROM grps CROSS JOIN (SELECT UNNEST(range(0, {m})) AS j) g
  LEFT JOIN regs r ON grps.event_type = r.event_type AND g.j = r.j
),
summary AS (
  SELECT event_type,
         CAST(SUM(CASE WHEN reg = 0 THEN 1 ELSE 0 END) AS INT) AS n_zeros,
         CAST(SUM(CAST(1 AS HUGEINT) << CAST(62 - reg AS INT)) AS DOUBLE) AS sum_scaled
  FROM dense GROUP BY event_type
),
ex AS (SELECT event_type, COUNT(DISTINCT user_id) AS exact_distinct FROM events GROUP BY event_type)
SELECT s.event_type, s.n_zeros, s.sum_scaled,
       CASE WHEN ({alpha_m2} / (s.sum_scaled / {float(two62)!r})) <= {2.5 * m}
                 AND s.n_zeros > 0
            THEN round({float(m)!r} * ln({float(m)!r} / s.n_zeros), 2)
            ELSE round({alpha_m2} / (s.sum_scaled / {float(two62)!r}), 2)
       END AS est_hll,
       ex.exact_distinct
FROM summary s JOIN ex ON s.event_type = ex.event_type
"""


@declare("q_agg_hll_bygroup", oracle=_hll_by_sql(), tags=("agg", "approx"))
def q_agg_hll_bygroup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_agg_hll in its production shape: distinct users PER EVENT TYPE
    via per-group HLL registers (ops.sketch.hll_registers_by). The
    map-side combine bounds state at 64 rows per group, so the shuffle
    is |groups|·64 rows no matter how many billion events arrive —
    versus count_distinct's full (group, user) key shuffle. Per-group
    register vectors merge with element-wise MAX, so daily sketches
    roll up to monthly ones without touching raw events again. Same
    integer-only register math as q_agg_hll; the driver re-proves each
    group's sketch AND estimate against the exact per-group distinct
    every sampled round."""
    from pipetree_spark.ops.sketch import hll_estimate, hll_registers_by

    m = 64
    e = load_table(spark, sf_dir, "events")
    summary = hll_registers_by(e, "user_id", ["event_type"], m).select(
        "event_type", *hll_estimate("registers", m)
    )
    ex = e.groupBy("event_type").agg(F.count_distinct("user_id").alias("exact_distinct"))
    return summary.join(F.broadcast(ex), "event_type").select(
        "event_type", "n_zeros", "sum_scaled", "est_hll", "exact_distinct"
    )


def _quantile_hist_sql(n_buckets: int = 256) -> str:
    """DuckDB twin of q_agg_quantile_hist — identical double arithmetic
    (same literals, same op order) for width, bucket, and the in-bucket
    interpolation; QUANTILE_CONT matches F.percentile (the certified
    q_agg_percentile mapping)."""
    b = n_buckets
    return f"""
WITH ex AS (
  SELECT MIN(l_extendedprice) AS lo, MAX(l_extendedprice) AS hi,
         COUNT(l_extendedprice) AS n,
         QUANTILE_CONT(l_extendedprice, 0.5) AS ex50,
         QUANTILE_CONT(l_extendedprice, 0.95) AS ex95,
         QUANTILE_CONT(l_extendedprice, 0.99) AS ex99
  FROM lineitem
),
hist AS (
  SELECT CASE WHEN ex.hi = ex.lo THEN 0
              ELSE LEAST({b - 1}, CAST(FLOOR((l_extendedprice - ex.lo) / ((ex.hi - ex.lo) / {float(b)!r})) AS INT))
         END AS bucket,
         COUNT(*) AS cnt
  FROM lineitem, ex
  WHERE l_extendedprice IS NOT NULL
  GROUP BY 1
),
cum AS (
  SELECT bucket, cnt, SUM(cnt) OVER (ORDER BY bucket) AS cum FROM hist
),
qs AS (SELECT UNNEST(CAST([0.5, 0.95, 0.99] AS DOUBLE[])) AS q),
firstb AS (
  SELECT qs.q, MIN(c.bucket) AS b
  FROM qs CROSS JOIN ex JOIN cum c ON c.cum >= qs.q * ex.n
  GROUP BY qs.q
),
est AS (
  SELECT f.q,
         ex.lo + ((ex.hi - ex.lo) / {float(b)!r}) *
           (f.b + (f.q * ex.n - (c.cum - c.cnt)) / c.cnt) AS est_q
  FROM firstb f JOIN cum c ON c.bucket = f.b CROSS JOIN ex
)
SELECT e.q,
       e.est_q,
       CASE e.q WHEN 0.5 THEN ex.ex50 WHEN 0.95 THEN ex.ex95 ELSE ex.ex99 END AS exact_q,
       ex.n AS n_values
FROM est e CROSS JOIN ex
"""


@declare("q_agg_quantile_hist", oracle=_quantile_hist_sql(), tags=("agg", "approx"))
def q_agg_quantile_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-EXACT fixed-memory quantile estimation — the portable
    certified twin q_agg_approx_quantile (Spark's opaque GK sketch,
    rows-only by design) gets, completing the pattern q_agg_hll set
    for q_agg_approx_cd: every approximate-aggregate family now has a
    bit-certified portable member. Two passes: (1) global min/max/
    count + the exact percentiles the driver re-proves the estimates
    against; (2) a 256-bucket equi-width histogram (map-side-combined,
    ≤256 groups) with a cumulative window over AT MOST 256 rows, then
    in-bucket linear interpolation for p50/p95/p99. Every double op
    (width, bucket floor, interpolation) runs the same literals in the
    same order in both engines; the all-equal-values edge (width 0)
    routes to bucket 0 by CASE before any division.

    Scale shape: pass 2 shuffles 256 rows no matter the corpus — the
    single-pass-class answer (vs a full sort for exact percentiles)
    when ±width/2 resolution suffices; tighten by raising B, still
    O(B) state. The unpartitioned cumulative window is bounded by
    construction at 256 rows (PLANS.md whitelist)."""
    b = 256
    l = load_table(spark, sf_dir, "lineitem")
    ex = l.agg(
        F.min("l_extendedprice").alias("lo"),
        F.max("l_extendedprice").alias("hi"),
        F.count("l_extendedprice").alias("n"),
        F.percentile("l_extendedprice", F.lit(0.5)).alias("ex50"),
        F.percentile("l_extendedprice", F.lit(0.95)).alias("ex95"),
        F.percentile("l_extendedprice", F.lit(0.99)).alias("ex99"),
    )
    width = (F.col("hi") - F.col("lo")) / F.lit(float(b))
    bucket = F.when(F.col("hi") == F.col("lo"), F.lit(0)).otherwise(
        F.least(
            F.lit(b - 1),
            F.floor((F.col("l_extendedprice") - F.col("lo")) / width).cast("int"),
        )
    )
    hist = (
        l.filter(F.col("l_extendedprice").isNotNull())
        .crossJoin(F.broadcast(ex.select("lo", "hi")))
        .groupBy(bucket.alias("bucket"))
        .agg(F.count("*").alias("cnt"))
    )
    cum = hist.withColumn(
        "cum", F.sum("cnt").over(Window.orderBy("bucket"))  # ≤256 rows by construction
    )
    qs = spark.range(1).select(F.explode(F.array(F.lit(0.5), F.lit(0.95), F.lit(0.99))).alias("q"))
    firstb = (
        qs.crossJoin(F.broadcast(ex))
        .join(F.broadcast(cum), F.col("cum") >= F.col("q") * F.col("n"))
        .groupBy("q")
        .agg(F.min("bucket").alias("b"))
    )
    est = (
        firstb.join(F.broadcast(cum), F.col("bucket") == F.col("b"))
        .crossJoin(F.broadcast(ex))
        .select(
            "q",
            (
                F.col("lo")
                + ((F.col("hi") - F.col("lo")) / F.lit(float(b)))
                * (F.col("b") + (F.col("q") * F.col("n") - (F.col("cum") - F.col("cnt"))) / F.col("cnt"))
            ).alias("est_q"),
            F.when(F.col("q") == 0.5, F.col("ex50"))
            .when(F.col("q") == 0.95, F.col("ex95"))
            .otherwise(F.col("ex99"))
            .alias("exact_q"),
            F.col("n").alias("n_values"),
        )
    )
    return est


def _kmv_sql(k: int = 256) -> str:
    """DuckDB twin of q_agg_kmv_setops: identical 60-bit hash, k-min
    order statistics, and estimator op order (saturated → (k-1)·2^60 /
    h_k as one double multiply + divide on identical longs)."""
    est_scale = f"{float(k - 1)!r} * {float(1 << 60)!r}"
    case = f"CASE WHEN cnt < {k} THEN CAST(cnt AS DOUBLE) ELSE round({est_scale} / hk, 2) END"
    return f"""
WITH ha AS (SELECT DISTINCT CAST(concat('0x', substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15)) AS BIGINT) AS h
            FROM orders WHERE o_orderpriority = '1-URGENT'),
hb AS (SELECT DISTINCT CAST(concat('0x', substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15)) AS BIGINT) AS h
       FROM orders WHERE o_orderpriority = '5-LOW'),
ka AS (SELECT h FROM ha ORDER BY h LIMIT {k}),
kb AS (SELECT h FROM hb ORDER BY h LIMIT {k}),
ku AS (SELECT h FROM (SELECT h FROM ka UNION SELECT h FROM kb) ORDER BY h LIMIT {k}),
ea AS (SELECT {case} AS est_a FROM (SELECT COUNT(*) AS cnt, MAX(h) AS hk FROM ka)),
eb AS (SELECT {case} AS est_b FROM (SELECT COUNT(*) AS cnt, MAX(h) AS hk FROM kb)),
eu AS (SELECT {case} AS est_union FROM (SELECT COUNT(*) AS cnt, MAX(h) AS hk FROM ku)),
ic AS (SELECT COUNT(*) AS inter_cnt FROM ku
       WHERE h IN (SELECT h FROM ka) AND h IN (SELECT h FROM kb)),
uc AS (SELECT COUNT(*) AS ucnt FROM ku),
ex AS (SELECT COUNT(DISTINCT o_custkey) FILTER (o_orderpriority = '1-URGENT') AS exact_a,
              COUNT(DISTINCT o_custkey) FILTER (o_orderpriority = '5-LOW') AS exact_b,
              COUNT(DISTINCT o_custkey) FILTER (o_orderpriority IN ('1-URGENT', '5-LOW')) AS exact_union
       FROM orders),
exi AS (SELECT COUNT(*) AS exact_inter FROM
          (SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT') a
          JOIN (SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '5-LOW') b USING (o_custkey))
SELECT est_a, est_b, est_union,
       round(inter_cnt * est_union / nullif(ucnt, 0), 2) AS est_inter,
       exact_a, exact_b, exact_union, exact_inter
FROM ea, eb, eu, ic, uc, ex, exi
"""


@declare("q_agg_kmv_setops", oracle=_kmv_sql(), tags=("agg", "approx"))
def q_agg_kmv_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-minimum-values sketch SET OPERATIONS (ops.sketch.kmv_sketch):
    distinct-customer estimates for urgent orders, low-priority
    orders, their UNION, and their INTERSECTION — all from two 256-row
    sketches — next to the exact answers the driver re-proves the
    error against.

    This closes the one gap in the sketch family: HLL registers only
    union (MAX-merge), but audience-overlap / retention / join-
    selectivity questions need A∩B. KMV's k smallest hashes under ONE
    hash function are a shared uniform sample, so the union sketch's
    hit-rate against both sides estimates Jaccard, and est_inter =
    hits · est_union / |union sketch| (the sketch's actual size, which
    equals k once saturated — and when it is NOT saturated the sketch
    holds the whole union, making the estimate exact rather than
    k-biased-low). Everything is deterministic: "k smallest
    distinct hashes" is a canonical set (no RNG, no HLL++ opacity),
    which is why the sketch itself — not just its envelope — is
    oracle-certified bit-for-bit.

    Scale shape: each sketch is distinct-on-hash (the only data-sized
    shuffle, same cost class as the exact distinct it replaces ONCE —
    then every later set-op question is k-row work) followed by
    TakeOrderedAndProject (per-partition k-heaps, no global sort).
    Sketch frames are broadcast-sized artifacts like the HLL register
    and Bloom bitmap rows: persist them per day/segment and answer
    overlap queries without touching raw data again.
    """
    from pipetree_spark.ops.relational import checkpoint
    from pipetree_spark.ops.sketch import kmv_estimate, kmv_sketch, kmv_union

    k = 256
    o = load_table(spark, sf_dir, "orders")
    ua = o.where(F.col("o_orderpriority") == "1-URGENT")
    ub = o.where(F.col("o_orderpriority") == "5-LOW")
    ska = checkpoint(kmv_sketch(ua, "o_custkey", k))
    skb = checkpoint(kmv_sketch(ub, "o_custkey", k))
    sku = checkpoint(kmv_union(ska, skb, k))

    def est(sk: DataFrame, name: str) -> DataFrame:
        return sk.agg(
            F.count("*").alias("cnt"), F.max("h").alias("hk")
        ).select(kmv_estimate(k).alias(name))

    inter = (
        sku.join(ska, "h", "semi")
        .join(skb, "h", "semi")
        .agg(F.count("*").alias("inter_cnt"))
    )
    ucnt = sku.agg(F.count("*").alias("ucnt"))
    exact = o.agg(
        F.count_distinct(
            F.when(F.col("o_orderpriority") == "1-URGENT", F.col("o_custkey"))
        ).alias("exact_a"),
        F.count_distinct(
            F.when(F.col("o_orderpriority") == "5-LOW", F.col("o_custkey"))
        ).alias("exact_b"),
        F.count_distinct(
            F.when(
                F.col("o_orderpriority").isin("1-URGENT", "5-LOW"),
                F.col("o_custkey"),
            )
        ).alias("exact_union"),
    )
    exact_inter = (
        ua.select("o_custkey")
        .distinct()
        .join(ub.select("o_custkey").distinct(), "o_custkey", "semi")
        .agg(F.count("*").alias("exact_inter"))
    )
    out = (
        est(ska, "est_a")
        .crossJoin(F.broadcast(est(skb, "est_b")))
        .crossJoin(F.broadcast(est(sku, "est_union")))
        .crossJoin(F.broadcast(inter))
        .crossJoin(F.broadcast(ucnt))
        .crossJoin(F.broadcast(exact))
        .crossJoin(F.broadcast(exact_inter))
    )
    # Denominator is the union sketch's ACTUAL size, not the constant k:
    # an unsaturated union sketch (ucnt < k) holds the ENTIRE union, so
    # hits IS the exact intersection and est_union == ucnt — dividing by
    # k instead would bias the estimate low in exactly the small-set
    # regime where the sketch could be exact. Saturated (ucnt == k) is
    # the classic hits·est_union/k. nullif guards the empty-input case
    # (DuckDB NULL vs Spark ANSI DIVIDE_BY_ZEROs, the pinned trap).
    return out.select(
        "est_a",
        "est_b",
        "est_union",
        F.round(
            F.col("inter_cnt") * F.col("est_union")
            / F.nullif(F.col("ucnt"), F.lit(0)),
            2,
        ).alias("est_inter"),
        "exact_a",
        "exact_b",
        "exact_union",
        "exact_inter",
    )


def _quantile_hist_by_sql(n_buckets: int = 256) -> str:
    """DuckDB twin of q_agg_quantile_hist_bygroup — the per-group
    widening of _quantile_hist_sql: identical double arithmetic with
    every stage keyed by l_returnflag."""
    b = n_buckets
    return f"""
WITH ex AS (
  SELECT l_returnflag AS g, MIN(l_extendedprice) AS lo, MAX(l_extendedprice) AS hi,
         COUNT(l_extendedprice) AS n,
         QUANTILE_CONT(l_extendedprice, 0.5) AS ex50,
         QUANTILE_CONT(l_extendedprice, 0.95) AS ex95
  FROM lineitem GROUP BY l_returnflag
),
hist AS (
  SELECT ex.g,
         CASE WHEN ex.hi = ex.lo THEN 0
              ELSE LEAST({b - 1}, CAST(FLOOR((l_extendedprice - ex.lo) / ((ex.hi - ex.lo) / {float(b)!r})) AS INT))
         END AS bucket,
         COUNT(*) AS cnt
  FROM lineitem JOIN ex ON lineitem.l_returnflag = ex.g
  WHERE l_extendedprice IS NOT NULL
  GROUP BY 1, 2
),
cum AS (
  SELECT g, bucket, cnt, SUM(cnt) OVER (PARTITION BY g ORDER BY bucket) AS cum FROM hist
),
qs AS (SELECT UNNEST(CAST([0.5, 0.95] AS DOUBLE[])) AS q),
firstb AS (
  SELECT c.g, qs.q, MIN(c.bucket) AS b
  FROM qs JOIN ex ON TRUE JOIN cum c ON c.g = ex.g AND c.cum >= qs.q * ex.n
  GROUP BY c.g, qs.q
),
est AS (
  SELECT f.g, f.q,
         ex.lo + ((ex.hi - ex.lo) / {float(b)!r}) *
           (f.b + (f.q * ex.n - (c.cum - c.cnt)) / c.cnt) AS est_q
  FROM firstb f
  JOIN cum c ON c.g = f.g AND c.bucket = f.b
  JOIN ex ON ex.g = f.g
)
SELECT e.g AS l_returnflag, e.q, e.est_q,
       CASE e.q WHEN 0.5 THEN ex.ex50 ELSE ex.ex95 END AS exact_q,
       ex.n AS n_values
FROM est e JOIN ex ON ex.g = e.g
"""


@declare(
    "q_agg_quantile_hist_bygroup",
    oracle=_quantile_hist_by_sql(),
    tags=("agg", "approx"),
)
def q_agg_quantile_hist_bygroup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_agg_quantile_hist in its production shape: p50/p95 of
    l_extendedprice PER RETURNFLAG from per-group 256-bucket
    histograms — the per-segment percentile summary (latency per
    tenant, price per segment) at fixed memory per group.

    Structurally STRONGER at scale than the global variant: the
    cumulative window is PARTITIONED by group (≤256 rows per
    partition, no single-reducer stage anywhere), the histogram
    shuffle is ≤ 256·|groups| rows, and the group min/max frame joins
    back by group key (broadcast — |groups| rows). Same pinned double
    arithmetic as the global twin; the driver re-proves each group's
    estimates against exact QUANTILE_CONT every sampled round.
    """
    b = 256
    l = load_table(spark, sf_dir, "lineitem")
    ex = l.groupBy(F.col("l_returnflag").alias("g")).agg(
        F.min("l_extendedprice").alias("lo"),
        F.max("l_extendedprice").alias("hi"),
        F.count("l_extendedprice").alias("n"),
        F.percentile("l_extendedprice", F.lit(0.5)).alias("ex50"),
        F.percentile("l_extendedprice", F.lit(0.95)).alias("ex95"),
    )
    width = (F.col("hi") - F.col("lo")) / F.lit(float(b))
    bucket = F.when(F.col("hi") == F.col("lo"), F.lit(0)).otherwise(
        F.least(
            F.lit(b - 1),
            F.floor((F.col("l_extendedprice") - F.col("lo")) / width).cast("int"),
        )
    )
    hist = (
        l.filter(F.col("l_extendedprice").isNotNull())
        .join(F.broadcast(ex.select("g", "lo", "hi")), l.l_returnflag == F.col("g"))
        .groupBy("g", bucket.alias("bucket"))
        .agg(F.count("*").alias("cnt"))
    )
    cum = hist.withColumn(
        "cum", F.sum("cnt").over(Window.partitionBy("g").orderBy("bucket"))
    )
    qs = spark.range(1).select(
        F.explode(F.array(F.lit(0.5), F.lit(0.95))).alias("q")
    )
    firstb = (
        cum.join(F.broadcast(ex.select("g", "n")), "g")
        .crossJoin(F.broadcast(qs))
        .where(F.col("cum") >= F.col("q") * F.col("n"))
        .groupBy("g", "q")
        .agg(F.min("bucket").alias("b"))
    )
    est = (
        firstb.join(
            cum.select("g", "bucket", "cnt", "cum"),
            (firstb.g == cum.g) & (F.col("bucket") == F.col("b")),
        )
        .drop(cum.g)
        .join(F.broadcast(ex), "g")
        .select(
            F.col("g").alias("l_returnflag"),
            "q",
            (
                F.col("lo")
                + ((F.col("hi") - F.col("lo")) / F.lit(float(b)))
                * (
                    F.col("b")
                    + (F.col("q") * F.col("n") - (F.col("cum") - F.col("cnt")))
                    / F.col("cnt")
                )
            ).alias("est_q"),
            F.when(F.col("q") == 0.5, F.col("ex50")).otherwise(F.col("ex95")).alias(
                "exact_q"
            ),
            F.col("n").alias("n_values"),
        )
    )
    return est


def _ab_side_sql(etype: str) -> str:
    return (
        f"SELECT COUNT(*) AS n, "
        f"SUM(CAST(CAST(ROUND(value * 100) AS BIGINT) AS HUGEINT)) AS sy, "
        f"SUM(CAST(CAST(ROUND(value * 100) AS BIGINT) * CAST(ROUND(value * 100) AS BIGINT) AS HUGEINT)) AS syy "
        f"FROM events WHERE event_type = '{etype}' AND value IS NOT NULL"
    )


_AB_SQL = f"""
WITH a AS ({_ab_side_sql("purchase")}),
b AS ({_ab_side_sql("click")}),
d AS (
  SELECT a.n AS n1, b.n AS n2,
         CAST(a.sy AS DOUBLE) / nullif(a.n, 0) AS m1,
         CAST(b.sy AS DOUBLE) / nullif(b.n, 0) AS m2,
         CAST(a.n * a.syy - a.sy * a.sy AS DOUBLE) / nullif(a.n * (a.n - 1), 0) AS v1,
         CAST(b.n * b.syy - b.sy * b.sy AS DOUBLE) / nullif(b.n * (b.n - 1), 0) AS v2
  FROM a, b),
e AS (SELECT *, v1 / n1 + v2 / n2 AS se2 FROM d)
SELECT n1, n2,
       round(m1 / 100, 4) + 0.0 AS mean_a,
       round(m2 / 100, 4) + 0.0 AS mean_b,
       round((m1 - m2) / nullif(sqrt(se2), 0), 4) + 0.0 AS t_stat,
       round((se2 * se2) / nullif((v1 / n1) * (v1 / n1) / nullif(n1 - 1, 0)
                          + (v2 / n2) * (v2 / n2) / nullif(n2 - 1, 0), 0), 2) + 0.0 AS welch_df
FROM e
"""


@declare("q_agg_ab_test", oracle=_AB_SQL, tags=("agg", "stats"))
def q_agg_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's two-sample t statistic (purchase vs click event values)
    from EXACT integer moments: each side reduces to (n, Σcents,
    Σcents²) in 128-bit-exact integer sums — one map-side-combined
    aggregate pass per side, no float summation — and the t statistic
    + Welch degrees of freedom are a single pinned chain of double
    ops (casts → divisions → sqrt; sqrt is IEEE-correctly-rounded in
    both engines, so the whole readout is bit-deterministic and the
    driver hash-certifies the statistics, not just the counts).

    The A/B-readout shape at 100 TB: experiment metrics are algebraic
    moment sums, so per-partition partials merge by addition, daily
    partials roll up, and the test statistic is O(1) driver-side math
    on two one-row frames — the scan is the only data-sized cost.
    """
    e = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    cents = F.expr("CAST(round(value * 100) AS BIGINT)")

    def side(etype: str) -> DataFrame:
        return (
            e.where(F.col("event_type") == etype)
            .select(cents.alias("y"))
            .agg(
                F.count("*").alias("n"),
                F.sum(F.expr("CAST(y AS DECIMAL(38,0))")).alias("sy"),
                F.sum(F.expr("CAST(y * y AS DECIMAL(38,0))")).alias("syy"),
            )
        )
    a = side("purchase")
    b = side("click").select(
        F.col("n").alias("n2"), F.col("sy").alias("sy2"), F.col("syy").alias("syy2")
    )
    d = (
        a.crossJoin(F.broadcast(b))
        .select(
            F.col("n").alias("n1"),
            "n2",
            # every denominator that can be zero is nullif-guarded:
            # Spark ANSI raises DIVIDE_BY_ZERO even on doubles where
            # DuckDB yields NULL — the guard makes both engines NULL
            # on degenerate sides (n <= 1, zero pooled variance)
            (F.expr("CAST(sy AS DOUBLE)") / F.expr("nullif(n, 0)")).alias("m1"),
            (F.expr("CAST(sy2 AS DOUBLE)") / F.expr("nullif(n2, 0)")).alias("m2"),
            (
                F.expr("CAST(n * syy - sy * sy AS DOUBLE)")
                / F.expr("nullif(n * (n - 1), 0)")
            ).alias("v1"),
            (
                F.expr("CAST(n2 * syy2 - sy2 * sy2 AS DOUBLE)")
                / F.expr("nullif(n2 * (n2 - 1), 0)")
            ).alias("v2"),
        )
        .withColumn("se2", F.col("v1") / F.col("n1") + F.col("v2") / F.col("n2"))
    )
    return d.select(
        "n1",
        "n2",
        pin_zero(F.round(F.col("m1") / 100, 4)).alias("mean_a"),
        pin_zero(F.round(F.col("m2") / 100, 4)).alias("mean_b"),
        pin_zero(F.round(
            (F.col("m1") - F.col("m2")) / F.expr("nullif(sqrt(se2), 0)"), 4
        )).alias("t_stat"),
        pin_zero(F.round(
            (F.col("se2") * F.col("se2"))
            / F.expr(
                "nullif((v1 / n1) * (v1 / n1) / nullif(n1 - 1, 0)"
                " + (v2 / n2) * (v2 / n2) / nullif(n2 - 1, 0), 0)"
            ),
            2,
        )).alias("welch_df"),
    )


@declare(
    "q_agg_basket",
    oracle="""
WITH ob AS (
  SELECT DISTINCT l.l_orderkey AS o, p.p_brand AS b
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
nt AS (SELECT COUNT(DISTINCT o) AS n_orders FROM ob),
bc AS (SELECT b, COUNT(*) AS c FROM ob GROUP BY b),
pairs AS (
  SELECT x.b AS b1, y.b AS b2, COUNT(*) AS c_xy
  FROM ob x JOIN ob y ON x.o = y.o AND x.b < y.b
  GROUP BY x.b, y.b
  HAVING COUNT(*) >= 20)
SELECT p.b1, p.b2, p.c_xy,
       round(CAST(p.c_xy AS DOUBLE) / nt.n_orders, 4) AS support,
       round(CAST(p.c_xy AS DOUBLE) / c1.c, 4) AS confidence,
       round((CAST(p.c_xy AS DOUBLE) * nt.n_orders) / (CAST(c1.c AS DOUBLE) * c2.c), 4) AS lift
FROM pairs p
JOIN bc c1 ON c1.b = p.b1
JOIN bc c2 ON c2.b = p.b2
CROSS JOIN nt
""",
    tags=("agg", "stats"),
)
def q_agg_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over co-ordered part brands:
    per brand pair, support / confidence / lift from exact
    co-occurrence counts (the Apriori 2-itemset readout). Result
    membership is decided by the INTEGER support threshold
    (c_xy ≥ 20), and each metric is one pinned cast-multiply-divide
    chain on exact counts — so the driver hash certifies the whole
    association table, not a sample.

    Scale shape: baskets reduce to DISTINCT (order, brand) first
    (bounded at |orders|·|brands|), pair generation is an equi-join on
    the order key whose per-order fan-out is ≤ C(|brands in order|,2)
    — brand-level items keep that tiny where raw part-level would
    explode — and the HAVING threshold prunes before the metric
    joins. The per-brand counts and the one-row total broadcast.
    """
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    ob = (
        l.join(p, l.l_partkey == p.p_partkey)
        .select(F.col("l_orderkey").alias("o"), F.col("p_brand").alias("b"))
        .distinct()
    )
    nt = ob.agg(F.count_distinct("o").alias("n_orders"))
    bc = ob.groupBy("b").agg(F.count("*").alias("c"))
    x, y = ob.alias("x"), ob.alias("y")
    pairs = (
        x.join(y, (F.col("x.o") == F.col("y.o")) & (F.col("x.b") < F.col("y.b")))
        .groupBy(F.col("x.b").alias("b1"), F.col("y.b").alias("b2"))
        .agg(F.count("*").alias("c_xy"))
        .where(F.col("c_xy") >= 20)
    )
    return (
        pairs.join(
            F.broadcast(bc.select(F.col("b").alias("b1"), F.col("c").alias("c1"))), "b1"
        )
        .join(
            F.broadcast(bc.select(F.col("b").alias("b2"), F.col("c").alias("c2"))), "b2"
        )
        .crossJoin(F.broadcast(nt))
        .select(
            "b1",
            "b2",
            "c_xy",
            F.round(F.col("c_xy").cast("double") / F.col("n_orders"), 4).alias(
                "support"
            ),
            F.round(F.col("c_xy").cast("double") / F.col("c1"), 4).alias(
                "confidence"
            ),
            F.round(
                (F.col("c_xy").cast("double") * F.col("n_orders"))
                / (F.col("c1").cast("double") * F.col("c2")),
                4,
            ).alias("lift"),
        )
    )


def _ks_hist_sql(b: int = 256) -> str:
    return f"""
WITH vals AS (
  SELECT event_type, value FROM events
  WHERE value IS NOT NULL AND event_type IN ('purchase', 'click')),
ex AS (SELECT MIN(value) AS lo, MAX(value) AS hi,
              COUNT(*) FILTER (event_type = 'purchase') AS n1,
              COUNT(*) FILTER (event_type = 'click') AS n2
       FROM vals),
hist AS (
  SELECT CASE WHEN ex.hi = ex.lo THEN 0
              ELSE LEAST({b - 1}, CAST(FLOOR((value - ex.lo) / ((ex.hi - ex.lo) / {float(b)!r})) AS INT))
         END AS bucket,
         COUNT(*) FILTER (event_type = 'purchase') AS c1,
         COUNT(*) FILTER (event_type = 'click') AS c2
  FROM vals, ex GROUP BY 1),
spine AS (SELECT UNNEST(range(0, {b})) AS bucket),
dense AS (
  SELECT s.bucket, COALESCE(h.c1, 0) AS c1, COALESCE(h.c2, 0) AS c2
  FROM spine s LEFT JOIN hist h ON s.bucket = h.bucket),
cum AS (
  SELECT bucket,
         SUM(c1) OVER (ORDER BY bucket) AS k1,
         SUM(c2) OVER (ORDER BY bucket) AS k2
  FROM dense),
d AS (
  SELECT bucket,
         abs(CAST(k1 AS DOUBLE) / nullif((SELECT n1 FROM ex), 0)
           - CAST(k2 AS DOUBLE) / nullif((SELECT n2 FROM ex), 0)) AS dd
  FROM cum)
SELECT (SELECT n1 FROM ex) AS n1, (SELECT n2 FROM ex) AS n2,
       round(MAX(dd), 4) AS ks_stat,
       MIN(CASE WHEN dd = (SELECT MAX(dd) FROM d) THEN bucket END) AS ks_bucket
FROM d
"""


@declare("q_agg_ks_hist", oracle=_ks_hist_sql(), tags=("agg", "stats"))
def q_agg_ks_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kolmogorov-Smirnov distance between the purchase and click
    value distributions, computed on shared 256-bucket empirical CDFs
    — the DISTRIBUTIONAL companion to q_agg_ab_test's mean test (a
    drift monitor catches shape changes a t-test can't see). The max
    |F1−F2| gap and its argmax bucket come from identical pinned
    double ops per bucket, so both the statistic and its location
    hash-certify; degenerate sides (empty class) go NULL via the same
    nullif policy as the t-test.

    Scale shape: one shared scan builds both histograms
    (conditional-count aggregation, ≤256 groups), the CDF window runs
    over a CONSTANT 256-row spine (bounded by construction — not a
    data-sized single-reducer window), and everything after is O(B)
    arithmetic. This is how two-sample testing works at 100 TB: the
    histograms are the sufficient statistic that partials merge into.
    """
    b = 256
    e = load_table(spark, sf_dir, "events").where(
        F.col("value").isNotNull() & F.col("event_type").isin("purchase", "click")
    )
    ex = e.agg(
        F.min("value").alias("lo"),
        F.max("value").alias("hi"),
        F.count_if(F.col("event_type") == "purchase").alias("n1"),
        F.count_if(F.col("event_type") == "click").alias("n2"),
    )
    bucket = F.when(F.col("hi") == F.col("lo"), F.lit(0)).otherwise(
        F.least(
            F.lit(b - 1),
            F.floor(
                (F.col("value") - F.col("lo"))
                / ((F.col("hi") - F.col("lo")) / F.lit(float(b)))
            ).cast("int"),
        )
    )
    hist = (
        e.crossJoin(F.broadcast(ex.select("lo", "hi")))
        .groupBy(bucket.alias("bucket"))
        .agg(
            F.count_if(F.col("event_type") == "purchase").alias("c1"),
            F.count_if(F.col("event_type") == "click").alias("c2"),
        )
    )
    spine = spark.range(b).select(F.col("id").cast("int").alias("bucket"))
    dense = (
        spine.join(F.broadcast(hist), "bucket", "left")
        .select(
            "bucket",
            F.coalesce(F.col("c1"), F.lit(0)).alias("c1"),
            F.coalesce(F.col("c2"), F.lit(0)).alias("c2"),
        )
    )
    w = Window.orderBy("bucket")  # 256-row constant spine: bounded by construction
    cum = dense.select(
        "bucket",
        F.sum("c1").over(w).alias("k1"),
        F.sum("c2").over(w).alias("k2"),
    )
    d = cum.crossJoin(F.broadcast(ex.select("n1", "n2"))).select(
        "bucket",
        F.abs(
            F.col("k1").cast("double") / F.expr("nullif(n1, 0)")
            - F.col("k2").cast("double") / F.expr("nullif(n2, 0)")
        ).alias("dd"),
    )
    mx = d.agg(F.max("dd").alias("ks_raw"))
    arg = (
        d.crossJoin(F.broadcast(mx))
        .where(F.col("dd") == F.col("ks_raw"))
        .agg(F.min("bucket").alias("ks_bucket"))
    )
    return (
        ex.select("n1", "n2")
        .crossJoin(F.broadcast(mx))
        .crossJoin(F.broadcast(arg))
        .select("n1", "n2", F.round("ks_raw", 4).alias("ks_stat"), "ks_bucket")
    )


def _hll_sliding_sql(m: int = 64, span: int = 6) -> str:
    """DuckDB twin of q_agg_hll_sliding: daily sparse registers,
    MAX-merged over the trailing window per day — identical register
    math to _hll_by_sql."""
    bits_chain = " + ".join(f"CAST(w >= {1 << k} AS INT)" for k in range(1, 54))
    two62 = 1 << 62
    alpha_m2 = repr(0.709 * m * m)
    return f"""
WITH h AS (
  SELECT epoch_ns(ts) // 1000000000 // 86400 AS day, user_id,
         CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
  FROM events
),
cells AS (SELECT day, h % {m} AS j, h // {m} AS w FROM h),
rho AS (
  SELECT day, j, CASE WHEN w = 0 THEN 55 ELSE 55 - (1 + {bits_chain}) END AS rho
  FROM cells
),
dayregs AS (SELECT day, j, MAX(rho) AS reg FROM rho GROUP BY day, j),
days AS (SELECT DISTINCT day FROM h),
winregs AS (
  SELECT d.day AS day, r.j, MAX(r.reg) AS reg
  FROM days d JOIN dayregs r ON r.day BETWEEN d.day - {span} AND d.day
  GROUP BY d.day, r.j
),
dense AS (
  SELECT days.day, g.j AS j, COALESCE(w.reg, 0) AS reg
  FROM days CROSS JOIN (SELECT UNNEST(range(0, {m})) AS j) g
  LEFT JOIN winregs w ON days.day = w.day AND g.j = w.j
),
summary AS (
  SELECT day,
         CAST(SUM(CASE WHEN reg = 0 THEN 1 ELSE 0 END) AS INT) AS n_zeros,
         CAST(SUM(CAST(1 AS HUGEINT) << CAST(62 - reg AS INT)) AS DOUBLE) AS sum_scaled
  FROM dense GROUP BY day
),
ex AS (
  SELECT d.day AS day, COUNT(DISTINCT e2.user_id) AS exact_distinct
  FROM days d JOIN h e2 ON e2.day BETWEEN d.day - {span} AND d.day
  GROUP BY d.day
)
SELECT s.day, s.n_zeros, s.sum_scaled,
       CASE WHEN ({alpha_m2} / (s.sum_scaled / {float(two62)!r})) <= {2.5 * m}
                 AND s.n_zeros > 0
            THEN round({float(m)!r} * ln({float(m)!r} / s.n_zeros), 2)
            ELSE round({alpha_m2} / (s.sum_scaled / {float(two62)!r}), 2)
       END AS est_hll,
       ex.exact_distinct
FROM summary s JOIN ex ON s.day = ex.day
"""


@declare("q_agg_hll_sliding", oracle=_hll_sliding_sql(), tags=("agg", "approx"))
def q_agg_hll_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day TRAILING distinct-user estimates per day from DAILY HLL
    sketches (ops.sketch.hll_reg_cells) — the sketch-reuse pattern
    that makes rolling distinct counts affordable at 100 TB: raw
    events are touched ONCE to build per-day register cells; every
    window is then a (day-spine ⋈ 7 days of 64-row registers) MAX —
    register-level work, no re-scan, no per-window key shuffle. An
    exact rolling distinct (the oracle's certification arm, computed
    here only to let the driver re-prove the estimates) replays the
    raw events per window — precisely the 7× fan-out the sketch
    form eliminates.

    Composition is sound because registers are a join-able RELATION
    (day, j, reg) before densifying: sliding windows, calendar
    rollups, and backfills are all max-merge joins over it — the same
    MAX law pytest pins for hll_merge.
    """
    from pipetree_spark.ops.sketch import hll_densify, hll_estimate, hll_reg_cells

    m, span = 64, 6
    e = load_table(spark, sf_dir, "events").withColumn(
        "day", F.expr("ts_sec div 86400")
    )
    dayregs = hll_reg_cells(e, "user_id", ["day"], m)
    days = dayregs.select("day").distinct()
    d, r = days.alias("d"), dayregs.alias("r")
    winregs = (
        d.join(
            r,
            (F.col("r.day") >= F.col("d.day") - span)
            & (F.col("r.day") <= F.col("d.day")),
        )
        .groupBy(F.col("d.day").alias("day"), F.col("r.j").alias("j"))
        .agg(F.max("r.reg").alias("reg"))
    )
    summary = hll_densify(winregs, ["day"], m).select(
        "day", *hll_estimate("registers", m)
    )
    ev = e.select(F.col("day").alias("eday"), "user_id")
    exact = (
        days.join(
            ev,
            (F.col("eday") >= F.col("day") - span) & (F.col("eday") <= F.col("day")),
        )
        .groupBy("day")
        .agg(F.count_distinct("user_id").alias("exact_distinct"))
    )
    return summary.join(exact, "day").select(
        "day", "n_zeros", "sum_scaled", "est_hll", "exact_distinct"
    )


@declare(
    "q_agg_gini",
    oracle="""
WITH c AS (
  SELECT event_type, event_id, CAST(ROUND(value * 100) AS BIGINT) AS cents
  FROM events WHERE value IS NOT NULL),
r AS (
  SELECT event_type, cents,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY cents, event_id) AS i
  FROM c),
m AS (
  SELECT event_type, COUNT(*) AS n,
         SUM(CAST(cents AS HUGEINT)) AS sx,
         SUM(CAST(i * cents AS HUGEINT)) AS six
  FROM r GROUP BY event_type)
SELECT event_type, n,
       round(CAST(2 * six - (n + 1) * sx AS DOUBLE)
             / nullif(CAST(n * sx AS DOUBLE), 0), 4) + 0.0 AS gini
FROM m
""",
    tags=("agg", "stats"),
)
def q_agg_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini concentration coefficient of event value per event type —
    G = (2Σi·x_(i) − (n+1)Σx) / (nΣx) over rank-ordered exact cents.
    The inequality/concentration readout (is spend concentrated in a
    few whales?) with every sum exact-integer: the rank window is
    PARTITIONED by event type (never a global sort), rank ties on
    equal cents can swap i between equal values without changing
    Σi·x, event_id makes the assignment deterministic anyway, and
    only the final ratio touches doubles (one pinned divide,
    nullif-guarded for the all-zero group).

    Scale: one shuffle for the per-group rank window + a map-side
    moment aggregate. For 100 TB groups where even a per-group sort
    hurts, the histogram family (q_agg_quantile_hist_bygroup) is the
    fixed-memory approximation path; this is the exact path.
    """
    e = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    c = e.select(
        "event_type",
        "event_id",
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
    )
    w = Window.partitionBy("event_type").orderBy("cents", "event_id")
    r = c.select("event_type", "cents", F.row_number().over(w).alias("i"))
    m = r.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.expr("CAST(cents AS DECIMAL(38,0))")).alias("sx"),
        F.sum(F.expr("CAST(i * cents AS DECIMAL(38,0))")).alias("six"),
    )
    return m.select(
        "event_type",
        "n",
        pin_zero(F.round(
            F.expr("CAST(2 * six - (n + 1) * sx AS DOUBLE)")
            / F.expr("nullif(CAST(n * sx AS DOUBLE), 0)"),
            4,
        )).alias("gini"),
    )


def _kmv_retention_sql(k: int = 128) -> str:
    """DuckDB twin of q_agg_kmv_retention: per-day k-min sketches via
    a partitioned ROW_NUMBER, pair-merged unions, the same estimator
    op order as _kmv_sql."""
    est = (
        f"CASE WHEN cnt < {k} THEN CAST(cnt AS DOUBLE)"
        f" ELSE round({float(k - 1)!r} * {float(1 << 60)!r} / hk, 2) END"
    )
    return f"""
WITH h AS (
  SELECT DISTINCT epoch_ns(ts) // 1000000000 // 86400 AS day,
         CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
  FROM events),
sk AS (
  SELECT day, h FROM (
    SELECT day, h, ROW_NUMBER() OVER (PARTITION BY day ORDER BY h) AS rn FROM h)
  WHERE rn <= {k}),
pairs AS (SELECT a.day AS day FROM (SELECT DISTINCT day FROM sk) a
          JOIN (SELECT DISTINCT day FROM sk) b ON b.day = a.day + 1),
tagged AS (
  SELECT p.day, s.h, CAST(s.day = p.day AS INT) AS is_a, CAST(s.day = p.day + 1 AS INT) AS is_b
  FROM pairs p JOIN sk s ON s.day IN (p.day, p.day + 1)),
merged AS (
  SELECT day, h, MAX(is_a) AS in_a, MAX(is_b) AS in_b FROM tagged GROUP BY day, h),
uni AS (
  SELECT day, h, in_a, in_b FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY day ORDER BY h) AS rn FROM merged)
  WHERE rn <= {k}),
stats AS (
  SELECT day, COUNT(*) AS cnt, MAX(h) AS hk,
         CAST(SUM(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hits
  FROM uni GROUP BY day),
est AS (SELECT day, hits, cnt, {est} AS est_union FROM stats),
ev AS (SELECT DISTINCT epoch_ns(ts) // 1000000000 // 86400 AS day, user_id FROM events),
exact AS (
  SELECT a.day, COUNT(*) AS exact_inter
  FROM ev a JOIN ev b ON a.user_id = b.user_id AND b.day = a.day + 1
  GROUP BY a.day)
SELECT e.day, e.hits,
       round(e.hits * e.est_union / e.cnt, 2) AS est_inter,
       COALESCE(x.exact_inter, 0) AS exact_inter
FROM est e LEFT JOIN exact x ON e.day = x.day
"""


@declare("q_agg_kmv_retention", oracle=_kmv_retention_sql(), tags=("agg", "approx"))
def q_agg_kmv_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day retained-audience estimates from PER-DAY KMV
    sketches — the sketch q_agg_kmv_setops certifies, in its real
    workload: each day reduces once to its 128 smallest distinct user
    hashes (a PARTITIONED rank window over distinct hashes), and every
    consecutive-day overlap estimate is then k-row work (merge, re-min,
    hit count) — no day-pair user-level join ever runs in the sketch
    path. The exact overlap (the oracle's certification arm) does run
    that join, which is precisely the |days|× key-shuffle the sketch
    form eliminates on a 100 TB events table. Deterministic end to
    end: k-min sets are canonical, so the driver hash certifies every
    day's sketch, hit count, and estimate.
    """
    from pipetree_spark.ops.sketch import kmv_hash

    k = 128
    e = load_table(spark, sf_dir, "events").withColumn(
        "day", F.expr("ts_sec div 86400")
    )
    h = e.select("day", kmv_hash("user_id").alias("h")).distinct()
    w = Window.partitionBy("day").orderBy("h")
    sk = (
        h.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= k).drop("rn")
    )
    days = sk.select("day").distinct()
    pairs = days.alias("a").join(
        days.alias("b"), F.col("b.day") == F.col("a.day") + 1
    ).select(F.col("a.day").alias("day"))
    tagged = pairs.join(
        sk.withColumnRenamed("day", "sday"),
        (F.col("sday") == F.col("day")) | (F.col("sday") == F.col("day") + 1),
    ).select(
        "day",
        "h",
        (F.col("sday") == F.col("day")).cast("int").alias("is_a"),
        (F.col("sday") == F.col("day") + 1).cast("int").alias("is_b"),
    )
    merged = tagged.groupBy("day", "h").agg(
        F.max("is_a").alias("in_a"), F.max("is_b").alias("in_b")
    )
    wu = Window.partitionBy("day").orderBy("h")
    uni = (
        merged.withColumn("rn", F.row_number().over(wu))
        .where(F.col("rn") <= k)
        .drop("rn")
    )
    stats = uni.groupBy("day").agg(
        F.count("*").alias("cnt"),
        F.max("h").alias("hk"),
        F.sum(
            F.when((F.col("in_a") == 1) & (F.col("in_b") == 1), 1).otherwise(0)
        ).alias("hits"),
    )
    est_union = F.when(F.col("cnt") < k, F.col("cnt").cast("double")).otherwise(
        F.round(F.lit(float(k - 1)) * F.lit(float(1 << 60)) / F.col("hk"), 2)
    )
    est = stats.select("day", "hits", "cnt", est_union.alias("est_union"))
    ev = e.select("day", "user_id").distinct()
    exact = (
        ev.alias("a")
        .join(
            ev.alias("b"),
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("b.day") == F.col("a.day") + 1),
        )
        .groupBy(F.col("a.day").alias("day"))
        .agg(F.count("*").alias("exact_inter"))
    )
    # Denominator is the union sketch's ACTUAL size (cnt, ≥1 per group by
    # construction), not the constant k — same unsaturated-regime fix as
    # q_agg_kmv_setops: a day-pair whose merged sketch never filled holds
    # the whole union, so hits/cnt is the exact Jaccard, not hits/k
    # biased low.
    return est.join(exact, "day", "left").select(
        "day",
        "hits",
        F.round(F.col("hits") * F.col("est_union") / F.col("cnt"), 2).alias(
            "est_inter"
        ),
        F.coalesce(F.col("exact_inter"), F.lit(0)).alias("exact_inter"),
    )


@declare(
    "q_agg_spearman",
    oracle="""
WITH c AS (
  SELECT event_type, event_id,
         epoch_ns(ts) // 1000000000 AS x,
         CAST(ROUND(value * 100) AS BIGINT) AS y
  FROM events WHERE value IS NOT NULL),
r AS (
  SELECT event_type,
         2 * RANK() OVER (PARTITION BY event_type ORDER BY x)
           + COUNT(*) OVER (PARTITION BY event_type, x) - 1 AS rx2,
         2 * RANK() OVER (PARTITION BY event_type ORDER BY y)
           + COUNT(*) OVER (PARTITION BY event_type, y) - 1 AS ry2
  FROM c),
m AS (
  SELECT event_type, COUNT(*) AS n,
         SUM(CAST((rx2 - ry2) * (rx2 - ry2) AS HUGEINT)) AS sd2
  FROM r GROUP BY event_type)
SELECT event_type, n,
       round(1 - CAST(3 * sd2 AS DOUBLE)
                 / nullif(CAST(2 * n * (CAST(n AS HUGEINT) * n - 1) AS DOUBLE), 0), 4) + 0.0
           AS spearman
FROM m
""",
    tags=("agg", "stats"),
)
def q_agg_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between event TIME and VALUE per
    event type — the rank (monotone-trend) companion to q_ts_trend's
    linear slope, robust to outliers. Semantics pinned explicitly: the
    classic 1 − 6Σd²/(n(n²−1)) on tie-AVERAGED ranks, with ranks
    DOUBLED so average ranks stay integers (avg rank for a tie group =
    rank + (ties−1)/2; doubled: 2·rank + ties − 1) — Σd² is then an
    exact 128-bit integer sum and only the final ratio divides pinned
    doubles (nullif-guarded for n ≤ 1). The 6Σd² constant becomes
    3Σd²/(2·…) under the doubling.

    Scale: two partitioned rank windows + tie counts over one shuffle
    on event_type, then a map-side moment aggregate — no global sort,
    |groups| output rows, partials merge by addition.
    """
    e = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    c = e.select(
        "event_type",
        F.col("ts_sec").alias("x"),
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("y"),
    )
    wx = Window.partitionBy("event_type").orderBy("x")
    wy = Window.partitionBy("event_type").orderBy("y")
    tx = Window.partitionBy("event_type", "x")
    ty = Window.partitionBy("event_type", "y")
    r = c.select(
        "event_type",
        (2 * F.rank().over(wx) + F.count("*").over(tx) - 1).alias("rx2"),
        (2 * F.rank().over(wy) + F.count("*").over(ty) - 1).alias("ry2"),
    )
    m = r.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(
            F.expr("CAST((rx2 - ry2) * (rx2 - ry2) AS DECIMAL(38,0))")
        ).alias("sd2"),
    )
    return m.select(
        "event_type",
        "n",
        pin_zero(F.round(
            F.lit(1)
            - F.expr("CAST(3 * sd2 AS DOUBLE)")
            / F.expr(
                "nullif(CAST(2 * n * (CAST(n AS DECIMAL(38,0)) * n - 1) AS DOUBLE), 0)"
            ),
            4,
        )).alias("spearman"),
    )


@declare(
    "q_agg_pearson",
    oracle="""
WITH c AS (
  SELECT event_type,
         (epoch_ns(ts) // 1000000000 // 3600) % 24 AS x,
         CAST(ROUND(value * 100) AS BIGINT) AS y
  FROM events WHERE value IS NOT NULL),
m AS (
  SELECT event_type, COUNT(*) AS n,
         SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
         SUM(CAST(x * x AS HUGEINT)) AS sxx, SUM(CAST(y * y AS HUGEINT)) AS syy,
         SUM(CAST(x * y AS HUGEINT)) AS sxy
  FROM c GROUP BY event_type)
SELECT event_type, n,
       round(CAST(n * sxy - sx * sy AS DOUBLE)
             / nullif(sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                      * sqrt(CAST(n * syy - sy * sy AS DOUBLE)), 0), 4) + 0.0 AS pearson
FROM m
""",
    tags=("agg", "stats"),
)
def q_agg_pearson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation between hour-of-day and event value per
    event type ("is value time-of-day dependent?") from exact integer
    moments — the parametric sibling of q_agg_spearman. Spark's native
    F.corr float-sums in partition order (non-deterministic bits);
    this restates it as five 128-bit-exact integer sums + one pinned
    double chain (two correctly-rounded sqrts, one multiply, one
    divide, nullif for zero-variance sides). One map-side-combined
    aggregate pass; partials merge by addition — the experiment-metric
    shape at 100 TB.
    """
    e = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    c = e.select(
        "event_type",
        F.expr("(ts_sec div 3600) % 24").alias("x"),
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("y"),
    )
    m = c.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0))")).alias("sx"),
        F.sum(F.expr("CAST(y AS DECIMAL(38,0))")).alias("sy"),
        F.sum(F.expr("CAST(x * x AS DECIMAL(38,0))")).alias("sxx"),
        F.sum(F.expr("CAST(y * y AS DECIMAL(38,0))")).alias("syy"),
        F.sum(F.expr("CAST(x * y AS DECIMAL(38,0))")).alias("sxy"),
    )
    return m.select(
        "event_type",
        "n",
        pin_zero(F.round(
            F.expr("CAST(n * sxy - sx * sy AS DOUBLE)")
            / F.expr(
                "nullif(sqrt(CAST(n * sxx - sx * sx AS DOUBLE))"
                " * sqrt(CAST(n * syy - sy * sy AS DOUBLE)), 0)"
            ),
            4,
        )).alias("pearson"),
    )
