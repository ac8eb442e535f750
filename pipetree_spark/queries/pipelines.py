"""Orchestration-layer queries (SURVEY §2.10): the reference's own
operator surface, declared through the Pipeline API so the driver
grades the spec→DAG→execute path end-to-end. Cache/skip semantics are
pytest-covered (tests/test_pipeline.py) — a durable cache has no SQL
oracle."""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pipetree_spark.catalog import load_table
from pipetree_spark.exact import dsum, dsum_sql, exact_sums
from pipetree_spark.pipeline import Pipeline
from pipetree_spark.queries import declare


def _shipped_spec(name: str) -> dict:
    """Load ``pipetree_spark/specs/<name>``. The specs ship as package
    data, so they load from a wheel / site-packages install too; this
    is their only copy."""
    import json
    from importlib import resources

    return json.loads(resources.files("pipetree_spark").joinpath("specs", name).read_text())


@declare(
    "q_pipe_param",
    oracle=f"""
SELECT CAST(p.max_disc AS DOUBLE) AS max_disc,
       COUNT(*) AS n_items,
       {dsum_sql('l.l_quantity')} AS sum_qty
FROM (VALUES (0.02), (0.04), (0.06)) AS p(max_disc)
JOIN lineitem l ON l.l_discount <= CAST(p.max_disc AS DOUBLE)
GROUP BY 1
""",
    tags=("pipeline",),
)
def q_pipe_param(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameter stage + grid-search fan-out (the reference's sweep
    concept): the sweep is DATA — a parameter frame cross-joined into
    the aggregation, one Spark job for the whole grid, not a driver
    loop over runs."""
    spec = {
        "stages": {
            "lineitem": {"type": "source", "table": "lineitem"},
            "params": {
                "type": "values",
                "columns": ["max_disc"],
                "rows": [[0.02], [0.04], [0.06]],
            },
            "sweep": {
                "type": "sql",
                "inputs": ["lineitem", "params"],
                "query": f"""
                    SELECT p.max_disc,
                           COUNT(*) AS n_items,
                           {dsum_sql('l.l_quantity')} AS sum_qty
                    FROM params p JOIN lineitem l ON l.l_discount <= p.max_disc
                    GROUP BY p.max_disc
                """,
            },
        }
    }
    return Pipeline.from_spec(spec, sf_dir=sf_dir).run(spark, targets=["sweep"])["sweep"]


@declare(
    "q_pipe_udfstage",
    oracle=f"""
SELECT l_linestatus,
       {dsum_sql('l_extendedprice * (1 - l_discount)', 6, 24)} AS revenue,
       COUNT(*) AS n_items
FROM lineitem
GROUP BY l_linestatus
""",
    tags=("pipeline",),
)
def q_pipe_udfstage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Executor stage — arbitrary python over upstream frames (the
    reference's entire compute surface). The python stage computes the
    per-row revenue with a vectorized pandas UDF, downstream SQL stage
    aggregates it with the exact-decimal policy."""

    @F.pandas_udf(T.DoubleType())
    def revenue(price: pd.Series, disc: pd.Series) -> pd.Series:
        return price * (1.0 - disc)

    def rev_stage(_spark: SparkSession, frames: dict[str, DataFrame]) -> DataFrame:
        l = frames["lineitem"]
        return l.select(
            "l_linestatus", revenue("l_extendedprice", "l_discount").alias("rev")
        )

    pipe = Pipeline.from_spec(
        {"stages": {"lineitem": {"type": "source", "table": "lineitem"}}}, sf_dir=sf_dir
    )
    pipe.add_stage("rev", rev_stage, inputs=["lineitem"], spec={"stage": "rev", "v": 1})
    pipe.add_stage(
        "agg",
        lambda s, fr: fr["rev"]
        .groupBy("l_linestatus")
        .agg(dsum(F.col("rev"), scale=6, precision=24).alias("revenue"), F.count("*").alias("n_items")),
        inputs=["rev"],
        spec={"stage": "agg", "v": 1},
    )
    return pipe.run(spark, targets=["agg"])["agg"]


@declare(
    "q_pipe_merge",
    oracle="""
WITH base AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
  WHERE o_orderdate < TIMESTAMP '2000-01-01 00:00:00'
),
delta AS (
  SELECT o_orderkey, 'U' AS o_orderstatus, o_totalprice * 1.1 AS o_totalprice
  FROM orders WHERE o_orderkey % 10 = 0
)
SELECT COALESCE(d.o_orderkey, b.o_orderkey) AS o_orderkey,
       COALESCE(d.o_orderstatus, b.o_orderstatus) AS o_orderstatus,
       COALESCE(d.o_totalprice, b.o_totalprice) AS o_totalprice,
       CASE WHEN d.o_orderkey IS NULL THEN 'kept'
            WHEN b.o_orderkey IS NULL THEN 'inserted'
            ELSE 'updated' END AS merge_action
FROM base b FULL OUTER JOIN delta d ON b.o_orderkey = d.o_orderkey
""",
    tags=("pipeline", "join"),
)
def q_pipe_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE/upsert semantics (WHEN MATCHED UPDATE / NOT MATCHED INSERT)
    as a FULL OUTER join + coalesce — the lakehouse-maintenance primitive
    for snapshot tables without a txn log.

    Delta rows (simulated updates: every 10th orderkey, repriced) win
    over base rows; unmatched delta rows are inserts; unmatched base
    rows are kept. At 100 TB: both sides bucketed/partitioned on the
    merge key makes this a zero-exchange per-bucket merge, and the
    ``merge_action`` audit column is what an incremental pipeline logs.
    ``o_totalprice * 1.1`` is one IEEE multiply — bit-identical in the
    oracle.
    """
    o = load_table(spark, sf_dir, "orders")
    base = o.filter(F.col("o_orderdate") < F.lit("2000-01-01 00:00:00").cast("timestamp")).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    delta = o.filter(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey",
        F.lit("U").alias("o_orderstatus"),
        (F.col("o_totalprice") * F.lit(1.1)).alias("o_totalprice"),
    )
    b, d = base.alias("b"), delta.alias("d")
    j = b.join(d, F.col("b.o_orderkey") == F.col("d.o_orderkey"), "full_outer")
    return j.select(
        F.coalesce(F.col("d.o_orderkey"), F.col("b.o_orderkey")).alias("o_orderkey"),
        F.coalesce(F.col("d.o_orderstatus"), F.col("b.o_orderstatus")).alias("o_orderstatus"),
        F.coalesce(F.col("d.o_totalprice"), F.col("b.o_totalprice")).alias("o_totalprice"),
        F.when(F.col("d.o_orderkey").isNull(), "kept")
        .when(F.col("b.o_orderkey").isNull(), "inserted")
        .otherwise("updated")
        .alias("merge_action"),
    )


@declare(
    "q_pipe_bucketed",
    oracle=f"""
SELECT o_orderstatus,
       {dsum_sql('l_extendedprice * (1 - l_discount)', 6, 24)} AS revenue,
       COUNT(*) AS n_items
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderstatus
""",
    tags=("pipeline", "join"),
)
def q_pipe_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact⋈fact join over BUCKETED artifacts — the pay-the-shuffle-once
    recipe as a declared query (plan shape asserted in test_plans.py).

    Both fact tables are materialized through the artifact cache with
    ``bucket_by=(16, orderkey)``; on cache hit (catalog table exists)
    the query skips straight to the zero-exchange sort-merge join. The
    first run pays the bucketing shuffle — exactly the reference's
    skip-if-cached semantics applied to physical layout. Results are
    identical to the plain join (the oracle is the unbucketed SQL).
    """

    from pipetree_spark.cache import ArtifactCache, content_key, process_cache_root

    cache = ArtifactCache(process_cache_root("bucketed_artifacts"))
    key = content_key({"op": "bucketed_src", "sf_dir": sf_dir}, [])

    def bucketed(stage: str, table: str, cols: list[str], bucket_col: str) -> DataFrame:
        name = cache.table_name(stage, key)
        if spark.catalog.tableExists(name):
            return cache.load_bucketed(spark, stage, key)
        src = load_table(spark, sf_dir, table).select(*cols)
        return cache.materialize(
            spark, src, stage, key, bucket_by=(16, [bucket_col]), sort_by=[bucket_col]
        )

    lb = bucketed("lineitem_bk", "lineitem", ["l_orderkey", "l_extendedprice", "l_discount"], "l_orderkey")
    ob = bucketed("orders_bk", "orders", ["o_orderkey", "o_orderstatus"], "o_orderkey")
    j = lb.join(ob, lb.l_orderkey == ob.o_orderkey)
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return exact_sums(j, keys=["o_orderstatus"], sums={"revenue": (rev, 6)}, count="n_items")


@declare(
    "q_pipe_quality_audit",
    oracle="""
SELECT 'fk_lineitem_orders' AS check_name,
       (SELECT COUNT(*) FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)) AS n_bad
UNION ALL
SELECT 'fk_lineitem_part',
       (SELECT COUNT(*) FROM lineitem WHERE l_partkey NOT IN (SELECT p_partkey FROM part))
UNION ALL
SELECT 'fk_lineitem_supplier',
       (SELECT COUNT(*) FROM lineitem WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier))
UNION ALL
SELECT 'fk_orders_customer',
       (SELECT COUNT(*) FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM customer))
UNION ALL
SELECT 'dup_orderkeys',
       (SELECT COUNT(*) FROM (SELECT o_orderkey FROM orders GROUP BY o_orderkey HAVING COUNT(*) > 1))
UNION ALL
SELECT 'dup_lineitem_pk',
       (SELECT COUNT(*) FROM (SELECT l_orderkey, l_linenumber FROM lineitem
                              GROUP BY l_orderkey, l_linenumber HAVING COUNT(*) > 1))
UNION ALL
SELECT 'null_custkeys',
       (SELECT COUNT(*) FROM orders WHERE o_custkey IS NULL)
UNION ALL
SELECT 'negative_prices',
       (SELECT COUNT(*) FROM lineitem WHERE l_extendedprice <= 0.0)
""",
    tags=("pipeline",),
)
def q_pipe_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality audit: referential integrity (anti-join orphan
    counts), primary-key uniqueness, null and domain checks — the
    validation stage every ingest pipeline runs before promoting a
    snapshot. One row per check; a non-zero ``n_bad`` fails promotion.

    Each FK check is an anti join (shuffle on the key, or broadcast for
    dim-sized parents); uniqueness is a groupBy-having. All checks are
    independent DataFrames unioned lazily — Spark runs them as one job
    with shared scans where possible. Verified-zero on this testdata
    (FIXTURES integrity notes), which is exactly what the audit proves.
    """
    import functools

    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    p = load_table(spark, sf_dir, "part")
    s = load_table(spark, sf_dir, "supplier")

    def check(name: str, df: DataFrame) -> DataFrame:
        return df.agg(F.lit(name).alias("check_name"), F.count("*").alias("n_bad"))

    checks = [
        check("fk_lineitem_orders", l.join(o.select("o_orderkey"), l.l_orderkey == o.o_orderkey, "left_anti")),
        check("fk_lineitem_part", l.join(p.select("p_partkey"), l.l_partkey == p.p_partkey, "left_anti")),
        check("fk_lineitem_supplier", l.join(s.select("s_suppkey"), l.l_suppkey == s.s_suppkey, "left_anti")),
        check("fk_orders_customer", o.join(c.select("c_custkey"), o.o_custkey == c.c_custkey, "left_anti")),
        check("dup_orderkeys", o.groupBy("o_orderkey").count().filter(F.col("count") > 1)),
        check(
            "dup_lineitem_pk",
            l.groupBy("l_orderkey", "l_linenumber").count().filter(F.col("count") > 1),
        ),
        check("null_custkeys", o.filter(F.col("o_custkey").isNull())),
        check("negative_prices", l.filter(F.col("l_extendedprice") <= 0.0)),
    ]
    return functools.reduce(lambda a, b: a.unionByName(b), checks)


@declare(
    "q_pipe_cagg",
    oracle=f"""
SELECT CAST(DATE_TRUNC('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS bucket_day,
       event_type,
       COUNT(*) AS n_events,
       {dsum_sql('value', 6, 24)} AS sum_value
FROM events
GROUP BY 1, 2
""",
    tags=("pipeline", "timeseries", "events"),
)
def q_pipe_cagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate pattern (hypertable rollup): the DAILY
    report is answered from a materialized HOURLY rollup artifact, not
    from raw events.

    First run materializes the hourly rollup through the artifact cache
    (content-keyed on source + grain); subsequent queries — and every
    coarser grain (day/week/month) — re-aggregate the rollup, whose
    cardinality is |hours × types|, orders of magnitude below the event
    count. Exactness: hourly partial sums use scaled-long accumulation
    and the day level decimal-sums those exact partials — associative,
    so rollup-of-rollup equals the direct day aggregate bit-for-bit
    (the oracle is the direct form).
    """

    from pipetree_spark.cache import ArtifactCache, content_key, process_cache_root

    cache = ArtifactCache(process_cache_root("cagg_artifacts"))
    key = content_key({"op": "hourly_rollup", "sf_dir": sf_dir, "grain": "hour"}, [])
    if cache.has(spark, "events_hourly", key):
        hourly = cache.load(spark, "events_hourly", key)
    else:
        e = load_table(spark, sf_dir, "events")
        hourly = (
            e.groupBy(
                F.date_trunc("hour", F.col("ts")).alias("bucket_hour"),
                "event_type",
            )
            .agg(
                F.count("*").alias("n_events"),
                F.sum(F.round(F.col("value") * F.lit(10**6)).cast("long")).alias("val6"),
            )
        )
        hourly = cache.materialize(spark, hourly, "events_hourly", key)
    return (
        hourly.groupBy(
            F.date_trunc("day", F.col("bucket_hour")).alias("bucket_day"),
            "event_type",
        )
        .agg(
            F.sum("n_events").alias("n_events"),
            (F.sum(F.col("val6").cast("decimal(38,0)")).cast("double") / F.lit(1e6)).alias("sum_value"),
        )
    )


@declare(
    "q_pipe_expect",
    oracle="""
SELECT 'not_null:o_orderdate' AS rule, 'not_null' AS kind,
       CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
FROM orders
UNION ALL
SELECT 'in_range:o_totalprice:[0,100000]', 'in_range',
       CAST(SUM(CASE WHEN o_totalprice IS NULL OR o_totalprice < 0
                      OR o_totalprice > 100000 THEN 1 ELSE 0 END) AS BIGINT)
FROM orders
UNION ALL
SELECT 'known_priority', 'satisfies',
       CAST(SUM(CASE WHEN NOT COALESCE(
              o_orderpriority IN ('1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW'),
              FALSE) THEN 1 ELSE 0 END) AS BIGINT)
FROM orders
UNION ALL
SELECT 'unique:o_orderkey', 'unique',
       CAST((SELECT COALESCE(SUM(c - 1), 0)
             FROM (SELECT COUNT(*) AS c FROM orders GROUP BY o_orderkey)
             WHERE c > 1) AS BIGINT)
UNION ALL
SELECT 'fk:o_custkey->c_custkey', 'foreign_key',
       CAST((SELECT COUNT(*)
             FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
             WHERE o.o_custkey IS NOT NULL AND c.c_custkey IS NULL) AS BIGINT)
""",
    tags=("pipeline",),
)
def q_pipe_expect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality expectation suite over orders (ops/quality.py) —
    the batch gate every production ingest runs: null checks, value
    ranges, domain membership, key uniqueness, referential integrity —
    each emitted as an auditable (rule, kind, n_violations) row. The
    in_range bound is set below the real price max so the suite
    demonstrably FIRES on live data (n_violations > 0) instead of
    vacuously passing.

    Scale shape (ops/quality.py's contract): the three row-local rules
    share ONE map-side-combined aggregate pass; uniqueness is one
    groupBy on the key; the FK check is one left-anti join against the
    broadcast dimension key set. Checking more row rules adds columns
    to the same pass, not jobs."""
    from pipetree_spark.ops import quality as Q

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    rules = [
        Q.not_null("o_orderdate"),
        Q.in_range("o_totalprice", 0, 100000, name="in_range:o_totalprice:[0,100000]"),
        Q.satisfies(
            "known_priority",
            F.col("o_orderpriority").isin(
                "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"
            ),
        ),
        Q.unique("o_orderkey"),
        Q.foreign_key("o_custkey", c, "c_custkey"),
    ]
    return Q.evaluate(o, rules)


@declare(
    "q_pipe_profile",
    oracle="""
SELECT 'o_orderkey' AS col,
       CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
       CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
       CAST(MIN(o_orderkey) AS VARCHAR) AS min_val,
       CAST(MAX(o_orderkey) AS VARCHAR) AS max_val
FROM orders
UNION ALL
SELECT 'o_orderstatus',
       CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT),
       MIN(o_orderstatus), MAX(o_orderstatus)
FROM orders
UNION ALL
SELECT 'o_totalprice',
       CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(COUNT(DISTINCT o_totalprice) AS BIGINT),
       CAST(MIN(o_totalprice) AS VARCHAR), CAST(MAX(o_totalprice) AS VARCHAR)
FROM orders
UNION ALL
SELECT 'o_orderpriority',
       CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT),
       MIN(o_orderpriority), MAX(o_orderpriority)
FROM orders
""",
    tags=("pipeline", "agg"),
)
def q_pipe_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling — null count / distinct count / min / max per
    column, the SUMMARIZE/describe audit a pipeline runs on every new
    source before wiring it in. All four columns profile in ONE
    aggregate pass (Spark plans the multi-distinct via expand +
    two-phase agg); min/max compute in the NATIVE type and cast to
    string only on emit (a lexicographic min over pre-cast numerics
    would be wrong — '100' < '99'). String formatting of doubles is
    shortest-roundtrip in both engines for these magnitudes; the
    profile deliberately sticks to key/string/money columns, where the
    cross-engine repr is stable."""
    o = load_table(spark, sf_dir, "orders")
    cols = ["o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority"]
    aggs = []
    for i, c in enumerate(cols):
        aggs += [
            F.sum(F.col(c).isNull().cast("long")).alias(f"__n{i}"),
            F.count_distinct(F.col(c)).alias(f"__d{i}"),
            F.min(F.col(c)).cast("string").alias(f"__mn{i}"),
            F.max(F.col(c)).cast("string").alias(f"__mx{i}"),
        ]
    wide = o.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', __n{i}, __d{i}, __mn{i}, __mx{i}" for i, c in enumerate(cols)
    )
    return wide.selectExpr(
        f"stack({len(cols)}, {stack_args}) AS (col, n_nulls, n_distinct, min_val, max_val)"
    )


def _curation_report_sql() -> str:
    """DuckDB twin of pipetree_spark/specs/curation_pipeline.json's report stage:
    quality filter → exact dedup (rn = 1 per normalized hash) →
    LSH-banded candidate pairs at 0.5 (same _MH/_MH_BANDS8 literals and
    QUALIFY cap as the q_dedup_near_lsh oracle) → anti-join survivors →
    sliding-window chunk count."""
    from pipetree_spark.queries.llm_ops import _MH, _MH_BANDS8, _SHINGLES_SQL

    bands_case = " ".join(f"WHEN {j} THEN {b}" for j, b in enumerate(_MH_BANDS8))
    return f"""
WITH quality AS (
  SELECT doc_id, lang, text, n_chars FROM documents WHERE LENGTH(text) >= 40
),
exact_keep AS (
  SELECT doc_id, lang, text, n_chars FROM (
    SELECT q.*, row_number() OVER (
        PARTITION BY md5(regexp_replace(lower(trim(text)), '[ \t\n\x0B\f\r]+', ' ', 'g'))
        ORDER BY doc_id) AS rn
    FROM quality q) WHERE rn = 1
),
sh AS (
  SELECT doc_id, {_SHINGLES_SQL} AS s
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM exact_keep)
),
sig AS (SELECT doc_id, [{', '.join(_MH)}] AS m FROM sh),
bands AS (
  SELECT doc_id, j, CASE j {bands_case} END AS bk
  FROM sig CROSS JOIN generate_series(0, 7) AS g(j)
  QUALIFY count(*) OVER (PARTITION BY j, bk) <= 1024
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.j = b.j AND a.bk = b.bk AND a.doc_id < b.doc_id
),
dropped AS (
  SELECT DISTINCT c.id_b
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.id_a
  JOIN sh sb ON sb.doc_id = c.id_b
  WHERE CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
          / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))) >= 0.5
),
keep AS (
  SELECT e.* FROM exact_keep e LEFT JOIN dropped d ON e.doc_id = d.id_b
  WHERE d.id_b IS NULL
)
SELECT (SELECT COUNT(*) FROM documents) AS n_in,
       (SELECT COUNT(*) FROM keep) AS n_kept,
       CAST((SELECT SUM(CASE WHEN len(w) <= 64 THEN 1
                             ELSE 1 + (len(w) - 64 + 47) // 48 END)
             FROM (SELECT string_split(text, ' ') AS w FROM keep)) AS BIGINT)
         AS n_chunks
"""


@declare("q_pipe_curation", oracle=_curation_report_sql(), tags=("pipeline", "dedup"))
def q_pipe_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SHIPPED curation pipeline spec, end-to-end THROUGH the
    orchestration layer: Pipeline.from_spec on
    pipetree_spark/specs/curation_pipeline.json (quality filter → exact dedup op →
    LSH near-dup pairs op → anti-join keep → chunking op → report),
    returning the report stage. This is the Layer-A ⊕ Layer-B
    composition certified as one unit — the driver's hash compare runs
    against a DuckDB oracle that re-implements every stage, so a drift
    ANYWHERE in the spec walker, the op registry, the content-key
    plumbing, or the ops themselves breaks the round's grade.

    Runs cache-less (pure lazy composition): at production scale each
    materialize=true stage writes through the ArtifactCache instead
    and re-runs skip — exercised by tests/test_pipeline.py."""
    spec = _shipped_spec("curation_pipeline.json")
    p = Pipeline.from_spec(spec, sf_dir=sf_dir)
    return p.run(spark)["report"]


@declare(
    "q_pipe_timetravel",
    oracle="""
SELECT a.lang, a.n_v0, b.n_latest
FROM (SELECT lang, COUNT(*) AS n_v0 FROM documents WHERE doc_id % 2 = 0 GROUP BY lang) a
JOIN (SELECT lang, COUNT(*) AS n_latest FROM documents GROUP BY lang) b USING (lang)
""",
    tags=("pipeline",),
)
def q_pipe_timetravel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Versioned-table semantics driver-graded (pipetree_spark/
    versioned.py): commit v0 = even doc_ids, append v1 = odd (table now
    complete), overwrite v2 with a small subset (the 'bad ingest'),
    roll back to v1 — then read BOTH version 0 (time travel) and latest
    through the snapshot log and emit per-lang counts side by side. The
    oracle knows nothing about versions: if the manifest log, the
    append dir-list union, the overwrite, or the O(1) rollback got any
    row wrong, the counts diverge and the hash compare fails.

    The snapshot store lives under the per-process private scratch
    root (``cache.process_cache_root``), cleared and rebuilt on each
    invocation — repeated gradings in one process reuse one location,
    and the unpredictable mkdtemp name + 0700 mode close the fixed-path
    /tmp squat the r7 advice flagged; at production scale the same log
    lives next to the table and data dirs are immutable."""
    import shutil
    from pathlib import Path

    from pipetree_spark.cache import process_cache_root
    from pipetree_spark.versioned import VersionedTable

    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    scratch = Path(process_cache_root("timetravel")) / "store"
    shutil.rmtree(scratch, ignore_errors=True)
    scratch.mkdir(parents=True, exist_ok=True)
    t = VersionedTable(str(scratch), "docs")
    t.write(d.filter(F.col("doc_id") % 2 == 0), mode="overwrite")  # v0
    t.write(d.filter(F.col("doc_id") % 2 == 1), mode="append")     # v1 = all
    t.write(d.filter(F.col("doc_id") < 10), mode="overwrite")      # v2: bad ingest
    t.rollback(1)                                                  # v3 ≡ v1
    v0 = t.read(spark, 0).groupBy("lang").agg(F.count("*").alias("n_v0"))
    latest = t.read(spark).groupBy("lang").agg(F.count("*").alias("n_latest"))
    return v0.join(latest, "lang")


_VALIDATE_SQL = f"""
WITH canon AS (
  SELECT o_orderkey AS k, o_custkey, o_orderstatus,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_c,
         strftime(o_orderdate, '%Y-%m-%d') AS od, o_orderpriority
  FROM orders),
new AS (
  SELECT k, o_custkey, o_orderstatus, price_c, od,
         CASE WHEN k % 89 = 0 THEN 'X-SIMULATED' ELSE o_orderpriority END AS o_orderpriority
  FROM canon WHERE k % 97 <> 0
  UNION ALL
  SELECT k + 10000000000, o_custkey, o_orderstatus, price_c, od, o_orderpriority
  FROM canon WHERE k % 101 = 0),
ho AS (SELECT k, md5(concat_ws(chr(31), CAST(o_custkey AS VARCHAR), o_orderstatus,
            CAST(price_c AS VARCHAR), od, o_orderpriority)) AS rh FROM canon),
hn AS (SELECT k, md5(concat_ws(chr(31), CAST(o_custkey AS VARCHAR), o_orderstatus,
            CAST(price_c AS VARCHAR), od, o_orderpriority)) AS rh FROM new),
d AS (
  SELECT COALESCE(ho.k, hn.k) AS k,
         CASE WHEN ho.k IS NULL THEN 'added'
              WHEN hn.k IS NULL THEN 'removed'
              WHEN ho.rh <> hn.rh THEN 'changed' END AS status
  FROM ho FULL OUTER JOIN hn ON ho.k = hn.k),
fph AS (
  SELECT o_orderstatus,
         CAST(concat('0x', substr(md5(concat_ws(chr(31),
              coalesce(CAST(k AS VARCHAR), chr(1)),
              coalesce(CAST(o_custkey AS VARCHAR), chr(1)),
              coalesce(CAST(price_c AS VARCHAR), chr(1)),
              coalesce(od, chr(1)),
              coalesce(o_orderpriority, chr(1)))), 1, 15)) AS BIGINT) AS h
  FROM canon)
SELECT status, COUNT(*) AS n,
       CAST(SUM(CAST(k AS HUGEINT)) % 2305843009213693951 AS BIGINT) AS key_sum
FROM d WHERE status IS NOT NULL GROUP BY status
UNION ALL
SELECT concat('fp:', o_orderstatus) AS status, COUNT(*) AS n,
       CAST(SUM(CAST(h AS HUGEINT)) % 2305843009213693951 AS BIGINT) AS key_sum
FROM fph GROUP BY o_orderstatus
"""


@declare("q_pipe_validate", oracle=_VALIDATE_SQL, tags=("pipeline", "validation"))
def q_pipe_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SHIPPED backfill-verification pipeline spec end-to-end
    THROUGH the orchestration layer: Pipeline.from_spec on
    pipetree_spark/specs/validation_pipeline.json (canonicalize orders → simulate the
    next-day snapshot → ``snapshot_diff`` op on (key, row-hash) →
    ``table_fingerprint`` op per order status → one report frame of
    diff-status counts + per-group fingerprints).

    Like q_pipe_curation for the curation ops, this certifies the
    VALIDATION surface as one unit under the driver's hash: the spec
    walker, the two-frame op registry wiring (snapshot_diff is
    positional (old, new)), JSON kwargs→op plumbing, and the
    fingerprint/diff math itself against a DuckDB oracle that
    re-derives everything relationally, version-blind. Runs cache-less
    and writes nothing.
    """
    spec = _shipped_spec("validation_pipeline.json")
    p = Pipeline.from_spec(spec, sf_dir=sf_dir)
    return p.run(spark)["report"]


#: The cjk_curation spec's planted inserts — ONE constant the oracle
#: renders from; tests/test_pipeline.py pins the JSON spec's plant to
#: these same literals so the two cannot drift.
_CJK_PIPE_INSERTS: tuple[str, ...] = (
    "机器学习模型训练数据管道加速",
    "高速処理エンジンのデータです",
    "대규모데이터엔진처리시스템",
    "ระบบประมวลผลข้อมูล",
)


def _cjk_curation_report_sql() -> str:
    """DuckDB twin of pipetree_spark/specs/cjk_curation_pipeline.json's report:
    plant → script_profile route → cjk_chars segmentation →
    CJK-aware chunking (chunk_documents segmenter= kwarg, r15) →
    per-script doc/unit/chunk counts. Route and segmentation twins
    are GENERATED from the same class constants as the Spark ops
    (script_profile_sql / segment_text_sql)."""
    from pipetree_spark.ops.text import script_profile_sql, segment_text_sql

    case = (
        "(CASE doc_id % 5 "
        + " ".join(
            f"WHEN {i} THEN '{s}'" for i, s in enumerate(_CJK_PIPE_INSERTS)
        )
        + " ELSE '' END)"
    )
    planted = (
        f"substr(text, 1, 6) || ' ' || {case} || ' ' || substr(text, 8, 6)"
    )
    route = script_profile_sql("planted")
    seg = segment_text_sql("text", "cjk_chars")
    return f"""
WITH planted AS (
  SELECT doc_id, {planted} AS text FROM documents),
route AS ({route}),
stats AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split({seg}, ' '),
                              x -> length(x) > 0)) AS BIGINT) AS n_units
  FROM planted),
-- chunk_documents(size=8, stride=6, segmenter='cjk_chars'): the r15
-- segmenter kwarg — chunk count over the UNFILTERED segmented token
-- count (1 + ceil((n-8)/6) past one window), the op's exact formula
chunks AS (
  SELECT doc_id,
         CASE WHEN n <= 8 THEN 1 ELSE 1 + (n - 8 + 5) // 6 END AS n_chunks
  FROM (SELECT doc_id, len(string_split({seg}, ' ')) AS n FROM planted))
SELECT r.script_lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(s.n_units) AS BIGINT) AS sum_units,
       CAST(SUM(c.n_chunks) AS BIGINT) AS sum_chunks
FROM route r JOIN stats s USING (doc_id) JOIN chunks c USING (doc_id)
GROUP BY r.script_lang
"""


@declare(
    "q_pipe_cjk_curation",
    oracle=_cjk_curation_report_sql(),
    tags=("pipeline", "text"),
)
def q_pipe_cjk_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The r14 CJK surface composed END-TO-END through the
    orchestration layer and certified as one unit (the q_pipe_curation
    pattern): Pipeline.from_spec on the shipped
    cjk_curation_pipeline.json — SQL plant of a mixed-script corpus →
    script_profile router op → segment_text stage op → per-script
    doc/unit report — with a DuckDB oracle that re-implements every
    stage from the SAME generated twins (script_profile_sql /
    segment_text_sql). A drift anywhere in the spec walker, the op
    registry, the segmenter, or the router breaks the driver's hash.

    Runs cache-less (pure lazy composition), like q_pipe_curation."""
    spec = _shipped_spec("cjk_curation_pipeline.json")
    p = Pipeline.from_spec(spec, sf_dir=sf_dir)
    return p.run(spark)["report"]


#: q_pipe_curation_full shared plant constants — rendered into the
#: static spec JSON by tools-time generation and into the oracle here;
#: test_curation_full_spec_matches_constants guards the spec file
#: against drift. The body regex deliberately uses [^ ] (no \S): the
#: character class is IDENTICAL in Spark-SQL literals (no backslash
#: escape processing), Java and RE2 — one spelling, three engines.
_FULL_BODY_RE = "([^ ]+ [^ ]+ [^ ]+ [^ ]+ [^ ]+) "
_FULL_BLTERMS: tuple[str, ...] = ("casino", "jackpot", "free spins")
_FULL_BLTAIL = " casino jackpot night"


def _curation_full_report_sql() -> str:
    """DuckDB twin of pipetree_spark/specs/curation_full_pipeline.json — the FULL
    modern curation recipe (the C4/CCNet/Gopher composite, r14 verdict
    item 3) replayed stage by stage: plant (multi-line bodies +
    residue-class boilerplate headers + a blocklist tail) → messy-URL
    synth → host key → robots REP gate → blocklist gate → script
    route → NFC → cross-doc line-dedup strip → quality gate → exact
    dedup → near-dup LSH → repetition gate → domain cap → token
    budget → one-row funnel report. Every fragment is the certified
    per-stage oracle: url_synth_ctes/URL_HOST_SQL, the robots
    VALUES+window, blocklist_pattern, script_profile_sql, DuckDB's
    native nfc_normalize, the q_dedup_lines_nl_rm line replay (4096
    lines/doc certification bound), the q_pipe_curation LSH fragment
    (_SHINGLES_SQL/_MH/_MH_BANDS8), the q_text_repetition bigram
    shape (8192-token bound), and the domain-cap/token-budget
    windows."""
    from pipetree_spark.ops.text import (
        URL_HOST_SQL,
        blocklist_pattern,
        script_profile_sql,
        url_synth_ctes,
    )
    from pipetree_spark.queries.llm_ops import (
        _MH,
        _MH_BANDS8,
        _NL_HEADERS,
        _SHINGLES_SQL,
        _robots_values_sql,
    )

    bands_case = " ".join(f"WHEN {j} THEN {b}" for j, b in enumerate(_MH_BANDS8))
    bl_pat = blocklist_pattern(_FULL_BLTERMS).replace("'", "''")
    return f"""
WITH planted AS MATERIALIZED (
  SELECT doc_id, lang, source, n_chars,
         (CASE doc_id % 3 WHEN 0 THEN '{_NL_HEADERS[0]}'
                          WHEN 1 THEN '{_NL_HEADERS[1]}' ELSE '' END)
         || chr(10)
         || regexp_replace(text, '{_FULL_BODY_RE}', '\\1' || chr(10), 'g')
         || (CASE WHEN doc_id % 7 = 3 THEN '{_FULL_BLTAIL}' ELSE '' END)
           AS text
  FROM documents),
{url_synth_ctes("planted")},
h AS (
  SELECT u.doc_id, {URL_HOST_SQL} AS host,
         regexp_extract(regexp_replace(url, '#.*$', ''),
                        '^[A-Za-z]+://[^/?]+(/[^?]*)', 1) AS path
  FROM u),
rules(host, rule, prefix) AS (VALUES {_robots_values_sql()}),
m AS (
  SELECT h.doc_id, r.rule,
         row_number() OVER (
           PARTITION BY h.doc_id
           ORDER BY length(r.prefix) DESC, r.rule ASC, r.prefix ASC) AS rn
  FROM h JOIN rules r ON r.host = h.host AND starts_with(h.path, r.prefix)),
allowed AS MATERIALIZED (
  SELECT p.doc_id, p.lang, p.source, p.n_chars, h.host, p.text
  FROM planted p JOIN h USING (doc_id)
  LEFT JOIN (SELECT doc_id, rule FROM m WHERE rn = 1) mm USING (doc_id)
  WHERE COALESCE(mm.rule, 'allow') = 'allow'),
clean_docs AS MATERIALIZED (
  SELECT * FROM allowed
  WHERE len(regexp_extract_all(lower(text), '{bl_pat}', 1)) = 0),
routed AS MATERIALIZED (
  SELECT c.* FROM clean_docs c
  JOIN ({script_profile_sql("clean_docs")}) r USING (doc_id)
  WHERE r.script_lang = 'latin'),
nfc_docs AS MATERIALIZED (
  SELECT doc_id, lang, source, n_chars, host, nfc_normalize(text) AS text
  FROM routed),
ls AS (
  SELECT doc_id,
         list_filter(string_split(text, chr(10)),
                     x -> length(trim(x)) > 0) AS arr
  FROM nfc_docs),
l AS MATERIALIZED (
  SELECT doc_id, i - 1 AS line_no, arr[i] AS line
  FROM ls CROSS JOIN generate_series(1, 4096) g(i)
  WHERE i <= len(arr)),
lf AS (SELECT line, COUNT(DISTINCT doc_id) AS ndocs FROM l GROUP BY line),
keptl AS (
  SELECT l.doc_id, l.line_no, l.line
  FROM l JOIN lf USING (line) WHERE lf.ndocs < 2),
stripagg AS (
  SELECT doc_id, COUNT(*) AS n_kept_lines,
         string_agg(line, chr(10) ORDER BY line_no) AS clean_text
  FROM keptl GROUP BY doc_id),
ltot AS (SELECT doc_id, COUNT(*) AS n_lines FROM l GROUP BY doc_id),
stripped AS MATERIALIZED (
  SELECT d.doc_id, d.lang, d.source, d.n_chars, d.host,
         COALESCE(a.clean_text, '') AS text,
         COALESCE(ltot.n_lines, 0) AS n_lines,
         COALESCE(a.n_kept_lines, 0) AS n_kept_lines
  FROM nfc_docs d LEFT JOIN ltot USING (doc_id)
  LEFT JOIN stripagg a USING (doc_id)),
gated AS MATERIALIZED (
  SELECT doc_id, lang, source, n_chars, host, text FROM stripped
  WHERE len(string_split(text, ' ')) >= 10),
exact_keep AS MATERIALIZED (
  SELECT doc_id, lang, source, n_chars, host, text FROM (
    SELECT g.*, row_number() OVER (
        PARTITION BY md5(regexp_replace(lower(trim(text)), '[ \t\n\x0B\f\r]+', ' ', 'g'))
        ORDER BY doc_id) AS rn
    FROM gated g) WHERE rn = 1),
sh AS MATERIALIZED (
  SELECT doc_id, {_SHINGLES_SQL} AS s
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM exact_keep)),
sig AS (SELECT doc_id, [{', '.join(_MH)}] AS m FROM sh),
bands AS MATERIALIZED (
  SELECT doc_id, j, CASE j {bands_case} END AS bk
  FROM sig CROSS JOIN generate_series(0, 7) AS g(j)
  QUALIFY count(*) OVER (PARTITION BY j, bk) <= 1024),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.j = b.j AND a.bk = b.bk AND a.doc_id < b.doc_id),
dropped AS (
  SELECT DISTINCT c.id_b
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.id_a
  JOIN sh sb ON sb.doc_id = c.id_b
  WHERE CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
          / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))) >= 0.5),
near_keep AS MATERIALIZED (
  SELECT e.* FROM exact_keep e LEFT JOIN dropped d ON e.doc_id = d.id_b
  WHERE d.id_b IS NULL),
big AS (
  SELECT doc_id, w[i] || ' ' || w[i+1] AS g
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM near_keep)
  CROSS JOIN generate_series(1, 8192) gs(i)
  WHERE i + 1 <= len(w)),
rep2 AS (
  SELECT doc_id, SUM(c) AS tot, MAX(c) AS topc
  FROM (SELECT doc_id, g, COUNT(*) AS c FROM big GROUP BY doc_id, g)
  GROUP BY doc_id),
rep_gated AS MATERIALIZED (
  SELECT k.* FROM near_keep k JOIN rep2 r USING (doc_id)
  WHERE CAST(r.topc AS DOUBLE) / r.tot <= 0.2),
capped AS (
  SELECT doc_id, lang, source, n_chars, host, text,
         row_number() OVER (
           PARTITION BY host ORDER BY n_chars DESC, doc_id ASC) AS rnk
  FROM rep_gated),
cap_keep AS MATERIALIZED (
  SELECT doc_id, lang, source, n_chars, host, text FROM capped WHERE rnk <= 30),
bt AS (
  SELECT doc_id, source,
         CAST(len(list_filter(string_split(text, ' '),
                              x -> length(x) > 0)) AS BIGINT) AS n_tokens,
         md5('fullmix:' || CAST(doc_id AS VARCHAR)) AS hh
  FROM cap_keep),
bud AS (
  SELECT doc_id, source, n_tokens,
         COALESCE(SUM(n_tokens) OVER (
           PARTITION BY source ORDER BY hh, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
  FROM bt),
final AS MATERIALIZED (SELECT * FROM bud WHERE cum_before < 5000)
SELECT (SELECT COUNT(*) FROM documents) AS n_in,
       (SELECT COUNT(*) FROM allowed) AS n_robots_ok,
       (SELECT COUNT(*) FROM clean_docs) AS n_blocklist_ok,
       (SELECT COUNT(*) FROM routed) AS n_routed,
       CAST((SELECT SUM(n_lines - n_kept_lines) FROM stripped) AS BIGINT)
         AS n_boiler_lines,
       (SELECT COUNT(*) FROM gated) AS n_quality_ok,
       (SELECT COUNT(*) FROM exact_keep) AS n_exact_keep,
       (SELECT COUNT(*) FROM near_keep) AS n_near_keep,
       (SELECT COUNT(*) FROM rep_gated) AS n_rep_ok,
       (SELECT COUNT(*) FROM cap_keep) AS n_cap_keep,
       (SELECT COUNT(*) FROM final) AS n_final,
       CAST((SELECT SUM(n_tokens) FROM final) AS BIGINT) AS sum_tokens_final
"""


@declare(
    "q_pipe_curation_full",
    oracle=_curation_full_report_sql(),
    tags=("pipeline", "text", "dedup"),
)
def q_pipe_curation_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL modern curation recipe — the C4/CCNet/Gopher composite
    (r14 verdict item 3) — composed END-TO-END through ONE
    Pipeline.from_spec spec and certified as one unit: plant a
    crawl-shaped corpus (multi-line bodies, residue-class boilerplate
    headers, a blocklist-term tail class) → messy-URL synth → host
    key → robots REP gate → blocklist gate → script route → NFC →
    cross-document line-dedup strip (real-newline mode, min_docs=2) →
    quality gate (≥10 tokens) → exact dedup → near-dup LSH (band →
    exact-verify ≥0.5) → repetition gate (top-bigram share ≤0.2) →
    per-domain cap (30) → per-source token budget (5000, greedy
    md5-order fill) → a one-row funnel report counting survivors at
    every gate plus boilerplate lines cut and final kept tokens.

    Stage-order note vs the naive reading of the recipe: the quality
    gate and exact dedup run AFTER the line strip — stripping can
    empty a doc (all-boilerplate) or make two docs byte-equal (equal
    bodies under different residue headers), so dedup/gating on the
    CLEANED text is the semantically right order (C4 dedups after
    cleaning for the same reason); empty survivors would otherwise
    poison the minhash stage as a giant exact-dup class.

    The DuckDB oracle re-implements all 14 stages from the certified
    per-stage fragments — a drift anywhere in the spec walker, the op
    registry, or ANY composed op breaks the driver's hash.

    Scale shape: the funnel is monotone-shrinking; every gate is a
    narrow map or a broadcast join except the documented shuffles
    (line-hash group/probe, exact-dedup hash agg, LSH banding,
    per-host and per-source windows). Unlike the shallow
    q_pipe_curation, this 24-stage DAG runs WITH the artifact cache
    (per-process private dir, content-keyed — the q_pipe_bucketed skip-if-
    cached pattern): the report's 11 funnel subqueries read each
    materialized stage once instead of re-deriving the whole lazy DAG
    eleven times (measured: the cache-less form exceeds 9 min at
    sf0.001; cached, seconds). ``sf_dir`` is injected into the source
    stage spec so it enters every content key — different SFs never
    collide in the shared cache."""
    from pipetree_spark.cache import ArtifactCache, process_cache_root

    spec = _shipped_spec("curation_full_pipeline.json")
    spec["stages"]["documents"]["sf_dir"] = sf_dir
    cache = ArtifactCache(process_cache_root("curation_full_artifacts"))
    p = Pipeline.from_spec(spec, sf_dir=sf_dir)
    # targets=["report"]: with a hot artifact cache the walker then
    # skips the flow-through stages whose consumers are all hits
    # (r15 opt-wave-2) — the report frame is identical either way
    return p.run(spark, cache=cache, targets=["report"])["report"]
