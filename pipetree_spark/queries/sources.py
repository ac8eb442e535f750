"""Source / sink queries (SURVEY §2.1).

The engine's connector surface is path-scheme config over the same code
paths (file:// locally, s3a:// on a cluster — the reference's S3
artifact-backend concept, SURVEY §2.10). CSV/JSON round-trips write to a
per-process scratch dir (``cache.process_cache_root``) and read back
with explicit schemas — fidelity is proven by aggregating the
round-tripped frame against the oracle over the ORIGINAL table
(doubles survive because both writers emit shortest round-trip
representations).
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pipetree_spark.cache import process_cache_root
from pipetree_spark.catalog import TABLES, load_table
from pipetree_spark.exact import dsum, dsum_sql
from pipetree_spark.queries import declare


@declare(
    "q_src_scan",
    oracle=" UNION ALL ".join(
        f"SELECT '{t}' AS table_name, COUNT(*) AS n_rows FROM {t}" for t in TABLES
    ),
    tags=("source",),
)
def q_src_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan every table (incl. the ns-timestamp events conversion) and
    count — the basic source-of-truth check for all ten connectors."""
    frames = [
        load_table(spark, sf_dir, t).agg(
            F.lit(t).alias("table_name"), F.count("*").alias("n_rows")
        )
        for t in TABLES
    ]
    return functools.reduce(lambda a, b: a.unionByName(b), frames)


@declare(
    "q_src_events",
    oracle="""
SELECT COUNT(*) AS n_events,
       MIN(epoch_ns(ts) // 1000000000) AS min_sec,
       MAX(epoch_ns(ts) // 1000000000) AS max_sec,
       STRFTIME(MIN(DATE_TRUNC('second', CAST(ts AS TIMESTAMP))), '%Y-%m-%d %H:%M:%S') AS min_ts_str,
       COUNT(DISTINCT event_type) AS n_types
FROM events
""",
    tags=("source", "events"),
)
def q_src_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ns-timestamp gotcha query (SURVEY §1.2): proves the int64-ns →
    timestamp conversion agrees with DuckDB's native ns reader at both
    epoch-second and formatted-string granularity."""
    e = load_table(spark, sf_dir, "events")
    return e.agg(
        F.count("*").alias("n_events"),
        F.min("ts_sec").alias("min_sec"),
        F.max("ts_sec").alias("max_sec"),
        F.date_format(F.date_trunc("second", F.min("ts")), "yyyy-MM-dd HH:mm:ss").alias("min_ts_str"),
        F.count_distinct("event_type").alias("n_types"),
    )


@declare(
    "q_src_csv_roundtrip",
    oracle=f"""
SELECT o_orderstatus,
       COUNT(*) AS n_orders,
       {dsum_sql('o_totalprice')} AS sum_total
FROM orders
GROUP BY o_orderstatus
""",
    tags=("source",),
)
def q_src_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink → source fidelity: write a projection, read it back with
    an explicit schema, re-aggregate; must equal the oracle over the
    original parquet."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
    path = f"{process_cache_root('sources')}/csv_roundtrip"
    o.write.mode("overwrite").option("header", True).csv(path)
    schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
        ]
    )
    back = spark.read.schema(schema).option("header", True).csv(path)
    return back.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"), dsum("o_totalprice").alias("sum_total")
    )


@declare(
    "q_src_json_roundtrip",
    oracle=f"""
SELECT c_mktsegment,
       COUNT(*) AS n_customers,
       {dsum_sql('c_acctbal')} AS sum_bal
FROM customer
GROUP BY c_mktsegment
""",
    tags=("source",),
)
def q_src_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink → source fidelity (same protocol as CSV)."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment", "c_acctbal")
    path = f"{process_cache_root('sources')}/json_roundtrip"
    c.write.mode("overwrite").json(path)
    schema = T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_mktsegment", T.StringType()),
            T.StructField("c_acctbal", T.DoubleType()),
        ]
    )
    back = spark.read.schema(schema).json(path)
    return back.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_customers"), dsum("c_acctbal").alias("sum_bal")
    )


@declare(
    "q_src_orc_roundtrip",
    oracle=f"""
SELECT p_brand,
       COUNT(*) AS n_parts,
       {dsum_sql('p_retailprice')} AS sum_price
FROM part
GROUP BY p_brand
""",
    tags=("source",),
)
def q_src_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink → source fidelity (Spark-native columnar alternative to
    parquet; same vectorized reader path). Doubles survive exactly —
    ORC stores IEEE754 bits verbatim."""
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_retailprice")
    path = f"{process_cache_root('sources')}/orc_roundtrip"
    p.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    return back.groupBy("p_brand").agg(
        F.count("*").alias("n_parts"), dsum("p_retailprice").alias("sum_price")
    )


@declare(
    "q_src_partitioned",
    oracle=f"""
SELECT l_returnflag, l_linestatus,
       COUNT(*) AS n_rows,
       {dsum_sql('l_extendedprice')} AS sum_price
FROM lineitem
WHERE l_returnflag = 'R'
GROUP BY l_returnflag, l_linestatus
""",
    tags=("source",),
)
def q_src_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned parquet sink → source with PARTITION PRUNING.

    Writes lineitem partitioned by l_returnflag (the 100 TB layout
    discipline: partition fact sinks on the hot filter column so reads
    touch 1/N of the files), reads it back filtered to one partition —
    Catalyst prunes to `PartitionFilters: [returnflag = R]`, verified in
    tests/test_plans.py. Partition values come back as strings from the
    hive path encoding; re-cast is part of the source op's contract.
    """
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_returnflag", "l_linestatus"
    )
    path = f"{process_cache_root('sources')}/partitioned_sink"
    l.write.mode("overwrite").partitionBy("l_returnflag").parquet(path)
    back = spark.read.parquet(path).filter(F.col("l_returnflag") == "R")
    return back.groupBy("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n_rows"), dsum("l_extendedprice").alias("sum_price")
    )


@declare(
    "q_src_evolution",
    oracle=f"""
SELECT c_mktsegment,
       COUNT(*) AS n_customers,
       {dsum_sql('c_acctbal')} AS sum_bal,
       CAST(SUM(CASE WHEN c_custkey % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_named
FROM customer
GROUP BY c_mktsegment
""",
    tags=("source",),
)
def q_src_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet SCHEMA EVOLUTION at the source (r6): batch 1 is written
    without ``c_name``, batch 2 (a later producer version) adds it;
    ``mergeSchema=true`` reconciles the footers into one widened schema
    with nulls for the pre-evolution rows — the standard long-lived-
    dataset pattern at 100 TB, where a sink's schema WILL change across
    producer deployments and re-writing old partitions is not an
    option. The batches land as hive-style ``batch=N`` partitions, so
    this also exercises evolution + partition discovery together.
    Verified by re-aggregating: row counts and sums over the merged
    frame must equal the oracle over the original table, and ``n_named``
    (non-null c_name) must count exactly the batch-2 rows."""
    c = load_table(spark, sf_dir, "customer")
    path = f"{process_cache_root('sources')}/evolution"
    old = c.filter(F.col("c_custkey") % 2 == 1).select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    new = c.filter(F.col("c_custkey") % 2 == 0).select(
        "c_custkey", "c_mktsegment", "c_acctbal", "c_name"
    )
    old.write.mode("overwrite").parquet(f"{path}/batch=1")
    new.write.mode("overwrite").parquet(f"{path}/batch=2")
    back = spark.read.option("mergeSchema", True).parquet(path)
    return back.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_customers"),
        dsum("c_acctbal").alias("sum_bal"),
        F.count("c_name").alias("n_named"),
    )


@declare(
    "q_src_corrupt_json",
    oracle="""
WITH p AS (
  SELECT CASE WHEN event_id % 7 = 0 THEN substr(props, 1, len(props) - 1)
              ELSE props END AS payload
  FROM events
)
SELECT CAST(SUM(CASE WHEN json_valid(payload) THEN 1 ELSE 0 END) AS BIGINT) AS n_valid,
       CAST(SUM(CASE WHEN json_valid(payload) THEN 0 ELSE 1 END) AS BIGINT) AS n_invalid,
       CAST(SUM(CASE WHEN json_valid(payload)
                     THEN CAST(json_extract_string(payload, '$.k') AS BIGINT)
                     ELSE 0 END) AS BIGINT) AS sum_k_valid
FROM p
""",
    tags=("source", "fn", "events"),
)
def q_src_corrupt_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-record ingest robustness — the PERMISSIVE-mode contract
    a real JSON feed needs: ~1/7 of the props payloads are
    deterministically truncated (the classic mid-write corruption), the
    parser must classify valid vs corrupt WITHOUT failing the job, and
    numeric extraction sums only the valid rows. Spark 4's
    ``try_parse_json`` (NULL on malformed, never a throw) is the
    validity test — the engine-side twin of DuckDB's ``json_valid`` —
    and both parsers agree a truncated object is invalid.

    At 100 TB this shape is the dead-letter audit every ingest job
    emits: one map-side-combined global aggregate, corrupt rows counted
    not crashed on, zero shuffle beyond the final 1-row combine."""
    e = load_table(spark, sf_dir, "events")
    payload = F.when(
        F.col("event_id") % 7 == 0,
        F.expr("substring(props, 1, length(props) - 1)"),
    ).otherwise(F.col("props"))
    valid = F.try_parse_json(payload).isNotNull()
    k = F.get_json_object(payload, "$.k").cast("long")
    return e.select(payload.alias("payload"), valid.alias("v"), k.alias("k")).agg(
        F.sum(F.when(F.col("v"), 1).otherwise(0)).cast("long").alias("n_valid"),
        F.sum(F.when(F.col("v"), 0).otherwise(1)).cast("long").alias("n_invalid"),
        F.sum(F.when(F.col("v"), F.col("k")).otherwise(0)).cast("long").alias("sum_k_valid"),
    )
