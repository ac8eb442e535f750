"""Cache / orchestration semantics (SURVEY §5.3.5) — the reference's
core behavior: run-twice ⇒ skip; spec change ⇒ recompute; upstream
change ⇒ downstream recompute (hash propagation); DAG validation."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from pipetree_spark.cache import ArtifactCache, content_key
from pipetree_spark.pipeline import Pipeline


def _spec(sf_dir: str, where: str = "1=1") -> dict:
    return {
        "stages": {
            "lineitem": {"type": "source", "table": "lineitem", "sf_dir": sf_dir},
            "filtered": {
                "type": "sql",
                "inputs": ["lineitem"],
                "materialize": True,
                "query": f"SELECT l_returnflag, l_quantity FROM lineitem WHERE {where}",
            },
            "agg": {
                "type": "sql",
                "inputs": ["filtered"],
                "materialize": True,
                "query": "SELECT l_returnflag, COUNT(*) AS n FROM filtered GROUP BY 1",
            },
        }
    }


def test_run_twice_skips(spark, sf_small, tmp_path):
    cache = ArtifactCache(str(tmp_path))
    p1 = Pipeline.from_spec(_spec(sf_small))
    r1 = p1.run(spark, cache=cache)
    v1 = sorted(tuple(r) for r in r1["agg"].collect())
    assert p1.last_run_report == {
        "lineitem": "computed",
        "filtered": "materialized",
        "agg": "materialized",
    }

    p2 = Pipeline.from_spec(_spec(sf_small))
    r2 = p2.run(spark, cache=cache)
    assert p2.last_run_report["filtered"] == "hit"
    assert p2.last_run_report["agg"] == "hit"
    assert sorted(tuple(r) for r in r2["agg"].collect()) == v1


def test_spec_change_recomputes_downstream_only(spark, sf_small, tmp_path):
    cache = ArtifactCache(str(tmp_path))
    Pipeline.from_spec(_spec(sf_small)).run(spark, cache=cache)

    # change only the downstream agg stage → upstream stays a hit
    spec = _spec(sf_small)
    spec["stages"]["agg"]["query"] = (
        "SELECT l_returnflag, COUNT(*) AS n, 1 AS extra FROM filtered GROUP BY 1"
    )
    p = Pipeline.from_spec(spec)
    p.run(spark, cache=cache)
    assert p.last_run_report["filtered"] == "hit"
    assert p.last_run_report["agg"] == "materialized"


def test_upstream_change_propagates(spark, sf_small, tmp_path):
    cache = ArtifactCache(str(tmp_path))
    Pipeline.from_spec(_spec(sf_small)).run(spark, cache=cache)

    # change the upstream filter → dependency hash of agg changes too
    p = Pipeline.from_spec(_spec(sf_small, where="l_quantity > 10"))
    p.run(spark, cache=cache)
    assert p.last_run_report["filtered"] == "materialized"
    assert p.last_run_report["agg"] == "materialized"


def test_cache_hit_and_read_back_fire_no_spark_job(spark, tmp_path):
    """Artifacts load with the schema their sidecar records, so neither a
    hit (``has`` + ``load``) nor materialize's read-back runs Spark's
    parquet schema-inference job: materialize fires exactly the jobs of
    the write itself."""
    from tools.plan_audit import jobs_fired

    def jobs(body) -> int:
        return jobs_fired(spark, body)[1]

    cache = ArtifactCache(str(tmp_path / "cache"))
    df = spark.range(40).selectExpr("id", "CAST(id * 2 AS STRING) AS s")
    plain = jobs(lambda: df.write.parquet(str(tmp_path / "plain")))
    assert plain >= 1
    assert jobs(lambda: cache.materialize(spark, df, "st", "k")) == plain
    assert jobs(lambda: cache.has(spark, "st", "k") and cache.load(spark, "st", "k")) == 0
    # the counter sees the inference job a schema-less read pays
    assert jobs(lambda: spark.read.parquet(cache.path("st", "k"))) >= 1
    assert sorted(cache.load(spark, "st", "k").collect()) == sorted(df.collect())


def test_sidecar_schema_equals_inferred_schema_for_rich_types(spark, tmp_path):
    """The sidecar schema reads back exactly what Spark would infer from
    the parquet footers, across non-nullable columns, both timestamp
    types, wide decimals, binary, nested arrays/maps, column metadata and
    hyphenated / reserved names; the rows are equal too."""
    import datetime
    import decimal

    from pyspark.sql.types import (
        ArrayType, BinaryType, DecimalType, FloatType, IntegerType, LongType,
        MapType, StringType, StructField, StructType, TimestampNTZType, TimestampType,
    )

    schema = StructType([
        StructField("id", LongType(), False),
        StructField("ts", TimestampType(), True),
        StructField("ts_ntz", TimestampNTZType(), False),
        StructField("amount", DecimalType(38, 18), True),
        StructField("blob", BinaryType(), True),
        StructField("items", ArrayType(StructType([
            StructField("a", IntegerType(), False), StructField("b", StringType(), True),
        ]), True), True),
        StructField("vecs", MapType(StringType(), ArrayType(FloatType(), True), True), True),
        StructField("tagged", StringType(), True, {"comment": "kept", "weight": 3}),
        StructField("my-col", StringType(), True),
        StructField("select", IntegerType(), True),
    ])
    rows = [
        (i, datetime.datetime(2024, 1, 1, 12, i), datetime.datetime(2020, 2, 29, 0, 0, i),
         decimal.Decimal(f"{i}.123456789012345678"), bytes([i, 255 - i]),
         [(i, f"b{i}"), (i + 1, None)], {"k": [0.5, float(i)], "z": []},
         f"t{i}", f"h{i}", i * 7)
        for i in range(6)
    ] + [(99, None, datetime.datetime(1970, 1, 1), None, None, None, None, None, None, None)]
    df = spark.createDataFrame(rows, schema)
    cache = ArtifactCache(str(tmp_path))
    cache.materialize(spark, df, "rich", "k")
    loaded = cache.load(spark, "rich", "k")
    inferred = spark.read.parquet(cache.path("rich", "k"))
    assert loaded.schema == inferred.schema
    assert loaded.schema["tagged"].metadata == {"comment": "kept", "weight": 3}
    assert not any(f.nullable is False for f in loaded.schema.fields)
    got = loaded.orderBy("id").collect()
    assert got == inferred.orderBy("id").collect() == df.orderBy("id").collect()


def test_artifact_without_sidecar_is_a_miss(spark, sf_small, tmp_path):
    """The sidecar is the commit marker: a directory holding the parquet
    files and ``_SUCCESS`` but no sidecar (a crash between the two
    writes) is a miss, and the next run re-materializes it."""
    import os

    from pipetree_spark.cache import SIDECAR

    cache = ArtifactCache(str(tmp_path))
    Pipeline.from_spec(_spec(sf_small)).run(spark, cache=cache)
    key = next(iter(os.listdir(tmp_path / "filtered")))
    art = tmp_path / "filtered" / key
    for name in (SIDECAR, f".{SIDECAR}.crc"):
        if (art / name).exists():
            (art / name).unlink()
    assert (art / "_SUCCESS").exists() and any(f.endswith(".parquet") for f in os.listdir(art))
    assert not cache.has(spark, "filtered", key)

    p = Pipeline.from_spec(_spec(sf_small))
    p.run(spark, cache=cache)
    assert p.last_run_report == {
        "lineitem": "computed",
        "filtered": "materialized",
        "agg": "hit",
    }
    assert cache.has(spark, "filtered", key)


def test_targets_prune_unneeded_stages(spark, sf_small):
    spec = _spec(sf_small)
    spec["stages"]["unrelated"] = {
        "type": "values",
        "columns": ["x"],
        "rows": [[1]],
    }
    p = Pipeline.from_spec(spec)
    p.run(spark, targets=["filtered"])
    assert "unrelated" not in p.last_run_report
    assert "agg" not in p.last_run_report


def test_grid_stage_cartesian(spark):
    p = Pipeline.from_spec(
        {
            "stages": {
                "grid": {"type": "grid", "grid": {"lr": [0.1, 0.2], "depth": [3, 5, 7]}}
            }
        }
    )
    rows = p.run(spark)["grid"].collect()
    assert len(rows) == 6
    assert {(r.lr, r.depth) for r in rows} == {
        (lr, d) for lr in (0.1, 0.2) for d in (3, 5, 7)
    }


def test_python_stage_and_add_stage(spark, sf_small):
    p = Pipeline.from_spec(
        {"stages": {"orders": {"type": "source", "table": "orders", "sf_dir": sf_small}}}
    )
    p.add_stage(
        "big",
        lambda s, fr: fr["orders"].filter(F.col("o_totalprice") > 100000),
        inputs=["orders"],
    )
    n_all = p.run(spark)["orders"].count()
    n_big = p.run(spark)["big"].count()
    assert 0 < n_big < n_all


def test_dag_validation():
    with pytest.raises(ValueError, match="cycle"):
        Pipeline.from_spec(
            {
                "stages": {
                    "a": {"type": "sql", "inputs": ["b"], "query": "SELECT 1"},
                    "b": {"type": "sql", "inputs": ["a"], "query": "SELECT 1"},
                }
            }
        )
    with pytest.raises(ValueError, match="undefined"):
        Pipeline.from_spec(
            {"stages": {"a": {"type": "sql", "inputs": ["ghost"], "query": "SELECT 1"}}}
        )
    with pytest.raises(ValueError, match="unknown stage type"):
        Pipeline.from_spec({"stages": {"a": {"type": "wat"}}})


def test_content_key_properties():
    k1 = content_key({"q": "SELECT 1"}, [])
    assert k1 == content_key({"q": "SELECT 1"}, [])  # deterministic
    assert k1 != content_key({"q": "SELECT 2"}, [])  # definition-sensitive
    assert k1 != content_key({"q": "SELECT 1"}, ["up"])  # dependency-sensitive


def test_source_roundtrips_write_under_the_process_scratch_root(spark, sf_small):
    """The round-trip queries write under process_cache_root, never a
    fixed shared /tmp path another process or user could collide with
    or pre-create (the path may exist from older runs: it must simply
    be left untouched)."""
    import os
    import tempfile

    from pipetree_spark.cache import process_cache_root
    from pipetree_spark.queries import load_registry

    fixed = os.path.join(tempfile.gettempdir(), "pipetree_spark_csv_roundtrip")

    def snapshot() -> dict:
        return {
            os.path.join(d, f): os.stat(os.path.join(d, f)).st_mtime_ns
            for d, _, files in os.walk(fixed)
            for f in files
        }

    before = snapshot()
    assert load_registry()["q_src_csv_roundtrip"].fn(spark, sf_small).collect()
    assert snapshot() == before
    assert os.listdir(os.path.join(process_cache_root("sources"), "csv_roundtrip"))


def test_python_stage_code_change_invalidates_cache(spark, sf_small, tmp_path):
    """A python stage's content key folds in the callable's code
    fingerprint: editing the fn must MISS the cache, not serve the old
    artifact (stale-cache advice, r1)."""
    from pipetree_spark.cache import ArtifactCache

    cache = ArtifactCache(str(tmp_path))

    def build(factor):
        def fn(s, fr):
            return fr["orders"].select((F.col("o_totalprice") * factor).alias("x"))

        p = Pipeline.from_spec(
            {"stages": {"orders": {"type": "source", "table": "orders", "sf_dir": sf_small}}}
        )
        # identical spec both times — only the callable differs
        p.add_stage("scaled", fn, inputs=["orders"], spec={"name": "scaled"}, materialize=True)
        return p

    build(1.0).run(spark, cache=cache)
    p2 = build(2.0)
    p2.run(spark, cache=cache)
    assert p2.last_run_report["scaled"] == "materialized"  # not "hit"
    p3 = build(2.0)
    p3.run(spark, cache=cache)
    assert p3.last_run_report["scaled"] == "hit"  # same code → cache hit


def test_captured_dict_change_invalidates_cache(spark, sf_small, tmp_path):
    """A captured config dict is part of the code fingerprint (recursed
    with sorted items, r2 ADVICE) — two builds differing only in the
    dict must not share a cached artifact."""
    from pipetree_spark.cache import ArtifactCache

    cache = ArtifactCache(str(tmp_path))

    def build(cfg):
        def fn(s, fr):
            return fr["orders"].select(
                (F.col("o_totalprice") * cfg["factor"]).alias("x")
            )

        p = Pipeline.from_spec(
            {"stages": {"orders": {"type": "source", "table": "orders", "sf_dir": sf_small}}}
        )
        p.add_stage("scaled", fn, inputs=["orders"], spec={"name": "scaled"}, materialize=True)
        return p

    build({"factor": 1.0}).run(spark, cache=cache)
    p2 = build({"factor": 2.0})
    p2.run(spark, cache=cache)
    assert p2.last_run_report["scaled"] == "materialized"  # not a stale hit
    p3 = build({"factor": 2.0})
    p3.run(spark, cache=cache)
    assert p3.last_run_report["scaled"] == "hit"


def test_unhashable_capture_never_served_from_cache(spark, sf_small, tmp_path):
    """A capture the fingerprint can only see by type name (e.g. an
    ndarray) marks the stage uncacheable: a second build with different
    contents but the same type must recompute, never hit. That holds
    when the ndarray is captured by a helper function the stage calls."""
    import numpy as np

    def direct(arr):
        def fn(s, fr):
            return fr["orders"].select(
                (F.col("o_totalprice") * float(arr[0])).alias("x")
            )

        return fn

    def via_helper(arr):
        def factor():
            return float(arr[0])

        def fn(s, fr):
            return fr["orders"].select((F.col("o_totalprice") * factor()).alias("x"))

        return fn

    def build(stage_fn):
        p = Pipeline.from_spec(
            {"stages": {"orders": {"type": "source", "table": "orders", "sf_dir": sf_small}}}
        )
        p.add_stage("scaled", stage_fn, inputs=["orders"], spec={"name": "scaled"}, materialize=True)
        return p

    for make in (direct, via_helper):
        cache = ArtifactCache(str(tmp_path / make.__name__))
        build(make(np.array([1.0]))).run(spark, cache=cache)
        p2 = build(make(np.array([2.0])))  # same type name, different contents
        p2.run(spark, cache=cache)
        assert p2.last_run_report["scaled"] != "hit", make.__name__


def test_unknown_target_raises_clear_error(spark, sf_small):
    p = Pipeline.from_spec(
        {"stages": {"orders": {"type": "source", "table": "orders", "sf_dir": sf_small}}}
    )
    with pytest.raises(ValueError, match="unknown pipeline target.*typo_stage"):
        p.run(spark, targets=["typo_stage"])


def test_cli_run_and_cache_hit(spark, sf_small, tmp_path, capsys):
    """python -m pipetree_spark run <spec> — reference CLI parity: first
    run materializes, second run hits the cache."""
    from pipetree_spark.__main__ import main

    args = [
        "run",
        "examples/pipeline.json",
        "--sf-dir",
        sf_small,
        "--cache",
        str(tmp_path),
        "--targets",
        "report",
    ]
    assert main(args) == 0
    first = capsys.readouterr()
    assert "report: 5 rows" in first.out
    assert "report: materialized" in first.err

    assert main(args) == 0
    second = capsys.readouterr()
    assert "report: 5 rows" in second.out
    assert "report: hit" in second.err


def test_stage_failure_names_the_stage(spark, sf_small):
    def boom(_spark, _inputs):
        raise ValueError("kaput")

    p = Pipeline.from_spec({"stages": {"orders": {"type": "source", "table": "orders"}}}, sf_dir=sf_small)
    p.add_stage("bad", boom, inputs=["orders"])
    with pytest.raises(RuntimeError, match="stage 'bad' failed.*kaput"):
        p.run(spark)


def test_schema_drift_rejected(spark, tmp_path):
    """A table file whose schema deviates from the pin must be refused —
    silent drift at 100 TB means silently wrong joins downstream."""
    from pipetree_spark.catalog import load_table as lt

    spark.range(5).selectExpr("CAST(id AS STRING) AS c_custkey").write.parquet(
        str(tmp_path / "customer.parquet")
    )
    with pytest.raises(ValueError, match="schema drift for table 'customer'"):
        lt(spark, str(tmp_path), "customer")


def test_end_to_end_dedup_pipeline(spark, tmp_path):
    """Layer A orchestrates Layer B: quality-filter → exact dedup →
    MinHash-LSH candidates → exact-Jaccard verify → survivors, as python
    stages over the cache. Second run reuses materialized stages."""
    from pipetree_spark.ops import text as TX
    from tests.test_ops_llm import DOCS

    def src(s, _i):
        return s.createDataFrame(DOCS, ["doc_id", "lang", "text"])

    def quality(_s, i):
        return TX.quality_features(i["docs"]).filter(F.col("n_tokens") >= 5).select(
            "doc_id", "lang", "text"
        )

    def exact(_s, i):
        return TX.exact_dedup(i["quality"])

    def survivors(_s, i):
        cands = TX.minhash_band_pairs(i["exact"], bands=8).select("id_a", "id_b")
        verified = TX.near_dup_pairs(i["exact"], threshold=0.5).join(
            cands, on=["id_a", "id_b"], how="left_semi"
        )
        drop = verified.select(F.col("id_b").alias("doc_id")).distinct()
        return i["exact"].join(drop, on="doc_id", how="left_anti")

    p = Pipeline({})
    p.add_stage("docs", src, spec={"v": 1})
    p.add_stage("quality", quality, inputs=["docs"], spec={"min_tokens": 5}, materialize=True)
    p.add_stage("exact", exact, inputs=["quality"], spec={"op": "exact_dedup"}, materialize=True)
    p.add_stage("survivors", survivors, inputs=["exact"], spec={"thr": 0.5}, materialize=True)

    cache = ArtifactCache(str(tmp_path))
    out = p.run(spark, cache=cache)
    kept = sorted(r.doc_id for r in out["survivors"].select("doc_id").collect())
    # doc2 = exact dup of 1; docs 4 and 7 = near-dups of 3 and 6 (higher id dropped)
    assert kept == [1, 3, 5, 6]

    out2 = p.run(spark, cache=cache)
    assert p.last_run_report["survivors"] == "hit"
    assert sorted(r.doc_id for r in out2["survivors"].select("doc_id").collect()) == kept


def test_cli_run_caches_by_default(spark, tmp_path, capsys):
    """CLI parity: second run of the same spec must HIT the cache for
    materialized stages (the reference's incremental-recompute UX)."""
    import json as _json

    from pipetree_spark.__main__ import main

    spec = {
        "stages": {
            "orders": {"type": "source", "table": "orders"},
            "top": {
                "type": "sql",
                "inputs": ["orders"],
                "query": "SELECT o_orderstatus, COUNT(*) AS n FROM orders GROUP BY 1",
                "materialize": True,
            },
        }
    }
    spec_path = tmp_path / "spec.json"
    spec_path.write_text(_json.dumps(spec))
    args = ["run", str(spec_path), "--sf-dir", "/root/testdata/sf0.001",
            "--cache", str(tmp_path / "artifacts"), "--targets", "top"]
    assert main(args) == 0
    first = capsys.readouterr().err
    assert "top: materialized" in first
    assert main(args) == 0
    second = capsys.readouterr().err
    assert "top: hit" in second


def test_curation_pipeline_end_to_end(spark, sf_small, tmp_path):
    """Capstone integration: the full r5 curation flow — quality +
    repetition filter → LSH near-dup → keep-best-per-cluster → mixture
    sample → sequence pack — composed as PYTHON pipeline stages through
    the orchestration + content-addressed cache layer. Asserts the flow
    shrinks monotonically, survivors pack deterministically, and a
    second run serves every materialized stage from cache."""
    from pyspark.sql import functions as F

    from pipetree_spark.ops import text as TX

    def quality(spark_, ins):
        d = ins["documents"]
        rep = TX.repetition_features(d, "text", "doc_id", ns=(2,))
        return (
            d.join(rep.select("doc_id", "dup_n2_frac"), "doc_id")
            .filter((F.length("text") >= 40) & (F.col("dup_n2_frac") < 0.5))
            .select("doc_id", "lang", "text")
        )

    def keep_best(spark_, ins):
        from pyspark.sql import Window

        from pipetree_spark.ops.graph import connected_components

        d = ins["quality"].withColumn("n_chars", F.length("text"))
        pairs = TX.near_dup_pairs_lsh(d, threshold=0.5).select("id_a", "id_b")
        cc = connected_components(pairs, src="id_a", dst="id_b")
        lab = (
            d.join(cc, d["doc_id"] == cc["node"], "left")
            .select("doc_id", "lang", "text", "n_chars",
                    F.coalesce("component", "doc_id").alias("component"))
        )
        w = Window.partitionBy("component").orderBy(F.col("n_chars").desc(), F.col("doc_id"))
        return (
            lab.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("doc_id", "lang", "text")
        )

    def sample(spark_, ins):
        d = ins["keep_best"]
        bucket = (
            F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
            .cast("long") % 1000
        )
        return d.filter(bucket < 800)

    def pack(spark_, ins):
        from pyspark.sql import Window

        d = ins["sample"]
        toks = d.select(
            "doc_id",
            F.size(TX.tokens("text")).alias("n_tokens"),
            F.pmod("doc_id", F.lit(4)).alias("shard"),
        )
        w = (
            Window.partitionBy("shard").orderBy("doc_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return toks.withColumn("fill", F.sum("n_tokens").over(w)).select(
            "doc_id", "n_tokens",
            (F.col("shard") * 1_000_000
             + F.floor((F.col("fill") - F.col("n_tokens")).cast("double") / 512.0).cast("long")
             ).alias("pack_id"),
        )

    spec = {
        "stages": {
            "documents": {"type": "source", "table": "documents"},
            "quality": {"type": "python", "fn": quality, "inputs": ["documents"], "materialize": True},
            "keep_best": {"type": "python", "fn": keep_best, "inputs": ["quality"], "materialize": True},
            "sample": {"type": "python", "fn": sample, "inputs": ["keep_best"], "materialize": True},
            "pack": {"type": "python", "fn": pack, "inputs": ["sample"], "materialize": True},
        }
    }
    cache = ArtifactCache(str(tmp_path))
    p = Pipeline.from_spec(spec, sf_dir=sf_small)
    out = p.run(spark, cache=cache)
    n_docs = out["documents"].count()
    n_q, n_k, n_s = out["quality"].count(), out["keep_best"].count(), out["sample"].count()
    packs = out["pack"].collect()
    assert n_docs >= n_q >= n_k >= n_s > 0
    assert len(packs) == n_s  # every sampled doc packed exactly once
    assert len({r.pack_id for r in packs}) < n_s  # packing actually groups
    # second run: every materialized stage is a cache hit
    p2 = Pipeline.from_spec(spec, sf_dir=sf_small)
    p2.run(spark, cache=cache)
    hits = {k: v for k, v in p2.last_run_report.items() if v == "hit"}
    assert set(hits) == {"quality", "keep_best", "sample", "pack"}


def test_quality_gate_raises_on_planted_violations(spark):
    """ops/quality.py semantics on a corpus with KNOWN defects: the
    evaluate() counts must match the planted violation counts exactly,
    and gate() must raise naming every violated rule."""
    import pytest

    from pipetree_spark.ops import quality as Q

    d = spark.createDataFrame(
        [
            (1, 10.0, "A"),
            (2, -5.0, "A"),     # range violation
            (2, 20.0, None),    # dup key + null name
            (3, 999.0, "Z"),    # range violation (hi) + unknown domain
        ],
        "k long, price double, name string",
    )
    dim = spark.createDataFrame([("A",), ("B",)], "name string")
    rules = [
        Q.not_null("name"),
        Q.in_range("price", 0, 100),
        Q.unique("k"),
        Q.foreign_key("name", dim, "name"),
        Q.satisfies("positive_key", F.col("k") > 0),
    ]
    got = {r.rule: r.n_violations for r in Q.evaluate(d, rules).collect()}
    assert got == {
        "not_null:name": 1,
        "in_range:price:[0,100]": 2,
        "unique:k": 1,           # 2 rows on key 2 → 1 excess row
        "fk:name->name": 1,      # 'Z' orphan; NULL name not counted as orphan
        "positive_key": 0,
    }
    with pytest.raises(ValueError, match="not_null:name"):
        Q.gate(d, rules)
    # a clean frame passes the gate silently
    Q.gate(dim, [Q.not_null("name"), Q.unique("name")])


def test_quality_rule_names_with_quotes_and_empty_suite(spark):
    """Rule names are literal columns, not SQL text: a single quote in
    a name (in_range's auto-name with string bounds produces one
    trivially) must not break or inject into the unpivot; an empty or
    all-unknown rule suite raises a descriptive error, not IndexError."""
    import pytest

    from pipetree_spark.ops import quality as Q

    d = spark.createDataFrame([("a",), ("b'; DROP--",)], "name string")
    rules = [
        Q.in_range("name", "a'quoted", "z'z"),  # auto-name embeds quotes
        Q.satisfies("it's positive", F.length("name") > 0),
    ]
    got = {r.rule: r.n_violations for r in Q.evaluate(d, rules).collect()}
    assert got == {"in_range:name:[a'quoted,z'z]": 1, "it's positive": 0}
    with pytest.raises(ValueError, match="at least one rule"):
        Q.evaluate(d, [])
    with pytest.raises(ValueError, match="unrecognized"):
        Q.evaluate(d, [Q.Rule("mystery", "telepathy")])


def test_op_stage_curation_pipeline_end_to_end(spark, sf_small, tmp_path):
    """The ``op`` stage type runs the shipped curation example spec
    (pipetree_spark/specs/curation_pipeline.json): JSON-declared library operators
    (LSH dedup pairs, chunking) compose with sql stages, re-running
    hits the cache wholesale, and changing an op's JSON args recomputes
    that stage (the content key covers the args)."""
    import copy
    import json
    from pathlib import Path

    spec = json.loads(
        (Path(__file__).resolve().parent.parent / "pipetree_spark/specs/curation_pipeline.json")
        .read_text()
    )
    spec["stages"]["documents"]["sf_dir"] = sf_small
    cache = ArtifactCache(str(tmp_path))

    p1 = Pipeline.from_spec(spec)
    r1 = p1.run(spark, cache=cache)
    row = r1["report"].collect()[0]
    assert row.n_in == 500 and 0 < row.n_kept <= row.n_in
    assert row.n_chunks >= row.n_kept  # every kept doc yields >= 1 chunk
    assert p1.last_run_report["dedup_pairs"] == "materialized"

    p2 = Pipeline.from_spec(copy.deepcopy(spec))
    p2.run(spark, cache=cache)
    assert p2.last_run_report["dedup_pairs"] == "hit"
    assert p2.last_run_report["chunks"] == "hit"

    # changing op args must recompute that stage and its dependents only
    # (size AND stride move together — stride <= size is enforced, r7)
    spec3 = copy.deepcopy(spec)
    spec3["stages"]["chunks"]["args"]["size"] = 32
    spec3["stages"]["chunks"]["args"]["stride"] = 24
    p3 = Pipeline.from_spec(spec3)
    p3.run(spark, cache=cache)
    assert p3.last_run_report["dedup_pairs"] == "hit"
    assert p3.last_run_report["chunks"] == "materialized"

    # unknown ops fail loudly at spec-build time
    bad = copy.deepcopy(spec)
    bad["stages"]["chunks"]["op"] = "no_such_op"
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown op"):
        Pipeline.from_spec(bad)


def test_op_stage_args_are_checked_at_from_spec():
    """A misspelled op kwarg fails when the spec is built, naming the
    stage, the op and the unknown key, not at run after the upstream
    stages computed. Every shipped example spec still builds."""
    import copy
    import json
    from pathlib import Path

    examples = sorted((Path(__file__).resolve().parent.parent / "examples").glob("*.json"))
    specs = {p.name: json.loads(p.read_text()) for p in examples}
    for spec in specs.values():
        Pipeline.from_spec(spec)
    bad = copy.deepcopy(specs["embedding_dedup_pipeline.json"])
    bad["stages"]["dedup"]["args"]["treshold"] = bad["stages"]["dedup"]["args"].pop("threshold")
    with pytest.raises(ValueError, match=r"'dedup'.*'semantic_dedup_ann'.*\['treshold'\]"):
        Pipeline.from_spec(bad)


def test_shipped_embedding_dedup_spec_runs(spark, sf_small, tmp_path):
    """The shipped embedding-dedup example spec
    (examples/embedding_dedup_pipeline.json) runs end-to-end through
    the cache layer: the report's keep-count equals the dedup stage's
    is_kept total, and a re-run hits the cache wholesale."""
    import json
    from pathlib import Path

    spec = json.loads(
        (Path(__file__).resolve().parent.parent / "examples/embedding_dedup_pipeline.json")
        .read_text()
    )
    cache = ArtifactCache(str(tmp_path))
    p1 = Pipeline.from_spec(spec, sf_dir=sf_small)
    r1 = p1.run(spark, cache=cache)
    row = r1["report"].collect()[0]
    assert 0 < row.n_kept <= row.n_in
    assert row.n_components == row.n_kept  # one keeper per component
    p2 = Pipeline.from_spec(spec, sf_dir=sf_small)
    p2.run(spark, cache=cache)
    assert p2.last_run_report["dedup"] == "hit"
    assert p2.last_run_report["keep"] == "hit"


def test_shipped_ann_search_spec_runs(spark, sf_small, tmp_path):
    """The shipped ANN-search example spec
    (examples/ann_search_pipeline.json) drives the two-frame op stage
    (r8): pq_ivf_ann over (queries, corpus) wired positionally from
    spec order. The ann stage must equal the declared query's result,
    and a re-run must hit the cache."""
    import json
    from pathlib import Path

    spec = json.loads(
        (Path(__file__).resolve().parent.parent / "examples/ann_search_pipeline.json")
        .read_text()
    )
    cache = ArtifactCache(str(tmp_path))
    p1 = Pipeline.from_spec(spec, sf_dir=sf_small)
    r1 = p1.run(spark, cache=cache)
    got = {
        (r.query_id, r.vec_id, r.cos_sim, r.rnk) for r in r1["ann"].collect()
    }
    from pipetree_spark.queries import load_registry

    want = {
        (r.query_id, r.vec_id, r.cos_sim, r.rnk)
        for r in load_registry()["q_vec_ann_pq_ivf"].fn(spark, sf_small).collect()
    }
    assert got == want and len(got) == 25
    rep = {r.query_id: r.n_hits for r in r1["report"].collect()}
    assert rep == {i: 5 for i in range(5)}
    p2 = Pipeline.from_spec(spec, sf_dir=sf_small)
    p2.run(spark, cache=cache)
    assert p2.last_run_report["ann"] == "hit"


def test_op_stage_arity_is_enforced(spark, sf_small):
    """A two-frame op declared with one input (or vice versa) must
    fail at spec-build time with the op's pinned arity in the
    message, not at run time with a confusing TypeError."""
    import pytest as _pytest

    bad = {
        "stages": {
            "embeddings": {"type": "source", "table": "embeddings"},
            "ann": {
                "type": "op",
                "op": "pq_ivf_ann",
                "inputs": ["embeddings"],
            },
        }
    }
    with _pytest.raises(ValueError, match="exactly 2"):
        Pipeline.from_spec(bad, sf_dir=sf_small)


def test_semantic_dedup_ann_is_json_declarable(spark, sf_small):
    """The r7 vector-space curation ops route through the same JSON
    ``op`` stage type as the text dedups: a spec-declared
    semantic_dedup_ann stage must emit exactly the declared query's
    audit table (same engine, spec-driven)."""
    spec = {
        "stages": {
            "embeddings": {"type": "source", "table": "embeddings"},
            "dedup": {
                "type": "op",
                "op": "semantic_dedup_ann",
                "inputs": ["embeddings"],
                "args": {"threshold": 0.35, "n_clusters": 8, "n_probe": 3},
            },
        }
    }
    p = Pipeline.from_spec(spec, sf_dir=sf_small)
    got = {(r.vec_id, r.component, r.is_kept) for r in p.run(spark)["dedup"].collect()}
    from pipetree_spark.queries import load_registry

    want = {
        (r.vec_id, r.component, r.is_kept)
        for r in load_registry()["q_dedup_semantic_ann"].fn(spark, sf_small).collect()
    }
    assert got == want and len(got) > 0


def test_r9_ops_are_json_declarable(spark, sf_small):
    """The r9 surface routes through the JSON ``op`` stage like every
    other library operator: a bloom_build → bloom_prefilter chain (two
    frames) must keep exactly the member rows (zero FP at this size is
    not guaranteed, so verify by semi join), and a pagerank stage over
    a sql-derived edge list must match the declared query's engine."""
    spec = {
        "stages": {
            "documents": {"type": "source", "table": "documents"},
            "members": {
                "type": "sql",
                "inputs": ["documents"],
                "query": "SELECT DISTINCT lang AS g FROM documents",
            },
            "probes": {
                "type": "sql",
                "inputs": ["documents"],
                "query": "SELECT DISTINCT source AS g FROM documents "
                       "UNION SELECT DISTINCT lang FROM documents",
            },
            "bitmap": {
                "type": "op",
                "op": "bloom_build",
                "inputs": ["members"],
                "args": {"col": "g", "num_bits": 1024, "num_hashes": 3},
            },
            "kept": {
                "type": "op",
                "op": "bloom_prefilter",
                "inputs": ["probes", "bitmap"],
                "args": {"col": "g", "num_bits": 1024, "num_hashes": 3},
            },
        }
    }
    p = Pipeline.from_spec(spec, sf_dir=sf_small)
    out = p.run(spark)
    kept = {r.g for r in out["kept"].collect()}
    members = {r.g for r in out["members"].collect()}
    assert members <= kept  # no false negatives, ever

    pr_spec = {
        "stages": {
            "orders": {"type": "source", "table": "orders"},
            "lineitem": {"type": "source", "table": "lineitem"},
            "edges": {
                "type": "sql",
                "inputs": ["orders", "lineitem"],
                "query": "SELECT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst "
                       "FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey",
            },
            "rank": {
                "type": "op",
                "op": "pagerank_exact",
                "inputs": ["edges"],
                "args": {"iters": 3},
            },
        }
    }
    from pipetree_spark.queries import load_registry

    got = {(r.node, r.rank) for r in Pipeline.from_spec(pr_spec, sf_dir=sf_small).run(spark)["rank"].collect()}
    want = {(r.node, r.rank) for r in load_registry()["q_graph_pagerank"].fn(spark, sf_small).collect()}
    assert got == want and len(got) > 0


def test_shipped_multimodal_spec_runs_end_to_end(spark, sf_small, tmp_path):
    """The user-facing examples/multimodal_pipeline.json (PNG generate →
    stdlib decode → resize → features → report) runs end-to-end through
    from_spec with a cache, and the second run serves the materialized
    decode stage from cache."""
    import json
    from pathlib import Path

    spec = json.loads(
        (Path(__file__).resolve().parent.parent / "examples/multimodal_pipeline.json").read_text()
    )
    cache = ArtifactCache(str(tmp_path))
    p = Pipeline.from_spec(spec, sf_dir=sf_small)
    out = p.run(spark, cache=cache)
    rep = out["report"].collect()[0]
    assert rep.n_images == 32 and 0 < rep.min_std <= rep.max_std
    p2 = Pipeline.from_spec(spec, sf_dir=sf_small)
    p2.run(spark, cache=cache)
    assert p2.last_run_report["decoded"] == "hit"


def test_multimodal_png_pipeline_is_json_declarable(spark, sf_small):
    """The r10 multimodal stages route through the JSON ``op`` stage
    type: generate real PNG payloads → stdlib decode to raw-RGB8 →
    resize → channel features, all declared in one spec — and the
    spec run must equal the directly-composed stage chain row for
    row (same codec, same plumbing, spec-driven)."""
    from pipetree_spark.ops import mm as MM

    spec = {
        "stages": {
            "documents": {"type": "source", "table": "documents"},
            "docs": {
                "type": "sql",
                "inputs": ["documents"],
                "query": "SELECT doc_id, text FROM documents WHERE doc_id < 8",
            },
            "pngs": {
                "type": "op",
                "op": "make_png_payload",
                "inputs": ["docs"],
                "args": {"width": 12, "height": 8},
            },
            "raw": {"type": "op", "op": "image_decode", "inputs": ["pngs"]},
            "thumbs": {
                "type": "op",
                "op": "rgb_resize",
                "inputs": ["raw"],
                "args": {"out_w": 6, "out_h": 4},
            },
            "features": {"type": "op", "op": "rgb_features", "inputs": ["thumbs"]},
        }
    }
    out = Pipeline.from_spec(spec, sf_dir=sf_small).run(spark)
    got = {tuple(r) for r in out["features"].collect()}
    assert len(got) > 0 and all(r[1] == 6 and r[2] == 4 for r in got)

    docs = out["docs"]
    direct = MM.rgb_feature_stage(
        MM.rgb_resize_stage(
            MM.image_decode_stage(MM.make_png_payload(docs, width=12, height=8)),
            out_w=6,
            out_h=4,
        )
    )
    assert got == {tuple(r) for r in direct.collect()}


def test_shipped_video_audio_spec_runs_end_to_end(spark, sf_small, tmp_path):
    """The r11 examples/video_audio_pipeline.json (flat-frame MJPEG-AVI
    generate → decode-after-sample → per-frame int stats, plus stereo
    FLAC generate → magic-dispatch audio decode → waveform int stats,
    joined in one report) runs end-to-end through from_spec with a
    cache, and the second run serves the materialized frame-sample
    stage from cache."""
    import json
    from pathlib import Path

    spec = json.loads(
        (Path(__file__).resolve().parent.parent / "examples/video_audio_pipeline.json").read_text()
    )
    cache = ArtifactCache(str(tmp_path))
    p = Pipeline.from_spec(spec, sf_dir=sf_small)
    out = p.run(spark, cache=cache)
    rep = out["report"].collect()[0]
    # 16 docs x ceil(12/3) sampled frames; flat 16x16 frames bound the
    # per-frame energy by 256 * 3 * 255^2
    assert rep.n_sampled_frames == 64 and rep.n_audio_docs == 16
    assert 0 < rep.video_energy <= 64 * 256 * 3 * 255 * 255
    assert rep.audio_energy > 0
    p2 = Pipeline.from_spec(spec, sf_dir=sf_small)
    p2.run(spark, cache=cache)
    assert p2.last_run_report["frames"] == "hit"


def test_r12_ops_are_json_declarable(spark, sf_small):
    """The r12 surface routes through the JSON ``op`` stage like every
    other library operator: the crawl front-end (make_warc_payload →
    warc_extract → sql status filter → html_extract) runs from one
    spec and matches the declared q_pipe_crawl_e2e engine; the
    reference-split classifiers expose their split as spec-able
    (model_mod, model_rem) ints."""
    spec = {
        "stages": {
            "documents": {"type": "source", "table": "documents"},
            "heads": {
                "type": "sql",
                "inputs": ["documents"],
                "query": "SELECT doc_id, text FROM documents WHERE doc_id < 64",
            },
            "archives": {"type": "op", "op": "make_warc_payload", "inputs": ["heads"]},
            "captures": {"type": "op", "op": "warc_extract", "inputs": ["archives"]},
            "ok": {
                "type": "sql",
                "inputs": ["captures"],
                "query": "SELECT doc_id, body_html AS html FROM captures WHERE http_status = 200",
            },
            "extracted": {
                "type": "op",
                "op": "html_extract",
                "inputs": ["ok"],
                "args": {"html_col": "html"},
            },
        }
    }
    p = Pipeline.from_spec(spec, sf_dir=sf_small)
    got = {tuple(r) for r in p.run(spark)["extracted"].collect()}
    from pipetree_spark.queries import load_registry

    want = {
        tuple(r)
        for r in load_registry()["q_pipe_crawl_e2e"].fn(spark, sf_small).collect()
    }
    assert got == want and len(got) > 0

    nb_spec = {
        "stages": {
            "documents": {"type": "source", "table": "documents"},
            "routed": {
                "type": "op",
                "op": "nb_classify",
                "inputs": ["documents"],
                "args": {"model_mod": 2, "model_rem": 0},
            },
        }
    }
    p2 = Pipeline.from_spec(nb_spec, sf_dir=sf_small)
    got2 = {tuple(r) for r in p2.run(spark)["routed"].collect()}
    want2 = {
        tuple(r)
        for r in load_registry()["q_text_nb_classify"].fn(spark, sf_small).collect()
    }
    assert got2 == want2 and len(got2) > 0


def test_crawl_pipeline_spec_end_to_end(spark, sf_small, tmp_path):
    """r13: the crawl front-end as a SHIPPED JSON spec — WARC synth →
    record walk → status gate → HTML extraction → exact dedup → the
    r13 unigram encode, composed purely from registry ops + sql
    stages; re-running hits the cache wholesale."""
    import copy
    import json
    from pathlib import Path

    spec = json.loads(
        (Path(__file__).resolve().parent.parent / "examples/crawl_pipeline.json")
        .read_text()
    )
    spec["stages"]["documents"]["sf_dir"] = sf_small
    cache = ArtifactCache(str(tmp_path))

    p1 = Pipeline.from_spec(copy.deepcopy(spec))
    r1 = p1.run(spark, cache=cache)
    row = r1["report"].collect()[0]
    assert row.n_captures == 64
    assert 0 < row.n_ok < 64                 # 404 captures really gated out
    assert 0 < row.n_unique <= row.n_ok
    assert row.n_pieces > 0 and row.n_oov == 0
    assert p1.last_run_report["captures"] == "materialized"

    p2 = Pipeline.from_spec(copy.deepcopy(spec))
    p2.run(spark, cache=cache)
    assert p2.last_run_report["captures"] == "hit"
    assert p2.last_run_report["content"] == "hit"


def test_retrieval_fusion_and_line_dedup_spec(spark, sf_small, tmp_path):
    """r13: the new curation ops compose as pure-JSON spec stages —
    line-frequency boilerplate stats plus a two-list RRF fusion
    (two single-term BM25 rankings stand in for lexical+semantic;
    the fuse stage is list-agnostic)."""
    spec = {
        "stages": {
            "documents": {"type": "source", "table": "documents", "sf_dir": sf_small},
            "boiler": {
                "type": "op", "op": "line_dedup_stats",
                "inputs": ["documents"], "args": {"chunk": 6},
            },
            "lex_a": {
                "type": "op", "op": "bm25_scores",
                "inputs": ["documents"], "args": {"terms": ["spark"]},
            },
            "lex_b": {
                "type": "op", "op": "bm25_scores",
                "inputs": ["documents"], "args": {"terms": ["table"]},
            },
            "rank_a": {
                "type": "op", "op": "topn_ranked", "inputs": ["lex_a"],
                "args": {"score_col": "score", "key_col": "doc_id", "n": 50},
            },
            "rank_b": {
                "type": "op", "op": "topn_ranked", "inputs": ["lex_b"],
                "args": {"score_col": "score", "key_col": "doc_id", "n": 50},
            },
            "fused": {
                "type": "op", "op": "rrf_fuse2", "inputs": ["rank_a", "rank_b"],
                "args": {"key_col": "doc_id", "name_a": "r_spark",
                         "name_b": "r_table", "topk": 10},
            },
        }
    }
    out = Pipeline.from_spec(spec).run(spark)
    docs_n = out["documents"].count()
    boiler = out["boiler"].collect()
    assert len(boiler) == docs_n
    assert all(0 <= r.n_kept_words <= r.n_words for r in boiler)
    assert all(r.n_dup_lines <= r.n_lines for r in boiler)
    fused = out["fused"].orderBy("rnk").collect()
    assert [r.rnk for r in fused] == list(range(1, len(fused) + 1))
    assert len(fused) == 10
    scores = [r.rrf_score for r in fused]
    assert scores == sorted(scores, reverse=True)
    # every fused score decomposes into the definition
    for r in fused:
        want = (1.0 / (60 + r.r_spark) if r.r_spark is not None else 0.0) + (
            1.0 / (60 + r.r_table) if r.r_table is not None else 0.0
        )
        assert r.rrf_score == want


def test_hybrid_search_example_spec_runs_and_caches(spark, sf_small, tmp_path):
    """The shipped hybrid-search JSON spec is loadable and cache-aware
    (the materialized fusion stage hits on re-run)."""
    import copy
    import json
    from pathlib import Path

    spec = json.loads(
        (Path(__file__).resolve().parent.parent / "examples/hybrid_search_pipeline.json")
        .read_text()
    )
    spec["stages"]["documents"]["sf_dir"] = sf_small
    spec["stages"]["embeddings"]["sf_dir"] = sf_small
    cache = ArtifactCache(str(tmp_path))
    p1 = Pipeline.from_spec(copy.deepcopy(spec))
    out = p1.run(spark, cache=cache)
    fused = out["fused"].orderBy("rnk").collect()
    assert 0 < len(fused) <= 20
    assert p1.last_run_report["fused"] == "materialized"
    p2 = Pipeline.from_spec(copy.deepcopy(spec))
    p2.run(spark, cache=cache)
    assert p2.last_run_report["fused"] == "hit"
    assert p2.last_run_report["boilerplate_report"] == "hit"


def test_cjk_curation_pipeline_example(spark, sf_small, tmp_path):
    """pipetree_spark/specs/cjk_curation_pipeline.json: the r14 CJK surface
    composed through the spec walker — plant a mixed-script corpus in
    SQL, route it with the script_profile op, segment it with the
    segment_text stage, and report per-script doc/unit counts. Each
    residue class must route to its script and segmented unit counts
    must exceed naive word counts on CJK rows."""
    import json
    from pathlib import Path

    spec = json.loads(
        (Path(__file__).resolve().parent.parent
         / "pipetree_spark/specs/cjk_curation_pipeline.json").read_text()
    )
    spec["stages"]["documents"]["sf_dir"] = sf_small
    cache = ArtifactCache(str(tmp_path))
    r = Pipeline.from_spec(spec).run(spark, cache=cache)
    rep = {row.script_lang: row for row in r["report"].collect()}
    assert set(rep) == {"zh", "ja", "ko", "th", "latin"}
    assert all(v.n_docs == 100 for v in rep.values())  # 500 docs, %5
    # per-char segmentation: every CJK class averages more units per
    # doc than the latin control (the inserts are 12-18 codepoints)
    latin_avg = rep["latin"].sum_units / rep["latin"].n_docs
    for lang in ("zh", "ja", "ko", "th"):
        assert rep[lang].sum_units / rep[lang].n_docs > latin_avg + 8
    # r15: chunk_documents(segmenter='cjk_chars') inside the spec —
    # CJK rows split into multiple 8-unit windows, latin rows fit one
    latin_chunk_avg = rep["latin"].sum_chunks / rep["latin"].n_docs
    for lang in ("zh", "ja", "ko", "th"):
        assert rep[lang].sum_chunks / rep[lang].n_docs > latin_chunk_avg


def test_cjk_spec_plant_matches_oracle_constant():
    """Drift guard: q_pipe_cjk_curation's oracle renders its plant from
    _CJK_PIPE_INSERTS; the JSON spec's SQL plant must carry the same
    literals in the same residue order."""
    import json
    from importlib import resources

    from pipetree_spark.queries.pipelines import _CJK_PIPE_INSERTS

    spec = json.loads(
        resources.files("pipetree_spark")
        .joinpath("specs/cjk_curation_pipeline.json")
        .read_text()
    )
    q = spec["stages"]["planted"]["query"]
    pos = [q.find(s) for s in _CJK_PIPE_INSERTS]
    assert all(p >= 0 for p in pos), "spec plant is missing an insert"
    assert pos == sorted(pos), "spec plant order diverged from the oracle"


def test_curation_full_spec_matches_constants():
    """Drift guard for q_pipe_curation_full: the static spec JSON must
    carry the SAME planted headers, body regex, blocklist tail/terms
    and robots rules the oracle renders from the Python constants."""
    import json
    from importlib import resources

    from pipetree_spark.queries.llm_ops import _NL_HEADERS, _robots_rules
    from pipetree_spark.queries.pipelines import (
        _FULL_BLTAIL,
        _FULL_BLTERMS,
        _FULL_BODY_RE,
    )

    spec = json.loads(
        resources.files("pipetree_spark")
        .joinpath("specs/curation_full_pipeline.json")
        .read_text()
    )
    plant = spec["stages"]["planted"]["query"]
    for h in _NL_HEADERS:
        assert h in plant or h == ""
    assert _FULL_BODY_RE in plant
    assert _FULL_BLTAIL in plant
    assert spec["stages"]["bl"]["args"]["terms"] == list(_FULL_BLTERMS)
    assert spec["stages"]["robots"]["args"]["rules"] == [
        list(r) for r in _robots_rules()
    ]


def test_curation_full_pipeline_example(spark, sf_small, tmp_path):
    """pipetree_spark/specs/curation_full_pipeline.json: the C4/CCNet/Gopher
    composite through the spec walker — funnel counts are monotone
    through the gate chain, boilerplate lines are found and cut,
    blocklisted docs are dropped, and a SECOND run serves every
    materialized stage from the content-keyed cache, each loaded with
    the schema Spark infers from its parquet footers."""
    import json
    from pathlib import Path

    spec = json.loads(
        (Path(__file__).resolve().parent.parent
         / "pipetree_spark/specs/curation_full_pipeline.json").read_text()
    )
    spec["stages"]["documents"]["sf_dir"] = sf_small
    cache = ArtifactCache(str(tmp_path))
    p = Pipeline.from_spec(spec, sf_dir=sf_small)
    row = p.run(spark, cache=cache)["report"].collect()[0]
    assert row.n_in >= row.n_robots_ok >= row.n_blocklist_ok >= row.n_routed
    assert row.n_quality_ok >= row.n_exact_keep >= row.n_near_keep
    assert row.n_near_keep >= row.n_rep_ok >= row.n_cap_keep >= row.n_final
    # each planted gate class actually fires at sf0.001
    assert row.n_robots_ok < row.n_in          # some disallowed paths
    assert row.n_blocklist_ok < row.n_robots_ok  # the %7==3 tail class
    assert row.n_boiler_lines > 0              # shared headers were cut
    assert row.n_final > 0 and row.sum_tokens_final > 0
    # skip-if-cached: a second walk hits every materialized stage
    p2 = Pipeline.from_spec(spec, sf_dir=sf_small)
    row2 = p2.run(spark, cache=cache)["report"].collect()[0]
    assert tuple(row2) == tuple(row)
    hits = [k for k, v in p2.last_run_report.items() if v == "hit"]
    assert "near_keep" in hits and "budget" in hits and "planted" in hits
    # every materialized stage loads with the schema Spark would infer
    materialized = {n for n, st in spec["stages"].items() if st.get("materialize")}
    assert {d.name for d in tmp_path.iterdir()} == materialized
    for stage in sorted(materialized):
        (key,) = [d.name for d in (tmp_path / stage).iterdir()]
        inferred = spark.read.parquet(cache.path(stage, key)).schema
        assert cache.load(spark, stage, key).schema == inferred, stage
