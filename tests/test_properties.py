"""Property-based Spark↔DuckDB scalar dialect parity (SURVEY §5.3.3).

Hypothesis generates scalar batches; each batch becomes one DataFrame
evaluated by both engines over identical expressions. Catches dialect
drift of the kind documented in SURVEY §2.8 (day-of-week conventions,
rounding modes, regex semantics) before it reaches a declared oracle.
"""

from __future__ import annotations

import datetime as dt
import math

import duckdb
import pandas as pd
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

SETTINGS = dict(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

finite_doubles = st.floats(
    min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
).filter(lambda x: abs(round(x, 2) * 100 - x * 100) > 1e-6 or x == round(x, 2))
# ^ exclude exact .5-at-2dp boundaries, where HALF_UP (Spark) and
#   HALF_EVEN (DuckDB) legitimately differ — the documented policy is to
#   keep such literals out of declared queries, not to reconcile them.

words = st.text(alphabet="abcdefghij XYZ012", min_size=0, max_size=20)

dates = st.dates(min_value=dt.date(1990, 1, 1), max_value=dt.date(2035, 12, 28))


def both(spark, pdf: pd.DataFrame, spark_cols: dict, duck_sql: str):
    """Evaluate spark Column exprs and a DuckDB SELECT over the same
    one-table input; return (spark_rows, duck_rows) sorted."""
    sdf = spark.createDataFrame(pdf)
    got = (
        sdf.select(*[c.alias(n) for n, c in spark_cols.items()])
        .toPandas()
        .sort_values(list(spark_cols))
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    con.register("t", pdf)
    want = con.execute(duck_sql).fetchdf().sort_values(list(spark_cols)).reset_index(drop=True)
    return got, want


def assert_frames_equal(got, want):
    assert list(got.columns) == list(want.columns)

    def norm(v):
        if isinstance(v, pd.Timestamp):
            return v.date()  # duckdb DATE → pandas Timestamp artifact
        if isinstance(v, dt.datetime):
            return v.date() if (v.hour, v.minute, v.second) == (0, 0, 0) else v
        return v

    for c in got.columns:
        for g, w in zip(got[c], want[c]):
            g, w = norm(g), norm(w)
            if isinstance(g, float) and isinstance(w, float):
                assert (math.isnan(g) and math.isnan(w)) or g == w, (c, g, w)
            else:
                assert g == w, (c, g, w)


@settings(**SETTINGS)
@given(st.lists(finite_doubles, min_size=1, max_size=50))
def test_math_functions_parity(spark, xs):
    pdf = pd.DataFrame({"x": xs})
    got, want = both(
        spark,
        pdf,
        {
            "r2": F.round(F.col("x"), 2),
            "fl": F.floor(F.col("x")).cast("double"),
            "ce": F.ceil(F.col("x")).cast("double"),
            "ab": F.abs(F.col("x")),
            "sq": F.sqrt(F.abs(F.col("x"))),  # sqrt is IEEE correctly-rounded → raw
            # transcendentals drift by 1 ulp across libm implementations
            # (property-test finding) → the declared-query policy is round(4)
            "ex": F.round(F.exp(F.col("x") / 1e6), 4),
            "sg": F.signum(F.col("x")),
        },
        """SELECT ROUND(x, 2) AS r2, CAST(FLOOR(x) AS DOUBLE) AS fl,
                  CAST(CEIL(x) AS DOUBLE) AS ce, ABS(x) AS ab,
                  SQRT(ABS(x)) AS sq, ROUND(EXP(x / 1e6), 4) AS ex, SIGN(x) AS sg
           FROM t""",
    )
    assert_frames_equal(got, want)


@settings(**SETTINGS)
@given(st.lists(words, min_size=1, max_size=50))
def test_string_functions_parity(spark, ws):
    pdf = pd.DataFrame({"s": ws})
    got, want = both(
        spark,
        pdf,
        {
            "up": F.upper(F.col("s")),
            "lo": F.lower(F.col("s")),
            "tr": F.trim(F.col("s")),
            "ln": F.length(F.col("s")).cast("long"),
            "sub": F.substring(F.col("s"), 2, 3),
            "rep": F.replace(F.col("s"), F.lit("a"), F.lit("_")),
            "rx": F.regexp_replace(F.col("s"), "[0-9]+", "#"),
            "lp": F.lpad(F.col("s"), 10, "*"),
        },
        """SELECT UPPER(s) AS up, LOWER(s) AS lo, TRIM(s) AS tr,
                  CAST(LENGTH(s) AS BIGINT) AS ln, SUBSTRING(s, 2, 3) AS sub,
                  REPLACE(s, 'a', '_') AS rep,
                  REGEXP_REPLACE(s, '[0-9]+', '#', 'g') AS rx,
                  LPAD(s, 10, '*') AS lp
           FROM t""",
    )
    assert_frames_equal(got, want)


@settings(**SETTINGS)
@given(st.lists(dates, min_size=1, max_size=50))
def test_date_functions_parity(spark, ds):
    """Pins the documented day-of-week convention: Spark weekday()+1 ==
    DuckDB isodow (Monday=1), the one normalization SURVEY §2.8 requires."""
    pdf = pd.DataFrame({"d": ds})
    got, want = both(
        spark,
        pdf,
        {
            "y": F.year("d").cast("long"),
            "m": F.month("d").cast("long"),
            "dd": F.dayofmonth("d").cast("long"),
            "dow": (F.weekday("d") + 1).cast("long"),
            "tr": F.date_trunc("month", "d").cast("date"),
            "ad": F.date_add("d", 40),
            "ld": F.last_day("d"),
        },
        """SELECT CAST(YEAR(d) AS BIGINT) AS y, CAST(MONTH(d) AS BIGINT) AS m,
                  CAST(DAY(d) AS BIGINT) AS dd,
                  CAST(date_part('isodow', d) AS BIGINT) AS dow,
                  CAST(date_trunc('month', d) AS DATE) AS tr,
                  CAST(d + INTERVAL 40 DAY AS DATE) AS ad,
                  last_day(d) AS ld
           FROM t""",
    )
    assert_frames_equal(got, want)


@settings(**SETTINGS)
@given(st.lists(st.tuples(finite_doubles, finite_doubles), min_size=1, max_size=30))
def test_exact_sum_order_independence(spark, pairs):
    """lsum over any permutation of rows gives bit-identical doubles —
    the property the whole oracle-hash strategy rests on."""
    from pipetree_spark.exact import lsum

    xs = [round(a, 2) for a, _ in pairs]
    pdf = pd.DataFrame({"x": xs})
    fwd = spark.createDataFrame(pdf).agg(lsum("x").alias("s")).collect()[0].s
    rev = spark.createDataFrame(pdf[::-1]).agg(lsum("x").alias("s")).collect()[0].s
    assert fwd == rev
    con = duckdb.connect()
    con.register("t", pdf)
    duck = con.execute(
        "SELECT CAST(SUM(CAST(ROUND(x*100) AS BIGINT)) AS DOUBLE)/100 FROM t"
    ).fetchone()[0]
    assert fwd == duck


# --- r5: random-corpus differential tests of whole op families ---

doc_texts = st.lists(
    st.lists(st.sampled_from(
        ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta", "iota", "kappa"]
    ), min_size=1, max_size=12).map(" ".join),
    min_size=2, max_size=8,
)


@settings(**SETTINGS)
@given(doc_texts)
def test_minhash_signatures_random_corpora_match_duckdb(spark, texts):
    """The portable MinHash signature — shingling, 60-bit md5-prefix
    base hash, 16 universal-hash mins — must match the DuckDB twin
    bit-for-bit on RANDOM corpora, not just the driver testdata (the
    whole-op differential analog of the scalar dialect tests above)."""
    from pipetree_spark.ops import text as TX
    from pipetree_spark.queries.llm_ops import _SHINGLES_SQL, _minhash_sql

    pdf = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    sdf = spark.createDataFrame(pdf)
    got = {
        r.doc_id: r.sig
        for r in TX.minhash_signatures(sdf, "text", "doc_id", 3, 16)
        .select(
            "doc_id",
            F.array_join(F.transform("minhash", lambda c: c.cast("string")), ",").alias("sig"),
        )
        .collect()
    }
    con = duckdb.connect()
    con.register("t", pdf)
    mh = ", ".join(f"CAST({m} AS VARCHAR)" for m in _minhash_sql(16))
    want = dict(
        con.execute(
            f"""WITH sh AS (
                  SELECT doc_id, {_SHINGLES_SQL} AS s
                  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM t))
                SELECT doc_id, concat_ws(',', {mh}) FROM sh"""
        ).fetchall()
    )
    assert got == want


@settings(**SETTINGS)
@given(st.lists(st.integers(min_value=1, max_value=900), min_size=2, max_size=40))
def test_pack_arithmetic_random_token_counts_match_duckdb(spark, counts):
    """Sequence-packing arithmetic (sharded cumulative fill → integer
    pack id) must agree with DuckDB on random token-count sequences —
    pins pmod/%, floor, window-cumsum frame semantics, and the 2⁴⁰
    shard namespace across engines — driving the REAL op
    (ops.text.pack_sequences), not an inline re-derivation."""
    from pipetree_spark.ops import text as TX

    pdf = pd.DataFrame({"doc_id": range(len(counts)), "n_tokens": counts})
    sdf = spark.createDataFrame(pdf)
    got = {
        r.doc_id: r.pack_id
        for r in TX.pack_sequences(sdf, budget=256, num_shards=4).collect()
    }
    con = duckdb.connect()
    con.register("t", pdf)
    want = dict(
        con.execute(
            f"""WITH filled AS (
                 SELECT doc_id, doc_id % 4 AS shard, n_tokens,
                        SUM(n_tokens) OVER (PARTITION BY doc_id % 4 ORDER BY doc_id
                                            ROWS UNBOUNDED PRECEDING) AS fill
                 FROM t)
               SELECT doc_id,
                      shard * {TX.PACK_SHARD_STRIDE} + CAST(FLOOR(CAST(fill - n_tokens AS DOUBLE) / 256.0) AS BIGINT)
               FROM filled"""
        ).fetchall()
    )
    assert got == want


@settings(**SETTINGS)
@given(st.lists(st.integers(min_value=1, max_value=150), min_size=1, max_size=12))
def test_chunk_boundaries_random_lengths_cover_every_token(spark, lens):
    """chunk_documents on random document lengths: the chunk count
    formula, start arithmetic, last-chunk clipping, and the coverage
    property (every token position appears in ≥1 chunk; consecutive
    chunks overlap by exactly size-stride except the clipped last)
    against a pure-Python reference."""
    from pipetree_spark.ops import text as TX

    size, stride = 10, 7
    pdf = pd.DataFrame(
        {
            "doc_id": range(len(lens)),
            "text": [" ".join(f"w{j}" for j in range(n)) for n in lens],
        }
    )
    out = TX.chunk_documents(spark.createDataFrame(pdf), size=size, stride=stride).collect()
    by_doc: dict[int, list] = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    for did, n in zip(range(len(lens)), lens):
        chunks = sorted(by_doc[did], key=lambda r: r.chunk_id)
        want_chunks = 1 if n <= size else 1 + (n - size + stride - 1) // stride
        assert len(chunks) == want_chunks
        covered: set[int] = set()
        for i, r in enumerate(chunks):
            assert r.chunk_id == i
            assert r.chunk_start == i * stride + 1
            want_len = min(size, n - i * stride)
            assert r.chunk_n_tokens == want_len
            assert r.chunk_text == " ".join(
                f"w{j}" for j in range(i * stride, i * stride + want_len)
            )
            covered |= set(range(r.chunk_start, r.chunk_start + r.chunk_n_tokens))
        assert covered == set(range(1, n + 1))


@settings(**SETTINGS)
@given(st.sets(st.integers(min_value=0, max_value=10**12), min_size=1, max_size=30))
def test_shuffle_shards_random_keys_bijective_and_engine_exact(spark, keys):
    """shuffle_shards on arbitrary key sets: assignment is a bijection
    onto (shard, 1..count) slots and the md5-rank hash matches the
    DuckDB twin exactly (the conv/md5/substr portability trick)."""
    from pipetree_spark.ops import text as TX

    pdf = pd.DataFrame({"doc_id": sorted(keys)})
    out = TX.shuffle_shards(spark.createDataFrame(pdf), num_shards=4, seed="pbt").collect()
    assert len(out) == len(keys)
    slots = {(r.shard, r.pos) for r in out}
    assert len(slots) == len(keys)
    per_shard: dict[int, list] = {}
    for r in out:
        per_shard.setdefault(r.shard, []).append(r.pos)
    for poss in per_shard.values():
        assert sorted(poss) == list(range(1, len(poss) + 1))
    con = duckdb.connect()
    con.register("t", pdf)
    want = dict(
        con.execute(
            """WITH h AS (
                 SELECT doc_id,
                        CAST(concat('0x', substr(md5(concat('pbt|', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) AS hh
                 FROM t)
               SELECT doc_id, row_number() OVER (PARTITION BY hh % 4 ORDER BY hh, doc_id)
               FROM h"""
        ).fetchall()
    )
    assert {r.doc_id: r.pos for r in out} == want


@settings(**SETTINGS)
@given(doc_texts)
def test_repetition_features_random_corpora_match_duckdb(spark, texts):
    """word_ngrams (WITH multiplicity) and the derived repetition
    fractions must match the DuckDB _ngram_sql twin on random corpora —
    covers the n-gram enumeration order-independence, the count
    aggregation, and the exact integer-quotient fractions."""
    from pipetree_spark.ops import text as TX
    from pipetree_spark.queries.llm_ops import _ngram_sql

    pdf = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    sdf = spark.createDataFrame(pdf)
    got = {
        r.doc_id: (r.n2_total, r.n2_distinct, r.dup_n2_frac, r.top_n2_frac)
        for r in TX.repetition_features(sdf, "text", "doc_id", ns=(2,)).collect()
    }
    con = duckdb.connect()
    con.register("t", pdf)
    want = {
        r[0]: (r[1], r[2], r[3], r[4])
        for r in con.execute(
            f"""WITH g AS (
                  SELECT doc_id, UNNEST({_ngram_sql(2)}) AS gr
                  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM t)),
                c AS (SELECT doc_id, gr, COUNT(*) AS c FROM g GROUP BY doc_id, gr)
                SELECT doc_id, CAST(SUM(c) AS BIGINT), COUNT(*),
                       1.0 - CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS BIGINT),
                       CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS BIGINT)
                FROM c GROUP BY doc_id"""
        ).fetchall()
    }
    assert got == want


@settings(**SETTINGS)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),      # user
            st.integers(min_value=0, max_value=20000),  # epoch-sec offset
        ),
        min_size=1,
        max_size=60,
        unique=True,
    )
)
def test_sessionize_random_streams_match_python_reference(spark, evs):
    """Gaps-and-islands sessionization vs a sequential python reference
    on random (user, ts) streams — the window rewrite must agree with
    the definitional one-pass loop on session count, sizes, and spans."""
    from pipetree_spark.queries.timeseries import q_ts_sessionize
    import collections

    base = 1704067200
    rows = sorted(set(evs))
    data = [
        (i, (base + off) * 10**9, uid, "click", 1.0, "{}")
        for i, (uid, off) in enumerate(rows)
    ]
    import tempfile, os

    with tempfile.TemporaryDirectory() as td:
        from pyspark.sql import types as T

        schema = T.StructType(
            [
                T.StructField("event_id", T.LongType()),
                T.StructField("ts", T.LongType()),
                T.StructField("user_id", T.LongType()),
                T.StructField("event_type", T.StringType()),
                T.StructField("value", T.DoubleType()),
                T.StructField("props", T.StringType()),
            ]
        )
        spark.createDataFrame(data, schema).coalesce(1).write.parquet(
            os.path.join(td, "events.parquet")
        )
        got = {
            (r.user_id, r.session_idx): (
                r.session_start_sec,
                r.session_end_sec,
                r.n_events,
            )
            for r in q_ts_sessionize(spark, td).collect()
        }
    # sequential reference
    per_user = collections.defaultdict(list)
    for i, (uid, off) in enumerate(rows):
        per_user[uid].append(base + off)
    want = {}
    for uid, secs in per_user.items():
        secs.sort()
        idx, start, prev, n = 0, None, None, 0
        for s in secs:
            if prev is None or s - prev > 1800:
                if start is not None:
                    want[(uid, idx)] = (start, prev, n)
                idx, start, n = idx + 1, s, 0
            n += 1
            prev = s
        want[(uid, idx)] = (start, prev, n)
    assert got == want


@settings(**SETTINGS)
@given(
    st.integers(min_value=2, max_value=10),  # n stages
    st.data(),
)
def test_pipeline_random_dags_topo_order_and_stable_keys(spark, n, data):
    """Random DAGs through the spec walker: (a) execution order always
    respects dependencies, (b) content keys are stable across two
    builds of the same spec and (c) differ when any upstream spec
    changes (the incremental-recompute correctness core)."""
    from pipetree_spark.cache import content_key
    from pipetree_spark.pipeline import Pipeline

    # random DAG: each stage depends on a subset of earlier stages
    deps = {
        i: data.draw(
            st.lists(st.integers(min_value=0, max_value=i - 1), max_size=3, unique=True)
        )
        if i
        else []
        for i in range(n)
    }

    def spec(base_where="l_quantity >= 0"):
        stages = {}
        for i in range(n):
            if not deps[i]:
                stages[f"s{i}"] = {
                    "type": "sql",
                    "inputs": [],
                    "query": f"SELECT {i} AS k, COUNT(*) AS n FROM (VALUES (1),(2)) t(x) WHERE {base_where.replace('l_quantity', 'x')}",
                }
            else:
                ins = [f"s{j}" for j in deps[i]]
                sel = " UNION ALL ".join(f"SELECT k, n FROM {j}" for j in ins)
                stages[f"s{i}"] = {"type": "sql", "inputs": ins, "query": sel}
        return {"stages": stages}

    p = Pipeline.from_spec(spec())
    order = {name: pos for pos, name in enumerate(p._order)}
    for i, ds in deps.items():
        for j in ds:
            assert order[f"s{j}"] < order[f"s{i}"]

    # content keys: deterministic across rebuilds…
    def keys(pl):
        out = {}
        for name in pl._order:
            s = pl.stages[name]
            out[name] = content_key(s.spec, [out[i] for i in s.inputs])
        return out

    k1, k2 = keys(Pipeline.from_spec(spec())), keys(Pipeline.from_spec(spec()))
    assert k1 == k2
    # …and any root change invalidates every downstream stage's key
    k3 = keys(Pipeline.from_spec(spec(base_where="l_quantity >= 1")))
    roots = {f"s{i}" for i, ds in deps.items() if not ds}
    reach = set(roots)
    changed_any = True
    while changed_any:
        changed_any = False
        for i, ds in deps.items():
            if f"s{i}" not in reach and any(f"s{j}" in reach for j in ds):
                reach.add(f"s{i}")
                changed_any = True
    for name in k1:
        if name in reach:
            assert k3[name] != k1[name], name
        else:
            assert k3[name] == k1[name], name


@settings(**SETTINGS)
@given(
    st.lists(
        st.lists(
            st.floats(min_value=-1.0, max_value=1.0, allow_nan=False, width=32),
            min_size=8,
            max_size=8,
        ),
        min_size=2,
        max_size=24,
    ),
    st.integers(min_value=1, max_value=3),
)
def test_blocked_cos_pairs_arrow_bitexact_vs_expression(spark, vecs, n_blocks):
    """The Arrow pair stage (ops.vector.blocked_cos_pairs_arrow) claims
    BIT-IDENTICAL pair sets to the JVM-expression fold
    (ops.vector.cos_pairs_blocked) via
    dim-sequential accumulation. Pin it on RANDOM vectors and random
    block assignments — any summation-order drift (SIMD reassociation,
    chunk boundary bug) near the 0.35 threshold would diverge the sets."""
    from pipetree_spark.ops import vector as VX

    rows = [
        (i, i % n_blocks, [float(x) for x in v]) for i, v in enumerate(vecs)
    ]
    m = spark.createDataFrame(
        rows, "rep_id long, block long, embedding array<float>"
    )
    want = {
        (r.id_a, r.id_b) for r in VX.cos_pairs_blocked(m, 0.35).collect()
    }
    got = {
        (r.id_a, r.id_b)
        for r in VX.blocked_cos_pairs_arrow(m, 0.35, chunk=5).collect()
    }
    assert got == want
    # contract=True (the CC feeder mode): the per-block union-find star
    # edges must have the SAME transitive closure as the full pair set
    star = [
        (r.id_a, r.id_b)
        for r in VX.blocked_cos_pairs_arrow(m, 0.35, chunk=5, contract=True).collect()
    ]

    def closure(pairs):
        parent = {}

        def find(x):
            while parent.get(x, x) != x:
                x = parent[x]
            return x

        for a, b in pairs:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        nodes = {n for p in pairs for n in p}
        return {frozenset(n2 for n2 in nodes if find(n2) == r) for r in {find(n) for n in nodes}}

    assert closure(star) == closure(want)
    # star edges always point member → its component's min id
    assert all(a == min(c) for c in closure(star) for a, b in star if b in c)


@settings(**SETTINGS)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=1),  # label block
            st.lists(
                st.floats(min_value=-1.0, max_value=1.0, allow_nan=False, width=32),
                min_size=4,
                max_size=4,
            ),
        ),
        min_size=2,
        max_size=14,
    )
)
def test_semantic_dedup_random_corpora_match_duckdb(spark, rows):
    """The whole semantic-dedup engine (collapse → blocked cosine pairs
    → connected components → min-id keeper) must agree with an
    independent DuckDB recursive-CTE re-derivation on RANDOM vectors
    and labels — the differential analog of the minhash property test,
    covering the graph tail the fixed-corpus oracle only samples."""
    from pipetree_spark.ops import vector as VX

    data = [(i, lab, [float(x) for x in v]) for i, (lab, v) in enumerate(rows)]
    df = spark.createDataFrame(data, "vec_id long, label long, embedding array<float>")
    got = {
        (r.vec_id, r.component, r.is_kept)
        for r in VX.semantic_dedup(df, threshold=0.35).collect()
    }
    con = duckdb.connect()
    pdf = pd.DataFrame(
        {"vec_id": [d[0] for d in data], "label": [d[1] for d in data],
         "embedding": [d[2] for d in data]}
    )
    con.register("embeddings", pdf)
    sq = "list_sum(list_transform({v}, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))"
    cos = (
        "list_sum(list_transform(generate_series(1, 4),"
        " i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))"
        f" / (SQRT({sq.format(v='a.embedding')}) * SQRT({sq.format(v='b.embedding')}))"
    )
    want = set(
        tuple(r)
        for r in con.execute(
            f"""
WITH RECURSIVE p AS (
  SELECT a.vec_id AS u, b.vec_id AS v
  FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
  WHERE {cos} >= 0.35
),
sym AS (SELECT u, v FROM p UNION SELECT v, u FROM p),
reach(src, dst) AS (
  SELECT u, u FROM sym
  UNION
  SELECT r.src, s.v FROM reach r JOIN sym s ON r.dst = s.u
),
comp AS (SELECT src AS vec_id, MIN(dst) AS component FROM reach GROUP BY src)
SELECT e.vec_id, COALESCE(c.component, e.vec_id) AS component,
       CAST(e.vec_id = COALESCE(c.component, e.vec_id) AS INT) AS is_kept
FROM embeddings e LEFT JOIN comp c ON e.vec_id = c.vec_id
"""
        ).fetchall()
    )
    assert got == want


@settings(**SETTINGS)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=18),
            st.integers(min_value=0, max_value=18),
        ),
        min_size=1,
        max_size=30,
    )
)
def test_connected_components_random_graphs_match_duckdb(spark, edges):
    """The distributed min-label CC (one-shuffle rounds + pointer
    jumping, ops/graph.py) must agree with an independent DuckDB
    recursive-reachability derivation on RANDOM graphs — including
    self-loops, duplicate and reversed edges, and chains long enough to
    cross the jump_after=4 pointer-jumping boundary."""
    from pipetree_spark.ops.graph import connected_components

    df = spark.createDataFrame(edges, "src long, dst long")
    got = {(r.node, r.component) for r in connected_components(df).collect()}
    con = duckdb.connect()
    con.register("e", pd.DataFrame({"src": [a for a, _ in edges], "dst": [b for _, b in edges]}))
    want = set(
        tuple(r)
        for r in con.execute(
            """
WITH RECURSIVE sym AS (
  SELECT src AS u, dst AS v FROM e
  UNION SELECT dst, src FROM e
),
reach(src, dst) AS (
  SELECT u, u FROM sym
  UNION
  SELECT r.src, s.v FROM reach r JOIN sym s ON r.dst = s.u
)
SELECT src AS node, MIN(dst) AS component FROM reach GROUP BY src
"""
        ).fetchall()
    )
    assert got == want


@settings(**SETTINGS)
@given(st.integers(min_value=5, max_value=30))
def test_connected_components_long_chain(spark, n):
    """A single path graph 0-1-2-…-n is the worst case for min-label
    propagation (diameter = n): pointer jumping must still converge
    inside max_iter and label every node with 0."""
    from pipetree_spark.ops.graph import connected_components

    df = spark.createDataFrame([(i, i + 1) for i in range(n)], "src long, dst long")
    got = {(r.node, r.component) for r in connected_components(df).collect()}
    assert got == {(i, 0) for i in range(n + 1)}


@settings(**SETTINGS)
@given(
    st.lists(
        st.lists(st.sampled_from(["aa", "bb", "cc", "dd", "ee"]), min_size=0, max_size=17).map(" ".join),
        min_size=1,
        max_size=10,
    ),
    st.integers(min_value=1, max_value=6),
    st.integers(min_value=1, max_value=6),
)
def test_chunk_documents_random_corpora_match_duckdb(spark, texts, size, stride):
    """Sliding-window chunking on RANDOM docs (incl. empty strings) and
    RANDOM (size, stride <= size) must match the DuckDB
    integer-arithmetic twin byte-for-byte — pins the ceil-div chunk
    count, 1-chunk-minimum, slice boundaries, and the split-on-space
    empty-string convention across engines. stride > size is rejected
    by contract (phantom empty chunks — the r7 property-test finding).
    """
    import pytest as _pytest

    from pipetree_spark.ops import text as TX

    if stride > size:
        with _pytest.raises(ValueError, match="stride <= size"):
            TX.chunk_documents(
                spark.createDataFrame(pd.DataFrame({"doc_id": [0], "text": ["a"]})),
                "text", "doc_id", size=size, stride=stride,
            )
        return

    pdf = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    sdf = spark.createDataFrame(pdf)
    got = {
        (r.doc_id, r.chunk_id, r.chunk_start, r.chunk_n_tokens, r.chunk_text)
        for r in TX.chunk_documents(sdf, "text", "doc_id", size=size, stride=stride).collect()
    }
    con = duckdb.connect()
    con.register("documents", pdf)
    want = set(
        tuple(r)
        for r in con.execute(
            f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
c AS (
  SELECT doc_id, w,
         CASE WHEN len(w) <= {size} THEN 1
              ELSE 1 + (len(w) - {size} + {stride} - 1) // {stride} END AS n_chunks
  FROM t
),
e AS (SELECT doc_id, w, UNNEST(generate_series(1, n_chunks)) AS i FROM c)
SELECT doc_id, CAST(i - 1 AS INT) AS chunk_id,
       CAST((i-1)*{stride} + 1 AS INT) AS chunk_start,
       CAST(len(w[(i-1)*{stride}+1 : (i-1)*{stride}+{size}]) AS INT) AS chunk_n_tokens,
       array_to_string(w[(i-1)*{stride}+1 : (i-1)*{stride}+{size}], ' ') AS chunk_text
FROM e
"""
        ).fetchall()
    )
    assert got == want


@settings(**SETTINGS)
@given(
    st.lists(st.integers(min_value=0, max_value=10**9), min_size=1, max_size=40, unique=True),
    st.integers(min_value=1, max_value=9),
)
def test_shuffle_shards_random_keys_match_duckdb(spark, keys, num_shards):
    """The deterministic training-order shuffle (60-bit md5 rank →
    shard → pos) must replay the identical permutation in DuckDB for
    RANDOM key sets and shard counts — pins the hex-prefix→decimal
    conversion, pmod, and the (hash, key) window order across engines."""
    from pipetree_spark.ops import text as TX

    pdf = pd.DataFrame({"doc_id": keys})
    sdf = spark.createDataFrame(pdf)
    got = {
        (r.doc_id, r.shard, r.pos)
        for r in TX.shuffle_shards(sdf, "doc_id", num_shards=num_shards, seed="seed42")
        .select("doc_id", "shard", "pos")
        .collect()
    }
    con = duckdb.connect()
    con.register("documents", pdf)
    want = set(
        tuple(r)
        for r in con.execute(
            f"""
WITH h AS (
  SELECT doc_id,
         CAST(concat('0x', substr(md5(concat('seed42|', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) AS hh
  FROM documents
)
SELECT doc_id, CAST(hh % {num_shards} AS INT) AS shard,
       CAST(row_number() OVER (PARTITION BY hh % {num_shards} ORDER BY hh, doc_id) AS INT) AS pos
FROM h
"""
        ).fetchall()
    )
    assert got == want


@settings(**SETTINGS)
@given(
    st.lists(
        st.lists(st.sampled_from(
            ["alpha", "beta", "gamma", "delta", "eps", "zeta"]
        ), min_size=0, max_size=10).map(" ".join),
        min_size=2,
        max_size=8,
    )
)
def test_near_dup_pairs_random_corpora_match_duckdb(spark, texts):
    """The inverted-index exact shingle-Jaccard pair op must equal the
    naive DuckDB pairwise formulation on RANDOM corpora — including
    docs too short to shingle and identical docs (J = 1 cliques)."""
    from pipetree_spark.ops import text as TX
    from pipetree_spark.queries.llm_ops import _SHINGLES_SQL

    pdf = pd.DataFrame(
        {"doc_id": range(len(texts)), "lang": ["en"] * len(texts), "text": texts}
    )
    sdf = spark.createDataFrame(pdf)
    got = {
        (r.id_a, r.id_b, r.jaccard)
        for r in TX.near_dup_pairs(sdf, threshold=0.3, max_bucket=None)
        .select("id_a", "id_b", "jaccard")
        .collect()
    }
    con = duckdb.connect()
    con.register("documents", pdf)
    want = set(
        tuple(r)
        for r in con.execute(
            f"""
WITH sh AS (
  SELECT doc_id, lang, {_SHINGLES_SQL} AS s
  FROM (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents)
),
p AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
           / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jaccard
  FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
  WHERE len(list_intersect(a.s, b.s)) > 0
)
SELECT id_a, id_b, jaccard FROM p WHERE jaccard >= 0.3
"""
        ).fetchall()
    )
    assert got == want


@settings(**SETTINGS)
@given(
    st.lists(
        st.tuples(st.integers(0, 14), st.integers(0, 14)),
        min_size=0,
        max_size=60,
    )
)
def test_triangle_counts_random_graphs_match_bruteforce(spark, edges):
    """ops/graph.triangle_counts vs an O(n³) adjacency-set reference on
    random multigraphs with self-loops and both edge directions."""
    from pipetree_spark.ops.graph import triangle_counts

    adj: dict[int, set[int]] = {}
    for u, v in edges:
        if u != v:
            adj.setdefault(u, set()).add(v)
            adj.setdefault(v, set()).add(u)
    nodes = sorted(adj)
    expect: dict[int, int] = {}
    for i, a in enumerate(nodes):
        for b in (n for n in nodes[i + 1:] if n in adj[a]):
            for c in (n for n in nodes if n > b and n in adj[a] and n in adj[b]):
                for x in (a, b, c):
                    expect[x] = expect.get(x, 0) + 1

    df = spark.createDataFrame(edges or [(0, 0)], "src long, dst long")
    got = {r.node: r.tri_cnt for r in triangle_counts(df).collect()}
    assert got == expect


@settings(**SETTINGS)
@given(
    st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)),
        min_size=0,
        max_size=40,
    ),
    st.lists(st.integers(0, 12), min_size=1, max_size=4),
    st.integers(1, 4),
)
def test_bfs_khop_random_graphs_match_reference(spark, edges, sources, k):
    """ops/graph.bfs_khop vs a plain-python BFS on random graphs:
    distances capped at k, min over sources, isolated sources at 0."""
    from collections import deque

    from pipetree_spark.ops.graph import bfs_khop

    adj: dict[int, set[int]] = {}
    for u, v in edges:
        if u != v:
            adj.setdefault(u, set()).add(v)
            adj.setdefault(v, set()).add(u)
    expect: dict[int, int] = {}
    dq = deque((s, 0) for s in set(sources))
    for s in set(sources):
        expect[s] = 0
    while dq:
        n, d = dq.popleft()
        if d >= k:
            continue
        for m in adj.get(n, ()):
            if m not in expect or expect[m] > d + 1:
                expect[m] = d + 1
                dq.append((m, d + 1))

    e = spark.createDataFrame(edges or [(0, 0)], "src long, dst long")
    s = spark.createDataFrame([(x,) for x in sources], "n long")
    got = {r.node: r.dist for r in bfs_khop(e, s, k=k).collect()}
    assert got == expect


@settings(**SETTINGS)
@given(
    st.lists(
        st.tuples(st.integers(0, 23), st.integers(-500, 500)),
        min_size=5,
        max_size=60,
    )
)
def test_exact_moment_pearson_matches_numpy(spark, pts):
    """The exact-moment Pearson chain (q_agg_pearson's formula) must
    equal numpy's corrcoef on the same integers — semantic correctness
    on top of the engine-parity the oracle already proves."""
    import numpy as np

    xs = np.array([p[0] for p in pts], float)
    ys = np.array([p[1] for p in pts], float)
    df = spark.createDataFrame(pts, "x long, y long")
    m = df.agg(
        F.count("*").alias("n"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0))")).alias("sx"),
        F.sum(F.expr("CAST(y AS DECIMAL(38,0))")).alias("sy"),
        F.sum(F.expr("CAST(x * x AS DECIMAL(38,0))")).alias("sxx"),
        F.sum(F.expr("CAST(y * y AS DECIMAL(38,0))")).alias("syy"),
        F.sum(F.expr("CAST(x * y AS DECIMAL(38,0))")).alias("sxy"),
    )
    got = m.select(
        (
            F.expr("CAST(n * sxy - sx * sy AS DOUBLE)")
            / F.expr(
                "nullif(sqrt(CAST(n * sxx - sx * sx AS DOUBLE))"
                " * sqrt(CAST(n * syy - sy * sy AS DOUBLE)), 0)"
            )
        ).alias("r")
    ).collect()[0].r
    if xs.std() == 0 or ys.std() == 0:
        assert got is None
    else:
        ref = float(np.corrcoef(xs, ys)[0, 1])
        assert abs(got - ref) < 1e-9, (got, ref)


@settings(**SETTINGS)
@given(
    st.lists(st.integers(-100, 100), min_size=4, max_size=50, unique=True),
)
def test_doubled_rank_spearman_matches_numpy_on_unique_values(spark, ys):
    """On tie-free data the doubled-average-rank Spearman (q_agg_spearman's
    formula) must equal Pearson of the ranks (numpy reference). Ties are
    exercised separately by the oracle fuzz; uniqueness isolates the
    classic 6Σd² identity."""
    import numpy as np

    xs = list(range(len(ys)))  # strictly increasing time axis
    df = spark.createDataFrame(list(zip(xs, ys)), "x long, y long")
    from pyspark.sql import Window

    wx, wy = Window.orderBy("x"), Window.orderBy("y")
    tx, ty = Window.partitionBy("x"), Window.partitionBy("y")
    r = df.select(
        (2 * F.rank().over(wx) + F.count("*").over(tx) - 1).alias("rx2"),
        (2 * F.rank().over(wy) + F.count("*").over(ty) - 1).alias("ry2"),
    )
    m = r.agg(
        F.count("*").alias("n"),
        F.sum(F.expr("CAST((rx2 - ry2) * (rx2 - ry2) AS DECIMAL(38,0))")).alias("sd2"),
    )
    got = m.select(
        (
            F.lit(1)
            - F.expr("CAST(3 * sd2 AS DOUBLE)")
            / F.expr("CAST(2 * n * (CAST(n AS DECIMAL(38,0)) * n - 1) AS DOUBLE)")
        ).alias("rho")
    ).collect()[0].rho
    rank_x = np.argsort(np.argsort(xs)) + 1.0
    rank_y = np.argsort(np.argsort(ys)) + 1.0
    ref = float(np.corrcoef(rank_x, rank_y)[0, 1])
    assert abs(got - ref) < 1e-9, (got, ref)


@settings(max_examples=15, deadline=None)
@given(
    st.integers(min_value=1, max_value=24),   # width
    st.integers(min_value=1, max_value=24),   # height
    st.sampled_from([1, 2, 3, 4]),            # channels
    st.sampled_from([0, 1, 2, 3, 4, "mix"]),  # row filter
    st.integers(min_value=0, max_value=2**31 - 1),
)
def test_png_codec_roundtrip_property(w, h, ch, ft, seed):
    """Pure-codec property (no Spark): png_encode → png_decode is the
    identity for EVERY image shape, channel count, and row-filter
    choice — the r10 stdlib codec's core contract, randomized beyond
    the fixed-corpus test in test_ops_llm."""
    import numpy as np

    from pipetree_spark.ops import png as P

    px = np.random.RandomState(seed).randint(0, 256, size=(h, w, ch), dtype=np.uint8)
    out = P.png_decode(P.png_encode(px, filter_type=ft))
    assert out.shape == (h, w, ch)
    assert (out == px).all()


@settings(max_examples=15, deadline=None)
@given(
    st.integers(min_value=1, max_value=500),  # frames
    st.sampled_from([1, 2, 3]),               # channels
    st.sampled_from([8000, 16000, 44100]),
    st.integers(min_value=0, max_value=2**31 - 1),
)
def test_wav_codec_roundtrip_property(n, ch, sr, seed):
    """Pure-codec property (no Spark): wav_encode → wav_decode is the
    identity for every frame count, channel count, and sample rate."""
    import numpy as np

    from pipetree_spark.ops import wav as W

    x = np.random.RandomState(seed).randint(-32768, 32768, size=(n, ch)).astype("<i2")
    got, got_sr = W.wav_decode(W.wav_encode(x, sr))
    assert got_sr == sr and got.shape == (n, ch) and (got == x).all()


@settings(max_examples=10, deadline=None)
@given(
    st.integers(min_value=1, max_value=20),
    st.integers(min_value=1, max_value=20),
    st.sampled_from([60, 85, 95]),
    st.booleans(),
    st.integers(min_value=0, max_value=2**31 - 1),
)
def test_jpeg_codec_roundtrip_property(w, h, q, sub, seed):
    """Pure-codec property (no Spark): jpeg_decode(jpeg_encode(x)) keeps
    the exact shape, stays uint8, and — on a FLAT image — recovers the
    pixels exactly for every size/quality/subsampling combination
    (random content is checked for decodability + a loose error bound:
    JPEG is lossy by design)."""
    import numpy as np

    from pipetree_spark.ops import jpeg as J

    flat = np.full((h, w, 3), (seed % 200) + 28, dtype=np.uint8)
    out = J.jpeg_decode(J.jpeg_encode(flat, quality=q, subsample=sub))
    assert out.shape == flat.shape and out.dtype == np.uint8
    assert (out == flat).all()

    px = np.random.RandomState(seed).randint(0, 256, size=(h, w, 3), dtype=np.uint8)
    out = J.jpeg_decode(J.jpeg_encode(px, quality=q, subsample=sub))
    assert out.shape == px.shape
    assert np.abs(out.astype(int) - px.astype(int)).mean() < 96


@settings(max_examples=12, deadline=None)
@given(
    st.integers(min_value=1, max_value=40),
    st.integers(min_value=1, max_value=40),
    st.integers(min_value=1, max_value=256),  # palette size
    st.booleans(),                            # interlace
    st.integers(min_value=0, max_value=2**31 - 1),
)
def test_gif_codec_roundtrip_property(w, h, ncolors, interlace, seed):
    """Pure-codec property (no Spark): gif_encode → gif_decode is the
    identity for every image size, palette size (1–256), and interlace
    flag — GIF is lossless on palette images by construction."""
    import numpy as np

    from pipetree_spark.ops import gif as G

    rng = np.random.RandomState(seed)
    pal = rng.randint(0, 256, size=(ncolors, 3), dtype=np.uint8)
    img = pal[rng.randint(0, ncolors, size=(h, w))]
    frames, gw, gh = G.gif_decode(G.gif_encode(img, interlace=interlace))
    assert (gw, gh, len(frames)) == (w, h, 1)
    assert (frames[0] == img).all()


@settings(max_examples=10, deadline=None)
@given(
    st.integers(min_value=1, max_value=2000),
    st.sampled_from([1, 2]),
    st.sampled_from(["verbatim", "fixed"]),
    st.sampled_from([64, 256, 4096]),
    st.integers(min_value=0, max_value=2**31 - 1),
)
def test_flac_codec_roundtrip_property(n, ch, sub, bs, seed):
    """Pure-codec property (no Spark): FLAC is lossless — decode(encode)
    is the identity for every length, channel count, subframe strategy,
    and block size (incl. n not a multiple of block size)."""
    import numpy as np

    from pipetree_spark.ops import flac as FL

    x = np.random.RandomState(seed).randint(-32768, 32768, size=(n, ch)).astype(np.int64)
    got, sr = FL.flac_decode(FL.flac_encode(x, 22050, subframe=sub, block_size=bs))
    assert sr == 22050 and got.shape == (n, ch) and (got == x).all()


@settings(**SETTINGS)
@given(
    st.lists(
        st.lists(
            st.text(alphabet="abc", min_size=1, max_size=6),
            min_size=1,
            max_size=8,
        ).map(" ".join),
        min_size=1,
        max_size=6,
    )
)
def test_bpe_train_matches_reference_on_random_corpora(spark, docs):
    """Property form of the r11 differential BPE gate: on random
    3-letter-alphabet corpora (dense ties, same-symbol runs, prefix
    collisions by construction), ops.text.bpe_train must equal a pure
    -Python greedy left-to-right pair-scan reference, merge for merge."""
    from collections import Counter

    from pipetree_spark.ops import text as TXO

    SEP = TXO.BPE_SEP

    def ref_bpe(word_freqs, n_merges):
        state = {tuple(w): f for w, f in word_freqs.items()}
        merges = []
        for r in range(n_merges):
            cnt = Counter()
            for syms, f in state.items():
                for i in range(len(syms) - 1):
                    cnt[(syms[i], syms[i + 1])] += f
            if not cnt:
                break
            best = min(cnt, key=lambda p: (-cnt[p], p[0] + SEP + p[1]))
            merges.append((r, best[0], best[1], best[0] + best[1], cnt[best]))
            nxt = {}
            for syms, f in state.items():
                out, i = [], 0
                while i < len(syms):
                    if i + 1 < len(syms) and (syms[i], syms[i + 1]) == best:
                        out.append(syms[i] + syms[i + 1])
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                nxt[tuple(out)] = nxt.get(tuple(out), 0) + f
            state = nxt
        return merges

    from collections import Counter as C2

    wf = C2(w for d in docs for w in d.split(" ") if w)
    expect = ref_bpe(wf, 3)
    sdf = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id long, text string"
    )
    got = [
        tuple(r)
        for r in TXO.bpe_train(sdf, "text", n_merges=3).orderBy("rank").collect()
    ]
    assert got == expect, (docs, got, expect)


@settings(**SETTINGS)
@given(
    st.lists(
        st.lists(
            st.text(alphabet="abc", min_size=1, max_size=6),
            min_size=1,
            max_size=8,
        ).map(" ".join),
        min_size=1,
        max_size=6,
    )
)
def test_bpe_apply_matches_reference_on_random_corpora(spark, docs):
    """Encode half of the differential BPE gate: per-doc n_bpe_tokens
    after 3 learned merges (ops.text.bpe_train, encoded by
    ops.text.bpe_encode) must equal the pure-Python reference's greedy
    application — including corpora whose pairs run out before
    n_merges."""
    from collections import Counter

    from pipetree_spark.ops import text as TXO

    SEP = TXO.BPE_SEP

    def ref_train(word_freqs, n_merges):
        state = {tuple(w): f for w, f in word_freqs.items()}
        merges = []
        for _ in range(n_merges):
            cnt = Counter()
            for syms, f in state.items():
                for i in range(len(syms) - 1):
                    cnt[(syms[i], syms[i + 1])] += f
            if not cnt:
                break
            best = min(cnt, key=lambda p: (-cnt[p], p[0] + SEP + p[1]))
            merges.append(best)
            nxt = {}
            for syms, f in state.items():
                out, i = [], 0
                while i < len(syms):
                    if i + 1 < len(syms) and (syms[i], syms[i + 1]) == best:
                        out.append(syms[i] + syms[i + 1])
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                nxt[tuple(out)] = nxt.get(tuple(out), 0) + f
            state = nxt
        return merges

    def ref_apply(word, merges):
        syms = list(word)
        for pair in merges:
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and (syms[i], syms[i + 1]) == pair:
                    out.append(syms[i] + syms[i + 1])
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return len(syms)

    wf = Counter(w for d in docs for w in d.split(" ") if w)
    merges = ref_train(wf, 3)
    expect = {}
    for i, d in enumerate(docs):
        ws = [w for w in d.split(" ") if w]
        if ws:
            expect[i] = (len(ws), sum(ref_apply(w, merges) for w in ws))

    sdf = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id long, text string"
    )
    m = TXO.bpe_train(sdf, "text", n_merges=3)
    pairs = [(r.lhs, r.rhs) for r in m.orderBy("rank").collect()]
    got = {
        r.doc_id: (r.n_words, r.n_bpe_tokens)
        for r in TXO.bpe_encode(sdf, pairs, "text", "doc_id").collect()
    }
    assert got == expect, (docs, got, expect)


@settings(**SETTINGS)
@given(
    st.lists(
        st.lists(
            st.text(alphabet="abc", min_size=1, max_size=6),
            min_size=1,
            max_size=8,
        ).map(" ".join),
        min_size=1,
        max_size=6,
    ),
    st.integers(min_value=1, max_value=6),
)
@example(docs=["ab\nab ab\nab a\rb", "ab\nab x\ny"], nm=3)
def test_bpe_scale_path_matches_distributed_on_random_corpora(spark, docs, nm):
    """Differential gate of the BPE ops against their DuckDB oracles:
    on random dense-tie corpora, the driver-side incremental trainer
    (ops.text.bpe_train) must equal bpe_train_sql merge-for-merge, and
    the single-stage mapInPandas encoder (ops.text.bpe_encode) fed the
    learned merges must equal bpe_apply_sql doc-for-doc — including
    corpora whose pairs run out before n_merges. The explicit example
    puts line feeds and a carriage return inside words: one code point
    is one symbol on both engines."""
    from pipetree_spark.ops import text as TXO

    pdf = pd.DataFrame({"doc_id": list(range(len(docs))), "text": docs})
    con = duckdb.connect()
    con.register("documents", pdf)
    oracle = [tuple(r) for r in con.execute(TXO.bpe_train_sql(nm)).fetchall()]
    exp = {
        d: (w, t) for d, w, t in con.execute(TXO.bpe_apply_sql(nm)).fetchall()
    }

    sdf = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id long, text string"
    )
    scale = [
        tuple(r)
        for r in TXO.bpe_train(sdf, "text", n_merges=nm).orderBy("rank").collect()
    ]
    assert scale == oracle, (docs, nm, scale, oracle)

    pairs = [(lhs, rhs) for (_, lhs, rhs, _, _) in scale]
    got = {
        r.doc_id: (r.n_words, r.n_bpe_tokens)
        for r in TXO.bpe_encode(sdf, pairs, "text", "doc_id").collect()
    }
    assert got == exp, (docs, nm, got, exp)


@settings(**SETTINGS)
@given(
    st.lists(
        st.lists(
            st.text(alphabet="abc", min_size=1, max_size=6),
            min_size=1,
            max_size=8,
        ).map(" ".join),
        min_size=1,
        max_size=6,
    ),
    st.integers(min_value=1, max_value=3),
)
def test_unigram_encode_matches_estep_on_random_corpora(spark, docs, nr):
    """r13 differential gate for the unigram ENCODE stage: on random
    corpora, the broadcast-probs mapInPandas encoder must equal a
    pure-Python per-word recomputation with the trainer's own exact
    path enumerator — same words filter, same tie-break, same piece
    counts, zero OOV when probs come from the same corpus uncapped."""
    from pipetree_spark.ops import text as TXO
    from pipetree_spark.ops.text import BPE_SEP, _unigram_best_seg

    sdf = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id long, text string"
    )
    probs = {
        r.piece: r.prob
        for r in TXO.unigram_train(sdf, "text", n_rounds=nr).collect()
    }
    exp = {}
    for i, t in enumerate(docs):
        words = [w for w in t.split(" ") if 0 < len(w) <= 12]
        if not words:
            continue
        np_ = sum(
            _unigram_best_seg(w, probs, 4, BPE_SEP).count(BPE_SEP)
            for w in words
        )
        exp[i] = (len(words), np_, 0)
    got = {
        r.doc_id: (r.n_words, r.n_pieces, r.n_oov)
        for r in TXO.unigram_encode(sdf, probs).collect()
    }
    assert got == exp, (docs, nr, got, exp)


@settings(max_examples=40, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["warcinfo", "request", "response", "metadata"]),
            st.binary(min_size=0, max_size=300),
            st.integers(min_value=100, max_value=599),
        ),
        min_size=1,
        max_size=8,
    )
)
def test_warc_roundtrip_property(recs):
    """Pure-parser property (no Spark): warc_build → warc_parse is the
    identity for every record mix — types, payload bytes (response
    payloads get a real HTTP wrapper), and record count survive, and
    framing never bleeds across records even with CRLFs inside
    payloads."""
    from pipetree_spark.ops import warc as W

    built = []
    for typ, payload, status in recs:
        if typ == "response":
            built.append((typ, {"WARC-Target-URI": "http://t/x"},
                          W.http_response(status, "X", payload)))
        else:
            built.append((typ, {"WARC-Record-ID": "<urn:t:1>"}, payload))
    parsed = W.warc_parse(W.warc_build(built))
    assert [r["warc_type"] for r in parsed] == [t for (t, _, _) in recs]
    for (typ, payload, status), r in zip(recs, parsed):
        if typ == "response":
            assert r["http_status"] == status
            assert r["http_body"] == payload
        else:
            assert r["payload"] == payload


@settings(max_examples=40, deadline=None)
@given(
    st.text(alphabet=st.characters(min_codepoint=32, max_codepoint=126), min_size=1, max_size=30).map(str.strip).filter(bool),
    st.integers(min_value=1, max_value=8),
    st.integers(min_value=1, max_value=2**31 - 1),
    st.integers(min_value=1, max_value=2**31 - 1),
    st.booleans(),
)
def test_exif_roundtrip_property(make, orientation, num, den, big_endian):
    """Pure-parser property (no Spark): exif_app1 → exif_parse is the
    identity for every make string, orientation, rational, and byte
    order — including 32-bit boundary rationals."""
    from pipetree_spark.ops import exif as E

    app1 = E.exif_app1(make, orientation, (num, den),
                       "2026:08:16 00:00:00", big_endian=big_endian)
    got = E.exif_parse(E.insert_app1(b"\xff\xd8\xff\xd9", app1))
    assert got["make"] == make
    assert got["orientation"] == orientation
    assert (got["xres_num"], got["xres_den"]) == (num, den)
    assert got["endian"] == ("MM" if big_endian else "II")


mixed_script_text = st.text(
    alphabet=(
        "abc XY12 .!?"                # latin + digits + punct + space
        "\t\x0b"       # tab + VERTICAL TAB (r14 ADVICE: Java \s has
                       # \x0B, RE2 \s does not — the explicit WS class
                       # must keep both engines collapsing it)
        "数据引擎"  # han
        "のエン"          # kana
        "한국"                  # hangul
        "ไทย"          # thai
        "ລາວ"          # lao (r15 class extension)
        "ខ្មែ"            # khmer incl. coeng (r15)
        "မြန်"           # myanmar incl. vowel/virama signs (r15)
        "བོ་"             # tibetan incl. tsheg (r15)
        "éДΩ"          # é / cyrillic / greek (unlisted)
    ),
    min_size=0,
    max_size=40,
)


#: Overlap-heavy lexicon for the dict-MM property: words share
#: prefixes/suffixes with each other and with the alphabet's char
#: inventory, so random text constantly exercises the longest-match
#: and leftmost-beats-overlap rules in both engines.
_MM_LEX = (
    "数据", "数据引", "据引", "引擎", "のエ", "エン", "한국", "ไทย",
    "ລາ",   # lao prefix of the alphabet's run
    "ab",   # latin word: substring-matching inside latin runs
    ".!",   # regex metachars: escaping must hold in BOTH dialects
    "b数",  # MIXED latin+cjk word: the guard re-fusion pass must
            # re-join across an interleaved non-CJK char (worst-case
            # k+1 intra-guard spaces — the maxlen+1 bound's edge)
)


@settings(**SETTINGS)
@given(st.lists(mixed_script_text, min_size=1, max_size=8))
def test_dict_mm_segmentation_cross_engine(spark, texts):
    """dict_segment_stage (Python greedy MM) and the generated
    guard-regex DuckDB twin agree byte-for-byte on random mixed-script
    text, and the pass is idempotent."""
    import duckdb

    from pipetree_spark.ops.text import dict_segment_sql, dict_segment_stage

    pdf = pd.DataFrame({"i": range(len(texts)), "t": texts})
    sdf = spark.createDataFrame(pdf)
    one = dict_segment_stage(sdf, _MM_LEX, "t", out_col="seg")
    two = dict_segment_stage(one, _MM_LEX, "seg", out_col="seg2")
    got = two.orderBy("i").collect()
    con = duckdb.connect()
    con.register("tbl", pdf)
    want = con.execute(
        f"SELECT i, {dict_segment_sql('t', _MM_LEX)} AS seg FROM tbl ORDER BY i"
    ).fetchall()
    for g, w in zip(got, want):
        assert g.seg == w[1], (g.t, g.seg, w[1])
        assert g.seg2 == g.seg  # idempotent


@settings(**SETTINGS)
@given(st.lists(mixed_script_text, min_size=1, max_size=8))
def test_cjk_segmentation_properties_cross_engine(spark, texts):
    """segment_text/cjk_chars on random mixed-script text: (1) Spark
    and the generated DuckDB twin agree byte-for-byte, (2) the pass is
    IDEMPOTENT (segmenting segmented text is a fixpoint — the property
    that makes the stage safe to compose anywhere in a pipeline),
    (3) unit counts across both engines agree with the router-side
    word_count."""
    import duckdb

    from pipetree_spark.ops.text import (
        segment_text,
        segment_text_sql,
        word_count,
    )

    pdf = pd.DataFrame({"i": range(len(texts)), "t": texts})
    sdf = spark.createDataFrame(pdf)
    got = (
        sdf.select(
            "i",
            segment_text("t", "cjk_chars").alias("seg"),
            segment_text(segment_text("t", "cjk_chars"), "cjk_chars").alias(
                "seg2"
            ),
            word_count("t", "cjk_chars").alias("n"),
        )
        .orderBy("i")
        .collect()
    )
    con = duckdb.connect()
    con.register("tbl", pdf)
    seg_sql = segment_text_sql("t", "cjk_chars")
    want = con.execute(
        f"SELECT i, {seg_sql} AS seg, "
        f"CAST(len(list_filter(string_split({seg_sql}, ' '), "
        f"x -> length(x) > 0)) AS BIGINT) AS n "
        f"FROM tbl ORDER BY i"
    ).fetchall()
    for g, w in zip(got, want):
        assert g.seg == w[1], (g.seg, w[1])
        assert g.seg2 == g.seg  # idempotent
        assert g.n == w[2]
