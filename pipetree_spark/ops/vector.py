"""Vector / similarity-search operators (SURVEY §2.12).

Embeddings are ``array<float>`` columns. All math casts to double
per-element first (float32 arithmetic differs across engines) and uses
higher-order functions — JVM-side, no Python in the hot path.

Float policy: these are short (64-element) unit-scale sums — absolute
drift ~1e-15, so round(4) outputs are flip-safe (unlike money sums,
which need the decimal path in exact.py).

Scale path: brute-force kNN broadcasts the (small) query side over the
corpus — linear in corpus size, the right baseline ≤ ~10⁷ vectors.
Beyond that, :func:`lsh_bucket_ann` prunes candidates with seeded
random-hyperplane buckets before the exact re-rank.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pipetree_spark.ops.relational import topk_per_group


def sql_ident(name: str) -> str:
    """Backtick-quote a column name for interpolation into parsed SQL,
    doubling embedded backticks — a hyphenated (``my-vec``) or reserved
    (``select``) name then parses as one identifier, not arithmetic or
    a keyword. Quoting leaves the parsed attribute unchanged."""
    return "`" + name.replace("`", "``") + "`"


#: Shared SQL fragments for the portable-quantizer hot paths (r16,
#: guide §1.2 step 2): one parsed string replaces a lambda-built HOF
#: tree of ~30-150 py4j round trips. Each parses to the IDENTICAL
#: expression tree the Column formulation built (typing notes at the
#: use sites); every consumer family is parity- and pytest-pinned.
#: Column names are interpolated through :func:`sql_ident`.
#: exact-integer squared distance between the quantized vector and a
#: lambda-bound centroid struct ``c`` (fields cv, cid)
_SQDIST_SQL = (
    "aggregate(zip_with({vec}, c.cv, (x, y) -> (x - y) * (x - y)),"
    " CAST(0 AS BIGINT), (acc, v) -> acc + v)"
)
#: floor(x · scale) quantization of a float vector to exact longs —
#: CAST({scale} AS DOUBLE) constant-folds to the same double literal
#: F.lit(float(scale)) shipped (scale ≪ 2⁵³)
_QUANTIZE_SQL = (
    "transform({col}, x -> cast(floor(cast(x as double)"
    " * CAST({scale} AS DOUBLE)) as bigint))"
)


def _d(x: Column) -> Column:
    return x.cast("double")


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: _d(x) * _d(y)), F.lit(0.0), lambda s, v: s + v)


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: _d(x) * _d(x)), F.lit(0.0), lambda s, v: s + v))


#: ANSI-safe division (NULL on zero denominator — DuckDB's float
#: semantics); canonical definition lives with the other cross-engine
#: numeric policy in exact.py.
from pipetree_spark.exact import pin_zero, safe_div  # noqa: E402,F401


def cosine(a: Column, b: Column) -> Column:
    return safe_div(dot(a, b), l2_norm(a) * l2_norm(b))


def finite_pos_norm(norm: Column) -> Column:
    """True iff ``norm`` is a finite positive double — the vectors for
    which cosine is DEFINED. Zero-norm (cosine 0/0) and non-finite
    (NaN/Inf elements) vectors both fail it and are routed around
    pairwise stages as singletons. One predicate covers both in Spark
    semantics: NaN compares GREATER than everything (so ``NaN > 0`` is
    true but ``NaN < inf`` is false) and ``inf < inf`` is false —
    mirrored by numpy's ``isfinite(s) & (s > 0)`` in the Arrow twin, so
    the two pair engines keep identical pair sets on any input (the r7
    advice's NaN-divergence fix)."""
    return (norm > 0) & (norm < F.lit(float("inf")))


def l2_normalize(a: Column, norm: Column | None = None) -> Column:
    """Unit-normalize. Pass a precomputed ``norm`` ATTRIBUTE column in
    hot paths: higher-order lambdas evaluate interpreted (no CSE), so a
    norm expression closed over by the lambda would re-run the O(dim)
    aggregate once PER ELEMENT — the word_shingles r3 bug class. With
    the default, the recompute is accepted (dim² per row) for
    convenience on small dims."""
    n = F.nullif(l2_norm(a) if norm is None else norm, F.lit(0.0))
    return F.transform(a, lambda x: _d(x) / n)


def knn_bruteforce(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    query_key: str = "query_id",
    corpus_key: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 4,
) -> DataFrame:
    """Exact top-k cosine neighbors per query vector.

    Plan: broadcast the query side (queries ≪ corpus), evaluate cosine
    per (query, corpus) pair JVM-side, then topk_per_group. Rank on the
    *rounded* cosine with the corpus key as tie-break so the result set
    is deterministic under float ties (SURVEY §2.12).
    """
    # Norms are per-ROW: compute them before the pair join so the per-pair
    # work is one dot product, not dot + two 64-element norm reductions.
    # dot/(qn·cn) keeps the oracle's exact expression tree (bit-stable).
    q = queries.select(
        F.col(query_key), F.col(vec_col).alias("__qv"), l2_norm(F.col(vec_col)).alias("__qn")
    )
    c = corpus.select(
        F.col(corpus_key), F.col(vec_col).alias("__cv"), l2_norm(F.col(vec_col)).alias("__cn")
    )
    pairs = c.join(F.broadcast(q), F.col(query_key) != F.col(corpus_key))
    scored = pairs.select(
        query_key,
        corpus_key,
        pin_zero(F.round(
            safe_div(dot(F.col("__qv"), F.col("__cv")), F.col("__qn") * F.col("__cn")), round_digits
        )).alias("cos_sim"),
    )
    return topk_per_group(
        scored,
        partition_by=[query_key],
        order_by=[F.col("cos_sim").desc(), F.col(corpus_key).asc()],
        k=k,
    )


def centroids(
    df: DataFrame, label_col: str = "label", vec_col: str = "embedding"
) -> DataFrame:
    """Per-label centroid via posexplode → per-(label, dim) mean →
    re-assembled array. Shuffles on (label, dim) — 64× the label
    cardinality, uniform, skew-free at any scale."""
    exploded = df.select(label_col, F.posexplode(vec_col).alias("dim", "val"))
    means = exploded.groupBy(label_col, "dim").agg(F.avg(_d(F.col("val"))).alias("mean_val"))
    return (
        means.groupBy(label_col)
        .agg(F.array_sort(F.collect_list(F.struct("dim", "mean_val"))).alias("pairs"))
        .select(label_col, F.transform("pairs", lambda p: p["mean_val"]).alias("centroid"))
    )


def hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Seeded random hyperplanes for sign-LSH (deterministic across runs)."""
    rng = np.random.RandomState(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def lsh_bucket(vec_col: Column, planes: list[list[float]]) -> Column:
    """Sign-LSH bucket id: bit i = sign(v · plane_i). Pure column expr —
    the planes ship as literals inside the plan (bytes, not a join)."""
    bucket = F.lit(0)
    for i, plane in enumerate(planes):
        proj = F.aggregate(
            F.zip_with(vec_col, F.array(*[F.lit(float(p)) for p in plane]), lambda x, y: _d(x) * y),
            F.lit(0.0),
            lambda s, v: s + v,
        )
        bucket = bucket + F.when(proj > 0, F.lit(1 << i)).otherwise(F.lit(0))
    return bucket


def lsh_bucket_ann(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_planes: int = 6,
    dim: int = 64,
    query_key: str = "query_id",
    corpus_key: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    multi_probe: int = 0,
) -> DataFrame:
    """Approximate NN: sign-LSH bucket equi-join prunes candidates
    (~corpus/2^planes per query), then exact cosine re-rank.

    This is the 10⁹-vector shape: the bucket join is an equi shuffle
    join (no broadcast needed), and recall/cost trades off via
    ``n_planes`` and ``multi_probe``: the query side also probes every
    bucket within Hamming distance ≤ multi_probe of its own (probe
    count 1 + C(n,1) + ... + C(n,multi_probe) — query-side fan-out
    only, the big corpus side is indexed ONCE).

    Regime note (measured in tools/scale_stress.py): sign-LSH needs
    angular signal — per-plane agreement is 1-θ/π. Near-dup candidate
    generation (cos ≥ 0.9, θ ≤ 26°) gets high recall from few probes;
    uniform kNN on weakly-clustered data (neighbor cos ≈ 0.35) does
    not, and belongs to :func:`ivf_ann_portable`, whose coarse
    quantizer learns the cluster structure sign planes can't see.
    """
    import itertools as _it

    planes = hyperplanes(dim, n_planes, seed)
    probe_masks = [0]
    for r in range(1, multi_probe + 1):
        for bits in _it.combinations(range(n_planes), r):
            probe_masks.append(sum(1 << b for b in bits))
    q = queries.select(
        F.col(query_key),
        F.col(vec_col).alias("__qv"),
        l2_norm(F.col(vec_col)).alias("__qn"),
        lsh_bucket(F.col(vec_col), planes).alias("__b0"),
    ).select(
        query_key,
        "__qv",
        "__qn",
        # probed buckets are distinct masks ⇒ distinct buckets, and each
        # corpus vector lives in exactly one bucket ⇒ no duplicate pairs
        F.explode(
            F.array(*[F.col("__b0").bitwiseXOR(F.lit(m)) for m in probe_masks])
        ).alias("__b"),
    )
    c = corpus.select(
        F.col(corpus_key),
        F.col(vec_col).alias("__cv"),
        l2_norm(F.col(vec_col)).alias("__cn"),
        lsh_bucket(F.col(vec_col), planes).alias("__b"),
    )
    pairs = c.join(q, on="__b").filter(F.col(query_key) != F.col(corpus_key))
    scored = pairs.select(
        query_key,
        corpus_key,
        pin_zero(F.round(
            safe_div(dot(F.col("__qv"), F.col("__cv")), F.col("__qn") * F.col("__cn")), 4
        )).alias("cos_sim"),
    )
    return topk_per_group(
        scored,
        partition_by=[query_key],
        order_by=[F.col("cos_sim").desc(), F.col(corpus_key).asc()],
        k=k,
    )


def _centroid_frame(spark, rows) -> DataFrame:
    """1-row LOCAL ``__cs`` centroid frame from driver-collected
    ``(cid, cv)`` rows — the r15 opt-wave-2 model-state transport for
    :func:`kmeans_portable_fit` (guide §2.4/§5). The values are
    computed ENTIRELY by Spark aggregates; Python only ferries exact
    longs (NULLs preserved), so the frame is bit-identical to the old
    ``collect_list`` + ``localCheckpoint`` formulation it replaces —
    minus the checkpoint job, the block-store round trip and the
    corpus-lineage broadcast build every consumer used to pay. Every
    consumer expression (array_min argmin, (d, cid) struct sort,
    filter-by-cid) is order-insensitive; rows are sorted by cid only
    so the frame itself is deterministic."""
    data = sorted(
        (
            (
                int(r["cid"]),
                None
                if r["cv"] is None
                else [None if x is None else int(x) for x in r["cv"]],
            )
            for r in rows
        ),
        key=lambda t: t[0],
    )
    # ONE slice: the default parallelize fans 1 row into
    # defaultParallelism empty partitions, so every broadcast build of
    # the model frame would dispatch a core-count of no-op tasks
    rdd = spark.sparkContext.parallelize(
        [([{"cid": c, "cv": v} for c, v in data],)], 1
    )
    return spark.createDataFrame(
        rdd, schema="__cs array<struct<cid:bigint,cv:array<bigint>>>"
    )


def _codebook_frame(spark, rows) -> DataFrame:
    """1-row LOCAL ``__cb`` codebook frame from driver-collected
    ``(sub, cid, cv)`` rows — :func:`_centroid_frame`'s twin for
    :func:`pq_fit_portable` (same exact-transport contract; consumers
    filter by unique (sub, cid), so row order is free and pinned to
    (sub, cid) for determinism)."""
    data = sorted(
        (
            (
                int(r["sub"]),
                int(r["cid"]),
                None
                if r["cv"] is None
                else [None if x is None else int(x) for x in r["cv"]],
            )
            for r in rows
        ),
        key=lambda t: (t[0], t[1]),
    )
    # one slice — see _centroid_frame
    rdd = spark.sparkContext.parallelize(
        [([{"sub": s, "cid": c, "cv": v} for s, c, v in data],)], 1
    )
    return spark.createDataFrame(
        rdd, schema="__cb array<struct<sub:int,cid:bigint,cv:array<bigint>>>"
    )


def kmeans_portable(
    df: DataFrame,
    vec_col: str = "embedding",
    key_col: str = "vec_id",
    k: int = 8,
    iters: int = 2,
    scale: int = 1 << 20,
) -> DataFrame:
    """Deterministic, engine-portable Lloyd k-means assignment — see
    :func:`kmeans_portable_fit` (this is its assignment-only view)."""
    a, _ = kmeans_portable_fit(df, vec_col, key_col, k=k, iters=iters, scale=scale)
    return a.select(key_col, "cluster")


def kmeans_portable_fit(
    df: DataFrame,
    vec_col: str = "embedding",
    key_col: str = "vec_id",
    k: int = 8,
    iters: int = 2,
    scale: int = 1 << 20,
    centroids: DataFrame | None = None,
    dim: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Deterministic, engine-portable Lloyd k-means: returns
    ``(assignment, centroids)`` after ``iters`` iterations — the
    assignment frame ``(key, __qv, cluster)`` and the 1-row centroid
    frame ``__cs: array<struct<cid, cv>>`` (quantized-integer final
    centroids, the coarse-quantizer state :func:`ivf_ann_portable`
    probes against).

    Everything that decides an assignment is EXACT integer math, so any
    engine computes bit-identical clusters (the certification pattern
    that moved SimHash/MinHash off rows-only in r2):

    - embeddings quantize once to longs: ``floor(double(x) · scale)``
      (floor, not round — no rounding-mode ambiguity across engines);
    - init is the ``k`` smallest keys' vectors, cid = rank (seed-free);
    - distances are integer sums of squared diffs; argmin + smallest-cid
      tie-break is ``min(dist·k + cid) % k`` — one exact bigint;
    - new centroid components are ``floor(double(sum)/count)``: the
      numerator is an exact long (≪2⁵³ even at 10⁹ members), so the
      IEEE division and floor are reproducible everywhere.

    Scale shape (the same as distributed MLlib Lloyd): centroids are a
    k-row broadcast, assignment is a narrow map over the corpus, and
    the recompute is ONE shuffle per iteration keyed (cluster, dim)
    with map-side partial sums. ``iters`` is fixed for certification;
    production loops until centroid movement < ε.

    ``centroids=`` injects a pre-trained 1-row ``__cs`` frame (fit on
    a sample, or cached from a prior run) and skips init + iterations
    entirely — ONE assignment pass, the r7-verdict-#5 amortization
    pattern. Assignments are a pure function of (vector, centroids),
    so injecting a full fit's own centroid frame reproduces its
    assignment bit-exactly (pinned by pytest).

    ``dim=`` (r15, guide §2.3) opts the centroid recompute into the
    wide-sum formulation — ``dim`` map-side long sums + a count per
    cluster instead of a dim×-row posexplode, one fewer exchange per
    iteration, bit-identical centroids. CONTRACT: every vector must be
    exactly ``dim`` long with no NULLs (a short/NULL vector silently
    contributes NULL component sums here, where the explode path drops
    its rows) — the PQ compositions already require this, generic
    callers without a fixed-dim guarantee must leave it None.

    r15 (guide §2.5): the quantize + per-row integer-distance argmin
    HOFs are CPU-dense and fuse into the scan; the input takes the
    scale-adaptive fan_out parallelism floor (no-op on real corpora).
    """
    from pipetree_spark.ops.relational import fan_out

    df = fan_out(df)
    # r16 (guide §1.2 step 2, the W3 pattern): the quantize transform,
    # the argmin encode and the injected-state struct sort are each ONE
    # parsed expr string — the lambda-built HOF trees issued ~150 py4j
    # RPCs per assign() call (~0.2-1.2 ms each on this host). The SQL
    # parses to the identical expression tree (integer-literal typing
    # INT×BIGINT→BIGINT matches Column ops; CAST(int AS DOUBLE) folds
    # to the same double literal), so assignments stay bit-identical —
    # parity + the injection-reproducibility pytest pin it.
    q = df.select(
        key_col,
        F.expr(_QUANTIZE_SQL.format(col=sql_ident(vec_col), scale=scale)).alias("__qv"),
    )
    sqd = _SQDIST_SQL.format(vec=sql_ident("__qv"))

    def assign(centroid_row: DataFrame) -> DataFrame:
        enc = F.expr(
            f"array_min(transform(__cs, c -> {sqd}"
            f" * CAST({k} AS BIGINT) + c.cid)) % {k}"
        )
        return q.crossJoin(F.broadcast(centroid_row)).select(
            key_col, "__qv", enc.alias("cluster")
        )

    if centroids is not None:
        # the multiplier encode above is only sound while every cid < k;
        # an injected frame's size is the CALLER's k, so argmin via the
        # (dist, cid) struct sort instead — identical assignment + tie
        # break with no dependence on this function's k parameter
        best = F.expr(
            f"element_at(array_sort(transform(__cs,"
            f" c -> named_struct('d', {sqd}, 'cid', c.cid))), 1).cid"
        )
        a_inj = q.crossJoin(F.broadcast(centroids)).select(
            key_col, "__qv", best.alias("cluster")
        )
        return a_inj, centroids

    # Model-state transport (r15 opt-wave-2, guide §2.4/§5): each k-row
    # centroid state is COLLECTED and re-enters as a LOCAL 1-row frame
    # (:func:`_centroid_frame`) instead of the r9→r15 ``collect_list``
    # + ``localCheckpoint(eager=False)`` formulation. The values are
    # unchanged (same Spark aggregates; Python only ferries exact
    # longs), downstream plans still see a leaf — but the leaf is now
    # driver-local data: no checkpoint-materialization job and no
    # block-store round trip per iteration, and every downstream
    # broadcast of the model builds from local rows instead of
    # re-collecting a checkpointed RDD (one fewer job per consumer
    # branch). Cost: the fit becomes EAGER at construction — exactly
    # the jobs the first action used to trigger, just earlier; the
    # driver-side bytes are the same k×dim longs the old broadcast
    # already collected to the driver.
    spark = df.sparkSession
    # init = the k smallest keys' vectors, cid = key rank: ONE
    # TakeOrdered job; the rank assignment (row_number over
    # Window.orderBy(key) in the pre-r15 shape) happens on the k
    # collected rows — identical cids, one fewer window pass.
    # r16 (r15 ADVICE, low): collect the KEY alongside and re-sort the
    # k rows driver-side — the previous select("__qv")-only collect
    # relied on TakeOrderedAndProjectExec preserving sort order after
    # the sort column is projected away, an implicit planner contract
    # a future planner change could silently break. Keys here are the
    # engine's integer ids, so the Python sort is the same total order.
    init_rows = sorted(
        q.orderBy(key_col).limit(k).select(key_col, "__qv").collect(),
        key=lambda r: r[0],
    )
    cents = _centroid_frame(
        spark,
        [{"cid": i, "cv": r["__qv"]} for i, r in enumerate(init_rows)],
    )

    a = assign(cents)
    for _ in range(iters - 1):
        if dim is not None:
            # r15 (guide §2.3): with a known dimensionality the
            # centroid recompute is ``dim`` map-side-combinable long
            # sums + one count, grouped by cluster — no 64×-row
            # posexplode inflation, and ONE tiny exchange (k rows)
            # instead of the explode path's two (hash(cluster, dim)
            # does not satisfy the follow-up hash(cluster) agg). Each
            # component is the SAME expression — floor(double(sum) /
            # count) — over the same exact long sums, so the centroid
            # frame is bit-identical to the fallback's (parity +
            # pytest pinned).
            # ONE parsed expr for all dim component sums (an array of
            # aggregates — Catalyst extracts each sum into the agg node
            # as before, map-side combine intact) and ONE transform for
            # the recomposed centroid: r15's per-component strings still
            # cost dim+1 RPCs per iteration (65 at dim=64); this is 2.
            # Component math unchanged: floor(double(sum)/count) per
            # element over the same exact long sums (parity-pinned).
            sums = F.expr(
                "array("
                + ",".join(f"sum(element_at(__qv, {i + 1}))" for i in range(dim))
                + ") AS __sums"
            )
            cv = F.expr(
                "transform(__sums,"
                " s -> cast(floor(cast(s as double) / __n) as bigint)) AS cv"
            )
            cents = _centroid_frame(
                spark,
                a.groupBy("cluster")
                .agg(F.count(F.lit(1)).alias("__n"), sums)
                .select(F.col("cluster").alias("cid"), cv)
                .collect(),
            )
            a = assign(cents)
            continue
        comp = (
            a.select("cluster", F.posexplode("__qv").alias("__i", "__x"))
            .groupBy("cluster", "__i")
            .agg(
                F.floor(F.sum("__x").cast("double") / F.count("*")).cast("long").alias("__cd")
            )
        )
        cents = _centroid_frame(
            spark,
            comp.groupBy("cluster")
            .agg(F.array_sort(F.collect_list(F.struct("__i", "__cd"))).alias("__s"))
            .select(
                F.col("cluster").alias("cid"),
                F.transform("__s", lambda t: t["__cd"]).alias("cv"),
            )
            .collect(),
        )
        a = assign(cents)
    return a, cents


def ivf_train(
    df: DataFrame,
    vec_col: str = "embedding",
    key_col: str = "vec_id",
    n_clusters: int = 8,
    iters: int = 2,
    scale: int = 1 << 20,
) -> DataFrame:
    """Train the portable-Lloyd coarse quantizer and return its 1-row
    centroid frame (``__cs: array<struct<cid, cv>>``) — the injectable
    model state :func:`ivf_multiprobe_assign` and
    :func:`semantic_dedup_ann` accept via ``centroids=``.

    This is the production amortization point (r7 verdict #5): at 10⁹
    vectors you train ONCE on a sample (``df.sample(...)``) or load a
    cached centroid frame, then every assignment pass is a narrow map —
    the full-corpus Lloyd rescan the certified query keeps for oracle
    parity never runs. Blocks are a pure function of (vector,
    centroids), so any training corpus yields a valid blocking; only
    recall, not correctness, depends on centroid quality."""
    _, cents = kmeans_portable_fit(
        df, vec_col, key_col, k=n_clusters, iters=iters, scale=scale
    )
    return cents


def _multiprobe_assign_arrow(
    tgt: DataFrame,
    cents_row: list,
    n_probe: int,
    key_col: str,
    vec_col: str,
    scale: int,
    carry_cols: tuple[str, ...],
) -> DataFrame:
    """Arrow twin of the HOF multi-probe assignment: numpy int64
    distance matrix against the collected centroid array. All math is
    exact integer (quantization is the identical IEEE floor(x·scale);
    int64 sums of squared diffs cannot overflow at scale=2²⁰, dim 64),
    and the (d, cid) tie rule is reproduced by argsorting d·k + cid —
    bit-identical probes to the expression twin, pinned by pytest. For
    k ≳ 100 the interpreted per-row k×dim HOF fold dominates the
    expression path; this twin keeps assignment O(n·k·d) in BLAS-speed
    numpy (the FAISS shape)."""
    import pandas as pd

    C = np.array([list(s["cv"]) for s in sorted(cents_row, key=lambda s: s["cid"])],
                 dtype=np.int64)
    cids = np.array([s["cid"] for s in sorted(cents_row, key=lambda s: s["cid"])],
                    dtype=np.int64)
    k = len(cids)
    out_schema = ", ".join(
        [f"{sql_ident(key_col)} {tgt.schema[key_col].dataType.simpleString()}"]
        + [f"{sql_ident(c)} {tgt.schema[c].dataType.simpleString()}" for c in carry_cols]
        + ["cluster long"]
    )

    def assign_batches(it):
        for pdf in it:
            if not len(pdf):
                continue
            V = np.stack(pdf[vec_col].to_numpy())
            Q = np.floor(V.astype(np.float64) * float(scale)).astype(np.int64)
            # ||q-c||² = q·q - 2q·c + c·c, all exact int64
            d2 = (
                (Q * Q).sum(axis=1)[:, None]
                - 2 * (Q @ C.T)
                + (C * C).sum(axis=1)[None, :]
            )
            enc = d2 * np.int64(k) + cids[None, :]
            # match the expr twin's F.slice semantics when the injected
            # quantizer has fewer centroids than the requested probes
            # (auto n_probe derives from the CALLER's k, not this
            # frame's) — emit min(k, n_probe) rows per key, not a
            # pandas length-mismatch crash
            p = min(n_probe, k)
            probes = np.argsort(enc, axis=1, kind="stable")[:, :p]
            chosen = cids[probes]  # (n, p)
            base = {key_col: pdf[key_col].to_numpy().repeat(p)}
            for c in carry_cols:
                base[c] = pdf[c].to_numpy().repeat(p)
            base["cluster"] = chosen.reshape(-1)
            yield pd.DataFrame(base)

    in_cols = [key_col] + [c for c in carry_cols if c != key_col]
    if vec_col not in in_cols:
        in_cols.append(vec_col)
    return tgt.select(*in_cols).mapInPandas(assign_batches, out_schema)


def ivf_multiprobe_assign(
    df: DataFrame | None,
    vec_col: str = "embedding",
    key_col: str = "vec_id",
    n_probe: int = 2,
    n_clusters: int = 8,
    iters: int = 2,
    scale: int = 1 << 20,
    assign_to: DataFrame | None = None,
    assign_key: str | None = None,
    centroids: DataFrame | None = None,
    carry_cols: tuple[str, ...] = (),
    via: str = "expr",
) -> DataFrame:
    """Deterministic multi-probe IVF assignment: each key maps to its
    ``n_probe`` nearest portable-Lloyd centroids (exact integer
    distance, ties → smaller cid via the (d, cid) struct sort — the
    same probe rule :func:`ivf_ann_portable` applies to queries, here
    applied to the corpus itself). Returns ``(key, *carry_cols,
    cluster)`` with ``n_probe`` rows per key — ``carry_cols`` ride the
    narrow assignment map so callers need no re-join against the
    assignment output (the r7 plan shaved one shuffle join this way).

    This is the standard recall lever for BLOCKED pairwise ops
    (semantic dedup, decontamination): two vectors collide if ANY
    probed cell is shared, so near-dups sitting just across a Voronoi
    boundary — the single-probe miss mode — still pair up, at n_probe×
    membership cost instead of n² pairs.

    ``centroids`` injects a pre-trained quantizer (see
    :func:`ivf_train`) and skips the Lloyd fit entirely; ``df`` may
    then be None. ``via="arrow"`` switches the per-row k-centroid
    distance scan from the interpreted HOF fold to the bit-identical
    numpy twin (:func:`_multiprobe_assign_arrow`) — the right engine
    once auto-sizing pushes k past ~100.

    Scale shape: centroids are a k-row broadcast (expr) or a
    closure-shipped int64 matrix (arrow); assignment is a narrow map +
    explode — no shuffle."""
    if centroids is None:
        # train on df, assign to assign_to (default df): blocks are a
        # pure function of the vector, so a dup-heavy corpus can
        # collapse first and probe only its distinct reps — the
        # quantizer still trains on the FULL corpus (duplicates weight
        # the centroid means, which is what any oracle re-derivation
        # sees)
        centroids = ivf_train(df, vec_col, key_col, n_clusters, iters, scale)
    tgt = df if assign_to is None else assign_to
    tgt_key = key_col if assign_key is None else assign_key
    renamed = tgt if tgt_key == key_col else tgt.withColumnRenamed(tgt_key, key_col)
    if via == "arrow":
        cents_row = centroids.collect()[0]["__cs"]  # 1-row model state
        return _multiprobe_assign_arrow(
            renamed, cents_row, n_probe, key_col, vec_col, scale, carry_cols
        )
    q = renamed.select(
        key_col,
        *carry_cols,
        F.expr(_QUANTIZE_SQL.format(col=sql_ident(vec_col), scale=scale)).alias("__qv"),
    )
    return _probe_cells(q, centroids, n_probe, key_col, tuple(carry_cols))


def blocked_cos_pairs_arrow(
    memberships: DataFrame,
    threshold: float,
    id_col: str = "rep_id",
    block_col: str = "block",
    vec_col: str = "embedding",
    chunk: int = 2048,
    contract: bool = False,
    exact_order: bool = True,
    cell_cap: int | None = None,
) -> DataFrame:
    """Within-block all-pairs cosine candidates via applyInPandas — the
    Arrow-vectorized twin of the JVM-expression pair stage (llm_ops
    _cos_pairs), for blocks big enough that interpreted higher-order
    functions dominate (measured sf0.1, 2.25M candidate pairs: HOF
    11.7 s → this 1.3 s, identical pair set).

    Bit-exactness contract: the cosine accumulates DIM-SEQUENTIALLY
    (one vectorized add per dimension across the whole pair block), so
    every pair's sum is the left-associated scalar fold — the exact
    order of F.aggregate/zip_with AND DuckDB's list_sum. Oracle parity
    is preserved; only the batching changes. float32 → float64 widening
    per element is exact, as in the expression path.

    Scale shape: one shuffle on block, then a per-cell O(m²/chunk)
    numpy pass (chunked rows bound memory at chunk×m doubles); cell
    size m is the quantizer knob (k ∝ √n keeps m ~√n). Emits each
    ordered pair once per shared block — multi-probe callers dedup
    with .distinct().

    ``contract=True`` (the CC feeder mode, r8): instead of every
    qualifying pair, emit each block-local connected component as a
    STAR — (member, local-min-id) edges from a union-find over the
    block's pairs. The union of per-block stars has the same
    transitive closure as the union of all within-block pairs, so
    downstream connected components are IDENTICAL, but edge volume
    drops from O(Σ m²) to O(Σ m) and chain-shaped components collapse
    to ~2 hops — measured 12 plain label-propagation rounds → 3 on the
    sf0.1 threshold-0.35 graph. Only the final component labeling may
    consume contracted output; anything needing the actual pair set
    (recall measurement, verify stages) must keep contract=False.

    ``exact_order=False`` (the production throughput mode): compute the
    within-cell dot-product matrix with one BLAS GEMM instead of the 64
    dim-sequential vectorized adds. ~20× less memory traffic, but the
    sums are reassociated, so a cosine within ~1e-15 relative of the
    threshold can flip — NOT oracle-certifiable; the certified queries
    keep the default. Measured on the 200k-unique stress: the pair
    stage's 30-minute dim-sequential pass drops to ~2 minutes
    end-to-end with identical planted-truth recall.

    ``cell_cap`` (the skew knob, r8): a k-means quantizer's occupancy
    is skewed (measured max ≈ 5× average at 200k uniques), and one
    oversized cell serializes onto one task. With a cap, each block of
    m > cap rows is TILED: rows hash into T = ⌈m/cap⌉ buckets and the
    all-pairs work splits into the T(T+1)/2 bucket-pair tiles (every
    row replicated into its T tiles). A mixed tile (i, j) evaluates
    ONLY the cross i×j matrix — each unordered pair once, reoriented
    to (min, max) on emit (commutative per-dim products, so the
    per-pair dim-sequential sum is bit-identical either way); the
    diagonal tile (i, i) evaluates its full matrix with the usual
    a<b halving. Every pair is therefore evaluated exactly once, the
    emitted pair set is identical to the untiled pass (pinned by the
    hypothesis twin test), and total matrix work is ~HALF the untiled
    full-matrix pass (which computes both orientations). Pure
    parallelism, no recall trade, unlike sub-quantization; cost is ×T
    row replication of the oversized cells only."""
    import pandas as pd

    tiled = cell_cap is not None

    def per_block(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np

        ids = pdf[id_col].to_numpy()
        V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
        bks = pdf["__bk"].to_numpy() if tiled else None
        mixed = tiled and len(pdf) and pdf["__ti"].iat[0] != pdf["__tj"].iat[0]
        n, d = V.shape
        nrm = None
        if n >= 2:
            # zero-norm and non-finite vectors: cosine undefined, never
            # near-dups — excluded exactly as the expression twin's
            # finite_pos_norm filter. Masking rows does not change
            # per-row dim-sequential sums, so surviving norms are
            # reused as-is.
            s = V[:, 0] * V[:, 0]
            for i in range(1, d):
                s = s + V[:, i] * V[:, i]
            keep = np.isfinite(s) & (s > 0)
            ids, V = ids[keep], V[keep]
            if tiled:
                bks = bks[keep]
            nrm = np.sqrt(s[keep])
            n = len(ids)
        if n < 2:
            return pd.DataFrame(
                {"id_a": np.array([], dtype="int64"), "id_b": np.array([], dtype="int64")}
            )
        outs_a, outs_b = [], []

        def scan(c_ids, c_V, c_nrm, r_ids, r_V, r_nrm, full):
            # full=True: self all-pairs — scan only the block-upper
            # triangle (R = rows[lo:], keep strictly-later POSITIONS
            # ju > iu), so each unordered pair's matrix entry is
            # computed exactly once regardless of id order, then
            # reorient ids to (min, max) on emit. Per-pair sums are
            # unchanged (commutative per-dim products).
            # full=False: cross product — each pair once, reorient.
            for lo in range(0, len(c_ids), chunk):
                C = c_V[lo : lo + chunk]
                if full:
                    R_ids, R_V, R_nrm = r_ids[lo:], r_V[lo:], r_nrm[lo:]
                else:
                    R_ids, R_V, R_nrm = r_ids, r_V, r_nrm
                if exact_order:
                    acc = C[:, 0][:, None] * R_V[:, 0][None, :]
                    for i in range(1, d):
                        acc += C[:, i][:, None] * R_V[:, i][None, :]
                else:
                    acc = C @ R_V.T
                cos = acc / (c_nrm[lo : lo + chunk][:, None] * R_nrm[None, :])
                iu, ju = np.where(cos >= threshold)
                if full:
                    # R is positionally aligned to C at offset lo, so
                    # ju > iu keeps the strict upper triangle (and
                    # drops the cos(a,a)=1 diagonal)
                    keep_ut = ju > iu
                    iu, ju = iu[keep_ut], ju[keep_ut]
                ia, jb = c_ids[lo : lo + chunk][iu], R_ids[ju]
                outs_a.append(np.minimum(ia, jb))
                outs_b.append(np.maximum(ia, jb))

        if mixed:
            # a mixed tile (i, j) owns ONLY cross-bucket pairs —
            # intra-bucket pairs belong to the diagonal tiles. Scan the
            # i×j cross matrix directly (half the work of masking a
            # full matrix; measured 1793 s → 2914 s regression when the
            # first cut did the latter).
            sel = bks == pdf["__ti"].iat[0]
            if sel.any() and (~sel).any():
                scan(ids[sel], V[sel], nrm[sel], ids[~sel], V[~sel], nrm[~sel], False)
        else:
            scan(ids, V, nrm, ids, V, nrm, True)
        if not outs_a:
            return pd.DataFrame(
                {"id_a": np.array([], dtype="int64"), "id_b": np.array([], dtype="int64")}
            )
        id_a, id_b = np.concatenate(outs_a), np.concatenate(outs_b)
        if contract and len(id_a):
            # per-block union-find → star edges (member, local-min id)
            parent: dict = {}

            def find(x):
                r = x
                while parent.get(r, r) != r:
                    r = parent[r]
                while parent.get(x, x) != x:  # path compression
                    parent[x], x = r, parent[x]
                return r

            for x, y in zip(id_a.tolist(), id_b.tolist()):
                rx, ry = find(x), find(y)
                if rx != ry:
                    # union by value: smaller id stays root, so the
                    # final root IS the component's min id
                    if rx < ry:
                        parent[ry] = rx
                    else:
                        parent[rx] = ry
            members = sorted({int(x) for x in id_a} | {int(x) for x in id_b})
            roots = np.array([find(x) for x in members], dtype="int64")
            members = np.array(members, dtype="int64")
            keep = roots != members
            id_a, id_b = roots[keep], members[keep]
        return pd.DataFrame({"id_a": id_a, "id_b": id_b})

    # Explicit hash repartition on the block key BEFORE the grouped map:
    # this stage is COMPUTE-bound (per-cell m² GEMM), not byte-bound, so
    # AQE's size-based coalescing is exactly wrong here — measured on the
    # 200k-unique stress it folded ~540 MB of memberships into 3 post-
    # shuffle partitions and serialized the whole pair pass onto 3
    # cores. A numbered repartition is exempt from AQE coalescing and
    # satisfies the grouped-map's clustered-distribution requirement, so
    # no second exchange is added.
    spark = memberships.sparkSession
    try:
        conf_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    except ValueError:  # e.g. "auto" under vendor AQE auto-tuning
        conf_parts = 0
    n_tasks = max(conf_parts, spark.sparkContext.defaultParallelism)
    src, group_cols = memberships, [block_col]
    if tiled:
        # tile oversized blocks: T = ⌈m/cap⌉ hash buckets per block,
        # each row exploded into its T bucket-pair tiles. The sizes
        # frame is k rows — broadcast, never a shuffle. The input is
        # lazily checkpointed first: sizes AND the join both consume
        # it, and without the materialization the (possibly expensive)
        # membership-producing stage runs twice — measured 2× the whole
        # pair pass on the 200k stress.
        src = memberships.localCheckpoint(eager=False)
        sizes = src.groupBy(block_col).agg(F.count("*").alias("__m"))
        src = (
            src.join(F.broadcast(sizes), block_col)
            .withColumn("__nt", F.ceil(F.col("__m") / F.lit(cell_cap)).cast("int"))
            .withColumn("__bk", F.pmod(F.xxhash64(F.col(id_col)), F.col("__nt")).cast("int"))
            .withColumn("__ot", F.explode(F.sequence(F.lit(0), F.col("__nt") - 1)))
            .withColumn("__ti", F.least("__bk", "__ot"))
            .withColumn("__tj", F.greatest("__bk", "__ot"))
            .drop("__m", "__nt", "__ot")
        )
        group_cols = [block_col, "__ti", "__tj"]
    return src.repartition(n_tasks, *group_cols).groupBy(*group_cols).applyInPandas(
        per_block, "id_a long, id_b long"
    )


def cos_pairs_blocked(
    memberships: DataFrame,
    threshold: float,
    id_col: str = "rep_id",
    block_col: str = "block",
    vec_col: str = "embedding",
) -> DataFrame:
    """Within-block cosine candidate pairs, JVM-expression variant:
    self-join on block, id_a < id_b, fixed-order double cosine ≥
    threshold. ``memberships`` may carry several rows per id
    (multi-probe blocking). Zero-norm and non-finite vectors are
    filtered out BEFORE the join (:func:`finite_pos_norm`): cosine is
    undefined for them (never near-dups), and under ANSI mode the
    division would raise DIVIDE_BY_ZERO even on rows a later filter
    drops. The Arrow twin (:func:`blocked_cos_pairs_arrow`) applies
    the same exclusion and the same summation order, so the two
    engines' pair sets are identical — pinned by a hypothesis test.
    The norm product of two surviving vectors cannot underflow to 0.0
    (min float32 subnormal² sums are ≫ the double underflow bound)."""
    a = memberships.select(
        F.col(id_col).alias("id_a"), F.col(block_col).alias("block"),
        F.col(vec_col).alias("va"), l2_norm(F.col(vec_col)).alias("na"),
    ).filter(finite_pos_norm(F.col("na")))
    b = memberships.select(
        F.col(id_col).alias("id_b"), F.col(block_col).alias("bb"),
        F.col(vec_col).alias("vb"), l2_norm(F.col(vec_col)).alias("nb"),
    ).filter(finite_pos_norm(F.col("nb")))
    cos = dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return (
        a.join(b, a["block"] == b["bb"])
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(cos >= threshold)
        .select("id_a", "id_b")
    )


def semantic_dedup(
    df: DataFrame,
    key_col: str = "vec_id",
    block_col: str = "label",
    vec_col: str = "embedding",
    threshold: float = 0.35,
) -> DataFrame:
    """Blocked SEMANTIC dedup audit table — the engine behind
    q_dedup_semantic: exact-vector collapse per (block, vector) →
    within-block cosine pairs at ``threshold`` → connected components →
    min-id keeper; members re-attach by their collapse key. Emits
    (key, component, is_kept). JSON-declarable through the pipeline
    ``op`` stage type."""
    from pipetree_spark.ops.graph import connected_components

    eb = df.select(
        F.col(key_col).alias("vec_id"),
        F.col(block_col).alias("block"),
        F.col(vec_col).alias("embedding"),
    )
    # zero-norm, non-finite and NULL vectors bypass the collapse: the
    # dedup predicate is "cosine ≥ threshold", which is UNDEFINED for
    # them — so even byte-identical such vectors stay singletons
    # (exactly what the pairwise oracle derives: NULL cosine never
    # links). Collapsing them would over-merge relative to the
    # definition. The coalesce routes NULL embeddings (predicate
    # itself NULL) into the singleton branch instead of silently
    # dropping the row from BOTH branches.
    ok = F.coalesce(finite_pos_norm(l2_norm(F.col("embedding"))), F.lit(False))
    zero = eb.filter(~ok).select(
        F.col("vec_id").alias(key_col),
        F.col("vec_id").alias("component"),
        F.lit(1).alias("is_kept"),
    )
    nz = eb.filter(ok)
    # r15 note: a lazy localCheckpoint on this collapse (the
    # semantic_dedup_ann move — it is consumed by both the pair/CC
    # build and the rep_comp join) was measured SLOWER here in two
    # alternating A/B cycles (1.82-2.14 s vs 1.55-1.80 s at sf0.1):
    # the blocked variant's collapse is cheap enough that block-store
    # round-tripping costs more than the second evaluation saves.
    grp = nz.groupBy("block", "embedding").agg(F.min("vec_id").alias("rep_id"))
    reps = grp.select("rep_id", "block", "embedding")
    # Arrow pair twin (bit-identical to cos_pairs_blocked — pinned by
    # the hypothesis twin test) in contract mode: per-label union-find
    # emits star edges, so CC sees O(Σm) edges and ~2-hop components
    # instead of diameter-long chains (same final components). The
    # distinct() is CC's ReusedExchange point (see semantic_dedup_ann).
    pairs = blocked_cos_pairs_arrow(reps, threshold, block_col="block", contract=True).distinct()
    cc = connected_components(pairs, src="id_a", dst="id_b")
    rep_comp = reps.join(cc, reps["rep_id"] == cc["node"], "left").select(
        "rep_id", "block", "embedding",
        F.coalesce("component", "rep_id").alias("component"),
    )
    return (
        nz.join(rep_comp, ["block", "embedding"])
        .select(
            F.col("vec_id").alias(key_col),
            "component",
            (F.col("vec_id") == F.col("component")).cast("int").alias("is_kept"),
        )
        .unionByName(zero)
    )


def semantic_dedup_ann(
    df: DataFrame,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.35,
    n_clusters: int | str = 8,
    n_probe: int | str = 3,
    iters: int = 2,
    centroids: DataFrame | None = None,
    assign_via: str = "expr",
    exact_pairs: bool = True,
    cell_cap: int | None = None,
) -> DataFrame:
    """Label-free semantic dedup — the engine behind
    q_dedup_semantic_ann (the at-scale shape): block by the portable
    IVF coarse quantizer's multi-probe cell assignment instead of a
    metadata column. Exact-vector collapse (blocks are a pure function
    of the vector) → quantizer trained on the FULL input → ``n_probe``
    memberships per collapsed rep → Arrow-vectorized within-cell
    cosine pairs → connected components → min-id keeper. Emits
    (key, component, is_kept). JSON-declarable through the pipeline
    ``op`` stage type.

    Production knobs (r7 verdict #4/#5):

    - ``n_clusters="auto"`` sizes the quantizer to ⌈√n_reps⌉ (floor 8)
      — cells stay ~√n rows so the per-cell m² pair stage is
      near-linear overall; a fixed k dies at 1000× because cells grow
      linearly. ``n_probe="auto"`` co-scales probes as ⌈log₂k⌉ (floor
      3; calibrated at the shipped k=8/p=3 point): more, smaller cells
      need more probes to keep boundary-straddling near-dup pairs
      colliding — SCALING.md measured k=32 at FIXED p=3 losing recall
      to 0.59, so the two knobs must move together.
    - ``centroids=`` injects a pre-trained quantizer
      (:func:`ivf_train` on a sample, or cached) and skips the
      full-corpus Lloyd rescan — identical components whenever the
      same centroid frame is supplied (blocks are a pure function of
      (vector, centroids); pinned by pytest).
    - ``assign_via="arrow"`` uses the bit-identical numpy assignment
      twin — the right engine once auto-sizing pushes k past ~100.
    - ``exact_pairs=False`` computes the within-cell dot products with
      one BLAS GEMM instead of the dim-sequential IEEE fold — ~20×
      faster pair stage, threshold decisions can flip within ~1e-15
      relative; production-only, never for oracle-certified queries.
    - ``cell_cap`` tiles quantizer cells above the cap into bucket-pair
      tasks — identical pair set (no recall trade), parallelizes the
      skewed-cell tail (see :func:`blocked_cos_pairs_arrow`). Pass
      4096 in production at ≥~100k uniques (the r8 interleaved cap
      matrix: mean 1.8×, 3× on cold JVMs at 200k — the stress harness
      does). Default ``None``: setting the cap engages the tiling
      machinery (checkpoint + size pass + tile join) even when no
      cell exceeds it — pure overhead below the regime the matrix
      proved, so the certified small-scale path keeps it off and
      production opts in.
    """
    from pipetree_spark.ops.graph import connected_components

    e = df.select(F.col(key_col).alias("vec_id"), F.col(vec_col).alias("embedding"))
    # zero-norm, non-finite and NULL vectors stay singletons (see
    # semantic_dedup — cosine is undefined for them, so the pairwise
    # definition never links them; the coalesce keeps NULL embeddings
    # in the output instead of dropping them from both branches)
    ok = F.coalesce(finite_pos_norm(l2_norm(F.col("embedding"))), F.lit(False))
    zero = e.filter(~ok).select(
        F.col("vec_id").alias(key_col),
        F.col("vec_id").alias("component"),
        F.lit(1).alias("is_kept"),
    )
    nz = e.filter(ok)
    # r15 (guide §5/§2.4): the exact-vector collapse is a full-width
    # shuffle of the embeddings and is consumed by TWO job chains — the
    # membership/pair/CC build (which materializes inside CC's round-0
    # job) and the final rep_comp join — so without a lineage cut it
    # evaluates twice per query. Lazy checkpoint: CC's first job
    # materializes it, the final join reads the stored blocks.
    grp = (
        nz.groupBy("embedding")
        .agg(F.min("vec_id").alias("rep_id"))
        .localCheckpoint(eager=False)
    )
    if n_clusters == "auto" or n_probe == "auto":
        import math

        n_reps = grp.count()
        if n_clusters == "auto":
            n_clusters = max(8, math.isqrt(max(n_reps - 1, 0)) + 1)  # ⌈√n⌉
        if n_probe == "auto":
            n_probe = max(3, math.ceil(math.log2(n_clusters)))
    # train on the FULL corpus (oracle parity: duplicates and zero
    # vectors weight the centroids) minus non-finite vectors — the
    # quantizer's floor() would raise on NaN under ANSI, and a vector
    # that can never pair has no business steering centroids; assign
    # probes only to the collapsed reps — on a dup-heavy corpus this
    # skips the k-distance pass over every copy. The embedding rides
    # the (narrow, shuffle-free) assignment map, so memberships need
    # no join back against the reps.
    memberships = ivf_multiprobe_assign(
        e.filter(l2_norm(F.col("embedding")) < F.lit(float("inf"))),
        "embedding", "vec_id",
        n_probe=n_probe, n_clusters=n_clusters, iters=iters,
        assign_to=grp.select("rep_id", "embedding"), assign_key="rep_id",
        centroids=centroids, carry_cols=("embedding",), via=assign_via,
    ).select(F.col("vec_id").alias("rep_id"), F.col("cluster").alias("block"), "embedding")
    # contract=True: per-block union-find emits star edges instead of
    # all pairs — identical transitive closure, O(Σm) instead of O(Σm²)
    # edges into the shuffle, and chain components collapse to ~2 hops
    # so CC converges in ~3 rounds instead of diameter-many. The
    # distinct() both dedups multi-probe duplicate edges and gives
    # CC's two-branch symmetric union a ReusedExchange point — without
    # it each branch re-runs the Arrow pair stage (measured +1 s).
    pairs = blocked_cos_pairs_arrow(
        memberships, threshold, contract=True, exact_order=exact_pairs,
        cell_cap=cell_cap,
    ).distinct()
    cc = connected_components(pairs, src="id_a", dst="id_b")
    rep_comp = grp.join(cc, grp["rep_id"] == cc["node"], "left").select(
        "embedding", F.coalesce("component", "rep_id").alias("component")
    )
    return (
        nz.join(rep_comp, "embedding")
        .select(
            F.col("vec_id").alias(key_col),
            "component",
            (F.col("vec_id") == F.col("component")).cast("int").alias("is_kept"),
        )
        .unionByName(zero)
    )


def _probe_cells(
    qq: DataFrame,
    cents: DataFrame,
    n_probe: int,
    query_key: str,
    carry: tuple[str, ...],
) -> DataFrame:
    """Explode each query row into its ``n_probe`` nearest centroid
    cells — exact integer distance, ties → smaller cid via the (d, cid)
    struct sort. The ONE probe rule every portable ANN op shares (a
    change here moves ivf/pq/residual in lockstep, keeping their
    certified oracles in parity). ``qq`` must carry ``__qv``;
    ``carry`` columns ride the explode. One parsed expr (r16, the W3
    pattern — was ~70 RPCs of lambda-built Column tree); named_struct
    builds the same struct<d,cid> the F.struct formulation did, so the
    (d, cid) array_sort tie-break is unchanged."""
    sqd = _SQDIST_SQL.format(vec=sql_ident("__qv"))
    return qq.crossJoin(F.broadcast(cents)).select(
        query_key,
        *carry,
        F.expr(
            f"explode(transform(slice(array_sort(transform(__cs,"
            f" c -> named_struct('d', {sqd}, 'cid', c.cid))), 1, {n_probe}),"
            f" s -> s.cid)) AS cluster"
        ),
    )


def _adc_shortlist(
    cand: DataFrame, m: int, shortlist: int, query_key: str, corpus_key: str
) -> DataFrame:
    """ADC-score candidates (``__qsubs`` vs broadcast ``__cb`` through
    their ``codes``) and keep the ``shortlist`` best per query —
    shared by both IVF-PQ compositions."""
    return topk_per_group(
        cand.select(
            query_key, corpus_key, "__mv", "__qn", _pq_adc_dist(m).alias("adc_dist")
        ),
        partition_by=[query_key],
        order_by=[F.col("adc_dist").asc(), F.col(corpus_key).asc()],
        k=shortlist,
    )


def _rerank_exact(
    short: DataFrame,
    corpus: DataFrame,
    k: int,
    query_key: str,
    corpus_key: str,
    vec_col: str,
) -> DataFrame:
    """Exact rounded-cosine re-rank (the q_vec_cosine_knn float policy:
    ROUND(·,4) + key tie-break) of a shortlist carrying (__mv, __qn)."""
    emb = corpus.select(
        F.col(corpus_key),
        F.col(vec_col).alias("__cv"),
        l2_norm(F.col(vec_col)).alias("__cn"),
    )
    scored = short.join(emb, corpus_key).select(
        query_key,
        corpus_key,
        pin_zero(F.round(
            safe_div(dot(F.col("__mv"), F.col("__cv")), F.col("__qn") * F.col("__cn")), 4
        )).alias("cos_sim"),
    )
    return topk_per_group(
        scored,
        partition_by=[query_key],
        order_by=[F.col("cos_sim").desc(), F.col(corpus_key).asc()],
        k=k,
    )


def ivf_ann_portable(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_probe: int = 2,
    n_clusters: int = 8,
    iters: int = 2,
    query_key: str = "query_id",
    corpus_key: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1 << 20,
) -> DataFrame:
    """IVF ANN whose every stage is deterministic and engine-portable:

    - coarse quantizer: :func:`kmeans_portable_fit` (exact-integer
      Lloyd, seed-free init) — corpus partitioning is bit-reproducible;
    - probe: each query's ``n_probe`` nearest centroids by the same
      exact integer distance (ties → smaller cid, via sort on the
      (dist, cid) struct);
    - candidate generation: equi-join on cluster id (the IVF shape that
      replaces broadcast kNN beyond ~10⁷ vectors — no corpus broadcast,
      no n² pairs);
    - re-rank: exact cosine over the probed candidates, ROUND(·,4) +
      key tie-break (the q_vec_cosine_knn float policy — ~1e-15 drift
      vs 1e-4 grid).

    Recall/cost tuning knobs: n_probe and n_clusters. The quantizer is
    fixed-step integer Lloyd rather than converged seeded k-means,
    which costs a little recall, not scalability.
    """
    assign_df, cents = kmeans_portable_fit(
        corpus, vec_col, corpus_key, k=n_clusters, iters=iters, scale=scale
    )
    c = corpus.select(
        F.col(corpus_key),
        F.col(vec_col).alias("__cv"),
        l2_norm(F.col(vec_col)).alias("__cn"),
    ).join(assign_df.select(corpus_key, "cluster"), corpus_key)

    qq = queries.select(
        F.col(query_key),
        F.col(vec_col).alias("__mv"),
        l2_norm(F.col(vec_col)).alias("__qn"),
        _pq_quantize(vec_col, scale).alias("__qv"),
    )
    probes = _probe_cells(qq, cents, n_probe, query_key, ("__mv", "__qn"))
    pairs = probes.join(c, on="cluster").filter(F.col(query_key) != F.col(corpus_key))
    scored = pairs.select(
        query_key,
        corpus_key,
        pin_zero(F.round(
            safe_div(dot(F.col("__mv"), F.col("__cv")), F.col("__qn") * F.col("__cn")), 4
        )).alias("cos_sim"),
    )
    return topk_per_group(
        scored,
        partition_by=[query_key],
        order_by=[F.col("cos_sim").desc(), F.col(corpus_key).asc()],
        k=k,
    )


def pca_power_portable(
    df: DataFrame,
    vec_col: str = "embedding",
    key_col: str = "vec_id",
    iters: int = 3,
    scale: int = 1 << 20,
    rescale: int = 1 << 10,
) -> DataFrame:
    """Deterministic, engine-portable ``iters``-step power-iteration
    direction (integer-quantized) — the certifiable statistic of the
    PCA family; returns 64 rows ``(component, loading)`` with
    exact-integer loadings in [-rescale, rescale]. With a healthy
    eigengap it converges to the top principal direction; on
    near-isotropic data small ``iters`` only turns toward it — this op
    certifies DETERMINISM (any engine, bit-identical), not
    convergence — raise ``iters`` for that.

    Same certification contract as :func:`kmeans_portable`: every value
    that decides the output is either exact integer math or an
    identical IEEE double expression, so any engine reproduces it
    bit-for-bit:

    - quantize ``floor(double(x)·scale)``, center by the per-dim
      ``floor(sum/count)`` integer mean;
    - iterate ``t_i = Σ_d cq_id·v_d`` (exact longs, v₀ = all-ones),
      rescaled to ±rescale via ``floor(double(t)/max|t|·rescale)``,
      then ``w_d = Σ_i s_i·cq_id`` rescaled the same way;
    - sign convention: the first maximal-|loading| component is
      non-negative (array_position / list_position agree on "first").

    The coarse ±2¹⁰ loading grid is the price of exactness — this is
    the certified DIRECTION statistic, not an eigenvalue spectrum or
    an exact rotation.

    Scale shape per iteration: one narrow pass (zip_with dot against a
    broadcast 1-row iterate — no explode, no join) plus one
    ``groupBy(dim)`` shuffle whose map-side combine reduces traffic to
    64·n_partitions rows. The 1-row max-abs aggregates broadcast back.

    The 1-row iterate/max frames are eagerly ``localCheckpoint``-ed
    (the ops.graph connected-components precedent): without the
    lineage cut every reference re-evaluates its whole upstream
    subtree and the plan re-scans the corpus ~2^iters times (measured
    50 s vs ~6 s at sf0.01). Only 1-row model state is materialized —
    corpus rows never leave executors.
    """
    q = df.select(
        key_col,
        F.transform(
            vec_col, lambda x: F.floor(x.cast("double") * F.lit(float(scale))).cast("long")
        ).alias("__qv"),
    )
    dims = F.posexplode("__qv")
    mu_row = (
        q.select(dims.alias("__i", "__x"))
        .groupBy("__i")
        .agg(F.floor(F.sum("__x").cast("double") / F.count("*")).cast("long").alias("__m"))
        .groupBy()
        .agg(F.array_sort(F.collect_list(F.struct("__i", "__m"))).alias("__s"))
        .select(F.transform("__s", lambda t: t["__m"]).alias("__mu"))
        .localCheckpoint()
    )
    cq = q.crossJoin(F.broadcast(mu_row)).select(
        key_col, F.zip_with("__qv", "__mu", lambda x, m: x - m).alias("__cq")
    )

    def dot_v(v_expr) -> Column:
        return F.aggregate(
            F.zip_with("__cq", v_expr, lambda x, v: x * v),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    v_row = None  # None → v0 = all-ones, handled inline
    for _ in range(iters):
        if v_row is None:
            t = cq.select(
                key_col,
                "__cq",
                F.aggregate(
                    "__cq", F.lit(0).cast("long"), lambda acc, x: acc + x
                ).alias("__t"),
            )
        else:
            t = cq.crossJoin(F.broadcast(v_row)).select(
                key_col, "__cq", dot_v(F.col("__v")).alias("__t")
            )
        mt = t.agg(F.max(F.abs("__t")).alias("__mt")).localCheckpoint()
        s = t.crossJoin(F.broadcast(mt)).select(
            "__cq",
            F.floor(F.col("__t").cast("double") / F.col("__mt") * F.lit(float(rescale)))
            .cast("long")
            .alias("__sc"),
        )
        # checkpoint the 64-row w — mw and the next iterate then derive
        # from materialized data instead of re-running the corpus pass
        w = (
            s.select(F.col("__sc"), F.posexplode("__cq").alias("__i", "__x"))
            .groupBy("__i")
            .agg(F.sum(F.col("__sc") * F.col("__x")).alias("__w"))
            .localCheckpoint()
        )
        mw = w.agg(F.max(F.abs("__w")).alias("__mw"))
        v_row = (
            w.crossJoin(F.broadcast(mw))
            .select(
                "__i",
                F.floor(F.col("__w").cast("double") / F.col("__mw") * F.lit(float(rescale)))
                .cast("long")
                .alias("__vd"),
            )
            .groupBy()
            .agg(F.array_sort(F.collect_list(F.struct("__i", "__vd"))).alias("__s"))
            .select(F.transform("__s", lambda st: st["__vd"]).alias("__v"))
            .localCheckpoint()
        )
    absv = F.transform("__v", F.abs)
    mabs = F.array_max(absv)
    signed = F.when(
        F.element_at(F.col("__v"), F.array_position(absv, mabs).cast("int")) < 0,
        F.transform("__v", lambda x: -x),
    ).otherwise(F.col("__v"))
    return v_row.select(F.posexplode(signed).alias("component", "loading")).select(
        F.col("component").cast("long").alias("component"),
        F.col("loading").cast("long").alias("loading"),
    )


def _pq_quantize(vec_col: str, scale: int) -> Column:
    return F.expr(_QUANTIZE_SQL.format(col=sql_ident(vec_col), scale=scale))


def _pq_subvectors(qv: Column, m: int, dim: int) -> Column:
    d_sub = dim // m
    return F.array(*[F.slice(qv, s * d_sub + 1, d_sub) for s in range(m)])


def pq_fit_portable(
    df: DataFrame,
    vec_col: str = "embedding",
    key_col: str = "vec_id",
    m: int = 4,
    n_codes: int = 16,
    dim: int = 64,
    iters: int = 2,
    scale: int = 1 << 20,
    quantized_col: str | None = None,
    codebook: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Deterministic, engine-portable product quantization (PQ): split
    each vector into ``m`` contiguous subvectors of ``dim/m`` dims and
    Lloyd-cluster every subspace into ``n_codes`` codes. Returns
    ``(codes, codebook)`` — ``codes`` is ``(key, codes: array<long>)``
    (the ``m``-byte compressed representation: 64 float32 dims → m
    small ints, 64× memory cut at m=4/n_codes=16), ``codebook`` the
    1-row frame ``__cb: array<struct<sub, cid, cv>>`` every decode /
    ADC pass broadcasts.

    This is :func:`kmeans_portable_fit` generalized with a subspace
    grouping key, under the same certification contract — every
    assignment-deciding value is exact integer math (floor-quantized
    inputs, integer squared distances, ``min(dist·n_codes+cid)``
    argmin-with-tie-break, ``floor(sum/count)`` centroid recompute),
    so any engine reproduces codes bit-identically:

    - init: subspace ``s``'s codebook = the ``n_codes`` smallest keys'
      ``s``-th subvectors, cid = key rank (seed-free);
    - each iteration is ONE assignment pass (narrow map against the
      broadcast codebook — all m subspaces assigned in a single
      expression, no per-subspace job) + ONE ``groupBy(sub, code,
      dim)`` recompute shuffle with map-side partial sums.

    Scale shape: the corpus never replicates (the exploded sv frame is
    m narrow rows per vector), the model state is m·n_codes rows
    broadcast once per pass — the same distributed-Lloyd shape as the
    coarse quantizer. Production trains on a sample and injects the
    codebook, exactly like :func:`ivf_train` (r7 verdict #5 pattern).

    ``quantized_col`` feeds an already-integer vector column (e.g. the
    residuals of :func:`ivfpq_residual_ann_portable`) straight into the
    subspace split, skipping the float quantization step.

    ``codebook=`` injects a pre-trained 1-row ``__cb`` frame (fit on a
    sample, or cached) and skips init + iterations: ONE encode pass —
    the r7-verdict-#5 amortization pattern, same as ``centroids=`` on
    :func:`kmeans_portable_fit`. Codes are a pure function of
    (vector, codebook), so injecting a full fit's own codebook
    reproduces its codes bit-exactly (pinned by pytest).
    """
    d_sub = dim // m
    if d_sub * m != dim:
        raise ValueError(f"dim={dim} not divisible by m={m}")
    from pyspark.sql import Window

    from pipetree_spark.ops.relational import fan_out

    # r15 (guide §2.5): same scan-parallelism floor as
    # kmeans_portable_fit — the subspace-split + per-row code argmin
    # HOFs otherwise serialize into a small corpus's single scan task.
    df = fan_out(df)

    qv = (
        F.col(quantized_col)
        if quantized_col is not None
        else _pq_quantize(vec_col, scale)
    )
    sv = df.select(
        key_col, F.posexplode(_pq_subvectors(qv, m, dim)).alias("sub", "__qsv")
    )
    # one parsed expr per assign (r16, the W3 pattern — see
    # kmeans_portable_fit): in the filter lambda the bare ``sub``
    # resolves to the OUTER row's subspace column, exactly the
    # F.col("sub") the Column formulation bound
    sqd = _SQDIST_SQL.format(vec=sql_ident("__qsv"))

    def assign(cb_row: DataFrame) -> DataFrame:
        enc = F.expr(
            f"array_min(transform(filter(__cb, e -> e.sub = sub),"
            f" c -> {sqd} * CAST({n_codes} AS BIGINT) + c.cid)) % {n_codes}"
        )
        return sv.crossJoin(F.broadcast(cb_row)).select(
            key_col, "sub", "__qsv", enc.alias("code")
        )

    def to_codes(a_df: DataFrame) -> DataFrame:
        return a_df.groupBy(key_col).agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("sub", "code"))),
                lambda t: t["code"],
            ).alias("codes")
        )

    if codebook is not None:
        # multiplier-free argmin (struct sort) — assign()'s encode is
        # only sound while every cid < n_codes, and an injected
        # codebook's size belongs to the CALLER (see kmeans_portable_fit)
        best = F.expr(
            f"element_at(array_sort(transform(filter(__cb, e -> e.sub = sub),"
            f" c -> named_struct('d', {sqd}, 'cid', c.cid))), 1).cid"
        )
        a_inj = sv.crossJoin(F.broadcast(codebook)).select(
            key_col, "sub", "__qsv", best.alias("code")
        )
        return to_codes(a_inj), codebook

    ranked = (
        df.orderBy(key_col)
        .limit(n_codes)
        .withColumn("cid", (F.row_number().over(Window.orderBy(key_col)) - 1).cast("long"))
        .select(key_col, "cid")
    )
    # Same model-state transport as kmeans_portable_fit (see the
    # comment there): each m·n_codes-row codebook state is collected
    # and re-enters as a LOCAL 1-row frame — same values, no checkpoint
    # job, no block-store round trip, and ADC consumers that
    # broadcast-join it in branches separate from the codes frame
    # build those broadcasts from local rows.
    spark = df.sparkSession
    cb = _codebook_frame(
        spark,
        sv.join(F.broadcast(ranked), key_col)
        .select("sub", "cid", F.col("__qsv").alias("cv"))
        .collect(),
    )
    a = assign(cb)
    for _ in range(iters - 1):
        # r15 (guide §2.3): the codebook recompute is d_sub map-side-
        # combinable long sums + one count per (sub, code) — no
        # d_sub×-row posexplode inflation and one fewer exchange per
        # iteration (hash(sub, code, dim) never satisfied the follow-up
        # hash(sub, code) agg). Component math is the identical
        # floor(double(sum)/count) over the same exact long sums, so
        # the codebook is bit-identical (subvectors are exactly d_sub
        # long by construction — the slice in _pq_subvectors).
        # ONE array-of-sums aggregate + ONE transform, same rationale
        # and same expression tree as the kmeans recompute above
        # (guide §1.2 step 2; was d_sub+1 expr RPCs per iteration)
        sums = F.expr(
            "array("
            + ",".join(f"sum(element_at(__qsv, {i + 1}))" for i in range(d_sub))
            + ") AS __sums"
        )
        cv = F.expr(
            "transform(__sums,"
            " s -> cast(floor(cast(s as double) / __n) as bigint)) AS cv"
        )
        cb = _codebook_frame(
            spark,
            a.groupBy("sub", "code")
            .agg(F.count(F.lit(1)).alias("__n"), sums)
            .select(F.col("sub"), F.col("code").alias("cid"), cv)
            .collect(),
        )
        a = assign(cb)
    return to_codes(a), cb


def pq_adc_topk_portable(
    queries: DataFrame,
    codes: DataFrame,
    codebook: DataFrame,
    k: int = 5,
    m: int = 4,
    n_codes: int = 16,
    dim: int = 64,
    query_key: str = "query_id",
    corpus_key: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1 << 20,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: each query keeps
    its full quantized subvectors; every candidate is represented ONLY
    by its m codes, scored as Σ_s ‖q_s − codebook[s][code_s]‖² — the
    FAISS-style scan where the corpus never rehydrates its floats.
    Exact integer math end-to-end, so the ranking (dist, key tie-break)
    is engine-portable and oracle-certifiable.

    Scale shape: the query side and the m·n_codes codebook broadcast;
    the scan is a narrow map over the codes frame (m longs per corpus
    vector instead of 64 floats — the point of PQ at 10⁹ vectors), then
    one top-k shuffle on query_id. Production composes this with IVF
    blocking (probe cells → ADC shortlist → exact re-rank on the
    shortlist only).
    """
    qprep = queries.select(
        F.col(query_key),
        _pq_subvectors(_pq_quantize(vec_col, scale), m, dim).alias("__qsubs"),
    )
    j = (
        codes.crossJoin(F.broadcast(qprep))
        .crossJoin(F.broadcast(codebook))
        .filter(F.col(query_key) != F.col(corpus_key))
    )
    scored = j.select(query_key, corpus_key, _pq_adc_dist(m).alias("adc_dist"))
    return topk_per_group(
        scored,
        partition_by=[query_key],
        order_by=[F.col("adc_dist").asc(), F.col(corpus_key).asc()],
        k=k,
    )


def _pq_adc_dist(m: int) -> Column:
    """Σ_s ‖__qsubs[s] − __cb[s][codes[s]]‖² as exact integer math;
    expects columns ``__qsubs`` (query), ``codes`` (candidate) and
    ``__cb`` (broadcast codebook row) in scope. One parsed expr (r16,
    the W3 pattern — the nested lambda tree issued ~40 RPCs per use);
    identical expression tree after parsing."""
    return F.expr(
        f"aggregate(sequence(0, {m - 1}), CAST(0 AS BIGINT), (acc, s) -> acc"
        " + aggregate(zip_with(element_at(__qsubs, s + 1),"
        " element_at(filter(__cb, e -> e.sub = s"
        " AND e.cid = element_at(codes, s + 1)), 1).cv,"
        " (x, y) -> (x - y) * (x - y)),"
        " CAST(0 AS BIGINT), (acc2, v) -> acc2 + v))"
    )


def pq_ivf_ann_portable(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_probe: int = 2,
    n_clusters: int = 8,
    m: int = 4,
    n_codes: int = 16,
    dim: int = 64,
    shortlist: int = 20,
    iters: int = 2,
    query_key: str = "query_id",
    corpus_key: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1 << 20,
    centroids: DataFrame | None = None,
    codebook: DataFrame | None = None,
) -> DataFrame:
    """The full production ANN composition, every stage deterministic:
    IVF coarse quantizer (probe ``n_probe`` cells) → ADC shortlist
    (candidates scored from their m PQ codes alone — floats never
    rehydrated during the scan) → exact rounded-cosine re-rank on the
    ``shortlist`` survivors only. This is the FAISS IVF-PQ shape on
    DataFrames: at 10⁹ vectors the probed-cell scan touches m longs
    per candidate, and per-query float work is bounded by
    ``shortlist``, not cell size.

    Both quantizers are the portable exact-integer Lloyd fits
    (:func:`kmeans_portable_fit`, :func:`pq_fit_portable`), so the
    end-to-end result — probing, shortlist membership, final ranking —
    is oracle-certifiable. (Classical IVF-PQ encodes residuals against
    the coarse centroid; this keeps plain PQ so the codes frame is
    shared with :func:`pq_adc_topk_portable` — a recall knob, not a
    scale knob.) Re-rank float policy = q_vec_cosine_knn's
    ROUND(·,4) + key tie-break.

    ``centroids=`` / ``codebook=`` inject pre-trained model state
    (sample-fit or cached — the r7-verdict-#5 amortization pattern):
    the full-corpus Lloyd passes are skipped and both quantizers run
    one encode pass each. Injecting a full fit's own state reproduces
    the integrated result bit-exactly (pytest-pinned); the
    completeness contract (all probes + corpus-sized shortlist ⇒
    exact kNN) holds for ANY injected model, since model quality only
    steers which candidates are scanned first.
    """
    if centroids is None and codebook is None:
        # r15 (guide §2.6): the coarse-quantizer fit and the PQ fit are
        # INDEPENDENT job chains over the same corpus; since the fits
        # run their model-state collects eagerly (see
        # kmeans_portable_fit), running the two fit FUNCTIONS from a
        # 2-thread pool overlaps the two Lloyd passes — each fit's
        # straggler tail back-fills the other's idle cores. Results
        # are unchanged (two independent deterministic computations).
        # Sequential when model state is injected: an injected-state
        # "fit" is one lazy narrow map, nothing to overlap.
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as pool:
            fk = pool.submit(
                kmeans_portable_fit, corpus, vec_col, corpus_key,
                k=n_clusters, iters=iters, scale=scale, dim=dim,
            )
            fp = pool.submit(
                pq_fit_portable, corpus, vec_col, corpus_key,
                m=m, n_codes=n_codes, dim=dim, scale=scale,
            )
            assign_df, cents = fk.result()
            codes, cb = fp.result()
    else:
        assign_df, cents = kmeans_portable_fit(
            corpus, vec_col, corpus_key, k=n_clusters, iters=iters, scale=scale,
            centroids=centroids, dim=dim,
        )
        codes, cb = pq_fit_portable(
            corpus, vec_col, corpus_key, m=m, n_codes=n_codes, dim=dim, scale=scale,
            codebook=codebook,
        )
    cand_codes = codes.join(assign_df.select(corpus_key, "cluster"), corpus_key)

    # quantize once, slice the SAME __qv into subvectors: HOFs evaluate
    # interpreted (no CSE), so an inline second _pq_quantize would
    # re-run the floor transform per query row
    qq = queries.select(
        F.col(query_key),
        F.col(vec_col).alias("__mv"),
        l2_norm(F.col(vec_col)).alias("__qn"),
        _pq_quantize(vec_col, scale).alias("__qv"),
    ).withColumn("__qsubs", _pq_subvectors(F.col("__qv"), m, dim))
    probes = _probe_cells(qq, cents, n_probe, query_key, ("__mv", "__qn", "__qsubs"))
    cand = (
        probes.join(cand_codes, on="cluster")
        .filter(F.col(query_key) != F.col(corpus_key))
        .crossJoin(F.broadcast(cb))
    )
    short = _adc_shortlist(cand, m, shortlist, query_key, corpus_key)
    return _rerank_exact(short, corpus, k, query_key, corpus_key, vec_col)


def ivfpq_residual_ann_portable(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_probe: int = 2,
    n_clusters: int = 8,
    m: int = 4,
    n_codes: int = 16,
    dim: int = 64,
    shortlist: int = 20,
    iters: int = 2,
    query_key: str = "query_id",
    corpus_key: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1 << 20,
    centroids: DataFrame | None = None,
    codebook: DataFrame | None = None,
) -> DataFrame:
    """Classical residual-encoded IVF-PQ (the FAISS IndexIVFPQ layout),
    every stage deterministic: each corpus vector's PQ codes encode its
    RESIDUAL against its coarse-cell centroid, and a query probing cell
    c scores candidates with its own residual against c's centroid.
    When the coarse quantizer explains real variance (clustered
    corpora: ‖residual‖ ≪ ‖vector‖), the same m·n_codes codebook
    quantizes residuals much more finely than raw vectors — recall at
    equal compression is what this buys over
    :func:`pq_ivf_ann_portable`'s plain PQ — measured 1.000 vs 0.375
    recall at shortlist 8 on a structured-residual corpus (coarse
    centers + shared secondary directions; pytest-pinned). On
    weakly-clustered data it's a wash: the test corpus has mean
    ‖residual‖/‖vector‖ = 0.98 (neighbors at cos ≈ 0.35), and measured
    shortlist recall there is 0.48 residual vs 0.56 plain — pick per
    corpus, the completeness contract (all probes + corpus-sized
    shortlist ⇒ exact kNN) holds for both.

    Everything stays exact integer math (quantized vectors minus
    integer centroids), so codes, shortlist membership and the final
    ranking remain oracle-certifiable. Scale shape is unchanged from
    the plain composition: centroids and codebook broadcast, the scan
    touches m longs per probed candidate, one top-k shuffle, float
    work bounded by ``shortlist``. Each candidate is scored in exactly
    one cell — its own — whenever the query probes it.

    ``centroids=`` / ``codebook=`` inject pre-trained model state
    (see :func:`pq_ivf_ann_portable` — same amortization pattern;
    here the injected codebook must have been fit on RESIDUALS
    against the same centroids).
    """
    assign_df, cents = kmeans_portable_fit(
        corpus, vec_col, corpus_key, k=n_clusters, iters=iters, scale=scale,
        centroids=centroids, dim=dim,
    )
    cell_cv = lambda: F.element_at(  # noqa: E731 — centroid of row's cluster
        F.filter("__cs", lambda c: c["cid"] == F.col("cluster")), 1
    )["cv"]
    rv = (
        assign_df.crossJoin(F.broadcast(cents))
        .select(
            corpus_key,
            "cluster",
            F.zip_with("__qv", cell_cv(), lambda x, y: x - y).alias("__rv"),
        )
    )
    codes, cb = pq_fit_portable(
        rv, key_col=corpus_key, m=m, n_codes=n_codes, dim=dim, scale=scale,
        quantized_col="__rv", codebook=codebook,
    )
    cand_codes = codes.join(rv.select(corpus_key, "cluster"), corpus_key)

    qq = queries.select(
        F.col(query_key),
        F.col(vec_col).alias("__mv"),
        l2_norm(F.col(vec_col)).alias("__qn"),
        _pq_quantize(vec_col, scale).alias("__qv"),
    )
    probed = _probe_cells(
        qq, cents, n_probe, query_key, ("__mv", "__qn", "__qv", "__cs")
    )
    # per-(query, probed cell) residual → its subvectors for ADC
    probes = probed.withColumn(
        "__qrv", F.zip_with("__qv", cell_cv(), lambda x, y: x - y)
    ).select(
        query_key,
        "__mv",
        "__qn",
        "cluster",
        _pq_subvectors(F.col("__qrv"), m, dim).alias("__qsubs"),
    )
    cand = (
        probes.join(cand_codes, on="cluster")
        .filter(F.col(query_key) != F.col(corpus_key))
        .crossJoin(F.broadcast(cb))
    )
    short = _adc_shortlist(cand, m, shortlist, query_key, corpus_key)
    return _rerank_exact(short, corpus, k, query_key, corpus_key, vec_col)
