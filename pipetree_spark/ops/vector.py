"""Vector / similarity-search operators (SURVEY §2.12).

Embeddings are ``array<float>`` columns. All math casts to double
per-element first (float32 arithmetic differs across engines). Scoring,
quantization and probing are higher-order functions evaluated JVM-side;
the one Python stage is the within-cell pair pass of the semantic
dedups (:func:`blocked_cos_pairs_arrow`, numpy over Arrow batches).

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

from pipetree_spark.ops.relational import checkpoint, release, topk_per_group


def sql_ident(name: str) -> str:
    """Backtick-quote a column name for interpolation into parsed SQL,
    doubling embedded backticks — a hyphenated (``my-vec``) or reserved
    (``select``) name then parses as one identifier, not arithmetic or
    a keyword. Quoting leaves the parsed attribute unchanged."""
    return "`" + name.replace("`", "``") + "`"


#: The portable quantizers' grid: floor(x · _SCALE) maps unit-range
#: floats to exact longs. A module constant, not a parameter, so an
#: injected model can never meet vectors quantized on another grid.
_SCALE = 1 << 20
#: pca_power_portable's loading grid: loadings are exact integers in
#: [-_RESCALE, _RESCALE].
_RESCALE = 1 << 10


def _quantize(vec_col: str) -> Column:
    """floor(double(x) · _SCALE) of each element, as exact longs. One
    parsed SQL string (r16, guide §1.2 step 2) instead of a lambda-built
    HOF tree of py4j round trips; it parses to the IDENTICAL expression
    tree, and CAST(_SCALE AS DOUBLE) constant-folds to the same double
    literal F.lit(float(_SCALE)) ships (_SCALE ≪ 2⁵³). The column name
    goes through :func:`sql_ident`."""
    return F.expr(
        f"transform({sql_ident(vec_col)}, x -> cast(floor(cast(x as double)"
        f" * CAST({_SCALE} AS DOUBLE)) as bigint))"
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


def _normed(
    df: DataFrame, key: str, vec_col: str, vec_as: str, norm_as: str, *extra: Column
) -> DataFrame:
    """``(key, vec AS vec_as, ‖vec‖ AS norm_as, *extra)``. Norms are
    per-ROW: computed before any pair join, the per-pair work is one dot
    product, not dot + two 64-element norm reductions."""
    return df.select(
        F.col(key), F.col(vec_col).alias(vec_as), l2_norm(F.col(vec_col)).alias(norm_as), *extra
    )


def _rounded_cos_topk(
    pair_with,
    corpus: DataFrame,
    k: int,
    query_key: str,
    corpus_key: str,
    vec_col: str,
    *corpus_extra: Column,
) -> DataFrame:
    """Top-k by rounded cosine — the float policy every exact-scoring
    vector op shares (q_vec_cosine_knn's ROUND(·,4), pinned to +0.0,
    corpus-key tie-break, so the result set is deterministic under float
    ties). ``pair_with(c)`` joins the query side, which carries
    ``(query_key, __mv, __qn)``, to the corpus prep ``c = (corpus_key,
    __cv, __cn, *corpus_extra)``; the join shape stays the caller's.
    dot/(qn·cn) keeps the oracles' exact expression tree (bit-stable)."""
    pairs = pair_with(_normed(corpus, corpus_key, vec_col, "__cv", "__cn", *corpus_extra))
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


def knn_bruteforce(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    query_key: str = "query_id",
    corpus_key: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors per query vector.

    Plan: broadcast the query side (queries ≪ corpus), evaluate cosine
    per (query, corpus) pair JVM-side, then topk_per_group. Rank on the
    *rounded* cosine with the corpus key as tie-break so the result set
    is deterministic under float ties (SURVEY §2.12).
    """
    q = _normed(queries, query_key, vec_col, "__mv", "__qn")
    return _rounded_cos_topk(
        lambda c: c.join(F.broadcast(q), F.col(query_key) != F.col(corpus_key)),
        corpus, k, query_key, corpus_key, vec_col,
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
    q = _normed(
        queries, query_key, vec_col, "__mv", "__qn",
        lsh_bucket(F.col(vec_col), planes).alias("__b0"),
    ).select(
        query_key,
        "__mv",
        "__qn",
        # probed buckets are distinct masks ⇒ distinct buckets, and each
        # corpus vector lives in exactly one bucket ⇒ no duplicate pairs
        F.explode(
            F.array(*[F.col("__b0").bitwiseXOR(F.lit(m)) for m in probe_masks])
        ).alias("__b"),
    )
    return _rounded_cos_topk(
        lambda c: c.join(q, on="__b").filter(F.col(query_key) != F.col(corpus_key)),
        corpus, k, query_key, corpus_key, vec_col,
        lsh_bucket(F.col(vec_col), planes).alias("__b"),
    )


def _model_frame(spark, rows, col: str, **keys: str) -> DataFrame:
    """1-row LOCAL model frame ``col: array<struct<*keys, cv:
    array<bigint>>>`` from driver-collected rows carrying the ``keys``
    fields (name=SQL type) and ``cv`` — the r15 opt-wave-2 model-state
    transport of :func:`_lloyd` (``__cs``, keys ``cid``; ``__cb``, keys
    ``sub, cid``); guide §2.4/§5. The values are computed ENTIRELY by
    Spark aggregates; Python only ferries exact longs (NULLs preserved),
    so the frame is bit-identical to the old ``collect_list`` +
    ``localCheckpoint`` formulation it replaces — minus the checkpoint
    job, the block-store round trip and the corpus-lineage broadcast
    build every consumer used to pay. The frame is still RDD-backed, so
    each query execution that broadcasts it runs one 1-task collect job.
    Every consumer ((d, cid) struct sort, filter by key) is
    order-insensitive; entries are sorted by the keys only so the frame
    itself is deterministic."""
    data = sorted(
        (
            {key: int(r[key]) for key in keys}
            | {"cv": None if r["cv"] is None else [None if x is None else int(x) for x in r["cv"]]}
            for r in rows
        ),
        key=lambda d: tuple(d[key] for key in keys),
    )
    # ONE slice: the default parallelize fans 1 row into
    # defaultParallelism empty partitions, so every broadcast build of
    # the model frame would dispatch a core-count of no-op tasks
    rdd = spark.sparkContext.parallelize([(data,)], 1)
    fields = ",".join(f"{key}:{t}" for key, t in keys.items())
    return spark.createDataFrame(rdd, schema=f"{col} array<struct<{fields},cv:array<bigint>>>")


def _probe_cells(
    qq: DataFrame,
    model: DataFrame,
    n_probe: int,
    query_key: str,
    carry: tuple[str, ...],
    entries: str = "__cs",
) -> DataFrame:
    """Explode each row into its ``n_probe`` nearest model entries as
    ``cluster`` — exact integer distance from ``__qv``, ties → smaller
    cid via the (d, cid) struct sort. The ONE assignment rule: every
    portable ANN op probes with it and :func:`_lloyd` assigns with it
    (one probe), so a change here moves k-means, PQ, ivf and residual in
    lockstep, keeping their certified oracles in parity. ``entries`` is
    the SQL array a row may take (default every centroid of ``__cs``;
    the PQ view filters ``__cb`` to the row's subspace); ``carry``
    columns ride the explode.

    The row guard: a row whose distance to every entry is NULL — a NULL
    vector, a NULL element, or a length other than the entries' (zip_with
    pads the shorter side with NULLs) — gets no cell and is DROPPED,
    where the sort would have handed it cid 0. One parsed expr (r16, the
    W3 pattern — was ~70 RPCs of lambda-built Column tree); named_struct
    builds the same struct<d,cid> the F.struct formulation did."""
    # exact-integer squared distance between __qv and the entry ``c``
    sqd = (
        "aggregate(zip_with(__qv, c.cv, (x, y) -> (x - y) * (x - y)),"
        " CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )
    return qq.crossJoin(F.broadcast(model)).select(
        query_key,
        *carry,
        F.expr(
            f"explode(transform(slice(array_sort(filter(transform({entries},"
            f" c -> named_struct('d', {sqd}, 'cid', c.cid)), s -> s.d IS NOT NULL)),"
            f" 1, {n_probe}), s -> s.cid)) AS cluster"
        ),
    )


def _lloyd(
    q: DataFrame,
    key_col: str,
    k: int,
    iters: int,
    model: DataFrame | None,
    m: int = 0,
    dim: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """The exact-integer Lloyd engine behind both portable quantizers.
    ``q`` is ``(key, __qv)`` with ``__qv`` the quantized vector. ``m=0``
    is the k-means view: one space, model frame ``__cs:
    array<struct<cid, cv>>``. ``m ≥ 1`` is the PQ view: ``__qv`` splits
    into ``m`` contiguous subvectors of ``dim/m`` and each subspace
    clusters on its own, model frame ``__cb: array<struct<sub, cid,
    cv>>``. Returns ``(assignment, model)``; the assignment is ``(key,
    [sub,] __qv, cluster)``, one row per point.

    Everything that decides an assignment is EXACT integer math, so any
    engine computes bit-identical clusters (the certification pattern
    that moved SimHash/MinHash off rows-only in r2):

    - init is the ``k`` smallest keys' vectors among rows with no NULL
      element, cid = key rank (seed-free); the PQ view slices each into
      its subvectors on the driver. The first row's length is the
      vector length; an init row of another length is skipped and the
      ranks close up;
    - assignment is :func:`_probe_cells` with one probe: integer sums
      of squared diffs, argmin with the smaller-cid tie-break, and no
      cell for a row without a defined distance;
    - new centroid components are ``floor(double(sum)/count)``: the
      numerator is an exact long (≪2⁵³ even at 10⁹ members), so the
      IEEE division and floor are reproducible everywhere.

    Scale shape (the same as distributed MLlib Lloyd): the model is a
    1-row broadcast, assignment is a narrow map over the corpus, and
    the recompute is ONE shuffle per iteration keyed ([sub,] cluster)
    with map-side partial sums. ``iters`` is fixed for certification;
    production loops until centroid movement < ε.

    ``model`` injects a pre-trained frame and skips init + iterations:
    ONE assignment pass (the r7-verdict-#5 amortization pattern). The
    assignment is a pure function of (vector, model), whatever its size.
    """
    spark = q.sparkSession
    pq = m > 0
    grp = ("sub",) if pq else ()
    col, keys = ("__cb", {"sub": "int", "cid": "bigint"}) if pq else ("__cs", {"cid": "bigint"})
    # The row guard: no NULL element, and in the PQ view the WHOLE vector
    # is dim long (after the split a longer vector would pass as m full
    # subvectors). It gates the init rows and the split; a k-means point
    # it would reject has no distance to the model, so the assignment
    # rule drops it. Inside the generator it is no Filter node, so the
    # fan_out exchange under both fits of a composition stays one
    # reusable exchange.
    ok = "forall(__qv, x -> x IS NOT NULL)" + (f" AND size(__qv) = {dim}" if pq else "")
    pts = (
        q.select(
            key_col,
            F.posexplode(F.when(F.expr(ok), _pq_subvectors(F.col("__qv"), m, dim))).alias("sub", "__qv"),
        )
        if pq else q
    )

    def assign(state: DataFrame) -> DataFrame:
        # in the filter lambda the bare ``sub`` resolves to the OUTER
        # row's subspace column
        return _probe_cells(
            pts, state, 1, key_col, (*grp, "__qv"),
            "filter(__cb, e -> e.sub = sub)" if pq else "__cs",
        )

    if model is not None:
        return assign(model), model
    # Model-state transport (r15 opt-wave-2, guide §2.4/§5): each model
    # state is COLLECTED and re-enters as a LOCAL 1-row frame
    # (:func:`_model_frame`) instead of the r9→r15 ``collect_list`` +
    # ``localCheckpoint(eager=False)`` formulation. The values are
    # unchanged (same Spark aggregates; Python only ferries exact
    # longs), downstream plans still see a leaf — but the leaf is now
    # driver-local data: no checkpoint-materialization job and no
    # block-store round trip per iteration, and every downstream
    # broadcast of the model builds from local rows instead of
    # re-collecting a checkpointed RDD (one fewer job per consumer
    # branch). Cost: the fit becomes EAGER at construction — exactly
    # the jobs the first action used to trigger, just earlier; the
    # driver-side bytes are the same model longs the old broadcast
    # already collected to the driver.
    # init = the k smallest keys' vectors, cid = key rank: ONE
    # TakeOrdered job; the rank assignment (row_number over
    # Window.orderBy(key) in the pre-r15 shape) happens on the k
    # collected rows — identical cids, one fewer window pass.
    # r16 (r15 ADVICE, low): collect the KEY alongside and re-sort the
    # k rows driver-side rather than rely on TakeOrderedAndProjectExec
    # preserving sort order after the sort column is projected away.
    # Keys here are the engine's integer ids, so the Python sort is the
    # same total order.
    init = sorted(
        q.filter(ok).orderBy(key_col).limit(k).collect(),
        key=lambda r: r[0],
    )
    dim = dim or (len(init[0][1]) if init else 0)
    d_sub = dim // max(m, 1)
    state = _model_frame(
        spark,
        [
            {"sub": s, "cid": i, "cv": v[s * d_sub:(s + 1) * d_sub]}
            for i, v in enumerate(r[1] for r in init if len(r[1]) == dim)
            for s in range(max(m, 1))
        ],
        col, **keys,
    )
    # r15 (guide §2.3): the recompute is d_sub map-side-combinable long
    # sums + one count per ([sub,] cluster) — no d_sub×-row posexplode
    # inflation, and ONE tiny exchange instead of the explode shape's
    # two (hash(cluster, dim) does not satisfy the follow-up
    # hash(cluster) agg). ONE parsed expr for the array of sums
    # (Catalyst extracts each sum into the agg node, map-side combine
    # intact) and ONE transform for the recomposed centroid — 2 RPCs per
    # iteration instead of d_sub+1. Every assigned point is d_sub long:
    # a point of another length has no distance to the model.
    sums = F.expr(
        "array(" + ",".join(f"sum(element_at(__qv, {i + 1}))" for i in range(d_sub)) + ") AS __sums"
    )
    cv = F.expr("transform(__sums, s -> cast(floor(cast(s as double) / __n) as bigint)) AS cv")
    a = assign(state)
    for _ in range(iters - 1):
        state = _model_frame(
            spark,
            a.groupBy(*grp, "cluster")
            .agg(F.count(F.lit(1)).alias("__n"), sums)
            .select(*grp, F.col("cluster").alias("cid"), cv)
            .collect(),
            col, **keys,
        )
        a = assign(state)
    return a, state


def kmeans_portable(
    df: DataFrame,
    vec_col: str = "embedding",
    key_col: str = "vec_id",
    k: int = 8,
    iters: int = 2,
) -> DataFrame:
    """Deterministic, engine-portable Lloyd k-means assignment — see
    :func:`kmeans_portable_fit` (this is its assignment-only view)."""
    a, _ = kmeans_portable_fit(df, vec_col, key_col, k=k, iters=iters)
    return a.select(key_col, "cluster")


def kmeans_portable_fit(
    df: DataFrame,
    vec_col: str = "embedding",
    key_col: str = "vec_id",
    k: int = 8,
    iters: int = 2,
    centroids: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Deterministic, engine-portable Lloyd k-means: the one-space view
    of :func:`_lloyd`. Embeddings quantize once to longs,
    ``floor(double(x) · 2²⁰)`` (floor, not round — no rounding-mode
    ambiguity across engines), then ``iters`` exact-integer Lloyd
    iterations run from the ``k`` smallest keys. Returns ``(assignment,
    centroids)``: the assignment frame ``(key, __qv, cluster)`` and the
    1-row centroid frame ``__cs: array<struct<cid, cv>>`` (quantized
    final centroids, the coarse-quantizer state :func:`ivf_ann_portable`
    probes against).

    ``centroids=`` injects a pre-trained 1-row ``__cs`` frame (fit on a
    sample, or cached) and skips init + iterations entirely — ONE
    assignment pass. Injecting a full fit's own centroid frame
    reproduces its assignment bit-exactly (pinned by pytest).

    A row whose vector is NULL, holds a NULL, or differs in length from
    the centroids gets no cluster: it is dropped from the assignment and
    moves no centroid.

    r15 (guide §2.5): the quantize + per-row integer-distance argmin
    HOFs are CPU-dense and fuse into the scan; the input takes the
    scale-adaptive fan_out parallelism floor (no-op on real corpora).
    """
    from pipetree_spark.ops.relational import fan_out

    q = fan_out(df).select(key_col, _quantize(vec_col).alias("__qv"))
    return _lloyd(q, key_col, k, iters, centroids)


def ivf_train(
    df: DataFrame,
    vec_col: str = "embedding",
    key_col: str = "vec_id",
    n_clusters: int = 8,
    iters: int = 2,
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
    _, cents = kmeans_portable_fit(df, vec_col, key_col, k=n_clusters, iters=iters)
    return cents


def ivf_multiprobe_assign(
    df: DataFrame | None,
    vec_col: str = "embedding",
    key_col: str = "vec_id",
    n_probe: int = 2,
    n_clusters: int = 8,
    iters: int = 2,
    assign_to: DataFrame | None = None,
    assign_key: str | None = None,
    centroids: DataFrame | None = None,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Deterministic multi-probe IVF assignment: each key maps to its
    ``n_probe`` nearest portable-Lloyd centroids (exact integer
    distance, ties → smaller cid via the (d, cid) struct sort — the
    same probe rule :func:`ivf_ann_portable` applies to queries, here
    applied to the corpus itself). Returns ``(key, *carry_cols,
    cluster)`` with ``n_probe`` rows per key — ``carry_cols`` ride the
    narrow assignment map so callers need no re-join against the
    assignment output (the r7 plan shaved one shuffle join this way).
    A key whose vector is NULL, holds a NULL or differs in length from
    the centroids gets no row.

    This is the standard recall lever for BLOCKED pairwise ops
    (semantic dedup, decontamination): two vectors collide if ANY
    probed cell is shared, so near-dups sitting just across a Voronoi
    boundary — the single-probe miss mode — still pair up, at n_probe×
    membership cost instead of n² pairs.

    ``centroids`` injects a pre-trained quantizer (see
    :func:`ivf_train`) and skips the Lloyd fit entirely; ``df`` may
    then be None. A quantizer with fewer centroids than ``n_probe``
    yields min(k, n_probe) rows per key.

    Scale shape: centroids are a k-row broadcast; assignment is a
    narrow map + explode — no shuffle. The probe rule is
    :func:`_probe_cells`, the one every portable ANN op shares."""
    if centroids is None:
        # train on df, assign to assign_to (default df): blocks are a
        # pure function of the vector, so a dup-heavy corpus can
        # collapse first and probe only its distinct reps — the
        # quantizer still trains on the FULL corpus (duplicates weight
        # the centroid means, which is what any oracle re-derivation
        # sees)
        centroids = ivf_train(df, vec_col, key_col, n_clusters, iters)
    tgt = df if assign_to is None else assign_to
    tgt_key = key_col if assign_key is None else assign_key
    renamed = tgt if tgt_key == key_col else tgt.withColumnRenamed(tgt_key, key_col)
    q = renamed.select(key_col, *carry_cols, _quantize(vec_col).alias("__qv"))
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
) -> DataFrame:
    """Within-block all-pairs cosine candidates via applyInPandas — the
    Arrow-vectorized twin of the JVM-expression pair stage
    (:func:`cos_pairs_blocked`), for blocks big enough that interpreted
    higher-order functions dominate (measured sf0.1, 2.25M candidate pairs: HOF
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
    end-to-end with identical planted-truth recall."""
    import pandas as pd

    def per_block(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np

        empty = pd.DataFrame(
            {"id_a": np.array([], dtype="int64"), "id_b": np.array([], dtype="int64")}
        )
        ids = pdf[id_col].to_numpy()
        V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
        n, d = V.shape
        if n < 2:
            return empty
        # zero-norm and non-finite vectors: cosine undefined, never
        # near-dups — excluded exactly as the expression twin's
        # finite_pos_norm filter. Masking rows does not change per-row
        # dim-sequential sums, so surviving norms are reused as-is.
        s = V[:, 0] * V[:, 0]
        for i in range(1, d):
            s = s + V[:, i] * V[:, i]
        keep = np.isfinite(s) & (s > 0)
        ids, V, nrm = ids[keep], V[keep], np.sqrt(s[keep])
        outs_a, outs_b = [], []
        # scan only the block-upper triangle (rows[lo:] against the
        # chunk, keeping strictly-later POSITIONS ju > iu), so each
        # unordered pair's matrix entry is computed exactly once
        # regardless of id order, then reorient ids to (min, max) on
        # emit. Per-pair sums are unchanged (commutative per-dim products).
        for lo in range(0, len(ids), chunk):
            C, R = V[lo : lo + chunk], V[lo:]
            if exact_order:
                acc = C[:, 0][:, None] * R[:, 0][None, :]
                for i in range(1, d):
                    acc += C[:, i][:, None] * R[:, i][None, :]
            else:
                acc = C @ R.T
            cos = acc / (nrm[lo : lo + chunk][:, None] * nrm[lo:][None, :])
            iu, ju = np.where(cos >= threshold)
            # ju > iu keeps the strict upper triangle (and drops the
            # cos(a,a)=1 diagonal)
            iu, ju = iu[ju > iu], ju[ju > iu]
            ia, jb = ids[lo : lo + chunk][iu], ids[lo:][ju]
            outs_a.append(np.minimum(ia, jb))
            outs_b.append(np.maximum(ia, jb))
        if not outs_a:
            return empty
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
    return memberships.repartition(n_tasks, block_col).groupBy(block_col).applyInPandas(
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
    exact_pairs: bool = True,
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
    - ``exact_pairs=False`` computes the within-cell dot products with
      one BLAS GEMM instead of the dim-sequential IEEE fold — ~20×
      faster pair stage, threshold decisions can flip within ~1e-15
      relative; production-only, never for oracle-certified queries.

    Each step has one engine: memberships come from
    :func:`ivf_multiprobe_assign` (the shared :func:`_probe_cells`
    rule) and every quantizer cell is one pair task, whatever its size
    — the auto-k quantizer already sizes cells to the data.
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
    grp = checkpoint(nz.groupBy("embedding").agg(F.min("vec_id").alias("rep_id")), eager=False)
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
        centroids=centroids, carry_cols=("embedding",),
    ).select(F.col("vec_id").alias("rep_id"), F.col("cluster").alias("block"), "embedding")
    # contract=True: per-block union-find emits star edges instead of
    # all pairs — identical transitive closure, O(Σm) instead of O(Σm²)
    # edges into the shuffle, and chain components collapse to ~2 hops
    # so CC converges in ~3 rounds instead of diameter-many. The
    # distinct() both dedups multi-probe duplicate edges and gives
    # CC's two-branch symmetric union a ReusedExchange point — without
    # it each branch re-runs the Arrow pair stage (measured +1 s).
    pairs = blocked_cos_pairs_arrow(
        memberships, threshold, contract=True, exact_order=exact_pairs
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
    assign_df, cents = kmeans_portable_fit(corpus, vec_col, corpus_key, k=n_clusters, iters=iters)
    cells = assign_df.select(corpus_key, "cluster")
    qq = _normed(
        queries, query_key, vec_col, "__mv", "__qn", _quantize(vec_col).alias("__qv")
    )
    probes = _probe_cells(qq, cents, n_probe, query_key, ("__mv", "__qn"))
    return _rounded_cos_topk(
        lambda c: probes.join(c.join(cells, corpus_key), on="cluster")
        .filter(F.col(query_key) != F.col(corpus_key)),
        corpus, k, query_key, corpus_key, vec_col,
    )


def pca_power_portable(
    df: DataFrame,
    vec_col: str = "embedding",
    key_col: str = "vec_id",
    iters: int = 3,
) -> DataFrame:
    """Deterministic, engine-portable ``iters``-step power-iteration
    direction (integer-quantized) — the certifiable statistic of the
    PCA family; returns 64 rows ``(component, loading)`` with
    exact-integer loadings in [-2¹⁰, 2¹⁰]. With a healthy
    eigengap it converges to the top principal direction; on
    near-isotropic data small ``iters`` only turns toward it — this op
    certifies DETERMINISM (any engine, bit-identical), not
    convergence — raise ``iters`` for that.

    Same certification contract as :func:`kmeans_portable`: every value
    that decides the output is either exact integer math or an
    identical IEEE double expression, so any engine reproduces it
    bit-for-bit:

    - quantize ``floor(double(x)·2²⁰)``, center by the per-dim
      ``floor(sum/count)`` integer mean;
    - iterate ``t_i = Σ_d cq_id·v_d`` (exact longs, v₀ = all-ones),
      rescaled to ±2¹⁰ via ``floor(double(t)/max|t|·2¹⁰)``,
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
    q = df.select(key_col, _quantize(vec_col).alias("__qv"))
    dims = F.posexplode("__qv")
    mu_row = checkpoint(
        q.select(dims.alias("__i", "__x"))
        .groupBy("__i")
        .agg(F.floor(F.sum("__x").cast("double") / F.count("*")).cast("long").alias("__m"))
        .groupBy()
        .agg(F.array_sort(F.collect_list(F.struct("__i", "__m"))).alias("__s"))
        .select(F.transform("__s", lambda t: t["__m"]).alias("__mu"))
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
        mt = checkpoint(t.agg(F.max(F.abs("__t")).alias("__mt")))
        s = t.crossJoin(F.broadcast(mt)).select(
            "__cq",
            F.floor(F.col("__t").cast("double") / F.col("__mt") * F.lit(float(_RESCALE)))
            .cast("long")
            .alias("__sc"),
        )
        # checkpoint the 64-row w — mw and the next iterate then derive
        # from materialized data instead of re-running the corpus pass
        w = checkpoint(
            s.select(F.col("__sc"), F.posexplode("__cq").alias("__i", "__x"))
            .groupBy("__i")
            .agg(F.sum(F.col("__sc") * F.col("__x")).alias("__w"))
        )
        mw = w.agg(F.max(F.abs("__w")).alias("__mw"))
        v_row = checkpoint(
            w.crossJoin(F.broadcast(mw))
            .select(
                "__i",
                F.floor(F.col("__w").cast("double") / F.col("__mw") * F.lit(float(_RESCALE)))
                .cast("long")
                .alias("__vd"),
            )
            .groupBy()
            .agg(F.array_sort(F.collect_list(F.struct("__i", "__vd"))).alias("__s"))
            .select(F.transform("__s", lambda st: st["__vd"]).alias("__v")),
            replaces=v_row,
        )
        release(mt, w)
    release(mu_row)
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
    quantized_col: str | None = None,
    codebook: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Deterministic, engine-portable product quantization (PQ): the
    m-subspace view of :func:`_lloyd`. Each quantized vector splits into
    ``m`` contiguous subvectors of ``dim/m`` dims and every subspace is
    Lloyd-clustered into ``n_codes`` codes, from the ``n_codes``
    smallest keys' subvectors (Jégou, Douze & Schmid 2011). Returns
    ``(codes, codebook)`` — ``codes`` is ``(key, codes: array<long>)``
    (the ``m``-byte compressed representation: 64 float32 dims → m
    small ints, 64× memory cut at m=4/n_codes=16), ``codebook`` the
    1-row frame ``__cb: array<struct<sub, cid, cv>>`` every decode /
    ADC pass broadcasts. Same certification contract as
    :func:`kmeans_portable_fit`: codes are bit-identical on any engine.

    Scale shape: the corpus never replicates (the exploded point frame
    is m narrow rows per vector; all m subspaces are assigned in one
    pass, no per-subspace job), the model state is m·n_codes entries
    broadcast once per pass. Production trains on a sample and injects
    the codebook, exactly like :func:`ivf_train` (r7 verdict #5).

    ``quantized_col`` feeds an already-integer vector column (e.g. the
    residuals of :func:`ivfpq_residual_ann_portable`) straight into the
    subspace split, skipping the float quantization step.

    ``codebook=`` injects a pre-trained 1-row ``__cb`` frame (fit on a
    sample, or cached) and skips init + iterations: ONE encode pass.
    Injecting a full fit's own codebook reproduces its codes bit-exactly
    (pinned by pytest).

    A vector that is NULL, holds a NULL, or is not ``dim`` long gets no
    codes: the split yields no subvector for it, so it is dropped and
    moves no code word.
    """
    if dim % m:
        raise ValueError(f"dim={dim} not divisible by m={m}")
    from pipetree_spark.ops.relational import fan_out

    # r15 (guide §2.5): same scan-parallelism floor as
    # kmeans_portable_fit — the subspace-split + per-row code argmin
    # HOFs otherwise serialize into a small corpus's single scan task.
    qv = F.col(quantized_col) if quantized_col is not None else _quantize(vec_col)
    q = fan_out(df).select(key_col, qv.alias("__qv"))
    a, cb = _lloyd(q, key_col, n_codes, iters, codebook, m, dim)
    codes = a.groupBy(key_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("sub", "cluster"))), lambda t: t["cluster"]
        ).alias("codes")
    )
    return codes, cb


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
        _pq_subvectors(_quantize(vec_col), m, dim).alias("__qsubs"),
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
        # run their model-state collects eagerly (:func:`_lloyd`),
        # running the two fit FUNCTIONS from a
        # 2-thread pool overlaps the two Lloyd passes — each fit's
        # straggler tail back-fills the other's idle cores. Results
        # are unchanged (two independent deterministic computations).
        # Sequential when model state is injected: an injected-state
        # "fit" is one lazy narrow map, nothing to overlap. The pool
        # threads run through inheritable_thread_target so their jobs
        # carry the caller's local properties (job group, scheduler
        # pool) and session tags like the caller's own jobs.
        from concurrent.futures import ThreadPoolExecutor

        from pyspark import inheritable_thread_target

        inherit = inheritable_thread_target(corpus.sparkSession)
        kmeans_fit, pq_fit = inherit(kmeans_portable_fit), inherit(pq_fit_portable)
        with ThreadPoolExecutor(max_workers=2) as pool:
            fk = pool.submit(kmeans_fit, corpus, vec_col, corpus_key, k=n_clusters, iters=iters)
            fp = pool.submit(pq_fit, corpus, vec_col, corpus_key, m=m, n_codes=n_codes, dim=dim)
            assign_df, cents = fk.result()
            codes, cb = fp.result()
    else:
        assign_df, cents = kmeans_portable_fit(
            corpus, vec_col, corpus_key, k=n_clusters, iters=iters, centroids=centroids
        )
        codes, cb = pq_fit_portable(
            corpus, vec_col, corpus_key, m=m, n_codes=n_codes, dim=dim, codebook=codebook
        )
    cand_codes = codes.join(assign_df.select(corpus_key, "cluster"), corpus_key)

    # quantize once, slice the SAME __qv into subvectors: HOFs evaluate
    # interpreted (no CSE), so an inline second _quantize would
    # re-run the floor transform per query row
    qq = _normed(
        queries, query_key, vec_col, "__mv", "__qn", _quantize(vec_col).alias("__qv")
    ).withColumn("__qsubs", _pq_subvectors(F.col("__qv"), m, dim))
    probes = _probe_cells(qq, cents, n_probe, query_key, ("__mv", "__qn", "__qsubs"))
    cand = (
        probes.join(cand_codes, on="cluster")
        .filter(F.col(query_key) != F.col(corpus_key))
        .crossJoin(F.broadcast(cb))
    )
    short = _adc_shortlist(cand, m, shortlist, query_key, corpus_key)
    return _rounded_cos_topk(
        lambda c: short.join(c, corpus_key), corpus, k, query_key, corpus_key, vec_col
    )


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
        corpus, vec_col, corpus_key, k=n_clusters, iters=iters, centroids=centroids
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
        rv, key_col=corpus_key, m=m, n_codes=n_codes, dim=dim,
        quantized_col="__rv", codebook=codebook,
    )
    cand_codes = codes.join(rv.select(corpus_key, "cluster"), corpus_key)

    qq = _normed(
        queries, query_key, vec_col, "__mv", "__qn", _quantize(vec_col).alias("__qv")
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
    return _rounded_cos_topk(
        lambda c: short.join(c, corpus_key), corpus, k, query_key, corpus_key, vec_col
    )
