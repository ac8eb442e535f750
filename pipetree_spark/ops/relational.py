"""Relational operators Spark lacks natively (SURVEY §2.3, §4.3).

Every op here states its shuffle keys and scale behavior in the
docstring — the 100 TB discipline from SURVEY §2.12's design note.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence
from contextlib import contextmanager

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_time: str,
    right_time: str,
    left_key: str,
    how: str = "left",
    direction: str = "backward",
    suffix: str = "_r",
    tolerance: int | None = None,
) -> DataFrame:
    """As-of join: for each left row (identified by unique ``left_key``),
    attach the single latest right row at/before ``left_time``
    (``direction='backward'``; 'forward' = earliest at/after) sharing the
    ``on`` keys; ``tolerance`` (same units as the time columns) bounds
    the match window like pandas merge_asof — at scale it ALSO bounds
    the join fan-out a hot ``on`` key can produce, so production as-ofs
    should always pass one.

    Spark has no ASOF JOIN (SURVEY §2.3). Rewrite: equi-join on ``on`` +
    time-inequality filter, then ``row_number()==1`` per left row.
    Shuffle: both sides hash-partition on ``on`` for the join, then one
    more shuffle on ``left_key`` for the window — at scale prefer keys
    where ``on ⊆ {left_key}``-colocated, or pre-bucket both sides on
    ``on``. Right-side ties on ``right_time`` are broken by the remaining
    right columns (ascending) to stay deterministic.
    """
    rcols = [c for c in right.columns if c not in on]
    r = right
    for c in rcols:
        r = r.withColumnRenamed(c, c + suffix)
    rt = right_time + suffix
    if direction == "backward":
        cond, order = F.col(rt) <= F.col(left_time), [F.col(rt).desc()]
        if tolerance is not None:
            cond = cond & (F.col(rt) >= F.col(left_time) - tolerance)
    else:
        cond, order = F.col(rt) >= F.col(left_time), [F.col(rt).asc()]
        if tolerance is not None:
            cond = cond & (F.col(rt) <= F.col(left_time) + tolerance)
    order += [F.col(c + suffix).asc() for c in rcols if c != right_time]
    matched = (
        left.join(r, on=list(on), how="inner")
        .filter(cond)
        .withColumn("__rn", F.row_number().over(Window.partitionBy(left_key).orderBy(*order)))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    if how == "left":
        # Re-attach by the unique left_key ONLY: joining on all left
        # columns would never match rows where any left column is NULL
        # (NULL != NULL in join predicates), silently dropping their
        # asof match.
        right_side = matched.select(left_key, *[c + suffix for c in rcols])
        matched = left.join(right_side, on=[left_key], how="left")
    elif how != "inner":
        raise ValueError(f"asof_join supports how='left'|'inner', got {how!r}")
    return matched


def range_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_time: str,
    right_time: str,
    lower: int,
    upper: int,
) -> DataFrame:
    """Bounded interval join: right rows with ``right_time`` within
    ``[left_time+lower, left_time+upper]``, sharing the equi keys ``on``.

    Physical plan: sort-merge join on the equi keys with the range
    predicate evaluated inside the join — NOT a cross join. At 100 TB the
    equi key bounds the blow-up; for keyless range joins add a coarse
    time-bucket equi key to both sides first (bucket width ≥ window).
    """
    cond = [F.col(f"l.{k}") == F.col(f"r.{k}") for k in on]
    lt, rt = F.col(f"l.{left_time}"), F.col(f"r.{right_time}")
    cond += [rt >= lt + lower, rt <= lt + upper]
    return left.alias("l").join(right.alias("r"), on=cond, how="inner")


def topk_per_group(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column],
    k: int,
    rank_col: str = "rnk",
) -> DataFrame:
    """Top-k rows per group via row_number; ``order_by`` MUST be a total
    order (append a unique tie-break key) or results are nondeterministic
    (SURVEY §2.5). One shuffle on the partition keys; rank filter is
    evaluated before any downstream shuffle."""
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    return df.withColumn(rank_col, F.row_number().over(w)).filter(F.col(rank_col) <= k)


def salted(df: DataFrame, col: str, buckets: int, salt_col: str = "__salt") -> DataFrame:
    """Add a deterministic salt column for two-phase skewed aggregation:
    ``groupBy(key, salt)`` partial → ``groupBy(key)`` final. AQE fixes
    join skew but not agg skew (SURVEY §4.3) — this is the agg-side tool."""
    return df.withColumn(salt_col, F.pmod(F.xxhash64(F.col(col)), F.lit(buckets)))


def binned_interval_join(
    left: DataFrame,
    right: DataFrame,
    left_ts: str,
    right_ts: str,
    delta: int,
    bucket_col: str = "__bucket",
) -> DataFrame:
    """KEYLESS bounded-interval join: all (l, r) pairs with
    ``|l.left_ts - r.right_ts| <= delta`` (timestamps as non-negative
    integers, e.g. epoch seconds), rewritten as an EQUI-join.

    Why: Spark plans a keyless range predicate as
    BroadcastNestedLoopJoin — O(|L|·|R|) comparisons and a broadcast of
    a whole side; at 100 TB that plan is dead on arrival. Bucketing
    both sides by ``floor(ts / delta)`` and replicating the RIGHT side
    into its own bucket ±1 turns the predicate into a bucket equi-join
    (shuffle-hash, AQE-balanceable) followed by the exact |Δ| filter.
    Every true pair's bucket distance is ≤ 1, so the 3× replication
    loses nothing, and each pair meets in exactly ONE bucket (the
    left row's), so no dedup pass is needed. Cost: 3× |R| shuffle
    rows instead of |L|·|R| comparisons; candidate pairs are bounded
    by the per-bucket event rate, not corpus size.

    Columns must be disjoint between the two frames (raises otherwise);
    the bucket column is internal and dropped.
    """
    clash = set(left.columns) & set(right.columns)
    if clash:
        raise ValueError(f"left/right column collision: {sorted(clash)}")
    if delta <= 0:
        raise ValueError(f"delta must be positive, got {delta}")
    # ts div delta == floor for the non-negative epoch range; integer
    # div avoids float rounding at ns magnitudes entirely
    lb = left.withColumn(bucket_col, F.expr(f"{left_ts} div {delta}"))
    rb = right.withColumn("__rb", F.expr(f"{right_ts} div {delta}"))
    rb = rb.withColumn("__shift", F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))))
    rb = rb.withColumn(bucket_col, F.col("__rb") + F.col("__shift")).drop("__rb", "__shift")
    return (
        lb.join(rb, bucket_col)
        .where(F.abs(F.col(left_ts) - F.col(right_ts)) <= delta)
        .drop(bucket_col)
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    keys: Sequence[str],
    hash_col: str,
) -> DataFrame:
    """CDC-style diff of two snapshots sharing a primary key: returns
    ``(keys..., status)`` for every key whose row was ``added``,
    ``removed``, or ``changed`` (content compared via the caller's
    precomputed ``hash_col``). Unchanged keys are NOT emitted — at
    100 TB the delta is the product; materializing the unchanged 99%
    would make the diff as big as the table.

    Plan: each side reduces to (keys, hash) — column-pruned at the
    scan — then ONE full-outer shuffle join on the key. No sorting,
    no row-wide comparison network; the content hash stands in for
    the row. Works unchanged as the verify step after a backfill,
    a format migration, or an engine swap (pair with
    ops.sketch.table_fingerprint for the cheap no-join pre-check:
    fingerprints differ → run the diff to localize).
    """
    keys = list(keys)
    o = old.select(*keys, F.col(hash_col).alias("__ho"))
    n = new.select(*keys, F.col(hash_col).alias("__hn"))
    j = o.join(n, keys, "full_outer")
    status = (
        F.when(F.col("__ho").isNull(), F.lit("added"))
        .when(F.col("__hn").isNull(), F.lit("removed"))
        .when(F.col("__ho") != F.col("__hn"), F.lit("changed"))
    )
    return (
        j.withColumn("status", status)
        .where(F.col("status").isNotNull())
        .select(*keys, "status")
    )


def zorder_key(x: Column | str, y: Column | str, bits: int = 16) -> Column:
    """Morton (Z-order) key: interleave the low ``bits`` bits of two
    non-negative integer columns — x on even positions, y on odd.

    Pure BIGINT shift/mask arithmetic (no UDF, no float), so the key
    is bit-identical in every engine and stays inside whole-stage
    codegen. Range-partitioning or sorting a table by this key gives
    MULTI-dimensional locality: each file/row-group then spans a tight
    min-max box in BOTH source columns, so parquet min-max stats (and
    partition pruning on a z-bucket column) skip data for predicates
    on EITHER dimension — one layout serving two filter columns, the
    Delta/Iceberg OPTIMIZE ZORDER trick. Inputs must already be
    bounded to ``bits`` (callers bucket/clamp first); values outside
    the range would silently alias, so size ``bits`` to the domain.
    """
    cx = F.col(x) if isinstance(x, str) else x
    cy = F.col(y) if isinstance(y, str) else y
    terms = []
    for k in range(bits):
        terms.append(F.shiftleft(F.shiftright(cx, k).bitwiseAND(F.lit(1)), 2 * k))
        terms.append(F.shiftleft(F.shiftright(cy, k).bitwiseAND(F.lit(1)), 2 * k + 1))
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out.cast("long")


def incremental_join_delta(
    a_old: DataFrame,
    a_delta: DataFrame,
    b_old: DataFrame,
    b_delta: DataFrame,
    on: Sequence[str],
) -> DataFrame:
    """The DELTA of an inner equi-join under inserts to both sides:
    (A∪ΔA) ⋈ (B∪ΔB) = (A⋈B) ∪ [ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB] — this returns
    the bracketed term, so a stored join materialization advances one
    batch by APPENDING the delta instead of re-joining history.

    This is incremental view maintenance for joins (the companion to
    q_agg_incremental's algebraic-aggregate merge): nightly cost is
    two delta-sized probes against the big sides plus the tiny Δ⋈Δ —
    with ΔA/ΔB broadcast-sized (the usual case: one day of inserts vs
    years of history), NEITHER history table shuffles, and at 100 TB
    that is the difference between touching a day and touching the
    archive. Insert-only semantics; deletes/updates are a diff problem
    (pair with ops.relational.snapshot_diff to derive the delta frames
    from raw snapshots).
    """
    on = list(on)
    return (
        a_delta.join(b_old, on)
        .unionByName(a_old.join(b_delta, on))
        .unionByName(a_delta.join(b_delta, on))
    )


def fan_out(df: DataFrame, multiple: int = 1) -> DataFrame:
    """Scale-adaptive parallelism floor for CPU-dense map pipelines
    (r15, guide §2.5/§2.6): when the frame's INPUT is too small to fill
    the cluster (fewer estimated scan splits than cores), round-robin
    repartition to ``defaultParallelism × multiple`` so per-row-heavy
    work (shingling, MinHash, regex segmentation, codec decode) runs on
    every core instead of serializing into the scan's straggler task.
    When the input already yields >= that many splits — every real
    100 TB table — this is a NO-OP and no exchange is added, so the op
    never re-shuffles a big corpus just to "add parallelism".

    The gate reads leaf-file sizes via ``df.inputFiles()`` + the Hadoop
    FS API (driver-side metadata, no job, works on HDFS/S3A/local) and
    estimates splits with the scan's own ``maxPartitionBytes`` rule; it
    deliberately does NOT call ``df.rdd.getNumPartitions()``, which
    under AQE can materialize upstream query stages. Frames with no
    file leaves (planted in-memory constants) are left alone.

    Safe by construction for this engine's certified queries: the
    driver hash is order-insensitive, and the only partition-dependent
    expression in the package (exact.py two-level sums) is associative
    over partitions. Filters and column pruning push through the
    repartition node, so a downstream ``doc_id < 10`` still reaches
    the parquet scan's PushedFilters.
    """
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism * multiple
    try:
        files = [f for f in df.inputFiles() if f]
    except Exception:
        return df
    if not files or len(files) >= target:
        return df
    try:
        max_split = int(
            spark.conf.get("spark.sql.files.maxPartitionBytes").rstrip("b")
        )
    except Exception:
        max_split = 128 << 20
    try:
        jvm = spark._jvm
        hconf = spark._jsc.hadoopConfiguration()
        est_splits = 0
        for f in files:
            jpath = jvm.org.apache.hadoop.fs.Path(f)
            size = jpath.getFileSystem(hconf).getFileStatus(jpath).getLen()
            est_splits += max(1, -(-size // max_split))
            if est_splits >= target:
                return df
    except Exception:
        return df
    return df.repartition(target)


#: Default stored-bytes ceiling for a broadcast HINT on a frame derived
#: from a checkpointed relation: 64 MB of stored rows keeps the hinted
#: hash relation safely inside any sane broadcast budget; past it the
#: join is left unhinted and AQE picks the strategy from runtime sizes
#: (r15 ADVICE, medium — an unconditional hint gambles driver memory on
#: a data-proportional set).
BROADCAST_HINT_MAX_BYTES = 64 << 20


def stored_bytes(df: DataFrame) -> int | None:
    """Driver-side stored size (mem+disk bytes) of a ``localCheckpoint``-ed
    frame — read from the block manager's RDD storage info, so a gate on
    it costs ZERO jobs (a ``DataFrame.observe`` metric or a ``count()``
    each measured ~0.1 s of extra job + blocking per query at sf0.1).
    Returns None when the backing RDD cannot be found (callers treat
    that as too-big)."""
    try:
        jrdd = df._jdf.queryExecution().analyzed().rdd()
        rid = jrdd.id()
        for info in df.sparkSession._jsc.sc().getRDDStorageInfo():
            if info.id() == rid:
                return int(info.memSize()) + int(info.diskSize())
    except Exception:
        pass
    return None


def broadcast_if_small(
    df: DataFrame,
    stored: DataFrame,
    max_bytes: int = BROADCAST_HINT_MAX_BYTES,
) -> DataFrame:
    """Broadcast-hint ``df`` only while ``stored`` (the checkpointed
    frame ``df`` derives from and is bounded by) materialized at ≤
    ``max_bytes`` — the shared zero-job gate behind the LSH candidate-id
    and cluster-dedup rep-id semi-joins."""
    size = stored_bytes(stored)
    if size is not None and size <= max_bytes:
        return F.broadcast(df)
    return df


@contextmanager
def checkpoint_scope(spark: SparkSession) -> Iterator[None]:
    """Free, on exit, every RDD pinned on the executors since entry —
    the storage ``localCheckpoint`` pins outside the SQL CacheManager,
    where ``Dataset.unpersist()`` cannot reach it. Spark lists every
    pinned RDD in ``getPersistentRDDs()``, so the scope diffs that map's
    ids instead of registering checkpoints one by one. Open it where one
    caller owns both a frame's construction and its last action; frames
    checkpointed inside cannot be recomputed after it closes.

    The scope must not overlap other work on the same SparkContext —
    another session, a streaming query's foreachBatch thread, any other
    thread: an RDD pinned there meanwhile would be freed under it."""
    before = set(spark._jsc.getPersistentRDDs().keys())
    try:
        yield
    finally:
        for rdd_id, rdd in spark._jsc.getPersistentRDDs().items():
            if rdd_id not in before:
                rdd.unpersist(False)


def sized_repartition(
    df: DataFrame,
    tmp_dir: str,
    target_bytes: int = 256 << 20,
    sample_rows: int = 2000,
    min_partitions: int = 1,
    precomputed_rows: int | None = None,
    seed: int = 7,
) -> DataFrame:
    """Repartition so a parquet sink lands files NEAR ``target_bytes``
    each — the output-sizing step every production writer runs: too
    many small files strangle the downstream scan's task scheduling
    and the object store's listing; too few starve parallelism.

    Bytes-per-row is measured, not guessed: a seeded ``df.sample``
    of ~``sample_rows`` rows (not a head-of-frame limit — on
    size-sorted data a head systematically biases bytes/row) is
    written as real parquet under ``tmp_dir`` (same codec/encoding as
    the eventual sink — in-memory size estimates overshoot parquet by
    whatever the encoder saves), sized via the Hadoop FileSystem API
    (works on HDFS/S3A/local alike — a driver-local directory walk
    would silently find nothing on a remote filesystem), scaled by an
    exact count, rounded up. The probe directory is deleted in a
    finally block; finding ZERO probe bytes raises instead of
    clamping (a silent clamp would land the frame as
    ``min_partitions`` giant files — the exact failure this op
    exists to prevent).

    Cost: one count pass (skipped when the caller passes
    ``precomputed_rows``), one ~``sample_rows``-row probe write, and
    the caller's eventual sink — up to three evaluations of the
    input DAG. For a long upstream pipeline, ``df.persist()`` before
    calling (and unpersist after the sink) or pass
    ``precomputed_rows`` from a count the caller already paid for.

    The result uses round-robin repartition(n) (even sizes, no key
    skew); callers that need pruning or bucketing should use the
    cache layer's bucketed sink (``ArtifactCache.materialize(bucket_by=)``)
    instead — this op is for the "just give me ~256 MB shards" export."""
    import math
    import uuid

    n_rows = df.count() if precomputed_rows is None else int(precomputed_rows)
    if n_rows == 0:
        return df.repartition(min_partitions)
    spark = df.sparkSession
    sample_path = f"{tmp_dir.rstrip('/')}/__size_probe_{uuid.uuid4().hex}"
    if n_rows <= sample_rows:
        sample = df
    else:
        # seeded Bernoulli sample, slightly over-drawn so the probe is
        # ~sample_rows in expectation without a second pruning pass
        sample = df.sample(min(1.0, 1.1 * sample_rows / n_rows), seed=seed)
    # ONE probe file: sample() keeps the input partitioning, and a
    # ~2000-row probe scattered over many partitions would measure
    # per-file footer/dictionary overhead as bytes-per-row (5-10x high
    # on wide inputs), overshooting n into exactly the small-files
    # failure this op prevents (r14 self-review). repartition, not
    # coalesce: coalesce(1) would collapse the parallel upstream scan
    # into one task; repartition only shuffles the ~sample_rows rows.
    sample.repartition(1).write.mode("overwrite").parquet(sample_path)
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(sample_path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    try:
        probe_bytes, sampled = 0, 0
        files = fs.listFiles(jpath, True)
        while files.hasNext():
            f = files.next()
            if f.getPath().getName().endswith(".parquet"):
                probe_bytes += f.getLen()
        if probe_bytes > 0:
            # exact sampled count from the tiny probe's own footers —
            # never re-runs the upstream DAG
            sampled = spark.read.parquet(sample_path).count()
        if probe_bytes <= 0 or sampled <= 0:
            raise RuntimeError(
                f"sized_repartition: size probe at {sample_path} produced "
                f"{probe_bytes} parquet bytes / {sampled} rows — cannot "
                "measure bytes-per-row (wrong filesystem? empty sample?); "
                "refusing to guess an output partitioning"
            )
    finally:
        fs.delete(jpath, True)
    n = max(
        min_partitions, math.ceil(n_rows * (probe_bytes / sampled) / target_bytes)
    )
    return df.repartition(n)
