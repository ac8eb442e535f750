"""Streaming execution tests (SURVEY §2.9 / §5.3.4).

Strategy: replay the events table (or synthetic rows) as a chunked
parquet directory stream with ``maxFilesPerTrigger=1`` so multiple
micro-batches fire, run to a memory sink with ``availableNow``, and
assert against the batch-mode result of the same expression (Spark's
unified semantics make batch the oracle for streaming).
"""

from __future__ import annotations

import os
import datetime as dt

import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from pipetree_spark.catalog import load_table
from pipetree_spark.ops import streaming as st


def _write_chunks(spark, df, tmpdir, n_chunks=4, order_col="ts"):
    """Write df as n_chunks single-file parquet pieces, ordered by
    order_col across chunks, with increasing mtimes so the file source
    replays them in time order."""
    path = str(tmpdir)
    ranked = df.withColumn("_b", F.ntile(n_chunks).over(Window.orderBy(order_col)))
    base = None
    for i in range(1, n_chunks + 1):
        chunk_dir = os.path.join(path, f"chunk_{i}")
        ranked.filter(F.col("_b") == i).drop("_b").coalesce(1).write.parquet(chunk_dir)
        for f in os.listdir(chunk_dir):
            if f.endswith(".parquet"):
                full = os.path.join(chunk_dir, f)
                dst = os.path.join(path, f"{i:03d}.parquet")
                os.rename(full, dst)
                if base is None:
                    base = os.path.getmtime(dst)
                os.utime(dst, (base + i, base + i))
        import shutil

        shutil.rmtree(chunk_dir)
    return path


@pytest.fixture(scope="module")
def events_stream_dir(spark, sf_small, tmp_path_factory):
    events = load_table(spark, sf_small, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    return _write_chunks(spark, events, tmp_path_factory.mktemp("events_chunks"))


def test_tumbling_stream_matches_batch(spark, sf_small, events_stream_dir):
    sdf = st.file_stream(spark, events_stream_dir)
    got = st.run_to_memory(st.tumbling_counts(sdf), spark, output_mode="append")

    events = load_table(spark, sf_small, "events")
    want = st.tumbling_counts(events)

    got_rows = {(r.window_start_sec, r.event_type): r.n_events for r in got.collect()}
    want_rows = {(r.window_start_sec, r.event_type): r.n_events for r in want.collect()}

    # Append mode only emits windows the final watermark has passed; every
    # emitted window must match batch exactly, and most windows must emit.
    assert got_rows, "stream produced no rows"
    for k, v in got_rows.items():
        assert want_rows[k] == v, f"window {k}: stream={v} batch={want_rows[k]}"
    assert len(got_rows) >= len(want_rows) * 0.5


def _write_row_chunks(spark, tmp_path, chunks):
    """Write each row-list as one parquet file with increasing mtimes so
    the file source replays them as separate micro-batches in order."""
    import glob
    import shutil

    base = None
    for i, rows in enumerate(chunks):
        cdir = str(tmp_path / f"c{i}")
        spark.createDataFrame(rows, schema=st.EVENTS_STREAM_SCHEMA).coalesce(1).write.parquet(cdir)
        dst = str(tmp_path / f"{i:03d}.parquet")
        shutil.move(glob.glob(cdir + "/*.parquet")[0], dst)
        shutil.rmtree(cdir)
        if base is None:
            base = os.path.getmtime(dst)
        os.utime(dst, (base + i, base + i))
    return str(tmp_path)


def test_watermark_drops_late_rows(spark, tmp_path):
    """A row arriving micro-batches later, with ts far behind the
    watermark, must be excluded from its (already closed) window.

    Note Spark keeps TWO watermarks per stateful op: late-event filtering
    uses the previous batch's watermark, eviction uses the current one —
    so a filler batch is needed between the watermark-advancing row and
    the late row for the drop to be observable.
    """
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    path = _write_row_chunks(
        spark,
        tmp_path,
        [
            [(1, t0, 10, "click", 1.0), (2, t0 + dt.timedelta(minutes=30), 10, "click", 1.0)],
            # advances watermark far past the first window (wm = max_ts - 10m)
            [(3, t0 + dt.timedelta(hours=5), 10, "click", 1.0)],
            # filler: propagates the advanced watermark into the late-event filter
            [(5, t0 + dt.timedelta(hours=5, minutes=1), 10, "click", 1.0)],
            [(4, t0 + dt.timedelta(minutes=1), 10, "click", 1.0)],  # hours late
        ],
    )
    sdf = st.file_stream(spark, path)
    out = st.run_to_memory(st.tumbling_counts(sdf), spark, output_mode="append")
    first_window = int(t0.replace(tzinfo=dt.timezone.utc).timestamp())
    got = {r.window_start_sec: r.n_events for r in out.collect()}
    # late event_id=4 fell in the first (closed) window → count stays 2
    assert got.get(first_window) == 2


def test_stream_dedup_within_watermark(spark, tmp_path):
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (1, t0, 10, "click", 1.0),
        (1, t0 + dt.timedelta(seconds=30), 10, "click", 1.0),  # dup id within wm
        (2, t0 + dt.timedelta(minutes=1), 11, "view", 2.0),
    ]
    spark.createDataFrame(rows, schema=st.EVENTS_STREAM_SCHEMA).write.parquet(
        str(tmp_path / "d")
    )
    sdf = st.file_stream(spark, str(tmp_path / "d"))
    out = st.run_to_memory(st.stream_dedup(sdf), spark, output_mode="append")
    ids = sorted(r.event_id for r in out.collect())
    assert ids == [1, 2]


def test_stream_static_join_matches_batch(spark, sf_small, events_stream_dir):
    dim = (
        load_table(spark, sf_small, "customer")
        .select(F.col("c_custkey").alias("user_id"), "c_mktsegment")
    )
    sdf = st.file_stream(spark, events_stream_dir)
    joined = st.stream_static_join(sdf, dim, on="user_id")
    got = st.run_to_memory(joined, spark, output_mode="append")

    events = load_table(spark, sf_small, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    want = events.join(dim, on="user_id", how="inner")
    assert got.count() == want.count()


def test_stream_stream_join_time_bounded(spark, sf_small, events_stream_dir):
    l = st.file_stream(spark, events_stream_dir)
    r = st.file_stream(spark, events_stream_dir)
    got = st.run_to_memory(st.stream_stream_join(l, r), spark, output_mode="append")

    events = load_table(spark, sf_small, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    want = st.stream_stream_join(
        events.withColumnRenamed("x", "x"), events
    )  # batch mode: same expression, watermark is a no-op
    # Stream joins may drop pairs whose partner fell behind the watermark at
    # arrival; everything emitted must be a true pair, and coverage is high.
    got_pairs = {(r2.l_event_id, r2.r_event_id) for r2 in got.collect()}
    want_pairs = {(r2.l_event_id, r2.r_event_id) for r2 in want.collect()}
    assert got_pairs <= want_pairs
    assert len(got_pairs) >= len(want_pairs) * 0.9


def test_stateful_running_counts(spark, sf_small, events_stream_dir):
    sdf = st.file_stream(spark, events_stream_dir)
    out = st.run_to_memory(st.running_user_counts(sdf), spark, output_mode="update")
    # memory/update sink appends one row per (batch, user); the final row
    # per user is the running total = batch groupBy result
    import pandas as pd

    pdf = out.toPandas()
    final = pdf.groupby("user_id").last()

    events = load_table(spark, sf_small, "events")
    want = {
        r.user_id: (r.n, r.s)
        for r in events.groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    assert len(final) == len(want)
    for uid, row in final.iterrows():
        n, s = want[uid]
        assert row["n_events"] == n
        assert abs(row["sum_value"] - s) < 1e-6


def test_transform_with_state_running_max(spark, sf_small, events_stream_dir):
    """Spark 4 transformWithStateInPandas (StatefulProcessor + RocksDB
    state store): streamed per-user running max must converge to the
    batch max. The API's state-server protocol needs google.protobuf,
    absent in this container → skip (applyInPandasWithState covers
    arbitrary state above); the op itself is environment-gated only by
    that import."""
    pytest.importorskip("google.protobuf.descriptor")
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        sdf = st.file_stream(spark, str(events_stream_dir))
        out = st.run_to_memory(st.running_user_max_tws(sdf), spark, output_mode="update")
        # update sink: one row per (batch, user); last emission per user
        # carries the full-history max
        final = {
            r["user_id"]: r["max_value"]
            for r in out.collect()  # memory sink preserves emission order per batch
        }
        batch = {
            r["user_id"]: r["mx"]
            for r in load_table(spark, sf_small, "events")
            .groupBy("user_id")
            .agg(F.max("value").alias("mx"))
            .collect()
        }
        assert set(final) == set(batch)
        for u, mx in batch.items():
            assert abs(final[u] - mx) < 1e-12
    finally:
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


def test_foreachbatch_incremental_dedup_ingest(spark, tmp_path):
    """foreachBatch incremental-dedup ingest: stream three micro-batches
    with in-batch, cross-batch, and whitespace-variant duplicates; only
    first-seen texts land in the sink, the ledger records one hash per
    admitted doc, and replaying a batch_id is a no-op (idempotence)."""
    schema = "doc_id long, text string, lang string"
    b1 = spark.createDataFrame(
        [(1, "alpha beta gamma", "en"), (2, "alpha beta gamma", "en"),
         (3, "delta epsilon zeta", "en")],
        schema,
    )
    b2 = spark.createDataFrame(
        [(4, "  Alpha Beta Gamma ", "en"),  # normalized dup of doc 1
         (5, "eta theta iota", "en")],
        schema,
    )
    b3 = spark.createDataFrame([(6, "kappa lambda mu", "en")], schema)
    feed = _write_chunks(
        spark,
        b1.unionByName(b2).unionByName(b3),
        tmp_path / "feed",
        n_chunks=3,
        order_col="doc_id",
    )
    ledger, out, ckpt = (str(tmp_path / d) for d in ("ledger", "out", "ckpt"))
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
        .writeStream.foreachBatch(st.incremental_dedup_sink(ledger, out))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(r.doc_id for r in spark.read.parquet(out).collect())
    assert got == [1, 3, 5, 6]  # 2 (in-batch dup), 4 (cross-batch) dropped
    ledger_rows = spark.read.parquet(ledger).collect()
    assert len(ledger_rows) == 4
    # idempotence: re-running an already-recorded batch admits nothing
    replay = st.incremental_dedup_batch(b1, 0, ledger, out)
    assert replay == 0
    assert sorted(r.doc_id for r in spark.read.parquet(out).collect()) == got


def test_incremental_dedup_replay_after_crash_is_duplicate_free(spark, tmp_path):
    """The ADVICE crash window: data written, ledger commit lost. The
    replayed micro-batch (same batch_id, no ledger record) must
    OVERWRITE its own deterministic partition — out_dir ends up with
    exactly one copy of the batch, not two."""
    schema = "doc_id long, text string, lang string"
    b = spark.createDataFrame(
        [(1, "alpha beta", "en"), (2, "gamma delta", "en")], schema
    )
    ledger, out = str(tmp_path / "ledger"), str(tmp_path / "out")
    # simulate the crash: perform only the data-write half of the batch
    b.write.mode("overwrite").parquet(f"{out}/batch_id=0")
    assert spark.read.parquet(out).count() == 2
    # replay the full batch — guard doesn't fire (no ledger row), the
    # partition overwrite replaces the orphan instead of appending
    admitted = st.incremental_dedup_batch(b, 0, ledger, out)
    assert admitted == 2
    rows = spark.read.parquet(out).collect()
    assert sorted(r.doc_id for r in rows) == [1, 2]  # no duplicates
    assert spark.read.parquet(ledger).count() == 2
    # second replay now hits the ledger guard → no-op
    assert st.incremental_dedup_batch(b, 0, ledger, out) == 0
    assert spark.read.parquet(out).count() == 2


def test_incremental_dedup_frees_only_its_own_checkpoint(spark, tmp_path, monkeypatch):
    """foreachBatch runs on the stream's thread, alongside the driver and
    other streams. A frame another thread checkpoints WHILE a micro-batch
    runs must still collect afterwards (its lineage is truncated, so a
    freed block cannot be recomputed); the batch frees its own pin."""
    import threading

    from pyspark.sql import DataFrameWriter

    b = spark.createDataFrame(
        [(1, "alpha beta", "en"), (2, "gamma delta", "en")],
        "doc_id long, text string, lang string",
    )
    other = spark.range(50).withColumn("sq", F.col("id") * F.col("id"))
    pinned_elsewhere = []
    orig_parquet = DataFrameWriter.parquet

    def parquet_after_a_concurrent_checkpoint(self, *a, **kw):
        if not pinned_elsewhere:  # mid-batch: after the count, before the writes
            t = threading.Thread(
                target=lambda: pinned_elsewhere.append(other.localCheckpoint(eager=True))
            )
            t.start()
            t.join()
        return orig_parquet(self, *a, **kw)

    def pinned() -> set:
        return set(spark._jsc.getPersistentRDDs().keys())

    start = pinned()
    monkeypatch.setattr(DataFrameWriter, "parquet", parquet_after_a_concurrent_checkpoint)
    admitted = st.incremental_dedup_batch(
        b, 0, str(tmp_path / "ledger"), str(tmp_path / "out")
    )
    monkeypatch.undo()
    assert admitted == 2
    [held] = pinned_elsewhere
    assert len(pinned() - start) == 1  # the other thread's pin only
    assert sorted(held.collect()) == sorted(other.collect())


def test_incremental_dedup_survives_query_restart(spark, tmp_path):
    """r7 verdict #7: crash-replay idempotence proven ACROSS A QUERY
    RESTART, not just a same-process re-call. Phase 1 runs the stream
    (checkpointed file source) over the first chunk only and stops —
    batch 0 is committed to the checkpoint. The crash is then staged
    exactly in the documented window for the NEXT batch: its data
    partition exists (with a poison duplicate row, as a half-written
    replay could leave) but no ledger commit and no checkpoint commit.
    The restarted query — same checkpointLocation — must replay that
    batch under the same batch_id, OVERWRITE the orphan partition, and
    finish with the admitted set IDENTICAL to an uninterrupted twin run
    into fresh dirs. The sink's durable state is the ledger + the
    checkpoint offsets; no stateful-operator store is involved."""
    schema = "doc_id long, text string, lang string"
    b1 = spark.createDataFrame(
        [(1, "alpha beta gamma", "en"), (2, "alpha beta gamma", "en"),
         (3, "delta epsilon zeta", "en")],
        schema,
    )
    b2 = spark.createDataFrame(
        [(4, "  Alpha Beta Gamma ", "en"), (5, "eta theta iota", "en")],
        schema,
    )
    b3 = spark.createDataFrame([(6, "kappa lambda mu", "en")], schema)

    feed = tmp_path / "feed"
    feed.mkdir()

    def add_chunk(df, i):
        tmp = tmp_path / f"stage_chunk{i}"
        df.coalesce(1).write.parquet(str(tmp))
        part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        os.rename(str(tmp / part), str(feed / f"{i:03d}.parquet"))

    ledger, out, ckpt = (str(tmp_path / d) for d in ("ledger", "out", "ckpt"))

    def run_stream():
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(feed))
            .writeStream.foreachBatch(st.incremental_dedup_sink(ledger, out))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # phase 1: only chunk 1 visible → batch 0 commits, query stops
    add_chunk(b1, 1)
    run_stream()
    assert sorted(r.doc_id for r in spark.read.parquet(out).collect()) == [1, 3]

    # stage the crash window for the next batch: orphan data partition
    # (with a poison dup of doc 1's text) but NO ledger / checkpoint commit
    add_chunk(b2, 2)
    add_chunk(b3, 3)
    poison = b2.unionByName(
        spark.createDataFrame([(999, "alpha beta gamma", "en")], schema)
    )
    poison.write.mode("overwrite").parquet(f"{out}/batch_id=1")
    assert 999 in {r.doc_id for r in spark.read.parquet(out).collect()}

    # phase 2: restart from the same checkpoint — replays batch 1 over
    # the orphan, then batch 2
    run_stream()
    got = sorted(r.doc_id for r in spark.read.parquet(out).collect())

    # uninterrupted twin run (fresh dirs, same feed)
    l2, o2, c2 = (str(tmp_path / d) for d in ("ledger2", "out2", "ckpt2"))
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(feed))
        .writeStream.foreachBatch(st.incremental_dedup_sink(l2, o2))
        .option("checkpointLocation", c2)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    want = sorted(r.doc_id for r in spark.read.parquet(o2).collect())

    assert got == want == [1, 3, 5, 6]  # poison row gone, no dups, no losses
    assert spark.read.parquet(ledger).count() == 4


def test_streaming_hll_registers_match_batch_sketch(spark, sf_small, events_stream_dir):
    """running_distinct_hll: streamed per-type HLL registers must equal
    the BATCH sketch (ops/sketch.hll_registers_by) over the same events
    — same md5 split, same rho — and register updates must be monotone
    (element-wise max over the update stream reproduces the final row)."""
    from pipetree_spark.ops.sketch import hll_registers_by

    sdf = st.file_stream(spark, events_stream_dir)
    out = st.run_to_memory(st.running_distinct_hll(sdf), spark, output_mode="update")
    pdf = out.toPandas()

    batch = {
        r.event_type: r.registers
        for r in hll_registers_by(
            load_table(spark, sf_small, "events"), "user_id", ["event_type"]
        ).collect()
    }
    finals = {}
    for et, grp in pdf.groupby("event_type"):
        # updates are monotone: the element-wise max across ALL updates
        # must equal the last (final-state) update
        mx = [0] * 64
        last = None
        for regs in grp["registers"]:
            mx = [max(a, b) for a, b in zip(mx, regs)]
            last = list(regs)
        assert mx == last
        finals[et] = last
    assert finals == batch


def test_streaming_ohlc_bars_match_batch(spark, sf_small, events_stream_dir):
    """running_ohlc: the FINAL streamed bar per (event_type, day) must
    equal the batch OHLC over the same feed under the same (µs,
    event_id) tick order, regardless of micro-batch chunking; volumes
    must be monotone across updates."""
    sdf = st.file_stream(spark, events_stream_dir)
    out = st.run_to_memory(st.running_ohlc(sdf), spark, output_mode="update")
    pdf = out.toPandas()

    finals = {}
    for (et, day), grp in pdf.groupby(["event_type", "day"]):
        vols = list(grp["volume"])
        assert vols == sorted(vols)
        last = grp.iloc[-1]
        finals[(et, int(day))] = (
            last["open"], last["high"], last["low"], last["close"], int(last["volume"])
        )

    e = load_table(spark, sf_small, "events").select(
        "event_type",
        F.expr("CAST(ts AS LONG) div 86400").alias("day"),
        F.col("ts").cast("long").alias("tsec"),
        F.expr("CAST(ts AS DECIMAL(20,6)) * 1000000").cast("long").alias("tus"),
        "event_id",
        "value",
    )
    w_a = Window.partitionBy("event_type", "day").orderBy("tus", "event_id")
    w_d = Window.partitionBy("event_type", "day").orderBy(
        F.col("tus").desc(), F.col("event_id").desc()
    )
    batch = (
        e.select(
            "event_type", "day", "value",
            F.row_number().over(w_a).alias("rn_a"),
            F.row_number().over(w_d).alias("rn_d"),
        )
        .groupBy("event_type", "day")
        .agg(
            F.max(F.when(F.col("rn_a") == 1, F.col("value"))).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max(F.when(F.col("rn_d") == 1, F.col("value"))).alias("close"),
            F.count("*").alias("volume"),
        )
        .collect()
    )
    expected = {
        (r.event_type, r.day): (r.open, r.high, r.low, r.close, r.volume)
        for r in batch
    }
    assert finals == expected


def test_streaming_ohlc_null_ticks_match_batch(spark, tmp_path):
    """running_ohlc on a feed WITH NULL-valued ticks: batch MAX/MIN
    ignore NULLs, open/close pass the tick value through (NULL stays
    NULL), volume counts every tick — the streamed bar must do the
    same instead of letting one NaN poison high/low (the numpy
    float64 cast turns NULL into NaN, and NaN propagates through a
    bare .max()). Chunking splits the NULLs across micro-batches so
    both the in-batch and the state-merge paths are exercised."""
    import pandas as pd

    t0 = dt.datetime(2024, 3, 1, 12, 0, 0)
    s = lambda k: t0 + dt.timedelta(seconds=k)  # noqa: E731
    chunks = [
        # batch 1: opening tick is NULL-valued; one real tick
        [(1, s(0), 10, "click", None), (2, s(1), 11, "click", 5.0)],
        # batch 2: all-NULL micro-batch (state-merge path with no finite values)
        [(3, s(2), 12, "click", None)],
        # batch 3: real extremes + a NULL closing tick
        [(4, s(3), 13, "click", 9.0), (5, s(4), 14, "click", 2.0),
         (6, s(5), 15, "click", None)],
    ]
    feed = _write_row_chunks(spark, tmp_path, chunks)
    sdf = st.file_stream(spark, feed)
    out = st.run_to_memory(st.running_ohlc(sdf), spark, output_mode="update")
    pdf = out.toPandas()
    last = pdf[pdf["event_type"] == "click"].iloc[-1]

    day = int(t0.replace(tzinfo=dt.timezone.utc).timestamp()) // 86400
    assert int(last["day"]) == day
    assert pd.isna(last["open"])  # first tick's value IS NULL
    assert last["high"] == 9.0 and last["low"] == 2.0  # NULLs ignored
    assert pd.isna(last["close"])  # last tick's value IS NULL
    assert int(last["volume"]) == 6  # COUNT(*) counts NULL-valued ticks


def test_streaming_session_windows_match_batch_islands(spark, sf_small, events_stream_dir):
    """session_counts (native F.session_window, append mode): every
    streamed CLOSED session must exactly equal a batch gaps-and-islands
    session (same 30-min gap rule: start = first event, end = last
    event + gap, n = island size), and every batch island whose close
    is safely inside the watermark horizon must have been emitted."""
    sdf = st.file_stream(spark, events_stream_dir)
    out = st.run_to_memory(
        st.session_counts(sdf), spark, output_mode="append"
    ).collect()
    streamed = {
        (r.user_id, r.session_start_sec, r.session_end_sec): r.n_events for r in out
    }

    e = load_table(spark, sf_small, "events").select(
        "user_id", F.col("ts").cast("long").alias("sec")
    )
    w = Window.partitionBy("user_id").orderBy("sec")
    isl = (
        e.withColumn(
            "new_sess",
            (
                F.lag("sec").over(w).isNull()
                | ((F.col("sec") - F.lag("sec").over(w)) > 1800)
            ).cast("int"),
        )
        .withColumn("sess_id", F.sum("new_sess").over(w))
        .groupBy("user_id", "sess_id")
        .agg(
            F.min("sec").alias("start"),
            (F.max("sec") + 1800).alias("end"),
            F.count("*").alias("n"),
        )
        .collect()
    )
    batch = {(r.user_id, r.start, r.end): r.n for r in isl}
    max_sec = max(r.end for r in isl) - 1800

    # everything streamed must be a real island
    for k, n in streamed.items():
        assert batch.get(k) == n, k
    # every island that provably closed must have been streamed
    horizon = max_sec - 600 - 1800
    must_close = {k: n for k, n in batch.items() if k[2] <= horizon}
    missing = {k for k in must_close if k not in streamed}
    assert not missing, f"{len(missing)} closed sessions never emitted"
    assert len(streamed) >= len(must_close) > 0


def test_streaming_warc_ingest_matches_batch_and_dedups(spark, tmp_path):
    """r13 (r12 verdict item 5): the crawl front-end as a stream. WARC
    archives land as files; readStream(binaryFile) feeds the SAME
    warc_extract_stage the certified batch path runs, a status filter
    drops the 404 captures, and the exactly-once incremental-dedup
    sink admits each normalized body once across micro-batches — the
    union of the sink equals the batch-mode extract + first-seen dedup
    over the same files."""
    from pipetree_spark.ops import mm as MM
    from pipetree_spark.ops import text as TX

    # 9 archives, 4 texts cycling -> cross-file duplicate bodies; group
    # 3 first APPEARS in the second micro-batch, so admission provably
    # spans batches; make_warc_payload plants deterministic 404s by
    # text digest (group 2 is the 404 group for this template)
    texts = [f"fetched document {i % 4} tokens" for i in range(9)]
    d = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    payloads = {r.doc_id: bytes(r.content)
                for r in MM.make_warc_payload(d).collect()}
    feed = tmp_path / "feed"
    feed.mkdir()
    base = None
    for did in sorted(payloads):
        p = feed / f"shard{did:03d}.warc"
        p.write_bytes(payloads[did])
        if base is None:
            base = os.path.getmtime(p)
        os.utime(p, (base + did, base + did))  # mtime order == doc order

    # batch oracle: same files, batch source, same extract + dedup rule
    braw = (spark.read.format("binaryFile")
            .option("pathGlobFilter", "*.warc").load(str(feed)))
    bkeyed = braw.select(
        F.regexp_extract("path", r"(\d+)\.warc$", 1).cast("long").alias("doc_id"),
        "content")
    bex_all = MM.warc_extract_stage(bkeyed)
    assert bex_all.where(F.col("http_status") != 200).count() > 0  # 404s real
    bex = bex_all.where(F.col("http_status") == 200)
    w = Window.partitionBy(TX.text_hash("body_html")).orderBy("doc_id")
    expected = sorted(
        r.doc_id
        for r in bex.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1).collect()
    )
    n200 = bex.count()
    assert n200 > len(expected) > 0  # duplicate bodies really planted

    # streaming twin: 3 files per micro-batch (SOURCE-side option — on
    # the sink it is silently ignored) -> multiple batches, shared stage
    ledger, out, ckpt = (str(tmp_path / x) for x in ("ledger", "out", "ckpt"))
    sex = st.warc_stream_extract(
        spark, str(feed), max_files_per_trigger=3
    ).where(F.col("http_status") == 200).select(
        "doc_id", F.col("body_html").alias("text")
    )
    q = (
        sex.writeStream.foreachBatch(st.incremental_dedup_sink(ledger, out))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(r.doc_id for r in spark.read.parquet(out).collect())
    assert got == expected
    ledger_rows = spark.read.parquet(ledger).collect()
    # one hash per admitted body, admitted across MULTIPLE micro-batches
    # (the cross-batch ledger anti-join actually ran)
    assert len(ledger_rows) == len(expected)
    assert len({r.batch_id for r in ledger_rows}) > 1


def test_streaming_warc_gz_and_path_hash_keys(spark, tmp_path):
    """r13 review: (a) gzip feeds stream through codec='gzip' — the
    decompress stage composes INSIDE warc_stream_extract, matching the
    batch decompress+extract result; (b) key_from='path_hash' yields
    unique non-null keys even when shard digits collide."""
    from pyspark.sql import functions as F

    from pipetree_spark.ops import mm as MM

    texts = [f"gz stream doc {i} tokens" for i in range(4)]
    d = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    payloads = {r.doc_id: bytes(r.content)
                for r in MM.make_warc_payload(d, gzip_members=True).collect()}
    feed = tmp_path / "gzfeed"
    feed.mkdir()
    # two subdirs with COLLIDING shard digits (001 appears twice)
    for sub, dids in (("day1", (0, 1)), ("day2", (2, 3))):
        (feed / sub).mkdir()
        for j, did in enumerate(dids):
            (feed / sub / f"shard{j:03d}.warc.gz").write_bytes(payloads[did])

    # batch oracle: binaryFile + decompress + extract over the same files
    braw = (spark.read.format("binaryFile")
            .option("pathGlobFilter", "*.warc.gz")
            .option("recursiveFileLookup", "true").load(str(feed)))
    bkeyed = braw.select(F.xxhash64("path").alias("doc_id"), "content")
    bex = MM.warc_extract_stage(
        MM.decompress_stage(bkeyed, codec="gzip").select("doc_id", "content")
    )
    expected = {tuple(r) for r in bex.collect()}
    assert len(expected) == 4

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = (
        st.warc_stream_extract(
            spark, str(feed) + "/*", pattern="*.warc.gz",
            codec="gzip", key_from="path_hash",
        )
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.read.parquet(out)
    assert {tuple(r) for r in got.collect()} == expected
    keys = [r.doc_id for r in got.select("doc_id").collect()]
    assert len(set(keys)) == 4 and all(k is not None for k in keys)


def test_streaming_line_flags_match_batch_criterion(spark, tmp_path):
    """running_line_flags: the latched streaming boilerplate flags over
    a multi-micro-batch document feed must equal the BATCH
    distinct-doc criterion (ops.text line frequencies ≥ min_docs),
    including a line whose two occurrences arrive in DIFFERENT
    batches; per-line state is bounded at min_docs keys."""
    import pipetree_spark.ops.text as TX

    feed = tmp_path / "docfeed"
    feed.mkdir()
    schema = "doc_id long, text string"
    batch1 = [(0, "shared footer\nalpha body"), (1, "beta body\nsplit line")]
    batch2 = [(2, "shared footer\ngamma body"), (3, "split line\ndelta body")]
    spark.createDataFrame(batch1, schema).coalesce(1).write.parquet(
        str(feed / "b1")
    )
    spark.createDataFrame(batch2, schema).coalesce(1).write.parquet(
        str(feed / "b2")
    )
    doc_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    sdf = (
        spark.readStream.schema(doc_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(feed / "*"))
    )
    out = st.run_to_memory(
        st.running_line_flags(sdf, chunk=None, min_docs=2),
        spark,
        output_mode="update",
    ).toPandas()

    # final streamed flag per line = last update row
    # the flag is latch-monotone (0 then 1), so max() is the final
    # state regardless of collected row order
    finals = {}
    for line, grp in out.groupby("line"):
        finals[line] = int(grp["is_boilerplate"].max())

    batch_docs = spark.createDataFrame(batch1 + batch2, schema)
    lines = TX.doc_lines(batch_docs, chunk=None)
    want = {
        r.line: (1 if r.ndocs >= 2 else 0)
        for r in lines.groupBy("line")
        .agg(F.count_distinct("doc_id").alias("ndocs"))
        .collect()
    }
    assert finals == want
    # the cross-batch duplicates really latched
    assert finals["shared footer"] == 1 and finals["split line"] == 1
    assert finals["alpha body"] == 0


def test_streaming_sentence_flags_match_batch_criterion(spark, tmp_path):
    """running_line_flags(unit='sentence'): the r14 sentence tier
    streamed — a tagline whose two occurrences arrive in different
    micro-batches latches; unique body sentences never do."""
    import pipetree_spark.ops.text as TX

    feed = tmp_path / "sentfeed"
    feed.mkdir()
    schema = "doc_id long, text string"
    batch1 = [(0, "visit our site now. unique alpha body")]
    batch2 = [(1, "visit our site now. unique beta body")]
    spark.createDataFrame(batch1, schema).coalesce(1).write.parquet(
        str(feed / "b1")
    )
    spark.createDataFrame(batch2, schema).coalesce(1).write.parquet(
        str(feed / "b2")
    )
    doc_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    sdf = (
        spark.readStream.schema(doc_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(feed / "*"))
    )
    out = st.run_to_memory(
        st.running_line_flags(sdf, min_docs=2, unit="sentence"),
        spark,
        output_mode="update",
    ).toPandas()
    finals = {
        line: int(grp["is_boilerplate"].max())
        for line, grp in out.groupby("line")
    }
    batch_docs = spark.createDataFrame(batch1 + batch2, schema)
    want = {
        r.line: (1 if r.ndocs >= 2 else 0)
        for r in TX.doc_lines(batch_docs, unit="sentence")
        .groupBy("line")
        .agg(F.count_distinct("doc_id").alias("ndocs"))
        .collect()
    }
    assert finals == want
    assert finals["visit our site now."] == 1
    assert finals["unique alpha body"] == 0
