"""Random-data ORACLE REPLAY (r7): synthesize random input tables,
write them as parquet, and run declared queries AGAINST THEIR OWN
DuckDB oracles over the identical files — the driver's correctness
gate replayed on adversarial data instead of the fixed corpus.

This is the strongest differential layer in the suite: it drives the
exact declared (query fn, oracle SQL) pairs end-to-end, so any
divergence hypothesis finds here is precisely a CORRECTNESS_r{N} red
row waiting to happen. Datasets deliberately plant the edge shapes the
fixed corpus undersamples: duplicate and empty texts, byte-identical
embeddings, tied timestamps, single-user event streams.
"""

from __future__ import annotations

import datetime as dt
import os
import sys
from pathlib import Path

import duckdb
import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

from check_parity import canon_result, compare, run_oracle  # noqa: E402

from pipetree_spark.queries import load_registry  # noqa: E402

REGISTRY = load_registry()

#: queries replayed per synthetic dataset — chosen to (a) read only the
#: synthesizable tables and (b) cover the hand-built logic the fixed
#: corpus exercises thinly: gaps-and-islands, LOCF, rolling moments,
#: funnels, corpus stats, semantic dedup.
EVENT_QUERIES = [
    "q_ts_sessionize",
    "q_ts_locf",
    "q_ts_gapfill",
    "q_ts_anomaly",
    "q_ts_funnel",
    "q_ts_retention",
]
DOC_QUERIES = [
    "q_text_stats",
    "q_text_length_hist",
    "q_corpus_mixture",
    "q_dedup_exact",
    "q_text_tf",
    "q_text_quality",
    "q_text_repetition",
    "q_text_fingerprint",
    "q_text_langid",
    "q_text_winnow",
    "q_text_unigram_lm",
    "q_text_ngram_top",
    "q_text_chunk",
    "q_text_pack",
    "q_text_shuffle_shard",
    "q_dedup_near",
    "q_dedup_minhash_band",
    "q_dedup_keep_best",
    "q_dedup_cc",
    "q_text_tfidf",
    "q_text_decontam",
    "q_text_bpe_train",
    "q_text_bpe_encode",
]
VEC_QUERIES = [
    "q_vec_norm",
    "q_vec_quantize",
    "q_vec_centroid",
    "q_dedup_semantic",
    "q_dedup_semantic_ann",
    "q_dedup_embcos",
    "q_vec_cosine_knn",
    "q_vec_decontam",
]

WORDS = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta"]

events_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),          # user_id
        st.integers(min_value=0, max_value=5_000),      # offset seconds
        st.sampled_from(["view", "click", "purchase"]),
        st.integers(min_value=0, max_value=99_999),     # value cents
    ),
    min_size=1,
    max_size=40,
)

doc_rows = st.lists(
    st.tuples(
        st.sampled_from(["en", "de"]),
        st.sampled_from(["crawl", "wiki"]),
        st.lists(st.sampled_from(WORDS), min_size=0, max_size=12).map(" ".join),
    ),
    min_size=1,
    max_size=16,
)

# Component distribution is deliberately ADVERSARIAL for the signed-zero
# class (r10 verdict: the uniform [-1,1] strategy found q_vec_norm's
# unpinned round() that two corpus-based audits missed, but only barely —
# a negative sum in (-5e-5, 0) is rare under uniform draws). Mixing in
# tiny ±k·1e-5 atoms and exact-cancelling magnitudes makes
# rounds-to-zero sums/cosines LIKELY per example, so any future unpinned
# F.round() over a signable vector expression fails in the first
# handful of examples instead of surviving until a judge run.
_tiny = st.sampled_from(
    [0.0, 1e-5, -1e-5, 2.5e-5, -2.5e-5, 4.9e-5, -4.9e-5, 0.5, -0.5]
)
vec_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),  # label
        st.lists(
            st.one_of(
                st.floats(min_value=-1.0, max_value=1.0, allow_nan=False, width=32),
                _tiny,
            ),
            min_size=64,
            max_size=64,
        ),
    ),
    min_size=2,
    max_size=12,
)

FUZZ_SETTINGS = dict(
    # 4 examples by default (CI budget); validation runs crank it up via
    # FUZZ_MAX_EXAMPLES=60 (r11: the 50+-example signed-zero closure run)
    max_examples=int(os.environ.get("FUZZ_MAX_EXAMPLES", "4")),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)


def _replay(spark, sf_dir: str, names: list[str], view_tables: dict[str, str]) -> None:
    con = duckdb.connect()
    for t, path in view_tables.items():
        # Spark writes a part-file DIRECTORY; the driver's testdata are
        # single files — glob covers both
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}/*.parquet')"
        )
    for name in names:
        q = REGISTRY[name]
        sdf = q.fn(spark, sf_dir)
        srows = [tuple(r) for r in sdf.collect()]
        ocols, orows = run_oracle(con, q.oracle)
        sc, sr = canon_result(sdf.columns, srows)
        oc, orr = canon_result(ocols, orows)
        problems = compare(sc, sr, oc, orr, tol=0.0)
        assert not problems, f"{name}: {problems[:3]}"


@settings(**FUZZ_SETTINGS)
@given(events_rows)
def test_event_queries_survive_random_streams(spark, tmp_path_factory, rows):
    base = dt.datetime(2024, 1, 2, 12, 0, 0)  # inside the gapfill spine window
    data = [
        (
            i,
            base + dt.timedelta(seconds=off),
            uid,
            etype,
            cents / 100.0,
            "{}",
        )
        for i, (uid, off, etype, cents) in enumerate(rows)
    ]
    sf = str(tmp_path_factory.mktemp("fuzz_events"))
    spark.createDataFrame(
        data, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    ).write.parquet(f"{sf}/events.parquet")
    _replay(spark, sf, EVENT_QUERIES, {"events": f"{sf}/events.parquet"})


@settings(**FUZZ_SETTINGS)
@given(doc_rows)
def test_doc_queries_survive_random_corpora(spark, tmp_path_factory, rows):
    data = [
        (i, text, lang, source, len(text))
        for i, (lang, source, text) in enumerate(rows)
    ]
    sf = str(tmp_path_factory.mktemp("fuzz_docs"))
    spark.createDataFrame(
        data, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{sf}/documents.parquet")
    _replay(spark, sf, DOC_QUERIES, {"documents": f"{sf}/documents.parquet"})


@settings(**FUZZ_SETTINGS)
@given(vec_rows)
def test_vec_queries_survive_random_embeddings(spark, tmp_path_factory, rows):
    data = [(i, [float(x) for x in vec], lab) for i, (lab, vec) in enumerate(rows)]
    sf = str(tmp_path_factory.mktemp("fuzz_vecs"))
    spark.createDataFrame(
        data, "vec_id long, embedding array<float>, label int"
    ).write.parquet(f"{sf}/embeddings.parquet")
    _replay(spark, sf, VEC_QUERIES, {"embeddings": f"{sf}/embeddings.parquet"})


def test_moments_singleton_and_constant_groups_match_oracle(spark, tmp_path):
    """Torture case for hand-built variance math (r7): a singleton
    group makes (n-1) zero and a constant-value group makes the
    skewness denominator zero — DuckDB NULLs both through, and under
    ANSI mode Spark must NOT raise DIVIDE_BY_ZERO. Replays the declared
    query against its own oracle on exactly that shape."""
    import datetime as dt

    rows = [
        (0, dt.datetime(2024, 1, 2, 12, 0), 0, "view", 5.0, "{}"),
        (1, dt.datetime(2024, 1, 2, 12, 1), 0, "click", 7.0, "{}"),
        (2, dt.datetime(2024, 1, 2, 12, 2), 1, "click", 7.0, "{}"),
        (3, dt.datetime(2024, 1, 2, 12, 3), 1, "click", 7.0, "{}"),
        # fractional-cents constant group: vp cancels to a TINY NEGATIVE
        # double (-1e-20) — an unguarded SQRT crashes DuckDB and NaNs
        # Spark (r7 review finding; the integer groups above cancel to
        # exactly 0 and would never catch it)
        (4, dt.datetime(2024, 1, 2, 12, 4), 2, "error", 0.01, "{}"),
        (5, dt.datetime(2024, 1, 2, 12, 5), 2, "error", 0.01, "{}"),
        (6, dt.datetime(2024, 1, 2, 12, 6), 2, "error", 0.01, "{}"),
    ]
    sf = str(tmp_path)
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    ).write.parquet(f"{sf}/events.parquet")
    _replay(spark, sf, ["q_agg_moments"], {"events": f"{sf}/events.parquet"})
    got = {
        (r.event_type, r.n, r.var_samp, r.skewness)
        for r in REGISTRY["q_agg_moments"].fn(spark, sf).collect()
    }
    by_type = {t: (n, v, sk) for t, n, v, sk in got}
    assert by_type["view"] == (1, None, None)
    assert by_type["click"] == (3, 0.0, None)
    n, v, sk = by_type["error"]
    assert n == 3 and sk is None and abs(v) < 1e-18  # tiny-negative var, NULL skew
