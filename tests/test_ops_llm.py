"""Unit tests for the LLM-data ops (SURVEY §2.12): dedup family
agreement, lang-id accuracy on synthetic text, LSH ANN recall, and the
multimodal binary plumbing."""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F

from pipetree_spark.catalog import load_table
from pipetree_spark.ops import mm as MM
from pipetree_spark.ops import text as TX
from pipetree_spark.ops import vector as VX

# Synthetic corpus with known duplicate structure: 1/2 exact-normalized
# dups, 3/4 near-dups (one word changed), 5 unique, 6/7 near-dups.
DOCS = [
    (1, "en", "the quick brown fox jumps over the lazy dog near the river bank"),
    (2, "en", "  The quick brown fox jumps over the lazy dog near the river bank "),
    (3, "en", "machine learning models require large amounts of clean training data today"),
    (4, "en", "machine learning models require large amounts of clean training text today"),
    (5, "en", "completely unrelated sentence about cooking pasta with fresh tomato sauce"),
    (6, "en", "spark structured streaming handles late data with watermarks and windows"),
    (7, "en", "spark structured streaming handles late data with watermarks and triggers"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "lang", "text"])


def test_exact_dedup_normalizes_and_keeps_smallest_key(spark, docs):
    kept = TX.exact_dedup(docs)
    ids = sorted(r.doc_id for r in kept.select("doc_id").collect())
    # doc 2 is a case/whitespace variant of doc 1 → dropped; all else kept
    assert ids == [1, 3, 4, 5, 6, 7]


def test_near_dup_pairs_finds_planted_pairs(spark, docs):
    pairs = TX.near_dup_pairs(docs, threshold=0.5)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (1, 2) in got and (3, 4) in got and (6, 7) in got
    assert not any(5 in p for p in got)


def test_near_dup_hub_cap_bounds_boilerplate_buckets(spark, docs):
    """A hub shingle (boilerplate shared by every doc) must not create a
    k² bucket: with max_bucket set below the hub's posting-list size the
    hub is anti-joined out, boilerplate-only overlap emits NO pairs, and
    genuine near-dups (sharing rare shingles) still surface with their
    rare-shingle intersection counted exactly."""
    boiler = "subscribe to our newsletter for updates terms of service apply"
    rows = [(i, "en", f"unique document number {i} body text {i * 7} " + boiler) for i in range(40)]
    # two genuine near-dups sharing a long rare run besides the boilerplate
    rows += [
        (100, "en", "rare alpha beta gamma delta epsilon zeta eta theta " + boiler),
        (101, "en", "rare alpha beta gamma delta epsilon zeta eta iota " + boiler),
    ]
    d = spark.createDataFrame(rows, ["doc_id", "lang", "text"])
    capped = TX.near_dup_pairs(d, threshold=0.2, max_bucket=10)
    got = {(r.id_a, r.id_b) for r in capped.collect()}
    assert (100, 101) in got
    assert not any(a < 100 and b < 100 for a, b in got), got
    # internal invariant: no surviving inverted-index bucket exceeds the cap
    sh = d.select("lang", "doc_id", TX.word_shingles("text", 3).alias("s"))
    bsz = (
        sh.select("lang", F.explode("s").alias("t"))
        .groupBy("lang", "t").count()
    )
    assert bsz.filter(F.col("count") > 10).count() > 0  # the corpus HAS hubs
    survivors = bsz.filter(F.col("count") <= 10)
    assert survivors.agg(F.max("count")).first()[0] <= 10


def test_near_dup_cap_is_noop_on_normal_corpus(spark, docs):
    """With no posting list over the cap, capped output is bit-identical
    to exact (max_bucket=None) output — the r2 'unchanged pair output on
    the normal corpus' gate."""
    exact = {(r.id_a, r.id_b): r.jaccard for r in TX.near_dup_pairs(docs, threshold=0.5, max_bucket=None).collect()}
    capped = {(r.id_a, r.id_b): r.jaccard for r in TX.near_dup_pairs(docs, threshold=0.5).collect()}
    assert exact == capped


def test_portable_minhash_banding_finds_planted_pairs(spark, docs):
    """The deterministic (md5-seeded) MinHash banding must surface the
    planted near-dup pairs as candidates at a banding threshold below
    their Jaccard, estimate Jaccard within 16-permutation resolution,
    and be reproducible run-to-run (no RNG state). 8 bands × 2 rows
    targets J ≈ (1/8)^(1/2) ≈ 0.35; the planted pairs sit at J
    0.64-0.78.

    Contract split (the r4 ``collapse_exact`` flood guard): by default
    exact-normalized duplicates are pre-collapsed, so the exact-dup
    pair (1,2) is exact_dedup's output, NOT banding's — the default
    path must emit the genuine near-dup pairs and must NOT emit (1,2).
    ``collapse_exact=False`` restores the raw all-copies behavior."""
    pairs = {
        (r.id_a, r.id_b): r.est_jaccard
        for r in TX.minhash_band_pairs(docs, num_hashes=16, bands=8).collect()
    }
    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in TX.near_dup_pairs(docs, threshold=0.5).collect()
    }
    # (1,2) are exact-normalized dups: the guard pre-collapses them.
    assert (1, 2) in exact  # the corpus DOES plant the exact pair
    assert (1, 2) not in pairs
    for pair, j in exact.items():
        if pair == (1, 2):
            continue
        assert pair in pairs, pair
        assert abs(pairs[pair] - j) <= 0.35  # 16 perms → 1/16 resolution + variance
    again = {
        (r.id_a, r.id_b): r.est_jaccard
        for r in TX.minhash_band_pairs(docs, num_hashes=16, bands=8).collect()
    }
    assert again == pairs
    # collapse_exact=False restores the raw behavior: all planted pairs,
    # including the exact-dup one, surface as candidates.
    raw = {
        (r.id_a, r.id_b): r.est_jaccard
        for r in TX.minhash_band_pairs(
            docs, num_hashes=16, bands=8, collapse_exact=False
        ).collect()
    }
    for pair, j in exact.items():
        assert pair in raw, pair
        assert abs(raw[pair] - j) <= 0.35
    # signatures hash RAW shingles (no normalization), so the case/
    # whitespace variant pair is a high-but-not-1.0 estimate — it is
    # exact_dedup's normalized hash, not the signature, that equates them
    assert raw[(1, 2)] >= 0.5


def test_simhash_portable_close_for_near_dups(spark, docs):
    """Same hamming-proximity property for the md5-based portable
    variant (the oracle-certified one)."""
    out = {r.doc_id: r.simhash for r in TX.simhash_portable(docs).collect()}

    def hamming(a, b):
        return bin(a ^ b).count("1")

    assert hamming(out[1], out[2]) < hamming(out[1], out[5])
    assert hamming(out[3], out[4]) < hamming(out[3], out[5])
    assert hamming(out[6], out[7]) < hamming(out[6], out[5])


def test_lang_id_on_synthetic_text(spark):
    rows = [
        (1, "the cat and the dog of the house went to sleep in the barn"),
        (2, "der hund und die katze und das haus ist der ort"),
        (3, "el perro y la casa de que el gato y la luna"),
        (4, "le chat et les chiens et des maisons le jour la nuit"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    pred = {r.doc_id: r.lang_pred for r in TX.lang_id_scores(df).collect()}
    assert pred == {1: "en", 2: "de", 3: "es", 4: "fr"}


def test_fingerprint_matches_python_reference(spark, docs):
    """fp = min(md5(shingle)) — assert exact agreement with a pure-python
    reference implementation."""
    import hashlib

    fp = {r.doc_id: r.fp for r in docs.select("doc_id", TX.fingerprint("text").alias("fp")).collect()}
    for doc_id, _lang, text in DOCS:
        w = text.split(" ")
        grams = (
            sorted({" ".join(w[i : i + 3]) for i in range(len(w) - 2)})
            if len(w) >= 3
            else [" ".join(w)]
        )
        want = min(hashlib.md5(g.encode()).hexdigest() for g in grams)
        assert fp[doc_id] == want, doc_id


def test_lsh_ann_recall_vs_exact(spark, sf_small):
    e = load_table(spark, sf_small, "embeddings")
    q = e.filter(F.col("vec_id") < 10).select(F.col("vec_id").alias("query_id"), "embedding")
    exact = VX.knn_bruteforce(q, e, k=5)
    approx = VX.lsh_bucket_ann(q, e, k=5, n_planes=2)  # 4 buckets → high recall
    exact_set = {(r.query_id, r.vec_id) for r in exact.collect()}
    approx_set = {(r.query_id, r.vec_id) for r in approx.collect()}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.3  # 2 planes ≈ same-quadrant pruning; recall>0 proves the path
    # the knob monotonicity: fewer planes ⇒ larger buckets ⇒ recall up
    approx0 = VX.lsh_bucket_ann(q, e, k=5, n_planes=0)
    full_set = {(r.query_id, r.vec_id) for r in approx0.collect()}
    assert full_set == exact_set  # 0 planes = single bucket = exact
    # multi-probe strictly widens the candidate set at fixed planes
    probed = VX.lsh_bucket_ann(q, e, k=5, n_planes=2, multi_probe=1)
    probed_set = {(r.query_id, r.vec_id) for r in probed.collect()}
    probed_recall = len(exact_set & probed_set) / len(exact_set)
    assert probed_recall >= recall


def test_lsh_ann_finds_near_dup_sources(spark, sf_small):
    """The regime sign-LSH exists for: a perturbed copy (cos ≈ 0.98)
    must retrieve its source as top-1 — the q_dedup_embcos candidate
    workload. Uniform-kNN recall on weakly-clustered data belongs to
    ivf_ann_portable (regime boundary documented in ops/vector.py)."""
    e = load_table(spark, sf_small, "embeddings")
    rng = np.random.RandomState(7)
    pert = [
        (int(r["vec_id"]) + 10_000_000,
         [float(x) + float(z) for x, z in zip(r["embedding"], rng.normal(0, 0.02, len(r["embedding"])))])
        for r in e.filter(F.col("vec_id") < 10).collect()
    ]
    qd = spark.createDataFrame(pert, "query_id long, embedding array<double>")
    top1 = VX.lsh_bucket_ann(qd, e, k=1, n_planes=6, multi_probe=2)
    hits = sum(1 for r in top1.collect() if r["vec_id"] == r["query_id"] - 10_000_000)
    assert hits >= 8  # ≥0.8 source-retrieval recall


def test_centroids_match_numpy(spark, sf_small):
    e = load_table(spark, sf_small, "embeddings")
    got = {r.label: r.centroid for r in VX.centroids(e).collect()}
    pdf = e.select("label", "embedding").toPandas()
    for label, grp in pdf.groupby("label"):
        mat = np.stack([np.asarray(v, dtype=np.float64) for v in grp["embedding"]])
        np.testing.assert_allclose(got[label], mat.mean(axis=0), atol=1e-9)


def test_ivf_portable_recall_vs_exact(spark, sf_small):
    """The oracle-certifiable IVF (portable-Lloyd quantizer) must keep
    useful recall vs exact kNN, and probing ALL clusters must recover
    the exact result (the candidate-generation completeness check)."""
    e = load_table(spark, sf_small, "embeddings")
    q = e.filter(F.col("vec_id") < 10).select(F.col("vec_id").alias("query_id"), "embedding")
    exact = {(r.query_id, r.vec_id) for r in VX.knn_bruteforce(q, e, k=5).collect()}
    approx = {
        (r.query_id, r.vec_id)
        for r in VX.ivf_ann_portable(q, e, k=5, n_clusters=4, n_probe=3).collect()
    }
    assert len(exact & approx) / len(exact) >= 0.5
    full = {
        (r.query_id, r.vec_id)
        for r in VX.ivf_ann_portable(q, e, k=5, n_clusters=4, n_probe=4).collect()
    }
    assert full == exact


@pytest.mark.parametrize("vec, key", [("my-vec", "my-id"), ("select", "from")])
def test_vector_sql_fragments_quote_column_names(spark, vec, key):
    """Column names reach the parsed-SQL quantizer fragments through
    ``sql_ident``: a hyphenated name must not parse as subtraction, nor
    a reserved word as a keyword. The IVF-PQ composition (quantize,
    probe, PQ fit) and the multi-probe assignment must return exactly
    the plain-name result."""
    rng = np.random.RandomState(5)
    rows = [(i, [float(x) for x in rng.standard_normal(8)]) for i in range(60)]

    def run(v, k):
        df = spark.createDataFrame(
            rows, f"{VX.sql_ident(k)} long, {VX.sql_ident(v)} array<double>"
        )
        q = df.filter(F.col(k) < 5).select(F.col(k).alias("query_id"), F.col(v))
        ann = VX.pq_ivf_ann_portable(
            q, df, k=3, n_clusters=4, m=4, n_codes=8, dim=8, corpus_key=k, vec_col=v
        )
        probes = VX.ivf_multiprobe_assign(df, v, k, n_probe=2, n_clusters=4)
        return [sorted(tuple(r) for r in out.collect()) for out in (ann, probes)]

    assert run(vec, key) == run("embedding", "vec_id")


def test_pq_codes_shape_and_diversity(spark, sf_small):
    """pq_fit_portable compresses every 64-dim vector to m=4 codes in
    [0, n_codes); the code words must stay diverse (≥90% distinct on
    the test corpus) or the codebook collapsed."""
    e = load_table(spark, sf_small, "embeddings")
    codes, cb = VX.pq_fit_portable(e, "embedding", "vec_id", m=4, n_codes=16, dim=64)
    rows = codes.collect()
    assert len(rows) == e.count()
    assert all(len(r.codes) == 4 and all(0 <= c < 16 for c in r.codes) for r in rows)
    assert len({tuple(r.codes) for r in rows}) >= 0.9 * len(rows)
    # the broadcastable model state: one row, ≤ m*n_codes entries
    (cb_row,) = cb.collect()
    assert len(cb_row["__cb"]) <= 4 * 16


def test_pq_adc_shortlist_recall_vs_exact(spark, sf_small):
    """ADC scoring from m=4 codes alone is lossy by design; the
    production contract is shortlist-then-exact-rerank. Measured on
    this corpus: direct top-5 recall 0.26, shortlist@50 recall of the
    exact top-5 is 0.74 — assert safe floors, plus the structural
    contract (k rows per query, contiguous rnk, non-negative dists)."""
    import numpy as np

    e = load_table(spark, sf_small, "embeddings")
    V = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in e.collect()}
    codes, cb = VX.pq_fit_portable(e, "embedding", "vec_id", m=4, n_codes=16, dim=64)
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = set()
    for qid in range(10):
        d = sorted(
            (float(np.sum((V[qid] - v) ** 2)), k) for k, v in V.items() if k != qid
        )
        exact |= {(qid, k) for _, k in d[:5]}
    short = VX.pq_adc_topk_portable(q, codes, cb, k=50, m=4, n_codes=16, dim=64).collect()
    assert all(r.adc_dist >= 0 for r in short)
    per_q = {}
    for r in short:
        per_q.setdefault(r.query_id, []).append(r.rnk)
    assert all(sorted(v) == list(range(1, 51)) for v in per_q.values())
    short_set = {(r.query_id, r.vec_id) for r in short}
    assert len(short_set & exact) / len(exact) >= 0.6
    top5 = {(r.query_id, r.vec_id) for r in short if r.rnk <= 5}
    assert len(top5 & exact) / len(exact) >= 0.15


def test_pq_ivf_composition_recall_and_completeness(spark, sf_small):
    """pq_ivf_ann_portable = IVF probe → ADC shortlist → exact rerank.
    Probing ALL cells with a corpus-sized shortlist must recover exact
    kNN (no stage silently drops candidates); the production setting
    (partial probes, 20-row shortlist) keeps useful recall."""
    e = load_table(spark, sf_small, "embeddings")
    n = e.count()
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {(r.query_id, r.vec_id) for r in VX.knn_bruteforce(q, e, k=5).collect()}
    full = {
        (r.query_id, r.vec_id)
        for r in VX.pq_ivf_ann_portable(
            q, e, k=5, n_clusters=4, n_probe=4, shortlist=n
        ).collect()
    }
    assert full == exact
    prod = {
        (r.query_id, r.vec_id)
        for r in VX.pq_ivf_ann_portable(
            q, e, k=5, n_clusters=4, n_probe=3, shortlist=20
        ).collect()
    }
    assert len(prod & exact) / len(exact) >= 0.3


def test_ivfpq_residual_recall_and_completeness(spark, sf_small):
    """ivfpq_residual_ann_portable (FAISS IndexIVFPQ layout): same
    completeness contract as the plain composition — all probes + a
    corpus-sized shortlist must recover exact kNN — plus the
    production-setting recall floor (measured 0.48 on this corpus;
    the residual-vs-plain recall ordering is corpus-dependent: this
    corpus has mean ‖residual‖/‖vector‖ = 0.98, so no advantage is
    asserted — see the op docstring)."""
    import numpy as np  # noqa: F401

    e = load_table(spark, sf_small, "embeddings")
    n = e.count()
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {(r.query_id, r.vec_id) for r in VX.knn_bruteforce(q, e, k=5).collect()}
    full = {
        (r.query_id, r.vec_id)
        for r in VX.ivfpq_residual_ann_portable(
            q, e, k=5, n_clusters=4, n_probe=4, shortlist=n
        ).collect()
    }
    assert full == exact
    prod = {
        (r.query_id, r.vec_id)
        for r in VX.ivfpq_residual_ann_portable(
            q, e, k=5, n_clusters=4, n_probe=3, shortlist=20
        ).collect()
    }
    assert len(prod & exact) / len(exact) >= 0.3


def test_pq_model_injection_reproduces_and_amortizes(spark, sf_small):
    """The r7-verdict-#5 amortization pattern applied to the PQ stack:
    injecting a full fit's own centroid frame / codebook skips all
    Lloyd passes and must reproduce the integrated result BIT-EXACTLY
    (assignments and codes are pure functions of (vector, model)).
    Sample-trained model state keeps the completeness contract — model
    quality only steers scan order, never membership of a corpus-sized
    shortlist."""
    e = load_table(spark, sf_small, "embeddings")
    n = e.count()
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    # bit-exact reproduction from injected full-fit state
    a_full, cents = VX.kmeans_portable_fit(e, "embedding", "vec_id", k=4, iters=2)
    a_inj, _ = VX.kmeans_portable_fit(
        e, "embedding", "vec_id", k=4, centroids=cents
    )
    assert {(r.vec_id, r.cluster) for r in a_inj.collect()} == {
        (r.vec_id, r.cluster) for r in a_full.collect()
    }
    codes_full, cb = VX.pq_fit_portable(e, "embedding", "vec_id", m=4, n_codes=16, dim=64)
    codes_inj, _ = VX.pq_fit_portable(
        e, "embedding", "vec_id", m=4, n_codes=16, dim=64, codebook=cb
    )
    assert {(r.vec_id, tuple(r.codes)) for r in codes_inj.collect()} == {
        (r.vec_id, tuple(r.codes)) for r in codes_full.collect()
    }
    got = {
        (r.query_id, r.vec_id, r.cos_sim, r.rnk)
        for r in VX.pq_ivf_ann_portable(
            q, e, k=5, n_clusters=4, n_probe=3, shortlist=20,
            centroids=cents, codebook=cb,
        ).collect()
    }
    want = {
        (r.query_id, r.vec_id, r.cos_sim, r.rnk)
        for r in VX.pq_ivf_ann_portable(
            q, e, k=5, n_clusters=4, n_probe=3, shortlist=20
        ).collect()
    }
    assert got == want and len(got) == 50
    # sample-trained model state: completeness survives model quality
    sample = e.filter(F.col("vec_id") % 3 == 0)
    _, s_cents = VX.kmeans_portable_fit(sample, "embedding", "vec_id", k=4, iters=2)
    _, s_cb = VX.pq_fit_portable(sample, "embedding", "vec_id", m=4, n_codes=16, dim=64)
    exact = {(r.query_id, r.vec_id) for r in VX.knn_bruteforce(q, e, k=5).collect()}
    full = {
        (r.query_id, r.vec_id)
        for r in VX.pq_ivf_ann_portable(
            q, e, k=5, n_clusters=4, n_probe=4, shortlist=n,
            centroids=s_cents, codebook=s_cb,
        ).collect()
    }
    assert full == exact


def test_injected_model_size_need_not_match_k_params(spark, sf_small):
    """r8 review finding: the multiplier argmin encode (min(d·k+cid)%k)
    silently corrupts assignments when an injected model's size differs
    from the call's k/n_codes parameters (a sample-trained or cached
    model travels with ITS OWN size). The injected paths now argmin via
    the (d, cid) struct sort, so assignment is a pure function of
    (vector, injected frame) regardless of the parameters."""
    e = load_table(spark, sf_small, "embeddings")
    # kmeans: 16-centroid frame injected under k=8
    a16, cents16 = VX.kmeans_portable_fit(e, "embedding", "vec_id", k=16, iters=2)
    a_inj, _ = VX.kmeans_portable_fit(
        e, "embedding", "vec_id", k=8, centroids=cents16
    )
    assert {(r.vec_id, r.cluster) for r in a_inj.collect()} == {
        (r.vec_id, r.cluster) for r in a16.collect()
    }
    # PQ: 8-code codebook injected under n_codes=16
    codes8, cb8 = VX.pq_fit_portable(e, "embedding", "vec_id", m=4, n_codes=8, dim=64)
    codes_inj, _ = VX.pq_fit_portable(
        e, "embedding", "vec_id", m=4, n_codes=16, dim=64, codebook=cb8
    )
    assert {(r.vec_id, tuple(r.codes)) for r in codes_inj.collect()} == {
        (r.vec_id, tuple(r.codes)) for r in codes8.collect()
    }


@pytest.mark.parametrize("mode", ["fit", "injected"])
@pytest.mark.parametrize("op", ["kmeans", "pq", "multiprobe"])
def test_null_and_wrong_length_vectors_get_no_cell(spark, sf_small, op, mode):
    """A NULL embedding and a 32-dim vector appended to the 64-dim corpus
    have no distance to a 64-dim model: they must get no cluster, code
    or probe cell, and a fit over the dirty corpus must return the clean
    corpus's model (the bad rows move no centroid)."""
    e = load_table(spark, sf_small, "embeddings").select("vec_id", "embedding")
    top = e.agg(F.max("vec_id")).first()[0]
    bad = spark.createDataFrame([(top + 1, None), (top + 2, [0.1] * 32)], e.schema)
    dirty = e.unionByName(bad)

    def run(df, model):
        """(rows, model): a fit on ``df`` when ``model`` is None, else one
        pass with ``model`` injected."""
        if op == "kmeans":
            a, model = VX.kmeans_portable_fit(df, k=8, iters=2, centroids=model)
            rows = {(r.vec_id, r.cluster) for r in a.collect()}
        elif op == "pq":
            codes, model = VX.pq_fit_portable(df, m=4, n_codes=16, dim=64, codebook=model)
            rows = {(r.vec_id, tuple(r.codes)) for r in codes.collect()}
        else:
            if model is None:
                model = VX.ivf_train(df, n_clusters=8, iters=2)
            probes = VX.ivf_multiprobe_assign(df, n_probe=2, centroids=model)
            rows = {(r.vec_id, r.cluster) for r in probes.collect()}
        return rows, model

    clean_rows, clean_model = run(e, None)
    got_rows, got_model = run(dirty, None if mode == "fit" else clean_model)
    assert not {r[0] for r in got_rows} & {top + 1, top + 2}
    assert got_rows == clean_rows
    assert got_model.collect() == clean_model.collect()


def _np_lloyd(Q: np.ndarray, k: int, iters: int):
    """Reference integer Lloyd over quantized rows ``Q`` in key order:
    init from the k smallest keys (cid = rank), squared distance with
    the smaller-cid tie-break, floor(sum/count) recompute, ``iters``
    assignments. Returns (cid per row, {cid: centroid})."""
    C = {i: Q[i] for i in range(min(k, len(Q)))}
    for it in range(iters):
        cids = np.array(sorted(C))
        D = ((Q[:, None, :] - np.stack([C[c] for c in cids])[None]) ** 2).sum(-1)
        assign = cids[np.argmin(D, axis=1)]  # first minimum = smaller cid
        if it < iters - 1:
            C = {
                int(c): np.floor(Q[assign == c].sum(0).astype(np.float64) / (assign == c).sum())
                .astype(np.int64)
                for c in np.unique(assign)
            }
    return assign, C


def test_lloyd_views_match_numpy_reference(spark):
    """kmeans_portable_fit's centroids and pq_fit_portable's codebook
    (m=1 and m=4) match a pure-numpy integer Lloyd on ~200 random
    vectors. The two smallest keys carry the same vector, so the
    smaller-cid tie-break and an emptied cluster are exercised."""
    rng = np.random.RandomState(11)
    n, dim = 200, 16
    keys = rng.permutation(1000)[:n]
    V = rng.uniform(-1, 1, (n, dim)).astype(np.float32)
    order = np.argsort(keys)
    V[order[1]] = V[order[0]]
    df = spark.createDataFrame(
        [(int(kk), [float(x) for x in v]) for kk, v in zip(keys, V)],
        "vec_id long, embedding array<float>",
    )
    Q = np.floor(V[order].astype(np.float64) * (1 << 20)).astype(np.int64)
    skeys = keys[order]

    a, cs = VX.kmeans_portable_fit(df, k=8, iters=3)
    want_a, want_c = _np_lloyd(Q, 8, 3)
    assert {(int(kk), int(c)) for kk, c in zip(skeys, want_a)} == {
        (r.vec_id, r.cluster) for r in a.collect()
    }
    (row,) = cs.collect()
    assert {e.cid: list(e.cv) for e in row["__cs"]} == {c: v.tolist() for c, v in want_c.items()}
    assert 1 not in want_c  # the duplicate init centroid lost every tie

    for m in (1, 4):
        codes, cb = VX.pq_fit_portable(df, m=m, n_codes=8, dim=dim, iters=3)
        d_sub = dim // m
        want_codes = np.zeros((n, m), dtype=np.int64)
        want_cb = {}
        for s in range(m):
            assign, C = _np_lloyd(Q[:, s * d_sub:(s + 1) * d_sub], 8, 3)
            want_codes[:, s] = assign
            want_cb |= {(s, c): v.tolist() for c, v in C.items()}
        (row,) = cb.collect()
        assert {(e.sub, e.cid): list(e.cv) for e in row["__cb"]} == want_cb
        assert {(r.vec_id, tuple(r.codes)) for r in codes.collect()} == {
            (int(kk), tuple(int(c) for c in cc)) for kk, cc in zip(skeys, want_codes)
        }


def test_multiprobe_truncates_when_probes_exceed_centroids(spark, sf_small):
    """r8 review finding: n_probe can exceed the number of centroids
    (auto n_probe derives from the caller's k, not the injected
    frame's). The assignment must then emit min(k, n_probe) distinct
    cells per key."""
    e = load_table(spark, sf_small, "embeddings").limit(50)
    rows = VX.ivf_multiprobe_assign(e, n_probe=10, n_clusters=4, iters=2).collect()
    probes = {(r.vec_id, r.cluster) for r in rows}
    assert len(probes) == len(rows)
    per_key = {}
    for k_, _ in probes:
        per_key[k_] = per_key.get(k_, 0) + 1
    assert set(per_key.values()) == {4}  # min(k=4, n_probe=10)


def test_semantic_dedup_null_embeddings_stay_singletons(spark):
    """r8 review finding: NULL-embedding rows vanished from BOTH
    semantic dedup engines (the finite-norm predicate is NULL, failing
    both branch filters). They must come out as singletons — a NULL
    vector can pair with nothing, but the audit table contract is one
    row per input key."""
    rows = [
        (1, [1.0] * 4), (2, [1.0] * 4),  # byte-identical pair
        (3, None),  # NULL embedding
        (4, [0.0] * 4),  # zero norm
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    for fn in (
        lambda d: VX.semantic_dedup_ann(d, threshold=0.9, n_clusters=8, n_probe=3),
        lambda d: VX.semantic_dedup(
            d.withColumn("label", F.lit("x")), block_col="label", threshold=0.9
        ),
    ):
        out = {r.vec_id: (r.component, r.is_kept) for r in fn(df).collect()}
        assert set(out) == {1, 2, 3, 4}, f"lost rows: {set(out)}"
        assert out[3] == (3, 1) and out[4] == (4, 1)  # singletons
        assert out[1][0] == out[2][0]  # identical pair merges


def test_residual_pq_wins_in_its_regime(spark):
    """The classical residual-encoding claim, demonstrated instead of
    asserted: vectors = coarse center C_i + 0.3·S_j (8 SHARED secondary
    directions) + tiny noise, ids interleaved so the seed-free init
    spans all coarse clusters. Plain PQ's 16 codes/subspace are spent
    on the coarse structure, so within-cell ADC ranking collapses
    (measured 0.375); residual codes see only S_j + noise and rank
    near-perfectly (measured 1.0). On corpora WITHOUT structured
    within-cell variance the two tie — see
    test_ivfpq_residual_recall_and_completeness."""
    import numpy as np

    rng = np.random.RandomState(11)
    C = rng.normal(0, 1, size=(16, 64)) * 3.0
    S = rng.normal(0, 1, size=(8, 64))
    rows = []
    for i in range(16):
        for j in range(8):
            for r in range(4):
                vid = i + 16 * (j + 8 * r)
                v = C[i] + 0.3 * S[j] + rng.normal(0, 0.01, 64)
                rows.append((vid, [float(x) for x in v]))
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = e.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {(r.query_id, r.vec_id) for r in VX.knn_bruteforce(q, e, k=5).collect()}

    def recall(fn):
        prod = {
            (r.query_id, r.vec_id)
            for r in fn(q, e, k=5, n_clusters=16, n_probe=2, shortlist=8).collect()
        }
        return len(prod & exact) / len(exact)

    r_plain = recall(VX.pq_ivf_ann_portable)
    r_res = recall(VX.ivfpq_residual_ann_portable)
    assert r_res >= 0.9
    assert r_res >= r_plain + 0.3


def test_connected_components_chain_and_islands(spark):
    from pipetree_spark.ops.graph import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (20, 21), (21, 20)],
        ["src", "dst"],
    )
    got = {
        r["node"]: r["component"]
        for r in connected_components(edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10, 20: 20, 21: 20}


def test_connected_components_raises_on_non_convergence(spark):
    """A component whose diameter exceeds max_iter must raise, not
    silently return split labels (r1 advice)."""
    from pipetree_spark.ops.graph import connected_components

    chain = spark.createDataFrame([(i, i + 1) for i in range(8)], ["src", "dst"])
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=2).collect()


def test_kmeans_portable_assignment_properties(spark, sf_small):
    """Portable Lloyd k-means: every vector assigned, k clusters, and
    the assignment is locally optimal for the final centroids is
    covered by the oracle; here assert label coherence beats chance
    (the synthetic embeddings are label-clustered)."""
    e = load_table(spark, sf_small, "embeddings")
    n = e.count()
    a = VX.kmeans_portable(e, "embedding", "vec_id", k=8, iters=2)
    assert a.count() == n
    joined = a.join(e.select("vec_id", "label"), "vec_id")
    # purity: majority-label fraction per cluster, averaged
    per = (
        joined.groupBy("cluster", "label").count()
        .groupBy("cluster")
        .agg((F.max("count") / F.sum("count")).alias("purity"), F.sum("count").alias("n"))
    ).collect()
    avg_purity = sum(r.purity * r.n for r in per) / sum(r.n for r in per)
    n_labels = joined.select("label").distinct().count()
    assert avg_purity > 1.5 / n_labels, avg_purity  # well above chance


def test_ivf_multiprobe_assign_contains_primary_cell(spark, sf_small):
    """Multi-probe assignment (r7, the q_dedup_semantic_ann recall
    lever): exactly n_probe distinct cells per key, and the FIRST-choice
    cell always equals kmeans_portable's single assignment (same
    integer distance + smaller-cid tie-break), so multi-probe strictly
    widens — never changes — the blocking."""
    e = load_table(spark, sf_small, "embeddings")
    n = e.count()
    m = VX.ivf_multiprobe_assign(e, "embedding", "vec_id", n_probe=3, n_clusters=8, iters=2)
    per = m.groupBy("vec_id").agg(
        F.count("*").alias("n"), F.count_distinct("cluster").alias("nd")
    )
    assert per.filter((F.col("n") != 3) | (F.col("nd") != 3)).count() == 0
    assert per.count() == n
    single = VX.kmeans_portable(e, "embedding", "vec_id", k=8, iters=2)
    # primary membership ⊇ single-probe assignment
    missing = single.join(
        m.withColumnRenamed("cluster", "mc"),
        (single["vec_id"] == m["vec_id"]) & (F.col("cluster") == F.col("mc")),
        "left_anti",
    )
    assert missing.count() == 0


def test_pca_portable_matches_numpy_simulation(spark, sf_small):
    """pca_power_portable is a DEFINED deterministic statistic (3-step
    integer power iteration), so the distributed result must equal an
    independent numpy re-derivation bit-for-bit. (It deliberately does
    NOT claim to equal PC1: this corpus is near-isotropic — top
    centered eigenvalues 14.4 vs 13.5 — so 3 power steps only start
    turning toward PC1; this op certifies determinism, not
    convergence.)"""
    import pyarrow.parquet as pq

    from pipetree_spark.catalog import table_path

    e = load_table(spark, sf_small, "embeddings")
    port = VX.pca_power_portable(e, "embedding", "vec_id", iters=3)
    got = [r.loading for r in port.orderBy("component").collect()]

    t = pq.read_table(table_path(sf_small, "embeddings")).sort_by("vec_id")
    X = np.array(t["embedding"].to_pylist(), dtype=float)
    q = np.floor(X * (1 << 20)).astype(np.int64)
    cq = q - np.floor(q.sum(0).astype(float) / len(q)).astype(np.int64)
    v = np.ones(64, dtype=np.int64)
    for _ in range(3):
        tv = cq @ v
        s = np.floor(tv.astype(float) / np.abs(tv).max() * 1024.0).astype(np.int64)
        w = cq.T @ s
        v = np.floor(w.astype(float) / np.abs(w).max() * 1024.0).astype(np.int64)
    amax = np.abs(v).max()
    if v[int(np.argmax(np.abs(v) == amax))] < 0:
        v = -v
    assert got == v.tolist()


def test_winnow_guarantee_shared_run_shares_fingerprint(spark):
    """The winnowing guarantee (MOSS): any shared word run of at least
    k + w - 1 tokens must yield ≥1 common fingerprint; disjoint-vocab
    docs share none."""
    common = "alpha beta gamma delta epsilon zeta eta theta"  # 8 = k+w-1... with k=w=4 need 7
    docs = [
        (1, "en", f"one two three {common} four five"),
        (2, "en", f"{common} six seven eight nine ten"),
        (3, "en", "cat dog bird fish mouse horse cow sheep goat pig llama"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "lang", "text"])
    fps = TX.winnow_fingerprints(df).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r.doc_id, set()).add(r.fp)
    assert by_doc[1] & by_doc[2], "shared 8-word run must share a fingerprint"
    assert not (by_doc[1] & by_doc[3]) and not (by_doc[2] & by_doc[3])


def test_pca_ml_twin_agrees_with_portable_direction(spark, sf_small):
    """Cross-twin property (r4 VERDICT item 6): MLlib PCA, used here
    only as a reference, must agree with the oracle-certified
    portable power iteration on the DIRECTION it converges to. At 32
    iterations the portable direction reaches |cos| ≈ 0.96 vs the true
    top eigenvector of the quantized covariance (numpy-calibrated;
    eigengap λ2/λ1 ≈ 0.93 on this corpus), and ml PC1 is that
    eigenvector up to quantization — so the two independently-built
    directions must align well beyond chance (random 64-dim cos ≈
    0.12)."""
    from pyspark.ml.feature import PCA
    from pyspark.ml.functions import array_to_vector

    e = load_table(spark, sf_small, "embeddings")
    port = VX.pca_power_portable(e, "embedding", "vec_id", iters=32)
    v = np.array([r.loading for r in port.orderBy("component").collect()], dtype=float)

    vecs = e.select(array_to_vector("embedding").alias("features"))
    model = PCA(k=1, inputCol="features", outputCol="pca").fit(vecs)
    pc1 = np.array(model.pc.toArray()[:, 0], dtype=float)
    cos = abs(v @ pc1) / (np.linalg.norm(v) * np.linalg.norm(pc1))
    assert cos >= 0.9, cos


def test_repetition_features_planted_boilerplate(spark):
    """Gopher-style repetition signals must separate degenerate
    (looping) text from healthy text: a doc that repeats one phrase
    scores high dup/top fractions; a doc of distinct words scores 0."""
    rows = [
        (1, "spam spam spam spam spam spam spam spam"),
        (2, "one two three four five six seven eight"),
        (3, "buy now " * 10 + "limited offer"),
    ]
    d = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in TX.repetition_features(d, "text", "doc_id").collect()}
    # doc 1: all 7 bigrams are "spam spam" → 1 distinct, dup frac 6/7
    assert out[1].n2_total == 7 and out[1].n2_distinct == 1
    assert abs(out[1].dup_n2_frac - 6 / 7) < 1e-12
    assert out[1].top_n2_frac == 1.0
    # doc 2: no repeated bigram at all
    assert out[2].dup_n2_frac == 0.0 and out[2].dup_n3_frac == 0.0
    assert out[2].top_n2_frac == 1 / 7
    # doc 3: "buy now"-loop dominates; clearly above the healthy doc
    assert out[3].dup_n2_frac > 0.5 > out[2].dup_n2_frac
    assert out[3].top_n2_frac > 0.4
    # counts are consistent: total = words - (n-1)
    for doc_id, text in rows:
        nw = len(text.split())
        assert out[doc_id].n2_total == nw - 1
        assert out[doc_id].n3_total == nw - 2


def test_strat_hash_sampling_nested_and_on_rate(spark, sf_small):
    """Deterministic stratified hash sampling: achieved per-stratum
    rates sit near the configured permille, reruns are bit-identical,
    and samples are NESTED — a lower-rate sample is a strict subset of
    a higher-rate one over the same stratum (the property that makes
    threshold-hash sampling composable across pipeline stages; RNG
    sampling has none of these)."""
    from pipetree_spark.catalog import load_table as _lt

    d = _lt(spark, sf_small, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10).cast("long")
        % 1000
    )
    totals = {r.lang: r.n for r in d.groupBy("lang").agg(F.count("*").alias("n")).collect()}

    def sample_ids(permille):
        return {
            r.doc_id for r in d.filter(bucket < permille).select("doc_id").collect()
        }

    lo, hi = sample_ids(300), sample_ids(800)
    assert lo < hi  # strict subset: nested by construction
    again = sample_ids(300)
    assert again == lo  # deterministic rerun
    # achieved rate ≈ permille (binomial-ish tolerance on 500 docs)
    n = sum(totals.values())
    assert abs(len(lo) / n - 0.300) < 0.08
    assert abs(len(hi) / n - 0.800) < 0.08


def test_dedup_keep_best_selects_longest_per_cluster(spark):
    """End-to-end dedup output: clusters from near-dup pairs, keep the
    longest doc per cluster (doc_id tie-break), singletons kept."""
    rows = [
        (1, "en", "the quick brown fox jumps over the lazy dog near the river bank"),
        (2, "en", "the quick brown fox jumps over the lazy dog near the river bank today ok"),
        (3, "en", "machine learning models require large amounts of clean training data"),
        (4, "en", "completely unrelated sentence about cooking pasta with fresh tomato sauce"),
    ]
    d = spark.createDataFrame(rows, ["doc_id", "lang", "text"]).withColumn(
        "n_chars", F.length("text")
    )
    from pipetree_spark.ops.graph import connected_components

    pairs = TX.near_dup_pairs(d, threshold=0.5).select("id_a", "id_b")
    cc = connected_components(pairs, src="id_a", dst="id_b")
    lab = (
        d.select("doc_id", "n_chars")
        .join(cc, d["doc_id"] == cc["node"], "left")
        .select("doc_id", F.coalesce("component", "doc_id").alias("component"), "n_chars")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("component").orderBy(F.col("n_chars").desc(), F.col("doc_id"))
    out = {
        r.doc_id: (r.component, r.is_kept)
        for r in lab.select(
            "doc_id", "component", (F.row_number().over(w) == 1).cast("int").alias("is_kept")
        ).collect()
    }
    # 1 and 2 cluster together; 2 is longer → kept, 1 dropped
    assert out[1] == (1, 0) and out[2] == (1, 1)
    # singletons keep themselves
    assert out[3] == (3, 1) and out[4] == (4, 1)


def test_near_dup_lsh_composition_sound_and_recalls_planted(spark, docs):
    """The production composition (LSH candidates → exact-Jaccard
    verify) must be SOUND (every emitted pair is a true ≥-threshold
    pair with the exact Jaccard value — identical to near_dup_pairs'
    number for that pair) and must recall the planted pairs, whose
    J 0.64-0.78 puts band-survival ≥ 0.985 at 8 bands × 2 rows."""
    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in TX.near_dup_pairs(docs, threshold=0.5).collect()
    }
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in TX.near_dup_pairs_lsh(docs, threshold=0.5, bands=8).collect()
    }
    # soundness: no false positives, and values are the exact Jaccard
    for pair, j in got.items():
        if pair == (1, 2):
            continue  # exact-dup pair: collapse guard may re-route it
        assert pair in exact
        assert j == exact[pair]
    # recall: the high-J planted pairs survive banding
    assert (3, 4) in got and (6, 7) in got


def test_text_ops_edge_inputs(spark):
    """Edge hardening for the r5 text ops: single-word and short docs
    must not crash — word_ngrams yields empty arrays below n words (the
    doc drops out of repetition features for that n), and the LSH
    composition on a corpus with no near-dups emits nothing."""
    rows = [(1, "en", "word"), (2, "en", "two words"), (3, "en", "three little words")]
    d = spark.createDataFrame(rows, ["doc_id", "lang", "text"])
    grams = {
        r.doc_id: (r.g2, r.g3)
        for r in d.select(
            "doc_id",
            TX.word_ngrams("text", 2).alias("g2"),
            TX.word_ngrams("text", 3).alias("g3"),
        ).collect()
    }
    assert grams[1] == ([], [])
    assert grams[2] == (["two words"], [])
    assert grams[3] == (["three little", "little words"], ["three little words"])
    rep = {r.doc_id for r in TX.repetition_features(d, "text", "doc_id").collect()}
    assert rep == {3}  # only the doc with both 2- and 3-grams survives the join
    assert TX.near_dup_pairs_lsh(d, threshold=0.5).count() == 0


def test_minhash_estimate_quality_statistical(spark):
    """Statistical guard for the r5 universal-hash MinHash family: all
    16 permutations derive from ONE 60-bit md5 base hash via affine
    maps mod 2³¹−1, so verify empirically (not just on 3 planted
    pairs) that the Jaccard estimator stays unbiased: over ~45 doc
    pairs with controlled overlap (J ≈ 0.1…0.9), mean |est − exact|
    must sit well inside the 16-permutation standard error
    (√(J(1−J)/16) ≈ 0.12) and no pair may drift grossly."""
    import itertools

    vocab = [f"w{i:03d}" for i in range(400)]
    docs, truth = [], {}
    did = 0
    for frac in (0.1, 0.3, 0.5, 0.7, 0.9):
        for rep in range(3):
            base = vocab[rep * 120 : rep * 120 + 60]
            n_shared = int(round(frac * 60))
            a = base[:60]
            b = base[: n_shared] + [f"x{did}_{i}" for i in range(60 - n_shared)]
            docs.append((did, " ".join(a)))
            docs.append((did + 1, " ".join(b)))
            did += 2
    d = spark.createDataFrame(docs, ["doc_id", "text"])
    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in TX.near_dup_pairs(
            d.withColumn("lang", F.lit("en")), threshold=0.01
        ).collect()
    }
    est = {
        (r.id_a, r.id_b): r.est_jaccard
        for r in TX.minhash_band_pairs(
            d, num_hashes=16, bands=16, collapse_exact=False
        ).collect()  # 16 bands × 1 row: candidate for ANY shared component
    }
    planted = [(i, i + 1) for i in range(0, did, 2)]
    errs = []
    for pair in planted:
        assert pair in exact
        if pair in est:  # 1-row bands surface any pair sharing ≥1 component
            errs.append(abs(est[pair] - exact[pair]))
        else:
            # missable only if NO component agrees → true J must be low
            assert exact[pair] < 0.35, (pair, exact[pair])
    assert len(errs) >= 10
    assert sum(errs) / len(errs) < 0.12, sum(errs) / len(errs)
    assert max(errs) < 0.40, max(errs)


def test_text_pack_budget_and_determinism(spark, sf_small):
    """Sequence packing invariants: within every pack, the summed
    tokens minus the (possibly oversized) first doc fit the 512
    budget; packs fill in doc_id order within their shard; reruns are
    bit-identical; every doc is assigned exactly once."""
    from pipetree_spark.queries import load_registry

    fn = load_registry()["q_text_pack"].fn
    rows = fn(spark, sf_small).collect()
    assert len(rows) == 500 and len({r.doc_id for r in rows}) == 500
    packs: dict[int, list] = {}
    for r in sorted(rows, key=lambda r: (r.shard, r.doc_id)):
        packs.setdefault(r.pack_id, []).append(r)
    for pid, members in packs.items():
        # all members share the shard encoded in the pack id
        assert {m.shard for m in members} == {pid // TX.PACK_SHARD_STRIDE}
        # sequential fill: every member STARTS inside the pack's 512
        # span, so the preceding-fill spread — total minus the LAST
        # member's tokens — is under budget (the last doc may overhang,
        # standard greedy-without-reordering behavior)
        total = sum(m.n_tokens for m in members)
        assert total - members[-1].n_tokens < 512
    again = fn(spark, sf_small).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, rows))


def test_pack_id_namespace_survives_1e6_packs_per_shard(spark):
    """The r5 ×10⁶ pack-id multiplier aliased across shards past ~1e6
    packs (~0.5 G tokens) per shard (ADVICE low / VERDICT finding #2).
    With the 2⁴⁰ stride, >1e6 packs in one shard must stay inside the
    shard's namespace and never collide with a neighbor's. Synthetic
    token counts drive the fill directly: 4 shards × 2 500 docs ×
    250 000 tokens ≈ 1.22 M packs spanned per shard."""
    df = spark.range(10_000).select(
        F.col("id").alias("doc_id"), F.lit(250_000).alias("n_tokens")
    )
    out = TX.pack_sequences(df, budget=512, num_shards=4).collect()
    assert len(out) == 10_000
    for r in out:
        assert r.pack_id // TX.PACK_SHARD_STRIDE == r.shard
    # >1e6 distinct pack indices inside one shard, all in-namespace
    shard0 = [r.pack_id % TX.PACK_SHARD_STRIDE for r in out if r.shard == 0]
    assert max(shard0) > 1_000_000
    # ids are globally unique across shards (each doc here spans whole
    # packs, so every doc starts a fresh pack index)
    assert len({r.pack_id for r in out}) == 10_000


def test_banding_flood_guard_in_gate(spark):
    """The exact-duplicate flood guard as a hard-gate test (scaled-down
    twin of tools/scale_stress.flood_stress): 10k byte-identical docs +
    2 planted near-dups through the default banding path must emit
    EXACTLY the planted pair — no flood pairs, no N² bucket expansion."""
    boiler = "subscribe to our newsletter for daily updates terms of service apply here"
    flood = spark.range(10_000).select(
        F.col("id").alias("doc_id"), F.lit(boiler).alias("text")
    )
    near = spark.createDataFrame(
        [
            (10_001, "rare alpha beta gamma delta epsilon zeta eta theta closing words"),
            (10_002, "rare alpha beta gamma delta epsilon zeta eta iota closing words"),
        ],
        "doc_id long, text string",
    )
    corpus = flood.unionByName(near)
    pairs = {(r.id_a, r.id_b) for r in TX.minhash_band_pairs(corpus, num_hashes=16, bands=8).collect()}
    assert pairs == {(10_001, 10_002)}


def test_banding_mutated_flood_guard(spark):
    """The NEAR-identical flood case the exact-dup collapse can't touch
    (r6, VERDICT finding #1): 100k docs sharing a long boilerplate
    prefix with one unique trailing word each. Distinct normalized
    texts ⇒ ``collapse_exact`` keeps all 100k; most land the IDENTICAL
    16-component signature ⇒ one band bucket per band with ~10⁵ docs ⇒
    ~10¹⁰ pairs uncapped (OOM-or-hang). With the ``max_bucket`` window
    cap those buckets are dropped before any pair is generated, so the
    run finishes in seconds and emits zero flood pairs; deviating-
    signature buckets are keyed by a doc-unique component value and are
    singletons, so they emit nothing either. A planted near-dup pair on
    unrelated text sits in its own size-2 buckets, under the cap, and
    MUST survive — the guard drops floods, not signal."""
    boiler = (
        "subscribe to our newsletter for daily updates terms of service "
        "apply here all rights reserved contact us for more information "
        "about products pricing support careers press and partnerships"
    )
    flood = spark.range(100_000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit(boiler + " marker"), F.col("id").cast("string")).alias("text"),
    )
    near = spark.createDataFrame(
        [
            (200_001, "rare alpha beta gamma delta epsilon zeta eta theta closing words"),
            (200_002, "rare alpha beta gamma delta epsilon zeta eta iota closing words"),
        ],
        "doc_id long, text string",
    )
    corpus = flood.unionByName(near)
    pairs = {
        (r.id_a, r.id_b)
        for r in TX.minhash_band_pairs(corpus, num_hashes=16, bands=8).collect()
    }
    assert (200_001, 200_002) in pairs
    # The guard's contract is bounding the N² blowup (~5·10⁹ pairs
    # uncapped), not suppressing every flood pair: a handful of docs
    # whose unique shingle COLLIDES in the 31-bit base-hash space
    # (birthday: ~2 pairs expected at 100k) get byte-identical
    # signatures, form their own size-2 buckets under the cap, and are
    # correctly emitted — they really are near-dups (true J ≈ 0.93).
    flood_pairs = [p for p in pairs if p[0] < 200_000 and p[1] < 200_000]
    assert len(flood_pairs) <= 10
    # the end-to-end production path (banding + exact-Jaccard verify)
    # inherits the cap through the same plumbing
    lsh_pairs = {
        (r.id_a, r.id_b)
        for r in TX.near_dup_pairs_lsh(corpus, threshold=0.5).collect()
    }
    assert (200_001, 200_002) in lsh_pairs
    assert len([p for p in lsh_pairs if p[0] < 200_000 and p[1] < 200_000]) <= 10


def test_chunk_documents_boundaries(spark):
    """Chunk math edge cases: short doc → one chunk; exact-size doc →
    one chunk; size+1 → two chunks with the stride offset; chunks
    reassemble the original token stream (stride < size ⇒ overlap
    regions duplicate, but the UNION of covered positions is 1..n)."""
    docs = spark.createDataFrame(
        [
            (1, "a b c"),                       # n=3  < size
            (2, " ".join(f"t{i}" for i in range(10))),   # n=10 == size
            (3, " ".join(f"t{i}" for i in range(11))),   # n=11 == size+1
            (4, " ".join(f"t{i}" for i in range(25))),   # n=25: chunks at 1,9,17
        ],
        "doc_id long, text string",
    )
    out = TX.chunk_documents(docs, size=10, stride=8).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert len(by_doc[1]) == 1 and by_doc[1][0].chunk_n_tokens == 3
    assert len(by_doc[2]) == 1 and by_doc[2][0].chunk_n_tokens == 10
    assert len(by_doc[3]) == 2
    assert [r.chunk_start for r in sorted(by_doc[3], key=lambda r: r.chunk_id)] == [1, 9]
    c4 = sorted(by_doc[4], key=lambda r: r.chunk_id)
    assert [r.chunk_start for r in c4] == [1, 9, 17]
    assert [r.chunk_n_tokens for r in c4] == [10, 10, 9]
    # coverage: every token position 1..25 falls inside some chunk
    covered = set()
    for r in c4:
        covered |= set(range(r.chunk_start, r.chunk_start + r.chunk_n_tokens))
    assert covered == set(range(1, 26))
    # chunk text is the exact token slice
    assert c4[1].chunk_text.split(" ")[0] == "t8"  # position 9 → token t8


def test_chunk_documents_cjk_segmenter(spark):
    """r15 (r14 verdict item 7): segmenter='cjk_chars' on
    chunk_documents counts per-codepoint units on whitespace-free
    text — a 12-hanzi doc is 12 units (3 windows at size=5/stride=4),
    not one giant 'token'; chunk_text carries the segmented form; the
    default path is byte-identical to whitespace chunking."""
    docs = spark.createDataFrame(
        [(1, "数据管道加速引擎高速处理模型"),   # 14 hanzi, no spaces
         (2, "plain latin words only here")],
        "doc_id long, text string",
    )
    # whitespace default: the hanzi run is ONE token → one chunk
    ws = TX.chunk_documents(docs, size=5, stride=4).collect()
    assert len([r for r in ws if r.doc_id == 1]) == 1
    seg = TX.chunk_documents(
        docs, size=5, stride=4, segmenter="cjk_chars"
    ).collect()
    c1 = sorted((r for r in seg if r.doc_id == 1), key=lambda r: r.chunk_id)
    # 14 units: windows at 1, 5, 9, 13 → sizes 5, 5, 5, 2
    assert [r.chunk_start for r in c1] == [1, 5, 9, 13]
    assert [r.chunk_n_tokens for r in c1] == [5, 5, 5, 2]
    assert c1[0].chunk_text == "数 据 管 道 加"
    # latin rows chunk identically under either segmenter
    lat_ws = [r for r in ws if r.doc_id == 2]
    lat_seg = [r for r in seg if r.doc_id == 2]
    assert [tuple(r) for r in lat_ws] == [tuple(r) for r in lat_seg]


def test_shuffle_shards_is_a_permutation_and_deterministic(spark):
    """Every row lands in exactly one (shard, pos) slot; pos is
    contiguous 1..count within each shard; reruns produce the identical
    assignment; a different seed produces a different order."""
    df = spark.range(1000).withColumnRenamed("id", "doc_id")
    out = TX.shuffle_shards(df, "doc_id", num_shards=8, seed="seedA").collect()
    assert len(out) == 1000 and len({r.doc_id for r in out}) == 1000
    by_shard = {}
    for r in out:
        by_shard.setdefault(r.shard, []).append(r.pos)
    assert set(by_shard) == set(range(8))
    for poss in by_shard.values():
        assert sorted(poss) == list(range(1, len(poss) + 1))
    again = TX.shuffle_shards(df, "doc_id", num_shards=8, seed="seedA").collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, out))
    other = TX.shuffle_shards(df, "doc_id", num_shards=8, seed="seedB").collect()
    assert sorted(map(tuple, other)) != sorted(map(tuple, out))


def test_dedup_semantic_clusters_and_keeps_min(spark, sf_small):
    """Semantic-dedup invariants on real testdata: component is the
    min vec_id of its cluster, exactly one keeper per component, and
    every embedding row is labeled exactly once."""
    from pipetree_spark.queries import load_registry

    rows = load_registry()["q_dedup_semantic"].fn(spark, sf_small).collect()
    n = len(rows)
    assert n == len({r.vec_id for r in rows})
    comps = {}
    for r in rows:
        comps.setdefault(r.component, []).append(r)
    for comp, members in comps.items():
        assert comp == min(m.vec_id for m in members)
        assert sum(m.is_kept for m in members) == 1
        keeper = next(m for m in members if m.is_kept)
        assert keeper.vec_id == comp


def test_rawrgb_real_decode_resize_features(spark, sf_small):
    """The r6 REAL multimodal path (raw-RGB8 needs only numpy — no
    media lib): generate deterministic pseudo-images, decode to pixel
    arrays, nearest-neighbor resize, and compute channel statistics;
    every step verified against an independent numpy reference."""
    d = load_table(spark, sf_small, "documents").limit(20)
    imgs = MM.make_rgb_payload(d, width=16, height=12)
    rows = {r.doc_id: r for r in imgs.collect()}
    assert all(len(bytes(r.content)) == 16 * 12 * 3 for r in rows.values())

    # decode: buffer → (h, w, 3), exact reference check on one payload
    any_r = next(iter(rows.values()))
    img = MM.rawrgb_decode(bytes(any_r.content), 16, 12)
    assert img.shape == (12, 16, 3)
    assert bytes(img.tobytes()) == bytes(any_r.content)
    with pytest.raises(ValueError):
        MM.rawrgb_decode(bytes(any_r.content)[:-1], 16, 12)

    # resize: dims, determinism, and nearest-neighbor correctness
    small = {r.doc_id: r for r in MM.rgb_resize_stage(imgs, out_w=8, out_h=6).collect()}
    assert set(small) == set(rows)
    for did, r in small.items():
        assert (r.width, r.height) == (8, 6)
        buf = bytes(r.content)
        assert len(buf) == 8 * 6 * 3
        ref = MM.rawrgb_resize(bytes(rows[did].content), 16, 12, 8, 6)
        assert buf == ref
    # nearest-neighbor with integer index maps keeps the top-left pixel
    src = MM.rawrgb_decode(bytes(rows[did].content), 16, 12)
    dst = MM.rawrgb_decode(bytes(small[did].content), 8, 6)
    assert (dst[0, 0] == src[0, 0]).all()

    # features: channel means/std match a float64 numpy reference
    import numpy as np

    feats = {r.doc_id: r for r in MM.rgb_feature_stage(imgs).collect()}
    for did, fr in feats.items():
        ref_img = MM.rawrgb_decode(bytes(rows[did].content), 16, 12).astype(np.float64)
        assert fr.mean_r == ref_img[:, :, 0].mean()
        assert fr.mean_g == ref_img[:, :, 1].mean()
        assert fr.mean_b == ref_img[:, :, 2].mean()
        assert fr.px_std == ref_img.std()
    # pseudo-images are near-uniform noise: sanity band, not exactness
    assert all(100 < fr.mean_r < 155 for fr in feats.values())


def test_png_codec_roundtrip_all_filters_and_channels():
    """The r10 pure-stdlib PNG codec (ops/png.py): encode→decode is the
    identity for every row-filter type (0–4 fixed + the per-row "mix")
    and every 8-bit channel count (grey / grey+alpha / RGB / RGBA),
    against an independent numpy reference array — and unsupported
    variants fail with an honest PngFormatError, never garbage pixels."""
    import numpy as np

    from pipetree_spark.ops import png as P

    rng = np.random.RandomState(7)
    for ch in (1, 2, 3, 4):
        px = rng.randint(0, 256, size=(13, 9, ch), dtype=np.uint8)
        for ft in (0, 1, 2, 3, 4, "mix"):
            data = P.png_encode(px, filter_type=ft)
            assert data[:8] == b"\x89PNG\r\n\x1a\n"
            out = P.png_decode(data)
            assert out.shape == (13, 9, ch)
            assert (out == px).all(), f"filter {ft} channels {ch}"

    # gradient images make Sub/Average/Paeth actually shrink the stream
    grad = (np.arange(32 * 32 * 3, dtype=np.int64) % 256).astype(np.uint8).reshape(32, 32, 3)
    assert (P.png_decode(P.png_encode(grad, filter_type=4)) == grad).all()

    # honest errors: corrupt signature, flipped CRC bit, truncation
    good = P.png_encode(grad)
    with pytest.raises(P.PngFormatError):
        P.png_decode(b"notapng" + good)
    bad = bytearray(good)
    bad[20] ^= 1  # inside IHDR body → CRC mismatch
    with pytest.raises(P.PngFormatError):
        P.png_decode(bytes(bad))
    with pytest.raises(P.PngFormatError):
        P.png_decode(good[:40])
    # 2-D grey array encodes as color type 0
    g = rng.randint(0, 256, size=(5, 7), dtype=np.uint8)
    assert (P.png_decode(P.png_encode(g)) == g[:, :, None]).all()


_RGB, _PCM = ("width", "height"), ("n_samples", "sample_rate")

#: Per make_*_payload generator (default arguments), the metadata
#: columns between content and mime, and the sha256 of the concatenated
#: content column over the first 4 docs at sf0.001 in doc_id order.
#: Several generators (mjpeg, mono flac, raw rgb/pcm) have no certified
#: query pinning their bytes, so this is what catches a seed slip in
#: the shared counter-mode generator.
_GENERATOR_DIGESTS = {
    "rgb": (_RGB, "d28801cf3cc38f508804f2065d7bab368aeae69ef0aff205d00b9b4abbce3908"),
    "png": (_RGB, "000b4e3c23588b8dd51b99758b82892371ee8660d4742887adb9b9791ec530f5"),
    "jpeg": (_RGB, "9c2e68b9d7f31d3cf1c4e40e1a00f55498452dfa3e591bc39d1f2c21306d0357"),
    "gif": (_RGB, "23b306fbb68759a600d146b98e06f9ea1a3e7d4e5488ad151d9f129df103d170"),
    "mjpeg": (
        (*_RGB, "n_frames"),
        "40705c77089d982a89c043daad2bf543cf438f87f09248f0e43a55a54af4a5de",
    ),
    "pcm": (_PCM, "9dcca55f2e5868e72c7ced76ede8ec5f929f6e3bb0ebff90df2a95621eac4794"),
    "wav": (_PCM, "e2f49f4f62e37338812712073f95c23770e84fa611d81d50a432a578aec2ce8a"),
    "flac": (_PCM, "a26e084c7de4e74b288119a3f7cd46f294cd737c1525777b9d2a9baf6af489af"),
    "flac_stereo": (_PCM, "c89d0524c9c67564e6a1bbfca381d9195d835f6d27aac39a7f61736a2855645a"),
}


def test_media_generators_are_byte_stable(spark, sf_small):
    """Every payload generator emits the same bytes and layout as
    before: a deterministic corpus is only reusable across versions
    (and certified hashes only hold) if the generators never drift."""
    import hashlib

    d = load_table(spark, sf_small, "documents").orderBy("doc_id").limit(4)
    for name, (meta, want) in _GENERATOR_DIGESTS.items():
        out = getattr(MM, f"make_{name}_payload")(d)
        assert out.columns == ["doc_id", "content", *meta, "mime"], name
        rows = out.orderBy("doc_id").collect()
        assert [r.doc_id for r in rows] == [0, 1, 2, 3], name
        got = hashlib.sha256(b"".join(bytes(r.content) for r in rows)).hexdigest()
        assert got == want, name


def test_png_decode_stage_chains_with_raw_pipeline(spark, sf_small):
    """make_png_payload → image_decode_stage must reproduce EXACTLY the
    raw-RGB8 bytes make_rgb_payload generates for the same rows (same
    sha-counter pixels, round-tripped through a real PNG encode with
    mixed row filters), after which the whole uncompressed pipeline
    (resize, features) chains unchanged — the compressed-codec stub is
    now a real decode stage for PNG."""
    d = load_table(spark, sf_small, "documents").limit(12)
    pngs = MM.make_png_payload(d, width=16, height=12)
    png_rows = {r.doc_id: r for r in pngs.collect()}
    assert all(r.mime == "image/png" for r in png_rows.values())
    assert all(bytes(r.content)[:8] == b"\x89PNG\r\n\x1a\n" for r in png_rows.values())
    # compression is real: mixed-filter noise payload ≠ raw size
    raw_rows = {r.doc_id: r for r in MM.make_rgb_payload(d, width=16, height=12).collect()}
    decoded = {r.doc_id: r for r in MM.image_decode_stage(pngs).collect()}
    assert set(decoded) == set(raw_rows)
    for did, r in decoded.items():
        assert (r.width, r.height, r.mime) == (16, 12, MM.RAW_RGB_MIME)
        assert bytes(r.content) == bytes(raw_rows[did].content)
    # downstream raw stages chain on the decoded output
    feats = {r.doc_id: r for r in MM.rgb_feature_stage(MM.image_decode_stage(pngs)).collect()}
    ref = {r.doc_id: r for r in MM.rgb_feature_stage(MM.make_rgb_payload(d, width=16, height=12)).collect()}
    for did in feats:
        assert feats[did] == ref[did]


def test_wav_codec_roundtrip_and_honest_errors():
    """The r10 pure-stdlib WAV codec (ops/wav.py): encode→decode is the
    identity for mono and multi-channel int16 waveforms (sample rate
    preserved), chunk padding and unknown chunks are walked per spec,
    and unsupported variants (float, 8-bit, truncation, bad magic)
    raise WavFormatError instead of mis-decoding."""
    import struct

    import numpy as np

    from pipetree_spark.ops import wav as W

    rng = np.random.RandomState(11)
    for n_ch in (1, 2, 4):
        x = rng.randint(-32768, 32768, size=(777, n_ch)).astype("<i2")
        data = W.wav_encode(x, 22050)
        assert data[:4] == b"RIFF" and data[8:12] == b"WAVE"
        got, sr = W.wav_decode(data)
        assert sr == 22050 and got.shape == (777, n_ch) and (got == x).all()
    # 1-D input encodes as mono
    m = rng.randint(-32768, 32768, size=100).astype("<i2")
    got, _ = W.wav_decode(W.wav_encode(m, 8000))
    assert (got[:, 0] == m).all()

    # unknown + odd-length chunk before fmt/data is walked per spec
    good = W.wav_encode(m, 8000)
    extra = b"LIST" + struct.pack("<I", 3) + b"abc\x00"  # 3 bytes + pad
    patched = good[:12] + extra + good[12:]
    patched = patched[:4] + struct.pack("<I", len(patched) - 8) + patched[8:]
    got, _ = W.wav_decode(patched)
    assert (got[:, 0] == m).all()

    import pytest as _pytest

    with _pytest.raises(W.WavFormatError):
        W.wav_decode(b"RIFX" + good[4:])  # bad magic
    with _pytest.raises(W.WavFormatError):
        W.wav_decode(good[:40])  # truncated
    # float format code rejected
    bad = bytearray(good)
    bad[20:22] = struct.pack("<H", 3)  # fmt code → IEEE float
    with _pytest.raises(W.WavFormatError):
        W.wav_decode(bytes(bad))
    # 8-bit depth rejected
    bad = bytearray(good)
    bad[34:36] = struct.pack("<H", 8)
    with _pytest.raises(W.WavFormatError):
        W.wav_decode(bytes(bad))


def test_wav_decode_stage_chains_with_pcm_pipeline(spark, sf_small):
    """make_wav_payload → audio_decode_stage must reproduce EXACTLY the
    raw-PCM16 bytes make_pcm_payload generates for the same rows (same
    sha-counter samples, round-tripped through a real RIFF encode),
    after which pcm_feature_stage chains unchanged — the audio
    container path is now a real decode stage, like PNG for images."""
    d = load_table(spark, sf_small, "documents").limit(12)
    wavs = MM.make_wav_payload(d, n_samples=512, sample_rate=8000)
    wav_rows = {r.doc_id: r for r in wavs.collect()}
    assert all(r.mime == "audio/wav" for r in wav_rows.values())
    assert all(bytes(r.content)[:4] == b"RIFF" for r in wav_rows.values())

    raw_rows = {
        r.doc_id: r
        for r in MM.make_pcm_payload(d, n_samples=512, sample_rate=8000).collect()
    }
    decoded = {r.doc_id: r for r in MM.audio_decode_stage(wavs).collect()}
    assert set(decoded) == set(raw_rows)
    for did, r in decoded.items():
        assert (r.n_samples, r.sample_rate, r.mime) == (512, 8000, MM.RAW_PCM_MIME)
        assert bytes(r.content) == bytes(raw_rows[did].content)

    feats = {r.doc_id: r for r in MM.pcm_feature_stage(MM.audio_decode_stage(wavs)).collect()}
    ref = {
        r.doc_id: r
        for r in MM.pcm_feature_stage(
            MM.make_pcm_payload(d, n_samples=512, sample_rate=8000)
        ).collect()
    }
    for did in feats:
        assert feats[did] == ref[did]


def test_jpeg_codec_fidelity_variants_and_honest_errors():
    """The r10 pure-Python baseline JPEG codec (ops/jpeg.py): flat
    images recover exactly (all energy in the quantized DC), smooth
    gradients decode within a small pinned tolerance at 4:4:4, 4:2:0,
    and with restart markers, greyscale works, encode is deterministic,
    and unsupported variants (progressive SOF2, truncation, bad SOI)
    raise JpegFormatError instead of mis-decoding."""
    import numpy as np

    from pipetree_spark.ops import jpeg as J

    flat = np.full((24, 17, 3), 130, dtype=np.uint8)
    assert (J.jpeg_decode(J.jpeg_encode(flat, quality=85)) == flat).all()

    y, x = np.mgrid[0:32, 0:40]
    grad = np.stack(
        [(x * 6) % 256, (y * 6) % 256, ((x + y) * 3) % 256], axis=2
    ).astype(np.uint8)
    for kwargs, tol in (
        (dict(quality=95), 4),
        (dict(quality=90, subsample=True), 8),
        (dict(quality=90, restart_interval=2), 5),
    ):
        out = J.jpeg_decode(J.jpeg_encode(grad, **kwargs))
        assert out.shape == grad.shape
        err = int(np.abs(out.astype(int) - grad.astype(int)).max())
        assert err <= tol, (kwargs, err)

    g = np.random.RandomState(5).randint(0, 256, size=(9, 13), dtype=np.uint8)
    og = J.jpeg_decode(J.jpeg_encode(g, quality=95))
    assert og.shape == (9, 13, 1)

    data = J.jpeg_encode(grad, 85)
    assert data == J.jpeg_encode(grad, 85)  # deterministic
    assert data[:2] == b"\xff\xd8" and data[-2:] == b"\xff\xd9"

    import pytest as _pytest

    with _pytest.raises(J.JpegFormatError):
        J.jpeg_decode(b"\x00\x01" + data[2:])  # no SOI
    with _pytest.raises(J.JpegFormatError):
        J.jpeg_decode(data[:60])  # truncated before SOS
    # flip SOF0 → SOF2 (progressive): honest refusal, not garbage
    sof_at = data.find(b"\xff\xc0")
    assert sof_at > 0
    prog = data[:sof_at] + b"\xff\xc2" + data[sof_at + 2 :]
    with _pytest.raises(J.JpegFormatError, match="baseline"):
        J.jpeg_decode(prog)


def test_jpeg_decode_stage_chains_with_raw_pipeline(spark, sf_small):
    """make_jpeg_payload → image_decode_stage: JPEG is lossy, so the
    stage output must equal a LOCAL jpeg_decode of each payload exactly
    (same codec executor-side), carry the decoded dimensions, and chain
    into rgb_feature_stage; decoded pixels must sit near the lossless
    PNG decode of the same source pixels (bounded quantization error,
    noise-like corpus ⇒ loose mean bound)."""
    import numpy as np

    from pipetree_spark.ops.jpeg import jpeg_decode

    d = load_table(spark, sf_small, "documents").limit(8)
    jpgs = MM.make_jpeg_payload(d, width=16, height=12, quality=95)
    jpg_rows = {r.doc_id: r for r in jpgs.collect()}
    assert all(r.mime == "image/jpeg" for r in jpg_rows.values())
    decoded = {r.doc_id: r for r in MM.image_decode_stage(jpgs).collect()}
    raw = {r.doc_id: r for r in MM.make_rgb_payload(d, width=16, height=12).collect()}
    assert set(decoded) == set(raw)
    for did, r in decoded.items():
        assert (r.width, r.height, r.mime) == (16, 12, MM.RAW_RGB_MIME)
        local = jpeg_decode(bytes(jpg_rows[did].content))
        assert bytes(r.content) == local.tobytes()  # stage ≡ local codec
        truth = np.frombuffer(bytes(raw[did].content), np.uint8).astype(int)
        got = np.frombuffer(bytes(r.content), np.uint8).astype(int)
        assert np.abs(got - truth).mean() < 16  # lossy but anchored
    feats = {r.doc_id: r for r in MM.rgb_feature_stage(MM.image_decode_stage(jpgs)).collect()}
    assert set(feats) == set(raw) and all(f.px_std > 0 for f in feats.values())


def test_avi_mjpeg_container_roundtrip_and_errors():
    """ops/avi.py: frame payloads round-trip byte-exactly through the
    RIFF/AVI container (dims + fps preserved, idx1/padding walked per
    spec), and non-AVI / non-MJPEG / truncated payloads raise
    AviFormatError."""
    import numpy as np

    from pipetree_spark.ops import avi as A
    from pipetree_spark.ops import jpeg as J

    px = [np.full((16, 24, 3), 40 + 20 * i, dtype=np.uint8) for i in range(6)]
    jpegs = [J.jpeg_encode(p, quality=90) for p in px]
    data = A.avi_mjpeg_encode(jpegs, 24, 16, fps=5)
    assert data[:4] == b"RIFF" and data[8:12] == b"AVI "
    frames, w, h, fps = A.avi_mjpeg_decode(data)
    assert (w, h, fps) == (24, 16, 5)
    assert frames == jpegs  # byte-exact container roundtrip
    assert (J.jpeg_decode(frames[3]) == px[3]).all()  # flat → exact

    import pytest as _pytest

    with _pytest.raises(A.AviFormatError):
        A.avi_mjpeg_decode(b"RIFF\x04\x00\x00\x00WAVE")
    with _pytest.raises(A.AviFormatError, match="MJPG"):
        A.avi_mjpeg_decode(data.replace(b"MJPG", b"H264", 1))
    with _pytest.raises(A.AviFormatError):
        A.avi_mjpeg_decode(data[:100])


def test_video_frame_sample_stage_decodes_only_sampled(spark, sf_small):
    """make_mjpeg_payload → video_frame_sample_stage: one row per
    SAMPLED frame (indices 0, n, 2n...), each equal to a local
    jpeg_decode of that frame's payload, in the raw-RGB8 layout so the
    image pipeline chains per frame."""
    import numpy as np

    from pipetree_spark.ops.avi import avi_mjpeg_decode
    from pipetree_spark.ops.jpeg import jpeg_decode

    d = load_table(spark, sf_small, "documents").limit(4)
    vids = MM.make_mjpeg_payload(d, width=16, height=12, n_frames=8, fps=10)
    vid_rows = {r.doc_id: r for r in vids.collect()}
    assert all(r.mime == "video/x-msvideo" and r.n_frames == 8 for r in vid_rows.values())

    out = MM.video_frame_sample_stage(vids, every_n=3).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert set(by_doc) == set(vid_rows)
    for did, rows in by_doc.items():
        assert sorted(r.frame_idx for r in rows) == [0, 3, 6]
        frames, _, _, fps = avi_mjpeg_decode(bytes(vid_rows[did].content))
        for r in rows:
            assert (r.width, r.height, r.fps, r.mime) == (16, 12, 10, MM.RAW_RGB_MIME)
            assert bytes(r.content) == jpeg_decode(frames[r.frame_idx]).tobytes()
    # frames genuinely differ (per-frame keyed pixels)
    a, b = by_doc[did][0], by_doc[did][1]
    assert bytes(a.content) != bytes(b.content)
    # sampled frames chain into the image feature stage
    feats = MM.rgb_feature_stage(
        MM.video_frame_sample_stage(vids, every_n=3), key_col="doc_id"
    ).collect()
    assert len(feats) == len(out) and all(f.px_std > 0 for f in feats)


def test_flac_codec_roundtrip_all_modes():
    """The r10 pure-Python FLAC codec (ops/flac.py): lossless roundtrip
    for verbatim and fixed-predictor subframes (constant runs collapse
    to CONSTANT), all four stereo channel assignments, with CRC-16
    verification catching corruption; fixed predictors genuinely
    compress smooth signals."""
    import numpy as np

    from pipetree_spark.ops import flac as FL

    rng = np.random.RandomState(6)
    x = rng.randint(-32768, 32768, size=1000).astype(np.int64)
    for sub in ("verbatim", "fixed"):
        got, sr = FL.flac_decode(FL.flac_encode(x, 16000, subframe=sub, block_size=256))
        assert sr == 16000 and (got[:, 0] == x).all()

    t = np.arange(3000)
    smooth = (1000 * np.sin(t / 30) + 500 * np.sin(t / 7)).astype(np.int64)
    dv = FL.flac_encode(smooth, 8000, subframe="verbatim", block_size=512)
    df_ = FL.flac_encode(smooth, 8000, subframe="fixed", block_size=512)
    assert len(df_) < len(dv) * 0.5  # rice-coded residuals actually compress
    assert (FL.flac_decode(df_)[0][:, 0] == smooth).all()

    c = np.full(600, -1234, dtype=np.int64)
    assert (FL.flac_decode(FL.flac_encode(c, 8000, block_size=300))[0][:, 0] == c).all()

    st = np.stack([smooth[:2000], smooth[:2000] // 2 + 7], axis=1)
    for mode in ("independent", "left_side", "right_side", "mid_side"):
        got, _ = FL.flac_decode(FL.flac_encode(st, 8000, channel_mode=mode, block_size=500))
        assert got.shape == (2000, 2) and (got == st).all(), mode

    import pytest as _pytest

    with _pytest.raises(FL.FlacFormatError):
        FL.flac_decode(b"fLaX" + b"\x00" * 40)
    d = bytearray(FL.flac_encode(x[:100], 8000))
    d[-1] ^= 0xFF
    with _pytest.raises(FL.FlacFormatError, match="CRC"):
        FL.flac_decode(bytes(d))


def test_flac_and_audio_dispatch_stages_chain_with_pcm(spark, sf_small):
    """make_flac_payload → audio_decode_stage reproduces EXACTLY the
    raw-PCM16 bytes of make_pcm_payload (FLAC is lossless), and
    audio_decode_stage dispatches a mixed WAV/FLAC column to one
    identical raw layout."""
    d = load_table(spark, sf_small, "documents").limit(8)
    raw = {r.doc_id: bytes(r.content)
           for r in MM.make_pcm_payload(d, n_samples=512, sample_rate=8000).collect()}
    flacs = MM.make_flac_payload(d, n_samples=512, sample_rate=8000)
    frow = {r.doc_id: bytes(r.content) for r in flacs.collect()}
    assert all(p[:4] == b"fLaC" for p in frow.values())
    decoded = {r.doc_id: r for r in MM.audio_decode_stage(flacs).collect()}
    for did, r in decoded.items():
        assert (r.n_samples, r.sample_rate, r.mime) == (512, 8000, MM.RAW_PCM_MIME)
        assert bytes(r.content) == raw[did]  # lossless

    wrow = {r.doc_id: bytes(r.content)
            for r in MM.make_wav_payload(d, n_samples=512, sample_rate=8000).collect()}
    mixed = spark.createDataFrame(
        [(did, frow[did] if did % 2 == 0 else wrow[did]) for did in frow],
        ["doc_id", "content"],
    )
    out = {r.doc_id: r for r in MM.audio_decode_stage(mixed).collect()}
    for did, r in out.items():
        assert bytes(r.content) == raw[did] and r.mime == MM.RAW_PCM_MIME

    import pytest as _pytest

    with _pytest.raises(Exception, match="magic|PythonException"):
        MM.audio_decode_stage(
            spark.createDataFrame([(1, b"OggS....")], ["doc_id", "content"])
        ).collect()


def test_gif_codec_roundtrip_animation_and_errors():
    """The r10 pure-Python GIF codec (ops/gif.py): palette images
    round-trip exactly (plain, interlaced, animated multi-frame, and
    the 4096-entry LZW table-reset path on a large frame), and
    unsupported/malformed inputs (>256 colors, bad magic, truncation)
    raise GifFormatError."""
    import numpy as np

    from pipetree_spark.ops import gif as G

    rng = np.random.RandomState(4)
    pal = rng.randint(0, 256, size=(37, 3), dtype=np.uint8)
    img = pal[rng.randint(0, 37, size=(20, 31))]
    data = G.gif_encode(img)
    assert data[:6] == b"GIF89a"
    frames, w, h = G.gif_decode(data)
    assert (w, h, len(frames)) == (31, 20, 1)
    assert (frames[0] == img).all()

    fi, _, _ = G.gif_decode(G.gif_encode(img, interlace=True))
    assert (fi[0] == img).all()

    anim = [pal[rng.randint(0, 37, size=(20, 31))] for _ in range(4)]
    fr, _, _ = G.gif_decode(G.gif_encode(anim))
    assert len(fr) == 4 and all((a == b).all() for a, b in zip(fr, anim))

    big = pal[rng.randint(0, 37, size=(128, 128))]  # LZW dict hits 4096
    fb, _, _ = G.gif_decode(G.gif_encode(big))
    assert (fb[0] == big).all()

    import pytest as _pytest

    with _pytest.raises(G.GifFormatError):
        G.gif_decode(b"NOTGIF" + data[6:])
    with _pytest.raises(G.GifFormatError, match="quantize"):
        G.gif_encode(rng.randint(0, 256, size=(32, 32, 3), dtype=np.uint8))
    with _pytest.raises(G.GifFormatError):
        G.gif_decode(data[:40])


def test_image_decode_stage_auto_dispatch(spark, sf_small):
    """image_decode_stage: a binary column holding PNG payloads for some
    rows and JPEGs for others decodes in one magic-dispatch pass — PNG
    rows byte-equal the lossless decode, JPEG rows byte-equal the local
    jpeg_decode; an unknown magic fails loudly."""
    from pipetree_spark.ops.jpeg import jpeg_decode

    d = load_table(spark, sf_small, "documents").limit(8)
    pngs = MM.make_png_payload(d, width=16, height=12)
    jpgs = MM.make_jpeg_payload(d, width=16, height=12, quality=95)
    # interleave codecs per row parity
    prow = {r.doc_id: bytes(r.content) for r in pngs.collect()}
    jrow = {r.doc_id: bytes(r.content) for r in jpgs.collect()}
    mixed = spark.createDataFrame(
        [(did, prow[did] if did % 2 == 0 else jrow[did]) for did in prow],
        ["doc_id", "content"],
    )
    out = {r.doc_id: r for r in MM.image_decode_stage(mixed).collect()}
    raw = {r.doc_id: bytes(r.content) for r in MM.make_rgb_payload(d, width=16, height=12).collect()}
    for did, r in out.items():
        assert (r.width, r.height, r.mime) == (16, 12, MM.RAW_RGB_MIME)
        want = raw[did] if did % 2 == 0 else jpeg_decode(jrow[did]).tobytes()
        assert bytes(r.content) == want

    import pytest as _pytest

    with _pytest.raises(Exception, match="magic|PythonException"):
        MM.image_decode_stage(
            spark.createDataFrame([(1, b"BM\x00\x00\x00\x00....")], ["doc_id", "content"])
        ).collect()
    # a GIF payload routes to the GIF codec (magic is now recognized)
    from pipetree_spark.ops.gif import gif_encode

    import numpy as np

    pal_img = np.zeros((4, 5, 3), dtype=np.uint8)
    pal_img[:, :, 0] = 17
    g = spark.createDataFrame([(7, gif_encode(pal_img))], ["doc_id", "content"])
    gr = MM.image_decode_stage(g).collect()[0]
    assert (gr.width, gr.height) == (5, 4)
    assert bytes(gr.content) == pal_img.tobytes()


def test_payload_decompress_stage_mixed_codecs(spark, sf_small):
    """decompress_stage: a binary column holding gzip / bz2 / xz
    payloads (codec varying PER ROW) decompresses in one auto-dispatch
    pass back to the exact original text bytes, with audit sizes; a
    non-compressed payload fails loudly."""
    import bz2
    import gzip
    import lzma

    import pytest as _pytest

    rows = [r for r in load_table(spark, sf_small, "documents").limit(9).collect()]
    codecs = [gzip.compress, bz2.compress, lzma.compress]
    payloads = [
        (r.doc_id, codecs[i % 3](r.text.encode()), r.text) for i, r in enumerate(rows)
    ]
    df = spark.createDataFrame(
        [(d, p) for d, p, _ in payloads], ["doc_id", "content"]
    )
    out = {r.doc_id: r for r in MM.decompress_stage(df).collect()}
    for did, comp, text in payloads:
        r = out[did]
        assert bytes(r.content).decode() == text
        assert r.byte_len == len(text.encode()) and r.orig_bytes == len(comp)

    # explicit codec mode
    did0, comp0, text0 = payloads[0]  # index 0 → gzip
    g = spark.createDataFrame([(did0, comp0)], ["doc_id", "content"])
    assert (
        bytes(MM.decompress_stage(g, codec="gzip").collect()[0].content).decode()
        == text0
    )

    with _pytest.raises(Exception, match="magic|PythonException"):
        bad = spark.createDataFrame([(1, b"plainbytes")], ["doc_id", "content"])
        MM.decompress_stage(bad).collect()
    # pure function, honest error
    with _pytest.raises(ValueError, match="magic"):
        MM.payload_decompress(b"plainbytes")


def test_corpus_mixture_shares_and_weights(spark, sf_small):
    """Mixture-table invariants: token shares sum to 1 (exact integer
    totals), weights are sqrt(share), and per-source counts cover the
    corpus exactly."""
    from pipetree_spark.queries import load_registry

    rows = load_registry()["q_corpus_mixture"].fn(spark, sf_small).collect()
    total_docs = sum(r.n_docs for r in rows)
    total_tokens = sum(r.n_tokens for r in rows)
    d = load_table(spark, sf_small, "documents")
    assert total_docs == d.count()
    assert abs(sum(r.token_share for r in rows) - 1.0) < 1e-12
    for r in rows:
        assert r.token_share == r.n_tokens / total_tokens
        assert r.w_alpha05 == (r.n_tokens / total_tokens) ** 0.5


def test_vec_decontam_flags_only_cross_split_pairs(spark):
    """Decontamination invariants: every flagged pair crosses the
    eval/train hash split, labels match (the blocking key), and the
    flagged cosine really is >= the threshold per a numpy recompute.
    Runs at sf0.01 — the sf0.001 eval split (~10 vectors) has no pair
    over the threshold, which would vacuously pass."""
    import numpy as np

    from pipetree_spark.queries import load_registry

    sf_med = "/root/testdata/sf0.01"
    rows = load_registry()["q_vec_decontam"].fn(spark, sf_med).collect()
    assert rows  # the sf0.01 corpus does contain contamination at 0.35
    emb = {
        r.vec_id: (r.label, np.array(r.embedding, dtype=np.float64))
        for r in load_table(spark, sf_med, "embeddings").collect()
    }
    for r in rows:
        assert r.eval_id % 19 == 0 and r.train_id % 19 != 0
        le, ve = emb[r.eval_id]
        lt, vt = emb[r.train_id]
        assert le == lt == r.label
        cos = float(ve @ vt / (np.linalg.norm(ve) * np.linalg.norm(vt)))
        assert cos >= 0.35
        assert abs(cos - r.cos_sim) < 5e-4  # emitted value is round(cos, 4)


def test_ngram_decontam_planted_pairs_and_hub_cap(spark):
    """Planted lexical leak: train doc 100 contains eval doc 0's
    5-gram verbatim (twice-shifted → 2 distinct shared grams), train
    doc 101 shares only a boilerplate phrase that appears in EVERY
    train doc. Pure containment flags both pairs; the max_gram_df hub
    cap must drop the boilerplate gram (train-side DF 3 > cap 2) and
    keep the genuine leak."""
    boiler = "all rights reserved by the publisher"
    leak = "the quick brown fox jumps over lazy dogs"
    ev = spark.createDataFrame(
        [(0, leak), (1, "completely unrelated eval text with many words here")],
        "doc_id long, text string",
    )
    tr = spark.createDataFrame(
        [
            (100, f"prefix words {leak} suffix words {boiler}"),
            (101, f"some filler text of words and then {boiler}"),
            (102, f"other totally different content entirely {boiler}"),
        ],
        "doc_id long, text string",
    )
    from pipetree_spark.ops import text as TX2

    got = {
        (r.train_id, r.eval_id): r.n_overlap
        for r in TX2.ngram_decontam(tr, ev, n=5, min_overlap=1).collect()
    }
    assert (100, 0) in got and got[(100, 0)] >= 2  # genuine multi-gram leak
    # boilerplate grams overlap eval? they don't appear in eval texts,
    # so only the genuine leak links train->eval here; plant the hub by
    # adding the boilerplate to an eval doc
    # boundary grams must not collide with any train doc's boundary
    # (e.g. "then {boiler}..." would share "then all rights reserved by"
    # with doc 101 — a genuine non-hub gram), so pick unique lead words
    ev2 = ev.union(spark.createDataFrame([(2, f"unique intro {boiler}")], ev.schema))
    got2 = {
        (r.train_id, r.eval_id)
        for r in TX2.ngram_decontam(tr, ev2, n=5, min_overlap=1).collect()
    }
    assert all((t, 2) in got2 for t in (100, 101, 102))  # hub fans out
    capped = {
        (r.train_id, r.eval_id)
        for r in TX2.ngram_decontam(tr, ev2, n=5, min_overlap=1, max_gram_df=2).collect()
    }
    assert (100, 0) in capped  # genuine leak survives the cap
    assert not any(e == 2 for _, e in capped)  # hub-only pairs dropped


def test_connected_components_long_chain_pointer_jumping(spark):
    """A 60-node chain (diameter 59) would need 59 plain-propagation
    rounds — far past max_iter=25. Adaptive pointer-jumping (label ←
    label[label] from round 4 on) must converge it within the default
    budget and label every node with the chain head. Also pins the
    fixed-point property: a second pass over the already-converged
    labeling is a no-op."""
    from pipetree_spark.ops.graph import connected_components

    chain = spark.createDataFrame([(i, i + 1) for i in range(60)], ["src", "dst"])
    got = {r.node: r.component for r in connected_components(chain).collect()}
    assert got == {i: 0 for i in range(61)}
    # without jumping the same graph must exhaust max_iter and raise
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=10, jump_after=None).collect()


@pytest.fixture(scope="module")
def planted_dir(spark, tmp_path_factory):
    """A tiny documents.parquet with KNOWN duplicate structure against
    the incremental split (doc_id % 10 = 0 → incoming):

    - 10 is a whitespace/case variant of corpus doc 3  → exact
    - 20 is a one-word mutation of corpus doc 5        → near
    - 30 shares nothing with the corpus                → unique
    - 40 is byte-identical to corpus doc 7 AND a near-dup of 8 → exact wins
    """
    rows = [
        (3, "machine learning models require large amounts of clean training data", "en"),
        (5, "spark structured streaming handles late data with watermarks and windows", "en"),
        (7, "the quick brown fox jumps over the lazy dog near the river bank", "en"),
        (8, "the quick brown fox jumps over the lazy dog near the river edge", "en"),
        (9, "completely unrelated corpus sentence about cooking pasta with tomato sauce", "en"),
        (10, "  Machine learning models require large amounts of clean training data ", "en"),
        (20, "spark structured streaming handles late data with watermarks and triggers", "en"),
        (30, "nothing here resembles anything stored in the existing corpus shards", "en"),
        (40, "the quick brown fox jumps over the lazy dog near the river bank", "en"),
    ]
    d = spark.createDataFrame(
        [(i, t, l, "web", len(t)) for i, t, l in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = str(tmp_path_factory.mktemp("planted_sf"))
    d.coalesce(1).write.parquet(out + "/documents.parquet")
    return out


def test_dedup_incremental_classifies_planted(spark, planted_dir):
    from pipetree_spark.queries.llm_ops import q_dedup_incremental

    got = {r.doc_id: r for r in q_dedup_incremental(spark, planted_dir).collect()}
    assert set(got) == {10, 20, 30, 40}
    assert got[10].dup_kind == "exact" and got[10].is_exact == 1
    assert got[20].dup_kind == "near" and got[20].is_exact == 0 and got[20].n_near >= 1
    assert got[30].dup_kind == "unique" and got[30].n_near == 0
    # exact outranks near even when both fire
    assert got[40].dup_kind == "exact" and got[40].n_near >= 1


def test_unigram_lm_familiarity_orders_common_vs_rare(spark, tmp_path):
    """Docs of corpus-frequent tokens must score higher familiarity than
    a doc of hapax tokens, and the hapax doc's rare_ratio must be 1."""
    from pipetree_spark.queries.llm_ops import q_text_unigram_lm

    common = "alpha beta gamma delta"
    rows = [(i, common, "en", "web", len(common)) for i in range(8)]
    rows.append((99, "xyzzy plugh quux corge", "en", "web", 22))
    d = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = str(tmp_path / "sf")
    d.coalesce(1).write.parquet(out + "/documents.parquet")
    got = {r.doc_id: r for r in q_text_unigram_lm(spark, out).collect()}
    assert got[0].familiarity > got[99].familiarity
    assert got[99].rare_ratio == 1.0 and got[0].rare_ratio == 0.0
    # mean unigram probability: common tokens each appear 8x in a
    # 36-token stream → familiarity = 8/36 exactly
    assert got[0].familiarity == pytest.approx(8 / 36, abs=0)
    assert got[99].familiarity == pytest.approx(1 / 36, abs=0)


def test_ngram_top_counts_multiplicity_and_ties(spark, tmp_path):
    """Bigram counting must keep within-doc repetition (multiplicity)
    and break count ties on the gram string."""
    from pipetree_spark.queries.llm_ops import q_text_ngram_top

    rows = [
        (1, "click here click here click here", "en", "web", 32),
        (2, "terms apply", "en", "web", 11),
        (3, "apply now", "de", "web", 9),
    ]
    d = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = str(tmp_path / "sf")
    d.coalesce(1).write.parquet(out + "/documents.parquet")
    got = q_text_ngram_top(spark, out).collect()
    en = [(r.gram, r.n) for r in got if r.lang == "en"]
    # "click here" appears 3x (multiplicity within one doc), "here click" 2x
    assert en[0] == ("click here", 3) and en[1] == ("here click", 2)
    de = [(r.gram, r.n) for r in got if r.lang == "de"]
    assert de == [("apply now", 1)]


def test_dedup_cc_exact_collapse_edge_cases(spark, tmp_path):
    """The q_dedup_cc exact-collapse must be invisible in the output:
    (a) a byte-identical group with NO near-dup edges still emits its
    clique with component = group min; (b) singletons never emit;
    (c) case variants do NOT collapse (raw md5, not normalized) — they
    only cluster if their shingles actually cross the Jaccard bar."""
    from pipetree_spark.queries.llm_ops import q_dedup_cc

    t_dup = "an isolated paragraph that matches nothing else in this corpus at all"
    t_pair_a = "the quick brown fox jumps over the lazy dog near the river bank today"
    t_pair_b = "the quick brown fox jumps over the lazy dog near the river bank tonight"
    rows = [
        (1, t_dup, "en"),
        (2, t_dup, "en"),          # byte-identical to 1, edgeless clique
        (3, t_pair_a, "en"),
        (4, t_pair_b, "en"),       # near-dup of 3
        (5, t_pair_a, "en"),       # byte-identical to 3 → joins its cluster
        (6, "completely different text about pasta sauce and cooking times", "en"),  # singleton
    ]
    d = spark.createDataFrame(
        [(i, t, l, "web", len(t)) for i, t, l in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = str(tmp_path / "sf")
    d.coalesce(1).write.parquet(out + "/documents.parquet")
    got = {r.doc_id: r.component for r in q_dedup_cc(spark, out).collect()}
    assert got == {1: 1, 2: 1, 3: 3, 4: 3, 5: 3}


def test_rawpcm_real_decode_downsample_features(spark, sf_small):
    """The REAL audio path (numpy-only, no codec libs): synth PCM16
    payloads decode to the exact bytes, the feature stage matches a
    numpy reference bit-for-bit, stride downsample keeps every k-th
    sample, and a truncated payload fails loudly."""
    import numpy as np

    d = load_table(spark, sf_small, "documents").filter(F.col("doc_id") < 8)
    pay = MM.make_pcm_payload(d, n_samples=256, sample_rate=8000)
    rows = {r.doc_id: r for r in pay.collect()}
    assert all(len(r.content) == 512 and r.mime == MM.RAW_PCM_MIME for r in rows.values())

    feats = {r.doc_id: r for r in MM.pcm_feature_stage(pay).collect()}
    assert set(feats) == set(rows)
    for did, r in rows.items():
        x = np.frombuffer(r.content, dtype="<i2").astype(np.float64)
        f = feats[did]
        assert f.duration_sec == 256 / 8000
        assert f.rms == pytest.approx(float(np.sqrt(np.mean(x * x))), rel=0)
        assert f.peak == int(np.abs(x).max())
        signs = np.signbit(x)
        assert f.zero_cross_rate == pytest.approx(
            float(np.count_nonzero(signs[1:] != signs[:-1]) / 255), rel=0
        )

    some = next(iter(rows.values()))
    down = MM.pcm_downsample(bytes(some.content), 256, 4)
    assert np.array_equal(
        np.frombuffer(down, dtype="<i2"),
        np.frombuffer(bytes(some.content), dtype="<i2")[::4],
    )
    with pytest.raises(ValueError, match="expected 999"):
        MM.pcm_decode(bytes(some.content), 999)


def test_zero_norm_vectors_dont_crash_cosine_paths(spark):
    """ANSI-mode regression (r7): a zero-norm embedding (an empty doc's
    vector) used to raise DIVIDE_BY_ZERO inside every cosine path. The
    nullif-guarded division yields NULL — DuckDB's exact float
    semantics — so zero vectors simply never rank or pair."""
    rows = [(0, [0.0] * 8), (1, [1.0] + [0.0] * 7), (2, [1.0] + [0.0] * 7)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = df.select(F.col("vec_id").alias("query_id"), "embedding")
    knn = VX.knn_bruteforce(q, df, k=2).collect()
    # the zero vector pairs score NULL and never outrank a real match
    got = {(r.query_id, r.vec_id): r.cos_sim for r in knn}
    assert got[(1, 2)] == 1.0 and got[(2, 1)] == 1.0
    assert got.get((1, 0)) is None and got.get((2, 0)) is None
    norm = df.select(VX.l2_normalize(F.col("embedding")).alias("u")).collect()
    flat = [r.u for r in norm]
    assert [v for u in flat for v in u].count(None) == 8  # zero vec -> NULLs


def test_semantic_ann_centroid_injection(spark):
    """r7 verdict #4/#5: (a) supplying a pre-trained centroid frame
    (ivf_train) must yield IDENTICAL components to the integrated
    full-corpus-training run — blocks are a pure function of (vector,
    centroids); (b) n_clusters='auto' on a small corpus floors at the
    shipped k=8/p=3 point, so auto equals fixed there."""
    import numpy as np

    rng = np.random.RandomState(7)
    base = rng.standard_normal((6, 8)).astype(np.float32)
    rows = []
    # 60 unique vectors → ⌈√60⌉ = 8 = the auto floor, so the auto run
    # resolves to the shipped k=8/p=3 point and must equal the fixed run
    for i in range(60):
        v = base[i % 6] + rng.standard_normal(8).astype(np.float32) * 0.02
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    def comps(res):
        return {(r.vec_id, r.component, r.is_kept) for r in res.collect()}

    want = comps(VX.semantic_dedup_ann(df, threshold=0.8, n_clusters=8, n_probe=3))
    cents = VX.ivf_train(df, "embedding", "vec_id", n_clusters=8, iters=2)
    got_inj = comps(
        VX.semantic_dedup_ann(df, threshold=0.8, n_clusters=8, n_probe=3, centroids=cents)
    )
    assert got_inj == want
    got_auto = comps(VX.semantic_dedup_ann(df, threshold=0.8, n_clusters="auto", n_probe="auto"))
    assert got_auto == want

    # sample-trained centroids: different blocking, still a valid dedup
    # (every key labeled exactly once; keeper iff key == component)
    sample_cents = VX.ivf_train(
        df.sample(0.3, seed=1), "embedding", "vec_id", n_clusters=8, iters=2
    )
    got_sample = VX.semantic_dedup_ann(
        df, threshold=0.8, n_clusters=8, n_probe=3, centroids=sample_cents
    ).collect()
    assert len(got_sample) == 60 and len({r.vec_id for r in got_sample}) == 60
    assert all((r.vec_id == r.component) == bool(r.is_kept) for r in got_sample)


def test_nonfinite_vectors_are_singletons_in_both_pair_twins(spark):
    """r7-advice regression: NaN-norm vectors used to slip through the
    JVM pair stage's na > 0 filter (Spark: NaN > 0 is TRUE) while the
    Arrow twin's numpy s > 0 dropped them — breaking the twins'
    identical-pair-set contract and raising under ANSI in the quantizer
    (floor(NaN)). Contract now: cosine is undefined for zero-norm AND
    non-finite vectors, so both twins exclude them and both semantic
    dedup engines emit them as kept singletons."""
    nan, inf = float("nan"), float("inf")
    rows = [
        (0, 0, [1.0, 0.0, 0.0, 0.0]),
        (1, 0, [1.0, 0.0, 0.0, 0.0]),     # exact dup of 0 → pairs/merges
        (2, 0, [nan, 1.0, 0.0, 0.0]),     # NaN norm → singleton
        (3, 0, [inf, 1.0, 0.0, 0.0]),     # Inf norm → singleton
        (4, 0, [0.0, 0.0, 0.0, 0.0]),     # zero norm → singleton
        (5, 0, [nan, 1.0, 0.0, 0.0]),     # byte-identical NaN → still singleton
    ]
    m = spark.createDataFrame(rows, "rep_id long, block long, embedding array<float>")
    jvm = {(r.id_a, r.id_b) for r in VX.cos_pairs_blocked(m, 0.35).collect()}
    arrow = {(r.id_a, r.id_b) for r in VX.blocked_cos_pairs_arrow(m, 0.35).collect()}
    assert jvm == arrow == {(0, 1)}

    df = m.select(F.col("rep_id").alias("vec_id"), F.col("block").alias("label"), "embedding")
    for res in (
        VX.semantic_dedup(df, key_col="vec_id", block_col="label", threshold=0.35),
        VX.semantic_dedup_ann(df, key_col="vec_id", threshold=0.35, n_clusters=2, n_probe=1),
    ):
        got = {r.vec_id: (r.component, r.is_kept) for r in res.collect()}
        assert got[0] == (0, 1) and got[1] == (0, 0)
        for vid in (2, 3, 4, 5):
            assert got[vid] == (vid, 1)


def test_bloom_prefilter_no_false_negatives_and_bounded_fp(spark):
    """ops/bloom.py contract: every true member survives the prefilter
    (planted overlap), the false-positive rate on a disjoint probe set
    stays under the sized eps, and prefilter→exact-verify equals the
    plain exact semi join."""
    from pipetree_spark.ops import bloom as BL

    members = spark.range(0, 2000).select(F.concat(F.lit("key_"), "id").alias("g"))
    bitmap = BL.bloom_build(members, "g")

    # probe set: all 2000 members + 20000 guaranteed non-members
    probes = spark.range(0, 22000).select(
        F.when(F.col("id") < 2000, F.concat(F.lit("key_"), "id"))
        .otherwise(F.concat(F.lit("other_"), "id"))
        .alias("g")
    )
    kept = BL.bloom_prefilter(probes, "g", bitmap)
    kept_keys = {r.g for r in kept.collect()}
    member_keys = {f"key_{i}" for i in range(2000)}
    assert member_keys <= kept_keys, "bloom dropped a true member"
    fp = len(kept_keys - member_keys)
    # m=2^17, k=5, n=2000 → eps ≈ (1-exp(-k·n/m))^k ≈ 2e-6; allow slack
    assert fp / 20000 < 0.01, f"false-positive rate too high: {fp}/20000"

    exact = probes.join(members, "g", "semi")
    verified = kept.join(members, "g", "semi")
    assert sorted(r.g for r in verified.collect()) == sorted(r.g for r in exact.collect())


def test_bloom_build_shapes_and_validation(spark):
    from pipetree_spark.ops import bloom as BL

    with pytest.raises(ValueError, match="multiple of 64"):
        BL.bloom_build(spark.range(1).select(F.col("id").cast("string").alias("g")), "g", num_bits=100)

    small = BL.bloom_build(
        spark.range(0, 10).select(F.col("id").cast("string").alias("g")),
        "g", num_bits=1024, num_hashes=3,
    )
    row = small.collect()
    assert len(row) == 1 and len(row[0].bloom_bits) == 1024 // 64
    # ≤ k·n bits set, > 0 set
    nset = sum(bin(x & ((1 << 64) - 1)).count("1") for x in row[0].bloom_bits)
    assert 1 <= nset <= 30


def test_bloom_build_chunked_densify_matches_single_level(spark):
    """r16: the two-level (tree-reduce) densify for large bitmaps must
    produce the bit-identical bitmap the single-level path builds, and
    neither path may put a Python stage in the plan (the r15
    applyInPandas densify is gone)."""
    from pipetree_spark.ops import bloom as BL

    members = spark.range(0, 500).select(F.col("id").cast("string").alias("g"))
    one_level = BL.bloom_build(members, "g", num_bits=1024, num_hashes=3)
    two_level = BL.bloom_build(
        members, "g", num_bits=1024, num_hashes=3, chunk_words=4
    )
    a = one_level.collect()[0].bloom_bits
    b = two_level.collect()[0].bloom_bits
    assert a == b and len(a) == 16
    for frame in (one_level, two_level):
        plan = frame._jdf.queryExecution().executedPlan().toString()
        assert "Python" not in plan and "Arrow" not in plan
    # chunked path still emits exactly one all-zero row on empty input
    empty = spark.range(0).select(F.col("id").cast("string").alias("g"))
    rows = BL.bloom_build(empty, "g", num_bits=1024, num_hashes=3, chunk_words=4).collect()
    assert len(rows) == 1 and all(x == 0 for x in rows[0].bloom_bits)
    # n_words NOT a multiple of chunk_words: short last chunk sliced back
    ragged = BL.bloom_build(members, "g", num_bits=1024, num_hashes=3, chunk_words=5)
    assert ragged.collect()[0].bloom_bits == a


def test_pagerank_exact_matches_float_reference_and_handles_dangling(spark):
    """ops/graph.pagerank_exact semantics on a hand graph: scaled-integer
    ranks must track a float PageRank (same teleport/dangling model) to
    within the deterministic floor loss, rank-order must match, and a
    sink (dangling) node must redistribute its mass instead of leaking
    it. Plus: empty edges → empty result, not a ZeroDivisionError."""
    from pipetree_spark.ops.graph import pagerank_exact

    # 1→2, 1→3, 2→3, 3 is a sink (dangling); 4→1 feeds the cycle
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (4, 1)], "src long, dst long"
    )
    scale = 10**12
    got = {r.node: r.rank for r in pagerank_exact(edges, iters=3, scale=scale).collect()}
    assert set(got) == {1, 2, 3, 4}

    # float reference with identical structure (teleport .15/N, damping .85,
    # dangling mass shared uniformly), 3 iterations
    import numpy as np

    nodes = [1, 2, 3, 4]
    out = {1: [2, 3], 2: [3], 4: [1]}
    r = {n: 1 / 4 for n in nodes}
    for _ in range(3):
        dang = sum(r[n] for n in nodes if n not in out)
        inflow = {n: 0.0 for n in nodes}
        for u, vs in out.items():
            for v in vs:
                inflow[v] += r[u] / len(vs)
        r = {n: 0.15 / 4 + 0.85 * (inflow[n] + dang / 4) for n in nodes}
    for n in nodes:
        # floors lose at most a few units per op; 1e-9 relative is generous
        assert abs(got[n] / scale - r[n]) < 1e-6, (n, got[n] / scale, r[n])
    # rank order: the sink (3) collects the most, the unreferenced root
    # (4) the least
    order = sorted(nodes, key=lambda n: got[n], reverse=True)
    assert order[0] == 3 and order[-1] == 4
    # determinism: re-run is bit-identical
    again = {r2.node: r2.rank for r2 in pagerank_exact(edges, iters=3, scale=scale).collect()}
    assert again == got

    empty = pagerank_exact(
        spark.createDataFrame([], "src long, dst long"), iters=3
    )
    assert empty.count() == 0 and empty.columns == ["node", "rank"]


def test_hll_registers_merge_law_and_estimate_bounds(spark):
    """ops/sketch.py: HLL registers over a union must equal the
    element-wise MAX merge of per-part registers (the composition law
    that makes per-partition/per-day sketches roll up for free), the
    estimate must land within the m=64 error regime, and duplicate
    values must not move the sketch (cardinality, not frequency)."""
    from pipetree_spark.ops.sketch import hll_estimate, hll_merge, hll_registers

    a = spark.range(0, 3000).select(F.concat(F.lit("k"), "id").alias("v"))
    b = spark.range(2000, 5000).select(F.concat(F.lit("k"), "id").alias("v"))
    whole = a.unionByName(b)

    merged = hll_merge(hll_registers(a, "v"), hll_registers(b, "v"))
    direct = hll_registers(whole, "v")
    assert merged.collect()[0].registers == direct.collect()[0].registers

    est = direct.select(*hll_estimate()).collect()[0].est_hll
    assert abs(est - 5000) / 5000 < 0.4  # 3σ at m=64 (σ ≈ 1.04/8)

    # duplicates are invisible to the sketch
    duped = whole.unionByName(whole).unionByName(a)
    assert hll_registers(duped, "v").collect()[0].registers == direct.collect()[0].registers

    with pytest.raises(ValueError, match="power of two"):
        hll_registers(a, "v", m=48)


def test_hll_registers_by_consistent_with_global_per_group(spark, sf_small):
    """Per-group registers must equal the global sketch of each group's
    rows in isolation — grouping only partitions the input, it must not
    change any group's register math."""
    from pipetree_spark.ops.sketch import hll_registers, hll_registers_by

    e = load_table(spark, sf_small, "events")
    by = {
        r.event_type: r.registers
        for r in hll_registers_by(e, "user_id", ["event_type"]).collect()
    }
    assert len(by) == 5
    for et, regs in list(by.items())[:2]:  # two groups suffice; the law is per-group
        solo = hll_registers(e.filter(F.col("event_type") == et), "user_id")
        assert solo.collect()[0].registers == regs


def test_quantile_hist_accuracy_and_degenerate_edges(spark, sf_small):
    """q_agg_quantile_hist: every estimate must land within one bucket
    width of the exact percentile (the histogram resolution guarantee),
    and the width-zero (all-equal values) edge must not divide by zero."""
    from pipetree_spark.queries import load_registry

    reg = load_registry()
    rows = reg["q_agg_quantile_hist"].fn(spark, sf_small).collect()
    assert {round(r.q, 2) for r in rows} == {0.5, 0.95, 0.99}
    lo_hi = load_table(spark, sf_small, "lineitem").agg(
        F.min("l_extendedprice"), F.max("l_extendedprice")
    ).collect()[0]
    width = (lo_hi[1] - lo_hi[0]) / 256.0
    for r in rows:
        assert abs(r.est_q - r.exact_q) <= width, (r.q, r.est_q, r.exact_q, width)

    # degenerate: constant column → width 0; the query's CASE must route
    # every row to bucket 0 without evaluating the zero division
    const = spark.range(0, 100).select(F.lit(42.5).alias("v"))
    ex = const.agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
    width = (F.col("hi") - F.col("lo")) / F.lit(256.0)
    bucket = F.when(F.col("hi") == F.col("lo"), F.lit(0)).otherwise(
        F.least(F.lit(255), F.floor((F.col("v") - F.col("lo")) / width).cast("int"))
    )
    got = (
        const.crossJoin(F.broadcast(ex))
        .select(bucket.alias("bucket"))
        .distinct()
        .collect()
    )
    assert [r.bucket for r in got] == [0]


def test_bloom_build_empty_member_set_rejects_everything(spark):
    """The numpy-densify path must still emit exactly one row over an
    empty member set (all-zero bitmap → every probe rejected)."""
    from pipetree_spark.ops import bloom as BL

    empty = spark.range(0).select(F.col("id").cast("string").alias("g"))
    bm = BL.bloom_build(empty, "g", num_bits=1024, num_hashes=3)
    rows = bm.collect()
    assert len(rows) == 1 and all(x == 0 for x in rows[0].bloom_bits)
    probes = spark.range(0, 50).select(F.col("id").cast("string").alias("g"))
    assert BL.bloom_prefilter(probes, "g", bm, num_bits=1024, num_hashes=3).count() == 0


def test_triangle_counts_hand_graph_and_orientation_invariance(spark):
    """ops/graph.triangle_counts on graphs with known answers: K4 (4
    triangles, every node in 3), a square with one diagonal (2
    triangles; diagonal endpoints in both), a triangle-free star and a
    pendant edge (absent from the output). Input direction, duplicate
    edges, and self-loops must not change the counts — the op
    canonicalizes to an undirected simple graph first."""
    from pipetree_spark.ops.graph import triangle_counts

    # K4 on {1,2,3,4}; square 10-11-12-13 with diagonal 10-12;
    # star center 20 with leaves 21-23 (triangle-free); pendant 30-31
    k4 = [(a, b) for a in range(1, 5) for b in range(1, 5) if a < b]
    sq = [(10, 11), (11, 12), (12, 13), (13, 10), (10, 12)]
    star = [(20, 21), (20, 22), (20, 23)]
    base = k4 + sq + star + [(30, 31)]
    # adversarial encoding: reversed directions, dups, self-loop
    noisy = base + [(b, a) for a, b in base] + [(2, 1), (7, 7), (20, 20)]
    got = {r.node: r.tri_cnt for r in triangle_counts(
        spark.createDataFrame(noisy, "src long, dst long")).collect()}
    expect = {1: 3, 2: 3, 3: 3, 4: 3, 10: 2, 11: 1, 12: 2, 13: 1}
    assert got == expect
    # total triangles = sum(corner counts) / 3
    assert sum(got.values()) % 3 == 0 and sum(got.values()) // 3 == 6

    empty = triangle_counts(spark.createDataFrame([], "src long, dst long"))
    assert empty.count() == 0 and empty.columns == ["node", "tri_cnt"]


def test_bfs_khop_hand_graph(spark):
    """ops/graph.bfs_khop: path graph 1-2-3-4-5 plus isolated source 9
    — distances capped at k, isolated sources at 0, min over multiple
    sources, direction-insensitive."""
    from pipetree_spark.ops.graph import bfs_khop

    edges = spark.createDataFrame(
        [(1, 2), (3, 2), (3, 4), (5, 4)], "src long, dst long"
    )
    srcs = spark.createDataFrame([(1,), (9,)], "n long")
    got = {r.node: r.dist for r in bfs_khop(edges, srcs, k=2).collect()}
    assert got == {1: 0, 9: 0, 2: 1, 3: 2}
    # k=4 reaches the whole path; two sources take the min
    got4 = {r.node: r.dist for r in bfs_khop(
        edges, spark.createDataFrame([(1,), (5,)], "n long"), k=4).collect()}
    assert got4 == {1: 0, 5: 0, 2: 1, 4: 1, 3: 2}


def test_sssp_khop_hand_graph(spark):
    """ops/graph.sssp_khop: weighted path 1-2-3 with a direct heavy
    edge 1-3 — within 1 edge the heavy direct edge wins; within 2 the
    lighter two-hop path does. Parallel edges reduce to min weight;
    the k-edge cap is exact; BFS is the all-weights-1 special case."""
    from pipetree_spark.ops.graph import bfs_khop, sssp_khop

    edges = spark.createDataFrame(
        [(1, 2, 4), (2, 3, 4), (1, 3, 10), (1, 3, 12), (9, 9, 1)],
        "src long, dst long, w long",
    )
    srcs = spark.createDataFrame([(1,)], "n long")
    got1 = {r.node: r.dist for r in sssp_khop(edges, srcs, k=1).collect()}
    assert got1 == {1: 0, 2: 4, 3: 10}
    got2 = {r.node: r.dist for r in sssp_khop(edges, srcs, k=2).collect()}
    assert got2 == {1: 0, 2: 4, 3: 8}

    ones = edges.select("src", "dst", F.lit(1).alias("w"))
    bfs = {r.node: r.dist for r in bfs_khop(edges, srcs, k=2).collect()}
    ss = {r.node: r.dist for r in sssp_khop(ones, srcs, k=2).collect()}
    assert bfs == ss


def test_codec_wild_file_tolerance_r11():
    """r11 ADVICE fixes, each exercised on a hand-built 'wild' payload:
    GIF disposal-3 (restore-previous) composition + typed error on a
    frame rect past the logical screen; JPEG 0xFF fill bytes and
    standalone (length-less) TEM/RST markers between header segments;
    WAV trailing non-RIFF bytes (appended ID3 tag); AVI strh is the
    canonical 56-byte AVISTREAMHEADER."""
    import struct

    import numpy as np
    import pytest as _pytest

    from pipetree_spark.ops import gif as G
    from pipetree_spark.ops import jpeg as J
    from pipetree_spark.ops import wav as W
    from pipetree_spark.ops import avi as A

    # --- GIF disposal 3: frame 2 must compose on the RESTORED canvas
    gct = bytes([10, 10, 10,  200, 0, 0,  0, 200, 0,  0, 0, 200])
    hdr = b"GIF89a" + struct.pack("<HH", 2, 2) + bytes([0x80 | 1, 0, 0]) + gct
    def frame(left, top, fw, fh, idxs):
        body = _lzw_frame(idxs)
        return (b"\x2c" + struct.pack("<HHHH", left, top, fw, fh) + b"\x00"
                + bytes([2]) + bytes([len(body)]) + body + b"\x00")
    def _lzw_frame(idxs):
        return G._lzw_encode(2, idxs)
    gce_d3 = b"\x21\xf9\x04" + bytes([3 << 2, 0, 0, 0]) + b"\x00"
    payload = (hdr + gce_d3 + frame(0, 0, 2, 2, [1, 1, 1, 1])
               + frame(0, 0, 1, 1, [2]) + b"\x3b")
    frames, w, h = G.gif_decode(payload)
    assert (w, h, len(frames)) == (2, 2, 2)
    assert (frames[0] == [200, 0, 0]).all()  # frame 1 fills red
    # disposal 3 restored the background before frame 2's 1x1 green px
    assert (frames[1][0, 0] == [0, 200, 0]).all()
    assert (frames[1][0, 1] == [10, 10, 10]).all()
    assert (frames[1][1, :] == [10, 10, 10]).all()

    # --- GIF frame rect past the logical screen: typed error, not numpy
    bad = hdr + frame(1, 0, 2, 2, [1, 1, 1, 1]) + b"\x3b"
    with _pytest.raises(G.GifFormatError, match="exceeds logical screen"):
        G.gif_decode(bad)

    # --- JPEG: fill bytes + standalone markers between header segments
    img = np.full((8, 8, 3), 128, dtype=np.uint8)
    enc = J.jpeg_encode(img)
    ref = J.jpeg_decode(enc)
    # inject a 0xFF fill run and a TEM (FF 01) + RST0 (FF D0) standalone
    # marker after SOI — all spec-legal noise a header walk must skip
    wild = enc[:2] + b"\xff\xff" + b"\xff\x01" + b"\xff\xd0" + enc[2:]
    out = J.jpeg_decode(wild)
    assert (out == ref).all()

    # --- WAV: trailing non-RIFF bytes after the RIFF end
    s = (np.arange(64).reshape(-1, 2) * 100).astype("<i2")
    wenc = W.wav_encode(s, 8000)
    dec, sr = W.wav_decode(wenc + b"ID3\x03trailing-tag-bytes")
    assert sr == 8000 and (dec == s).all()
    # a chunk truncated WITHIN the RIFF extent still errors: blow up the
    # data chunk's length field (fmt body is 16B -> data length at 40:44)
    assert wenc[36:40] == b"data"
    with _pytest.raises(W.WavFormatError, match="truncated"):
        W.wav_decode(wenc[:40] + b"\xff\xff\xff\x7f" + wenc[44:])

    # --- AVI: canonical 56-byte strh (11 dwords + rcFrame, not 12)
    jf = [J.jpeg_encode(np.full((16, 16, 3), v, dtype=np.uint8)) for v in (0, 80)]
    av = A.avi_mjpeg_encode(jf, 16, 16, fps=5)
    i = av.find(b"strh")
    (ln,) = struct.unpack("<I", av[i + 4 : i + 8])
    assert ln == 56
    got = A.avi_mjpeg_decode(av)
    assert len(got[0] if isinstance(got, tuple) else got) >= 1


def test_bpe_train_matches_hand_computed_merges(spark, tmp_path):
    """ops.text.bpe_train on the textbook corpus (low x3, lower x2,
    newest x1): four hand-derived merges including BOTH tie-break
    cases — round 0 ties (l,o)=(o,w)=5 and must pick the pair-ASC
    winner (l,o); round 2 ties (e,r)=(low,e)=2 and must pick (e,r)."""
    from pipetree_spark.ops import text as TXO

    docs = spark.createDataFrame(
        [(0, "low low low"), (1, "lower lower"), (2, "newest")],
        "doc_id long, text string",
    )
    got = [tuple(r) for r in TXO.bpe_train(docs, "text", n_merges=4).orderBy("rank").collect()]
    assert got == [
        (0, "l", "o", "lo", 5),
        (1, "lo", "w", "low", 5),
        (2, "e", "r", "er", 2),
        (3, "low", "er", "lower", 2),
    ]
    # empty corpus: zero merge rows, no error, on both engines' semantics
    empty = spark.createDataFrame([(0, "")], "doc_id long, text string")
    assert TXO.bpe_train(empty, "text", n_merges=2).count() == 0


def test_bpe_apply_counts_and_exhausted_merges(spark):
    """ops.text.bpe_encode with the ops.text.bpe_train merges: per-doc
    BPE token counts on the textbook corpus (low->1 sym, lower->1 sym
    after the (low,er) merge, newest untouched at 6 syms), and a corpus
    whose pairs run out after one merge — the encoder must apply the
    one learned merge and pass every word through, not drop it."""
    from pipetree_spark.ops import text as TXO

    def pairs(merges):
        return [(r.lhs, r.rhs) for r in merges.orderBy("rank").collect()]

    docs = spark.createDataFrame(
        [(0, "low low low"), (1, "lower lower"), (2, "newest")],
        "doc_id long, text string",
    )
    merges = TXO.bpe_train(docs, "text", n_merges=4)
    got = {r.doc_id: (r.n_words, r.n_bpe_tokens)
           for r in TXO.bpe_encode(docs, pairs(merges), "text", "doc_id").collect()}
    assert got == {0: (3, 3), 1: (2, 2), 2: (1, 6)}

    tiny = spark.createDataFrame([(0, "aa aa"), (1, "b")], "doc_id long, text string")
    m2 = TXO.bpe_train(tiny, "text", n_merges=3)
    assert m2.count() == 1  # pairs run out after (a,a)
    got2 = {r.doc_id: (r.n_words, r.n_bpe_tokens)
            for r in TXO.bpe_encode(tiny, pairs(m2), "text", "doc_id").collect()}
    assert got2 == {0: (2, 2), 1: (1, 1)}


def test_bpe_train_matches_pure_python_reference(spark):
    """Differential gate for the incremental driver-side trainer: this
    reference implements greedy BPE the textbook way — a full pair
    recount per round and an explicit left-to-right pair scan over
    symbol tuples — and must agree with bpe_train on corpora built to
    stress the merge: odd same-symbol runs (aaa), merged-symbol prefix
    collisions (a vs ab), count ties, words that exhaust their pairs
    mid-run, and line terminators inside words (one code point is one
    symbol, line feed and carriage return included)."""
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
            new_state = {}
            for syms, f in state.items():
                out, i = [], 0
                while i < len(syms):
                    if i + 1 < len(syms) and (syms[i], syms[i + 1]) == best:
                        out.append(syms[i] + syms[i + 1])
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                new_state[tuple(out)] = new_state.get(tuple(out), 0) + f
            state = new_state
        return merges

    corpora = [
        ["aaa aaa", "aa"],                      # odd runs + same-symbol merges
        ["abab abab ab", "ba baba"],            # alternating, merged-prefix collisions
        ["aa ab ba bb aa ab", "a b"],           # dense ties
        ["xyz xyz xy yz", "zzz"],               # exhaustion + 3-symbol words
        ["the cat the hat", "the the cat"],     # words repeat across docs
        ["ab\nab ab\nab a\rb", "ab\nab x\ny"],  # line terminators are symbols
    ]
    for docs in corpora:
        wf = Counter(w for d in docs for w in d.split(" ") if w)
        expect = ref_bpe(wf, 5)
        sdf = spark.createDataFrame(
            [(i, t) for i, t in enumerate(docs)], "doc_id long, text string"
        )
        got = [tuple(r) for r in TXO.bpe_train(sdf, "text", n_merges=5).orderBy("rank").collect()]
        assert got == expect, f"{docs}: {got} != {expect}"


def test_phash_dedup_finds_planted_near_dups_and_nothing_else(spark):
    """r12 perceptual image near-dup: every planted perturbed variant
    (saturating +1 on every 64th byte, id = base + 100) must pair with
    its base within Hamming ≤ 6, and no cross-image pair may appear —
    unrelated sha256-counter images differ by ~32 bits and share no
    16-bit band."""
    from pipetree_spark.ops import mm as MM
    from pyspark.sql import functions as F

    d = spark.createDataFrame(
        [(i, f"phash-test-doc-{i}") for i in range(12)], "doc_id long, text string"
    )
    base = MM.image_decode_stage(MM.make_png_payload(d, width=16, height=16))
    variants = MM.rgb_perturb_stage(
        base.withColumn("doc_id", F.col("doc_id") + 100), every=64, delta=1
    )
    bands = MM.dhash_bands_stage(base.unionByName(variants))
    pairs = MM.dhash_hamming_pairs(bands, max_hamming=6).collect()
    got = {(r.doc_a, r.doc_b): r.hamming for r in pairs}
    assert set(got) == {(i, i + 100) for i in range(12)}, got
    assert all(h <= 6 for h in got.values())
    # identical inputs hash identically: hamming 0 dominates (the +1
    # nudge flips a block comparison only on near-tie sums)
    assert sum(1 for h in got.values() if h == 0) >= 8, got


def test_dhash_bands_identical_images_collide_exactly(spark):
    """Byte-identical images produce identical band fingerprints
    (hamming 0) regardless of partitioning."""
    from pipetree_spark.ops import mm as MM

    d = spark.createDataFrame(
        [(0, "same-text"), (7, "same-text")], "doc_id long, text string"
    ).repartition(2)
    bands = MM.dhash_bands_stage(
        MM.image_decode_stage(MM.make_png_payload(d, width=16, height=16))
    )
    rows = {r.doc_id: (r.band_0, r.band_1, r.band_2, r.band_3) for r in bands.collect()}
    assert rows[0] == rows[7]
    pairs = MM.dhash_hamming_pairs(bands, max_hamming=0).collect()
    assert [(r.doc_a, r.doc_b, r.hamming) for r in pairs] == [(0, 7, 0)]


def test_audiofp_dedup_finds_planted_near_dups_and_nothing_else(spark):
    """r12 perceptual audio near-dup: every planted perturbed variant
    (saturating +1 on every 37th sample, id = base + 100) must pair
    with its base within Hamming ≤ 6, and no cross-waveform pair may
    appear — unrelated sha256-counter waveforms differ by ~32 bits and
    share no 16-bit band."""
    from pipetree_spark.ops import mm as MM
    from pyspark.sql import functions as F

    d = spark.createDataFrame(
        [(i, f"audiofp-test-doc-{i}") for i in range(12)], "doc_id long, text string"
    )
    base = MM.audio_decode_stage(MM.make_wav_payload(d, n_samples=512, sample_rate=8000))
    variants = MM.pcm_perturb_stage(
        base.withColumn("doc_id", F.col("doc_id") + 100), every=37, delta=1
    )
    bands = MM.audiofp_bands_stage(base.unionByName(variants))
    pairs = MM.dhash_hamming_pairs(bands, max_hamming=6).collect()
    got = {(r.doc_a, r.doc_b): r.hamming for r in pairs}
    assert set(got) == {(i, i + 100) for i in range(12)}, got
    assert all(h <= 6 for h in got.values())
    # the +1 nudge flips an energy-delta comparison only on near-ties
    assert sum(1 for h in got.values() if h == 0) >= 8, got


def test_audiofp_bands_matches_numpy_reference(spark):
    """audiofp_bands_stage pins to an independent numpy re-derivation
    of the Haitsma–Kalker bit definition (explicit loops, no reshape
    tricks), and identical waveforms collide at hamming 0."""
    import hashlib

    import numpy as np
    from pipetree_spark.ops import mm as MM

    d = spark.createDataFrame(
        [(0, "afp-ref-a"), (1, "afp-ref-b"), (9, "afp-ref-a")],
        "doc_id long, text string",
    )
    raw = MM.audio_decode_stage(MM.make_wav_payload(d, n_samples=512, sample_rate=8000))
    rows = {
        r.doc_id: (r.band_0, r.band_1, r.band_2, r.band_3)
        for r in MM.audiofp_bands_stage(raw).collect()
    }
    assert rows[0] == rows[9] != rows[1]

    def ref_bands(text: str) -> tuple:
        base = hashlib.sha256(b"pcm:" + text.encode()).hexdigest()
        buf = bytearray()
        c = 0
        while len(buf) < 1024:
            buf += hashlib.sha256(f"{base}:{c}".encode()).digest()
            c += 1
        x = np.frombuffer(bytes(buf[:1024]), dtype="<i2").astype(np.int64)
        e = [
            [int(sum(v * v for v in x[8 * t + 4 * h : 8 * t + 4 * h + 4]))
             for h in range(2)]
            for t in range(64)
        ]
        bits = [
            1 if (e[t][0] - e[(t - 1) % 64][0]) > (e[t][1] - e[(t - 1) % 64][1]) else 0
            for t in range(64)
        ]
        return tuple(
            sum(bits[16 * i + j] << j for j in range(16)) for i in range(4)
        )

    assert rows[0] == ref_bands("afp-ref-a")
    assert rows[1] == ref_bands("afp-ref-b")


def test_pcm_perturb_saturates_at_int16_rails(spark):
    """pcm_perturb_stage clips at ±32767/−32768 instead of wrapping —
    the property the oracle's LEAST() mirrors."""
    import numpy as np
    from pipetree_spark.ops import mm as MM
    from pyspark.sql import types as T

    x = np.array([32767, -32768, 0, 100], dtype="<i2")
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("content", T.BinaryType()),
        ]
    )
    df = spark.createDataFrame([(1, bytearray(x.tobytes()))], schema)
    out = MM.pcm_perturb_stage(df, every=1, delta=1).collect()[0]
    got = np.frombuffer(bytes(out.content), dtype="<i2").tolist()
    assert got == [32767, -32767, 1, 101]
    out2 = MM.pcm_perturb_stage(df, every=1, delta=-1).collect()[0]
    got2 = np.frombuffer(bytes(out2.content), dtype="<i2").tolist()
    assert got2 == [32766, -32768, -1, 99]


def test_lsh_recall_audit_counts_planted_pairs(spark):
    """r12 dedup-recall audit: a planted high-J pair lands in truth AND
    candidates (hit), a below-threshold pair in neither, and the
    emitted ratios are the exact integer quotients."""
    import os
    import tempfile

    from pipetree_spark.queries import load_registry

    base = "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9"
    docs = [
        (0, base),                                  # truth pair with 1
        (1, base + " w10"),                         # J = 8/9 vs doc 0
        (2, "x0 x1 x2 x3 w0 w1 w2 y0 y1 y2"),      # shares 1 shingle, low J
        (3, "z0 z1 z2 z3 z4 z5 z6 z7"),            # unrelated
    ]
    tmp = tempfile.mkdtemp()
    spark.createDataFrame(docs, "doc_id long, text string") \
        .withColumn("lang", F.lit("en")) \
        .withColumn("source", F.lit("t")) \
        .withColumn("n_chars", F.length("text").cast("long")) \
        .select("doc_id", "text", "lang", "source", "n_chars") \
        .write.mode("overwrite").parquet(os.path.join(tmp, "documents.parquet"))
    r = load_registry()["q_dedup_lsh_recall"].fn(spark, tmp).collect()[0]
    assert r.n_truth == 1 and r.n_hit == 1, r.asDict()
    assert r.recall4 == 1.0
    assert r.n_cand >= 1 and r.precision4 == round(1 / r.n_cand, 4), r.asDict()


def test_temperature_mix_rates_and_selection_match_reference(spark):
    """r12 temperature-mix executor: permilles match an independent
    python re-derivation (sqrt weights → 50%-token budget → floor),
    the head source downsamples while the tail saturates at 1000, and
    the selected docs are exactly the md5-bucket winners."""
    import hashlib
    import math
    import os
    import tempfile

    from pipetree_spark.queries import load_registry

    # big head source (90 docs x 10 tokens), small tail (10 docs x 2)
    docs = [(i, "head", " ".join(["w"] * 10)) for i in range(90)]
    docs += [(i, "tail", "a b") for i in range(90, 100)]
    tmp = tempfile.mkdtemp()
    spark.createDataFrame(docs, "doc_id long, source string, text string") \
        .withColumn("lang", F.lit("en")) \
        .withColumn("n_chars", F.length("text").cast("long")) \
        .select("doc_id", "text", "lang", "source", "n_chars") \
        .write.mode("overwrite").parquet(os.path.join(tmp, "documents.parquet"))
    q = load_registry()["q_text_temperature_mix"].fn
    out = {r.source: r for r in q(spark, tmp).collect()}

    masses = {"head": 900, "tail": 20}
    wi = {s: round(math.sqrt(m) * 1e6) for s, m in masses.items()}
    tw, nt = sum(wi.values()), sum(masses.values())
    perm = {
        s: min(1000, math.floor(500.0 * ((float(nt) * (wi[s] / tw)) / masses[s])))
        for s in masses
    }
    assert out["head"].permille == perm["head"] < 1000
    assert out["tail"].permille == perm["tail"] == 1000
    for s, lo, hi in (("head", 0, 90), ("tail", 90, 100)):
        kept = [
            i for i in range(lo, hi)
            if int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16) % 1000
            < perm[s]
        ]
        assert out[s].n_docs_kept == len(kept), s


def test_vid_keyframes_selects_one_frame_per_planted_shot(spark):
    """r12 keyframe selection: repeat=3 plants 6 shots of 3 identical
    frames into a 16-frame video; exactly the shot-opening frames
    (0,3,6,9,12,15) survive, frame 0 with delta 0."""
    from pipetree_spark.ops import mm as MM

    d = spark.createDataFrame(
        [(0, "keyframe-test-a"), (1, "keyframe-test-b")], "doc_id long, text string"
    )
    frames = MM.video_frame_sample_stage(
        MM.make_avi_quad_payload(d, n_frames=16, repeat=3), every_n=1
    )
    out = MM.vid_keyframes(MM.vid_block_luma_stage(frames), n_frames=16).collect()
    got = {}
    for r in out:
        got.setdefault(r.doc_id, {})[r.frame_idx] = r.delta
    for doc in (0, 1):
        assert sorted(got[doc]) == [0, 3, 6, 9, 12, 15], got[doc]
        assert got[doc][0] == 0
        assert all(v > 0 for k, v in got[doc].items() if k > 0)


def test_pcm_downsample_stage_keeps_every_factorth_sample(spark):
    import numpy as np
    from pipetree_spark.ops import mm as MM
    from pyspark.sql import types as T

    x = np.arange(16, dtype="<i2")
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("content", T.BinaryType()),
            T.StructField("n_samples", T.IntegerType()),
            T.StructField("sample_rate", T.IntegerType()),
        ]
    )
    df = spark.createDataFrame([(1, bytearray(x.tobytes()), 16, 8000)], schema)
    out = MM.pcm_downsample_stage(df, factor=4).collect()[0]
    assert np.frombuffer(bytes(out.content), dtype="<i2").tolist() == [0, 4, 8, 12]
    assert (out.n_samples, out.sample_rate) == (4, 2000)


def test_warc_build_parse_roundtrip_and_strict_framing():
    """ops.warc: built archives parse back record-for-record; a
    truncated payload and a missing Content-Length raise loudly."""
    import pytest as _pytest
    from pipetree_spark.ops.warc import (
        WarcFormatError,
        http_response,
        warc_build,
        warc_parse,
    )

    body = b"<html><body><p>hi</p></body></html>"
    data = warc_build(
        [
            ("warcinfo", {"WARC-Record-ID": "<urn:x:1>"}, b"software: t\r\n"),
            ("request", {"WARC-Target-URI": "http://e/a"}, b"GET /a HTTP/1.1\r\n\r\n"),
            ("response", {"WARC-Target-URI": "http://e/a"}, http_response(200, "OK", body)),
        ]
    )
    recs = warc_parse(data)
    assert [r["warc_type"] for r in recs] == ["warcinfo", "request", "response"]
    assert recs[2]["http_status"] == 200 and recs[2]["http_body"] == body
    with _pytest.raises(WarcFormatError):
        warc_parse(data[:-10])  # truncated final payload
    with _pytest.raises(WarcFormatError):
        warc_parse(b"WARC/1.0\r\nWARC-Type: response\r\n\r\nxx")  # no length
    with _pytest.raises(WarcFormatError):  # non-numeric length stays typed
        warc_parse(b"WARC/1.0\r\nWARC-Type: x\r\nContent-Length: 1x\r\n\r\nzz")
    with _pytest.raises(WarcFormatError):  # non-numeric HTTP status too
        warc_parse(warc_build([("response", {"A": "b"},
                                b"HTTP/1.1 2OO OK\r\n\r\n")]))
    # int() leniency is rejected: a NEGATIVE length would walk the
    # parse position backwards into an infinite loop; '+'/'_' mis-frame
    with _pytest.raises(WarcFormatError):
        warc_parse(b"WARC/1.0\r\nContent-Length: -33\r\n\r\n" + b"X" * 50)
    with _pytest.raises(WarcFormatError):
        warc_parse(b"WARC/1.0\r\nContent-Length: 1_0\r\n\r\n" + b"X" * 50)
    with _pytest.raises(WarcFormatError):
        warc_parse(warc_build([("response", {"A": "b"},
                                b"HTTP/1.1 -200 OK\r\n\r\n")]))


def test_warc_extract_stage_classifies_planted_captures(spark):
    """The Spark ingest stage walks planted archives: 200 captures
    carry the doc's HTML body byte-exact, 404 captures carry the
    fixed not-found body, URIs come from the digest."""
    import hashlib

    from pipetree_spark.ops import mm as MM

    d = spark.createDataFrame(
        [(i, f"warc test doc {i}") for i in range(16)], "doc_id long, text string"
    )
    rows = {
        r.doc_id: r for r in MM.warc_extract_stage(MM.make_warc_payload(d)).collect()
    }
    seen = set()
    for i in range(16):
        t = f"warc test doc {i}"
        hx = hashlib.sha256(b"warc:" + t.encode()).hexdigest()
        r = rows[i]
        assert r.n_records == 3
        assert r.target_uri == "http://crawl.test/" + hx[:8]
        if int(hx[:2], 16) % 4 == 0:
            assert r.http_status == 404
            assert r.body_html == "<html><body><p>not found</p></body></html>"
        else:
            assert r.http_status == 200
            assert f"<p>{t} &amp; tail</p>" in r.body_html
            assert r.body_html.startswith("<html><body><div id=nav>")
        seen.add(r.http_status)


def test_crawl_e2e_extracts_content_and_drops_boilerplate(spark):
    """r12 crawl front-end composition: WARC parse → 200-filter →
    link-density extraction. The nav and footer (pure links) drop,
    the content paragraph survives with its entity decoded, and 404
    captures never reach the extractor."""
    import hashlib

    from pipetree_spark.ops import mm as MM
    from pipetree_spark.ops import text as TXO

    d = spark.createDataFrame(
        [(i, f"crawl e2e doc {i} body words") for i in range(12)],
        "doc_id long, text string",
    )
    rows = MM.warc_extract_stage(MM.make_warc_payload(d))
    ok = rows.where(F.col("http_status") == 200).select(
        "doc_id", F.col("body_html").alias("html")
    )
    out = {r.doc_id: r for r in TXO.html_extract_stage(ok, "html", "doc_id").collect()}
    for i in range(12):
        t = f"crawl e2e doc {i} body words"
        hx = hashlib.sha256(b"warc:" + t.encode()).hexdigest()
        if int(hx[:2], 16) % 4 == 0:
            assert i not in out  # 404 never reaches extraction
        else:
            r = out[i]
            assert r.extracted == f"{t} & tail"      # entity decoded
            assert r.n_blocks == 3                    # nav, content, footer
            assert r.n_kept_blocks == 1               # boilerplate dropped


def test_classify_media_stage_triages_each_corruption_class(spark):
    """r12 media triage: intact decodes ok, truncation and bitrot hit
    PNG's CRC wall as 'corrupt', a flipped magic is 'unknown', and a
    mixed shard with a valid GIF dispatches by format."""
    from pipetree_spark.ops import mm as MM

    d = spark.createDataFrame(
        [(i, f"triage doc {i}") for i in range(8)], "doc_id long, text string"
    )
    damaged = MM.corrupt_media_variant_stage(MM.make_png_payload(d, width=16, height=16))
    out = {r.doc_id: (r.fmt, r.status, r.n_px)
           for r in MM.classify_media_stage(damaged).collect()}
    for i in range(8):
        want = [("png", "ok", 256), ("png", "corrupt", 0),
                ("unknown", "unknown", 0), ("png", "corrupt", 0)][i % 4]
        assert out[i] == want, (i, out[i], want)

    gifs = MM.make_gif_payload(d.where(F.col("doc_id") == 0), width=16, height=16)
    g = MM.classify_media_stage(gifs).collect()[0]
    assert (g.fmt, g.status, g.n_px) == ("gif", "ok", 256)


def test_linkgraph_extracts_digest_driven_edges(spark):
    """r12 crawl link graph: the regexp href extraction recovers
    exactly the two digest-driven targets per page (deduped), and the
    composed PageRank emits one positive rank per node."""
    import hashlib

    import os
    import tempfile

    from pipetree_spark.queries import load_registry

    docs = [(i, f"linkgraph doc {i} text") for i in range(20)]
    tmp = tempfile.mkdtemp()
    spark.createDataFrame(docs, "doc_id long, text string") \
        .withColumn("lang", F.lit("en")) \
        .withColumn("source", F.lit("t")) \
        .withColumn("n_chars", F.length("text").cast("long")) \
        .select("doc_id", "text", "lang", "source", "n_chars") \
        .write.mode("overwrite").parquet(os.path.join(tmp, "documents.parquet"))
    rows = load_registry()["q_pipe_linkgraph"].fn(spark, tmp).collect()
    nodes = {r.node for r in rows}
    # nodes = all sources plus all digest targets
    want_nodes = set(range(20))
    for i, t in docs:
        hx = hashlib.sha256(f"link:{t}".encode()).hexdigest()
        want_nodes.add(int(hx[0:2], 16) % 128)
        want_nodes.add(int(hx[2:4], 16) % 128)
    assert nodes == want_nodes
    assert all(r.rank > 0 for r in rows)


def test_url_canonicalize_rules(spark):
    """r12 URL canonicalization: case, www., default ports, utm params,
    and param order all collapse; non-default ports and real params
    survive; bare '?' is stripped."""
    from pipetree_spark.ops import text as TXO

    cases = [
        ("HTTPS://WWW.Example.COM:443/a?utm_source=x&b=2&a=1",
         "https://example.com/a?a=1&b=2"),
        ("http://site.test:80/p?utm_campaign=z", "http://site.test/p"),
        ("http://site.test:8080/p?z=1", "http://site.test:8080/p?z=1"),
        ("https://example.com/only", "https://example.com/only"),
        # fragments are client-side: same resource, same key
        ("https://example.com/a#sec", "https://example.com/a"),
        ("https://h.test/p?b=2#frag", "https://h.test/p?b=2"),
        # userinfo is not resource identity (and must not become the host)
        ("http://user:pw@h.test:80/p", "http://h.test/p"),
        # r12 ADVICE: a default port for the WRONG scheme is a real,
        # distinct resource — only the scheme's own default collapses
        ("http://h.test:443/p", "http://h.test:443/p"),
        ("https://h.test:80/p", "https://h.test:80/p"),
        ("https://h.test:443/p", "https://h.test/p"),
        # r12 ADVICE: bracketed IPv6 authorities parse whole
        ("http://[::1]:8080/p?z=1", "http://[::1]:8080/p?z=1"),
        ("http://[2001:db8::1]:80/p", "http://[2001:db8::1]/p"),
        ("https://[2001:DB8::a]/p", "https://[2001:db8::a]/p"),
    ]
    df = spark.createDataFrame([(i, u) for i, (u, _) in enumerate(cases)],
                               "i long, url string")
    got = {r.i: r.c for r in df.select("i", TXO.url_canonicalize("url").alias("c")).collect()}
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (cases[i][0], got[i], want)


def test_warc_gzip_members_decompress_transparently(spark):
    """Per-record gzip members (the CommonCrawl layout) decompress as
    one multi-member stream and parse identically to the plain WARC."""
    from pipetree_spark.ops import mm as MM

    d = spark.createDataFrame(
        [(i, f"warc gz doc {i}") for i in range(6)], "doc_id long, text string"
    )
    plain = {
        tuple(r)
        for r in MM.warc_extract_stage(MM.make_warc_payload(d)).collect()
    }
    gz = MM.make_warc_payload(d, gzip_members=True)
    assert gz.collect()[0].content[:2] == b"\x1f\x8b"  # really gzip
    via_gz = {
        tuple(r)
        for r in MM.warc_extract_stage(
            MM.decompress_stage(gz, codec="gzip")
        ).collect()
    }
    assert plain == via_gz and len(plain) == 6


def test_exif_build_parse_roundtrip_both_endians():
    """ops.exif: the builder's APP1 parses back field-for-field in II
    and MM byte order; EXIF-less JPEGs return None; malformed TIFF
    raises loudly."""
    import pytest as _pytest
    from pipetree_spark.ops.exif import (
        ExifFormatError,
        exif_app1,
        exif_parse,
        insert_app1,
    )

    skeleton = b"\xff\xd8\xff\xd9"
    for be, bom in ((False, "II"), (True, "MM")):
        app1 = exif_app1("MKtest01", 6, (7200, 100), "2026:08:16 12:34:56", big_endian=be)
        got = exif_parse(insert_app1(skeleton, app1))
        assert got == {
            "endian": bom,
            "make": "MKtest01",
            "orientation": 6,
            "xres_num": 7200,
            "xres_den": 100,
            "dt_original": "2026:08:16 12:34:56",
        }
    assert exif_parse(skeleton) is None
    bad = insert_app1(skeleton, b"\xff\xe1\x00\x10Exif\x00\x00XXtrash....")
    with _pytest.raises(ExifFormatError):
        exif_parse(bad)
    # builder input validation stays inside the module's error type
    with _pytest.raises(ExifFormatError):
        exif_app1("Ñikon", 1, (72, 1), "2026:08:16 00:00:00")
    with _pytest.raises(ExifFormatError):
        exif_app1("x" * 70000, 1, (72, 1), "2026:08:16 00:00:00")
    with _pytest.raises(ExifFormatError):  # SHORT/u32 range checks
        exif_app1("MK", 70000, (72, 1), "2026:08:16 00:00:00")
    with _pytest.raises(ExifFormatError):
        exif_app1("MK", 1, (-1, 1), "2026:08:16 00:00:00")


def test_exif_parse_tolerates_missing_optional_tags():
    """Every EXIF tag is optional per spec: an IFD0 with ONLY
    Orientation parses to a row with None for the absent fields
    instead of a KeyError escaping the loud-fail contract."""
    import struct

    from pipetree_spark.ops.exif import exif_parse, insert_app1

    e = "<"
    ifd0 = struct.pack(f"{e}H", 1)
    ifd0 += struct.pack(f"{e}HHI", 0x0112, 3, 1) + struct.pack(f"{e}H", 6).ljust(4, b"\x00")
    ifd0 += struct.pack(f"{e}I", 0)
    tiff = b"II" + struct.pack(f"{e}H", 42) + struct.pack(f"{e}I", 8) + ifd0
    body = b"Exif\x00\x00" + tiff
    app1 = b"\xff\xe1" + struct.pack(">H", len(body) + 2) + body
    got = exif_parse(insert_app1(b"\xff\xd8\xff\xd9", app1))
    assert got == {
        "endian": "II", "make": None, "orientation": 6,
        "xres_num": None, "xres_den": None, "dt_original": None,
    }


def test_exif_extract_stage_reads_planted_metadata(spark):
    """The Spark stage parses the planted EXIF from a REAL JPEG (after
    the encoder's own segments) and splits endianness by digest — both
    decode paths exercised in one frame."""
    import hashlib

    from pipetree_spark.ops import mm as MM

    d = spark.createDataFrame(
        [(i, f"exif-test-{i}") for i in range(8)], "doc_id long, text string"
    )
    rows = {
        r.doc_id: r
        for r in MM.exif_extract_stage(MM.make_jpeg_exif_payload(d)).collect()
    }
    endians = set()
    for i in range(8):
        hx = hashlib.sha256(f"exif:exif-test-{i}".encode()).hexdigest()
        dig = bytes.fromhex(hx)
        r = rows[i]
        assert r.endian == ("MM" if dig[0] % 2 else "II")
        endians.add(r.endian)
        assert r.make == "MK" + hx[4:10]
        assert r.orientation == 1 + dig[1] % 8
        assert (r.xres_num, r.xres_den) == (dig[2] * 256 + dig[3], 1 + dig[4])
        assert r.dt_original == "%04d:%02d:%02d %02d:%02d:%02d" % (
            2000 + dig[5] % 100, 1 + dig[6] % 12, 1 + dig[7] % 28,
            dig[8] % 24, dig[9] % 60, dig[10] % 60,
        )


def test_vidhash_dedup_finds_planted_near_dups_and_nothing_else(spark):
    """r12 perceptual video near-dup: every planted perturbed variant
    (saturating +1 on every 64th raw-frame byte, id = base + 100) must
    pair with its base within Hamming ≤ 6; unrelated videos share no
    16-bit band."""
    from pipetree_spark.ops import mm as MM
    from pyspark.sql import functions as F

    d = spark.createDataFrame(
        [(i, f"vidhash-test-doc-{i}") for i in range(8)], "doc_id long, text string"
    )
    frames = MM.video_frame_sample_stage(MM.make_avi_quad_payload(d, n_frames=16), every_n=1)
    variants = MM.rgb_perturb_stage(
        frames.withColumn("doc_id", F.col("doc_id") + 100), every=64, delta=1
    )
    lumas = MM.vid_block_luma_stage(frames.unionByName(variants))
    bands = MM.vid_tdhash_bands(lumas, n_frames=16)
    pairs = MM.dhash_hamming_pairs(bands, max_hamming=6).collect()
    got = {(r.doc_a, r.doc_b): r.hamming for r in pairs}
    assert set(got) == {(i, i + 100) for i in range(8)}, got
    assert all(h <= 6 for h in got.values())


def test_avi_quad_payload_roundtrips_jpeg_exactly(spark):
    """Quadrant-flat 16×16 frames keep all DCT energy in each block's
    DC coefficient, so the lossy MJPEG chain round-trips bit-exactly —
    decoded quadrant lumas equal the analytic 64·(77r+150g+29b) from
    the color definition."""
    import hashlib

    import numpy as np
    from pipetree_spark.ops import mm as MM

    d = spark.createDataFrame([(3, "quad-exact-check")], "doc_id long, text string")
    frames = MM.video_frame_sample_stage(MM.make_avi_quad_payload(d, n_frames=16), every_n=1)
    lumas = {
        (r.frame_idx, r.q): r.luma
        for r in MM.vid_block_luma_stage(frames).collect()
    }
    base = hashlib.sha256(b"aviq:" + b"quad-exact-check").hexdigest()
    for k in range(16):
        dig = hashlib.sha256(f"{base}:{k}".encode()).digest()
        for q in range(4):
            r, g, b = dig[3 * q], dig[3 * q + 1], dig[3 * q + 2]
            assert lumas[(k, q)] == 64 * (77 * r + 150 * g + 29 * b), (k, q)


def test_vid_tdhash_bands_rejects_wrong_frame_count(spark):
    from pipetree_spark.ops import mm as MM

    import pytest as _pytest

    with _pytest.raises(ValueError, match="n_frames must be 16"):
        MM.vid_tdhash_bands(None, n_frames=12)


def test_vid_temporal_ops_fail_loudly_on_sparse_frames(spark):
    """Sparse sampling (every_n > 1) must RAISE, not silently emit an
    empty fingerprint ('no duplicates found') — the modular next-frame
    join would match nothing."""
    import pytest as _pytest
    from pipetree_spark.ops import mm as MM

    d = spark.createDataFrame([(0, "sparse-guard")], "doc_id long, text string")
    sparse = MM.video_frame_sample_stage(
        MM.make_avi_quad_payload(d, n_frames=16), every_n=2
    )
    lumas = MM.vid_block_luma_stage(sparse)
    with _pytest.raises(Exception, match="contiguous frames"):
        MM.vid_tdhash_bands(lumas, n_frames=16).collect()
    with _pytest.raises(Exception, match="contiguous frames"):
        MM.vid_keyframes(lumas, n_frames=16).collect()


def test_bigram_lm_scores_hand_computed(spark):
    """r12 bigram-LM perplexity filter: hand-computed add-one-smoothed
    conditional probabilities on a 4-doc corpus where the model trains
    on even doc_ids. Model bigrams: (a,b)x3, (b,a), (b,c), (b,x) =>
    c1[a]=3, c1[b]=3, V=|{b,a,c,x}|=4."""
    from pipetree_spark.ops import text as TXO
    from pyspark.sql import functions as F

    docs = [
        (0, "a b a b c"),  # model: (a,b),(b,a),(a,b),(b,c)
        (2, "a b x"),      # model: (a,b),(b,x)
        (1, "a b q"),      # score-only: (a,b) seen, (b,q) unseen
        (3, "z"),          # no bigrams at all
    ]
    d = spark.createDataFrame(docs, "doc_id long, text string")
    out = {
        r.doc_id: (r.n_bigrams, r.n_unseen, r.sum_p9, r.mean_p)
        for r in TXO.bigram_lm_scores(d, F.col("doc_id") % 2 == 0).collect()
    }
    p_ab = round(1e9 * 4 / 7)   # (3+1)/(3+4) = 571428571
    p_b_ = round(1e9 * 2 / 7)   # (1+1)/(3+4) = 285714286
    p_unseen = round(1e9 * 1 / 7)  # (0+1)/(3+4) = 142857143
    assert out[0] == (4, 0, 2 * p_ab + 2 * p_b_, (2 * p_ab + 2 * p_b_) / 4 / 1e9)
    assert out[2] == (2, 0, p_ab + p_b_, (p_ab + p_b_) / 2 / 1e9)
    assert out[1] == (2, 1, p_ab + p_unseen, (p_ab + p_unseen) / 2 / 1e9)
    assert out[3] == (0, 0, 0, None)


def test_dup_span_strip_removes_planted_span_everywhere(spark):
    """r12 substring-dedup removal: the planted 12-token cross-doc
    span is cut from BOTH docs (ExactSubstr removes all copies), the
    surrounding unique text survives in order, and clean docs pass
    through untouched."""
    from pipetree_spark.ops import text as TXO

    span = "s0 s1 s2 s3 s4 s5 s6 s7 s8 s9 s10 s11"
    docs = [
        (0, "u0 u1 u2 " + span + " t0 t1"),
        (1, span + " v0 v1 v2 v3"),
        (2, "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9"),
    ]
    d = spark.createDataFrame(docs, "doc_id long, text string")
    out = {
        r.doc_id: (r.n_kept, r.n_dropped, r.clean_text)
        for r in TXO.dup_span_strip(d, k=8).collect()
    }
    assert out[0] == (5, 12, "u0 u1 u2 t0 t1")
    assert out[1] == (4, 12, "v0 v1 v2 v3")
    assert out[2] == (10, 0, "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9")


def test_dup_span_strip_fully_duplicated_doc_empties(spark):
    """A doc that IS a duplicated span strips to the empty string
    (n_kept = 0) rather than vanishing from the output."""
    from pipetree_spark.ops import text as TXO

    span = "a b c d e f g h"
    docs = [(0, span), (1, span), (2, "x " + span + " y")]
    d = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r.doc_id: (r.n_kept, r.clean_text) for r in TXO.dup_span_strip(d, k=8).collect()}
    assert out[0] == (0, "")
    assert out[1] == (0, "")
    assert out[2] == (2, "x y")


def test_nb_classify_separates_planted_vocabularies(spark):
    """r12 NB classifier: two disjoint planted vocabularies train on
    the even split and classify the odd split correctly; ties break
    (score DESC, label ASC) deterministically."""
    from pipetree_spark.ops import text as TXO
    from pyspark.sql import functions as F

    docs = [
        (0, "en", "the cat sat on the mat"),
        (2, "en", "the dog and the cat"),
        (4, "de", "der hund und die katze"),
        (6, "de", "die katze sitzt auf der matte"),
        (1, "en", "the cat and the dog sat"),   # score-only
        (3, "de", "der hund und die matte"),    # score-only
        (5, "en", "zz qq xx"),                  # all-OOV: falls back to prior
    ]
    d = spark.createDataFrame(docs, "doc_id long, lang string, text string")
    out = {
        r.doc_id: (r.true_label, r.pred_label, r.is_correct)
        for r in TXO.nb_classify(d, F.col("doc_id") % 2 == 0).collect()
    }
    assert out[1] == ("en", "en", 1)
    assert out[3] == ("de", "de", 1)
    # training rows classify themselves correctly too
    for i in (0, 2, 4, 6):
        assert out[i][2] == 1, (i, out[i])
    # all-OOV doc: every label scores prior + n_tok*ln(1/(cl+V));
    # en/de priors tie (2 docs each) but en's cl+V is smaller or equal;
    # just assert determinism of the emitted argmax
    assert out[5][1] in ("de", "en")


def test_nb_classify_zero_token_label_still_pays_smoothing(spark):
    """A label whose training docs have NO tokens must be charged the
    Laplace floor ln(1/(0+V)) per token like any other label — not
    silently scored prior-only, which would make it win argmax for
    every multi-token document."""
    import math

    from pipetree_spark.ops import text as TXO

    docs = [
        (0, "en", "the cat sat on the mat here now"),
        (2, "xx", ""),                       # zero-token training label
        (1, "en", "the cat sat on the mat"),  # score-only
    ]
    d = spark.createDataFrame(docs, "doc_id long, lang string, text string")
    rows = {r.doc_id: r for r in TXO.nb_classify(d, F.col("doc_id") % 2 == 0).collect()}
    # en model: 8 tokens, V=7; priors 1/2 each. Doc 1 has 6 tokens, all seen.
    assert rows[1].pred_label == "en", rows[1].asDict()

    def pin(p):
        return round(math.log(p) * 10000)

    xx_score = pin(0.5) + 6 * pin(1.0 / 7)  # Laplace floor, V=7, cl=0
    assert rows[1].score4 > xx_score  # and en actually outranks it


def test_nb_classify_scores_are_exact_scaled_longs(spark):
    """The per-doc score is an exact integer: recompute doc 1's winning
    score by hand from the planted counts."""
    import math

    from pipetree_spark.ops import text as TXO
    from pyspark.sql import functions as F

    docs = [
        (0, "en", "a b a"),
        (2, "de", "x y"),
        (1, "en", "a b"),
    ]
    d = spark.createDataFrame(docs, "doc_id long, lang string, text string")
    rows = {r.doc_id: r for r in TXO.nb_classify(d, F.col("doc_id") % 2 == 0).collect()}
    # model: en: a:2 b:1 (cl=3), de: x:1 y:1 (cl=2); V=4; priors 1/2 each
    def pin(p):
        return round(math.log(p) * 10000)

    en_score = pin(0.5) + pin((2 + 1.0) / (3 + 4)) + pin((1 + 1.0) / (3 + 4))
    de_score = pin(0.5) + 2 * pin((0 + 1.0) / (2 + 4))
    assert rows[1].pred_label == ("en" if en_score >= de_score else "de")
    assert rows[1].score4 == max(en_score, de_score)


def test_dup_span_islands_finds_planted_cross_doc_span(spark):
    """r12 substring dedup: a 12-token span planted in two docs (at
    different offsets, different surroundings) is recovered in FULL as
    one maximal island in each doc; unique text yields no spans; two
    overlapping planted repeats merge into one span."""
    from pipetree_spark.ops import text as TXO

    span = "s0 s1 s2 s3 s4 s5 s6 s7 s8 s9 s10 s11"  # 12 tokens
    docs = [
        (0, "u0 u1 u2 " + span + " t0 t1"),          # span at tokens 3..14
        (1, span + " v0 v1 v2 v3"),                   # span at tokens 0..11
        (2, "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9"),        # clean
    ]
    d = spark.createDataFrame(docs, "doc_id long, text string")
    spans = {
        (r.doc_id): (r.span_start, r.span_end)
        for r in TXO.dup_span_islands(d, k=8).collect()
    }
    assert spans == {0: (3, 14), 1: (0, 11)}, spans

    stats = {r.doc_id: tuple(r)[1:] for r in TXO.dup_span_stats(d, k=8).collect()}
    # (n_tokens, n_dup_spans, n_dup_tokens, max_span_len)
    assert stats[0] == (17, 1, 12, 12)
    assert stats[1] == (16, 1, 12, 12)
    assert stats[2] == (10, 0, 0, 0)


def test_dup_span_islands_within_doc_and_adjacent_merge(spark):
    """Within-doc repetition counts (min_count is corpus-wide), and
    adjacent/overlapping duplicated windows merge into one island."""
    from pipetree_spark.ops import text as TXO

    rep = "r0 r1 r2 r3 r4 r5 r6 r7"  # exactly k=8 tokens
    d = spark.createDataFrame(
        [(0, rep + " x0 x1 " + rep)], "doc_id long, text string"
    )
    got = [
        (r.span_start, r.span_end)
        for r in TXO.dup_span_islands(d, k=8).orderBy("span_start").collect()
    ]
    # two copies at 0..7 and 10..17, separated by x0 x1 → two islands
    assert got == [(0, 7), (10, 17)], got


def test_html_extract_drops_boilerplate_keeps_content(spark):
    """r12 HTML extraction: nav/footer (pure links) drop, content
    paragraphs keep, script/style/head vanish, entities decode, and
    a mixed block keeps iff 2*link_chars <= text_chars."""
    from pipetree_spark.ops import text as TXO
    from pyspark.sql import functions as F

    html = (
        "<html><head><title>Ignore Me</title>"
        "<style>p{color:red}</style><script>if(1<2){alert('</p>')}</script></head>"
        "<body><div id=nav><a href=/>Home</a> <a href=/x>About us now</a></div>"
        "<p>The quick brown fox &amp; the lazy dog jumped over.</p>"
        "<div>Read <a href=/m>more</a> about foxes and dogs here today.</div>"
        "<div><a href=/t>Terms of service</a> ok</div>"
        "</body></html>"
    )
    d = spark.createDataFrame([(1, html)], "doc_id long, html string")
    r = TXO.html_extract_stage(d, "html", "doc_id").collect()[0]
    # nav: text 'Home About us now' (17) vs links 17 -> 34 > 17 dropped
    # p: no links -> kept;  mixed div: links 4, text 40 -> kept
    # terms div: text 'Terms of service ok' (19), links 16 -> 32 > 19 dropped
    assert r.extracted == (
        "The quick brown fox & the lazy dog jumped over. "
        "Read more about foxes and dogs here today."
    ), r.extracted
    assert r.n_blocks == 4 and r.n_kept_blocks == 2, (r.n_blocks, r.n_kept_blocks)
    assert "alert" not in r.extracted and "Ignore" not in r.extracted

    # degenerate: empty html and tag-only html produce zero blocks
    d2 = spark.createDataFrame(
        [(1, ""), (2, "<div></div><p></p>")], "doc_id long, html string"
    )
    rows = {x.doc_id: x for x in TXO.html_extract_stage(d2, "html", "doc_id").collect()}
    assert rows[1].extracted == "" and rows[1].n_blocks == 0
    assert rows[2].extracted == "" and rows[2].n_blocks == 0


def test_unigram_train_prefers_frequent_pieces(spark):
    """r12 unigram-LM trainer: on a corpus dominated by one 4-char
    word, the word itself becomes a piece and wins its own Viterbi
    segmentation (usage = its frequency); single-char coverage pieces
    survive with zero usage; probabilities are the exact Laplace
    ratios summing to 1 over the inventory."""
    from pipetree_spark.ops import text as TXO

    d = spark.createDataFrame(
        [(i, "abab abab abab cd") for i in range(5)], "doc_id long, text string"
    )
    rows = {r.piece: (r.n_used, r.prob) for r in TXO.unigram_train(d, n_rounds=2).collect()}
    assert rows["abab"][0] == 15          # 5 docs x 3 occurrences
    assert rows["cd"][0] == 5
    assert "a" in rows and "b" in rows    # coverage singles survive
    total = sum(u + 1 for u, _ in rows.values())
    for piece, (u, p) in rows.items():
        assert p == (u + 1) / total, piece


def test_unigram_best_seg_tiebreak_is_ascending_segstr():
    """Equal-probability alternatives resolve by ascending sep-joined
    segmentation string — the oracle's ORDER BY segstr ASC."""
    from pipetree_spark.ops.text import _unigram_best_seg, BPE_SEP

    # 'ab' -> ('ab') vs ('a','b'): give them EQUAL product scores
    probs = {"ab": 0.25, "a": 0.5, "b": 0.5}
    seg = _unigram_best_seg("ab", probs, 4, BPE_SEP)
    # 0.25 == 0.5*0.5 exactly in IEEE; sep+'a'+sep+'b' < sep+'ab' since sep < 'b'
    assert seg == BPE_SEP + "a" + BPE_SEP + "b"

    probs = {"ab": 0.26, "a": 0.5, "b": 0.5}
    assert _unigram_best_seg("ab", probs, 4, BPE_SEP) == BPE_SEP + "ab"


def test_unigram_train_max_vocab_caps_driver_state(spark):
    """r13 (the r12 verdict `weak`): max_vocab bounds the collected
    word-freq state like bpe_word_freqs — top-K by (freq DESC, word
    ASC). Capped at >= |vocab| the result is bit-identical to exact;
    capped below, the dropped long-tail word stops contributing usage."""
    from pipetree_spark.ops import text as TXO

    d = spark.createDataFrame(
        [(0, "aa aa aa bb bb zz")], "doc_id long, text string"
    )
    exact = {(r.piece, r.n_used, r.prob)
             for r in TXO.unigram_train(d, n_rounds=2).collect()}
    same = {(r.piece, r.n_used, r.prob)
            for r in TXO.unigram_train(d, n_rounds=2, max_vocab=10).collect()}
    assert exact == same
    capped = {r.piece: r.n_used
              for r in TXO.unigram_train(d, n_rounds=2, max_vocab=2).collect()}
    assert "z" not in capped              # 'zz' fell off the top-2 vocab
    assert capped["aa"] == 3 and capped["bb"] == 2


def test_unigram_encode_counts_pieces_and_oov(spark):
    """r13 unigram ENCODE: piece counts mirror the trainer's E-step
    segmentation per word; a probs dict missing a word's chars makes
    that word an explicit n_oov, never a silent zero."""
    from pipetree_spark.ops import text as TXO
    from pipetree_spark.ops.text import BPE_SEP, _unigram_best_seg

    d = spark.createDataFrame(
        [(0, "abab abab cd"), (1, "cd cd"), (2, "")],
        "doc_id long, text string",
    )
    trained = TXO.unigram_train(d, n_rounds=2)
    probs = {r.piece: r.prob for r in trained.collect()}
    got = {r.doc_id: (r.n_words, r.n_pieces, r.n_oov)
           for r in TXO.unigram_encode(d, probs).collect()}
    # doc 2 has no valid words -> dropped (bpe_apply contract)
    assert set(got) == {0, 1}
    for did, words in ((0, ["abab", "abab", "cd"]), (1, ["cd", "cd"])):
        want = sum(
            _unigram_best_seg(w, probs, 4, BPE_SEP).count(BPE_SEP) for w in words
        )
        assert got[did] == (len(words), want, 0)
    # OOV: drop every piece containing 'c' -> 'cd' has no path
    noc = {p: v for p, v in probs.items() if "c" not in p}
    got2 = {r.doc_id: (r.n_words, r.n_pieces, r.n_oov)
            for r in TXO.unigram_encode(d, noc).collect()}
    assert got2[1] == (2, 0, 2)
    assert got2[0][2] == 1                # one OOV word ('cd')


def test_warc_repeated_headers_preserved_and_conflicts_raise():
    """r12 ADVICE: legally repeatable headers (WARC-Concurrent-To,
    Set-Cookie) keep EVERY value in fields_all / http_headers_all;
    framing-critical fields repeated with conflicting values raise."""
    import pytest as _pytest
    from pipetree_spark.ops.warc import WarcFormatError, warc_parse

    http = b"HTTP/1.1 200 OK\r\nSet-Cookie: a=1\r\nSet-Cookie: b=2\r\n\r\nok"
    raw = (
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        b"WARC-Concurrent-To: <urn:a>\r\nWARC-Concurrent-To: <urn:b>\r\n"
        b"Content-Length: " + str(len(http)).encode() + b"\r\n\r\n" + http
    )
    rec = warc_parse(raw)[0]
    assert rec["fields_all"]["WARC-Concurrent-To"] == ["<urn:a>", "<urn:b>"]
    assert rec["fields"]["WARC-Concurrent-To"] == "<urn:b>"  # last-wins scalar
    assert rec["http_headers_all"]["Set-Cookie"] == ["a=1", "b=2"]
    with _pytest.raises(WarcFormatError):  # ambiguous framing is never a guess
        warc_parse(
            b"WARC/1.0\r\nContent-Length: 2\r\nContent-Length: 9\r\n\r\nok"
        )
    with _pytest.raises(WarcFormatError):  # ...nor a casing coin flip (r13)
        warc_parse(
            b"WARC/1.0\r\nContent-Length: 2\r\ncontent-length: 9\r\n\r\nok"
        )
    # header names are case-insensitive: lowercase framing fields work
    low = warc_parse(
        b"WARC/1.0\r\nwarc-type: response\r\ncontent-length: 21\r\n\r\n"
        b"HTTP/1.1 200 OK\r\n\r\nok"
    )[0]
    assert low["warc_type"] == "response" and low["http_status"] == 200


def test_warc_extract_body_charset_and_replacement(spark):
    """r12 ADVICE: body decode honors the Content-Type charset, maps
    undecodable bytes to U+FFFD instead of dying, keeps body_bytes as
    the RAW length, and types unknown charsets as WarcFormatError."""
    from pipetree_spark.ops import mm as MM
    from pipetree_spark.ops.warc import warc_build

    def archive(body: bytes, ctype: str) -> bytes:
        head = (
            f"HTTP/1.1 200 OK\r\nContent-Type: {ctype}\r\n"
            f"Content-Length: {len(body)}\r\n\r\n"
        ).encode("ascii")
        return warc_build([("response", {"WARC-Target-URI": "http://e/x"},
                            head + body)])

    rows = [
        (0, archive("caf\xe9".encode("latin-1"), 'text/html; charset="ISO-8859-1"')),
        (1, archive(b"ok\xff\xfebad", "text/html; charset=utf-8")),
        (2, archive(b"plain", "text/html")),
        # r13 review: real crawls use every casing and pad the '='
        (3, archive("d\xe9j\xe0".encode("latin-1"),
                    "text/html; Charset = iso-8859-1")),
    ]
    # lowercase HEADER NAME too (rfc 9110 case-insensitivity)
    lat = "caf\xe9".encode("latin-1")
    lohead = (
        f"HTTP/1.1 200 OK\r\ncontent-type: text/html; charset=latin-1\r\n"
        f"Content-Length: {len(lat)}\r\n\r\n"
    ).encode("ascii")
    rows.append((4, warc_build([("response", {"WARC-Target-URI": "http://e/y"},
                                 lohead + lat)])))
    d = spark.createDataFrame(rows, "doc_id long, content binary")
    got = {r.doc_id: r for r in MM.warc_extract_stage(d).collect()}
    assert got[0].body_html == "caf\xe9" and got[0].body_bytes == 4
    assert "�" in got[1].body_html and got[1].body_bytes == 7
    assert got[2].body_html == "plain"
    assert got[3].body_html == "d\xe9j\xe0"
    assert got[4].body_html == "caf\xe9"
    # any stdlib codec label works now (r13 review: windows-1252 et al.)
    wide = spark.createDataFrame(
        [(8, archive("€5".encode("windows-1252"), "text/html; charset=windows-1252"))],
        "doc_id long, content binary",
    )
    assert MM.warc_extract_stage(wide).collect()[0].body_html == "€5"
    bad = spark.createDataFrame(
        [(9, archive(b"x", "text/html; charset=x-no-such-codec"))],
        "doc_id long, content binary",
    )
    with pytest.raises(Exception) as ei:
        MM.warc_extract_stage(bad).collect()
    assert "unsupported body charset" in str(ei.value)


def test_mm_stages_honor_key_col_in_output(spark):
    """r12 ADVICE: stages that take key_col must emit THAT column, not
    a hardcoded doc_id."""
    from pipetree_spark.ops import mm as MM

    d = spark.createDataFrame(
        [(7, f"keyed {i}") for i in range(2)], "img_id long, text string"
    )
    warc = MM.make_warc_payload(d, key_col="img_id")
    out = MM.warc_extract_stage(warc, key_col="img_id")
    assert out.columns[0] == "img_id" and out.count() == 2
    rgb = MM.make_rgb_payload(d, key_col="img_id")
    bands = MM.dhash_bands_stage(rgb, key_col="img_id")
    assert bands.columns == ["img_id", "band_0", "band_1", "band_2", "band_3"]
    assert bands.count() == 2
    # r13 review: the remaining key_col stages honor it too
    feats = MM.rgb_feature_stage(rgb, key_col="img_id")
    assert feats.columns[0] == "img_id" and feats.count() == 2
    stats = MM.rgb_int_stats_stage(rgb, key_col="img_id")
    assert stats.columns[0] == "img_id" and stats.count() == 2
    cls = MM.classify_media_stage(rgb, key_col="img_id")
    assert cls.columns[0] == "img_id" and cls.count() == 2


def test_cc_amortized_check_converges_off_cycle(spark):
    """r12: convergence checks run every check_every rounds (plus the
    final round as the fixpoint assertion) — a graph converging
    between checkpoints must still converge, with identical labels to
    the per-round (check_every=1) behavior."""
    from pipetree_spark.ops.graph import connected_components

    # diameter-4 chain + a separate triangle
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (11, 12), (12, 10)],
        "src long, dst long",
    )
    for ck in (1, 3, 4, 7):
        got = {
            r.node: r.component
            for r in connected_components(edges, max_iter=25, check_every=ck).collect()
        }
        assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10, 12: 10}, ck
    # max_iter not a multiple of check_every: final-round assertion fires
    import pytest as _pt

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "src long, dst long"
    )
    with _pt.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=4, check_every=3, jump_after=None).collect()


def test_bm25_monotonicity_and_hand_value(spark):
    """BM25 sanity on a tiny corpus: rarer terms out-score common ones
    at equal tf/dl; higher tf raises the score; hand-computed value
    matches to the rounded digit."""
    import math

    from pipetree_spark.ops import text as TXO

    docs = [
        (0, "rare common common extra pad"),
        (1, "common common common common pad"),
        (2, "common pad pad pad pad"),
    ]
    d = spark.createDataFrame(docs, "doc_id long, text string")
    rows = {
        (r.doc_id, r.term): r
        for r in TXO.bm25_scores(d, ["rare", "common"]).collect()
    }
    # all docs have dl=5, avgdl=5 -> length factor is exactly 1
    # rare: df=1, N=3; common: df=3
    idf_rare = math.log(1.0 + (3 - 1 + 0.5) / 1.5)
    score_rare = round(idf_rare * ((1 * 2.2) / (1 + 1.2 * (1.0 - 0.75 + 0.75 * 1.0))), 4)
    assert rows[(0, "rare")].score == score_rare
    assert rows[(0, "rare")].score > rows[(0, "common")].score  # rarity wins
    assert rows[(1, "common")].score > rows[(2, "common")].score  # tf wins
    assert rows[(1, "common")].tf == 4 and rows[(1, "common")].dl == 5


def test_doc_lines_newline_and_chunk_modes(spark):
    """doc_lines splits real newlines when chunk is None (empty lines
    dropped) and falls back to ALIGNED word-chunks otherwise; the last
    chunk may be short; an empty doc yields no rows."""
    d = spark.createDataFrame(
        [
            (0, "nav bar\n\nbody text here\nfooter"),
            (1, ""),
        ],
        "doc_id long, text string",
    )
    rows = sorted(
        (r.doc_id, r.line_no, r.line, r.n_words)
        for r in TX.doc_lines(d).collect()
    )
    assert rows == [
        (0, 0, "nav bar", 2),
        (0, 1, "body text here", 3),
        (0, 2, "footer", 1),
    ]
    c = spark.createDataFrame(
        [(0, "a b c d e f g"), (1, "")], "doc_id long, text string"
    )
    rows = sorted(
        (r.doc_id, r.line_no, r.line, r.n_words)
        for r in TX.doc_lines(c, chunk=3).collect()
    )
    assert rows == [(0, 0, "a b c", 3), (0, 1, "d e f", 3), (0, 2, "g", 1)]


def test_line_dedup_stats_distinct_doc_criterion(spark):
    """The CCNet criterion is DISTINCT docs, not occurrences: a line
    repeated twice inside ONE doc is not boilerplate; a line shared by
    two docs is. Zero-fill covers unit-less docs."""
    d = spark.createDataFrame(
        [
            (0, "shared footer\nunique alpha\nshared footer"),
            (1, "shared footer\nunique beta"),
            (2, "only here"),
            (3, ""),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r for r in TX.line_dedup_stats(d, chunk=None).collect()
    }
    # 'shared footer' is in docs 0 AND 1 -> boilerplate (even though it
    # repeats within doc 0, that alone would NOT qualify it)
    assert (out[0].n_lines, out[0].n_dup_lines) == (3, 2)
    assert out[0].n_kept_words == 2  # only 'unique alpha'
    assert (out[1].n_lines, out[1].n_dup_lines) == (2, 1)
    assert (out[2].n_lines, out[2].n_dup_lines) == (1, 0)
    assert (out[3].n_lines, out[3].n_dup_lines, out[3].n_words) == (0, 0, 0)


def test_topn_ranked_total_order_and_cut(spark):
    """Ties on score break by ascending key; the cut keeps exactly n."""
    from pipetree_spark.ops import retrieval as RT

    d = spark.createDataFrame(
        [(10, 1.0), (11, 2.0), (12, 2.0), (13, 0.5)],
        "k long, s double",
    )
    rows = [(r.k, r.rnk) for r in RT.topn_ranked(d, "s", "k", n=3).orderBy("rnk").collect()]
    assert rows == [(11, 1), (12, 2), (10, 3)]


def test_rrf_fuse_hand_values_and_null_ranks(spark):
    """RRF on two 2-element lists with partial overlap: the fused
    score is exactly 1/(60+r1)+1/(60+r2); keys on one list only keep a
    NULL rank for the other side and contribute a single term."""
    from pipetree_spark.ops import retrieval as RT

    a = spark.createDataFrame([(1, 1), (2, 2)], "k long, rnk long")
    b = spark.createDataFrame([(2, 1), (3, 2)], "k long, rnk long")
    out = {r.k: r for r in RT.rrf_fuse([("ra", a), ("rb", b)], "k").collect()}
    assert out[2].rrf_score == 1.0 / 62 + 1.0 / 61
    assert out[1].rrf_score == 1.0 / 61 and out[1].rb is None
    assert out[3].rrf_score == 1.0 / 62 and out[3].ra is None
    # doc 2 (on both lists) must out-rank the single-list docs
    assert out[2].rnk == 1


def test_line_dedup_strip_rebuilds_in_order(spark):
    """Removal rebuilds the text from surviving lines IN ORDER; an
    all-boilerplate doc survives as an empty clean_text row."""
    d = spark.createDataFrame(
        [
            (0, "shared footer\nunique alpha\nshared footer"),
            (1, "unique beta\nshared footer"),
            (2, "shared footer"),
            (3, ""),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in TX.line_dedup_strip(d, chunk=None).collect()}
    assert (out[0].n_lines, out[0].n_kept_lines, out[0].clean_text) == (
        3, 1, "unique alpha"
    )
    assert out[1].clean_text == "unique beta"
    assert (out[2].n_lines, out[2].n_kept_lines, out[2].clean_text) == (1, 0, "")
    assert (out[3].n_lines, out[3].clean_text) == (0, "")


def test_bm25_empty_and_duplicate_terms(spark):
    """Degenerate term lists: [] returns an empty frame with the
    contract schema (not IndexError); duplicates collapse to one row
    per distinct (doc, term)."""
    d = spark.createDataFrame(
        [(0, "a b a"), (1, "b c")], "doc_id long, text string"
    )
    empty = TX.bm25_scores(d, [])
    assert empty.columns == ["doc_id", "term", "tf", "dl", "score"]
    assert empty.count() == 0
    rows = TX.bm25_scores(d, ["a", "a"]).collect()
    assert [(r.doc_id, r.term, r.tf) for r in rows] == [(0, "a", 2)]


def test_rrf_fuse_honors_rank_col(spark):
    """rank_col names BOTH the input rank read and the fused output."""
    from pipetree_spark.ops import retrieval as RT

    a = spark.createDataFrame([(1, 1.0)], "k long, s double")
    ra = RT.topn_ranked(a, "s", "k", n=5, rank_col="position")
    out = RT.rrf_fuse([("r_a", ra)], "k", rank_col="position").collect()
    assert out[0].position == 1 and out[0].r_a == 1


def test_nfc_stage_composes_decomposed_and_passes_ascii(spark):
    """nfc_stage: decomposed sequences compose (char count shrinks,
    changed=1), already-NFC text passes through unchanged, NULL stays
    NULL with changed=0."""
    d = spark.createDataFrame(
        [
            (0, "caf" + "é"),   # decomposed -> café (5 -> 4 chars)
            (1, "café"),          # precomposed, already NFC
            (2, "plain"),
            (3, None),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in TX.nfc_stage(d).collect()}
    assert out[0].nfc == "caf\u00e9"
    assert (out[0].changed, out[0].n_chars_before, out[0].n_chars_after) == (1, 5, 4)
    assert (out[1].changed, out[1].nfc) == (0, "caf\u00e9")
    assert (out[2].changed, out[2].nfc) == (0, "plain")
    assert out[3].nfc is None and out[3].changed == 0


def test_compression_ratio_orders_repetitive_below_prose_below_noise(spark):
    """The DEFLATE quality signal must order: repetitive boilerplate
    << normal prose << high-entropy noise; empty/None rows emit zeros
    and never divide-by-zero."""
    import random

    rng = random.Random(7)
    noise = "".join(rng.choice("abcdefghijklmnopqrstuvwxyz0123456789") for _ in range(400))
    prose = (
        "the quick brown fox jumps over the lazy dog while spark "
        "aggregates partitions and the window ranks every customer "
        "order by revenue within each market segment carefully "
    ) * 3
    rep = "spam " * 120
    d = spark.createDataFrame(
        [(0, rep), (1, prose), (2, noise), (3, ""), (4, None)],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in TX.compression_ratio_stage(d).collect()}
    assert out[0].ratio_permille < out[1].ratio_permille < out[2].ratio_permille
    assert out[0].ratio_permille < 100          # 'spam '*120 collapses
    assert out[2].ratio_permille > 600          # noise barely compresses
    for k in (3, 4):
        assert (out[k].n_bytes_raw, out[k].n_bytes_gz, out[k].ratio_permille) == (0, 0, 0)
    assert out[1].n_bytes_raw == len(prose.encode())


def test_segment_text_cjk_per_char_units(spark):
    """cjk_chars: every Han/Kana/Hangul/Thai codepoint becomes its own
    unit; Latin words and the whitespace default stay untouched."""
    from pyspark.sql import functions as F

    from pipetree_spark.ops.text import (
        segment_text,
        tokens,
        word_count,
        word_ngrams,
        word_shingles,
    )

    rows = [
        (1, "Spark引擎は速い engine"),   # latin+han+kana+latin
        (2, "한국어 ไทย"),        # hangul + thai
        (3, "plain latin words only"),
        (4, ""),
    ]
    df = spark.createDataFrame(rows, "id long, t string")
    out = {
        r.id: r
        for r in df.select(
            "id",
            segment_text("t", "cjk_chars").alias("seg"),
            word_count("t").alias("ws"),
            word_count("t", "cjk_chars").alias("units"),
            F.size(word_ngrams("t", 2, "cjk_chars")).alias("n2"),
            word_shingles("t", 3, "cjk_chars").alias("sh"),
        ).collect()
    }
    assert out[1].seg == "Spark 引 擎 は 速 い engine"
    assert (out[1].ws, out[1].units) == (2, 7)
    assert out[1].n2 == 6
    assert out[2].seg == "한 국 어 ไ ท ย"
    assert out[2].units == 6
    # Latin-only control: segmentation is the identity
    assert out[3].seg == "plain latin words only"
    assert out[3].ws == out[3].units == 4
    assert out[4].units == 0
    # per-char trigram shingles exist for the CJK run
    assert "引 擎 は" in out[1].sh

    # unknown segmenter fails loudly
    import pytest as _pytest

    with _pytest.raises(ValueError):
        segment_text("t", "jieba")
    # default is byte-identical to the pre-r14 splitter
    a = df.select(tokens("t").alias("w")).collect()
    b = df.select(F.split("t", " ").alias("w")).collect()
    assert a == b


def test_bpe_word_freqs_cjk_segmenter_trains_per_char(spark):
    """bpe_word_freqs(segmenter='cjk_chars'): a no-space CJK document
    collapses to per-char vocabulary entries, not one giant word."""
    from pipetree_spark.ops.text import bpe_word_freqs

    df = spark.createDataFrame(
        [("数据数据 ok",)], "text string"
    )
    naive = bpe_word_freqs(df)
    seg = bpe_word_freqs(df, segmenter="cjk_chars")
    assert "数据数据" in naive
    assert seg == {"数": 2, "据": 2, "ok": 1}


def test_cjk_segmenter_threads_through_minhash_and_features(spark):
    """The segmenter reaches the shingle-derived ops: per-char shingles
    give a CJK near-dup pair a real MinHash overlap where whitespace
    shingling sees two unrelated one-word docs."""
    from pipetree_spark.ops.text import (
        fingerprint,
        minhash_signatures,
        repetition_features,
    )

    rows = [
        (1, "机器学习模型训练数据管道"),
        (2, "机器学习模型训练数据引擎"),   # near-dup of 1 (2-char suffix change)
        (3, "completely different latin text here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sig = {
        r.doc_id: tuple(r.minhash)
        for r in minhash_signatures(df, segmenter="cjk_chars").collect()
    }
    overlap = sum(a == b for a, b in zip(sig[1], sig[2]))
    assert overlap >= 8  # ~10/12 shingles shared -> most components agree
    # whitespace mode: one giant word each -> whole-text fallback
    # shingle, zero overlap
    sig_ws = {
        r.doc_id: tuple(r.minhash) for r in minhash_signatures(df).collect()
    }
    assert sum(a == b for a, b in zip(sig_ws[1], sig_ws[2])) == 0
    # fingerprint: equal for docs sharing their min shingle only under
    # per-char segmentation semantics (smoke: runs and differs from ws)
    fp = df.select(fingerprint("text", 3, "cjk_chars").alias("f")).collect()
    assert all(r.f is not None for r in fp)
    # repetition features see per-char bigrams on a repetitive CJK doc
    rep = repetition_features(
        spark.createDataFrame([(9, "好好好好好好好好")], "doc_id long, text string"),
        ns=(2,),
        segmenter="cjk_chars",
    ).collect()[0]
    assert rep.n2_total == 7 and rep.n2_distinct == 1


def test_script_profile_routes_languages(spark):
    """script_profile: per-script codepoint counts and the routed
    label on unambiguous single-script and mixed rows."""
    from pipetree_spark.ops.text import script_profile

    rows = [
        (1, "机器学习训练数据"),          # pure hanzi -> zh
        (2, "高速処理エンジンです"),  # kanji+kana -> ja (kana >= 10%)
        (3, "데이터 엔진 테스트"),            # hangul -> ko
        (4, "ภาษาไทยทดสอบ"),  # thai -> th
        (5, "plain english text"),
        (6, "mixed 数据 with mostly english words here"),  # latin-dominant
        # r14 self-review: unlisted scripts must never misroute to a
        # CJK segmenter off one stray hanzi (n_latin is 0 here)
        (7, "Это тест производительности 中"),
        (8, ""),
        # r15: the SEA no-space scripts routed by name, not 'other'
        (9, "ພາສາລາວຂອງພວກເຮົາ"),           # lao -> lo
        (10, "ភាសាខ្មែរនៅកម្ពុជា"),             # khmer -> km
        (11, "မြန်မာဘာသာစကား"),            # myanmar -> my
        (12, "བོད་ཀྱི་སྐད་ཡིག"),                   # tibetan -> bo
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in script_profile(df).collect()}
    assert out[1].script_lang == "zh" and out[1].n_han == 8
    assert out[2].script_lang == "ja" and out[2].n_kana > 0
    assert out[3].script_lang == "ko" and out[3].n_hangul > 0
    assert out[4].script_lang == "th"
    assert out[5].script_lang == "latin" and out[5].n_latin == 16
    assert out[6].script_lang == "latin" and out[6].n_han == 2
    assert out[7].script_lang == "other" and out[7].n_han == 1
    assert out[8].script_lang == "other" and out[8].n_chars == 0
    assert out[9].script_lang == "lo" and out[9].n_lao == out[9].n_chars
    assert out[10].script_lang == "km" and out[10].n_khmer == out[10].n_chars
    assert out[11].script_lang == "my" and out[11].n_myanmar == out[11].n_chars
    assert out[12].script_lang == "bo" and out[12].n_tibetan == out[12].n_chars


def test_langid_cjk_accuracy_on_real_sentences(spark):
    """The r14 single-codepoint CJK profiles + per-char segmentation
    route real zh/ja/ko sentences to their languages; Latin text still
    routes through the word profiles."""
    from pipetree_spark.ops.text import lang_id_scores

    rows = [
        (1, "这是我的数据管道测试"),
        (2, "これはデータの処理が速い"),
        (3, "이것은데이터를처리한다"),
        (4, "the quick brown fox and the lazy dog"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r.lang_pred
        for r in lang_id_scores(df, segmenter="cjk_chars").collect()
    }
    assert out == {1: "zh", 2: "ja", 3: "ko", 4: "en"}


def test_checkpoint_scope_releases_what_it_pinned(spark, sf_small):
    """checkpoint_scope frees exactly the RDDs pinned inside it:
    Dataset.unpersist() is a silent no-op for localCheckpoint state, so
    the scope must really drop bm25's pinned stats frame, leave outer
    and earlier pins alone, and bring a checkpoint-heavy query back to
    the start count on every rerun. Pins are compared by id, so a GC
    that frees an unrelated older frame mid-test cannot fail it."""
    from pipetree_spark.ops.relational import checkpoint_scope
    from pipetree_spark.ops.text import bm25_scores
    from pipetree_spark.queries import load_registry

    def pinned_since(ids: set) -> set:
        return set(spark._jsc.getPersistentRDDs().keys()) - ids

    df = spark.createDataFrame(
        [(1, "spark engine"), (2, "spark table")], "doc_id long, text string"
    )
    # (a) rows equal to an unscoped call; the pinned stats frame is freed
    unscoped = sorted(bm25_scores(df, ["spark"]).collect())
    start = pinned_since(set())
    with checkpoint_scope(spark):
        scoped = sorted(bm25_scores(df, ["spark"]).collect())
        assert len(pinned_since(start)) == 1
    assert scoped == unscoped
    assert not pinned_since(start)
    # (b) nested scopes: the inner one frees only what it pinned
    with checkpoint_scope(spark):
        outer = df.localCheckpoint(eager=True)
        kept = pinned_since(start)
        with checkpoint_scope(spark):
            df.localCheckpoint(eager=True)
            assert len(pinned_since(start)) == 2
        assert pinned_since(start) == kept
        assert sorted(outer.collect()) == sorted(df.collect())
    assert not pinned_since(start)
    # (c) a frame checkpointed before the scope survives it
    early = df.localCheckpoint(eager=True)
    with checkpoint_scope(spark):
        bm25_scores(df, ["spark"]).collect()
    assert sorted(early.collect()) == sorted(df.collect())
    # (d) a checkpoint-heavy query returns to the start count every rep
    fn = load_registry()["q_graph_pagerank"].fn
    for _ in range(2):
        base = pinned_since(set())
        with checkpoint_scope(spark):
            assert fn(spark, sf_small).collect()
            assert pinned_since(base)
        assert not pinned_since(base)


def test_rrf_fuse_rejects_colliding_and_duplicate_names(spark):
    import pytest as _pytest

    from pipetree_spark.ops.retrieval import rrf_fuse

    df = spark.createDataFrame([(1, 1)], "doc_id long, rnk long")
    with _pytest.raises(ValueError, match="collisions"):
        rrf_fuse([("rrf_score", df)], "doc_id")
    with _pytest.raises(ValueError, match="duplicates"):
        rrf_fuse([("r_a", df), ("r_a", df)], "doc_id")


def test_doc_lines_sentence_unit(spark):
    """unit='sentence': terminal-punct+space and newline boundaries,
    punctuation kept with its sentence, unknown unit raises."""
    import pytest as _pytest

    from pipetree_spark.ops.text import doc_lines, line_dedup_strip

    df = spark.createDataFrame(
        [(1, "first one. second two!  third\nfourth? last")],
        "doc_id long, text string",
    )
    rows = doc_lines(df, unit="sentence").orderBy("line_no").collect()
    assert [r.line for r in rows] == [
        "first one.", "second two!", "third", "fourth?", "last",
    ]
    assert [r.n_words for r in rows] == [2, 2, 1, 1, 1]
    with _pytest.raises(ValueError, match="unknown unit"):
        doc_lines(df, unit="paragraph")
    # r14 ADVICE: chunk= used to be silently ignored by the sentence
    # branch — conflicting unit requests now raise instead
    with _pytest.raises(ValueError, match="mutually"):
        doc_lines(df, chunk=16, unit="sentence")
    # r15: abbreviation-aware splitting — protected dots never end a
    # sentence, the sentinel restores to '.', naive mode unchanged
    ab = spark.createDataFrame(
        [(1, "Dr. Smith met Mr. Jones. they spoke. see e.g. the notes")],
        "doc_id long, text string",
    )
    abbrevs = ("Dr.", "Mr.", "e.g.")
    got = [
        r.line
        for r in doc_lines(ab, unit="sentence", abbrevs=abbrevs)
        .orderBy("line_no")
        .collect()
    ]
    assert got == [
        "Dr. Smith met Mr. Jones.", "they spoke.", "see e.g. the notes",
    ]
    with _pytest.raises(ValueError, match="sentence"):
        doc_lines(ab, abbrevs=abbrevs)  # line mode rejects abbrevs
    with _pytest.raises(ValueError, match="invalid abbreviation"):
        doc_lines(ab, unit="sentence", abbrevs=("nodot",))
    with _pytest.raises(ValueError, match="invalid abbreviation"):
        doc_lines(ab, unit="sentence", abbrevs=("two words.",))
    # vertical tab is a sentence-boundary whitespace char like any
    # other Java \s member (the r14 ADVICE \x0B dialect fix keeps the
    # RE2 oracle in agreement — see the cross-engine property test)
    vt = spark.createDataFrame(
        [(1, "alpha one.\x0Bbeta two.")], "doc_id long, text string"
    )
    assert [
        r.line for r in doc_lines(vt, unit="sentence").orderBy("line_no").collect()
    ] == ["alpha one.", "beta two."]

    # strip at the sentence tier rebuilds space-joined
    two = spark.createDataFrame(
        [(1, "shared tagline here. unique alpha."),
         (2, "shared tagline here. unique beta.")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in line_dedup_strip(two, unit="sentence").collect()}
    assert out[1].clean_text == "unique alpha."
    assert out[2].clean_text == "unique beta."
    assert out[1].n_lines == 2 and out[1].n_kept_lines == 1


def test_blocklist_stage_word_boundaries_and_escaping(spark):
    """blocklist_stage: whole-word semantics, case-insensitivity,
    leftmost first_hit, regex metacharacters in terms are literal, and
    an empty list raises."""
    import pytest as _pytest

    from pipetree_spark.ops.text import blocklist_stage

    rows = [
        (1, "the CASINO opened"),
        (2, "casinos are plural"),          # boundary: no hit
        (3, "win free spins and a jackpot"),
        (4, "clean document"),
        (5, "price is 3.50 total"),          # term '3.50': dot is literal
        (6, "price is 3x50 total"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r
        for r in blocklist_stage(df, ("casino", "jackpot", "free spins")).collect()
    }
    assert (out[1].n_hits, out[1].first_hit, out[1].flagged) == (1, "casino", 1)
    assert out[2].n_hits == 0 and out[2].first_hit == ""
    assert out[3].n_hits == 2 and out[3].first_hit == "free spins"
    assert out[4].flagged == 0
    dot = {r.doc_id: r for r in blocklist_stage(df, ("3.50",)).collect()}
    assert dot[5].n_hits == 1 and dot[6].n_hits == 0  # '.' stays literal
    with _pytest.raises(ValueError, match="non-empty"):
        blocklist_stage(df, ())


def test_dict_segment_mm_semantics(spark):
    """dict_segment_stage: greedy LEFTMOST-LONGEST maximum matching —
    longest word wins at a position, an earlier match beats a longer
    later overlap, real spaces are respected (no cross-space merging),
    unmatched no-space chars fall back per-codepoint, Latin/unlisted
    scripts stay whitespace runs, and the pass is idempotent."""
    import pytest as _pytest

    from pipetree_spark.ops.text import dict_segment_stage

    rows = [
        (1, "数据"),                 # longest-at-position: 数据 beats 数
        (2, "数据管道"),         # leftmost beats the 据管 overlap
        (3, "数 据"),               # real space: never merged
        (4, "abc数据def"),       # latin adjacency
        (5, "Это 数据库"),      # unlisted script run + partial fallback
        (6, "  a\t数  "),           # whitespace collapse + trim
        (7, ""),
    ]
    lex = ("数据", "数", "据管")
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r.text
        for r in dict_segment_stage(df, lex).collect()
    }
    assert out[1] == "数据"
    assert out[2] == "数据 管 道"
    assert out[3] == "数 据"
    assert out[4] == "abc 数据 def"
    assert out[5] == "Это 数据 库"
    assert out[6] == "a 数"
    assert out[7] == ""
    # idempotent: segmenting segmented text is a fixpoint
    seg2 = {
        r.doc_id: r.text
        for r in dict_segment_stage(
            dict_segment_stage(df, lex), lex
        ).collect()
    }
    assert seg2 == out
    with _pytest.raises(ValueError, match="non-empty"):
        dict_segment_stage(df, ())
    with _pytest.raises(ValueError, match="invalid lexicon word"):
        dict_segment_stage(df, ("数 据",))
    with _pytest.raises(ValueError, match="invalid lexicon word"):
        dict_segment_stage(df, ("a\x02b",))


def test_dict_segment_cross_engine(spark):
    """The Python MM core and the generated guard-regex DuckDB twin
    agree byte-for-byte on the MM edge cases (the q_text_cjk_segment_
    dict oracle construction, exercised off the planted corpus)."""
    import duckdb
    import pandas as pd

    from pipetree_spark.ops.text import dict_segment_sql, dict_segment_stage

    rows = [
        (1, "数据管道加速"),
        (2, "高速処理エンジン"),
        (3, "데이터엔진 테스트"),
        (4, "ภาษาไทย and ພາສາລາວ"),
        (5, "数 据 vs 数据 vs x数据y"),
        (6, "​mixed\twhitespace\x0bhere 数"),
        (7, ""),
    ]
    lex = ("数据", "管道", "高速", "エンジン", "데이터", "엔진", "ภาษา", "ไทย", "ພາສາ")
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: r.text for r in dict_segment_stage(df, lex).collect()
    }
    con = duckdb.connect()
    con.register("t", pd.DataFrame(rows, columns=["doc_id", "text"]))
    want = dict(
        con.execute(
            f"SELECT doc_id, {dict_segment_sql('text', lex)} FROM t"
        ).fetchall()
    )
    assert got == want


def test_blocklist_apostrophe_term_cross_engine(spark):
    """r14 ADVICE (medium): a term containing an apostrophe (common in
    LDNOOBW-style lists) must neither break blocklist_stage nor
    generate malformed/injectable SQL in blocklist_sql — the ' is
    doubled for the SQL literal and stays a literal char in the
    regex. Verified by running the generated SQL in DuckDB and
    matching the Spark stage row-for-row."""
    import duckdb
    import pandas as pd

    from pipetree_spark.ops.text import blocklist_sql, blocklist_stage

    rows = [
        (1, "well don't do that"),
        (2, "donty dont don t"),          # boundary: no whole-word hit
        (3, "she said DON'T twice: don't"),
        (4, "clean document"),
    ]
    terms = ("don't", "o'reilly's")
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_hits, r.first_hit, r.flagged)
        for r in blocklist_stage(df, terms).collect()
    }
    assert got[1] == (1, "don't", 1)
    assert got[2] == (0, "", 0)
    assert got[3] == (2, "don't", 1)
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    want = {
        r[0]: (r[1], r[2], r[3])
        for r in con.execute(blocklist_sql(terms)).fetchall()
    }
    assert got == want
