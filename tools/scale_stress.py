"""Scale-stress harness: does each hot plan hold at 10× the data?

Synthesizes an sf1-equivalent dataset in /tmp by replicating the sf0.1
fact tables 10× with key offsets (dims stay fixed — at 100 TB dims are
still broadcast-sized), then times representative queries at both
scales. The verdict is the RUNTIME RATIO: a plan that holds scales
~linearly (ratio ≈ 10 at worst, much less while fixed JVM/scheduling
overhead dominates); a hidden quadratic or a skew collapse shows up as a
ratio ≫ 10. Results are recorded in SCALING.md.

Usage: python tools/scale_stress.py [--skip-gen]
"""

from __future__ import annotations

import argparse
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from pipetree_spark.catalog import TABLES  # noqa: E402
from pipetree_spark.queries import load_registry  # noqa: E402
from pipetree_spark.session import get_spark  # noqa: E402

SRC = "/root/testdata/sf0.1"
DST = "/tmp/pipetree_spark_sfstress"
COPIES = 10

#: table → (unique key columns to offset, FK columns tied to another
#: replicated fact's key). Dims and the doc/embedding corpora replicate
#: with key offsets too; dims (region/nation/customer/supplier/part)
#: stay fixed.
REPLICATED = {
    "orders": {"offset": ["o_orderkey"], "fixed_fk": ["o_custkey"]},
    "lineitem": {"offset": ["l_orderkey"], "fixed_fk": ["l_partkey", "l_suppkey"]},
    "events": {"offset": ["event_id"], "fixed_fk": ["user_id"]},
    "documents": {"offset": ["doc_id"], "fixed_fk": []},
    "embeddings": {"offset": ["vec_id"], "fixed_fk": []},
}

QUERIES = [
    "q_agg_groupby",       # scan+filter+group (flagship)
    "q_join_3way",         # fact⋈fact⋈dims + agg pushdown
    "q_topk_global",       # TakeOrderedAndProject
    "q_agg_distinct_global",
    "q_stream_tumbling",   # windowed event rollup
    "q_dedup_exact",       # hash dedup over documents
    "q_dedup_near",        # inverted-index Jaccard pairs
    "q_dedup_substring",   # r12: k-gram span islands, 3 keyed shuffles
    "q_dedup_substring_rm",  # r12: island marking + interval anti-join rewrite
    "q_dedup_minhash_band",  # LSH banding + collapse_exact flood guard (r4)
    "q_dedup_near_lsh",    # r5: THE production path (banding + exact verify)
    "q_dedup_cc",          # r5: iterative min-label propagation (graph op)
    "q_vec_cosine_knn",    # brute-force kNN (broadcast query side)
    "q_text_tfidf",        # explode + two shuffles + window
    "q_text_bm25",         # r12: explode + tf groupBy + broadcast df/corpus
    "q_tpch_q5",           # six-way join
    "q_vec_kmeans_port",   # portable Lloyd (r3): broadcast centroids + dim shuffle
    "q_vec_pca_port",      # portable power iteration (r3): narrow dot + dim shuffle
    "q_text_chunk",        # r6: sliding-window chunking (no shuffle — must be ~flat)
    "q_text_shuffle_shard",  # r6: deterministic shuffle (window per shard)
    "q_dedup_semantic",    # r6: embcos pairs → CC → keeper (label-block join)
    "q_dedup_semantic_ann",  # r7: same, block = portable-IVF quantizer cell
    "q_vec_decontam",      # r6: broadcast eval split × train cosine
    "q_text_unigram_lm",   # r6: broadcast-vocab corpus-LM scoring
    "q_text_ppl_bigram",   # r12: reference-split bigram LM, broadcast model joins
    "q_text_nb_classify",  # r12: NB classifier, broadcast model + argmax window
    "q_text_url_canon",    # r12: pure per-row regex/HOF normalization — must be ~flat
    "q_text_ngram_top",    # r6: (lang, gram) map-side-combined counts
    "q_dedup_incremental", # r6: broadcast-increment vs streaming corpus
    "q_ts_sessionize",     # r6: gaps-and-islands, one user_id exchange
    "q_ts_anomaly",        # r6: rolling-z window moments
    "q_ts_ewma",           # r12: per-user fold, one user_id shuffle
    "q_dedup_cluster_lsh", # r6: THE production clustered dedup e2e (capped pairs → CC)
    "q_agg_moments",       # r6: three exact-decimal moments in one agg pass
    "q_join_salted",       # r6: salted shuffle-hash skew join
    "q_win_ignorenulls",   # r6: IGNORE-NULLS carry-forward window
    "q_pipe_expect",       # r6: expectation suite (one agg pass + 2 set rules)
    "q_vec_pq_codes",      # r8: PQ fit (per-subspace Lloyd, codes frame)
    "q_vec_pq_adc",        # r8: PQ asymmetric-distance top-k scan
    "q_vec_ann_pq_ivf",    # r8: IVF probe -> ADC shortlist -> exact rerank (IVF-PQ e2e)
    "q_vec_ann_ivfpq_res", # r8: residual-encoded IVF-PQ (FAISS IndexIVFPQ layout)
    "q_text_decontam_pairs",  # r8: pair-attributed n-gram decontam (broadcast eval grams)
    "q_text_decontam_bloom",  # r9: bitmap-prefiltered exact decontam (must track q_text_decontam)
    "q_agg_incremental",   # r9: partial-merge MV maintenance (merge is |groups|-sized)
    "q_graph_pagerank",    # r9: integer PageRank, one |edges| shuffle per iteration
    "q_agg_hll",           # r9: 64-register HLL — map-side combine, must be ~flat
    "q_graph_triangles",   # r9: degree-oriented wedge join — wedges must stay ~linear
    "q_join_range_binned", # r9: keyless interval join via bucket equi-rewrite
    "q_table_fingerprint", # r9: one map-combined hash-sum pass — must scale with the scan
    "q_table_diff",        # r9: (key, hash) full-outer diff — one shuffle join
    "q_ts_ohlc",           # r9: shared-exchange double window + agg on (type, day)
    "q_agg_kmv_setops",    # r9: two distinct-shuffles + k-row set ops — distinct-bound
    "q_graph_bfs",         # r9: 3 frontier shuffles vs pre-partitioned edges
    "q_sort_zorder",       # r9: narrow codegen interleave + 32-group agg — must be ~flat
    "q_ts_trend",          # r9: one-pass exact-moment OLS — scan-bound
    "q_text_pmi",          # r9: two count shuffles + vocab joins
    "q_join_incremental",  # r9: delta-join maintenance — delta-sized probes
    "q_agg_basket",        # r9: per-order brand pair join + threshold
    "q_agg_ab_test",       # r9: two one-row moment frames — scan-bound
    "q_agg_ks_hist",       # r9: shared-scan histograms + constant spine
    "q_agg_quantile_hist_bygroup",  # r9: per-group 256-bucket histograms
    "q_pipe_validate",     # r9: fingerprint + diff through the spec walker
    "q_text_bpe_train",    # r11: corpus collapses to |vocab| once; 4 small per-round shuffles
    "q_text_bpe_encode",   # r11: train + apply; corpus touched exactly twice
    "q_text_bpe_train_scale",   # r12: one collapse pass + driver-side trainer
    "q_text_bpe_encode_scale",  # r12: one mapInPandas stage, zero pre-emit shuffles
    "q_text_unigram_encode",    # r13: one collapse (train) + one mapInPandas encode
    "q_dedup_lines",       # r13: line-hash agg + join back — CCNet boilerplate strip
    "q_dedup_lines_rm",    # r13: the removal half — + per-doc ordered rebuild
    "q_dedup_lines_nl",    # r14: real-newline mode (regex-planted corpus)
    "q_dedup_sentences",   # r14: sentence-unit distinct-doc criterion
    "q_text_domain_cap",   # r13: narrow URL map + one domain-key window shuffle
    "q_search_rrf",        # r13: corpus work in the scorers; fusion is ≤200 rows flat
    "q_search_rrf3",       # r13: three-list fold — one extra TakeOrdered column scan
    "q_text_token_budget", # r13: narrow token-count map + one source-key window
    "q_text_robots_filter", # r13: broadcast rule join + per-URL longest-match window
    "q_text_nfc",          # r13: Arrow unicode-normalize map — must be ~flat
    "q_text_cjk_segment",  # r14: two regex maps + splitters — must be ~flat
    "q_text_minhash_sig_cjk",  # r14: per-char shingle minhash — explode+min aggs
    "q_text_script_profile",   # r14: five regex maps, zero shuffles — must be ~flat
    "q_text_langid_cjk",       # r14: segmentation + profile overlap — must be ~flat
    "q_text_bpe_train_cjk",    # r14: segmented corpus collapse + |vocab|-row rounds
    "q_pipe_cjk_curation",     # r14: spec-walker composition (route+segment+report)
    "q_text_blocklist",        # r14: one regex map, zero shuffles — must be ~flat
    "q_text_cjk_segment_dict",  # r15: broadcast-lexicon MM pandas_udf — must be ~flat
    "q_pipe_curation_full",     # r15: the 24-stage C4/CCNet/Gopher composite (cached walk)
    "q_dedup_sentences_abbr",   # r15: 3-pass abbrev protect/mark/restore — must be ~flat
    "q_agg_hll_sliding",   # r9: day-spine x 64-register merge — register-level work
    "q_graph_sssp",        # r9: weighted Bellman-Ford, k frontier shuffles
    "q_agg_gini",          # r9: per-group rank window + moment agg
    "q_agg_kmv_retention", # r9: per-day k-min windows + k-row pair merges
    "q_graph_common_neighbors",  # r9: wedge-count groupBy + anti-join
    "q_agg_spearman",      # r9: two partitioned rank windows, one exchange
    "q_ts_autocorr",       # r9: one lead window + moment agg, shared exchange
    "q_agg_pearson",       # r9: five integer moments, one agg pass
    "q_ts_cusum",          # r9: two shared-exchange window passes + top-1
]


def generate(spark) -> None:
    for t in TABLES:
        src = spark.read.parquet(f"{SRC}/{t}.parquet")
        if t in REPLICATED:
            spec = REPLICATED[t]
            max_keys = {
                c: src.agg(F.max(c)).collect()[0][0] + 1 for c in spec["offset"]
            }
            parts = []
            for i in range(COPIES):
                df = src
                for c, mk in max_keys.items():
                    df = df.withColumn(c, F.col(c) + F.lit(i * mk))
                parts.append(df)
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
        else:
            out = src
        out.write.mode("overwrite").parquet(f"{DST}/{t}.parquet")
        print(f"  wrote {t}", flush=True)


def bench(spark, registry, sf_dir: str, names: list[str] | None = None) -> dict[str, float]:
    # noop sink: the full plan (.count() prunes aggregates), no 10× rows shipped to the driver
    out = {}
    for name in (names if names is not None else QUERIES):
        fn = registry[name].fn
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()  # warm-up
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        out[name] = best
        print(f"  {name}: {best:.2f}s", flush=True)
    return out


def ann_recall(spark, sf_dir: str) -> dict[str, tuple[float, float]]:
    """Recall-vs-exact for both ANN variants at one scale.

    - ``ivf``: uniform kNN workload (20 corpus vectors as queries),
      recall@10 against brute force — exercises the portable-Lloyd
      coarse quantizer on weakly-clustered geometry.
    - ``lsh``: near-dup candidate workload (20 perturbed corpus vectors,
      cos ≈ 0.98 to their source), scored on source-retrieval@top1 —
      the regime sign-LSH exists for (q_dedup_embcos candidates).
    Returns name → (recall, seconds).
    """
    import numpy as np

    from pipetree_spark.catalog import load_table
    from pipetree_spark.ops import vector as VX

    emb = load_table(spark, sf_dir, "embeddings")
    K = 10

    def topmap(df):
        out: dict[int, set] = {}
        for r in df.collect():
            out.setdefault(r["query_id"], set()).add(r["vec_id"])
        return out

    uq = emb.filter(F.col("vec_id") < 20).select(F.col("vec_id").alias("query_id"), "embedding")
    exact = topmap(VX.knn_bruteforce(uq, emb, k=K))
    t0 = time.perf_counter()
    ivf = topmap(VX.ivf_ann_portable(uq, emb, k=K, n_clusters=8, n_probe=5))
    t_ivf = time.perf_counter() - t0
    r_ivf = sum(len(ivf.get(q, set()) & s) / len(s) for q, s in exact.items()) / len(exact)

    rng = np.random.RandomState(7)
    rows = uq.collect()
    pert = [
        (int(r["query_id"]) + 10_000_000,
         [float(x) + float(e) for x, e in zip(r["embedding"], rng.normal(0, 0.02, len(r["embedding"])))])
        for r in rows
    ]
    qd = spark.createDataFrame(pert, "query_id long, embedding array<double>")
    t0 = time.perf_counter()
    lsh_rows = VX.lsh_bucket_ann(qd, emb, k=1, n_planes=6, multi_probe=2).collect()
    t_lsh = time.perf_counter() - t0
    best: dict[int, tuple] = {}
    for r in lsh_rows:
        key = (r["cos_sim"], -r["vec_id"])
        if r["query_id"] not in best or key > best[r["query_id"]][0]:
            best[r["query_id"]] = (key, r["vec_id"])
    hits = sum(1 for q, (_, v) in best.items() if v == q - 10_000_000)
    return {"ivf_uniform_recall@10": (r_ivf, t_ivf), "lsh_neardup_source@1": (hits / len(pert), t_lsh)}


def semantic_ann_pair_recall(spark, registry, sf_dir: str) -> float:
    """Pair-recall of the IVF-blocked semantic dedup (q_dedup_semantic_ann)
    against the label-blocked exact anchor (q_dedup_semantic): the
    fraction of exact-path duplicate pairs (same component) that the
    quantizer-blocked path also clusters together. A pair is missed only
    when the coarse quantizer splits it across cells — the documented
    ANN trade (target ≥ 0.8, the r6-verdict bar)."""

    def comp_pairs(df) -> set[tuple[int, int]]:
        comps: dict[int, list[int]] = {}
        for r in df.collect():
            comps.setdefault(r["component"], []).append(r["vec_id"])
        out: set[tuple[int, int]] = set()
        for members in comps.values():
            members.sort()
            out.update(
                (a, b) for i, a in enumerate(members) for b in members[i + 1 :]
            )
        return out

    exact = comp_pairs(registry["q_dedup_semantic"].fn(spark, sf_dir))
    ann = comp_pairs(registry["q_dedup_semantic_ann"].fn(spark, sf_dir))
    return len(ann & exact) / len(exact) if exact else 1.0


def flood_stress(spark, n_copies: int = 100_000) -> dict[str, float]:
    """Exact-duplicate flood: n_copies byte-identical boilerplate docs +
    a handful of genuine near-dups. Without the ``collapse_exact`` guard
    this corpus puts all n_copies signatures into ONE band bucket and
    expands n²/2 ≈ 5e9 pairs (OOM, not a slowdown); with the guard the
    flood collapses to one representative before signatures exist, so
    runtime must stay in the same ballpark as the small corpus and the
    emitted pairs must be exactly the planted near-dups."""
    from pipetree_spark.ops import text as TX

    boiler = "subscribe to our newsletter for daily updates terms of service apply here"
    flood = spark.range(n_copies).select(
        F.col("id").alias("doc_id"), F.lit(boiler).alias("text")
    )
    near = spark.createDataFrame(
        [
            (n_copies + 1, "rare alpha beta gamma delta epsilon zeta eta theta closing words"),
            (n_copies + 2, "rare alpha beta gamma delta epsilon zeta eta iota closing words"),
        ],
        "doc_id long, text string",
    )
    corpus = flood.unionByName(near)
    t0 = time.perf_counter()
    pairs = TX.minhash_band_pairs(corpus, num_hashes=16, bands=8).collect()
    secs = time.perf_counter() - t0
    got = {(r.id_a, r.id_b) for r in pairs}
    ok = got == {(n_copies + 1, n_copies + 2)}
    print(
        f"  flood({n_copies} exact copies): {secs:.2f}s, {len(pairs)} pairs "
        f"(planted near-dup {'found, no flood pairs' if ok else 'MISMATCH: ' + str(sorted(got)[:5])})",
        flush=True,
    )
    return {"seconds": secs, "pairs": len(pairs), "planted_ok": float(ok)}


def build_jittered_corpus(spark, n_bases: int = 2000, copies: int = 100,
                          seed: int = 13, sigma: float = 0.01):
    """THE unique-vector stress corpus: ``n_bases`` sf0.1 embedding
    bases, each jittered ``copies`` times (within-base cos ≥ ~0.99).
    Single definition shared by unique_vector_stress and
    tools/uvec_cap_matrix.py so the cap-matrix measurements can never
    desynchronize from the harness they calibrate. Returns the
    materialized (vec_id, embedding) frame."""
    import numpy as np

    from pipetree_spark.catalog import load_table

    base = load_table(spark, SRC, "embeddings").orderBy("vec_id").limit(n_bases).collect()
    B = np.stack([np.array(r["embedding"], dtype=np.float64) for r in base])[:n_bases]
    rng = np.random.RandomState(seed)
    rows = []
    for b in range(len(B)):
        noise = rng.normal(0.0, sigma, size=(copies, B.shape[1]))
        V = (B[b][None, :] + noise).astype(np.float32)
        for c in range(copies):
            rows.append((b * copies + c, [float(x) for x in V[c]]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>").repartition(32)
    return df.localCheckpoint(eager=True)


def unique_vector_stress(spark, n_bases: int = 2000, copies: int = 100) -> dict:
    """r7 verdict #4: the 10×/100× replication checks kept distinct-vector
    volume at 2k (exact-collapse ate the copies), so the auto-sized
    quantizer was never stressed on UNIQUE vectors. This plants
    ``n_bases × copies`` unique vectors (base vectors from sf0.1
    embeddings, each jittered ``copies`` times with σ=0.01 noise —
    within-cluster cosine ≥ ~0.99, cross-base well below) and runs the
    PRODUCTION path end-to-end: sample-trained centroids (ivf_train on
    a 5% sample, injected), n_clusters='auto' (⌈√n⌉), n_probe='auto'
    (⌈log₂k⌉), assign_via='arrow'.

    Reports pair-recall against the planted truth (a pair is planted
    iff both vectors jitter the same base; recall = Σ_g C(n_g,2) /
    (n_bases·C(copies,2)) over (planted, component) groups — computed
    in Spark, no driver pair sets) plus per-cell occupancy, so the
    'cells stay ~p·√n, never n/k_fixed' claim is measured, not
    asserted."""
    from pipetree_spark.ops import vector as VX

    df = build_jittered_corpus(spark, n_bases=n_bases, copies=copies)
    n = df.count()

    t0 = time.perf_counter()
    cents = VX.ivf_train(df.sample(0.05, seed=3), "embedding", "vec_id",
                         n_clusters=max(8, int(n ** 0.5) + 1), iters=2)
    cents = cents.localCheckpoint(eager=True)
    t_train = time.perf_counter() - t0

    t0 = time.perf_counter()
    # cell_cap=4096: decided by tools/uvec_cap_matrix.py (interleaved
    # clean-machine reps, 2 independent runs at 200k uniques) — capped
    # tiling wins 3 of 4 pairs, mean 62.7 s vs 113.1 s uncapped and 3×
    # on cold JVMs (the max cell is ~5× average; tiling breaks that
    # straggler). An earlier single-shot 75→143 s reading that said
    # the opposite was measurement noise — trust the matrix.
    res = VX.semantic_dedup_ann(
        df, threshold=0.9, n_clusters="auto", n_probe="auto",
        centroids=cents, assign_via="arrow", exact_pairs=False, cell_cap=4096,
    ).localCheckpoint(eager=True)
    assert res.count() == n
    t_dedup = time.perf_counter() - t0

    planted = res.withColumn("planted", (F.col("vec_id") / copies).cast("long"))
    co = planted.groupBy("planted", "component").count()
    num = co.select(F.sum(F.col("count") * (F.col("count") - 1) / 2).alias("s")).collect()[0]["s"]
    denom = n_bases * copies * (copies - 1) / 2
    recall = float(num) / denom

    # occupancy of the auto-sized blocking (same params the dedup used)
    import math
    k = max(8, math.isqrt(max(n - 1, 0)) + 1)
    p = max(3, math.ceil(math.log2(k)))
    memb = VX.ivf_multiprobe_assign(
        df, "embedding", "vec_id", n_probe=p, centroids=cents, via="arrow"
    )
    occ = memb.groupBy("cluster").count().agg(
        F.max("count").alias("mx"), F.avg("count").alias("avg"),
        F.count("*").alias("nonempty"),
    ).collect()[0]
    print(
        f"  unique-vec stress n={n} (k={k}, p={p}): train {t_train:.1f}s, "
        f"dedup {t_dedup:.1f}s, pair-recall {recall:.3f}, "
        f"cell occupancy avg {occ['avg']:.0f} / max {occ['mx']} "
        f"({occ['nonempty']}/{k} cells nonempty; fixed k=8 would be {n // 8}/cell)",
        flush=True,
    )
    return {"n": n, "k": k, "p": p, "train_s": t_train, "dedup_s": t_dedup,
            "recall": recall, "cell_avg": float(occ["avg"]), "cell_max": occ["mx"]}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--skip-gen", action="store_true")
    ap.add_argument("--unique-vec", action="store_true",
                    help="run only the unique-vector quantizer stress (10x and 100x uniques)")
    ap.add_argument("--only", nargs="*", default=None,
                    help="restrict the timing sweep to these query names "
                         "(skips the ANN-recall and flood sections)")
    args = ap.parse_args()
    if args.unique_vec:
        spark = get_spark("pipetree-spark-uvec-stress")
        print("unique-vector stress (auto-k quantizer, sample-trained, arrow assign):", flush=True)
        unique_vector_stress(spark, n_bases=2000, copies=10)    # 20k uniques
        unique_vector_stress(spark, n_bases=2000, copies=100)   # 200k uniques
        return
    spark = get_spark("pipetree-spark-scale-stress")
    if not args.skip_gen:
        print("generating 10x dataset ...", flush=True)
        generate(spark)
    registry = load_registry()
    names = args.only if args.only else QUERIES
    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        raise SystemExit(f"--only names not in QUERIES: {unknown}")
    print(f"timing at sf0.1 ({SRC}):", flush=True)
    base = bench(spark, registry, SRC, names)
    print(f"timing at 10x ({DST}):", flush=True)
    big = bench(spark, registry, DST, names)
    print("\nratios (10x data / 1x data; linear-or-better target ≤ 10):")
    for name in names:
        print(f"  {name:24s} {base[name]:7.2f}s -> {big[name]:7.2f}s  ratio {big[name]/base[name]:5.2f}")
    if args.only:
        return
    print("\nANN recall vs exact (target ≥ 0.8 at both scales):")
    for sf_dir, label in ((SRC, "1x"), (DST, "10x")):
        for name, (rec, secs) in ann_recall(spark, sf_dir).items():
            print(f"  {label:3s} {name:24s} recall {rec:5.3f}  ({secs:.2f}s)")
        rec = semantic_ann_pair_recall(spark, registry, sf_dir)
        print(f"  {label:3s} {'semantic_ann_pair_recall':24s} recall {rec:5.3f}")
    print("\nexact-dup flood guard (banding must not expand the flood bucket):")
    flood_stress(spark)


if __name__ == "__main__":
    main()
