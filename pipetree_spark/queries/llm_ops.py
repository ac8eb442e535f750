"""LLM-training-data pipeline queries (SURVEY §2.12): text analysis,
dedup (exact / shingle-Jaccard / MinHash-LSH / SimHash), similarity
search (brute force + LSH-bucketed ANN), multimodal binary columns.

Backed by ops/text.py and ops/vector.py; rounding policy per ops module
docstrings (short unit-scale sums → round(4); integer-ratio outputs
emitted raw — both engines compute identical doubles).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pipetree_spark.catalog import load_table
from pipetree_spark.exact import dsum_sql, pin_zero
from pipetree_spark.ops import retrieval as RT
from pipetree_spark.ops import text as TX
from pipetree_spark.ops import vector as VX
from pipetree_spark.queries import declare

# DuckDB twin of ops.text.word_shingles(n=3) over pre-split words `w`
_SHINGLES_SQL = (
    "CASE WHEN len(w) >= 3 THEN list_distinct(list_transform("
    "generate_series(1, len(w)-2), i -> concat_ws(' ', w[i], w[i+1], w[i+2])))"
    " ELSE [array_to_string(w, ' ')] END"
)
_SQ_SUM = "list_sum(list_transform({v}, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))"


@declare(
    "q_text_stats",
    oracle="""
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
       CAST(SUM(LEN(string_split(text, ' '))) AS BIGINT) AS sum_tokens
FROM documents
GROUP BY lang
""",
    tags=("text", "bench"),
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus statistics (counts are exact ints)."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        (F.sum("n_chars").cast("double") / F.count("*")).alias("avg_chars"),
        F.sum(F.size(TX.tokens("text"))).alias("sum_tokens"),
    )


@declare(
    "q_text_tf",
    oracle="""
WITH words AS (SELECT lang, unnest(string_split(text, ' ')) AS word FROM documents),
counts AS (SELECT lang, word, COUNT(*) AS cnt FROM words GROUP BY 1, 2)
SELECT * FROM (
  SELECT lang, word, cnt,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY cnt DESC, word) AS rnk
  FROM counts
) WHERE rnk <= 5
""",
    tags=("text",),
)
def q_text_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 terms per language: explode → count → topk_per_group.
    Agg-skew note: hot terms are handled by the partial-agg combine;
    explode itself is narrow (no shuffle)."""
    d = load_table(spark, sf_dir, "documents")
    counts = (
        d.select("lang", F.explode(TX.tokens("text")).alias("word"))
        .groupBy("lang", "word")
        .agg(F.count("*").alias("cnt"))
    )
    from pipetree_spark.ops.relational import topk_per_group

    return topk_per_group(
        counts, partition_by=["lang"], order_by=[F.col("cnt").desc(), F.col("word")], k=5
    )


@declare(
    "q_text_quality",
    oracle=r"""
SELECT doc_id,
       LEN(string_split(text, ' ')) AS n_tokens,
       LENGTH(REGEXP_REPLACE(text, '[ \t\n\x0B\f\r]', '', 'g')) AS n_chars_nospace,
       CAST(LENGTH(REGEXP_REPLACE(text, '[ \t\n\x0B\f\r]', '', 'g')) AS DOUBLE)
         / LEN(string_split(text, ' ')) AS avg_token_len,
       LEN(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 \t\n\x0B\f\r]')) AS n_bpe_tokens,
       CAST(LEN(list_filter(string_split(text, ' '),
                            w -> w IN ('the','and','of','to','in'))) AS DOUBLE)
         / LEN(string_split(text, ' ')) AS stopword_ratio_en
FROM documents
""",
    tags=("text",),
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-scoring features (ops.text.quality_features): token
    counts, BPE-ish regex token count, stopword ratio. Ratios are exact
    integer quotients — emitted raw."""
    d = load_table(spark, sf_dir, "documents")
    feats = TX.quality_features(d)
    return feats.select(
        "doc_id", "n_tokens", "n_chars_nospace", "avg_token_len", "n_bpe_tokens", "stopword_ratio_en"
    )


@declare(
    "q_text_pack",
    oracle="""
WITH toks AS (
  SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
         doc_id % 16 AS shard
  FROM documents
),
filled AS (
  SELECT doc_id, shard, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) AS fill
  FROM toks
)
SELECT doc_id, shard, n_tokens,
       shard * 1099511627776 + CAST(FLOOR(CAST(fill - n_tokens AS DOUBLE) / 512.0) AS BIGINT) AS pack_id
FROM filled
""",
    tags=("text", "pipeline"),
)
def q_text_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing — assign documents to fixed-token-budget packs
    (512 whitespace tokens) ahead of training-batch construction.
    Sequential-fill discipline: docs are placed in key order and a doc
    starts a new pack when the budget is exhausted (pack_id =
    floor(preceding-fill / budget)); a doc longer than the budget
    occupies its own pack(s) worth of span, as in standard greedy
    packing without reordering.

    Scale shape: packing is SHARDED (doc_id mod 16) so the cumulative
    sum runs as 16 independent window partitions — deterministic AND
    parallel, avoiding the global-order single-reducer window that
    naive packing implies (shard count scales with the cluster; pack
    ids are namespaced per shard). Entirely integer math → the DuckDB
    oracle reproduces every pack assignment bit-for-bit.

    Pack-id namespace (r6): ``shard * 2⁴⁰ + pack_idx`` — 2⁴⁰ packs/
    shard ≈ 5.6·10¹⁴ tokens/shard before aliasing (the r5 ``×10⁶``
    multiplier aliased past ~0.5 G tokens/shard — guaranteed at the
    100 TB scale this op targets), while shard×2⁴⁰ for shard < 16
    stays ≪ 2⁶³ (no int64 overflow in either engine)."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.size(TX.tokens("text")).alias("n_tokens"))
    return TX.pack_sequences(toks, budget=512, num_shards=16).select(
        "doc_id", "shard", "n_tokens", "pack_id"
    )


def _ngram_sql(n: int) -> str:
    """DuckDB twin of ops.text.word_ngrams(n) over pre-split words
    ``w`` — WITH multiplicity, empty when len(w) < n."""
    parts = ", ".join(f"w[i+{j}]" for j in range(n))
    return (
        f"CASE WHEN len(w) >= {n} THEN "
        f"list_transform(generate_series(1, len(w)-{n - 1}), i -> concat_ws(' ', {parts}))"
        " ELSE [] END"
    )


@declare(
    "q_text_repetition",
    oracle=f"""
WITH g2 AS (
  SELECT doc_id, UNNEST({_ngram_sql(2)}) AS g
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
),
g3 AS (
  SELECT doc_id, UNNEST({_ngram_sql(3)}) AS g
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
),
c2 AS (SELECT doc_id, g, COUNT(*) AS c FROM g2 GROUP BY doc_id, g),
c3 AS (SELECT doc_id, g, COUNT(*) AS c FROM g3 GROUP BY doc_id, g),
f2 AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n2_total, COUNT(*) AS n2_distinct,
         1.0 - CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS BIGINT) AS dup_n2_frac,
         CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS BIGINT) AS top_n2_frac
  FROM c2 GROUP BY doc_id
),
f3 AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n3_total, COUNT(*) AS n3_distinct,
         1.0 - CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS BIGINT) AS dup_n3_frac,
         CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS BIGINT) AS top_n3_frac
  FROM c3 GROUP BY doc_id
)
SELECT f2.doc_id, n2_total, n2_distinct, dup_n2_frac, top_n2_frac,
       n3_total, n3_distinct, dup_n3_frac, top_n3_frac
FROM f2 JOIN f3 ON f2.doc_id = f3.doc_id
""",
    tags=("text",),
)
def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals
    (ops.text.repetition_features): duplicate word-2/3-gram fractions
    and the top n-gram's share per document — the standard filter for
    boilerplate-heavy and degenerate (looping) text before training.
    Exact integer quotients end-to-end → oracle-certified."""
    d = load_table(spark, sf_dir, "documents")
    return TX.repetition_features(d, "text", "doc_id", ns=(2, 3)).select(
        "doc_id",
        "n2_total", "n2_distinct", "dup_n2_frac", "top_n2_frac",
        "n3_total", "n3_distinct", "dup_n3_frac", "top_n3_frac",
    )


@declare(
    "q_text_fingerprint",
    oracle=f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
SELECT doc_id,
       list_aggregate(list_transform({_SHINGLES_SQL}, s -> md5(s)), 'min') AS fp
FROM t
""",
    tags=("text",),
)
def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: min-md5 over 3-word shingles (a
    1-permutation MinHash — ops.text.fingerprint)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", TX.fingerprint("text").alias("fp"))


def _winnow_sql() -> str:
    """DuckDB twin of ops.text.winnow_fingerprints — parameters come
    from the same module constants so the engines can't drift."""
    k, w, base, mod = TX.WINNOW_K, TX.WINNOW_W, TX.WINNOW_BASE, TX.WINNOW_MOD
    gram = " + ".join(
        f"vs[i+{j}] * {pow(base, j, mod)}" for j in range(k)
    )
    return f"""
WITH v AS (
  SELECT doc_id,
         list_transform(string_split(text, ' '),
           x -> ('0x' || substr(md5(x), 1, 8))::BIGINT % {mod}) AS vs
  FROM documents
),
h AS (
  SELECT doc_id,
         list_transform(range(1, len(vs) - {k} + 2), i -> ({gram}) % {mod}) AS hs
  FROM v WHERE len(vs) >= {k + w - 1}
),
m AS (
  SELECT doc_id,
         list_sort(list_distinct(
           list_transform(range(1, len(hs) - {w} + 2),
                          i -> list_min(hs[i:i+{w - 1}])))) AS fps
  FROM h
)
SELECT doc_id, UNNEST(fps) AS fp FROM m
"""


@declare("q_text_winnow", oracle=_winnow_sql(), tags=("text", "dedup"))
def q_text_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing rolling-hash fingerprints (ops.text.winnow_fingerprints
    — the MOSS k-gram/window-min scheme): the position-robust document
    fingerprint set, exploded to scalar (doc_id, fp) rows. Exact long
    arithmetic mod a Mersenne prime ⇒ oracle-exact. Completes the
    fingerprinting family: min-md5 (q_text_fingerprint), SimHash,
    MinHash signatures, and now rolling-hash winnowing."""
    d = load_table(spark, sf_dir, "documents")
    return TX.winnow_fingerprints(d)


@declare(
    "q_text_clean",
    oracle=r"""
WITH src AS (
  SELECT doc_id,
         concat('  ', upper(substr(text, 1, 20)), '!!!', chr(9), text, '...  ') AS dirty
  FROM documents WHERE doc_id < 200
), cl AS (
  SELECT doc_id, dirty,
         lower(trim(regexp_replace(
           regexp_replace(regexp_replace(regexp_replace(
           regexp_replace(regexp_replace(regexp_replace(
             regexp_replace(dirty, '[\x00-\x1f\x7f]', ' ', 'g'),
             '!!+', '!', 'g'), '\?\?+', '?', 'g'), '\.\.+', '.', 'g'),
             ',,+', ',', 'g'), ';;+', ';', 'g'), '::+', ':', 'g'),
           '[ \t\n\x0B\f\r]+', ' ', 'g'))) AS cleaned
  FROM src
)
SELECT doc_id, cleaned,
       CAST(length(dirty) - length(cleaned) AS BIGINT) AS n_removed
FROM cl
""",
    tags=("text",),
)
def q_text_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text normalization — the 'clean' stage of a curation pipeline
    (ops.text.clean_text): control-char strip, whitespace collapse,
    trim, lowercase, repeated-punctuation squeeze. The corpus text is
    already clean word salad, so a deterministic dirty variant (case
    flip, tab, '!!!', '...', padding) is synthesized identically in
    both engines and cleaned; n_removed certifies the char-level
    effect. Narrow per-row exprs, no shuffle."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    dirty = F.concat(
        F.lit("  "),
        F.upper(F.substring("text", 1, 20)),
        F.lit("!!!"),
        F.lit("\t"),
        F.col("text"),
        F.lit("...  "),
    )
    src = d.select("doc_id", dirty.alias("dirty"))
    cleaned = TX.clean_text("dirty")
    return src.select(
        "doc_id",
        cleaned.alias("cleaned"),
        (F.length("dirty") - F.length(cleaned)).cast("long").alias("n_removed"),
    )


def _langid_sql() -> str:
    """DuckDB twin of ops.text.lang_id_scores, generated from the same
    LANG_STOPWORDS dict so the profiles can't drift. The score is an
    exact-int ratio (stopword hits / token count → identical IEEE
    division) and Spark's array_max over (score, lang) structs is
    row_number over (score DESC, lang DESC) — both deterministic, so
    the heuristic gets an exact oracle despite double scores."""
    rows = ",\n  ".join(
        "('{}', [{}])".format(lang, ", ".join(f"'{w}'" for w in sw))
        for lang, sw in sorted(TX.LANG_STOPWORDS.items())
    )
    return f"""
WITH profiles(cand, sw) AS (VALUES
  {rows}
),
tok AS (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents),
sc AS (
  SELECT t.doc_id, t.lang, p.cand,
         CAST(len(list_filter(t.w, x -> list_contains(p.sw, x))) AS DOUBLE)
           / len(t.w) AS score
  FROM tok t CROSS JOIN profiles p
)
SELECT doc_id, lang, cand AS lang_pred, score AS lang_score
FROM sc
QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, cand DESC) = 1
"""


@declare("q_text_langid", oracle=_langid_sql(), tags=("text",))
def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic stopword-profile language ID (ops.text.lang_id_scores),
    oracle-exact since r3: the overlap score is an exact integer ratio
    and the argmax tie-break (max score, then max lang code) is the
    same total order in both engines. This corpus is language-
    independent word salad, so ACCURACY is asserted on synthetic text
    in pytest — the oracle certifies the scoring/argmax semantics."""
    d = load_table(spark, sf_dir, "documents")
    return TX.lang_id_scores(d).select("doc_id", "lang", "lang_pred", "lang_score")


@declare(
    "q_dedup_exact",
    oracle=r"""
SELECT md5(regexp_replace(lower(trim(text)), '[ \t\n\x0B\f\r]+', ' ', 'g')) AS text_md5,
       MIN(doc_id) AS keeper,
       COUNT(*) AS n_copies
FROM documents
GROUP BY 1
""",
    tags=("dedup", "bench"),
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on normalized-text hash, keep-smallest-key
    (ops.text.exact_dedup semantics, declared in its groupBy form)."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy(TX.text_hash("text").alias("text_md5")).agg(
        F.min("doc_id").alias("keeper"), F.count("*").alias("n_copies")
    )


@declare(
    "q_dedup_near",
    oracle=f"""
WITH sh AS (
  SELECT doc_id, lang, {_SHINGLES_SQL} AS s
  FROM (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents)
)
SELECT a.doc_id AS id_a,
       b.doc_id AS id_b,
       CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
         / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jaccard
FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.2
""",
    tags=("dedup",),
)
def q_dedup_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dedup: shingle-Jaccard pairs within language blocks
    (ops.text.near_dup_pairs). Jaccard is an integer ratio — exact
    double, no rounding. At 100 TB this runs only on MinHash-LSH
    survivor candidates (q_dedup_minhash_band is that pre-filter).

    ``max_bucket=None`` because the declared oracle is the EXACT
    all-pairs formulation — the production default (hub-shingle cap,
    conservative lower-bound contract) would silently diverge from it
    at any SF where a posting list exceeds the cap."""
    d = load_table(spark, sf_dir, "documents")
    return TX.near_dup_pairs(d, threshold=0.2, max_bucket=None)


def _minhash_sql(num_hashes: int = 16) -> list[str]:
    """DuckDB twins of ops.text.minhash_signatures' components: the
    SAME (aᵢ, bᵢ) literals from ops.text.minhash_coeffs over the same
    60-bit md5-prefix base hash — exact int64 math in both engines
    (products < 2⁶², so DuckDB's overflow-raising BIGINT is safe)."""
    from pipetree_spark.ops.text import MINHASH_P, minhash_coeffs

    base = f"(CAST(concat('0x', substr(md5(x), 1, 15)) AS BIGINT) % {MINHASH_P})"
    return [
        f"list_aggregate(list_transform(s, x -> ({a} * {base} + {b}) % {MINHASH_P}), 'min')"
        for a, b in minhash_coeffs(num_hashes)
    ]


_MH = _minhash_sql(16)
# '|' separator matches the Spark side — variable-length ints would
# alias without it
_MH_BANDS = [
    "md5(concat_ws('|', "
    + ", ".join(f"CAST(m[{j * 4 + r + 1}] AS VARCHAR)" for r in range(4))
    + "))"
    for j in range(4)
]


@declare(
    "q_text_minhash_sig",
    oracle=f"""
WITH sh AS (
  SELECT doc_id, {_SHINGLES_SQL} AS s
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
)
SELECT doc_id,
       concat_ws(',', {', '.join(f'CAST({m} AS VARCHAR)' for m in _MH)}) AS sig
FROM sh
""",
    tags=("text", "dedup"),
)
def q_text_minhash_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable 16-permutation MinHash signature per document
    (ops.text.minhash_signatures): universal-hash min over the 60-bit
    md5-prefix base hash, deterministic coefficient literals —
    bit-identical across engines, so the signature itself is
    oracle-certified.
    Emitted comma-joined (driver-hashable)."""
    d = load_table(spark, sf_dir, "documents")
    return TX.minhash_signatures(d, "text", "doc_id", 3, 16).select(
        "doc_id",
        F.array_join(F.transform("minhash", lambda c: c.cast("string")), ",").alias("sig"),
    )


@declare(
    "q_dedup_lsh_recall",
    oracle=f"""
WITH rep AS (
  SELECT doc_id, text FROM (
    SELECT doc_id, text,
           row_number() OVER (
             PARTITION BY md5(regexp_replace(lower(trim(text)), '[ \t\n\x0B\f\r]+', ' ', 'g'))
             ORDER BY doc_id) AS rn
    FROM documents) WHERE rn = 1
),
sh AS (
  SELECT doc_id, {{_SHINGLES}} AS s
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM rep)
),
truth AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
          / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.5
),
sig AS (
  SELECT doc_id, [{{_SIG}}] AS m FROM sh
),
bands AS (
  SELECT doc_id, j, CASE j {{_BANDS}} END AS bk
  FROM sig CROSS JOIN generate_series(0, 3) AS g(j)
  QUALIFY count(*) OVER (PARTITION BY j, bk) <= 1024
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.j = b.j AND a.bk = b.bk AND a.doc_id < b.doc_id
),
hit AS (SELECT id_a, id_b FROM truth INTERSECT SELECT id_a, id_b FROM cand)
SELECT CAST((SELECT COUNT(*) FROM truth) AS BIGINT) AS n_truth,
       CAST((SELECT COUNT(*) FROM cand) AS BIGINT) AS n_cand,
       CAST((SELECT COUNT(*) FROM hit) AS BIGINT) AS n_hit,
       ROUND(CAST((SELECT COUNT(*) FROM hit) AS DOUBLE)
             / NULLIF((SELECT COUNT(*) FROM truth), 0), 4) + 0.0 AS recall4,
       ROUND(CAST((SELECT COUNT(*) FROM hit) AS DOUBLE)
             / NULLIF((SELECT COUNT(*) FROM cand), 0), 4) + 0.0 AS precision4
""".replace("{_SHINGLES}", _SHINGLES_SQL)
   .replace("{_SIG}", ", ".join(_MH))
   .replace("{_BANDS}", " ".join(f"WHEN {j} THEN {b}" for j, b in enumerate(_MH_BANDS))),
    tags=("dedup", "pipeline"),
)
def q_dedup_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-recall AUDIT under the driver hash gate: measure the
    MinHash-LSH banding's candidate recall and precision against the
    EXACT Jaccard ≥ 0.5 truth set on the same exact-collapsed corpus —
    the quantified-recall number (theory: p = 1−(1−J^r)^b ≈ 0.93 at
    J = 0.5, r = b = 4) promoted from an offline SCALING.md
    measurement to a driver-certified query. A curation team runs this
    audit on samples to choose (num_hashes, bands) before a 100 TB
    dedup pass; emitting it as a query means the measurement itself is
    reproducible cross-engine, not a one-off note.

    Truth comes from the inverted-shingle-index exact algorithm (any
    pair with J > 0 shares a shingle, so the index finds every
    qualifying pair without all-pairs); candidates from the certified
    banding path with its production flood guards. At 100 TB the
    truth side is what you run ON A SAMPLE — the audit's cost is the
    sample's, the banding being audited is the full-corpus path."""
    docs = load_table(spark, sf_dir, "documents")
    # flood-safe exact collapse (map-side-combined min_by — NOT the
    # row_number window shape, which funnels a boilerplate flood to
    # one reducer; measurements in exact_dedup's docstring)
    reps = TX.exact_dedup(docs).select("doc_id", "text")
    sh = reps.select("doc_id", TX.word_shingles("text").alias("s"))
    sizes = sh.select("doc_id", F.size("s").alias("n"))
    idx = sh.select("doc_id", F.explode("s").alias("g"))
    a, b = idx.alias("a"), idx.alias("b")
    inter = (
        a.join(b, (F.col("a.g") == F.col("b.g")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count("*").alias("ninter"))
    )
    truth = (
        inter.join(sizes.withColumnRenamed("doc_id", "id_a").withColumnRenamed("n", "na"), "id_a")
        .join(sizes.withColumnRenamed("doc_id", "id_b").withColumnRenamed("n", "nb"), "id_b")
        .where(
            F.col("ninter").cast("double")
            / (F.col("na") + F.col("nb") - F.col("ninter"))
            >= 0.5
        )
        .select("id_a", "id_b")
    )
    cand = TX.minhash_band_pairs(docs).select("id_a", "id_b").distinct()
    hit = truth.join(cand, ["id_a", "id_b"])
    nt = truth.agg(F.count("*").alias("n_truth"))
    nc = cand.agg(F.count("*").alias("n_cand"))
    nh = hit.agg(F.count("*").alias("n_hit"))
    row = nt.crossJoin(nc).crossJoin(nh)
    return row.select(
        "n_truth",
        "n_cand",
        "n_hit",
        pin_zero(
            F.round(
                F.col("n_hit").cast("double") / F.nullif(F.col("n_truth"), F.lit(0)), 4
            )
        ).alias("recall4"),
        pin_zero(
            F.round(
                F.col("n_hit").cast("double") / F.nullif(F.col("n_cand"), F.lit(0)), 4
            )
        ).alias("precision4"),
    )


@declare(
    "q_dedup_minhash_band",
    oracle=f"""
WITH rep AS (
  SELECT doc_id, text FROM (
    SELECT doc_id, text,
           row_number() OVER (
             PARTITION BY md5(regexp_replace(lower(trim(text)), '[ \t\n\x0B\f\r]+', ' ', 'g'))
             ORDER BY doc_id) AS rn
    FROM documents) WHERE rn = 1
),
sh AS (
  SELECT doc_id, {_SHINGLES_SQL} AS s
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM rep)
),
sig AS (
  SELECT doc_id, [{', '.join(_MH)}] AS m FROM sh
),
bands AS (
  SELECT doc_id, m, j, CASE j {' '.join(f"WHEN {j} THEN {b}" for j, b in enumerate(_MH_BANDS))} END AS bk
  FROM sig CROSS JOIN generate_series(0, 3) AS g(j)
  QUALIFY count(*) OVER (PARTITION BY j, bk) <= 1024
)
SELECT DISTINCT a.doc_id AS id_a,
       b.doc_id AS id_b,
       CAST(len(list_filter(generate_series(1, 16), i -> a.m[i] = b.m[i])) AS DOUBLE) / 16.0 AS est_jaccard
FROM bands a JOIN bands b ON a.j = b.j AND a.bk = b.bk AND a.doc_id < b.doc_id
""",
    tags=("dedup",),
)
def q_dedup_minhash_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic MinHash-LSH banding (4 bands × 4 rows over the
    portable signature, ops.text.minhash_band_pairs): candidate pairs
    sharing ≥1 band bucket with the exact matching-component fraction
    as the Jaccard estimate. The whole path — signature, band keys,
    pair set, estimate — is engine-portable and oracle-exact, making
    the LINEAR-SCALE dedup route itself hash-certified.

    Runs with the ``collapse_exact`` flood guard ON (the production
    default: exact-normalized duplicates are pre-collapsed so a
    boilerplate flood can't put N² pairs in one band bucket); the
    oracle's ``rep`` CTE applies the identical keep-min-doc_id
    pre-collapse, so query and oracle agree at every SF — including
    sf0.1, whose corpus has 8 exact-dup groups that the raw
    formulation would emit but this contract assigns to exact_dedup.

    r6: the band-bucket cap (``max_bucket=1024``) is part of the
    contract too — the oracle's ``bands`` CTE carries the identical
    ``QUALIFY count(*) OVER (PARTITION BY j, bk) <= 1024`` — so the
    near-identical-flood guard can never make query and oracle diverge
    at any SF (the ADVICE latent-divergence class)."""
    d = load_table(spark, sf_dir, "documents")
    return TX.minhash_band_pairs(d, num_hashes=16, bands=4)


_MH_BANDS8 = [
    "md5(concat_ws('|', "
    + ", ".join(f"CAST(m[{j * 2 + r + 1}] AS VARCHAR)" for r in range(2))
    + "))"
    for j in range(8)
]


@declare(
    "q_dedup_near_lsh",
    oracle=f"""
WITH rep AS (
  SELECT doc_id, text FROM (
    SELECT doc_id, text,
           row_number() OVER (
             PARTITION BY md5(regexp_replace(lower(trim(text)), '[ \t\n\x0B\f\r]+', ' ', 'g'))
             ORDER BY doc_id) AS rn
    FROM documents) WHERE rn = 1
),
sh AS (
  SELECT doc_id, {_SHINGLES_SQL} AS s
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM rep)
),
sig AS (
  SELECT doc_id, [{', '.join(_MH)}] AS m FROM sh
),
bands AS (
  SELECT doc_id, j, CASE j {' '.join(f"WHEN {j} THEN {b}" for j, b in enumerate(_MH_BANDS8))} END AS bk
  FROM sig CROSS JOIN generate_series(0, 7) AS g(j)
  QUALIFY count(*) OVER (PARTITION BY j, bk) <= 1024
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.j = b.j AND a.bk = b.bk AND a.doc_id < b.doc_id
)
SELECT c.id_a, c.id_b,
       CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
         / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))) AS jaccard
FROM cand c
JOIN sh sa ON sa.doc_id = c.id_a
JOIN sh sb ON sb.doc_id = c.id_b
WHERE CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
        / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))) >= 0.5
""",
    tags=("dedup",),
)
def q_dedup_near_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION near-dup path end-to-end, oracle-certified
    (ops.text.near_dup_pairs_lsh): MinHash-LSH banding (8 bands × 2
    rows, exact-dup flood guard) generates linear-scale candidates,
    then the EXACT shingle Jaccard is computed on candidates only and
    thresholded at 0.5. Recall vs the all-pairs formulation is the
    quantified banding contract (p = 1 − (1 − J²)⁸ ≈ 0.90 at J = 0.5,
    → 1 above); the emitted pair set itself is deterministic and
    bit-reproducible in DuckDB — the scale path is hash-verified, not
    just smoke-tested. The band-bucket cap (max_bucket=1024, guarding
    near-identical floods) is mirrored in the oracle's QUALIFY so the
    contract holds at every SF."""
    d = load_table(spark, sf_dir, "documents")
    return TX.near_dup_pairs_lsh(d, threshold=0.5, num_hashes=16, bands=8)


_SIMHASH_BITS_SQL = " + ".join(
    f"CASE WHEN list_sum(list_transform(hs, h -> CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END)) > 0 THEN {1 << b} ELSE 0 END"
    for b in range(16)
)


@declare(
    "q_dedup_simhash_port",
    oracle=f"""
WITH sh AS (
  SELECT doc_id, {_SHINGLES_SQL} AS s
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
),
hashed AS (
  SELECT doc_id,
         list_transform(s, x -> CAST(concat('0x', substr(md5(x), 1, 15)) AS BIGINT)) AS hs
  FROM sh
)
SELECT doc_id, CAST({_SIMHASH_BITS_SQL} AS BIGINT) AS simhash
FROM hashed
""",
    tags=("text", "dedup"),
)
def q_dedup_simhash_port(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-portable 16-bit SimHash per document
    (ops.text.simhash_portable): 60-bit md5-derived shingle hashes,
    ±1 bit votes, sign → bit — bit-identical in DuckDB, so the SimHash
    fingerprint family gets an exact oracle."""
    d = load_table(spark, sf_dir, "documents")
    return TX.simhash_portable(d, "text", "doc_id", 3, 16)


@declare(
    "q_dedup_embcos",
    oracle=f"""
WITH p AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.label AS label,
         list_sum(list_transform(generate_series(1, 64),
                                 i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
         / (SQRT({_SQ_SUM.format(v='a.embedding')}) * SQRT({_SQ_SUM.format(v='b.embedding')})) AS cos
  FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
)
SELECT id_a, id_b, label, ROUND(cos, 4) + 0.0 AS cos_sim
FROM p WHERE cos >= 0.35
""",
    tags=("dedup", "vector"),
)
def q_dedup_embcos(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs within label blocks: blocked
    self-join → JVM-side cosine (higher-order fns, no UDF) → threshold.
    Cosine is a fixed-order double sum, bit-identical across engines;
    rounded on emit only. At 100 TB the label block becomes an LSH/IVF
    bucket key — executable since r7 via ops.vector.semantic_dedup_ann /
    ivf_multiprobe_assign (q_dedup_semantic_ann) — so the self-join
    never goes n²; a hot block is salt-able because cosine needs no
    other co-location."""
    e = load_table(spark, sf_dir, "embeddings")
    a = e.select(
        F.col("vec_id").alias("id_a"),
        "label",
        F.col("embedding").alias("va"),
        VX.l2_norm(F.col("embedding")).alias("na"),
    )
    b = e.select(
        F.col("vec_id").alias("id_b"),
        "label",
        F.col("embedding").alias("vb"),
        VX.l2_norm(F.col("embedding")).alias("nb"),
    )
    # safe_div: zero-norm vectors give NULL cosine (DuckDB semantics) —
    # the threshold filter drops them identically in both engines, and
    # ANSI mode no longer raises DIVIDE_BY_ZERO (fuzz-harness finding)
    cos = VX.safe_div(VX.dot(F.col("va"), F.col("vb")), F.col("na") * F.col("nb"))
    return (
        a.join(b, ["label"])
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(cos >= 0.35)
        .select("id_a", "id_b", "label", pin_zero(F.round(cos, 4)).alias("cos_sim"))
    )


@declare(
    "q_vec_norm",
    oracle=f"""
SELECT vec_id,
       ROUND(SQRT({_SQ_SUM.format(v='embedding')}), 4) AS l2,
       LEN(embedding) AS dim,
       ROUND(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE))), 4) + 0.0 AS comp_sum
FROM embeddings
""",
    tags=("vector",),
)
def q_vec_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding L2 norm + component sum via higher-order functions
    (ops.vector.l2_norm) — JVM-side, no UDF."""
    e = load_table(spark, sf_dir, "embeddings")
    comp_sum = F.aggregate(
        F.transform("embedding", lambda x: x.cast("double")), F.lit(0.0), lambda s, v: s + v
    )
    return e.select(
        "vec_id",
        F.round(VX.l2_norm(F.col("embedding")), 4).alias("l2"),
        F.size("embedding").alias("dim"),
        pin_zero(F.round(comp_sum, 4)).alias("comp_sum"),
    )


@declare(
    "q_vec_cosine_knn",
    oracle=f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
c AS (SELECT vec_id, embedding AS cv FROM embeddings),
scored AS (
  SELECT q.query_id, c.vec_id,
         ROUND(
           list_sum(list_transform(generate_series(1, 64),
                                   i -> CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE)))
           / (SQRT({_SQ_SUM.format(v='qv')}) * SQRT({_SQ_SUM.format(v='cv')})), 4) + 0.0 AS cos_sim
  FROM q JOIN c ON c.vec_id != q.query_id
)
SELECT * FROM (
  SELECT query_id, vec_id, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rnk
  FROM scored
) WHERE rnk <= 5
""",
    tags=("vector", "bench"),
)
def q_vec_cosine_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 (ops.vector.knn_bruteforce): broadcast
    queries × corpus, rank on rounded cosine with key tie-break."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("query_id"), "embedding")
    return VX.knn_bruteforce(q, e, k=5).select("query_id", "vec_id", "cos_sim", "rnk")


@declare(
    "q_vec_centroid",
    oracle="""
SELECT label, i - 1 AS dim,
       ROUND(AVG(CAST(embedding[i] AS DOUBLE)), 4) + 0.0 AS mean_val
FROM embeddings CROSS JOIN generate_series(1, 64) AS g(i)
GROUP BY 1, 2
""",
    tags=("vector",),
)
def q_vec_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid components via posexplode → (label, dim) mean
    (ops.vector.centroids internals; array re-assembly is pytest-covered).
    pin_zero: a centroid component is a mean of signed floats, so
    round() can land on signed zero and the engines disagree on its
    sign (caught by the strict -0.0 gate at sf0.001, r10)."""
    e = load_table(spark, sf_dir, "embeddings")
    return (
        e.select("label", F.posexplode("embedding").alias("dim", "val"))
        .groupBy("label", "dim")
        .agg(
            pin_zero(F.round(F.avg(F.col("val").cast("double")), 4)).alias("mean_val")
        )
    )


def _lsh_ann_sql(k: int = 5, n_planes: int = 4) -> str:
    """DuckDB twin of ops.vector.lsh_bucket_ann (multi_probe=1). The
    seeded hyperplanes are deterministic floats embedded as literals in
    BOTH plans (repr round-trips exactly through each engine's double
    parser), and each projection is the same sequential IEEE sum, so
    bucket bits match bit-for-bit. A sign flip would need |v·p| below
    ~1e-15 — never observed across SFs; the local parity gate would
    catch it before declaration if a new corpus ever produced one."""
    planes = VX.hyperplanes(64, n_planes, seed=42)
    rows = ",\n  ".join(
        "({}, [{}])".format(i, ", ".join(repr(float(x)) for x in p))
        for i, p in enumerate(planes)
    )
    masks = ", ".join(f"({m})" for m in [0] + [1 << b for b in range(n_planes)])
    return f"""
WITH planes(pid, pl) AS (VALUES
  {rows}
),
bk AS (
  SELECT vec_id,
         CAST(SUM(CASE WHEN dp > 0.0 THEN 1 << pid ELSE 0 END) AS BIGINT) AS b
  FROM (
    SELECT e.vec_id, p.pid,
           list_sum(list_transform(generate_series(1, 64),
                                   i -> CAST(e.embedding[i] AS DOUBLE) * p.pl[i])) AS dp
    FROM embeddings e CROSS JOIN planes p
  ) GROUP BY vec_id
),
qb AS (
  SELECT bk.vec_id AS query_id, xor(bk.b, m.m) AS b
  FROM bk CROSS JOIN (VALUES {masks}) m(m)
  WHERE bk.vec_id < 5
),
cand AS (
  SELECT qb.query_id, bk.vec_id
  FROM qb JOIN bk USING (b)
  WHERE bk.vec_id != qb.query_id
),
sc AS (
  SELECT cand.query_id, cand.vec_id,
         ROUND(
           list_sum(list_transform(generate_series(1, 64),
                                   i -> CAST(eq.embedding[i] AS DOUBLE) * CAST(ec.embedding[i] AS DOUBLE)))
           / (SQRT({_SQ_SUM.format(v='eq.embedding')}) * SQRT({_SQ_SUM.format(v='ec.embedding')})), 4) + 0.0 AS cos_sim
  FROM cand
  JOIN embeddings eq ON eq.vec_id = cand.query_id
  JOIN embeddings ec ON ec.vec_id = cand.vec_id
)
SELECT * FROM (
  SELECT query_id, vec_id, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rnk
  FROM sc
) WHERE rnk <= {k}
"""


@declare("q_vec_ann_lsh", oracle=_lsh_ann_sql(), tags=("vector",))
def q_vec_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH bucketed ANN (ops.vector.lsh_bucket_ann, seeded
    hyperplanes, Hamming-≤1 multi-probe on the query side): the
    10⁹-vector scale path for near-dup candidate generation.
    Oracle-exact since r3 — the hyperplanes are deterministic literals
    and every projection/bucket/rank step is portable (see
    _lsh_ann_sql); recall vs exact kNN stays asserted in pytest."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("query_id"), "embedding")
    return VX.lsh_bucket_ann(q, e, k=5, n_planes=4, multi_probe=1).select(
        "query_id", "vec_id", "cos_sim", "rnk"
    )


@declare(
    "q_mm_binary",
    oracle="""
SELECT doc_id,
       octet_length(encode(text)) AS byte_len,
       md5(text) AS md5_hex,
       lang AS meta_lang
FROM documents
""",
    tags=("multimodal",),
)
def q_mm_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal binary-column plumbing over real data: text bytes as a
    BinaryType payload + md5 content fingerprint + typed metadata struct
    (ops/mm.py holds the decode/feature pipelines; binary payloads are
    manufactured since testdata has no binary column — FIXTURES.md)."""
    d = load_table(spark, sf_dir, "documents")
    payload = F.col("text").cast("binary")
    meta = F.struct(F.col("lang"), F.col("source"))
    return d.select(
        "doc_id",
        F.octet_length(payload).alias("byte_len"),
        F.md5(payload).alias("md5_hex"),
        meta.getField("lang").alias("meta_lang"),
    )


@declare(
    "q_text_tfidf",
    oracle="""
WITH tf AS (
  SELECT doc_id, term, COUNT(*) AS tf
  FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS term FROM documents)
  GROUP BY doc_id, term
),
dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
         tf.tf * (CAST(n.n_docs AS DOUBLE) / dfreq.df) AS score
  FROM tf JOIN dfreq USING (term) CROSS JOIN n
)
SELECT doc_id, term, tf, df, score
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY doc_id ORDER BY score DESC, term
  ) AS rn FROM scored
) WHERE rn <= 3
""",
    tags=("text",),
)
def q_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document.

    Uses the *linear* idf (tf · N/df) rather than log-idf: tf, N, df are
    integers, and one IEEE divide + multiply is correctly rounded in
    both engines, so ranking is bit-deterministic cross-engine (a log's
    last-ulp can differ between libm implementations and silently flip
    ranks near ties — SURVEY §2.0 drift class). Ties break on term.

    Scale: tf is one shuffle on (doc_id, term) post-explode with
    map-side combine; df (one row per vocab term — sublinear in corpus
    size by Heaps' law) is BROADCAST back onto tf, so the big doc-term
    relation never re-shuffles on term and stopword-term skew can't
    form a hot reduce bucket (r2: halved the 10× stress time, 6.8 s →
    3.7 s). For a vocab beyond broadcast range (≳10⁷ terms) drop the
    hint and let AQE pick a skew-split shuffle join.
    """
    d = load_table(spark, sf_dir, "documents")
    words = d.select("doc_id", F.explode(TX.tokens("text")).alias("term"))
    # One exchange instead of two for the heavy side: hashpartitioning
    # on doc_id alone satisfies BOTH the (doc_id, term) aggregation's
    # clustered distribution ({doc_id} ⊆ keys) and the final top-3
    # window's partitionBy(doc_id), so Catalyst plans a single shuffle
    # where groupBy-then-window needed two (r5: 0.86 s → 0.63 s at
    # sf0.1, 7 → 6 exchanges; skew bound = one document's terms).
    words = words.repartition("doc_id")
    tf = words.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = d.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("score", F.col("tf") * (F.col("n_docs").cast("double") / F.col("df")))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "term", "tf", "df", "score")
    )


@declare(
    "q_dedup_cc",
    oracle=f"""
WITH RECURSIVE sh AS (
  SELECT doc_id, lang, {_SHINGLES_SQL} AS s
  FROM (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents)
),
pairs AS (
  SELECT a.doc_id AS u, b.doc_id AS v
  FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
          / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.2
),
sym AS (SELECT u, v FROM pairs UNION SELECT v, u FROM pairs),
reach(src, dst) AS (
  SELECT u, u FROM sym
  UNION
  SELECT r.src, s.v FROM reach r JOIN sym s ON r.dst = s.u
)
SELECT src AS doc_id, MIN(dst) AS component
FROM reach GROUP BY src
""",
    tags=("dedup", "graph"),
)
def q_dedup_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters: connected components over the shingle-Jaccard
    pair graph (ops.graph.connected_components — iterative min-label
    propagation; the oracle computes the same components via a
    recursive-CTE transitive closure, feasible at oracle scale only).
    component = MIN(doc_id) of the cluster: the canonical keeper id the
    dedup pipeline retains.

    ``max_bucket=None`` (r6): the declared oracle is the EXACT
    uncapped all-pairs closure, so the hub-shingle cap must be off for
    the contract to hold at every SF (current testdata's max posting
    list is 14 docs, which would MASK a divergence, not prevent it —
    the ADVICE latent-break class). Production clustering at 100 TB
    would run the capped/banded pair path instead.

    Exact-duplicate collapse (r6, second pass — the text-space twin of
    q_dedup_semantic's vector collapse, PROVABLY semantics-preserving
    against this uncapped oracle): byte-identical docs have identical
    shingle sets ⇒ Jaccard 1 ⇒ they always form a clique with
    component = group-min id. So collapse each (lang, raw-text-md5)
    group to its min-id rep BEFORE the n² pair stage, run pairs+CC over
    reps only, and re-attach members through their rep — emitting a
    member row when the rep has an edge (its whole group joins the
    rep's component) OR the group has k ≥ 2 (the clique exists even
    edgeless). Group min = rep ⇒ component min over reps = min over all
    members, and identical text ⇒ identical pair set, so no edge is
    lost or invented. Raw md5, NOT the normalized text_hash — two docs
    differing only in case/whitespace have different shingles and must
    NOT collapse. 10× replicated corpus: the rep set equals the 1×
    corpus, killing the quadratic pair blow-up (ratio 7.2 → ~1)."""
    from pipetree_spark.ops.graph import connected_components

    d = load_table(spark, sf_dir, "documents")
    h = d.select(
        "doc_id", "lang", "text", F.md5(F.col("text").cast("binary")).alias("__rh")
    )
    grp = h.groupBy("lang", "__rh").agg(
        F.min("doc_id").alias("rep_id"), F.count("*").alias("k")
    )
    reps = d.join(
        grp.select(F.col("rep_id").alias("doc_id"), F.lit(1).alias("__isrep")),
        "doc_id",
    ).select("doc_id", "lang", "text")
    pairs = TX.near_dup_pairs(reps, threshold=0.2, max_bucket=None).select(
        "id_a", "id_b"
    )
    cc = connected_components(pairs, src="id_a", dst="id_b")
    mem = h.select("doc_id", "lang", "__rh").join(grp, ["lang", "__rh"])
    lab = mem.join(cc, mem["rep_id"] == cc["node"], "left")
    return lab.filter(F.col("node").isNotNull() | (F.col("k") >= 2)).select(
        "doc_id", F.coalesce("component", "rep_id").alias("component")
    )


@declare(
    "q_dedup_keep_best",
    oracle=f"""
WITH RECURSIVE sh AS (
  SELECT doc_id, lang, {_SHINGLES_SQL} AS s
  FROM (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents)
),
pairs AS (
  SELECT a.doc_id AS u, b.doc_id AS v
  FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
          / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.2
),
sym AS (SELECT u, v FROM pairs UNION SELECT v, u FROM pairs),
reach(src, dst) AS (
  SELECT u, u FROM sym
  UNION
  SELECT r.src, s.v FROM reach r JOIN sym s ON r.dst = s.u
),
comp AS (SELECT src AS doc_id, MIN(dst) AS component FROM reach GROUP BY src),
lab AS (
  SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component, d.n_chars
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
)
SELECT doc_id, component,
       CAST(row_number() OVER (
              PARTITION BY component ORDER BY n_chars DESC, doc_id) = 1
            AS INT) AS is_kept
FROM lab
""",
    tags=("dedup", "graph", "pipeline"),
)
def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document selection — the dedup pipeline's FINAL output:
    near-dup pairs → connected components → keep the highest-quality
    doc per cluster (longest text, doc_id tie-break), singletons keep
    themselves. Emits the full audit table (doc_id, component,
    is_kept); filtering is_kept=1 yields the training corpus.

    Scale shape: the pair/CC stages are the audited linear paths
    (inverted-index pairs, min-label propagation); the selection is one
    window partitioned by component — perfectly parallel, skew bounded
    by the largest duplicate cluster (which exact_dedup's flood guard
    already bounds upstream). The Spark side runs sf0.1 in ~10 s; the
    ORACLE's recursive-CTE transitive closure (same as q_dedup_cc) is
    feasible at the driver's sf0.01 grading scale (~17 s) but not at
    sf0.1 — an oracle-cost limit, not an engine one.

    ``max_bucket=None`` (r6, ADVICE medium): the oracle computes the
    uncapped exact all-pairs Jaccard, so the hub-shingle cap must be
    off — any posting list >1024 in a lang block would otherwise make
    query and oracle silently diverge (current testdata masks it at 14
    docs/shingle max). Production keep-best at 100 TB would feed the
    capped/banded pair path into the same CC + argmax tail.

    Exact-duplicate collapse (r6, same proof as q_dedup_cc): byte-
    identical docs form J=1 cliques with component = group min, so
    pairs+CC run over (lang, raw-md5) min-id reps only and members
    re-attach through their rep — every doc still emits (this query's
    contract is the FULL audit table), a true singleton's rep IS itself,
    and the per-component quality argmax runs after re-attach, so the
    is_kept flag is computed over the identical member set."""
    from pipetree_spark.ops.graph import connected_components

    d = load_table(spark, sf_dir, "documents")
    h = d.select(
        "doc_id", "lang", "n_chars", F.md5(F.col("text").cast("binary")).alias("__rh")
    )
    grp = h.groupBy("lang", "__rh").agg(F.min("doc_id").alias("rep_id"))
    reps = d.join(
        grp.select(F.col("rep_id").alias("doc_id")).distinct(), "doc_id"
    ).select("doc_id", "lang", "text")
    pairs = TX.near_dup_pairs(reps, threshold=0.2, max_bucket=None).select("id_a", "id_b")
    cc = connected_components(pairs, src="id_a", dst="id_b")
    mem = h.select("doc_id", "lang", "n_chars", "__rh").join(grp, ["lang", "__rh"])
    lab = (
        mem.join(cc, mem["rep_id"] == cc["node"], "left")
        .select(
            "doc_id",
            F.coalesce("component", "rep_id").alias("component"),
            "n_chars",
        )
    )
    w = Window.partitionBy("component").orderBy(F.col("n_chars").desc(), F.col("doc_id"))
    return lab.select(
        "doc_id",
        "component",
        (F.row_number().over(w) == 1).cast("int").alias("is_kept"),
    )


# Shared by q_text_decontam and q_text_decontam_bloom: the bloom twin
# prefilters candidates but verifies exactly, so the ANSWER is identical.
_DECONTAM_ORACLE = f"""
WITH sh AS (
  SELECT doc_id, {_SHINGLES_SQL} AS s
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
),
eval_grams AS (
  SELECT DISTINCT UNNEST(s) AS g FROM sh WHERE doc_id < 10
),
train AS (SELECT doc_id, s FROM sh WHERE doc_id >= 10),
hits AS (
  SELECT t.doc_id, COUNT(DISTINCT g) AS n_shared
  FROM train t JOIN eval_grams e ON list_contains(t.s, e.g)
  GROUP BY t.doc_id
)
SELECT t.doc_id,
       COALESCE(h.n_shared, 0) AS n_shared,
       CAST(COALESCE(h.n_shared, 0) AS DOUBLE) / len(t.s) AS contamination,
       CAST(COALESCE(h.n_shared, 0) >= 3 AS INT) AS flagged
FROM train t LEFT JOIN hits h ON t.doc_id = h.doc_id
"""


@declare(
    "q_text_decontam",
    oracle=_DECONTAM_ORACLE,
    tags=("text", "dedup"),
)
def q_text_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training docs whose shingles
    overlap an eval set (here: doc_id < 10 plays the benchmark).

    The eval shingle set is tiny at any scale → broadcast LEFT join on
    the exploded training shingles (an inverted-index probe, not a
    containment scan); per-doc overlap counts and a contamination
    ratio (integer/integer — exact) drive the ≥3-shingle flag, the
    standard n-gram-collision decontamination rule.

    r15 single-pass re-plan (guide §2.3): the old shape consumed the
    shingled train frame on TWO join branches (exploded probe for the
    hit counts, a second full shingle pass just for per-doc sizes) —
    Catalyst cannot share scans across branches, so the CPU-dense
    shingle build ran twice per run. Now ONE exploded pass feeds one
    aggregate: the eval probe is a broadcast LEFT join (keeps
    zero-overlap docs — every doc has ≥1 shingle by word_shingles'
    short-text fallback, so groupBy(doc_id) covers the full corpus),
    ``sz`` rides the rows, and because word_shingles emits DISTINCT
    grams per doc, COUNT(DISTINCT hit grams) ≡ SUM(hit flag) — a pure
    map-side-combinable sum, so the only corpus shuffle is |docs|
    partially-aggregated rows. At 100 TB: one scan, map-side broadcast
    probes, one narrow exchange (plan: 2 corpus scans → 1).
    """
    from pipetree_spark.ops.relational import fan_out

    d = load_table(spark, sf_dir, "documents")
    # r15 (guide §2.5): only the TRAIN branch is CPU-dense (it shingles
    # the whole corpus) — the eval branch's doc_id < 10 pushes to the
    # scan and shingles a handful of rows, so fanning it out would add
    # an exchange for nothing.
    sh = d.select("doc_id", TX.word_shingles("text", 3).alias("s"))
    eval_grams = (
        sh.filter(F.col("doc_id") < 10)
        .select(F.explode("s").alias("g"))
        .distinct()
    )
    train = (
        fan_out(d.filter(F.col("doc_id") >= 10))
        .select("doc_id", TX.word_shingles("text", 3).alias("s"))
        .withColumn("sz", F.size("s"))
    )
    train_tok = train.select("doc_id", "sz", F.explode("s").alias("g"))
    per_doc = (
        train_tok.join(
            F.broadcast(eval_grams.withColumn("__hit", F.lit(1))), "g", "left"
        )
        .groupBy("doc_id")
        .agg(
            F.max("sz").alias("sz"),
            F.sum(F.when(F.col("__hit") == 1, 1).otherwise(0)).alias("n_shared"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_shared",
        (F.col("n_shared").cast("double") / F.col("sz")).alias("contamination"),
        (F.col("n_shared") >= 3).cast("int").alias("flagged"),
    )


@declare(
    "q_text_decontam_bloom",
    oracle=_DECONTAM_ORACLE,
    tags=("text", "dedup"),
)
def q_text_decontam_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_text_decontam's production twin behind a broadcast Bloom
    prefilter (ops/bloom.py): the eval shingle set aggregates into a
    16 KiB bitmap ONCE, every exploded training shingle is tested
    map-side (xxhash64 probes, codegen, no UDF), and only the
    survivors reach the exact broadcast semi-verify. Identical answer
    (a Bloom filter has no false negatives and survivors are verified
    exactly — same oracle as q_text_decontam by construction).

    The honest regime (measured, SCALING.md r9): while the eval set
    fits Spark's broadcast threshold, the exact twin's broadcast semi
    join is ALREADY a perfect map-side prefilter — at sf0.1 this twin
    is ~1.2× slower (5 extra xxhash64 per shingle buys nothing). The
    bitmap wins when the member set OUTGROWS broadcast-as-hash-relation
    while its bitmap still ships (10⁸ grams ≈ GBs of join relation vs
    ~100 MB of bits): against a 4M-key non-broadcastable member set and
    20M probes, prefilter+verify measured 2.6× faster end-to-end than
    the shuffle semi join (prefilter alone 16×, pass-rate 0.6% vs 0.5%
    true members — FP 0.12%, matching the sizing formula). This query
    certifies the machinery at driver scale; ops/bloom.py documents the
    sizing rule for the regime that needs it.
    """
    from pipetree_spark.ops import bloom as BL
    from pipetree_spark.ops.relational import fan_out

    d = load_table(spark, sf_dir, "documents")
    sh = d.select("doc_id", TX.word_shingles("text", 3).alias("s"))
    eval_grams = (
        sh.filter(F.col("doc_id") < 10)
        .select(F.explode("s").alias("g"))
        .distinct()
    )
    bitmap = BL.bloom_build(eval_grams, "g")
    # r15 (guide §2.5): fan_out the CPU-dense train branch only — the
    # eval branch's doc_id < 10 pushes to the scan (see q_text_decontam)
    train = (
        fan_out(d.filter(F.col("doc_id") >= 10))
        .select("doc_id", TX.word_shingles("text", 3).alias("s"))
        .withColumn("sz", F.size("s"))
    )
    # r15 single-pass re-plan (guide §2.3, see q_text_decontam): one
    # exploded pass, one map-side-combinable aggregate. The Bloom
    # prefilter becomes the GUARD of the hit flag — a gram counts only
    # if it passes the bitmap probe AND the exact broadcast verify
    # (identical answer: the filter-then-verify and guard formulations
    # agree because a Bloom filter has no false negatives) — so the
    # bitmap build, the map-side xxhash64 probes and the exact verify
    # are all still exercised under the driver's hash.
    train_tok = train.select("doc_id", "sz", F.explode("s").alias("g"))
    verified = F.when(
        BL.bloom_might_contain("g", "bloom_bits") & (F.col("__hit") == 1), 1
    ).otherwise(0)
    per_doc = (
        train_tok.crossJoin(F.broadcast(bitmap))
        .join(F.broadcast(eval_grams.withColumn("__hit", F.lit(1))), "g", "left")
        .groupBy("doc_id")
        .agg(F.max("sz").alias("sz"), F.sum(verified).alias("n_shared"))
    )
    return per_doc.select(
        "doc_id",
        "n_shared",
        (F.col("n_shared").cast("double") / F.col("sz")).alias("contamination"),
        (F.col("n_shared") >= 3).cast("int").alias("flagged"),
    )


def _kmeans_cte(k: int = 8, scale: int = 1 << 20, recursive: bool = False) -> str:
    """Shared DuckDB CTE chain for ops.vector.kmeans_portable_fit
    (2 unrolled Lloyd iterations): ends with ``c2`` (final quantized
    centroids) and ``a2`` (final assignment). Every assignment-deciding
    value is exact integer math — see the op's docstring.
    ``recursive=True`` emits ``WITH RECURSIVE`` so a recursive CTE can
    be appended to the chain (q_dedup_semantic_ann)."""
    dist = (
        "CAST(list_sum(list_transform(list_zip(v.qv, c.cv),"
        " p -> (p[1]-p[2])*(p[1]-p[2]))) AS BIGINT)"
    )
    return f"""
WITH {"RECURSIVE " if recursive else ""}q AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(FLOOR(CAST(x AS DOUBLE) * {float(scale)}) AS BIGINT)) AS qv
  FROM embeddings
),
init AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid, qv AS cv
  FROM (SELECT vec_id, qv FROM q ORDER BY vec_id LIMIT {k})
),
a1 AS (
  SELECT v.vec_id, MIN({dist} * {k} + c.cid) % {k} AS cluster
  FROM q v CROSS JOIN init c
  GROUP BY v.vec_id
),
m1 AS (
  SELECT cluster, UNNEST(list_zip(qv, range(1, {64 + 1}))) AS p
  FROM a1 JOIN q USING (vec_id)
),
c2 AS (
  SELECT cluster AS cid, list(cd ORDER BY i) AS cv
  FROM (
    SELECT cluster, p[2] AS i,
           CAST(FLOOR(CAST(SUM(p[1]) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cd
    FROM m1 GROUP BY cluster, p[2]
  ) GROUP BY cluster
),
a2 AS (
  SELECT v.vec_id, MIN({dist} * {k} + c.cid) % {k} AS cluster
  FROM q v CROSS JOIN c2 c
  GROUP BY v.vec_id
)"""


def _kmeans_sql(k: int = 8, scale: int = 1 << 20) -> str:
    return (
        _kmeans_cte(k, scale)
        + """
SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_vecs, MIN(vec_id) AS rep_vec
FROM a2 GROUP BY cluster
"""
    )


def _pca_power_sql(iters: int = 3, scale: int = 1 << 20, rescale: int = 1 << 10) -> str:
    """DuckDB twin of ops.vector.pca_power_portable (unrolled power
    iteration; exact-integer loadings, identical IEEE rescale exprs)."""
    parts = [
        f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(FLOOR(CAST(x AS DOUBLE) * {float(scale)}) AS BIGINT)) AS qv
  FROM embeddings
),
qd AS (
  SELECT vec_id, u.p[2] AS i, u.p[1] AS x
  FROM (SELECT vec_id, UNNEST(list_zip(qv, range(1, 65))) AS p FROM q) u
),
mu AS (
  SELECT i, CAST(FLOOR(CAST(SUM(x) AS DOUBLE) / COUNT(*)) AS BIGINT) AS m
  FROM qd GROUP BY i
),
cq AS (
  SELECT vec_id, qd.i, qd.x - mu.m AS x FROM qd JOIN mu USING (i)
),
t1 AS (
  SELECT vec_id, CAST(SUM(x) AS BIGINT) AS t FROM cq GROUP BY vec_id
)"""
    ]
    for it in range(1, iters + 1):
        nxt = it + 1
        parts.append(
            f""",
mt{it} AS (SELECT MAX(ABS(t)) AS m FROM t{it}),
s{it} AS (
  SELECT vec_id, CAST(FLOOR(CAST(t AS DOUBLE) / m * {float(rescale)}) AS BIGINT) AS s
  FROM t{it}, mt{it}
),
w{it} AS (
  SELECT cq.i, CAST(SUM(s{it}.s * cq.x) AS BIGINT) AS w
  FROM cq JOIN s{it} USING (vec_id) GROUP BY cq.i
),
mw{it} AS (SELECT MAX(ABS(w)) AS m FROM w{it}),
v{it} AS (
  SELECT i, CAST(FLOOR(CAST(w AS DOUBLE) / m * {float(rescale)}) AS BIGINT) AS v
  FROM w{it}, mw{it}
)"""
        )
        if it < iters:
            parts.append(
                f""",
t{nxt} AS (
  SELECT cq.vec_id, CAST(SUM(cq.x * v{it}.v) AS BIGINT) AS t
  FROM cq JOIN v{it} USING (i) GROUP BY cq.vec_id
)"""
            )
    last = f"v{iters}"
    parts.append(
        f""",
mx AS (SELECT MAX(ABS(v)) AS m FROM {last}),
sgn AS (
  SELECT CASE WHEN (
    SELECT v FROM {last}, mx WHERE ABS(v) = m ORDER BY i LIMIT 1
  ) < 0 THEN -1 ELSE 1 END AS s
)
SELECT CAST(i - 1 AS BIGINT) AS component, CAST(v * s AS BIGINT) AS loading
FROM {last}, sgn"""
    )
    return "".join(parts)


@declare("q_vec_pca_port", oracle=_pca_power_sql(), tags=("vector",))
def q_vec_pca_port(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-portable power-iteration direction
    (ops.vector.pca_power_portable: integer-quantized, 3 steps,
    deterministic sign). Certifies the PCA family's direction statistic
    with an exact oracle — defined-algorithm determinism, not claimed
    convergence."""
    e = load_table(spark, sf_dir, "embeddings")
    return VX.pca_power_portable(e, "embedding", "vec_id", iters=3)


def _ivf_port_sql(
    k: int = 5, n_probe: int = 2, n_clusters: int = 8, scale: int = 1 << 20
) -> str:
    """DuckDB twin of ops.vector.ivf_ann_portable: the kmeans CTE chain
    (coarse quantizer) + integer probe selection + the q_vec_cosine_knn
    rounded-cosine re-rank policy."""
    dist = (
        "CAST(list_sum(list_transform(list_zip(s.qv, c.cv),"
        " p -> (p[1]-p[2])*(p[1]-p[2]))) AS BIGINT)"
    )
    return (
        _kmeans_cte(n_clusters, scale)
        + f""",
qs AS (SELECT vec_id AS query_id, qv FROM q WHERE vec_id < 5),
pd AS (
  SELECT s.query_id, c.cid, {dist} AS dist
  FROM qs s CROSS JOIN c2 c
),
pr AS (
  SELECT query_id, cid AS cluster FROM pd
  QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY dist, cid) <= {n_probe}
),
cand AS (
  SELECT pr.query_id, a2.vec_id
  FROM pr JOIN a2 ON a2.cluster = pr.cluster
  WHERE a2.vec_id != pr.query_id
),
sc AS (
  SELECT cand.query_id, cand.vec_id,
         ROUND(
           list_sum(list_transform(generate_series(1, 64),
                                   i -> CAST(eq.embedding[i] AS DOUBLE) * CAST(ec.embedding[i] AS DOUBLE)))
           / (SQRT({_SQ_SUM.format(v='eq.embedding')}) * SQRT({_SQ_SUM.format(v='ec.embedding')})), 4) + 0.0 AS cos_sim
  FROM cand
  JOIN embeddings eq ON eq.vec_id = cand.query_id
  JOIN embeddings ec ON ec.vec_id = cand.vec_id
)
SELECT * FROM (
  SELECT query_id, vec_id, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rnk
  FROM sc
) WHERE rnk <= {k}
"""
    )


@declare("q_vec_ann_ivf_port", oracle=_ivf_port_sql(), tags=("vector",))
def q_vec_ann_ivf_port(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with an exact oracle (ops.vector.ivf_ann_portable):
    portable-Lloyd coarse quantizer + integer probe selection +
    cluster-id equi-join + rounded-cosine re-rank. The whole ANN path —
    partitioning, probing, candidate join, ranking — is deterministic
    and hash-certifiable."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("query_id"), "embedding")
    return VX.ivf_ann_portable(q, e, k=5, n_probe=2, n_clusters=8).select(
        "query_id", "vec_id", "cos_sim", "rnk"
    )


def _pq_cte(
    m: int = 4,
    n_codes: int = 16,
    dim: int = 64,
    scale: int = 1 << 20,
    p: str = "",
    lead: bool = True,
    src: str = "q",
) -> str:
    """DuckDB CTE chain twin of ops.vector.pq_fit_portable (2 unrolled
    Lloyd iterations per subspace): ends with ``sv`` (quantized
    subvectors), ``cb2`` (final per-subspace codebook) and ``a2``
    (final code assignment). Same exact-integer contract as
    :func:`_kmeans_cte`, with ``(sub)`` added to every grouping key.
    ``p`` prefixes every CTE name and ``lead=False`` drops the
    ``WITH q`` head so the chain composes with :func:`_kmeans_cte`
    (which defines the identical ``q`` plus clashing a1/m1/a2 names) —
    used by the IVF-PQ composition oracles. ``src`` points the chain
    at an alternative ``(vec_id, qv)`` CTE (the residual frame in
    q_vec_ann_ivfpq_res)."""
    d_sub = dim // m
    dist = (
        f"CAST(list_sum(list_transform(list_zip({p}sv.qsv, c.cv),"
        " p -> (p[1]-p[2])*(p[1]-p[2]))) AS BIGINT)"
    )
    head = (
        f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(FLOOR(CAST(x AS DOUBLE) * {float(scale)}) AS BIGINT)) AS qv
  FROM embeddings
),"""
        if lead
        else ","
    )
    return f"""{head}
{p}sv AS (
  SELECT {src}.vec_id, subs.sub,
         list_slice(qv, subs.sub*{d_sub}+1, subs.sub*{d_sub}+{d_sub}) AS qsv
  FROM {src} CROSS JOIN (SELECT UNNEST(range({m})) AS sub) subs
),
{p}ranked AS (
  SELECT vec_id, CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid
  FROM (SELECT vec_id FROM {src} ORDER BY vec_id LIMIT {n_codes})
),
{p}cb1 AS (
  SELECT {p}sv.sub, r.cid, {p}sv.qsv AS cv FROM {p}sv JOIN {p}ranked r USING (vec_id)
),
{p}a1 AS (
  SELECT {p}sv.vec_id, {p}sv.sub, {p}sv.qsv,
         MIN({dist} * {n_codes} + c.cid) % {n_codes} AS code
  FROM {p}sv JOIN {p}cb1 c ON c.sub = {p}sv.sub
  GROUP BY {p}sv.vec_id, {p}sv.sub, {p}sv.qsv
),
{p}m1 AS (
  SELECT sub, code, UNNEST(list_zip(qsv, range(1, {d_sub + 1}))) AS p FROM {p}a1
),
{p}cb2 AS (
  SELECT sub, code AS cid, list(cd ORDER BY i) AS cv
  FROM (
    SELECT sub, code, p[2] AS i,
           CAST(FLOOR(CAST(SUM(p[1]) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cd
    FROM {p}m1 GROUP BY sub, code, p[2]
  ) GROUP BY sub, code
),
{p}a2 AS (
  SELECT {p}sv.vec_id, {p}sv.sub,
         MIN({dist} * {n_codes} + c.cid) % {n_codes} AS code
  FROM {p}sv JOIN {p}cb2 c ON c.sub = {p}sv.sub
  GROUP BY {p}sv.vec_id, {p}sv.sub
)"""


def _pq_codes_sql(m: int = 4, n_codes: int = 16, dim: int = 64) -> str:
    return (
        _pq_cte(m, n_codes, dim)
        + """
SELECT vec_id, array_to_string(list(code ORDER BY sub), ',') AS pq_code
FROM a2 GROUP BY vec_id
"""
    )


def _pq_adc_sql(
    k: int = 5, m: int = 4, n_codes: int = 16, dim: int = 64
) -> str:
    """ADC top-k twin: query subvectors stay exact-quantized, every
    candidate is scored ONLY through its codes' codebook entries."""
    qdist = (
        "CAST(list_sum(list_transform(list_zip(qs.qsv, c.cv),"
        " p -> (p[1]-p[2])*(p[1]-p[2]))) AS BIGINT)"
    )
    return (
        _pq_cte(m, n_codes, dim)
        + f""",
qs AS (SELECT vec_id AS query_id, sub, qsv FROM sv WHERE vec_id < 5),
adc AS (
  SELECT qs.query_id, a2.vec_id, CAST(SUM({qdist}) AS BIGINT) AS adc_dist
  FROM qs
  JOIN a2 ON a2.sub = qs.sub AND a2.vec_id != qs.query_id
  JOIN cb2 c ON c.sub = a2.sub AND c.cid = a2.code
  GROUP BY qs.query_id, a2.vec_id
)
SELECT query_id, vec_id, adc_dist,
       ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc_dist, vec_id) AS rnk
FROM adc
QUALIFY rnk <= {k}
"""
    )


@declare("q_vec_pq_codes", oracle=_pq_codes_sql(), tags=("vector",))
def q_vec_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization compression (ops.vector.pq_fit_portable):
    64 float32 dims → m=4 small-int codes per vector (64× memory cut),
    one Lloyd sub-clustering per contiguous subspace. Emits every
    vector's code word as a CSV string — certifying the full fit
    (init, integer argmin with tie-break, centroid recompute,
    reassignment) bit-exactly against the DuckDB twin. The codes frame
    is what a 10⁹-vector corpus would persist for ADC scans."""
    e = load_table(spark, sf_dir, "embeddings")
    codes, _ = VX.pq_fit_portable(e, "embedding", "vec_id", m=4, n_codes=16, dim=64)
    return codes.select(
        "vec_id",
        F.array_join(
            F.transform("codes", lambda c: c.cast("string")), ","
        ).alias("pq_code"),
    )


@declare("q_vec_pq_adc", oracle=_pq_adc_sql(), tags=("vector",))
def q_vec_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance top-k (ops.vector.pq_adc_topk_portable):
    the FAISS-style scan where candidates never rehydrate their floats —
    each is scored as Σ_s ‖q_s − codebook[s][code_s]‖² from its m=4
    codes alone. Exact integer math end-to-end, so the ANN ranking
    itself (not just a recall bound) is driver-certifiable. Production
    composes this with IVF blocking: probe cells → ADC shortlist →
    exact re-rank on the shortlist only."""
    e = load_table(spark, sf_dir, "embeddings")
    codes, cb = VX.pq_fit_portable(e, "embedding", "vec_id", m=4, n_codes=16, dim=64)
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return VX.pq_adc_topk_portable(q, codes, cb, k=5, m=4, n_codes=16, dim=64).select(
        "query_id", F.col("vec_id"), "adc_dist", "rnk"
    )


def _pq_ivf_sql(
    k: int = 5,
    n_probe: int = 2,
    n_clusters: int = 8,
    m: int = 4,
    n_codes: int = 16,
    dim: int = 64,
    shortlist: int = 20,
    scale: int = 1 << 20,
) -> str:
    """DuckDB twin of ops.vector.pq_ivf_ann_portable: the kmeans CTE
    chain (coarse quantizer + probes, shared with _ivf_port_sql) + the
    prefixed PQ chain + ADC shortlist + the q_vec_cosine_knn rounded-
    cosine re-rank on the shortlist only."""
    cdist = (
        "CAST(list_sum(list_transform(list_zip(s.qv, c.cv),"
        " p -> (p[1]-p[2])*(p[1]-p[2]))) AS BIGINT)"
    )
    qdist = (
        "CAST(list_sum(list_transform(list_zip(qsub.qsv, cb.cv),"
        " p -> (p[1]-p[2])*(p[1]-p[2]))) AS BIGINT)"
    )
    return (
        _kmeans_cte(n_clusters, scale)
        + _pq_cte(m, n_codes, dim, scale, p="pq_", lead=False)
        + f""",
qs AS (SELECT vec_id AS query_id, qv FROM q WHERE vec_id < 5),
pd AS (
  SELECT s.query_id, c.cid, {cdist} AS dist
  FROM qs s CROSS JOIN c2 c
),
pr AS (
  SELECT query_id, cid AS cluster FROM pd
  QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY dist, cid) <= {n_probe}
),
cand AS (
  SELECT pr.query_id, a2.vec_id
  FROM pr JOIN a2 ON a2.cluster = pr.cluster
  WHERE a2.vec_id != pr.query_id
),
qsub AS (SELECT vec_id AS query_id, sub, qsv FROM pq_sv WHERE vec_id < 5),
adc AS (
  SELECT cand.query_id, cand.vec_id, CAST(SUM({qdist}) AS BIGINT) AS adc_dist
  FROM cand
  JOIN pq_a2 ON pq_a2.vec_id = cand.vec_id
  JOIN qsub ON qsub.query_id = cand.query_id AND qsub.sub = pq_a2.sub
  JOIN pq_cb2 cb ON cb.sub = pq_a2.sub AND cb.cid = pq_a2.code
  GROUP BY cand.query_id, cand.vec_id
),
short AS (
  SELECT query_id, vec_id FROM adc
  QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc_dist, vec_id) <= {shortlist}
),
sc AS (
  SELECT short.query_id, short.vec_id,
         ROUND(
           list_sum(list_transform(generate_series(1, {dim}),
                                   i -> CAST(eq.embedding[i] AS DOUBLE) * CAST(ec.embedding[i] AS DOUBLE)))
           / (SQRT({_SQ_SUM.format(v='eq.embedding')}) * SQRT({_SQ_SUM.format(v='ec.embedding')})), 4) + 0.0 AS cos_sim
  FROM short
  JOIN embeddings eq ON eq.vec_id = short.query_id
  JOIN embeddings ec ON ec.vec_id = short.vec_id
)
SELECT * FROM (
  SELECT query_id, vec_id, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rnk
  FROM sc
) WHERE rnk <= {k}
"""
    )


@declare("q_vec_ann_pq_ivf", oracle=_pq_ivf_sql(), tags=("vector",))
def q_vec_ann_pq_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full production ANN composition, oracle-exact end-to-end
    (ops.vector.pq_ivf_ann_portable): IVF coarse probing → ADC
    shortlist scored from m=4 PQ codes alone → exact rounded-cosine
    re-rank on the 20-row shortlist only. The FAISS IVF-PQ shape on
    DataFrames — at 10⁹ vectors the scan touches m longs per probed
    candidate and per-query float work is bounded by the shortlist —
    with every stage (both Lloyd fits, probing, shortlist membership,
    final ranking) deterministic and driver-certifiable."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return VX.pq_ivf_ann_portable(
        q, e, k=5, n_probe=2, n_clusters=8, m=4, n_codes=16, dim=64, shortlist=20
    ).select("query_id", "vec_id", "cos_sim", "rnk")


def _ivfpq_res_sql(
    k: int = 5,
    n_probe: int = 2,
    n_clusters: int = 8,
    m: int = 4,
    n_codes: int = 16,
    dim: int = 64,
    shortlist: int = 20,
    scale: int = 1 << 20,
) -> str:
    """DuckDB twin of ops.vector.ivfpq_residual_ann_portable: the
    kmeans chain, a residual frame (vector minus its cell centroid),
    the prefixed PQ chain pointed at the residuals, per-(query, probed
    cell) query residuals for the ADC scan, then the rounded-cosine
    re-rank."""
    d_sub = dim // m
    cdist = (
        "CAST(list_sum(list_transform(list_zip(s.qv, c.cv),"
        " p -> (p[1]-p[2])*(p[1]-p[2]))) AS BIGINT)"
    )
    qdist = (
        "CAST(list_sum(list_transform(list_zip(qres.qsv, cb.cv),"
        " p -> (p[1]-p[2])*(p[1]-p[2]))) AS BIGINT)"
    )
    return (
        _kmeans_cte(n_clusters, scale)
        + """,
rq AS (
  SELECT a2.vec_id, list_transform(list_zip(q.qv, c.cv), p -> p[1]-p[2]) AS qv
  FROM a2 JOIN q USING (vec_id) JOIN c2 c ON c.cid = a2.cluster
)"""
        + _pq_cte(m, n_codes, dim, scale, p="pq_", lead=False, src="rq")
        + f""",
qs AS (SELECT vec_id AS query_id, qv FROM q WHERE vec_id < 5),
pd AS (
  SELECT s.query_id, c.cid, {cdist} AS dist
  FROM qs s CROSS JOIN c2 c
),
pr AS (
  SELECT query_id, cid AS cluster FROM pd
  QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY dist, cid) <= {n_probe}
),
qres AS (
  SELECT pr.query_id, pr.cluster, subs.sub,
         list_slice(list_transform(list_zip(qs.qv, c.cv), p -> p[1]-p[2]),
                    subs.sub*{d_sub}+1, subs.sub*{d_sub}+{d_sub}) AS qsv
  FROM pr
  JOIN qs USING (query_id)
  JOIN c2 c ON c.cid = pr.cluster
  CROSS JOIN (SELECT UNNEST(range({m})) AS sub) subs
),
adc AS (
  SELECT qres.query_id, ca.vec_id, CAST(SUM({qdist}) AS BIGINT) AS adc_dist
  FROM qres
  JOIN a2 ca ON ca.cluster = qres.cluster AND ca.vec_id != qres.query_id
  JOIN pq_a2 ON pq_a2.vec_id = ca.vec_id AND pq_a2.sub = qres.sub
  JOIN pq_cb2 cb ON cb.sub = pq_a2.sub AND cb.cid = pq_a2.code
  GROUP BY qres.query_id, ca.vec_id
),
short AS (
  SELECT query_id, vec_id FROM adc
  QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc_dist, vec_id) <= {shortlist}
),
sc AS (
  SELECT short.query_id, short.vec_id,
         ROUND(
           list_sum(list_transform(generate_series(1, {dim}),
                                   i -> CAST(eq.embedding[i] AS DOUBLE) * CAST(ec.embedding[i] AS DOUBLE)))
           / (SQRT({_SQ_SUM.format(v='eq.embedding')}) * SQRT({_SQ_SUM.format(v='ec.embedding')})), 4) + 0.0 AS cos_sim
  FROM short
  JOIN embeddings eq ON eq.vec_id = short.query_id
  JOIN embeddings ec ON ec.vec_id = short.vec_id
)
SELECT * FROM (
  SELECT query_id, vec_id, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rnk
  FROM sc
) WHERE rnk <= {k}
"""
    )


@declare("q_vec_ann_ivfpq_res", oracle=_ivfpq_res_sql(), tags=("vector",))
def q_vec_ann_ivfpq_res(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual-encoded IVF-PQ (ops.vector.ivfpq_residual_ann_portable
    — the FAISS IndexIVFPQ layout): PQ codes encode each vector's
    residual against its coarse-cell centroid, and a query probing
    cell c scores candidates with ITS residual against c. On clustered
    corpora (‖residual‖ ≪ ‖vector‖) the same codebook quantizes
    residuals far more finely than raw vectors — the classical recall
    win; on this weakly-clustered test corpus it's a wash (see the op
    docstring for measured numbers). Exact integer math end-to-end
    keeps the whole thing driver-certifiable."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return VX.ivfpq_residual_ann_portable(
        q, e, k=5, n_probe=2, n_clusters=8, m=4, n_codes=16, dim=64, shortlist=20
    ).select("query_id", "vec_id", "cos_sim", "rnk")


@declare("q_vec_kmeans_port", oracle=_kmeans_sql(), tags=("vector", "dedup"))
def q_vec_kmeans_port(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-portable Lloyd k-means (ops.vector.kmeans_portable, k=8,
    2 iterations, deterministic smallest-key init), reduced to the
    cluster-size histogram + smallest member key. Exact-integer
    assignment math makes the whole iterative algorithm oracle-
    certifiable — the r2 portable-SimHash pattern applied to the one
    ML-loop op that was still rows-only."""
    e = load_table(spark, sf_dir, "embeddings")
    a = VX.kmeans_portable(e, "embedding", "vec_id", k=8, iters=2)
    return a.groupBy("cluster").agg(
        F.count("*").alias("n_vecs"), F.min("vec_id").alias("rep_vec")
    )


@declare(
    "q_vec_quantize",
    oracle=f"""
WITH q AS (
  SELECT vec_id, label,
         list_transform(embedding,
           x -> CAST(GREATEST(-127, LEAST(127, ROUND(CAST(x AS DOUBLE) * 64.0))) AS INTEGER)) AS q8,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ed
  FROM embeddings
)
SELECT label,
       COUNT(*) AS n_vecs,
       {dsum_sql("list_sum(list_transform(range(1, len(ed)+1), i -> abs(ed[i] - q8[i]/64.0)))", 9, 30)} AS total_abs_err,
       MIN(list_min(q8)) AS min_q,
       MAX(list_max(q8)) AS max_q
FROM q GROUP BY label
""",
    tags=("vector",),
)
def q_vec_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8 scalar quantization of embeddings (×4 memory cut for ANN
    shortlists) + reconstruction-error audit per label.

    scale=64 maps unit-range floats onto [-127, 127]; round/clamp are
    exact integer ops in both engines, and the per-vector error is a
    fixed-order 64-term sum (deterministic), made hash-exact across the
    per-label aggregation by the scaled-long path."""
    e = load_table(spark, sf_dir, "embeddings")
    ed = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    q8 = F.transform(
        ed, lambda x: F.greatest(F.lit(-127), F.least(F.lit(127), F.round(x * 64.0))).cast("int")
    )
    qd = e.select("vec_id", "label", ed.alias("ed"), q8.alias("q8"))
    per_vec_err = F.aggregate(
        F.zip_with(F.col("ed"), F.col("q8"), lambda x, q: F.abs(x - q / F.lit(64.0))),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return qd.groupBy("label").agg(
        F.count("*").alias("n_vecs"),
        (F.sum(F.round(per_vec_err * F.lit(10**9)).cast("long")) / F.lit(1e9)).alias("total_abs_err"),
        F.min(F.array_min("q8")).alias("min_q"),
        F.max(F.array_max("q8")).alias("max_q"),
    )


@declare(
    "q_text_pii_mask",
    oracle=r"""
SELECT c_custkey,
       regexp_replace(
         regexp_replace(synth, '[a-z0-9._]+@[a-z0-9.-]+', '<EMAIL>', 'g'),
         '\+?[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS masked,
       CAST(regexp_replace(synth, '[a-z0-9._]+@[a-z0-9.-]+', '<EMAIL>', 'g') LIKE '%<EMAIL>%' AS INT) AS had_email
FROM (
  SELECT c_custkey,
         concat(lower(replace(c_name, ' ', '.')), '@example.com call 555-',
                lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0')) AS synth
  FROM customer WHERE c_custkey < 200
)
""",
    tags=("text",),
)
def q_text_pii_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII masking: email + phone patterns → placeholder tokens (the
    redaction pass of a training-data pipeline). The corpus is synthetic
    word salad, so PII strings are synthesized from customer names and
    then masked — the op under test is the chained regexp_replace with
    portable (RE2-ish) patterns."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") < 200)
    synth = F.concat(
        F.lower(F.replace(F.col("c_name"), F.lit(" "), F.lit("."))),
        F.lit("@example.com call 555-"),
        F.lpad((F.col("c_custkey") % 10000).cast("string"), 4, "0"),
    )
    d = c.select("c_custkey", synth.alias("synth"))
    email_masked = F.regexp_replace("synth", r"[a-z0-9._]+@[a-z0-9.-]+", "<EMAIL>")
    return d.select(
        "c_custkey",
        F.regexp_replace(email_masked, r"\+?[0-9]{3}-[0-9]{4}", "<PHONE>").alias("masked"),
        email_masked.contains("<EMAIL>").cast("int").alias("had_email"),
    )


@declare(
    "q_text_chunk",
    oracle="""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
c AS (
  SELECT doc_id, w,
         CASE WHEN len(w) <= 64 THEN 1 ELSE 1 + (len(w) - 64 + 47) // 48 END AS n_chunks
  FROM t
),
e AS (SELECT doc_id, w, UNNEST(generate_series(1, n_chunks)) AS i FROM c)
SELECT doc_id, CAST(i - 1 AS INT) AS chunk_id,
       CAST((i-1)*48 + 1 AS INT) AS chunk_start,
       CAST(len(w[(i-1)*48+1 : (i-1)*48+64]) AS INT) AS chunk_n_tokens,
       array_to_string(w[(i-1)*48+1 : (i-1)*48+64], ' ') AS chunk_text
FROM e
""",
    tags=("text", "pipeline"),
)
def q_text_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking (64-token windows every 48 tokens —
    ops.text.chunk_documents): the standard prep for embedding / RAG
    indexing of long documents. Chunk boundaries are pure positive-
    integer math, so the oracle reproduces every chunk byte-for-byte.

    Scale shape: narrow per-row exprs only (split → sequence →
    posexplode → slice), NO shuffle — chunking runs at scan parallelism
    and output is bounded by input × size/stride ≈ 1.33×."""
    d = load_table(spark, sf_dir, "documents")
    return TX.chunk_documents(d, "text", "doc_id", size=64, stride=48)


@declare(
    "q_text_shuffle_shard",
    oracle="""
WITH h AS (
  SELECT doc_id,
         CAST(concat('0x', substr(md5(concat('seed42|', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) AS hh
  FROM documents
)
SELECT doc_id, CAST(hh % 8 AS INT) AS shard,
       CAST(row_number() OVER (PARTITION BY hh % 8 ORDER BY hh, doc_id) AS INT) AS pos
FROM h
""",
    tags=("text", "pipeline"),
)
def q_text_shuffle_shard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-order shuffle (ops.text.shuffle_shards):
    md5-ranked permutation split into 8 output shards with a stable
    position per shard. Training runs replay the identical global order
    regardless of cluster size, partition count, or physical row order
    — the reproducibility property RNG-based shuffles lack.

    Scale shape: narrow hash projection + one row_number window
    partitioned by shard (8 independent sorts of |corpus|/8; shard
    count scales with the cluster — no single-reducer global sort)."""
    d = load_table(spark, sf_dir, "documents")
    return TX.shuffle_shards(d, "doc_id", num_shards=8, seed="seed42").select(
        "doc_id", "shard", "pos"
    )


@declare(
    "q_dedup_semantic",
    oracle=f"""
WITH RECURSIVE p AS (
  SELECT a.vec_id AS u, b.vec_id AS v
  FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
  WHERE list_sum(list_transform(generate_series(1, 64),
                                i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
        / (SQRT({_SQ_SUM.format(v='a.embedding')}) * SQRT({_SQ_SUM.format(v='b.embedding')})) >= 0.35
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
""",
    tags=("dedup", "vector", "graph"),
)
def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC dedup end-to-end: embedding-cosine near-dup pairs
    (label-blocked, cos ≥ 0.35 — the q_dedup_embcos pair stage) →
    connected components → keep the min-id representative per cluster;
    singletons keep themselves. The embedding-space counterpart of
    q_dedup_keep_best (text-space), with the same audit-table output
    (vec_id, component, is_kept).

    Cosine is a fixed-order double sum (bit-identical across engines),
    components use the one-shuffle min-label rounds, and the keeper
    rule is component = MIN(vec_id) — so even the clustering tail of
    the semantic path is oracle-exact. The at-scale variant is no
    longer a promise: q_dedup_semantic_ann (r7) runs this exact
    pipeline with the block key swapped for the IVF quantizer's
    multi-probe cell, so the pair stage never goes n² — this query
    stays the label-blocked exact anchor it is oracle-certified as.

    Exact-duplicate collapse (r6, the vector-space ``collapse_exact``):
    byte-identical embeddings (duplicate docs embed identically — the
    common web-crawl case, and exactly what the 10× stress corpus
    replicates) have cos = 1.0, so they provably share a component;
    collapsing each (label, embedding) group to its min-id
    representative BEFORE the pairwise stage and re-attaching members
    afterwards emits the IDENTICAL audit table (rep = group min ⇒
    cluster min over reps = cluster min over all ids) while the n²
    pair stage sees only distinct vectors. Semantics-preserving ⇒ the
    oracle needs no cap mirror — unlike the text banding cap. 10×
    stress: 32 s → ~4 s, ratio 9.6 → ~1."""
    e = load_table(spark, sf_dir, "embeddings")
    return VX.semantic_dedup(e, key_col="vec_id", block_col="label")


def _semantic_ann_sql(
    k: int = 8, scale: int = 1 << 20, threshold: float = 0.35, n_probe: int = 3
) -> str:
    """DuckDB twin of q_dedup_semantic_ann: the portable-Lloyd kmeans
    CTE chain (coarse quantizer — the same integer-exact assignment the
    q_vec_ann_ivf_port oracle certifies) supplies MULTI-PROBE block
    keys (each vector's n_probe nearest final centroids, ties → smaller
    cid), then the q_dedup_semantic recursive-CTE component chain runs
    over quantizer-assigned blocks instead of labels."""
    cos = (
        "list_sum(list_transform(generate_series(1, 64),"
        " i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))"
        f" / (SQRT({_SQ_SUM.format(v='a.embedding')}) * SQRT({_SQ_SUM.format(v='b.embedding')}))"
    )
    dist = (
        "CAST(list_sum(list_transform(list_zip(v.qv, c.cv),"
        " p -> (p[1]-p[2])*(p[1]-p[2]))) AS BIGINT)"
    )
    return (
        _kmeans_cte(k, scale, recursive=True)
        + f""",
pr AS (
  SELECT vec_id, cid AS blk FROM (
    SELECT v.vec_id, c.cid, {dist} AS d
    FROM q v CROSS JOIN c2 c
  ) QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) <= {n_probe}
),
eb AS (
  SELECT e.vec_id, pr.blk, e.embedding
  FROM embeddings e JOIN pr ON pr.vec_id = e.vec_id
),
p AS (
  SELECT DISTINCT a.vec_id AS u, b.vec_id AS v
  FROM eb a JOIN eb b ON a.blk = b.blk AND a.vec_id < b.vec_id
  WHERE {cos} >= {threshold}
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
    )


@declare("q_dedup_semantic_ann", oracle=_semantic_ann_sql(), tags=("dedup", "vector", "graph"))
def q_dedup_semantic_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_dedup_semantic's 100 TB shape made EXECUTABLE (r6 verdict
    Next-round #4): the pair-stage block key is the portable-Lloyd IVF
    coarse quantizer's MULTI-PROBE cell assignment
    (ops.vector.ivf_multiprobe_assign — integer-exact, the
    q_vec_ann_ivf_port quantizer) instead of the metadata label.
    Blocking by quantizer cell is the standard embedding-dedup recipe
    at 10⁹+ vectors: cells are bounded by k (chosen ∝ corpus size,
    e.g. √n), so the within-block pairwise stage stays near-linear
    while labels — which can be absent or million-row skewed — never
    enter the plan. n_probe=3 membership is the recall lever: a
    near-dup pair is missed only when NONE of the probed cells overlap
    (measured pair-recall vs the label-blocked exact anchor, SCALING.md:
    single-probe 0.33–0.43, n_probe=2 0.70–0.79, n_probe=3 0.96–1.00 —
    clears the 0.8 bar with candidate pairs up only ~14%).

    Pipeline: exact-vector collapse (groupBy embedding — blocks are a
    pure function of the vector, so byte-identical embeddings share
    probe sets and provably land in one component) → quantizer trained
    on the FULL corpus (oracle parity: duplicates weight the centroid
    means) → 3-probe memberships on the collapsed reps → distinct
    within-cell cosine pairs → connected components → min-id keeper.

    Scale shape: centroids are a k-row broadcast, assignment a narrow
    map + explode (no shuffle); memberships are 3×|distinct vectors|;
    the within-cell pairwise runs as the Arrow-vectorized per-cell
    batch (ops.vector.blocked_cos_pairs_arrow — dim-sequential
    accumulation, bit-identical to the expression fold, ~9× faster at
    this cell volume); CC inherits the certified q_dedup_semantic
    shape. Engine: ops.vector.semantic_dedup_ann (JSON-declarable
    through the pipeline ``op`` stage)."""
    e = load_table(spark, sf_dir, "embeddings")
    return VX.semantic_dedup_ann(
        e, key_col="vec_id", threshold=0.35, n_clusters=8, n_probe=3, iters=2
    )


@declare(
    "q_corpus_mixture",
    oracle="""
WITH s AS (
  SELECT source, COUNT(*) AS n_docs,
         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
tot AS (SELECT SUM(n_docs) AS nd, SUM(n_tokens) AS nt FROM s)
SELECT source, n_docs, n_tokens,
       CAST(n_tokens AS DOUBLE) / nt AS token_share,
       SQRT(CAST(n_tokens AS DOUBLE) / nt) AS w_alpha05
FROM s CROSS JOIN tot
""",
    tags=("text", "pipeline"),
)
def q_corpus_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus statistics + temperature-scaled mixture
    weights (α = 0.5): the table a training-data recipe samples from —
    upweight small high-value sources, downweight the crawl head
    (the standard multinomial-temperature trick). Emitted UNNORMALIZED
    (share and share^α): normalizing is one scalar the trainer owns,
    and skipping the cross-source float sum keeps every value a single
    correctly-rounded IEEE op (integer ratio + sqrt) — bit-identical
    in any engine, no summation-order drift.

    Scale shape: one map-side-combined groupBy(source) over the corpus
    (|sources| ≪ |docs|), totals as a broadcast cross join."""
    d = load_table(spark, sf_dir, "documents")
    s = d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(TX.tokens("text"))).alias("n_tokens"),
    )
    tot = s.agg(
        F.sum("n_docs").alias("nd"), F.sum("n_tokens").alias("nt")
    )
    share = F.col("n_tokens").cast("double") / F.col("nt")
    return (
        s.crossJoin(F.broadcast(tot))
        .select(
            "source", "n_docs", "n_tokens",
            share.alias("token_share"),
            F.sqrt(share).alias("w_alpha05"),
        )
    )


@declare(
    "q_text_temperature_mix",
    oracle="""
WITH dt AS (
  SELECT doc_id, source, len(string_split(text, ' ')) AS ntok FROM documents),
s AS (
  SELECT source, COUNT(*) AS n_docs, CAST(SUM(ntok) AS BIGINT) AS n_tokens
  FROM dt GROUP BY source),
w AS (
  SELECT source, n_tokens,
         CAST(ROUND(SQRT(CAST(n_tokens AS DOUBLE)) * 1000000.0) AS BIGINT) AS wi
  FROM s),
tot AS (SELECT SUM(wi) AS tw, SUM(n_tokens) AS nt FROM w),
r AS (
  SELECT source, n_tokens,
         LEAST(1000, CAST(FLOOR(500.0 * ((CAST(nt AS DOUBLE)
                * (CAST(wi AS DOUBLE) / tw)) / n_tokens)) AS BIGINT)) AS permille
  FROM w CROSS JOIN tot),
kept AS (
  SELECT d.source, d.ntok
  FROM dt d JOIN r ON d.source = r.source
  WHERE CAST(concat('0x', substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
        % 1000 < r.permille),
ka AS (
  SELECT source, COUNT(*) AS n_kept, CAST(SUM(ntok) AS BIGINT) AS tok_kept
  FROM kept GROUP BY source)
SELECT r.source, r.permille,
       CAST(COALESCE(ka.n_kept, 0) AS BIGINT) AS n_docs_kept,
       CAST(COALESCE(ka.tok_kept, 0) AS BIGINT) AS n_tokens_kept
FROM r LEFT JOIN ka USING (source)
""",
    tags=("text", "sampling", "pipeline"),
)
def q_text_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-mixture EXECUTOR — the composition that turns
    q_corpus_mixture's α = 0.5 weights into an actually-sampled
    corpus: per-source token masses → sqrt temperature weights
    (round-pinned to scaled longs so the normalizing sum is exact
    integer) → a 50%-of-tokens budget split ∝ the weights → integer
    keep-permilles (floor + cap at 1000) → the NESTED deterministic
    md5-bucket selection of q_sample_strat_hash. Emits the per-source
    audit (permille, docs kept, tokens kept) a data-recipe run logs.
    Every float op is a pinned tree over exact integers (sqrt and
    divide are correctly-rounded IEEE; the one cross-source sum runs
    over the ROUNDED integer weights, not doubles), so the selected
    row set — not just the rates — is bit-reproducible cross-engine.

    Scale shape: one map-side-combined groupBy(source) over the
    corpus; rates broadcast back; the keep predicate is a pure per-row
    expression; the audit re-aggregates map-side. Two |sources|-row
    relations and two corpus passes, nothing wider."""
    d = load_table(spark, sf_dir, "documents")
    dt = d.select("doc_id", "source", F.size(TX.tokens("text")).alias("ntok"))
    s = dt.groupBy("source").agg(
        F.count("*").alias("n_docs"), F.sum("ntok").alias("n_tokens")
    )
    w = s.select(
        "source",
        "n_tokens",
        F.round(F.sqrt(F.col("n_tokens").cast("double")) * F.lit(1000000.0))
        .cast("long")
        .alias("wi"),
    )
    tot = w.agg(F.sum("wi").alias("tw"), F.sum("n_tokens").alias("nt"))
    r = w.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_tokens",
        F.least(
            F.lit(1000).cast("long"),
            F.floor(
                F.lit(500.0)
                * (
                    (
                        F.col("nt").cast("double")
                        * (F.col("wi").cast("double") / F.col("tw"))
                    )
                    / F.col("n_tokens")
                )
            ).cast("long"),
        ).alias("permille"),
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10).cast(
            "long"
        )
        % 1000
    )
    kept = (
        dt.join(F.broadcast(r.select("source", "permille")), "source")
        .where(bucket < F.col("permille"))
        .groupBy("source")
        .agg(F.count("*").alias("n_kept"), F.sum("ntok").alias("tok_kept"))
    )
    return r.join(kept, "source", "left").select(
        "source",
        "permille",
        F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_docs_kept"),
        F.coalesce("tok_kept", F.lit(0)).cast("long").alias("n_tokens_kept"),
    )


@declare(
    "q_vec_decontam",
    oracle=f"""
WITH ev AS (SELECT vec_id, label, embedding FROM embeddings WHERE vec_id % 19 = 0),
tr AS (SELECT vec_id, label, embedding FROM embeddings WHERE vec_id % 19 <> 0)
SELECT e.vec_id AS eval_id, t.vec_id AS train_id, e.label AS label,
       ROUND(list_sum(list_transform(generate_series(1, 64),
                                     i -> CAST(e.embedding[i] AS DOUBLE) * CAST(t.embedding[i] AS DOUBLE)))
             / (SQRT({_SQ_SUM.format(v='e.embedding')}) * SQRT({_SQ_SUM.format(v='t.embedding')})), 4) + 0.0 AS cos_sim
FROM ev e JOIN tr t ON e.label = t.label
WHERE list_sum(list_transform(generate_series(1, 64),
                              i -> CAST(e.embedding[i] AS DOUBLE) * CAST(t.embedding[i] AS DOUBLE)))
      / (SQRT({_SQ_SUM.format(v='e.embedding')}) * SQRT({_SQ_SUM.format(v='t.embedding')})) >= 0.35
""",
    tags=("vector", "dedup", "pipeline"),
)
def q_vec_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC decontamination — the embedding-space counterpart of
    q_text_decontam's shingle overlap: flag train vectors whose cosine
    to any eval-split vector crosses the contamination threshold
    (deterministic hash split: vec_id % 19 = 0 → eval, ~5%). A
    training pipeline drops the flagged train rows before mixing.

    Scale shape: the EVAL side is small by construction (the held-out
    set), so it is broadcast and the train corpus streams past it —
    one broadcast-hash join on the label block, no shuffle of the big
    side, no n² pairs. At 100 TB the label block becomes an IVF/LSH
    bucket exactly as in q_dedup_semantic_ann (the r7 executable path:
    swap the join key for ivf_multiprobe_assign's cell id). Cosine is the fixed-order
    double sum (bit-identical across engines), rounded on emit only."""
    e = load_table(spark, sf_dir, "embeddings")
    ev = e.filter(F.col("vec_id") % 19 == 0).select(
        F.col("vec_id").alias("eval_id"), "label",
        F.col("embedding").alias("ve"), VX.l2_norm(F.col("embedding")).alias("ne"),
    )
    tr = e.filter(F.col("vec_id") % 19 != 0).select(
        F.col("vec_id").alias("train_id"), F.col("label").alias("lt"),
        F.col("embedding").alias("vt"), VX.l2_norm(F.col("embedding")).alias("nt"),
    )
    cos = VX.safe_div(VX.dot(F.col("ve"), F.col("vt")), F.col("ne") * F.col("nt"))
    return (
        tr.join(F.broadcast(ev), ev["label"] == tr["lt"])
        .filter(cos >= 0.35)
        .select("eval_id", "train_id", "label", pin_zero(F.round(cos, 4)).alias("cos_sim"))
    )


@declare(
    "q_text_decontam_pairs",
    oracle="""
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS w
  FROM documents WHERE text IS NOT NULL
),
g AS (
  SELECT doc_id, UNNEST(
    CASE WHEN len(w) >= 5 THEN list_distinct(list_transform(
      generate_series(1, len(w)-4),
      i -> concat_ws(' ', w[i], w[i+1], w[i+2], w[i+3], w[i+4])))
    ELSE [array_to_string(w, ' ')] END) AS gram
  FROM d
),
ev AS (SELECT doc_id AS eval_id, gram FROM g WHERE doc_id % 17 = 0),
tr AS (SELECT doc_id AS train_id, gram FROM g WHERE doc_id % 17 <> 0)
SELECT tr.train_id, ev.eval_id, CAST(COUNT(*) AS BIGINT) AS n_overlap
FROM tr JOIN ev USING (gram)
GROUP BY tr.train_id, ev.eval_id
HAVING COUNT(*) >= 2
""",
    tags=("text", "dedup", "pipeline"),
)
def q_text_decontam_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pair-attributed n-gram decontamination
    (ops.text.ngram_decontam): q_text_decontam answers "is this train
    doc contaminated?"; this answers "by WHICH eval doc, how badly" —
    the removal-audit view (5-word grams, ≥2 distinct shared, split
    doc_id % 17). Same scale shape (eval gram set broadcasts, train
    side streams, one groupBy bounded by contamination volume); the
    op's ``max_gram_df`` hub-gram cap is the production knob for
    boilerplate phrases and stays off here for pure-containment
    oracle semantics."""
    d = load_table(spark, sf_dir, "documents")
    ev = d.filter(F.col("doc_id") % 17 == 0)
    tr = d.filter(F.col("doc_id") % 17 != 0)
    return TX.ngram_decontam(tr, ev, n=5, min_overlap=2)


@declare(
    "q_text_length_hist",
    oracle="""
SELECT CAST((len(string_split(text, ' ')) // 16) * 16 AS INT) AS bin_lo,
       COUNT(*) AS n_docs,
       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
       CAST(MIN(len(string_split(text, ' '))) AS INT) AS min_tokens,
       CAST(MAX(len(string_split(text, ' '))) AS INT) AS max_tokens
FROM documents
GROUP BY bin_lo
""",
    tags=("text",),
)
def q_text_length_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-length histogram (16-token bins) over the corpus — the
    length-distribution audit every curation run starts with (and the
    input to choosing q_text_pack's budget). Pure integer binning, one
    map-side-combined groupBy; |bins| ≪ |docs| so the shuffle is tiny."""
    d = load_table(spark, sf_dir, "documents")
    n = F.size(TX.tokens("text"))
    return (
        d.select((F.floor(n / 16) * 16).cast("int").alias("bin_lo"), n.alias("__n"))
        .groupBy("bin_lo")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("__n").alias("total_tokens"),
            F.min("__n").cast("int").alias("min_tokens"),
            F.max("__n").cast("int").alias("max_tokens"),
        )
    )


@declare(
    "q_dedup_cluster_lsh",
    oracle=f"""
WITH RECURSIVE norm AS (
  SELECT doc_id, n_chars, text,
         md5(regexp_replace(lower(trim(text)), '[ \t\n\x0B\f\r]+', ' ', 'g')) AS nh
  FROM documents
),
repmap AS (
  SELECT doc_id, n_chars, nh, MIN(doc_id) OVER (PARTITION BY nh) AS rep_id
  FROM norm
),
rep AS (
  SELECT doc_id, text FROM (
    SELECT doc_id, text, row_number() OVER (PARTITION BY nh ORDER BY doc_id) AS rn
    FROM norm) WHERE rn = 1
),
sh AS (
  SELECT doc_id, {_SHINGLES_SQL} AS s
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM rep)
),
sig AS (
  SELECT doc_id, [{', '.join(_MH)}] AS m FROM sh
),
bands AS (
  SELECT doc_id, j, CASE j {' '.join(f"WHEN {j} THEN {b}" for j, b in enumerate(_MH_BANDS8))} END AS bk
  FROM sig CROSS JOIN generate_series(0, 7) AS g(j)
  QUALIFY count(*) OVER (PARTITION BY j, bk) <= 1024
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.j = b.j AND a.bk = b.bk AND a.doc_id < b.doc_id
),
ver AS (
  SELECT c.id_a, c.id_b
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.id_a
  JOIN sh sb ON sb.doc_id = c.id_b
  WHERE CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
          / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))) >= 0.5
),
sym AS (SELECT id_a AS u, id_b AS v FROM ver UNION SELECT id_b, id_a FROM ver),
reach(src, dst) AS (
  SELECT u, u FROM sym
  UNION
  SELECT r.src, s.v FROM reach r JOIN sym s ON r.dst = s.u
),
comp AS (SELECT src, MIN(dst) AS component FROM reach GROUP BY src),
lab AS (
  SELECT r.doc_id, r.n_chars, COALESCE(c.component, r.rep_id) AS component
  FROM repmap r LEFT JOIN comp c ON r.rep_id = c.src
)
SELECT doc_id, component,
       CAST(row_number() OVER (
              PARTITION BY component ORDER BY n_chars DESC, doc_id) = 1
            AS INT) AS is_kept
FROM lab
""",
    tags=("dedup", "graph", "pipeline"),
)
def q_dedup_cluster_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE production clustered dedup END-TO-END, oracle-exact: LSH
    banding candidates (flood-collapsed, bucket-capped) → exact-Jaccard
    verify at 0.5 → connected components → keep the highest-quality doc
    per cluster — with exact-duplicate members RE-ATTACHED through
    their normalized-text representative, so every input doc gets a
    (doc_id, component, is_kept) audit row. This is q_dedup_keep_best
    rebuilt on the linear-scale pair path: where keep_best's exact
    all-pairs stage is the oracle-parity formulation, THIS query is
    what a 100 TB corpus actually runs.

    Scale shape, stage by stage: exact-collapse = one map-side-combined
    shuffle (flood-safe); banding = |uniques|×bands shuffle rows with
    the 1024 bucket cap; verify = candidate-sized joins; CC = one
    shuffle job per round on candidate edges (linear in TRUE near-dup
    clusters — SCALING.md's trichotomy: raw pair OUTPUT is quadratic in
    duplication density, clusters are not, which is exactly why the
    production path consumes pairs here instead of materializing them);
    member re-attach = normalized-hash groupBy + equi-join (both sides
    hash-partitioned, no broadcast needed); keeper = one window per
    component. Component id = global min doc_id (the collapse keeps the
    min key per text, so min over reps = min over members) — the same
    canonical-label contract as q_dedup_keep_best/q_dedup_semantic.

    r16 single-collapse re-plan (guide §2.3/§8; r15 verdict item 4):
    the old shape ran the normalize+md5 corpus pass THREE times — once
    inside the banding path's exact collapse and once per side of the
    member re-attach (groupBy + join both re-derive ``__nh`` from the
    raw scan; Catalyst cannot share the pass across branches). Now the
    SLIM rep map (doc_id, n_chars, rep_id — never the text) is computed
    from ONE checkpointed md5 pass — a map-side-combined rep groupBy +
    AQE-skew-splittable enrich join, never a window (flood note below) —
    and checkpointed; the banding
    path receives the rep docs by an id semi-join against the raw scan
    (``collapse_exact=False`` — identical rep rows: min doc_id per
    normalized hash), and the re-attach reads the same checkpointed
    map. One md5 pass, and the exact collapse's full-text shuffle is
    replaced by an id semi-join (broadcast-hinted only while the
    materialized rep map stays small — the same zero-job stored-bytes
    gate as the LSH verify prefilter)."""
    from pipetree_spark.ops.graph import connected_components
    from pipetree_spark.ops.relational import broadcast_if_small, checkpoint

    d = load_table(spark, sf_dir, "documents")
    # flood discipline (r16 review): the rep selection must stay
    # map-side-combinable — a window over __nh would ship every copy of
    # a boilerplate flood's hot hash to ONE reducer (the shape
    # exact_dedup measured 13× slower at 100k copies, and AQE cannot
    # skew-split a window). The slim docs frame is checkpointed once
    # (ONE md5 pass), the rep groupBy partial-aggregates before its
    # exchange, and the enrich join back is AQE-skew-splittable.
    docs = checkpoint(d.select("doc_id", "n_chars", TX.text_hash("text").alias("__nh")))
    reps = docs.groupBy("__nh").agg(F.min("doc_id").alias("rep_id"))
    # once m is stored the md5 pass is done: free its blocks now
    m = checkpoint(docs.join(reps, "__nh").select("doc_id", "n_chars", "rep_id"), replaces=docs)
    # rep ids are a subset of the slim stored map; beyond the gate the
    # hint would gamble driver memory on a corpus-proportional set —
    # fall through and let AQE pick from runtime sizes
    # gating on all of m is deliberate: m is never smaller than the rep ids, so it may withhold a safe broadcast, never over-broadcast
    rep_ids = broadcast_if_small(
        m.filter(F.col("doc_id") == F.col("rep_id")).select("doc_id"), stored=m
    )
    pairs = TX.near_dup_pairs_lsh(
        d.join(rep_ids, "doc_id", "left_semi"),
        threshold=0.5, num_hashes=16, bands=8, collapse_exact=False,
    ).select("id_a", "id_b")
    cc = connected_components(pairs, src="id_a", dst="id_b")
    lab = m.join(cc, m["rep_id"] == cc["node"], "left").select(
        "doc_id", "n_chars", F.coalesce("component", "rep_id").alias("component")
    )
    w = Window.partitionBy("component").orderBy(F.col("n_chars").desc(), F.col("doc_id"))
    return lab.select(
        "doc_id",
        "component",
        (F.row_number().over(w) == 1).cast("int").alias("is_kept"),
    )


@declare(
    "q_text_unigram_lm",
    oracle="""
WITH toks AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok FROM documents),
vocab AS (SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok),
n AS (SELECT COUNT(*) AS n_total FROM toks),
per AS (
  SELECT t.doc_id,
         COUNT(*) AS n_tokens,
         CAST(SUM(v.cnt) AS BIGINT) AS sum_cnt,
         CAST(SUM(CASE WHEN v.cnt < 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare
  FROM toks t JOIN vocab v USING (tok) GROUP BY t.doc_id
)
SELECT doc_id, n_tokens, sum_cnt,
       (CAST(sum_cnt AS DOUBLE) / n_tokens) / n.n_total AS familiarity,
       CAST(n_rare AS DOUBLE) / n_tokens AS rare_ratio
FROM per CROSS JOIN n
""",
    tags=("text", "pipeline"),
)
def q_text_unigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-LM quality scoring (the CCNet idea, linear domain): train
    a unigram model ON the corpus itself, then score every document by
    how familiar its tokens are — ``familiarity`` = mean corpus
    frequency of the doc's tokens normalized by total corpus tokens
    (= mean unigram probability), plus ``rare_ratio`` = share of tokens
    seen <3 times corpus-wide. A curation pipeline buckets on these to
    drop gibberish (low familiarity, high rare_ratio) and boilerplate
    (extreme familiarity) — the perplexity-filter stage of CCNet-style
    pipelines with the LM swapped for its unigram core.

    Stays linear-domain (mean probability, not mean log-prob) for the
    same reason q_text_tfidf uses linear idf: every emitted value is an
    integer sum followed by two correctly-rounded IEEE divides, so the
    score is bit-identical cross-engine; a libm ``ln`` differs in the
    last ulp between engines (SURVEY §2.0 drift class). The log-domain
    swap is one line if absolute perplexity is needed downstream.

    Scale shape: two branches off one scan, each map-side-combined
    into its single exchange — the vocab table (sublinear in corpus
    size by Heaps' law) combines per-partition before its tok shuffle
    and is BROADCAST back onto the stream, so stopword skew never
    forms a hot reduce bucket; the per-doc branch partial-aggregates
    (doc_id) sums before its doc_id shuffle, so the wire carries
    ~|docs| rows, not |tokens|. Beyond broadcast range (≳10⁷ terms)
    drop the hint and let AQE skew-split the join."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(TX.tokens("text")).alias("tok"))
    # NO explicit repartition (r6 second pass): each branch partial-
    # aggregates straight off the scan and ships only its combined rows
    # through its one exchange — vocab on tok, per-doc on doc_id. A
    # doc_id pre-partition (the tfidf trick) would force the FULL token
    # stream through an extra exchange on the vocab branch and defeat
    # the per-doc branch's map-side combine; here no window needs the
    # clustering, so it's pure cost.
    vocab = toks.groupBy("tok").agg(F.count("*").alias("cnt"))
    # Σ vocab counts ≡ |token stream| — integer-exact, and it folds the
    # corpus-total pass onto the tiny vocab relation instead of a third
    # scan+explode of the corpus
    n_total = vocab.agg(F.sum("cnt").alias("n_total"))
    per = (
        toks.join(F.broadcast(vocab), "tok")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("cnt").alias("sum_cnt"),
            F.sum(F.when(F.col("cnt") < 3, 1).otherwise(0)).alias("n_rare"),
        )
    )
    return per.crossJoin(F.broadcast(n_total)).select(
        "doc_id",
        "n_tokens",
        "sum_cnt",
        ((F.col("sum_cnt").cast("double") / F.col("n_tokens")) / F.col("n_total")).alias(
            "familiarity"
        ),
        (F.col("n_rare").cast("double") / F.col("n_tokens")).alias("rare_ratio"),
    )


@declare(
    "q_text_ppl_bigram",
    oracle="""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
bg AS (
  SELECT doc_id,
         UNNEST(list_transform(generate_series(1, len(a) - 1),
                               i -> struct_pack(w1 := a[i], w2 := a[i + 1]))) AS g
  FROM w),
b AS (SELECT doc_id, g.w1 AS w1, g.w2 AS w2 FROM bg),
c12 AS (
  SELECT w1, w2, COUNT(*) AS c12 FROM b WHERE doc_id % 2 = 0 GROUP BY w1, w2),
c1 AS (SELECT w1, SUM(c12) AS c1 FROM c12 GROUP BY w1),
v AS (SELECT GREATEST(COUNT(DISTINCT w2), 1) AS v FROM c12),
scored AS (
  SELECT b.doc_id,
         COUNT(*) AS n_bigrams,
         SUM(CASE WHEN c12.c12 IS NULL THEN 1 ELSE 0 END) AS n_unseen,
         SUM(CAST(ROUND(1e9 * (COALESCE(c12.c12, 0) + 1)
                        / (COALESCE(c1.c1, 0) + v.v)) AS BIGINT)) AS sum_p9
  FROM b
  LEFT JOIN c12 USING (w1, w2)
  LEFT JOIN c1 USING (w1)
  CROSS JOIN v
  GROUP BY b.doc_id)
SELECT d.doc_id,
       CAST(COALESCE(s.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       CAST(COALESCE(s.n_unseen, 0) AS BIGINT) AS n_unseen,
       CAST(COALESCE(s.sum_p9, 0) AS BIGINT) AS sum_p9,
       CASE WHEN s.n_bigrams IS NULL THEN NULL
            ELSE (CAST(s.sum_p9 AS DOUBLE) / s.n_bigrams) / 1e9 END AS mean_p
FROM (SELECT doc_id FROM documents) d LEFT JOIN scored s USING (doc_id)
""",
    tags=("text", "pipeline"),
)
def q_text_ppl_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM perplexity filtering — the full CCNet recipe beside
    q_text_unigram_lm's unigram core: train an add-one-smoothed BIGRAM
    model on a reference split (even doc_ids stand in for CCNet's
    clean Wikipedia slice), then score EVERY document by its mean
    conditional bigram probability p(w2|w1) = (c12+1)/(c1+V), plus the
    OOV share ``n_unseen`` (bigrams the reference never saw). A
    curation pipeline drops the low-mean_p / high-n_unseen tail —
    gibberish and boilerplate score identically badly under a
    conditional model even when their unigrams look fine.

    Exactness: each per-bigram probability is one IEEE divide of two
    exactly-representable integers, scaled by 1e9 and round-pinned to
    a LONG (round→long is the dsum_sql convention — both engines round
    half-away on positives), so the per-doc sum is an exact integer
    and the final mean is two correctly-rounded divides — bit-stable
    cross-engine where a naive Σ of doubles would drift with summation
    order. Log-domain perplexity is one ``ln`` swap if needed
    downstream (SURVEY §2.0 drift class keeps it out of the gate).

    Scale shape: the bigram table is vocab-bound (Heaps' law), built
    with one map-side-combined shuffle on the REFERENCE split only and
    broadcast back onto the full stream; the per-doc branch partial-
    aggregates before its doc_id shuffle, so the wire carries ~|docs|
    rows. Beyond broadcast range (≳10⁷ bigram types) drop the hints
    and let AQE pick the join — the plan stays three shuffles."""
    d = load_table(spark, sf_dir, "documents")
    return TX.bigram_lm_scores(d, model_pred=F.col("doc_id") % 2 == 0)


@declare(
    "q_text_nb_classify",
    oracle="""
WITH tk AS (
  SELECT doc_id, lang, w
  FROM (SELECT doc_id, lang, UNNEST(string_split(text, ' ')) AS w FROM documents)
  WHERE length(w) > 0),
train AS (SELECT * FROM tk WHERE doc_id % 2 = 0),
cwl AS (SELECT lang AS label, w, COUNT(*) AS cwl FROM train GROUP BY lang, w),
cl AS (SELECT label, SUM(cwl) AS cl FROM cwl GROUP BY label),
vv AS (SELECT GREATEST(COUNT(DISTINCT w), 1) AS v FROM cwl),
pri AS (
  SELECT lang AS label, COUNT(*) AS nd FROM documents
  WHERE doc_id % 2 = 0 GROUP BY lang),
nt AS (SELECT SUM(nd) AS n_train FROM pri),
labels AS (SELECT label FROM pri),
tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM tk GROUP BY doc_id, w),
terms AS (
  SELECT tf.doc_id, l.label,
         SUM(tf.tf * CAST(ROUND(LN((COALESCE(cwl.cwl, 0) + 1.0)
                                   / (COALESCE(cl.cl, 0) + vv.v)) * 10000) AS BIGINT)) AS tsum
  FROM tf
  CROSS JOIN labels l
  LEFT JOIN cwl ON cwl.label = l.label AND cwl.w = tf.w
  LEFT JOIN cl ON cl.label = l.label
  CROSS JOIN vv
  GROUP BY tf.doc_id, l.label),
scores AS (
  SELECT d.doc_id, d.lang AS true_label, l.label,
         COALESCE(t.tsum, 0)
         + CAST(ROUND(LN(CAST(p.nd AS DOUBLE) / nt.n_train) * 10000) AS BIGINT)
           AS score4
  FROM (SELECT doc_id, lang FROM documents) d
  CROSS JOIN labels l
  LEFT JOIN terms t ON t.doc_id = d.doc_id AND t.label = l.label
  JOIN pri p ON p.label = l.label
  CROSS JOIN nt),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score4 DESC, label) AS rn
  FROM scores)
SELECT doc_id, true_label, label AS pred_label, CAST(score4 AS BIGINT) AS score4,
       CAST(CASE WHEN label = true_label THEN 1 ELSE 0 END AS BIGINT) AS is_correct
FROM ranked WHERE rn = 1
""",
    tags=("text", "pipeline"),
)
def q_text_nb_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive-Bayes language classification
    (ops.text.nb_classify) — the exact-arithmetic core of the
    fastText-style classifier every curation pipeline trains for
    language/domain/quality routing: add-one-smoothed per-label token
    models + log priors train on the even-doc_id reference split, and
    EVERY document is classified by integer-argmax over scaled-long
    log scores (round(1e4·ln p) per model value — the q_text_pmi/bm25
    one-ln-then-pin precedent — so per-doc scores are exact integer
    sums and the (score DESC, label ASC) tie-break is deterministic).
    Emits per-doc (true_label, pred_label, score4, is_correct) — the
    audit a router consumes directly.

    Scale shape: the model is vocab-bound and broadcast; scoring
    partial-aggregates (doc, token) before its one shuffle, then a
    |docs|·|labels| window picks the argmax."""
    d = load_table(spark, sf_dir, "documents")
    return TX.nb_classify(d, model_pred=F.col("doc_id") % 2 == 0)


@declare(
    "q_text_ngram_top",
    oracle="""
WITH grams AS (
  SELECT lang, UNNEST(list_transform(generate_series(1, len(w) - 1),
                                     i -> w[i] || ' ' || w[i + 1])) AS gram
  FROM (SELECT lang, string_split(text, ' ') AS w FROM documents)
),
cnt AS (SELECT lang, gram, COUNT(*) AS n FROM grams GROUP BY lang, gram)
SELECT lang, gram, n FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, gram) AS rn FROM cnt
) WHERE rn <= 20
""",
    tags=("text",),
)
def q_text_ngram_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 bigrams per language — the corpus n-gram frequency audit
    (boilerplate detection: navigation chrome, cookie banners, and
    license headers surface as impossibly frequent n-grams; the output
    feeds a drop-list for q_text_clean). Bigrams come from
    ops.text.word_ngrams WITH multiplicity — frequency counting needs
    the duplicates that set-shingles deliberately remove.

    Exact integer counts, deterministic ties on the gram string —
    nothing here can drift cross-engine.

    Scale shape: explode → ONE map-side-combined shuffle on
    (lang, gram) — partial counts collapse the duplicated mass before
    the exchange, so the wire carries ~|distinct grams|, not |tokens|.
    The top-20 window partitions on lang over the already-aggregated
    relation; per-lang sort cost is |distinct grams per lang| log k in
    Spark's bounded-window path, and a 100 TB corpus caps it by
    pre-filtering `n > threshold` before the window (rare grams can't
    reach any top-20 — same monotone-prune argument as q_topk_global)."""
    d = load_table(spark, sf_dir, "documents")
    from pipetree_spark.ops.relational import topk_per_group

    grams = d.select("lang", F.explode(TX.word_ngrams("text", 2)).alias("gram"))
    cnt = grams.groupBy("lang", "gram").agg(F.count("*").alias("n"))
    return topk_per_group(
        cnt, ["lang"], [F.col("n").desc(), F.col("gram")], 20
    ).select("lang", "gram", "n")


@declare(
    "q_dedup_incremental",
    oracle=f"""
WITH inc AS (SELECT * FROM documents WHERE doc_id % 10 = 0),
base AS (SELECT * FROM documents WHERE doc_id % 10 <> 0),
ex AS (
  SELECT DISTINCT i.doc_id
  FROM inc i JOIN base b
    ON md5(regexp_replace(lower(trim(i.text)), '[ \t\n\x0B\f\r]+', ' ', 'g')) =
       md5(regexp_replace(lower(trim(b.text)), '[ \t\n\x0B\f\r]+', ' ', 'g'))
),
shi AS (
  SELECT doc_id, lang, {{shingles}} AS s
  FROM (SELECT doc_id, lang, string_split(text, ' ') AS w FROM inc)
),
shb AS (
  SELECT doc_id, lang, {{shingles}} AS s
  FROM (SELECT doc_id, lang, string_split(text, ' ') AS w FROM base)
),
near AS (
  SELECT a.doc_id, COUNT(*) AS n_near
  FROM shi a JOIN shb b ON a.lang = b.lang
  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
          / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.5
  GROUP BY a.doc_id
)
SELECT i.doc_id AS doc_id,
       CAST(e.doc_id IS NOT NULL AS INT) AS is_exact,
       COALESCE(n.n_near, 0) AS n_near,
       CASE WHEN e.doc_id IS NOT NULL THEN 'exact'
            WHEN COALESCE(n.n_near, 0) > 0 THEN 'near'
            ELSE 'unique' END AS dup_kind
FROM inc i
LEFT JOIN ex e ON i.doc_id = e.doc_id
LEFT JOIN near n ON i.doc_id = n.doc_id
""".replace("{shingles}", _SHINGLES_SQL),
    tags=("dedup", "pipeline"),
)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL dedup — the daily-crawl shape: classify each doc of
    an incoming batch (deterministic hash split, doc_id % 10 = 0, ~10%)
    against the existing corpus as ``exact`` (normalized-text hash
    already present), ``near`` (shingle-Jaccard ≥ 0.5 to any corpus doc
    in its language block), or ``unique``. Batch-vs-corpus is the dedup
    variant every production pipeline actually runs day to day — the
    full-corpus passes (q_dedup_cluster_lsh) are the rebuild, this is
    the increment. Output is the per-incoming-doc audit row
    (is_exact, n_near, dup_kind) a router drops/keeps on.

    Everything is integer/string domain (md5 equality, integer-ratio
    Jaccard) — bit-exact cross-engine.

    Scale shape — the asymmetry IS the optimization: the increment is
    small (a day ≈ 0.1% of a 100 TB corpus), so the increment side is
    BROADCAST and the corpus STREAMS past it — the corpus is never
    shuffled, never re-shingled into an exchange, and the scan
    parallelism is the corpus partition count. Exact stage: corpus
    hashes × broadcast(increment hashes) semi-style join; near stage:
    corpus shingle-sets × broadcast(increment shingle-sets) on the lang
    block. At 100 TB the lang block coarsens to LSH band buckets
    (near_dup_pairs_lsh's banding) so each corpus row meets only
    colliding increment docs instead of every same-lang one; the
    broadcast-increment direction is unchanged."""
    d = load_table(spark, sf_dir, "documents")
    inc = d.filter(F.col("doc_id") % 10 == 0)
    base = d.filter(F.col("doc_id") % 10 != 0)

    # exact: corpus hash index joined against the broadcast increment
    inc_h = inc.select("doc_id", TX.text_hash("text").alias("nh"))
    base_h = base.select(TX.text_hash("text").alias("nh")).distinct()
    ex = (
        base_h.join(F.broadcast(inc_h), "nh")
        .select("doc_id")
        .distinct()
        .withColumn("__e", F.lit(1))
    )

    # near: corpus shingle stream × broadcast increment, lang-blocked
    shi = inc.select(
        F.col("doc_id").alias("iid"), "lang", TX.word_shingles("text").alias("s")
    )
    shb = base.select(
        F.col("lang").alias("bl"), TX.word_shingles("text").alias("t")
    )
    near = (
        shb.join(F.broadcast(shi), F.col("bl") == F.col("lang"))
        .filter(TX.jaccard(F.col("s"), F.col("t")) >= 0.5)
        .groupBy("iid")
        .agg(F.count("*").alias("n_near"))
        .withColumnRenamed("iid", "doc_id")
    )

    # assembly: ex and near are ⊆ the increment — broadcast both so the
    # audit-row build never plans a sort-merge join on unknown stats
    return (
        inc.select("doc_id")
        .join(F.broadcast(ex), "doc_id", "left")
        .join(F.broadcast(near), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("__e", F.lit(0)).alias("is_exact"),
            F.coalesce("n_near", F.lit(0)).alias("n_near"),
            F.when(F.col("__e").isNotNull(), F.lit("exact"))
            .when(F.coalesce("n_near", F.lit(0)) > 0, F.lit("near"))
            .otherwise(F.lit("unique"))
            .alias("dup_kind"),
        )
    )


@declare(
    "q_text_pmi",
    oracle="""
WITH uni AS (
  SELECT lang, UNNEST(string_split(text, ' ')) AS w FROM documents
),
ucnt AS (SELECT lang, w, COUNT(*) AS c FROM uni GROUP BY lang, w),
utot AS (SELECT lang, SUM(c) AS n_uni FROM ucnt GROUP BY lang),
bi AS (
  SELECT lang, UNNEST(list_transform(generate_series(1, len(w) - 1),
                                     i -> w[i] || ' ' || w[i + 1])) AS gram
  FROM (SELECT lang, string_split(text, ' ') AS w FROM documents)
),
bcnt AS (SELECT lang, gram, COUNT(*) AS c_xy FROM bi GROUP BY lang, gram),
btot AS (SELECT lang, SUM(c_xy) AS n_bi FROM bcnt GROUP BY lang),
j AS (
  SELECT b.lang, b.gram, b.c_xy, u1.c AS c1, u2.c AS c2, bt.n_bi, ut.n_uni
  FROM bcnt b
  JOIN ucnt u1 ON u1.lang = b.lang AND u1.w = string_split(b.gram, ' ')[1]
  JOIN ucnt u2 ON u2.lang = b.lang AND u2.w = string_split(b.gram, ' ')[2]
  JOIN btot bt ON bt.lang = b.lang
  JOIN utot ut ON ut.lang = b.lang
  WHERE b.c_xy >= 5
)
SELECT lang, gram, c_xy,
       round(log2(((CAST(c_xy AS DOUBLE) * n_uni) * n_uni)
                  / ((CAST(n_bi AS DOUBLE) * c1) * c2)), 2) + 0.0 AS pmi
FROM j
""",
    tags=("text",),
)
def q_text_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information for adjacent word pairs per
    language — the collocation detector (PMI = log2(P(xy)/(P(x)P(y)))
    over unigram/bigram corpus counts): high-PMI pairs are
    multi-word expressions ("new york"-class units worth preserving
    through tokenization), low/negative-PMI frequent pairs are
    boilerplate junctions. Membership in the result is decided by an
    INTEGER threshold (c_xy ≥ 5), so the set is exactly deterministic;
    the PMI value is one pinned chain of double ops on exact counts
    (casts → two multiplies → divide → log2 → 2-dp round, identical
    order in both engines — the r2 policy absorbing log2's 1-ulp
    latitude, same as the HLL estimate).

    Scale shape: two map-side-combined count shuffles (unigrams,
    bigrams) + a bigram⋈unigram×2 join keyed on (lang, word) — the
    unigram side is |vocab|-sized, and the per-lang totals are
    broadcast one-row frames. No windows, no sorts; a 100 TB corpus
    prunes with a `c_xy > threshold` filter BEFORE the joins (rare
    pairs can't pass the threshold, monotone in partial counts).
    """
    d = load_table(spark, sf_dir, "documents")
    uni = d.select("lang", F.explode(TX.tokens("text")).alias("w"))
    ucnt = uni.groupBy("lang", "w").agg(F.count("*").alias("c"))
    utot = ucnt.groupBy("lang").agg(F.sum("c").alias("n_uni"))
    bi = d.select("lang", F.explode(TX.word_ngrams("text", 2)).alias("gram"))
    bcnt = (
        bi.groupBy("lang", "gram")
        .agg(F.count("*").alias("c_xy"))
        .where(F.col("c_xy") >= 5)
    )
    btot = (
        bi.groupBy("lang", "gram")
        .agg(F.count("*").alias("c_xy"))
        .groupBy("lang")
        .agg(F.sum("c_xy").alias("n_bi"))
    )
    parts = F.split(F.col("gram"), " ")
    j = (
        bcnt.withColumn("w1", parts.getItem(0))
        .withColumn("w2", parts.getItem(1))
        .join(
            ucnt.select("lang", F.col("w").alias("w1"), F.col("c").alias("c1")),
            ["lang", "w1"],
        )
        .join(
            ucnt.select("lang", F.col("w").alias("w2"), F.col("c").alias("c2")),
            ["lang", "w2"],
        )
        .join(F.broadcast(btot), "lang")
        .join(F.broadcast(utot), "lang")
    )
    return j.select(
        "lang",
        "gram",
        "c_xy",
        # pin_zero: PMI is log2 of a ratio that can sit just below 1, so
        # round() can land on signed zero — and the engines disagree on
        # its sign (CORRECTNESS_r09: DuckDB -0.0 vs Spark +0.0 on 6 rows).
        pin_zero(
            F.round(
                F.log2(
                    ((F.col("c_xy").cast("double") * F.col("n_uni")) * F.col("n_uni"))
                    / ((F.col("n_bi").cast("double") * F.col("c1")) * F.col("c2"))
                ),
                2,
            )
        ).alias("pmi"),
    )


@declare(
    "q_mm_png_roundtrip",
    oracle="""
WITH d AS (
  SELECT doc_id, sha256(text) AS bh FROM documents WHERE doc_id < 24),
blk AS (
  SELECT doc_id, i, sha256(bh || ':' || CAST(i AS VARCHAR)) AS hx
  FROM d CROSS JOIN generate_series(0, 23) g(i)),
byt AS (
  SELECT doc_id, i * 32 + j AS p,
         CAST(concat('0x', substr(hx, j * 2 + 1, 2)) AS BIGINT) AS b
  FROM blk CROSS JOIN generate_series(0, 31) gj(j))
SELECT doc_id,
       CAST(COUNT(*) FILTER (p % 3 = 0) AS BIGINT) AS n_px,
       CAST(SUM(b) FILTER (p % 3 = 0) AS BIGINT) AS sum_r,
       CAST(SUM(b) FILTER (p % 3 = 1) AS BIGINT) AS sum_g,
       CAST(SUM(b) FILTER (p % 3 = 2) AS BIGINT) AS sum_b,
       CAST(SUM(b * b) AS BIGINT) AS sum_sq
FROM byt GROUP BY doc_id
""",
    tags=("mm",),
)
def q_mm_png_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-certified PNG codec chain: deterministic pixels (sha256
    counter-mode over each doc's text) → REAL PNG encode (ops/png.py,
    mixed row filters) → REAL stdlib decode → integer-exact channel
    stats — while the oracle re-derives the SAME statistics from the
    pixel DEFINITION alone (DuckDB sha256 + hex-byte extraction, no
    image code at all). A hash match therefore proves the whole
    executor-side mapInPandas chain — payload synthesis, zlib deflate,
    all five PNG row filters, inflate, defilter — is lossless and
    bit-reproducible. Everything compared is int64 (counts/sums), so
    there is no float policy at all.

    Scale shape: the chain is a narrow per-row map (no shuffle until
    the final 24-row aggregate); the certified form pins 24 16×16
    images for oracle cost, the production stages run the same code on
    arbitrary payload columns."""
    from pipetree_spark.ops import mm as MM

    d = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 24)
        .select("doc_id", "text")
    )
    pngs = MM.make_png_payload(d, width=16, height=16)  # 768 B = 24 digests
    return MM.rgb_int_stats_stage(MM.image_decode_stage(pngs))


@declare(
    "q_mm_wav_roundtrip",
    oracle="""
WITH d AS (
  SELECT doc_id, sha256('pcm:' || text) AS bh FROM documents WHERE doc_id < 24),
blk AS (
  SELECT doc_id, i, sha256(bh || ':' || CAST(i AS VARCHAR)) AS hx
  FROM d CROSS JOIN generate_series(0, 15) g(i)),
byt AS (
  SELECT doc_id, i * 32 + j AS p,
         CAST(concat('0x', substr(hx, j * 2 + 1, 2)) AS BIGINT) AS b
  FROM blk CROSS JOIN generate_series(0, 31) gj(j)),
smp AS (
  SELECT doc_id, p // 2 AS k,
         SUM(CASE WHEN p % 2 = 0 THEN b ELSE 256 * b END) AS u
  FROM byt GROUP BY doc_id, p // 2),
sv AS (
  SELECT doc_id, CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS v FROM smp)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_samples,
       CAST(SUM(v) AS BIGINT) AS sum_s,
       CAST(SUM(v * v) AS BIGINT) AS sum_sq,
       CAST(MAX(ABS(v)) AS BIGINT) AS peak_abs
FROM sv GROUP BY doc_id
""",
    tags=("mm",),
)
def q_mm_wav_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-certified WAV codec chain, the audio twin of
    q_mm_png_roundtrip: deterministic PCM16 samples → REAL RIFF/WAVE
    encode (ops/wav.py) → REAL stdlib decode → integer-exact waveform
    stats, while the oracle re-derives the same stats from the sample
    DEFINITION (sha256 bytes → little-endian signed 16-bit) with no
    audio code. All-int64 output, no float policy. 256 samples = 512
    bytes = 16 digests — the synthesis truncates nothing, so the
    oracle's block reconstruction is complete."""
    from pipetree_spark.ops import mm as MM

    d = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 24)
        .select("doc_id", "text")
    )
    wavs = MM.make_wav_payload(d, n_samples=256, sample_rate=8000)
    return MM.pcm_int_stats_stage(MM.audio_decode_stage(wavs))


@declare(
    "q_mm_gif_roundtrip",
    oracle="""
WITH d AS (
  SELECT doc_id, sha256('gif:' || text) AS bh FROM documents WHERE doc_id < 24),
blk AS (
  SELECT doc_id, i, sha256(bh || ':' || CAST(i AS VARCHAR)) AS hx
  FROM d CROSS JOIN generate_series(0, 23) g(i)),
byt AS (
  SELECT doc_id, i * 32 + j AS p,
         CAST(concat('0x', substr(hx, j * 2 + 1, 2)) AS BIGINT) AS b
  FROM blk CROSS JOIN generate_series(0, 31) gj(j))
SELECT doc_id,
       CAST(COUNT(*) FILTER (p % 3 = 0) AS BIGINT) AS n_px,
       CAST(SUM(b) FILTER (p % 3 = 0) AS BIGINT) AS sum_r,
       CAST(SUM(b) FILTER (p % 3 = 1) AS BIGINT) AS sum_g,
       CAST(SUM(b) FILTER (p % 3 = 2) AS BIGINT) AS sum_b,
       CAST(SUM(b * b) AS BIGINT) AS sum_sq
FROM byt GROUP BY doc_id
""",
    tags=("mm",),
)
def q_mm_gif_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-certified GIF codec chain (r11, the palette third of the
    image-codec family after q_mm_png_roundtrip): deterministic pixels
    ('gif:'-prefixed sha256 counter-mode over each doc's text) → REAL
    GIF89a encode (ops/gif.py: palette build + LZW) → REAL decode via
    the magic-dispatch ingest scanner (ops.mm.image_decode_stage, so
    the dispatch path is under the hash gate too, not just gif_decode)
    → integer-exact channel stats. The oracle re-derives the stats from
    the pixel DEFINITION alone; GIF is lossless for ≤256 distinct
    colors, and 16×16 images can never exceed 256 distinct colors, so
    a hash match proves palette construction, LZW both ways, and frame
    composition byte-exact. All-int64 output, no float policy."""
    from pipetree_spark.ops import mm as MM

    d = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 24)
        .select("doc_id", "text")
    )
    gifs = MM.make_gif_payload(d, width=16, height=16)
    return MM.rgb_int_stats_stage(MM.image_decode_stage(gifs))


@declare(
    "q_mm_flac_roundtrip",
    oracle="""
WITH d AS (
  SELECT doc_id, sha256('flac:' || text) AS bh FROM documents WHERE doc_id < 24),
blk AS (
  SELECT doc_id, i, sha256(bh || ':' || CAST(i AS VARCHAR)) AS hx
  FROM d CROSS JOIN generate_series(0, 31) g(i)),
byt AS (
  SELECT doc_id, i * 32 + j AS p,
         CAST(concat('0x', substr(hx, j * 2 + 1, 2)) AS BIGINT) AS b
  FROM blk CROSS JOIN generate_series(0, 31) gj(j)),
smp AS (
  SELECT doc_id, p // 2 AS k,
         SUM(CASE WHEN p % 2 = 0 THEN b ELSE 256 * b END) AS u
  FROM byt GROUP BY doc_id, p // 2),
sv AS (
  SELECT doc_id, CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS v
  FROM smp WHERE k % 2 = 0)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_samples,
       CAST(SUM(v) AS BIGINT) AS sum_s,
       CAST(SUM(v * v) AS BIGINT) AS sum_sq,
       CAST(MAX(ABS(v)) AS BIGINT) AS peak_abs
FROM sv GROUP BY doc_id
""",
    tags=("mm",),
)
def q_mm_flac_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-certified FLAC codec chain (r11, the lossless-compression
    twin of q_mm_wav_roundtrip): deterministic STEREO PCM16 frames
    ('flac:'-prefixed sha256 counter-mode; interleaved L/R, so frame
    k's left sample is int16 #2k — the k % 2 = 0 rows in the oracle) →
    REAL FLAC encode (ops/flac.py: fixed predictors, rice residuals,
    MID-SIDE stereo decorrelation) → REAL decode (audio_decode_stage
    keeps channel 0) → integer-exact waveform stats. The oracle
    re-derives the left channel from the byte DEFINITION with no audio
    code, so a hash match certifies the predictor/rice path AND the
    mid-side reconstruction — strictly more decoder surface than a
    verbatim roundtrip. All-int64 output, no float policy. 256 stereo
    frames = 1024 bytes = 32 digests: synthesis truncates nothing."""
    from pipetree_spark.ops import mm as MM

    d = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 24)
        .select("doc_id", "text")
    )
    flacs = MM.make_flac_stereo_payload(d, n_frames=256, sample_rate=8000, channel_mode="mid_side")
    return MM.pcm_int_stats_stage(MM.audio_decode_stage(flacs))


@declare(
    "q_mm_avi_framesample",
    oracle="""
WITH d AS (
  SELECT doc_id, sha256('avi:' || text) AS bh FROM documents WHERE doc_id < 24),
fr AS (
  SELECT doc_id, k, sha256(bh || ':' || CAST(k AS VARCHAR)) AS hx
  FROM d CROSS JOIN generate_series(0, 9, 3) g(k)),
px AS (
  SELECT doc_id, k,
         CAST(concat('0x', substr(hx, 1, 2)) AS BIGINT) AS r,
         CAST(concat('0x', substr(hx, 3, 2)) AS BIGINT) AS g,
         CAST(concat('0x', substr(hx, 5, 2)) AS BIGINT) AS b
  FROM fr)
SELECT doc_id,
       CAST(k AS BIGINT) AS frame_idx,
       CAST(256 AS BIGINT) AS n_px,
       CAST(256 * r AS BIGINT) AS sum_r,
       CAST(256 * g AS BIGINT) AS sum_g,
       CAST(256 * b AS BIGINT) AS sum_b,
       CAST(256 * (r * r + g * g + b * b) AS BIGINT) AS sum_sq
FROM px
""",
    tags=("mm",),
)
def q_mm_avi_framesample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-certified VIDEO chain (r11), completing the codec family:
    deterministic FLAT-COLOR frames (frame k's RGB = first 3 bytes of
    sha256(base ':' k)) → REAL per-frame JPEG encode → REAL MJPEG-AVI
    boxing (ops/avi.py, canonical 56-byte strh) → container parse +
    decode-AFTER-sample of every 3rd frame (ops.mm.video_frame_sample_
    stage — the 1-fps-of-30-fps production shape) → per-frame
    integer-exact channel stats. Flat blocks put all DCT energy in the
    quantized DC coefficient, so baseline JPEG round-trips them EXACTLY
    (pinned across random colors in tests) — the one shape where a
    lossy-codec chain is hash-certifiable. The oracle re-derives each
    sampled frame's color from its DEFINITION (DuckDB sha256 + hex
    bytes, no codec), so a hash match certifies JPEG encode/decode, the
    RIFF walk, the idx-aligned frame order, and the sampling stride in
    one gate. All-int64 output, no float policy.

    Scale shape: narrow per-row map, no shuffle; sampling happens on
    the container BEFORE any JPEG decode, so cost is per-kept-frame."""
    from pipetree_spark.ops import mm as MM

    d = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 24)
        .select("doc_id", "text")
    )
    avis = MM.make_avi_payload(d, n_frames=12, width=16, height=16, fps=5)
    sampled = MM.video_frame_sample_stage(avis, every_n=3)
    return MM.rgb_int_stats_by_frame_stage(sampled)


@declare(
    "q_text_bpe_train",
    oracle=TX.bpe_train_sql(4),
    tags=("text",),
)
def q_text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge training (ops.text.bpe_train), 4 merges
    hash-certified: the corpus collapses once to a (word, freq) vocab
    — distributed, map-side combined, the only corpus-sized pass — and
    the merges train driver-side over that vocab-bound state, one code
    point per base symbol, (count DESC, pair ASC) tie-break, greedy
    left-to-right merge. The oracle unrolls the same rounds as DuckDB
    CTEs from the same n_merges constant, so the two sides cannot drift
    on round count; a hash match certifies tokenization, pair counting,
    tie-breaks, and the greedy merge semantics end-to-end. Plan: two
    stages (explode + groupBy) however many merges run."""
    d = load_table(spark, sf_dir, "documents")
    return TX.bpe_train(d, "text", n_merges=4)


@declare(
    "q_text_bpe_encode",
    oracle=TX.bpe_apply_sql(4),
    tags=("text",),
)
def q_text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE ENCODE (ops.text.bpe_encode_corpus): learn 4 merges on the
    corpus and encode it with them, reporting per-doc (n_words,
    n_bpe_tokens) — the token-budget number a packing/pricing pipeline
    actually consumes. Encoding is ONE mapInPandas stage with the merge
    ranks broadcast as a dict; corpora whose pairs run out before
    n_merges (the fuzz corpora hit this) simply apply fewer ranks. The
    oracle re-runs training AND application as one unrolled-CTE DuckDB
    statement from the same n_merges constant. All-int64 output."""
    d = load_table(spark, sf_dir, "documents")
    return TX.bpe_encode_corpus(d, 4)


@declare(
    "q_text_bpe_train_scale",
    oracle=TX.bpe_train_sql(16),
    tags=("text",),
)
def q_text_bpe_train_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE training (ops.text.bpe_train) at 16 merges, hash-certified
    against the same unrolled-CTE oracle as q_text_bpe_train: the
    driver-side trainer counts pairs incrementally (subword-nmt shape:
    lazy max-heap + pair→words index), so each merge touches only the
    words containing it, and the plan stays TWO stages however many
    merges run. SCALING.md r12 records n_merges=256 with flat plan
    size."""
    d = load_table(spark, sf_dir, "documents")
    return TX.bpe_train(d, "text", n_merges=16)


@declare(
    "q_text_bpe_encode_scale",
    oracle=TX.bpe_apply_sql(16),
    tags=("text",),
)
def q_text_bpe_encode_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE encode (ops.text.bpe_encode_corpus) at 16 merges: train on
    the corpus, then encode it in ONE mapInPandas stage with the
    rank-ordered merge table broadcast as a dict — one narrow plan
    node, zero shuffles before the per-doc emit, cost independent of
    n_merges. Per-word greedy encoding skips absent ranks via a
    candidate heap (O(len²) per word) and a per-partition word cache
    exploits the corpus Zipf shape. The oracle re-runs training AND
    application as one unrolled-CTE DuckDB statement from the same
    n_merges constant. All-int64 output."""
    d = load_table(spark, sf_dir, "documents")
    return TX.bpe_encode_corpus(d, 16)


@declare(
    "q_mm_phash_dedup",
    oracle="""
WITH d AS (
  SELECT doc_id, sha256(text) AS bh FROM documents WHERE doc_id < 24),
blk AS (
  SELECT doc_id, i, sha256(bh || ':' || CAST(i AS VARCHAR)) AS hx
  FROM d CROSS JOIN generate_series(0, 23) g(i)),
byt AS (
  SELECT doc_id, i * 32 + j AS p,
         CAST(concat('0x', substr(hx, j * 2 + 1, 2)) AS BIGINT) AS b
  FROM blk CROSS JOIN generate_series(0, 31) gj(j)),
img AS (
  SELECT doc_id AS id, p, b FROM byt
  UNION ALL
  SELECT doc_id + 100 AS id, p,
         CASE WHEN p % 64 = 0 THEN LEAST(b + 1, 255) ELSE b END AS b
  FROM byt),
px AS (
  SELECT id, p // 3 AS k,
         SUM(CASE p % 3 WHEN 0 THEN 77 * b WHEN 1 THEN 150 * b ELSE 29 * b END) AS luma
  FROM img GROUP BY id, p // 3),
grid AS (
  SELECT id, (k // 16) // 2 AS r, (k % 16) // 2 AS c, SUM(luma) AS g
  FROM px GROUP BY id, (k // 16) // 2, (k % 16) // 2),
bits AS (
  SELECT a.id, a.r, a.c, CASE WHEN a.g > n.g THEN 1 ELSE 0 END AS bit
  FROM grid a JOIN grid n ON n.id = a.id AND n.r = a.r AND n.c = (a.c + 1) % 8),
bands AS (
  SELECT id, r // 2 AS band_idx,
         SUM(bit * (CAST(1 AS BIGINT) << ((r % 2) * 8 + c))) AS band_val
  FROM bits GROUP BY id, r // 2),
fp AS (
  SELECT id,
         SUM(CASE WHEN band_idx = 0 THEN band_val ELSE 0 END) AS b0,
         SUM(CASE WHEN band_idx = 1 THEN band_val ELSE 0 END) AS b1,
         SUM(CASE WHEN band_idx = 2 THEN band_val ELSE 0 END) AS b2,
         SUM(CASE WHEN band_idx = 3 THEN band_val ELSE 0 END) AS b3
  FROM bands GROUP BY id),
pairs AS (
  SELECT a.id AS doc_a, b.id AS doc_b,
         CAST(bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
            + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) AS BIGINT)
           AS hamming
  FROM fp a JOIN fp b
    ON a.id < b.id
   AND (a.b0 = b.b0 OR a.b1 = b.b1 OR a.b2 = b.b2 OR a.b3 = b.b3))
SELECT doc_a, doc_b, hamming FROM pairs WHERE hamming <= 6
""",
    tags=("mm", "dedup"),
)
def q_mm_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image near-dup (r11 verdict item 2): deterministic
    base images (24, sha256-counter pixels) → REAL PNG encode → REAL
    decode → planted near-duplicates (ops.mm.rgb_perturb_stage:
    saturating +1 on every 64th byte — a slight brightness nudge on 12
    of 256 pixels, id = base + 100) → integer dHash fingerprints as
    four 16-bit bands (ops.mm.dhash_bands_stage: block-luma-sum
    comparisons, wraparound row differences) → Hamming-ball pairs via
    band-equality LSH + exact bit_count verify
    (ops.mm.dhash_hamming_pairs, the image twin of the text MinHash
    banding). The oracle re-derives pixels, perturbation, grid, bands,
    and Hamming pairs from the payload DEFINITION alone — a hash match
    certifies codec, fingerprint, and LSH end-to-end in pure int64.

    Scale shape: fingerprinting is a narrow map (the 8-byte hash
    replaces the image); candidates come from a bucketed
    (band_idx, band_val) self-join — never all-pairs; verify touches
    candidates only. The oracle's OR-join is oracle-side convenience,
    not the Spark plan."""
    from pipetree_spark.ops import mm as MM

    d = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 24)
        .select("doc_id", "text")
    )
    base = MM.image_decode_stage(MM.make_png_payload(d, width=16, height=16))
    variants = MM.rgb_perturb_stage(
        base.withColumn("doc_id", F.col("doc_id") + 100), every=64, delta=1
    )
    bands = MM.dhash_bands_stage(base.unionByName(variants))
    return MM.dhash_hamming_pairs(bands, max_hamming=6)


@declare(
    "q_mm_phash_recall",
    oracle="""
WITH d AS (
  SELECT doc_id, sha256(text) AS bh FROM documents WHERE doc_id < 24),
blk AS (
  SELECT doc_id, i, sha256(bh || ':' || CAST(i AS VARCHAR)) AS hx
  FROM d CROSS JOIN generate_series(0, 23) g(i)),
byt AS (
  SELECT doc_id, i * 32 + j AS p,
         CAST(concat('0x', substr(hx, j * 2 + 1, 2)) AS BIGINT) AS b
  FROM blk CROSS JOIN generate_series(0, 31) gj(j)),
img AS (
  SELECT doc_id AS id, p, b FROM byt
  UNION ALL
  SELECT doc_id + 100 AS id, p,
         CASE WHEN p % 16 = 0 THEN LEAST(b + 8, 255) ELSE b END AS b
  FROM byt
  UNION ALL
  SELECT doc_id + 200 AS id, p,
         CASE WHEN p % 8 = 0 THEN LEAST(b + 16, 255) ELSE b END AS b
  FROM byt
  UNION ALL
  SELECT doc_id + 300 AS id, p,
         CASE WHEN p % 4 = 0 THEN LEAST(b + 32, 255) ELSE b END AS b
  FROM byt),
px AS (
  SELECT id, p // 3 AS k,
         SUM(CASE p % 3 WHEN 0 THEN 77 * b WHEN 1 THEN 150 * b ELSE 29 * b END) AS luma
  FROM img GROUP BY id, p // 3),
grid AS (
  SELECT id, (k // 16) // 2 AS r, (k % 16) // 2 AS c, SUM(luma) AS g
  FROM px GROUP BY id, (k // 16) // 2, (k % 16) // 2),
bits AS (
  SELECT a.id, a.r, a.c, CASE WHEN a.g > n.g THEN 1 ELSE 0 END AS bit
  FROM grid a JOIN grid n ON n.id = a.id AND n.r = a.r AND n.c = (a.c + 1) % 8),
bands AS (
  SELECT id, r // 2 AS band_idx,
         SUM(bit * (CAST(1 AS BIGINT) << ((r % 2) * 8 + c))) AS band_val
  FROM bits GROUP BY id, r // 2),
fp AS (
  SELECT id,
         SUM(CASE WHEN band_idx = 0 THEN band_val ELSE 0 END) AS b0,
         SUM(CASE WHEN band_idx = 1 THEN band_val ELSE 0 END) AS b1,
         SUM(CASE WHEN band_idx = 2 THEN band_val ELSE 0 END) AS b2,
         SUM(CASE WHEN band_idx = 3 THEN band_val ELSE 0 END) AS b3
  FROM bands GROUP BY id),
pairs AS (
  SELECT CAST(bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
            + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) AS BIGINT)
           AS hamming,
         CASE WHEN a.b0 = b.b0 OR a.b1 = b.b1 OR a.b2 = b.b2 OR a.b3 = b.b3
              THEN 1 ELSE 0 END AS hit
  FROM fp a JOIN fp b ON a.id < b.id)
SELECT hamming,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(hit) AS BIGINT) AS n_hit,
       ROUND(CAST(SUM(hit) AS DOUBLE) / COUNT(*), 4) + 0.0 AS recall4
FROM pairs GROUP BY hamming
""",
    tags=("mm", "dedup"),
)
def q_mm_phash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-LSH recall AUDIT (r12 verdict item 4 — the image twin
    of q_dedup_lsh_recall): band-equality LSH over 4×16-bit dHash bands
    guarantees recall 1.0 only at Hamming distance ≤ 3 (pigeonhole —
    ≤3 flipped bits leave one band intact); this query QUANTIFIES
    recall at every distance against the exact bit_count truth. Three
    planted perturbation gradients over 24 base images (saturating
    +8/every 16th byte → Hamming 0–3, +16/every 8th → 0–6, +32/every
    4th → 2–11; measured spreads, see rgb_perturb_stage) plus the
    ~32-bit random cross-pairs give the full curve: per Hamming
    distance, how many of the EXACT all-pairs at that distance the
    banding catches. A curation team runs exactly this audit on a
    sample to pick the band layout / verify radius before a 100 TB
    perceptual dedup pass; emitting it as a driver-certified query
    makes the measurement reproducible cross-engine, not a SCALING.md
    one-off.

    Scale shape: fingerprints are a narrow map (8 bytes per image);
    the all-pairs truth join is the AUDIT side, bounded by
    construction (96 fingerprints → 4 560 pairs — you run it on a
    sample); the banding being audited is the bucketed production
    path. The broadcast theta-join is fingerprint-sized, never
    pixel-sized."""
    from pipetree_spark.ops import mm as MM

    d = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 24)
        .select("doc_id", "text")
    )
    base = MM.make_rgb_payload(d)
    grads = [
        MM.rgb_perturb_stage(
            base.withColumn("doc_id", F.col("doc_id") + off), every=e, delta=dl
        )
        for off, e, dl in ((100, 16, 8), (200, 8, 16), (300, 4, 32))
    ]
    all_imgs = base
    for g in grads:
        all_imgs = all_imgs.unionByName(g)
    fp = MM.dhash_bands_stage(all_imgs)
    a, b = fp.alias("a"), fp.alias("b")
    pairs = a.join(F.broadcast(b), F.col("a.doc_id") < F.col("b.doc_id"))
    ham = sum(
        F.bit_count(F.col(f"a.band_{i}").bitwiseXOR(F.col(f"b.band_{i}")))
        for i in range(4)
    )
    hit = (
        (F.col("a.band_0") == F.col("b.band_0"))
        | (F.col("a.band_1") == F.col("b.band_1"))
        | (F.col("a.band_2") == F.col("b.band_2"))
        | (F.col("a.band_3") == F.col("b.band_3"))
    )
    return (
        pairs.select(
            ham.cast("long").alias("hamming"),
            F.when(hit, F.lit(1)).otherwise(F.lit(0)).alias("hit"),
        )
        .groupBy("hamming")
        .agg(F.count("*").alias("n_pairs"), F.sum("hit").alias("n_hit"))
        .select(
            "hamming",
            F.col("n_pairs").cast("long").alias("n_pairs"),
            F.col("n_hit").cast("long").alias("n_hit"),
            pin_zero(
                F.round(F.col("n_hit").cast("double") / F.col("n_pairs"), 4)
            ).alias("recall4"),
        )
    )


@declare(
    "q_mm_audiofp_dedup",
    oracle="""
WITH d AS (
  SELECT doc_id, sha256('pcm:' || text) AS bh FROM documents WHERE doc_id < 24),
blk AS (
  SELECT doc_id, i, sha256(bh || ':' || CAST(i AS VARCHAR)) AS hx
  FROM d CROSS JOIN generate_series(0, 31) g(i)),
byt AS (
  SELECT doc_id, i * 32 + j AS p,
         CAST(concat('0x', substr(hx, j * 2 + 1, 2)) AS BIGINT) AS b
  FROM blk CROSS JOIN generate_series(0, 31) gj(j)),
smp AS (
  SELECT doc_id, p // 2 AS k,
         SUM(CASE WHEN p % 2 = 0 THEN b ELSE 256 * b END) AS u
  FROM byt GROUP BY doc_id, p // 2),
sv AS (
  SELECT doc_id, k, CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS v FROM smp),
wave AS (
  SELECT doc_id AS id, k, v FROM sv
  UNION ALL
  SELECT doc_id + 100 AS id, k,
         CASE WHEN k % 37 = 0 THEN LEAST(v + 1, 32767) ELSE v END AS v
  FROM sv),
en AS (
  SELECT id, k // 8 AS t, (k % 8) // 4 AS h, SUM(v * v) AS e
  FROM wave GROUP BY id, k // 8, (k % 8) // 4),
fr AS (
  SELECT id, t,
         SUM(CASE WHEN h = 0 THEN e ELSE 0 END) AS e0,
         SUM(CASE WHEN h = 1 THEN e ELSE 0 END) AS e1
  FROM en GROUP BY id, t),
bits AS (
  SELECT a.id, a.t,
         CASE WHEN (a.e0 - p.e0) > (a.e1 - p.e1) THEN 1 ELSE 0 END AS bit
  FROM fr a JOIN fr p ON p.id = a.id AND p.t = (a.t + 63) % 64),
bands AS (
  SELECT id, t // 16 AS band_idx,
         SUM(bit * (CAST(1 AS BIGINT) << (t % 16))) AS band_val
  FROM bits GROUP BY id, t // 16),
fp AS (
  SELECT id,
         SUM(CASE WHEN band_idx = 0 THEN band_val ELSE 0 END) AS b0,
         SUM(CASE WHEN band_idx = 1 THEN band_val ELSE 0 END) AS b1,
         SUM(CASE WHEN band_idx = 2 THEN band_val ELSE 0 END) AS b2,
         SUM(CASE WHEN band_idx = 3 THEN band_val ELSE 0 END) AS b3
  FROM bands GROUP BY id),
pairs AS (
  SELECT a.id AS doc_a, b.id AS doc_b,
         CAST(bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
            + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) AS BIGINT)
           AS hamming
  FROM fp a JOIN fp b
    ON a.id < b.id
   AND (a.b0 = b.b0 OR a.b1 = b.b1 OR a.b2 = b.b2 OR a.b3 = b.b3))
SELECT doc_a, doc_b, hamming FROM pairs WHERE hamming <= 6
""",
    tags=("mm", "dedup"),
)
def q_mm_audiofp_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual AUDIO near-dup — the acoustic twin of
    q_mm_phash_dedup, completing the fingerprint story across both
    media families: deterministic base waveforms (24 docs, sha256-
    counter PCM16) → REAL RIFF/WAVE encode → REAL decode → planted
    near-duplicates (ops.mm.pcm_perturb_stage: saturating +1 on every
    37th sample — transcode-grade amplitude drift, id = base + 100) →
    integer Haitsma–Kalker-style fingerprints as four 16-bit bands
    (ops.mm.audiofp_bands_stage: 64-frame half-energy second
    differences, wraparound frame 0) → Hamming-ball pairs via the
    SHARED band-equality LSH + exact bit_count verify
    (ops.mm.dhash_hamming_pairs — one back end for image and audio).
    The oracle re-derives waveform, perturbation, frame energies,
    bits, bands, and pairs from the payload DEFINITION alone — a hash
    match certifies the WAV codec, the fingerprint, and the LSH
    end-to-end in pure int64.

    Scale shape: fingerprinting is a narrow map (8 bytes replace the
    waveform); candidates come from a bucketed (band_idx, band_val)
    self-join — never all-pairs; verify touches candidates only."""
    from pipetree_spark.ops import mm as MM

    d = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 24)
        .select("doc_id", "text")
    )
    base = MM.audio_decode_stage(MM.make_wav_payload(d, n_samples=512, sample_rate=8000))
    variants = MM.pcm_perturb_stage(
        base.withColumn("doc_id", F.col("doc_id") + 100), every=37, delta=1
    )
    bands = MM.audiofp_bands_stage(base.unionByName(variants))
    return MM.dhash_hamming_pairs(bands, max_hamming=6)


@declare(
    "q_dedup_substring_rm",
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(range(len(a))) AS rn, unnest(a) AS word
  FROM (SELECT doc_id,
               list_filter(string_split(text, ' '), w -> length(w) > 0) AS a
        FROM documents)),
grams AS (
  SELECT doc_id, rn AS s,
         string_agg(word, chr(31)) OVER (PARTITION BY doc_id ORDER BY rn
           ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS gram,
         count(*) OVER (PARTITION BY doc_id ORDER BY rn
           ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS n
  FROM toks QUALIFY n = 8),
dup AS (SELECT gram FROM grams GROUP BY gram HAVING COUNT(*) >= 2),
hits AS (
  SELECT doc_id, s, s + 7 AS e FROM grams JOIN dup USING (gram)),
marked AS (
  SELECT doc_id, s, e,
         MAX(e) OVER (PARTITION BY doc_id ORDER BY s
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
  FROM hits),
isl AS (
  SELECT doc_id, s, e,
         SUM(CASE WHEN prev_end IS NULL OR s > prev_end + 1 THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY s
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM marked),
spans AS (
  SELECT doc_id, island, MIN(s) AS span_start, MAX(e) AS span_end
  FROM isl GROUP BY doc_id, island),
dropped AS (
  SELECT DISTINCT t.doc_id, t.rn
  FROM toks t JOIN spans s
    ON s.doc_id = t.doc_id AND t.rn BETWEEN s.span_start AND s.span_end),
kept AS (
  SELECT t.doc_id, t.rn, t.word
  FROM toks t LEFT JOIN dropped d ON d.doc_id = t.doc_id AND d.rn = t.rn
  WHERE d.rn IS NULL),
agg AS (
  SELECT doc_id, COUNT(*) AS n_kept,
         string_agg(word, ' ' ORDER BY rn) AS clean_text
  FROM kept GROUP BY doc_id),
tot AS (SELECT doc_id, COUNT(*) AS n_tokens FROM toks GROUP BY doc_id)
SELECT tot.doc_id,
       CAST(COALESCE(a.n_kept, 0) AS BIGINT) AS n_kept,
       CAST(tot.n_tokens - COALESCE(a.n_kept, 0) AS BIGINT) AS n_dropped,
       COALESCE(a.clean_text, '') AS clean_text
FROM tot LEFT JOIN agg a USING (doc_id)
""",
    tags=("text", "dedup"),
)
def q_dedup_substring_rm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-dedup REMOVAL (ops.text.dup_span_strip) — the action
    half of q_dedup_substring: every corpus-duplicated ≥8-token span
    is CUT from every document (Lee et al. 2022 ExactSubstr removal
    semantics — all copies go, matching the released suffix-array
    tool) and the text is rebuilt from the surviving tokens. Emits
    per-doc (n_kept, n_dropped, clean_text) — the rewrite a curation
    pipeline feeds forward in place of the original text. The oracle
    re-derives spans, the interval anti-join, and the ordered
    reconstruction in one statement, so a hash match certifies the
    marking AND the rewrite.

    Scale shape: marking is the certified three-keyed-shuffle island
    pipeline; removal is one key-partitioned interval anti-join;
    reconstruction is a per-doc ordered collect bounded by the doc's
    own token count."""
    d = load_table(spark, sf_dir, "documents")
    return TX.dup_span_strip(d, k=8, min_count=2)


@declare(
    "q_mm_vidhash_dedup",
    oracle="""
WITH d AS (
  SELECT doc_id, sha256('aviq:' || text) AS bh FROM documents WHERE doc_id < 24),
fr AS (
  SELECT doc_id, k, sha256(bh || ':' || CAST(k AS VARCHAR)) AS hx
  FROM d CROSS JOIN generate_series(0, 15) g(k)),
quad AS (
  SELECT doc_id, k, q,
         CAST(concat('0x', substr(hx, q * 6 + 1, 2)) AS BIGINT) AS r,
         CAST(concat('0x', substr(hx, q * 6 + 3, 2)) AS BIGINT) AS g,
         CAST(concat('0x', substr(hx, q * 6 + 5, 2)) AS BIGINT) AS b
  FROM fr CROSS JOIN generate_series(0, 3) gq(q)),
byt AS (
  SELECT doc_id, k, p,
         ((p // 3) // 16 // 8) * 2 + (((p // 3) % 16) // 8) AS q,
         p % 3 AS c
  FROM fr CROSS JOIN generate_series(0, 767) gp(p)),
val AS (
  SELECT y.doc_id, y.k, y.q, y.p, y.c,
         CASE y.c WHEN 0 THEN qd.r WHEN 1 THEN qd.g ELSE qd.b END AS v
  FROM byt y JOIN quad qd ON qd.doc_id = y.doc_id AND qd.k = y.k AND qd.q = y.q),
luma AS (
  SELECT doc_id AS id, k, q,
         SUM(CASE c WHEN 0 THEN 77 * v WHEN 1 THEN 150 * v ELSE 29 * v END) AS luma
  FROM val GROUP BY doc_id, k, q
  UNION ALL
  SELECT doc_id + 100 AS id, k, q,
         SUM(CASE c WHEN 0 THEN 77 * vp WHEN 1 THEN 150 * vp ELSE 29 * vp END) AS luma
  FROM (SELECT *, CASE WHEN p % 64 = 0 THEN LEAST(v + 1, 255) ELSE v END AS vp
        FROM val) t
  GROUP BY doc_id, k, q),
bits AS (
  SELECT a.id, a.k * 4 + a.q AS j,
         CASE WHEN a.luma > n.luma THEN 1 ELSE 0 END AS bit
  FROM luma a JOIN luma n ON n.id = a.id AND n.q = a.q AND n.k = (a.k + 1) % 16),
bands AS (
  SELECT id, j // 16 AS band_idx,
         SUM(bit * (CAST(1 AS BIGINT) << (j % 16))) AS band_val
  FROM bits GROUP BY id, j // 16),
fp AS (
  SELECT id,
         SUM(CASE WHEN band_idx = 0 THEN band_val ELSE 0 END) AS b0,
         SUM(CASE WHEN band_idx = 1 THEN band_val ELSE 0 END) AS b1,
         SUM(CASE WHEN band_idx = 2 THEN band_val ELSE 0 END) AS b2,
         SUM(CASE WHEN band_idx = 3 THEN band_val ELSE 0 END) AS b3
  FROM bands GROUP BY id),
pairs AS (
  SELECT a.id AS doc_a, b.id AS doc_b,
         CAST(bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
            + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) AS BIGINT)
           AS hamming
  FROM fp a JOIN fp b
    ON a.id < b.id
   AND (a.b0 = b.b0 OR a.b1 = b.b1 OR a.b2 = b.b2 OR a.b3 = b.b3))
SELECT doc_a, doc_b, hamming FROM pairs WHERE hamming <= 6
""",
    tags=("mm", "dedup"),
)
def q_mm_vidhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual VIDEO near-dup — third member of the fingerprint
    family (image dHash, audio Haitsma–Kalker, and now temporal
    video hashing), all sharing ONE Hamming-LSH back end:
    deterministic quadrant-structured MJPEG-AVI videos (24 docs, 16
    frames of four flat 8×8 JPEG blocks — the shape a lossy codec
    round-trips exactly; ops.mm.make_avi_quad_payload) → REAL
    container parse + per-frame JPEG decode (every frame sampled) →
    planted near-duplicates (ops.mm.rgb_perturb_stage per frame:
    saturating +1 on every 64th byte, id = base + 100) → per-(frame,
    quadrant) integer luma sums (ops.mm.vid_block_luma_stage — four
    int64s replace each frame) → temporal difference-hash bits packed
    into four 16-bit bands (ops.mm.vid_tdhash_bands, wraparound last
    frame → first) → Hamming-ball pairs via band-equality LSH + exact
    bit_count verify (ops.mm.dhash_hamming_pairs). The oracle
    re-derives frame colors, perturbation, quadrant lumas, bits,
    bands, and pairs from the payload DEFINITION alone — a hash match
    certifies the JPEG/AVI chain, the temporal fingerprint, and the
    LSH end-to-end in pure int64.

    Scale shape: decode cost is per-sampled-frame; four int64s
    replace each frame before any shuffle; the fingerprint join is
    4·n_frames rows per video; candidates come from a bucketed
    (band_idx, band_val) self-join — never all-pairs."""
    from pipetree_spark.ops import mm as MM

    d = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 24)
        .select("doc_id", "text")
    )
    frames = MM.video_frame_sample_stage(MM.make_avi_quad_payload(d, n_frames=16), every_n=1)
    variants = MM.rgb_perturb_stage(
        frames.withColumn("doc_id", F.col("doc_id") + 100), every=64, delta=1
    )
    lumas = MM.vid_block_luma_stage(frames.unionByName(variants))
    bands = MM.vid_tdhash_bands(lumas, n_frames=16)
    return MM.dhash_hamming_pairs(bands, max_hamming=6)


_WARC_ORACLE = """
WITH d AS (
  SELECT doc_id, text, sha256('warc:' || text) AS hx
  FROM documents WHERE doc_id < 64),
b AS (
  SELECT doc_id, text, hx,
         CAST(concat('0x', substr(hx, 1, 2)) AS BIGINT) AS b0
  FROM d),
h AS (
  SELECT doc_id, hx, b0,
         CASE WHEN b0 % 4 = 0
              THEN '<html><body><p>not found</p></body></html>'
              ELSE '<html><body><div id=nav><a href=/>Home</a> <a href=/a>About</a></div><p>'
                   || text ||
                   ' &amp; tail</p><div id=footer><a href=/t>Terms</a> <a href=/p>Privacy</a></div></body></html>'
              END AS body
  FROM b)
SELECT doc_id,
       CAST(3 AS BIGINT) AS n_records,
       CAST(CASE WHEN b0 % 4 = 0 THEN 404 ELSE 200 END AS BIGINT) AS http_status,
       'http://crawl.test/' || substr(hx, 1, 8) AS target_uri,
       CAST(strlen(body) AS BIGINT) AS body_bytes,
       body AS body_html
FROM h
"""


@declare("q_src_warc", oracle=_WARC_ORACLE, tags=("source", "mm"))
def q_src_warc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC crawl ingest (ops.warc + ops.mm.warc_extract_stage) — the
    FIRST stage of every CommonCrawl-fed pipeline, before HTML
    extraction even starts: deterministic WARC/1.0 archives (warcinfo
    + request + response records, strict Content-Length framing; 404
    captures planted by digest so the error-classification path is
    gated too) → a real record walk + embedded-HTTP parse → (status,
    target URI, body bytes, HTML body). The oracle re-derives every
    field from the digest + text definition alone, so a hash match
    certifies the framing walk, the header parse, the HTTP split, and
    byte-exact body passthrough (the HTML body then feeds the
    certified q_text_extract_html stage).

    Scale shape: narrow per-row map, framing-sized work, no shuffle;
    per-record-gzipped CommonCrawl files compose decompress_stage in
    front of the same walk."""
    from pipetree_spark.ops import mm as MM

    d = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 64)
        .select("doc_id", "text")
    )
    return MM.warc_extract_stage(MM.make_warc_payload(d))


#: Deterministic MESSY-URL synthesizer shared by every URL-keyed
#: certified query (canon / domain cap): mixed-case hosts, optional
#: www., scheme-matching AND scheme-MISmatched default ports, utm_*
#: tracking params — all driven by sha256(text) bytes so both engines
#: build byte-identical urls. Produces CTE ``u(doc_id, url)``.
#: r15: the URL synthesizer moved to ops.text (url_synth_ctes /
#: synth_messy_urls) so spec-able stage ops and oracles share it;
#: these aliases keep the certified oracle text byte-identical.
_URL_SYNTH_CTES = TX.url_synth_ctes()

#: lowercased, www.-stripped registered host from CTE ``u`` — the
#: domain key crawl pipelines group on (twin of the Spark-side
#: ``TX.url_parts`` + strip in the queries below).
_URL_HOST_SQL = TX.URL_HOST_SQL


_synth_messy_urls = TX.synth_messy_urls


@declare(
    "q_text_url_canon",
    oracle="WITH " + _URL_SYNTH_CTES + r""",
nf AS (
  SELECT doc_id, url, regexp_replace(url, '#.*$', '') AS nofrag FROM u),
parts AS (
  SELECT doc_id, url,
         lower(regexp_extract(nofrag, '^([A-Za-z]+)://', 1)) AS scheme,
         regexp_extract(regexp_extract(
             regexp_extract(nofrag, '^[A-Za-z]+://([^/?]+)', 1),
             '([^@]*)$', 1), '^(\[[^\]]+\]|[^:]+)', 1) AS host,
         regexp_extract(regexp_extract(
             regexp_extract(nofrag, '^[A-Za-z]+://([^/?]+)', 1),
             '([^@]*)$', 1), ':([0-9]+)$', 1) AS port,
         regexp_extract(nofrag, '^[A-Za-z]+://[^/?]+(/[^?]*)', 1) AS path,
         regexp_extract(nofrag, '\?(.*)$', 1) AS q
  FROM nf),
canon AS (
  SELECT doc_id, url,
         regexp_replace(lower(host), '^www\.', '') AS chost,
         CASE WHEN (scheme = 'http' AND port = '80')
                OR (scheme = 'https' AND port = '443')
              THEN '' ELSE port END AS cport,
         list_sort(list_filter(string_split(q, '&'),
                   x -> length(x) > 0 AND NOT starts_with(x, 'utm_'))) AS params,
         scheme, path
  FROM parts)
SELECT doc_id, url,
       scheme || '://' || chost ||
       (CASE WHEN length(cport) > 0 THEN ':' || cport ELSE '' END) || path ||
       (CASE WHEN len(params) > 0 THEN '?' || array_to_string(params, '&')
             ELSE '' END) AS canon,
       chost AS host,
       CAST(len(params) AS BIGINT) AS n_params
FROM canon
""",
    tags=("text", "pipeline"),
)
def q_text_url_canon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization (ops.text.url_parts / url_canonicalize) —
    the normalization every URL-keyed crawl stage runs before dedup or
    provenance joins: deterministic MESSY urls synthesized in both
    engines (mixed-case hosts, optional www., scheme-matching AND
    scheme-MISmatched default ports — http://h:443/ must keep its
    port, it is a different resource; r12 ADVICE — utm_* tracking
    params) → lowercase host, www. strip, scheme-dependent
    default-port strip, utm drop, param sort. A hash match certifies
    the regex part-split and
    the canonical reassembly byte-for-byte; the canonical string is
    the dedup/join key a 100 TB crawl pipeline groups on.

    Scale shape: pure per-row expressions — narrow map, no shuffle."""
    d = load_table(spark, sf_dir, "documents")
    u = _synth_messy_urls(d)
    p = TX.url_parts("url")
    host = F.regexp_replace(F.lower(p["host"]), r"^www\.", "")
    return u.select(
        "doc_id",
        "url",
        TX.url_canonicalize("url").alias("canon"),
        host.alias("host"),
        F.size(
            F.filter(
                F.split(p["query"], "&"),
                lambda x: (F.length(x) > 0) & ~x.startswith("utm_"),
            )
        )
        .cast("long")
        .alias("n_params"),
    )


@declare(
    "q_text_domain_cap",
    oracle="WITH " + _URL_SYNTH_CTES + r""",
h AS (SELECT doc_id, """ + _URL_HOST_SQL + r""" AS host FROM u),
r AS (
  SELECT h.doc_id, h.host,
         row_number() OVER (
           PARTITION BY h.host
           ORDER BY d2.n_chars DESC, h.doc_id ASC) AS rnk
  FROM h JOIN documents d2 ON d2.doc_id = h.doc_id)
SELECT doc_id, host, CAST(rnk AS BIGINT) AS rnk,
       CAST(CASE WHEN rnk <= 30 THEN 1 ELSE 0 END AS BIGINT) AS kept
FROM r
""",
    tags=("text", "pipeline"),
)
def q_text_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain document quota — the crawl-curation stage after URL
    canonicalization: cap how many documents any one registered domain
    contributes to the training mix (a handful of mega-domains
    otherwise dominate a web corpus; every public curation recipe
    applies some per-domain cap). Messy urls come from the shared
    synthesizer (:func:`_synth_messy_urls`), the domain key is the
    lowercased www.-stripped host (ops.text.url_parts), and the cap
    keeps the 30 LONGEST documents per domain — row_number over
    (n_chars DESC, doc_id ASC), a total order, so the kept set is
    deterministic. Emits (doc_id, host, rnk, kept 0/1) for every doc:
    dropped docs stay visible with kept=0, an audited signal.

    Scale shape: narrow URL map + ONE shuffle on the domain key for
    the window. Domain keys are Zipf-skewed at crawl scale; the
    window still streams each partition (row_number needs no full
    materialization), and a real deployment would pre-aggregate
    per-domain counts to short-circuit domains under the cap —
    documented rather than simulated here because the certified
    semantics are the cap itself."""
    d = load_table(spark, sf_dir, "documents")
    u = _synth_messy_urls(d.select("doc_id", "text", "n_chars"))
    h = TX.url_host_stage(u).select("doc_id", "n_chars", "host")
    return TX.domain_cap_stage(h, cap=30).select(
        "doc_id", "host", "rnk", "kept"
    )


_LINK_EDGES_CTE = """d AS (
  SELECT doc_id, sha256('link:' || text) AS hx
  FROM documents WHERE doc_id < 128),
e AS (
  SELECT DISTINCT src, dst FROM (
    SELECT doc_id AS src,
           CAST(concat('0x', substr(hx, 1, 2)) AS BIGINT) % 128 AS dst FROM d
    UNION ALL
    SELECT doc_id AS src,
           CAST(concat('0x', substr(hx, 3, 2)) AS BIGINT) % 128 AS dst FROM d))"""


def _linkgraph_oracle() -> str:
    from pipetree_spark.queries.graph import _pagerank_sql

    return _pagerank_sql(iters=3, edges_cte=_LINK_EDGES_CTE)


@declare("q_pipe_linkgraph", oracle=_linkgraph_oracle(), tags=("pipeline", "graph", "text"))
def q_pipe_linkgraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl LINK-GRAPH analytics composed end-to-end: deterministic
    HTML pages whose anchor targets are digest-driven cross-document
    links (page i links to docs sha-byte₀ mod 128 and sha-byte₁ mod
    128) → REAL href extraction (regexp_extract_all over the anchor
    pattern — the link-graph construction step of any web-corpus
    pipeline) → distinct edge list → 3 iterations of INTEGER-EXACT
    PageRank (ops.graph.pagerank_exact — dangling mass, teleport, and
    truncating division all bit-pinned). The oracle derives the SAME
    edges from the digest definition and replays the same unrolled
    iterations, so a hash match certifies the extraction regex AND the
    graph arithmetic composed — crawl → graph, the second half of the
    q_pipe_crawl_e2e story.

    Scale shape: extraction is a narrow map; PageRank is one |edges|
    shuffle per iteration with the rank side alone moving."""
    from pipetree_spark.ops.graph import pagerank_exact

    d = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 128)
        .select("doc_id", "text")
    )
    hx = F.sha2(F.concat(F.lit("link:"), F.col("text")), 256)
    t1 = (F.conv(F.substring(hx, 1, 2), 16, 10).cast("long") % 128).cast("string")
    t2 = (F.conv(F.substring(hx, 3, 2), 16, 10).cast("long") % 128).cast("string")
    html = F.concat(
        F.lit("<html><body><p>"),
        F.substring("text", 1, 40),
        F.lit('</p><a href=http://doc'), t1, F.lit(".test/>x</a> "),
        F.lit("<a href=http://doc"), t2, F.lit(".test/>y</a></body></html>"),
    )
    pages = d.select("doc_id", html.alias("html"))
    edges = (
        pages.select(
            F.col("doc_id").alias("src"),
            F.explode(
                F.regexp_extract_all(
                    "html", F.lit(r"<a href=http://doc([0-9]+)\.test/>"), 1
                )
            ).alias("tgt"),
        )
        .select("src", F.col("tgt").cast("long").alias("dst"))
        .distinct()
    )
    return pagerank_exact(edges, iters=3)


@declare(
    "q_mm_corrupt_triage",
    oracle="""
SELECT doc_id,
       CASE doc_id % 4 WHEN 2 THEN 'unknown' ELSE 'png' END AS fmt,
       CASE doc_id % 4 WHEN 0 THEN 'ok'
                       WHEN 2 THEN 'unknown'
                       ELSE 'corrupt' END AS status,
       CAST(CASE doc_id % 4 WHEN 0 THEN 256 ELSE 0 END AS BIGINT) AS n_px
FROM documents WHERE doc_id < 64
""",
    tags=("mm", "source"),
)
def q_mm_corrupt_triage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corrupt-media TRIAGE — the dead-letter path a raw crawl ingest
    needs where curated-shard decode stages rightly fail loudly
    (the media analog of q_src_corrupt_json): REAL PNGs are
    deterministically damaged per doc_id mod 4 (intact / truncated /
    magic-flipped / 8-byte mid-file bitrot;
    ops.mm.corrupt_media_variant_stage) and
    ops.mm.classify_media_stage sniffs, attempts the REAL decode, and
    classifies instead of crashing. PNG's per-chunk CRC32 makes the
    truncation and bitrot outcomes GUARANTEED decode failures, so the
    oracle can assert the full triage table from the variant
    definition alone — a hash match certifies magic dispatch, the
    decoder's loud-fail contract, and the classification mapping.

    Scale shape: narrow per-row map; corrupt rows cost only the bytes
    already read, and the emitted audit is 4 small columns per
    payload."""
    from pipetree_spark.ops import mm as MM

    d = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 64)
        .select("doc_id", "text")
    )
    pngs = MM.make_png_payload(d, width=16, height=16)
    damaged = MM.corrupt_media_variant_stage(pngs)
    return MM.classify_media_stage(damaged)


@declare("q_src_warc_gz", oracle=_WARC_ORACLE, tags=("source", "mm"))
def q_src_warc_gz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION CommonCrawl layout: per-record gzip members
    concatenated into one file (make_warc_payload(gzip_members=True),
    mtime pinned for deterministic bytes) → multi-member gzip
    decompression as a COLUMN op (ops.mm.decompress_stage — stdlib
    gzip transparently consumes concatenated members) → the same WARC
    walk as q_src_warc. Shares q_src_warc's oracle verbatim: the
    compression layer must be invisible to every extracted field, and
    a hash match proves exactly that — decompression, framing, HTTP
    parse, and body passthrough composed.

    Scale shape: two chained narrow maps; decompression is
    executor-side per payload (Spark decompresses files natively but
    has no built-in for a compressed column)."""
    from pipetree_spark.ops import mm as MM

    d = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 64)
        .select("doc_id", "text")
    )
    gz = MM.make_warc_payload(d, gzip_members=True)
    return MM.warc_extract_stage(MM.decompress_stage(gz, codec="gzip"))


@declare(
    "q_pipe_crawl_e2e",
    oracle=r"""
WITH d AS (
  SELECT doc_id, text, sha256('warc:' || text) AS hx
  FROM documents WHERE doc_id < 64),
ok AS (
  SELECT doc_id,
         '<html><body><div id=nav><a href=/>Home</a> <a href=/a>About</a></div><p>'
         || text ||
         ' &amp; tail</p><div id=footer><a href=/t>Terms</a> <a href=/p>Privacy</a></div></body></html>'
           AS html
  FROM d
  WHERE CAST(concat('0x', substr(hx, 1, 2)) AS BIGINT) % 4 <> 0),
stripped AS (
  SELECT doc_id,
         regexp_replace(regexp_replace(regexp_replace(html,
           '(?is)<head[^>]*>.*?</head>', ' ', 'g'),
           '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
           '(?is)<style[^>]*>.*?</style>', ' ', 'g') AS c
  FROM ok),
per AS (
  SELECT doc_id,
         list_filter(
           list_transform(
             string_split_regex(c, '(?i)</(?:p|div|li)>'),
             b -> {'txt': trim(regexp_replace(regexp_replace(b, '<[^>]*>', ' ', 'g'), '[ \t\n\x0B\f\r]+', ' ', 'g')),
                   'lc': coalesce(list_sum(list_transform(
                           regexp_extract_all(b, '(?is)<a[ \t\n\x0B\f\r][^>]*>(.*?)</a>', 1),
                           x -> length(trim(regexp_replace(regexp_replace(x, '<[^>]*>', ' ', 'g'), '[ \t\n\x0B\f\r]+', ' ', 'g'))))), 0)}),
           s -> length(s.txt) > 0) AS nonempty
  FROM stripped),
k AS (
  SELECT doc_id, nonempty,
         list_filter(nonempty, s -> s.lc * 2 <= length(s.txt)) AS kept
  FROM per)
SELECT doc_id,
       trim(regexp_replace(
         replace(replace(replace(replace(replace(replace(
           array_to_string(list_transform(kept, s -> s.txt), ' '),
           '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
           chr(38) || '#39;', chr(39)), '&amp;', '&'),
         '[ \t\n\x0B\f\r]+', ' ', 'g')) AS extracted,
       CAST(len(nonempty) AS BIGINT) AS n_blocks,
       CAST(len(kept) AS BIGINT) AS n_kept_blocks,
       CAST(coalesce(list_sum(list_transform(nonempty, s -> s.lc)), 0) AS BIGINT) AS link_chars,
       CAST(coalesce(list_sum(list_transform(nonempty, s -> length(s.txt))), 0) AS BIGINT) AS text_chars
FROM k
""",
    tags=("pipeline", "text", "mm"),
)
def q_pipe_crawl_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The crawl FRONT-END end-to-end, certified as one unit (the
    q_pipe_curation pattern applied to ingest): WARC archives
    (ops.mm.make_warc_payload — warcinfo/request/response records,
    planted 404 captures) → REAL record-framing walk + HTTP parse
    (ops.mm.warc_extract_stage) → error filtering (keep status 200)
    → HTML boilerplate extraction on the captured bodies
    (ops.text.html_extract_stage: block split, integer link-density
    rule, entity decode). One hash match certifies the WARC parser,
    the status classification, byte-exact body passthrough, AND the
    extraction arithmetic composed — the exact path a CommonCrawl-fed
    corpus takes before q_text_clean ever sees a byte.

    Scale shape: two chained narrow maps + per-row HOF expressions —
    zero shuffles end-to-end; at 100 TB this whole front-end is
    embarrassingly parallel scan work."""
    from pipetree_spark.ops import mm as MM

    d = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 64)
        .select("doc_id", "text")
    )
    rows = MM.warc_extract_stage(MM.make_warc_payload(d))
    ok = rows.where(F.col("http_status") == 200).select(
        "doc_id", F.col("body_html").alias("html")
    )
    return TX.html_extract_stage(ok, "html", "doc_id")


@declare(
    "q_mm_resize",
    oracle="""
WITH d AS (
  SELECT doc_id, sha256(text) AS bh FROM documents WHERE doc_id < 24),
blk AS (
  SELECT doc_id, i, sha256(bh || ':' || CAST(i AS VARCHAR)) AS hx
  FROM d CROSS JOIN generate_series(0, 23) g(i)),
byt AS (
  SELECT doc_id, i * 32 + j AS p,
         CAST(concat('0x', substr(hx, j * 2 + 1, 2)) AS BIGINT) AS b
  FROM blk CROSS JOIN generate_series(0, 31) gj(j)),
kept AS (
  SELECT doc_id, p, b FROM byt
  WHERE ((p // 3) // 16) % 2 = 0 AND ((p // 3) % 16) % 2 = 0)
SELECT doc_id,
       CAST(COUNT(*) FILTER (p % 3 = 0) AS BIGINT) AS n_px,
       CAST(SUM(b) FILTER (p % 3 = 0) AS BIGINT) AS sum_r,
       CAST(SUM(b) FILTER (p % 3 = 1) AS BIGINT) AS sum_g,
       CAST(SUM(b) FILTER (p % 3 = 2) AS BIGINT) AS sum_b,
       CAST(SUM(b * b) AS BIGINT) AS sum_sq
FROM kept GROUP BY doc_id
""",
    tags=("mm",),
)
def q_mm_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image RESIZE under the driver hash gate — the preprocessing op
    every vision pipeline runs first: deterministic 16×16 pixels →
    REAL PNG encode/decode → nearest-neighbor resize to 8×8
    (ops.mm.rgb_resize_stage: integer index maps y = r·h_in//h_out, so
    the kept source pixels are exactly the even rows × even columns —
    oracle-expressible with two modular predicates) → integer channel
    stats. A hash match certifies the codec AND the index arithmetic
    (an off-by-one in the map would shift every kept pixel).

    Scale shape: narrow per-row map; the resize shrinks payloads 4×
    before any downstream stage."""
    from pipetree_spark.ops import mm as MM

    d = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 24)
        .select("doc_id", "text")
    )
    base = MM.image_decode_stage(MM.make_png_payload(d, width=16, height=16))
    return MM.rgb_int_stats_stage(MM.rgb_resize_stage(base, out_w=8, out_h=8))


@declare(
    "q_mm_audio_downsample",
    oracle="""
WITH d AS (
  SELECT doc_id, sha256('pcm:' || text) AS bh FROM documents WHERE doc_id < 24),
blk AS (
  SELECT doc_id, i, sha256(bh || ':' || CAST(i AS VARCHAR)) AS hx
  FROM d CROSS JOIN generate_series(0, 31) g(i)),
byt AS (
  SELECT doc_id, i * 32 + j AS p,
         CAST(concat('0x', substr(hx, j * 2 + 1, 2)) AS BIGINT) AS b
  FROM blk CROSS JOIN generate_series(0, 31) gj(j)),
smp AS (
  SELECT doc_id, p // 2 AS k,
         SUM(CASE WHEN p % 2 = 0 THEN b ELSE 256 * b END) AS u
  FROM byt GROUP BY doc_id, p // 2),
sv AS (
  SELECT doc_id, CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS v
  FROM smp WHERE k % 4 = 0)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_samples,
       CAST(SUM(v) AS BIGINT) AS sum_s,
       CAST(SUM(v * v) AS BIGINT) AS sum_sq,
       CAST(MAX(ABS(v)) AS BIGINT) AS peak_abs
FROM sv GROUP BY doc_id
""",
    tags=("mm",),
)
def q_mm_audio_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio DOWNSAMPLE under the driver hash gate — the waveform twin
    of q_mm_resize: deterministic PCM16 → REAL WAV encode/decode →
    stride decimation by 4 (ops.mm.pcm_downsample_stage: keep samples
    k ≡ 0 mod 4 — the exact, dependency-free resample this container
    supports; a production resampler adds a low-pass first) →
    integer-exact waveform stats. A hash match certifies the codec
    AND the stride arithmetic.

    Scale shape: narrow per-row map; payloads shrink 4× before any
    downstream stage."""
    from pipetree_spark.ops import mm as MM

    d = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 24)
        .select("doc_id", "text")
    )
    raw = MM.audio_decode_stage(MM.make_wav_payload(d, n_samples=512, sample_rate=8000))
    return MM.pcm_int_stats_stage(MM.pcm_downsample_stage(raw, factor=4))


@declare(
    "q_mm_keyframes",
    oracle="""
WITH d AS (
  SELECT doc_id, sha256('aviq:' || text) AS bh FROM documents WHERE doc_id < 24),
fr AS (
  SELECT doc_id, k, sha256(bh || ':' || CAST(k // 3 AS VARCHAR)) AS hx
  FROM d CROSS JOIN generate_series(0, 15) g(k)),
quad AS (
  SELECT doc_id, k, q,
         CAST(concat('0x', substr(hx, q * 6 + 1, 2)) AS BIGINT) AS r,
         CAST(concat('0x', substr(hx, q * 6 + 3, 2)) AS BIGINT) AS g,
         CAST(concat('0x', substr(hx, q * 6 + 5, 2)) AS BIGINT) AS b
  FROM fr CROSS JOIN generate_series(0, 3) gq(q)),
luma AS (
  SELECT doc_id, k, q, 64 * (77 * r + 150 * g + 29 * b) AS luma FROM quad),
delt AS (
  SELECT a.doc_id, a.k AS frame_idx,
         SUM(ABS(a.luma - COALESCE(p.luma, a.luma))) AS delta
  FROM luma a LEFT JOIN luma p
    ON p.doc_id = a.doc_id AND p.q = a.q AND p.k = a.k - 1
  GROUP BY a.doc_id, a.k)
SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx, CAST(delta AS BIGINT) AS delta
FROM delt WHERE frame_idx = 0 OR delta > 0
""",
    tags=("mm",),
)
def q_mm_keyframes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-change KEYFRAME selection — the shot-boundary sampling
    a vision-language corpus runs so it stores one frame per shot
    instead of fps near-identical copies: quadrant-structured
    MJPEG-AVI videos with PLANTED shot structure (runs of 3 identical
    frames via make_avi_quad_payload(repeat=3)) → real container parse
    + per-frame JPEG decode → per-(frame, quadrant) luma sums → keep
    frame t iff t = 0 or its total absolute quadrant-luma change vs
    t−1 is nonzero (ops.mm.vid_keyframes — integer-exact; a production
    threshold replaces the > 0). The oracle re-derives shot colors,
    lumas, deltas, and the keep rule from the payload DEFINITION — a
    hash match certifies the codec chain and the boundary arithmetic,
    and the result is exactly one keyframe per planted shot.

    Scale shape: decode is per-sampled-frame; selection runs on the
    fingerprint-sized luma relation (4 ints per frame), one keyed
    self-join, no all-pairs."""
    from pipetree_spark.ops import mm as MM

    d = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 24)
        .select("doc_id", "text")
    )
    frames = MM.video_frame_sample_stage(
        MM.make_avi_quad_payload(d, n_frames=16, repeat=3), every_n=1
    )
    lumas = MM.vid_block_luma_stage(frames)
    return MM.vid_keyframes(lumas, n_frames=16)


@declare(
    "q_mm_exif_extract",
    oracle="""
WITH d AS (
  SELECT doc_id, sha256('exif:' || text) AS hx FROM documents WHERE doc_id < 24),
b AS (
  SELECT doc_id, hx,
         CAST(concat('0x', substr(hx, 1, 2)) AS BIGINT) AS b0,
         CAST(concat('0x', substr(hx, 3, 2)) AS BIGINT) AS b1,
         CAST(concat('0x', substr(hx, 5, 2)) AS BIGINT) AS b2,
         CAST(concat('0x', substr(hx, 7, 2)) AS BIGINT) AS b3,
         CAST(concat('0x', substr(hx, 9, 2)) AS BIGINT) AS b4,
         CAST(concat('0x', substr(hx, 11, 2)) AS BIGINT) AS b5,
         CAST(concat('0x', substr(hx, 13, 2)) AS BIGINT) AS b6,
         CAST(concat('0x', substr(hx, 15, 2)) AS BIGINT) AS b7,
         CAST(concat('0x', substr(hx, 17, 2)) AS BIGINT) AS b8,
         CAST(concat('0x', substr(hx, 19, 2)) AS BIGINT) AS b9,
         CAST(concat('0x', substr(hx, 21, 2)) AS BIGINT) AS b10
  FROM d)
SELECT doc_id,
       CASE WHEN b0 % 2 = 1 THEN 'MM' ELSE 'II' END AS endian,
       'MK' || substr(hx, 5, 6) AS make,
       CAST(1 + b1 % 8 AS BIGINT) AS orientation,
       CAST(b2 * 256 + b3 AS BIGINT) AS xres_num,
       CAST(1 + b4 AS BIGINT) AS xres_den,
       printf('%04d:%02d:%02d %02d:%02d:%02d',
              2000 + b5 % 100, 1 + b6 % 12, 1 + b7 % 28,
              b8 % 24, b9 % 60, b10 % 60) AS dt_original
FROM b
""",
    tags=("mm",),
)
def q_mm_exif_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXIF metadata extraction (ops.exif + ops.mm.exif_extract_stage)
    — the metadata stage a multimodal crawl pipeline runs BEFORE any
    pixel decode (orientation → rotation normalization, timestamps →
    freshness filters, make → provenance audits): deterministic JPEGs
    carrying REAL EXIF APP1 segments (spec-conformant TIFF with BOTH
    byte orders — digest-selected per doc — inline SHORTs, offset
    ASCII strings, an offset RATIONAL, and an Exif sub-IFD;
    ops.mm.make_jpeg_exif_payload) → a real byte-level segment walk +
    IFD parse (ops.exif.exif_parse). The oracle re-derives every field
    from the digest DEFINITION alone, so a hash match certifies the
    APP1 builder, both endian decode paths, inline-vs-offset value
    handling, and the sub-IFD walk in one gate.

    Scale shape: narrow per-row map, no shuffle; only segment headers
    are walked — entropy-coded data is never touched."""
    from pipetree_spark.ops import mm as MM

    d = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 24)
        .select("doc_id", "text")
    )
    return MM.exif_extract_stage(MM.make_jpeg_exif_payload(d))


@declare(
    "q_dedup_substring",
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(range(len(a))) AS rn, unnest(a) AS word
  FROM (SELECT doc_id,
               list_filter(string_split(text, ' '), w -> length(w) > 0) AS a
        FROM documents)),
grams AS (
  SELECT doc_id, rn AS s,
         string_agg(word, chr(31)) OVER (PARTITION BY doc_id ORDER BY rn
           ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS gram,
         count(*) OVER (PARTITION BY doc_id ORDER BY rn
           ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS n
  FROM toks QUALIFY n = 8),
dup AS (SELECT gram FROM grams GROUP BY gram HAVING COUNT(*) >= 2),
hits AS (
  SELECT doc_id, s, s + 7 AS e FROM grams JOIN dup USING (gram)),
marked AS (
  SELECT doc_id, s, e,
         MAX(e) OVER (PARTITION BY doc_id ORDER BY s
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
  FROM hits),
isl AS (
  SELECT doc_id, s, e,
         SUM(CASE WHEN prev_end IS NULL OR s > prev_end + 1 THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY s
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM marked),
spans AS (
  SELECT doc_id, island, MIN(s) AS span_start, MAX(e) AS span_end
  FROM isl GROUP BY doc_id, island),
per_doc AS (
  SELECT doc_id, COUNT(*) AS n_dup_spans,
         SUM(span_end - span_start + 1) AS n_dup_tokens,
         MAX(span_end - span_start + 1) AS max_span_len
  FROM spans GROUP BY doc_id),
totals AS (SELECT doc_id, COUNT(*) AS n_tokens FROM toks GROUP BY doc_id)
SELECT t.doc_id,
       CAST(t.n_tokens AS BIGINT) AS n_tokens,
       CAST(COALESCE(p.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
       CAST(COALESCE(p.n_dup_tokens, 0) AS BIGINT) AS n_dup_tokens,
       CAST(COALESCE(p.max_span_len, 0) AS BIGINT) AS max_span_len
FROM totals t LEFT JOIN per_doc p USING (doc_id)
""",
    tags=("text", "dedup"),
)
def q_dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SUBSTRING-level exact dedup audit (r11 verdict item 3; the Lee
    et al. 2022 span-dedup shape at fixed minimum match length k=8):
    every 8-token window repeated ≥2 times anywhere in the corpus marks
    its interval, per-doc intervals merge into maximal spans
    (gaps-and-islands over a running-max window), and the report is
    (doc_id, n_tokens, n_dup_spans, n_dup_tokens, max_span_len) with
    zeros for clean docs (ops.text.dup_span_islands / dup_span_stats).
    Any repeated span of ≥ k tokens is recovered in full as a union of
    repeated k-grams — k is exactly the suffix-array length threshold.
    All-int64; the oracle replays tokenization, gram windows, the
    duplicate set, island merging, and the zero-filled join."""
    d = load_table(spark, sf_dir, "documents")
    return TX.dup_span_stats(d, "text", "doc_id", k=8, min_count=2)


@declare(
    "q_text_extract_html",
    oracle=r"""
WITH src AS (
  SELECT doc_id,
         '<html><head><title>' || substr(text, 1, 10) ||
         '</title><style>p { margin:0 }</style><script>var x = 1 < 2;</script></head><body><div id=nav><a href=/>Home</a> <a href=/a>About</a> <a href=/c>Contact</a></div><p>' ||
         substr(text, 1, 120) || ' &amp; tail</p><div>See <a href=/x>' ||
         substr(text, 1, 15) || '</a> ' || substr(text, 121) ||
         '</div><div id=footer><a href=/t>Terms</a> <a href=/p>Privacy</a></div></body></html>'
           AS html
  FROM documents WHERE doc_id < 200),
stripped AS (
  SELECT doc_id,
         regexp_replace(regexp_replace(regexp_replace(html,
           '(?is)<head[^>]*>.*?</head>', ' ', 'g'),
           '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
           '(?is)<style[^>]*>.*?</style>', ' ', 'g') AS c
  FROM src),
per AS (
  SELECT doc_id,
         list_filter(
           list_transform(
             string_split_regex(c, '(?i)</(?:p|div|li)>'),
             b -> {'txt': trim(regexp_replace(regexp_replace(b, '<[^>]*>', ' ', 'g'), '[ \t\n\x0B\f\r]+', ' ', 'g')),
                   'lc': coalesce(list_sum(list_transform(
                           regexp_extract_all(b, '(?is)<a[ \t\n\x0B\f\r][^>]*>(.*?)</a>', 1),
                           x -> length(trim(regexp_replace(regexp_replace(x, '<[^>]*>', ' ', 'g'), '[ \t\n\x0B\f\r]+', ' ', 'g'))))), 0)}),
           s -> length(s.txt) > 0) AS nonempty
  FROM stripped),
k AS (
  SELECT doc_id, nonempty,
         list_filter(nonempty, s -> s.lc * 2 <= length(s.txt)) AS kept
  FROM per)
SELECT doc_id,
       trim(regexp_replace(
         replace(replace(replace(replace(replace(replace(
           array_to_string(list_transform(kept, s -> s.txt), ' '),
           '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
           chr(38) || '#39;', chr(39)), '&amp;', '&'),
         '[ \t\n\x0B\f\r]+', ' ', 'g')) AS extracted,
       CAST(len(nonempty) AS BIGINT) AS n_blocks,
       CAST(len(kept) AS BIGINT) AS n_kept_blocks,
       CAST(coalesce(list_sum(list_transform(nonempty, s -> s.lc)), 0) AS BIGINT) AS link_chars,
       CAST(coalesce(list_sum(list_transform(nonempty, s -> length(s.txt))), 0) AS BIGINT) AS text_chars
FROM k

""",
    tags=("text",),
)
def q_text_extract_html(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML boilerplate extraction (r11 verdict item 4): a
    deterministic HTML corpus is synthesized from each doc's text in
    BOTH engines (title + style + script + a pure-link nav div + a
    content paragraph with an entity + a mixed link/text div + a
    pure-link footer), then ops.text.html_extract_stage strips
    head/script/style, splits into blocks at block-tag closers, drops
    high-link-density blocks via the integer rule 2*link_chars <=
    text_chars, joins the survivors, and decodes entities. The oracle
    replays synthesis AND extraction with RE2 regexes (the op sticks
    to the Java-RE2 common subset: no backreferences, inline (?is)
    only); extracted text + four int64 block metrics hash-certify tag
    stripping, block segmentation, anchor accounting, the keep rule,
    and entity decoding end-to-end. Narrow per-row HOF exprs -- NO
    shuffle, the clean_text scale shape."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    html = F.concat(
        F.lit("<html><head><title>"),
        F.substring("text", 1, 10),
        F.lit("</title><style>p { margin:0 }</style>"
              "<script>var x = 1 < 2;</script></head><body>"
              "<div id=nav><a href=/>Home</a> <a href=/a>About</a> "
              "<a href=/c>Contact</a></div><p>"),
        F.substring("text", 1, 120),
        F.lit(" &amp; tail</p><div>See <a href=/x>"),
        F.substring("text", 1, 15),
        F.lit("</a> "),
        F.expr("substring(text, 121)"),
        F.lit("</div><div id=footer><a href=/t>Terms</a> "
              "<a href=/p>Privacy</a></div></body></html>"),
    )
    src = d.select("doc_id", html.alias("html"))
    return TX.html_extract_stage(src, "html", "doc_id")


@declare(
    "q_text_unigram_train",
    oracle=TX.unigram_train_sql(2),
    tags=("text",),
)
def q_text_unigram_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM (SentencePiece-style) tokenizer training, 2 hard-EM
    rounds hash-certified (ops.text.unigram_train — r11 verdict item
    5, the EM twin of BPE training): substring seeding with a top-48 +
    all-single-chars piece inventory, Viterbi E-step (max left-to-right
    probability product, ascending-segstr tie-break), Laplace M-step
    (used+1)/Σ(used+1). Every probability is an exact int/int double
    and every comparison is on identically-derived IEEE values, so the
    DuckDB oracle — which re-runs seeding and both EM rounds with a
    recursive segmentation-path CTE generated from the same constants
    — matches bit-for-bit including the prob column. Corpus is touched
    once (the distributed (word,freq) collapse); all EM state is
    vocab-bound."""
    d = load_table(spark, sf_dir, "documents")
    return TX.unigram_train(d, "text", n_rounds=2)


@declare(
    "q_text_unigram_encode",
    oracle=TX.unigram_encode_sql(2),
    tags=("text",),
)
def q_text_unigram_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM ENCODE at corpus scale (ops.text.unigram_encode —
    r12 verdict item 2, the missing twin of bpe_encode): train the
    2-round hard-EM piece inventory (q_text_unigram_train's certified
    recipe), collect the vocab-bound (piece, prob) table, and segment
    EVERY document with the probabilities broadcast as a dict through
    ONE mapInPandas stage — a flat plan whose depth is independent of
    piece-inventory size, zero shuffles after the trainer's one
    corpus collapse. Per-word segmentation is the trainer's own exact
    path enumerator (identical IEEE multiply order + ascending-segstr
    tie-break), so the DuckDB oracle — the trainer chain plus one more
    recursive segmentation round over distinct corpus words — matches
    hash-exact including piece counts. Emits (doc_id, n_words,
    n_pieces, n_oov); n_oov is 0 here (uncapped vocab over the
    training corpus) and exists so capped-vocab information loss is
    an audited column, never silent."""
    d = load_table(spark, sf_dir, "documents")
    return TX.unigram_encode(d, TX.unigram_probs(d, "text", n_rounds=2))


@declare(
    "q_text_unigram_encode_capped",
    oracle=TX.unigram_encode_sql(2, max_vocab=16),
    tags=("text",),
)
def q_text_unigram_encode_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram ENCODE under a PRODUCTION vocab cap — puts the OOV
    branch under the driver hash gate: training capped at
    max_vocab=16 (top-K by freq DESC, word ASC, the bpe_word_freqs
    rule) leaves characters that occur only in dropped words without
    coverage, so thousands of corpus words have NO segmentation path;
    they must surface as exact n_oov counts — never as silent zero
    pieces — and the encoded words' piece counts must stay bit-equal
    to the uncapped rule over the capped inventory. The oracle runs
    the same capped words CTE through the trainer chain plus the
    encode round; the LEFT-JOIN null branch IS the oracle's n_oov.
    Scale shape identical to q_text_unigram_encode (the cap only
    SHRINKS driver state)."""
    d = load_table(spark, sf_dir, "documents")
    return TX.unigram_encode(
        d, TX.unigram_probs(d, "text", n_rounds=2, max_vocab=16)
    )


@declare(
    "q_text_bm25",
    oracle="""
WITH toks AS (
  SELECT doc_id, word
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents) t
  WHERE length(word) > 0),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
corpus AS (
  SELECT COUNT(*) AS n_docs,
         CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
  FROM dl),
tf AS (
  SELECT doc_id, word AS term, COUNT(*) AS tf
  FROM toks WHERE word IN ('table', 'spark', 'query')
  GROUP BY doc_id, word),
dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term)
SELECT tf.doc_id, tf.term,
       CAST(tf.tf AS BIGINT) AS tf,
       CAST(dl.dl AS BIGINT) AS dl,
       round(
         ln(1.0 + (CAST(c.n_docs - dfreq.df AS DOUBLE) + 0.5)
                  / (CAST(dfreq.df AS DOUBLE) + 0.5))
         * ((CAST(tf.tf AS DOUBLE) * 2.2)
            / (CAST(tf.tf AS DOUBLE)
               + 1.2 * (1.0 - 0.75
                        + 0.75 * (CAST(dl.dl AS DOUBLE) / c.avgdl)))),
         4) + 0.0 AS score
FROM tf JOIN dl USING (doc_id) JOIN dfreq USING (term) CROSS JOIN corpus c
""",
    tags=("text",),
)
def q_text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 per-(doc, term) relevance for a 3-term query over the
    corpus (ops.text.bm25_scores; r11 verdict item 8 — the retrieval
    scorer beside TF-IDF). k1=1.2, b=0.75 (1.2+1.0 == 2.2 exactly in
    IEEE, so both engines parse the same numerator constant); tf/dl/df/
    N are exact ints, avgdl and every factor an int-derived double in
    an operation order the oracle mirrors token for token; one ln()
    under round(·,4) (the q_text_pmi precedent) with the pin_zero/+0.0
    twin. One row per (doc, term) — scores never float-sum across
    terms, so no summation-order hazard anywhere."""
    d = load_table(spark, sf_dir, "documents")
    return TX.bm25_scores(d, ["table", "spark", "query"], "text", "doc_id")


@declare(
    "q_dedup_lines",
    oracle="""
WITH w AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), x -> length(x) > 0) AS words
  FROM documents),
l AS (
  SELECT doc_id,
         array_to_string(list_slice(words, i*6 + 1, i*6 + 6), ' ') AS line
  FROM w CROSS JOIN generate_series(0, 1023) g(i)
  WHERE i*6 < len(words)),
ln AS (SELECT doc_id, line, len(string_split(line, ' ')) AS nw FROM l),
f AS (SELECT line, COUNT(DISTINCT doc_id) AS ndocs FROM ln GROUP BY line),
a AS (
  SELECT ln.doc_id,
         COUNT(*) AS n_lines,
         SUM(CASE WHEN f.ndocs >= 2 THEN 1 ELSE 0 END) AS n_dup_lines,
         SUM(ln.nw) AS n_words,
         SUM(CASE WHEN f.ndocs >= 2 THEN 0 ELSE ln.nw END) AS n_kept_words
  FROM ln JOIN f USING (line) GROUP BY ln.doc_id)
SELECT d.doc_id,
       CAST(COALESCE(a.n_lines, 0) AS BIGINT) AS n_lines,
       CAST(COALESCE(a.n_dup_lines, 0) AS BIGINT) AS n_dup_lines,
       CAST(COALESCE(a.n_words, 0) AS BIGINT) AS n_words,
       CAST(COALESCE(a.n_kept_words, 0) AS BIGINT) AS n_kept_words
FROM documents d LEFT JOIN a USING (doc_id)
""",
    tags=("text", "dedup"),
)
def q_dedup_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document LINE-frequency dedup audit (ops.text.
    line_dedup_stats) — the CCNet boilerplate-strip criterion, the
    remaining dedup tier between whole-doc exact dedup and sliding
    k-gram substring dedup: a unit (real lines on crawl text; ALIGNED
    6-word chunks here, the single-line corpus's paragraph stand-in)
    is boilerplate when it occurs in ≥2 DISTINCT documents — nav
    bars, footers, licence blurbs repeat across a site's pages
    without being inside any single duplicated span. Distinct-doc
    counting is what q_dedup_substring's corpus-wide occurrence count
    cannot express. All-int64 outputs, zero-filled for unit-less
    docs; the oracle replays chunking, the distinct-doc counts, and
    the strip accounting exactly (oracle certification bound: 1024
    chunks/doc — 6144 words, >60x the corpus and fuzz maxima; the
    Spark op itself is unbounded via F.sequence).

    Scale shape: one map-side-combinable aggregate on the line value,
    one keyed join back, one per-doc aggregate — no all-pairs; at
    CCNet scale the exact COUNT(DISTINCT doc) swaps for
    approx_count_distinct without touching the plan shape."""
    d = load_table(spark, sf_dir, "documents")
    return TX.line_dedup_stats(d, "text", "doc_id", chunk=6, min_docs=2)


@declare(
    "q_search_rrf",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, word
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents) t
  WHERE length(word) > 0),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
corpus AS (
  SELECT COUNT(*) AS n_docs,
         CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
  FROM dl),
tf AS (SELECT doc_id, COUNT(*) AS tf FROM toks WHERE word = 'spark' GROUP BY doc_id),
dfreq AS (SELECT COUNT(*) AS df FROM tf),
lex AS (
  SELECT tf.doc_id,
         round(
           ln(1.0 + (CAST(c.n_docs - dfreq.df AS DOUBLE) + 0.5)
                    / (CAST(dfreq.df AS DOUBLE) + 0.5))
           * ((CAST(tf.tf AS DOUBLE) * 2.2)
              / (CAST(tf.tf AS DOUBLE)
                 + 1.2 * (1.0 - 0.75
                          + 0.75 * (CAST(dl.dl AS DOUBLE) / c.avgdl)))),
           4) + 0.0 AS score
  FROM tf JOIN dl USING (doc_id) CROSS JOIN dfreq CROSS JOIN corpus c),
lex_r AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS BIGINT) AS r_lex
  FROM (SELECT * FROM lex ORDER BY score DESC, doc_id ASC LIMIT 100)),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
sem AS (
  SELECT c.vec_id AS doc_id,
         ROUND(
           list_sum(list_transform(generate_series(1, 64),
                                   i -> CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE)))
           / (SQRT({_SQ_SUM.format(v='qv')}) * SQRT({_SQ_SUM.format(v='cv')})),
           4) + 0.0 AS score
  FROM (SELECT vec_id, embedding AS cv FROM embeddings WHERE vec_id != 0) c
  CROSS JOIN q),
sem_r AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS BIGINT) AS r_sem
  FROM (SELECT * FROM sem ORDER BY score DESC, doc_id ASC LIMIT 100)),
fused AS (
  SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id, l.r_lex, s.r_sem,
         COALESCE(1.0/(60 + l.r_lex), 0.0)
           + COALESCE(1.0/(60 + s.r_sem), 0.0) AS rrf_score
  FROM lex_r l FULL OUTER JOIN sem_r s ON l.doc_id = s.doc_id)
SELECT doc_id, r_lex, r_sem, rrf_score,
       CAST(row_number() OVER (ORDER BY rrf_score DESC, doc_id ASC) AS BIGINT) AS rnk
FROM (SELECT * FROM fused ORDER BY rrf_score DESC, doc_id ASC LIMIT 20)
""",
    tags=("text", "vector", "retrieval"),
)
def q_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYBRID retrieval by reciprocal-rank fusion (ops.retrieval) —
    the standard combiner for lexical + semantic search over a
    curated corpus: BM25 ranks documents for the term 'spark'
    (ops.text.bm25_scores, single term so no cross-term float sum),
    cosine-vs-query-vector ranks the embedding side (vec_id 0 is the
    query; doc_id aligns with vec_id in the testdata), each list cuts
    to top-100 by (score DESC, key ASC), and RRF fuses them:
    score(d) = Σ 1/(60 + rank) folded in fixed list order — ranks are
    scale-free, so no score normalization is needed, which is why RRF
    is THE production hybrid-search combiner. Per-list ranks stay
    NULLable in the output ("found by one side only" is a signal);
    the fused score is a pinned two-term IEEE sum of exact
    1/(60+int) doubles, bit-reproduced by the oracle with no rounding
    step.

    Scale shape: the corpus-sized work is inside the two scorers
    (each already audited); both lists cut via TakeOrderedAndProject
    (per-partition heaps, no global sort), and every row_number
    window runs over a ≤100-row bounded frame (whitelisted in
    tools/plan_audit.py, the q_sort_multi pattern). The fusion join
    touches ≤200 rows no matter the corpus size."""
    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    lex = TX.bm25_scores(d, ["spark"], "text", "doc_id").select("doc_id", "score")
    lex_r = RT.topn_ranked(lex, "score", "doc_id", n=100)
    # semantic side through the ONE certified cosine path
    # (ops.vector.knn_bruteforce — same expression tree as
    # q_vec_cosine_knn; its query_key != corpus_key join IS the
    # "corpus minus the query doc" filter, and its per-query
    # partitioned rank equals the single-list total order here)
    q = e.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    sem_r = VX.knn_bruteforce(q, e, k=100).select(
        F.col("vec_id").alias("doc_id"), F.col("rnk").cast("long").alias("rnk")
    )
    return RT.rrf_fuse(
        [("r_lex", lex_r), ("r_sem", sem_r)], "doc_id", k0=60, topk=20
    )


@declare(
    "q_dedup_lines_rm",
    oracle="""
WITH w AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), x -> length(x) > 0) AS words
  FROM documents),
l AS (
  SELECT doc_id, i AS line_no,
         array_to_string(list_slice(words, i*6 + 1, i*6 + 6), ' ') AS line
  FROM w CROSS JOIN generate_series(0, 1023) g(i)
  WHERE i*6 < len(words)),
f AS (SELECT line, COUNT(DISTINCT doc_id) AS ndocs FROM l GROUP BY line),
kept AS (
  SELECT l.doc_id, l.line_no, l.line
  FROM l JOIN f USING (line) WHERE f.ndocs < 2),
a AS (
  SELECT doc_id, COUNT(*) AS n_kept_lines,
         string_agg(line, ' ' ORDER BY line_no) AS clean_text
  FROM kept GROUP BY doc_id),
tot AS (SELECT doc_id, COUNT(*) AS n_lines FROM l GROUP BY doc_id)
SELECT d.doc_id,
       CAST(COALESCE(tot.n_lines, 0) AS BIGINT) AS n_lines,
       CAST(COALESCE(a.n_kept_lines, 0) AS BIGINT) AS n_kept_lines,
       COALESCE(a.clean_text, '') AS clean_text
FROM documents d LEFT JOIN tot USING (doc_id) LEFT JOIN a USING (doc_id)
""",
    tags=("text", "dedup"),
)
def q_dedup_lines_rm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REMOVAL half of q_dedup_lines (ops.text.line_dedup_strip) —
    boilerplate units cut from every document, text rebuilt from the
    surviving units in order. An all-boilerplate document surfaces as
    an empty-clean_text survivor for the downstream length filter,
    never silently disappears; a hash match certifies the per-doc
    ordered reconstruction byte-for-byte alongside the counts.

    Scale shape: the stats half's aggregates plus one per-doc ordered
    collect bounded by the document's own length."""
    d = load_table(spark, sf_dir, "documents")
    return TX.line_dedup_strip(d, "text", "doc_id", chunk=6, min_docs=2)


@declare(
    "q_text_token_budget",
    oracle="""
WITH t AS (
  SELECT doc_id, source,
         CAST(len(list_filter(string_split(text, ' '),
                              x -> length(x) > 0)) AS BIGINT) AS n_tokens,
         md5('budget:' || doc_id) AS h
  FROM documents),
c AS (
  SELECT doc_id, source, n_tokens,
         CAST(COALESCE(SUM(n_tokens) OVER (
           PARTITION BY source ORDER BY h, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS cum_before
  FROM t)
SELECT doc_id, source, n_tokens, cum_before,
       CAST(CASE WHEN cum_before < 5000 THEN 1 ELSE 0 END AS BIGINT) AS kept
FROM c
""",
    tags=("text", "pipeline"),
)
def q_text_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKEN-budget sampling — the pretraining-mix primitive the
    doc-count mixtures (q_corpus_mixture / q_text_temperature_mix)
    cannot express: "take ~N TOKENS per source", greedy-filled in a
    deterministic hash order (md5 over the key — a reshuffled but
    bit-reproducible visit order, the q_text_shuffle_shard rule).
    A doc is kept while the running token total BEFORE it is under
    the 5,000-token budget, so every source overshoots by at most one
    document — the standard greedy fill. All int64 (token counts,
    exclusive running sums, 0/1 kept); dropped docs stay visible with
    kept=0.

    Scale shape: one narrow map (token count + hash) and ONE window
    shuffle on the source key. Source cardinality is small and each
    partition streams (running sum, no materialization); at a real
    mix you'd cap per-source partitions by pre-bucketing the hash —
    the window order makes that split associative."""
    d = load_table(spark, sf_dir, "documents")
    t = TX.token_budget_stage(
        d.select("doc_id", "source", "text"), budget=5000, seed="budget"
    )
    return t.select("doc_id", "source", "n_tokens", "cum_before", "kept")


@declare(
    "q_search_rrf3",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, word
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents) t
  WHERE length(word) > 0),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
corpus AS (
  SELECT COUNT(*) AS n_docs,
         CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
  FROM dl),
tf AS (SELECT doc_id, COUNT(*) AS tf FROM toks WHERE word = 'spark' GROUP BY doc_id),
dfreq AS (SELECT COUNT(*) AS df FROM tf),
lex AS (
  SELECT tf.doc_id,
         round(
           ln(1.0 + (CAST(c.n_docs - dfreq.df AS DOUBLE) + 0.5)
                    / (CAST(dfreq.df AS DOUBLE) + 0.5))
           * ((CAST(tf.tf AS DOUBLE) * 2.2)
              / (CAST(tf.tf AS DOUBLE)
                 + 1.2 * (1.0 - 0.75
                          + 0.75 * (CAST(dl.dl AS DOUBLE) / c.avgdl)))),
           4) + 0.0 AS score
  FROM tf JOIN dl USING (doc_id) CROSS JOIN dfreq CROSS JOIN corpus c),
lex_r AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS BIGINT) AS r_lex
  FROM (SELECT * FROM lex ORDER BY score DESC, doc_id ASC LIMIT 100)),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
sem AS (
  SELECT c.vec_id AS doc_id,
         ROUND(
           list_sum(list_transform(generate_series(1, 64),
                                   i -> CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE)))
           / (SQRT({_SQ_SUM.format(v='qv')}) * SQRT({_SQ_SUM.format(v='cv')})),
           4) + 0.0 AS score
  FROM (SELECT vec_id, embedding AS cv FROM embeddings WHERE vec_id != 0) c
  CROSS JOIN q),
sem_r AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS BIGINT) AS r_sem
  FROM (SELECT * FROM sem ORDER BY score DESC, doc_id ASC LIMIT 100)),
pri_r AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY n_chars DESC, doc_id ASC) AS BIGINT) AS r_len
  FROM (SELECT doc_id, n_chars FROM documents
        ORDER BY n_chars DESC, doc_id ASC LIMIT 100)),
fused AS (
  SELECT COALESCE(l.doc_id, s.doc_id, p.doc_id) AS doc_id,
         l.r_lex, s.r_sem, p.r_len,
         (COALESCE(1.0/(60 + l.r_lex), 0.0)
            + COALESCE(1.0/(60 + s.r_sem), 0.0))
            + COALESCE(1.0/(60 + p.r_len), 0.0) AS rrf_score
  FROM lex_r l
  FULL OUTER JOIN sem_r s ON l.doc_id = s.doc_id
  FULL OUTER JOIN pri_r p ON COALESCE(l.doc_id, s.doc_id) = p.doc_id)
SELECT doc_id, r_lex, r_sem, r_len, rrf_score,
       CAST(row_number() OVER (ORDER BY rrf_score DESC, doc_id ASC) AS BIGINT) AS rnk
FROM (SELECT * FROM fused ORDER BY rrf_score DESC, doc_id ASC LIMIT 20)
""",
    tags=("text", "vector", "retrieval"),
)
def q_search_rrf3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THREE-list RRF — certifies the n-ary fused fold beyond the
    pairwise case: with three lists the IEEE addition ORDER is load-
    bearing (((lex + sem) + prior) ≠ (lex + (sem + prior)) in general),
    so a hash match proves :func:`pipetree_spark.ops.retrieval.
    rrf_score`'s strictly-left fold and the oracle's explicit
    paren chain compute the same bits. Third list: a document-length
    prior (n_chars DESC — the quality-prior slot a production stack
    fills with a model score); the outer-join chain's COALESCE key
    threading across three lists is also under the gate.

    Scale shape: identical to q_search_rrf plus one TakeOrdered over
    a column scan (no token work for the prior list)."""
    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    lex = TX.bm25_scores(d, ["spark"], "text", "doc_id").select("doc_id", "score")
    lex_r = RT.topn_ranked(lex, "score", "doc_id", n=100)
    q = e.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    sem_r = VX.knn_bruteforce(q, e, k=100).select(
        F.col("vec_id").alias("doc_id"), F.col("rnk").cast("long").alias("rnk")
    )
    pri = d.select("doc_id", F.col("n_chars").alias("score"))
    pri_r = RT.topn_ranked(pri, "score", "doc_id", n=100)
    return RT.rrf_fuse(
        [("r_lex", lex_r), ("r_sem", sem_r), ("r_len", pri_r)],
        "doc_id",
        k0=60,
        topk=20,
    )


def _robots_rules() -> list[tuple[str, str, str]]:
    """Deterministic per-domain robots rules (host, rule, prefix),
    shared by the Spark frame and the oracle's VALUES list so the two
    engines cannot drift. Per domain K: two 4-char disallow prefixes
    (~1/8 of its pages), one 5-char allow EXCEPTION under the first
    disallow (longest-match override, ~1/256), and on crawl0.test an
    exact-length allow/disallow TIE on '/p/f' (allow must win — the
    REP tie rule)."""
    rules: list[tuple[str, str, str]] = []
    for k in range(10):
        h = f"crawl{k}.test"
        d0, d1 = format(k, "x"), format((k + 1) % 16, "x")
        rules.append((h, "disallow", f"/p/{d0}"))
        rules.append((h, "disallow", f"/p/{d1}"))
        rules.append((h, "allow", f"/p/{d0}{d0}"))
    rules.append(("crawl0.test", "allow", "/p/f"))
    rules.append(("crawl0.test", "disallow", "/p/f"))
    return rules


def _robots_values_sql() -> str:
    return ", ".join(
        f"('{h}', '{r}', '{p}')" for h, r, p in _robots_rules()
    )


@declare(
    "q_text_robots_filter",
    oracle="WITH " + _URL_SYNTH_CTES + r""",
rules(host, rule, prefix) AS (VALUES """ + _robots_values_sql() + r"""),
h AS (
  SELECT doc_id, """ + _URL_HOST_SQL + r""" AS host,
         regexp_extract(regexp_replace(url, '#.*$', ''),
                        '^[A-Za-z]+://[^/?]+(/[^?]*)', 1) AS path
  FROM u),
m AS (
  SELECT h.doc_id, h.host, h.path, r.rule, r.prefix,
         row_number() OVER (
           PARTITION BY h.doc_id
           ORDER BY length(r.prefix) DESC, r.rule ASC, r.prefix ASC) AS rn
  FROM h JOIN rules r
    ON r.host = h.host AND starts_with(h.path, r.prefix))
SELECT h.doc_id, h.host, h.path,
       m.prefix AS matched_prefix,
       COALESCE(m.rule, 'allow') AS verdict
FROM h LEFT JOIN (SELECT * FROM m WHERE rn = 1) m USING (doc_id)
""",
    tags=("text", "pipeline"),
)
def q_text_robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robots-exclusion URL filtering — the politeness gate a crawl
    pipeline applies before fetching or keeping a page: per-domain
    allow/disallow PREFIX rules with Robots-Exclusion-Protocol
    matching semantics — the LONGEST matching prefix decides, and on
    an exact length tie ALLOW wins (Google's REP rule; the synthetic
    rule set plants both cases: a 5-char allow exception under a
    4-char disallow, and an equal-length allow/disallow pair).
    Unmatched URLs default to allow. Messy URLs come from the shared
    synthesizer; the rules are ONE Python constant rendered into both
    engines, so rule drift is impossible.

    Scale shape: narrow URL map, one BROADCAST join against the
    (tiny, per-domain) rule set, one per-URL-key window over the
    handful of matching rules — no corpus-sized shuffle. A real
    deployment swaps the literal rules for a fetched robots corpus
    keyed the same way."""
    d = load_table(spark, sf_dir, "documents")
    u = _synth_messy_urls(d.select("doc_id", "text"))
    h = TX.url_host_stage(u).select("doc_id", "host", "path")
    return TX.robots_gate_stage(h, _robots_rules()).select(
        "doc_id", "host", "path", "matched_prefix", "verdict"
    )


@declare(
    "q_text_nfc",
    oracle=r"""
WITH src AS (
  SELECT doc_id,
         substr(text, 1, 6) ||
         (CASE WHEN doc_id % 3 = 1 THEN 'e' ELSE 'e' || chr(769) END) ||
         (CASE WHEN doc_id % 3 = 0 THEN 'A' || chr(778)
               WHEN doc_id % 3 = 1 THEN chr(233)
               ELSE 'o' END) ||
         substr(text, 8, 6) AS s
  FROM documents)
SELECT doc_id,
       nfc_normalize(s) AS nfc,
       CAST(CASE WHEN s != nfc_normalize(s) THEN 1 ELSE 0 END AS BIGINT)
         AS changed,
       CAST(length(s) AS BIGINT) AS n_chars_before,
       CAST(length(nfc_normalize(s)) AS BIGINT) AS n_chars_after
FROM src
""",
    tags=("text", "pipeline", "udf"),
)
def q_text_nfc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC normalization under the driver hash
    (ops.text.nfc_stage) — a Python-UDF-tier stage that is still
    hash-certifiable because Python's unicodedata and DuckDB's
    nfc_normalize implement the same Unicode canonical composition.
    Messy input is synthesized identically on both engines: two
    thirds of docs get a DECOMPOSED 'e'+U+0301 (must compose to é,
    shrinking the char count), of which half also get decomposed
    'A'+U+030A (→ Å); the remaining third gets ONLY precomposed
    é (already NFC — passes through byte-identical, so genuine
    changed=0 rows sit under the hash, r13 ADVICE). Certifies the
    Arrow round-trip preserves non-ASCII code points exactly and the
    changed/char-count accounting on composed, decomposed, and ASCII
    rows at once.

    Scale shape: one narrow Arrow map over (key, text) — zero
    shuffles; ~the scan cost."""
    d = load_table(spark, sf_dir, "documents")
    s = F.concat(
        F.substring("text", 1, 6),
        F.when(F.col("doc_id") % 3 == 1, F.lit("e")).otherwise(
            F.lit("e\u0301")
        ),
        F.when(F.col("doc_id") % 3 == 0, F.lit("A\u030a"))
        .when(F.col("doc_id") % 3 == 1, F.lit("\u00e9"))
        .otherwise(F.lit("o")),
        F.substring("text", 8, 6),
    )
    src = d.select("doc_id", s.alias("text"))
    return TX.nfc_stage(src, "text", "doc_id")


#: Planted whitespace-free-script snippets for the CJK segmentation
#: query — ONE constant rendered into BOTH engines (the shared
#:  synthetic-input rule): Chinese hanzi, Japanese kanji+katakana,
#: Korean hangul, Thai, and a pure-Latin control class.
_CJK_SYNTH: tuple[str, ...] = (
    "数据管道加速",          # zh: hanzi run
    "高速処理エンジン",  # ja: kanji+katakana
    "데이터엔진",                # ko: hangul run
    "ภาษาไทย",    # th: thai run
    # r15: the SEA no-space scripts added to CJK_CLASS — ≥14
    # codepoints each so the 4·n_script ≥ n_chars routing rule fires
    # against the ~24 Latin frame chars (script_profile certification)
    "ພາສາລາວຂອງພວກເຮົາ",     # lo: lao run
    "ភាសាខ្មែរនៅកម្ពុជា",       # km: khmer run (incl. coeng stacks)
    "မြန်မာဘာသာစကား",       # my: myanmar run (incl. vowel signs)
    "བོད་ཀྱི་སྐད་ཡིག",             # bo: tibetan run (incl. tsheg)
    "",                                              # Latin-only control
)

_CJK_CASE_SQL = (
    f"(CASE doc_id % {len(_CJK_SYNTH)} "
    + " ".join(
        f"WHEN {i} THEN '{s}'" for i, s in enumerate(_CJK_SYNTH) if s
    )
    + " ELSE '' END)"
)


def _cjk_corpus(d: DataFrame, out_col: str = "text") -> DataFrame:
    """Spark half of the planted mixed CJK+Latin corpus — ONE builder
    shared by q_text_cjk_segment / q_text_minhash_sig_cjk /
    q_text_script_profile (the _nl_corpus pattern; r14 self-review —
    three inline copies of this block could drift from the shared
    _CJK_CASE_SQL oracle constant)."""
    ins = F.lit("")
    for i, s in enumerate(_CJK_SYNTH):
        if s:
            ins = F.when(
                F.col("doc_id") % len(_CJK_SYNTH) == i, F.lit(s)
            ).otherwise(ins)
    return d.select(
        "doc_id",
        F.concat(
            F.substring("text", 1, 12),
            F.lit(" "),
            ins,
            F.lit(" "),
            F.substring("text", 14, 10),
        ).alias(out_col),
    )


@declare(
    "q_text_cjk_segment",
    oracle=f"""
WITH src AS (
  SELECT doc_id,
         substr(text, 1, 12) || ' ' || {_CJK_CASE_SQL}
           || ' ' || substr(text, 14, 10) AS s
  FROM documents),
seg AS (
  SELECT doc_id, s,
         list_filter(string_split({TX.segment_text_sql("s", "cjk_chars")}, ' '),
                     x -> length(x) > 0) AS units
  FROM src)
SELECT doc_id,
       CAST(len(list_filter(string_split(s, ' '), x -> length(x) > 0))
            AS BIGINT) AS n_words_ws,
       CAST(len(units) AS BIGINT) AS n_units,
       CAST(GREATEST(len(units) - 1, 0) AS BIGINT) AS n_bigrams,
       (CASE WHEN len(units) >= 5 THEN units[5] ELSE '' END) AS unit5
FROM seg
""",
    tags=("text",),
)
def q_text_cjk_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace-free-language (CJK/Thai) tokenization under the
    driver hash (ops.text.segment_text — r13 verdict item 2, the
    largest honest semantic gap): a mixed corpus is planted
    identically on both engines (Latin from the documents table with
    a hanzi / kanji+katakana / hangul / thai / lao / khmer / myanmar /
    tibetan / empty insert by doc_id%9 — the four SEA scripts joined
    the class in r15), then counted through the SHARED tokenization pass with
    ``segmenter="cjk_chars"`` — each whitespace-free-script codepoint
    becomes its own unit (the standard public fallback absent a
    dictionary; per-char units are what CCNet-tier dedup and
    SentencePiece pre-tokenization use for CJK). Emitted side by
    side: the NAIVE whitespace count (n_words_ws — what every text op
    computed before this round: a whole CJK run = one "word"), the
    segmented unit count (n_units), the segmented bigram count
    (word_ngrams through the same segmenter), and the exact 5th unit
    string — pinning the per-codepoint split and the Latin
    pass-through byte-for-byte (the %9==8 control class must have
    n_units == n_words_ws and identical units).

    Scale shape: two narrow regex maps + the existing splitters —
    zero shuffles, whole-stage codegen, ~scan cost; dictionary
    segmentation (jieba/MeCab tier) is documented NOT covered."""
    d = load_table(spark, sf_dir, "documents")
    src = _cjk_corpus(d, out_col="s")
    units = F.filter(
        F.split(TX.segment_text(F.col("s"), "cjk_chars"), " "),
        lambda x: F.length(x) > 0,
    )
    return src.select(
        "doc_id",
        TX.word_count(F.col("s")).cast("long").alias("n_words_ws"),
        TX.word_count(F.col("s"), "cjk_chars").cast("long").alias("n_units"),
        F.size(TX.word_ngrams(F.col("s"), 2, "cjk_chars"))
        .cast("long")
        .alias("n_bigrams"),
        F.when(F.size(units) >= 5, F.element_at(units, 5))
        .otherwise(F.lit(""))
        .alias("unit5"),
    )


#: Planted lexicon for the dictionary-tier segmenter certification —
#: ONE constant rendered into BOTH engines (via ops.text._dict_words'
#: canonical ordering). Chosen so the planted corpus exercises every
#: MM behavior: full word coverage (ko/th runs), partial coverage with
#: per-char fallback midway (zh: 数据+管道 matched, 加速 falls back;
#: ja: 高速/エンジン matched around per-char 処理; lao: ພາສາ matched
#: at the run head), zero coverage (khmer/myanmar/tibetan runs —
#: pure per-char), and Latin pass-through.
_DICT_LEXICON: tuple[str, ...] = (
    "数据", "管道", "高速", "エンジン",
    "데이터", "엔진", "ภาษา", "ไทย", "ພາສາ",
)


@declare(
    "q_text_cjk_segment_dict",
    oracle=f"""
WITH src AS (
  SELECT doc_id,
         substr(text, 1, 12) || ' ' || {_CJK_CASE_SQL}
           || ' ' || substr(text, 14, 10) AS s
  FROM documents),
seg AS (
  SELECT doc_id,
         {TX.dict_segment_sql("s", _DICT_LEXICON)} AS dict_seg,
         {TX.segment_text_sql("s", "cjk_chars")} AS char_seg
  FROM src)
SELECT doc_id, dict_seg,
       CAST(len(list_filter(string_split(dict_seg, ' '),
                            x -> length(x) > 0)) AS BIGINT) AS n_units_dict,
       CAST(len(list_filter(string_split(char_seg, ' '),
                            x -> length(x) > 0)) AS BIGINT) AS n_units_char
FROM seg
""",
    tags=("text",),
)
def q_text_cjk_segment_dict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DICTIONARY-tier (greedy maximum-matching) segmentation under
    the driver hash (ops.text.dict_segment_stage — the r14 verdict's
    #1 item, closing the honest gap above the per-char fallback): the
    planted mixed corpus runs through MM over a planted lexicon
    (ONE shared constant, canonical length-desc order), and the full
    segmented STRING is certified byte-for-byte against a DuckDB twin
    that reproduces greedy MM as pure RE2 passes (length-desc
    leftmost alternation wrapping matches in guard chars, the shared
    block-class per-char split, bounded guard-region re-fusion).
    Emitted beside it: the dict-tier unit count and the per-char unit
    count — the accuracy delta (dictionary words surviving as single
    units) is the SCALING.md r15 comparison row.

    Scale shape: one Arrow-batched pandas_udf map over a broadcast
    lexicon — zero shuffles; the Python MM core is the scale path
    (a jieba-scale 350k-word lexicon broadcasts in ~5 MB where any
    regex alternation is infeasible); the nested-regex SQL twin is
    certification-only."""
    d = load_table(spark, sf_dir, "documents")
    src = _cjk_corpus(d, out_col="s")
    seg = TX.dict_segment_stage(src, _DICT_LEXICON, "s", out_col="dict_seg")
    return seg.select(
        "doc_id",
        "dict_seg",
        TX.word_count("dict_seg").cast("long").alias("n_units_dict"),
        TX.word_count(F.col("s"), "cjk_chars").cast("long").alias("n_units_char"),
    )


#: Planted multi-line corpus for the real-newline line-dedup pair —
#: ONE header constant per residue class rendered into BOTH engines;
#: residues 0/1 share their class's multi-line header across hundreds
#: of docs (the cross-document boilerplate the CCNet criterion must
#: find), residue 2 has no header (pure per-doc body).
_NL_HEADERS: tuple[str, ...] = (
    "nav home about contact\ncopyright acme corp",
    "all rights reserved\nsubscribe to our newsletter",
    "",
)

# body: every 5th space becomes a newline — the same left-to-right
# non-overlapping regex pass in Java (Spark) and RE2 (DuckDB)
_NL_BODY_RE = r"(\S+ \S+ \S+ \S+ \S+) "

_NL_SRC_SQL = f"""
  SELECT doc_id,
         (CASE doc_id % 3 WHEN 0 THEN '{_NL_HEADERS[0]}'
                          WHEN 1 THEN '{_NL_HEADERS[1]}'
                          ELSE '' END)
         || chr(10)
         || regexp_replace(text, '{_NL_BODY_RE}', '\\1' || chr(10), 'g') AS s
  FROM documents"""


def _nl_corpus(d: DataFrame) -> DataFrame:
    """Spark half of the planted multi-line corpus (see _NL_SRC_SQL)."""
    hdr = (
        F.when(F.col("doc_id") % 3 == 0, F.lit(_NL_HEADERS[0]))
        .when(F.col("doc_id") % 3 == 1, F.lit(_NL_HEADERS[1]))
        .otherwise(F.lit(""))
    )
    body = F.regexp_replace("text", _NL_BODY_RE, "$1\n")
    return d.select(
        "doc_id", F.concat(hdr, F.lit("\n"), body).alias("text")
    )


@declare(
    "q_dedup_lines_nl",
    oracle=f"""
WITH src AS ({_NL_SRC_SQL}),
ls AS (
  SELECT doc_id,
         list_filter(string_split(s, chr(10)),
                     x -> length(trim(x)) > 0) AS arr
  FROM src),
ln AS (
  SELECT doc_id, unnest(arr) AS line FROM ls),
n AS (
  SELECT doc_id, line,
         CAST(len(list_filter(string_split(line, ' '),
                              x -> length(x) > 0)) AS BIGINT) AS nw
  FROM ln),
f AS (SELECT line, COUNT(DISTINCT doc_id) AS ndocs FROM n GROUP BY line),
a AS (
  SELECT n.doc_id,
         COUNT(*) AS n_lines,
         SUM(CASE WHEN f.ndocs >= 2 THEN 1 ELSE 0 END) AS n_dup_lines,
         SUM(n.nw) AS n_words,
         SUM(CASE WHEN f.ndocs >= 2 THEN 0 ELSE n.nw END) AS n_kept_words
  FROM n JOIN f USING (line) GROUP BY n.doc_id)
SELECT d.doc_id,
       CAST(COALESCE(a.n_lines, 0) AS BIGINT) AS n_lines,
       CAST(COALESCE(a.n_dup_lines, 0) AS BIGINT) AS n_dup_lines,
       CAST(COALESCE(a.n_words, 0) AS BIGINT) AS n_words,
       CAST(COALESCE(a.n_kept_words, 0) AS BIGINT) AS n_kept_words
FROM documents d LEFT JOIN a USING (doc_id)
""",
    tags=("text", "dedup"),
)
def q_dedup_lines_nl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL-newline mode of the CCNet line-frequency dedup audit
    (ops.text.line_dedup_stats with chunk=None — r13 verdict item 3:
    the aligned-chunk twin q_dedup_lines certifies the synthetic
    single-line corpus; THIS query puts the actual crawl shape, split
    on embedded newlines with empty-line dropping, under the driver
    hash). The corpus is planted identically on both engines: docs get
    a residue-class multi-line boilerplate header (nav/footer lines
    shared by hundreds of docs — exactly what the distinct-doc
    criterion must flag) plus a per-doc body whose every 5th space
    becomes a newline (one left-to-right non-overlapping regex pass,
    Java and RE2 agree). min_docs=2.

    Scale shape: identical to q_dedup_lines — xxhash64 line keys, the
    ``__ndocs >= min_docs``-filtered boilerplate-only broadcast build
    side, LEFT probe, per-doc aggregate (the r14 re-plan)."""
    d = load_table(spark, sf_dir, "documents")
    return TX.line_dedup_stats(
        _nl_corpus(d), "text", "doc_id", chunk=None, min_docs=2
    )


@declare(
    "q_dedup_lines_nl_rm",
    oracle=f"""
WITH src AS ({_NL_SRC_SQL}),
ls AS (
  SELECT doc_id,
         list_filter(string_split(s, chr(10)),
                     x -> length(trim(x)) > 0) AS arr
  FROM src),
l AS (
  SELECT doc_id, i - 1 AS line_no, arr[i] AS line
  FROM ls CROSS JOIN generate_series(1, 4096) g(i)
  WHERE i <= len(arr)),
f AS (SELECT line, COUNT(DISTINCT doc_id) AS ndocs FROM l GROUP BY line),
kept AS (
  SELECT l.doc_id, l.line_no, l.line
  FROM l JOIN f USING (line) WHERE f.ndocs < 2),
a AS (
  SELECT doc_id, COUNT(*) AS n_kept_lines,
         string_agg(line, chr(10) ORDER BY line_no) AS clean_text
  FROM kept GROUP BY doc_id),
tot AS (SELECT doc_id, COUNT(*) AS n_lines FROM l GROUP BY doc_id)
SELECT d.doc_id,
       CAST(COALESCE(tot.n_lines, 0) AS BIGINT) AS n_lines,
       CAST(COALESCE(a.n_kept_lines, 0) AS BIGINT) AS n_kept_lines,
       COALESCE(a.clean_text, '') AS clean_text
FROM documents d LEFT JOIN tot USING (doc_id) LEFT JOIN a USING (doc_id)
""",
    tags=("text", "dedup"),
)
def q_dedup_lines_nl_rm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL-newline REMOVAL half (ops.text.line_dedup_strip with
    chunk=None): boilerplate lines cut from every document and the
    text rebuilt NEWLINE-joined from the surviving lines in original
    order — a hash match certifies the '\\n' reconstruction
    byte-for-byte, the one join the aligned-chunk twin (space-joined)
    cannot exercise. Same planted corpus as q_dedup_lines_nl; oracle
    certification bound 4096 lines/doc (>80x the corpus maximum; the
    Spark op itself is unbounded).

    Scale shape: the stats half's r14 re-planned aggregates plus one
    per-doc ordered collect bounded by the document's own length."""
    d = load_table(spark, sf_dir, "documents")
    return TX.line_dedup_strip(
        _nl_corpus(d), "text", "doc_id", chunk=None, min_docs=2
    )


@declare(
    "q_text_minhash_sig_cjk",
    oracle=f"""
WITH src AS (
  SELECT doc_id,
         substr(text, 1, 12) || ' ' || {_CJK_CASE_SQL}
           || ' ' || substr(text, 14, 10) AS s
  FROM documents),
sh AS (
  SELECT doc_id, {_SHINGLES_SQL} AS s
  FROM (SELECT doc_id,
               string_split({TX.segment_text_sql("s", "cjk_chars")}, ' ') AS w
        FROM src)
)
SELECT doc_id,
       concat_ws(',', {', '.join(f'CAST({m} AS VARCHAR)' for m in _MH)}) AS sig
FROM sh
""",
    tags=("text", "dedup"),
)
def q_text_minhash_sig_cjk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The portable MinHash signature computed over PER-CHAR shingles
    of a mixed CJK+Latin corpus (minhash_signatures with
    segmenter="cjk_chars") — certifying that the r14 segmenter thread
    reaches the near-dup production path with exact cross-engine
    values: the whitespace splitter would hash each no-space CJK run
    as ONE whole-text fallback shingle (two near-identical Chinese
    documents share zero signature components — the silent failure
    the r13 verdict flagged), while per-codepoint units give real
    shingle overlap. Same planted corpus as q_text_cjk_segment; same
    universal-hash coefficient literals as q_text_minhash_sig.

    Scale shape: identical to q_text_minhash_sig (explode once,
    numeric min aggregates, map-side combine) plus two narrow regex
    maps — the segmenter adds zero shuffles."""
    src = _cjk_corpus(load_table(spark, sf_dir, "documents"))
    return TX.minhash_signatures(
        src, "text", "doc_id", 3, 16, segmenter="cjk_chars"
    ).select(
        "doc_id",
        F.array_join(
            F.transform("minhash", lambda c: c.cast("string")), ","
        ).alias("sig"),
    )


@declare(
    "q_text_script_profile",
    oracle=TX.script_profile_sql(
        f"""(
  SELECT doc_id,
         substr(text, 1, 12) || ' ' || {_CJK_CASE_SQL}
           || ' ' || substr(text, 14, 10) AS text
  FROM documents)""",
    ),
    tags=("text",),
)
def q_text_script_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document script-composition language ID
    (ops.text.script_profile) — the router half of the r14 CJK work:
    codepoint counts per script class (han/kana/hangul/thai, the r15
    SEA additions lao/khmer/myanmar/tibetan, and latin) plus a
    deterministic PROPORTION-routed label (≥10% kana→ja, then
    ≥25% han/hangul/thai/lao/khmer/myanmar/tibetan/latin → zh/ko/th/
    lo/km/my/bo/latin in that order, else 'other' — integer
    comparisons against the doc's own length, so unlisted scripts
    like Cyrillic can never misroute off one stray hanzi) over the
    planted mixed corpus. This is the language-ID signal the stopword
    profile cannot produce on whitespace-free text, and its output
    decides which documents take segmenter='cjk_chars'. Both engines
    count code points via length-minus-stripped-length from the SAME
    class constants; the oracle is generated, so class drift is
    impossible.

    Scale shape: nine narrow regex maps + one length — zero shuffles,
    whole-stage codegen, ~scan cost."""
    src = _cjk_corpus(load_table(spark, sf_dir, "documents"))
    return TX.script_profile(src, "text", "doc_id")


#: Planted sentences for the CJK language-ID query — each contains
#: its language's single-codepoint function words (的/是/我; の/は/が;
#: 이/는/를) so the per-char stopword profiles have real hits.
_LANGID_SYNTH: tuple[tuple[str, str], ...] = (
    ("zh", "这是我的数据管道测试"),
    ("ja", "これはデータの処理が速い"),
    ("ko", "이것은데이터를처리한다"),
    ("latin", ""),
)


def _langid_cjk_sql() -> str:
    """Oracle for q_text_langid_cjk: the SAME profile dict and the
    SAME planted sentences rendered into SQL, tokens via the shared
    cjk segmentation twin (segment_text_sql)."""
    profiles = ",\n  ".join(
        "('{}', [{}])".format(lang, ", ".join(f"'{w}'" for w in sw))
        for lang, sw in sorted(TX.LANG_STOPWORDS.items())
    )
    case = (
        "(CASE doc_id % 4 "
        + " ".join(
            f"WHEN {i} THEN '{s}'"
            for i, (_, s) in enumerate(_LANGID_SYNTH)
            if s
        )
        + " ELSE '' END)"
    )
    seg = TX.segment_text_sql("s", "cjk_chars")
    return f"""
WITH profiles(cand, sw) AS (VALUES
  {profiles}
),
src AS (
  SELECT doc_id,
         substr(text, 1, 12) || ' ' || {case} AS s
  FROM documents),
tok AS (SELECT doc_id, string_split({seg}, ' ') AS w FROM src),
sc AS (
  SELECT t.doc_id, p.cand,
         CAST(len(list_filter(t.w, x -> list_contains(p.sw, x))) AS DOUBLE)
           / len(t.w) AS score
  FROM tok t CROSS JOIN profiles p
)
SELECT doc_id, cand AS lang_pred, score AS lang_score
FROM sc
QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, cand DESC) = 1
"""


@declare("q_text_langid_cjk", oracle=_langid_cjk_sql(), tags=("text",))
def q_text_langid_cjk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-profile language ID on WHITESPACE-FREE text
    (ops.text.lang_id_scores with segmenter="cjk_chars" and the r14
    single-codepoint zh/ja/ko profiles): planted zh/ja/ko sentences
    carry their languages' real function words (的/是/我, の/は/が,
    이/는/를), per-char segmentation makes each particle its own
    token, and the profile argmax must route each residue class to
    its language — a genuine ACCURACY certification, unlike the
    word-salad q_text_langid whose oracle certifies scoring/argmax
    semantics only. The %4==3 Latin control class exercises the
    all-zero-CJK tie-break. Profiles and sentences are each ONE
    constant rendered into both engines.

    Scale shape: the segmentation regex maps + one narrow
    profile-overlap projection — zero shuffles, no broadcast even
    (profiles fold into the expression tree as literals)."""
    d = load_table(spark, sf_dir, "documents")
    case = F.lit("")
    for i, (_, s) in enumerate(_LANGID_SYNTH):
        if s:
            case = F.when(F.col("doc_id") % 4 == i, F.lit(s)).otherwise(case)
    src = d.select(
        "doc_id",
        F.concat(F.substring("text", 1, 12), F.lit(" "), case).alias("text"),
    )
    return TX.lang_id_scores(src, "text", segmenter="cjk_chars").select(
        "doc_id", "lang_pred", "lang_score"
    )


def _cjk_seg_table_sql() -> str:
    """The planted mixed corpus PRE-SEGMENTED in SQL — the integration
    pattern for ops without a segmenter kwarg: segment once as a
    stage, and every downstream whitespace splitter sees per-char
    units."""
    planted = f"substr(text, 1, 12) || ' ' || {_CJK_CASE_SQL} || ' ' || substr(text, 14, 10)"
    return (
        "(SELECT doc_id, "
        + TX.segment_text_sql(f"({planted})", "cjk_chars")
        + " AS text FROM documents)"
    )


@declare(
    "q_text_bpe_train_cjk",
    oracle=TX.bpe_train_sql(4, table=_cjk_seg_table_sql()),
    tags=("text",),
)
def q_text_bpe_train_cjk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge training over a PRE-SEGMENTED mixed CJK+Latin corpus
    — certifying the r14 segmenter → tokenizer-trainer integration
    end-to-end: segment_text runs once as an upstream stage (the
    pattern for composing the segmenter with ANY whitespace-splitting
    op, no kwarg threading needed), the per-char CJK units enter the
    (word, freq) vocab collapse as single-codepoint words, and the 4
    certified merge rounds must then learn cross-codepoint merges
    from CJK pair frequencies — on an unsegmented corpus each CJK run
    would be ONE vocab word and the learned merges would differ. Same
    unrolled-CTE oracle as q_text_bpe_train, table swapped for the
    segmented plant; hash match certifies tokenization, pair counts,
    tie-breaks, and greedy merge semantics over non-ASCII symbols.

    Scale shape: identical to q_text_bpe_train (one corpus collapse +
    the driver-side trainer) plus two narrow regex maps."""
    d = load_table(spark, sf_dir, "documents")
    src = _cjk_corpus(d).select(
        "doc_id", TX.segment_text("text", "cjk_chars").alias("text")
    )
    return TX.bpe_train(src, "text", n_merges=4)


#: Planted boilerplate SENTENCES for the sentence-dedup pair — two
#: shared-by-class multi-sentence headers + a bare-body control class
#: (the _NL_HEADERS pattern at the sentence tier).
_SENT_HEADERS: tuple[str, ...] = (
    "visit our site now. subscribe to the newsletter.",
    "all rights reserved. thanks for reading!",
    "",
)

_SENT_SRC_SQL = f"""
  SELECT doc_id,
         (CASE doc_id % 3 WHEN 0 THEN '{_SENT_HEADERS[0]}'
                          WHEN 1 THEN '{_SENT_HEADERS[1]}'
                          ELSE '' END)
         || ' ' || text AS s
  FROM documents"""

#: sentence boundary marking, shared by both oracle halves
_SENT_UNITS_SQL = r"""
  SELECT doc_id,
         list_filter(string_split(
             regexp_replace(s, '([.!?])[ \t\n\x0B\f\r]+', '\1' || chr(10), 'g'), chr(10)),
             x -> length(trim(x)) > 0) AS arr"""


def _sent_corpus(d: DataFrame) -> DataFrame:
    """Spark half of the planted sentence corpus (see _SENT_SRC_SQL)."""
    hdr = (
        F.when(F.col("doc_id") % 3 == 0, F.lit(_SENT_HEADERS[0]))
        .when(F.col("doc_id") % 3 == 1, F.lit(_SENT_HEADERS[1]))
        .otherwise(F.lit(""))
    )
    return d.select(
        "doc_id", F.concat(hdr, F.lit(" "), F.col("text")).alias("text")
    )


@declare(
    "q_dedup_sentences",
    oracle=f"""
WITH src AS ({_SENT_SRC_SQL}),
ls AS ({_SENT_UNITS_SQL} FROM src),
ln AS (SELECT doc_id, unnest(arr) AS line FROM ls),
n AS (
  SELECT doc_id, line,
         CAST(len(list_filter(string_split(line, ' '),
                              x -> length(x) > 0)) AS BIGINT) AS nw
  FROM ln),
f AS (SELECT line, COUNT(DISTINCT doc_id) AS ndocs FROM n GROUP BY line),
a AS (
  SELECT n.doc_id,
         COUNT(*) AS n_lines,
         SUM(CASE WHEN f.ndocs >= 2 THEN 1 ELSE 0 END) AS n_dup_lines,
         SUM(n.nw) AS n_words,
         SUM(CASE WHEN f.ndocs >= 2 THEN 0 ELSE n.nw END) AS n_kept_words
  FROM n JOIN f USING (line) GROUP BY n.doc_id)
SELECT d.doc_id,
       CAST(COALESCE(a.n_lines, 0) AS BIGINT) AS n_lines,
       CAST(COALESCE(a.n_dup_lines, 0) AS BIGINT) AS n_dup_lines,
       CAST(COALESCE(a.n_words, 0) AS BIGINT) AS n_words,
       CAST(COALESCE(a.n_kept_words, 0) AS BIGINT) AS n_kept_words
FROM documents d LEFT JOIN a USING (doc_id)
""",
    tags=("text", "dedup"),
)
def q_dedup_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document SENTENCE-frequency dedup audit — the Gopher-tier
    repeated-sentence filter (line_dedup_stats with unit="sentence",
    r14): taglines and disclaimer sentences repeat across documents
    without ever aligning to lines or whole duplicated spans, so the
    distinct-doc criterion is applied to sentence units (terminal
    punctuation + whitespace boundaries, RE2-portable — no
    lookbehind). Planted corpus: residue-class multi-sentence
    boilerplate headers shared by ~170 docs each + the unique
    word-salad body as each doc's kept sentence; the %3==2 class
    exercises the body-only path. Honest boundary documented: no
    abbreviation handling.

    Scale shape: identical to q_dedup_lines — xxhash64 unit keys,
    boilerplate-only filtered broadcast build side, LEFT probe."""
    d = load_table(spark, sf_dir, "documents")
    return TX.line_dedup_stats(
        _sent_corpus(d), "text", "doc_id", min_docs=2, unit="sentence"
    )


@declare(
    "q_dedup_sentences_rm",
    oracle=f"""
WITH src AS ({_SENT_SRC_SQL}),
ls AS ({_SENT_UNITS_SQL} FROM src),
l AS (
  SELECT doc_id, i - 1 AS line_no, arr[i] AS line
  FROM ls CROSS JOIN generate_series(1, 4096) g(i)
  WHERE i <= len(arr)),
f AS (SELECT line, COUNT(DISTINCT doc_id) AS ndocs FROM l GROUP BY line),
kept AS (
  SELECT l.doc_id, l.line_no, l.line
  FROM l JOIN f USING (line) WHERE f.ndocs < 2),
a AS (
  SELECT doc_id, COUNT(*) AS n_kept_lines,
         string_agg(line, ' ' ORDER BY line_no) AS clean_text
  FROM kept GROUP BY doc_id),
tot AS (SELECT doc_id, COUNT(*) AS n_lines FROM l GROUP BY doc_id)
SELECT d.doc_id,
       CAST(COALESCE(tot.n_lines, 0) AS BIGINT) AS n_lines,
       CAST(COALESCE(a.n_kept_lines, 0) AS BIGINT) AS n_kept_lines,
       COALESCE(a.clean_text, '') AS clean_text
FROM documents d LEFT JOIN tot USING (doc_id) LEFT JOIN a USING (doc_id)
""",
    tags=("text", "dedup"),
)
def q_dedup_sentences_rm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REMOVAL half at the sentence tier (line_dedup_strip with
    unit="sentence"): boilerplate sentences cut from every document,
    text rebuilt SPACE-joined from the surviving sentences in order
    (terminal punctuation is part of each unit, so a space restores
    readable text) — the hash certifies the rebuild byte-for-byte.
    Oracle certification bound 4096 sentences/doc.

    Scale shape: the stats half plus the per-doc ordered collect."""
    d = load_table(spark, sf_dir, "documents")
    return TX.line_dedup_strip(
        _sent_corpus(d), "text", "doc_id", min_docs=2, unit="sentence"
    )


#: Abbreviation list + planted headers for the abbreviation-aware
#: sentence tier (r15) — ONE constant pair rendered into both engines.
#: Headers carry protected dots (Dr./Mr./e.g.) mid-sentence so the
#: naive splitter over-splits them while the abbrev-aware splitter
#: keeps each sentence whole; the %3==2 class is the no-abbrev control.
_ABBR_LIST: tuple[str, ...] = ("Dr.", "Mr.", "e.g.", "vs.", "etc.")
_ABBR_HEADERS: tuple[str, ...] = (
    "Dr. Smith approves this message. contact Mr. Jones today.",
    "terms apply to all plans. see e.g. section four vs. section five.",
    "",
)


def _abbr_corpus(d: DataFrame) -> DataFrame:
    """Spark half of the planted abbreviation corpus (twin of the SQL
    CASE in q_dedup_sentences_abbr's oracle)."""
    hdr = (
        F.when(F.col("doc_id") % 3 == 0, F.lit(_ABBR_HEADERS[0]))
        .when(F.col("doc_id") % 3 == 1, F.lit(_ABBR_HEADERS[1]))
        .otherwise(F.lit(""))
    )
    return d.select(
        "doc_id", F.concat(hdr, F.lit(" "), F.col("text")).alias("text")
    )


def _abbr_oracle() -> str:
    pat = TX.sentence_abbrev_pattern(_ABBR_LIST).replace("'", "''")
    mark = r"regexp_replace({x}, '([.!?])[ \t\n\x0B\f\r]+', '\1' || chr(10), 'g')"
    aware = (
        "replace("
        + mark.format(x=rf"regexp_replace(s, '{pat}', '\1' || chr(1), 'g')")
        + ", chr(1), '.')"
    )
    naive = mark.format(x="s")
    return f"""
WITH src AS (
  SELECT doc_id,
         (CASE doc_id % 3 WHEN 0 THEN '{_ABBR_HEADERS[0]}'
                          WHEN 1 THEN '{_ABBR_HEADERS[1]}'
                          ELSE '' END)
         || ' ' || text AS s
  FROM documents),
u AS (
  SELECT doc_id,
         list_filter(string_split({aware}, chr(10)),
                     x -> length(trim(x)) > 0) AS arr,
         list_filter(string_split({naive}, chr(10)),
                     x -> length(trim(x)) > 0) AS arr_naive
  FROM src)
SELECT doc_id,
       CAST(len(arr) AS BIGINT) AS n_units,
       CAST(len(arr_naive) AS BIGINT) AS n_units_naive,
       (CASE WHEN len(arr) >= 1 THEN arr[1] ELSE '' END) AS unit1
FROM u
"""


@declare("q_dedup_sentences_abbr", oracle=_abbr_oracle(), tags=("text", "dedup"))
def q_dedup_sentences_abbr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABBREVIATION-aware sentence segmentation under the driver hash
    (doc_lines unit='sentence' with abbrevs= — r15, closing the r14
    sentence tier's documented '"Dr. Smith" splits' boundary): a
    planted corpus carries mid-sentence protected dots (Dr./Mr./e.g./
    vs.), and the query emits the abbrev-aware unit count beside the
    NAIVE count (what the r14 splitter produced — over-split by
    exactly the number of protected dots) plus the first unit STRING,
    pinning the protect/mark/restore construction byte-for-byte
    (e.g. 'Dr. Smith approves this message.' must survive as ONE
    sentence with its abbreviation dot restored).

    RE2-portable, no lookbehind: one alternation pass swaps each
    listed abbreviation's final dot for a \\x01 sentinel
    (sentence_abbrev_pattern — the shared-constructor rule), the
    boundary pass runs, a plain replace restores the dot. Honest
    boundary: a genuine sentence end right after a listed
    abbreviation cannot split — the standard abbreviation-list trade.

    Scale shape: three narrow per-row string passes on top of the
    sentence split — zero shuffles, whole-stage codegen except the
    final split/filter HOFs."""
    d = load_table(spark, sf_dir, "documents")
    src = _abbr_corpus(d)
    aware = TX.doc_lines(
        src, "text", "doc_id", unit="sentence", abbrevs=_ABBR_LIST
    )
    naive = TX.doc_lines(src, "text", "doc_id", unit="sentence")
    a = aware.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_units"),
        F.min_by("line", "line_no").alias("unit1"),
    )
    n = naive.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_units_naive")
    )
    return (
        d.select("doc_id")
        .join(a, "doc_id", "left")
        .join(n, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_units", F.lit(0)).cast("long").alias("n_units"),
            F.coalesce("n_units_naive", F.lit(0))
            .cast("long")
            .alias("n_units_naive"),
            F.coalesce("unit1", F.lit("")).alias("unit1"),
        )
    )


#: Blocklist terms for q_text_blocklist — ONE constant rendered into
#: both engines; planted into residue classes so hits, multi-hits, and
#: clean docs all sit under the hash.
_BLOCKLIST_TERMS: tuple[str, ...] = ("casino", "jackpot", "free spins")

_BLOCKLIST_PLANT_SQL = """(
  SELECT doc_id,
         (CASE doc_id % 4
            WHEN 0 THEN 'WIN at the CASINO today ' || text
            WHEN 1 THEN 'jackpot! free spins jackpot ' || text
            WHEN 2 THEN 'casinos and jackpots discussed ' || text
            ELSE text END) AS text
  FROM documents)"""


@declare(
    "q_text_blocklist",
    oracle=TX.blocklist_sql(_BLOCKLIST_TERMS, table=_BLOCKLIST_PLANT_SQL),
    tags=("text",),
)
def q_text_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocklist term filter under the driver hash
    (ops.text.blocklist_stage — the C4/LDNOOBW-style word-list gate):
    case-insensitive whole-word counts of a shared term constant over
    a planted corpus covering every semantics corner — uppercase hits
    (%4==0: 'CASINO' matches), repeated + multi-word-term hits
    (%4==1: two 'jackpot' + one 'free spins', and first_hit must be
    the leftmost match), WORD-BOUNDARY non-hits (%4==2: 'casinos' and
    'jackpots' must NOT match — the \\b semantics that separate a
    word-list gate from a substring grep), and clean docs (%4==3:
    n_hits=0, first_hit='', flagged=0). Terms are regex-escaped, so a
    list entry can never inject pattern syntax.

    Scale shape: ONE regex map over the scan, zero shuffles; the
    policy (drop/downweight) composes downstream."""
    d = load_table(spark, sf_dir, "documents")
    plant = (
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(F.lit("WIN at the CASINO today "), F.col("text")),
        )
        .when(
            F.col("doc_id") % 4 == 1,
            F.concat(F.lit("jackpot! free spins jackpot "), F.col("text")),
        )
        .when(
            F.col("doc_id") % 4 == 2,
            F.concat(F.lit("casinos and jackpots discussed "), F.col("text")),
        )
        .otherwise(F.col("text"))
    )
    src = d.select("doc_id", plant.alias("text"))
    return TX.blocklist_stage(src, _BLOCKLIST_TERMS)
