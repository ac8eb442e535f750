"""Pipeline orchestration layer — reference parity (SURVEY §2.10, §3.2).

The reference (pipetree/pipetree [PK — SURVEY §0: /root/reference is
empty]) is a DAG-of-stages orchestrator: JSON config → stages producing
content-addressed artifacts, an arbiter that skips cached stages, and
executor stages running arbitrary python. This module re-expresses that
on Spark:

- ``Pipeline.from_spec(dict)`` — declarative spec → DAG (cycle-checked)
- stage types: ``source`` (catalog table), ``values`` (parameter rows —
  the reference's parameter stage), ``sql`` (query over input views),
  ``python`` (callable over input DataFrames — the executor stage),
  ``grid`` (parameter grid fan-out: the sweep is DATA, a cross-joined
  parameter frame, not a driver loop), ``op`` (r6: a REGISTERED library
  operator by name + JSON kwargs — the fully-declarative executor
  stage: a curation pipeline invokes dedup/chunk/pack/quality ops from
  config with no python callables, so the whole spec stays
  JSON-serializable and content-keyable)
- execution: topological walk; with an :class:`ArtifactCache`, each
  stage's content key (spec + upstream keys) decides hit (read parquet,
  lineage cut) vs miss (compute + materialize) — the reference's
  incremental recomputation.

The reference's remote executor control plane (SQS/EC2) is deliberately
NOT ported: Spark's own scheduler replaces it (SURVEY §2.10 non-goal).
"""

from __future__ import annotations

import hashlib
import inspect
import itertools
from collections.abc import Callable
from dataclasses import dataclass, field
from graphlib import CycleError, TopologicalSorter

from pyspark.sql import DataFrame, SparkSession

from pipetree_spark.cache import ArtifactCache, content_key
from pipetree_spark.catalog import DEFAULT_SF_DIR, load_table

StageFn = Callable[[SparkSession, dict[str, DataFrame]], DataFrame]


@dataclass
class Stage:
    name: str
    fn: StageFn
    inputs: list[str] = field(default_factory=list)
    spec: dict = field(default_factory=dict)  # definition payload for hashing
    materialize: bool = False  # durable artifact (vs flow-through)


class Pipeline:
    def __init__(self, stages: dict[str, Stage]):
        self.stages = stages
        self._order = self._toposort()

    # -- construction -----------------------------------------------------
    @classmethod
    def from_spec(cls, spec: dict, sf_dir: str = DEFAULT_SF_DIR) -> "Pipeline":
        """Build from a declarative dict (the reference's JSON config)."""
        stages: dict[str, Stage] = {}
        for name, s in spec["stages"].items():
            kind = s["type"]
            inputs = list(s.get("inputs", []))
            materialize = bool(s.get("materialize", False))
            if kind == "source":
                table = s["table"]
                fn = _source_fn(table, s.get("sf_dir", sf_dir))
            elif kind == "values":
                fn = _values_fn(s["columns"], s["rows"])
            elif kind == "sql":
                fn = _sql_fn(s["query"], inputs)
            elif kind == "python":
                fn = s["fn"]  # direct-API only; not JSON-serializable
            elif kind == "op":
                fn = _op_fn(s["op"], inputs, s.get("args", {}))
            elif kind == "grid":
                fn = _values_fn(
                    list(s["grid"].keys()),
                    [list(combo) for combo in itertools.product(*s["grid"].values())],
                )
            else:
                raise ValueError(f"unknown stage type {kind!r} for stage {name!r}")
            spec_payload = {k: v for k, v in s.items() if k != "fn"} | {"name": name}
            if kind == "python":
                # The JSON-able spec alone can't see the callable's body;
                # without a code fingerprint a changed fn would content-key
                # match and serve a stale cached artifact.
                spec_payload["__code_sha"], stable = _code_fingerprint(fn)
                if not stable:
                    spec_payload["__uncacheable"] = True
            stages[name] = Stage(
                name=name,
                fn=fn,
                inputs=inputs,
                spec=spec_payload,
                materialize=materialize,
            )
        return cls(stages)

    def add_stage(
        self,
        name: str,
        fn: StageFn,
        inputs: list[str] | None = None,
        spec: dict | None = None,
        materialize: bool = False,
    ) -> "Pipeline":
        """Direct-API stage registration. The user-supplied callable is
        part of the stage's identity, so its code fingerprint joins the
        content key — editing the fn invalidates cached artifacts."""
        sha, stable = _code_fingerprint(fn)
        payload = (spec or {"name": name}) | {"__code_sha": sha}
        if not stable:
            payload["__uncacheable"] = True
        self.stages[name] = Stage(name, fn, list(inputs or []), payload, materialize)
        self._order = self._toposort()
        return self

    def _toposort(self) -> list[str]:
        ts = TopologicalSorter({n: set(s.inputs) for n, s in self.stages.items()})
        try:
            order = list(ts.static_order())
        except CycleError as e:
            raise ValueError(f"pipeline has a cycle: {e.args[1]}") from e
        missing = [i for s in self.stages.values() for i in s.inputs if i not in self.stages]
        if missing:
            raise ValueError(f"undefined stage inputs: {sorted(set(missing))}")
        return order

    # -- execution --------------------------------------------------------
    def run(
        self,
        spark: SparkSession,
        cache: ArtifactCache | None = None,
        targets: list[str] | None = None,
    ) -> dict[str, DataFrame]:
        """Topological walk with skip-if-cached semantics.

        Returns every visited stage's DataFrame. ``report`` of
        hits/misses from the last run is on ``self.last_run_report``.

        r15 opt-wave-2 (guide §1.2): content keys derive from specs
        alone, so cache hits are resolvable BEFORE any stage fn runs —
        and when ``targets`` are given, a flow-through stage whose
        every consumer is a cache hit is ``skipped`` outright instead
        of building (and, for eager ops, executing) a DataFrame nobody
        reads. Without ``targets`` every stage is wanted and the walk
        is unchanged, so the certified hit/miss report semantics are
        untouched for the full-walk callers.

        NO-BACKFILL under targets (r15 ADVICE, by design): a targeted
        walk (including CLI ``--targets``) never re-materializes a
        cache-miss stage whose consumers are all hits — it reports
        ``skipped``, not ``hit``, and a partially-evicted cache is NOT
        repopulated. Run targetless to rebuild evicted intermediate
        artifacts.
        """
        results: dict[str, DataFrame] = {}
        keys: dict[str, str] = {}
        report: dict[str, str] = {}
        wanted = set(targets or self.stages)
        unknown = sorted(wanted - set(self.stages))
        if unknown:
            raise ValueError(
                f"unknown pipeline target(s) {unknown}; stages are {sorted(self.stages)}"
            )
        needed = self._closure(wanted)
        for name in self._order:
            if name not in needed:
                continue
            stage = self.stages[name]
            keys[name] = content_key(stage.spec, [keys[i] for i in stage.inputs])
        hits = {
            name
            for name in needed
            if cache is not None
            and self.stages[name].materialize
            and not self.stages[name].spec.get("__uncacheable", False)
            and cache.has(spark, name, keys[name])
        }
        # frames actually consumed: targets, plus the inputs of every
        # stage that must RUN (traversal stops at hits — a loaded
        # artifact needs none of its inputs)
        live: set[str] = set()
        stack = list(wanted)
        while stack:
            n = stack.pop()
            if n in live:
                continue
            live.add(n)
            if n not in hits:
                stack.extend(self.stages[n].inputs)
        for name in self._order:
            if name not in needed:
                continue
            if name not in live:
                report[name] = "skipped"
                continue
            stage = self.stages[name]
            key = keys[name]
            if name in hits:
                results[name] = cache.load(spark, name, key)
                report[name] = "hit"
                continue
            try:
                df = stage.fn(spark, {i: results[i] for i in stage.inputs})
            except Exception as exc:
                raise RuntimeError(
                    f"pipeline stage {name!r} failed ({type(exc).__name__}): {exc}"
                ) from exc
            if cache is not None and stage.materialize:
                df = cache.materialize(spark, df, name, key)
                report[name] = "materialized"
            else:
                report[name] = "computed"
            results[name] = df
        self.last_run_report = report
        return results

    def _closure(self, targets: set[str]) -> set[str]:
        out: set[str] = set()
        frontier = list(targets)
        while frontier:
            n = frontier.pop()
            if n in out:
                continue
            out.add(n)
            frontier.extend(self.stages[n].inputs)
        return out


def _code_fingerprint(fn: Callable) -> tuple[str, bool]:
    """Stable hash of a callable's implementation: source text (bytecode
    + consts as the REPL fallback) PLUS primitive closure-cell and
    default values — two builds of the same source parameterized by a
    captured variable (``def build(factor): def fn(...): ... * factor``)
    must NOT share a fingerprint. Dicts/sets/frozensets recurse with
    sorted ordering (a captured config dict is a common parameterization
    — two builds differing only in it must not collide, r2 ADVICE).
    Remaining non-primitive captures (ndarrays, DataFrames, objects)
    hash by type name only, so two different builds could collide.

    Returns ``(fingerprint, stable)``; ``stable`` is False when such a
    capture was met, directly or through a captured helper function.
    Stages built from an unstable callable are never served from cache."""
    try:
        body = inspect.getsource(fn)
    except (OSError, TypeError):
        code = getattr(fn, "__code__", None)
        body = repr((code.co_code, code.co_consts)) if code else repr(fn)
    stable = True

    def prim(v):
        nonlocal stable
        if isinstance(v, (str, int, float, bool, bytes, type(None))):
            return repr(v)
        if isinstance(v, (tuple, list)):
            return "[" + ",".join(prim(x) for x in v) + "]"
        if isinstance(v, dict):
            items = sorted((repr(k), prim(x)) for k, x in v.items())
            return "{" + ",".join(f"{k}:{x}" for k, x in items) + "}"
        if isinstance(v, (set, frozenset)):
            return "{" + ",".join(sorted(prim(x) for x in v)) + "}"
        if inspect.ismodule(v):
            return f"<module:{v.__name__}>"  # module code drift is out of scope
        if inspect.isfunction(v):
            sha, fn_stable = _code_fingerprint(v)  # content-addressed
            stable = stable and fn_stable
            return f"<fn:{sha}>"
        stable = False
        return f"<UNCACHEABLE:{type(v).__name__}>"
    cells = [prim(c.cell_contents) for c in (getattr(fn, "__closure__", None) or ())]
    defaults = [prim(v) for v in (getattr(fn, "__defaults__", None) or ())]
    sha = hashlib.sha256("\x00".join([body, *cells, *defaults]).encode()).hexdigest()[:16]
    return sha, stable


# -- stage-fn builders -----------------------------------------------------
def _source_fn(table: str, sf_dir: str) -> StageFn:
    def fn(spark: SparkSession, _inputs: dict[str, DataFrame]) -> DataFrame:
        return load_table(spark, sf_dir, table)

    return fn


def _values_fn(columns: list[str], rows: list[list]) -> StageFn:
    def fn(spark: SparkSession, _inputs: dict[str, DataFrame]) -> DataFrame:
        return spark.createDataFrame([tuple(r) for r in rows], schema=list(columns)).coalesce(1)

    return fn


#: JSON-spec-able library operators (the ``op`` stage type). Each entry
#: is (df, ..., **kwargs) -> DataFrame over the stage's inputs, passed
#: POSITIONALLY in spec order (most ops take one frame; ANN-class ops
#: take (queries, corpus)). The whitelist IS the contract: an op must
#: be deterministic and kwargs-JSON-able for the content key to be
#: sound, and its frame arity is pinned here so a spec can't mis-wire.
def _op_registry() -> dict[str, tuple[Callable, int]]:
    from pipetree_spark.ops import bloom as BL
    from pipetree_spark.ops import graph as GX
    from pipetree_spark.ops import mm as MM
    from pipetree_spark.ops import relational as RL
    from pipetree_spark.ops import retrieval as RT
    from pipetree_spark.ops import sketch as SK
    from pipetree_spark.ops import text as TX
    from pipetree_spark.ops import vector as VX

    return {
        "exact_dedup": (TX.exact_dedup, 1),
        "near_dup_pairs": (TX.near_dup_pairs, 1),
        "near_dup_pairs_lsh": (TX.near_dup_pairs_lsh, 1),
        "minhash_signatures": (TX.minhash_signatures, 1),
        "chunk_documents": (TX.chunk_documents, 1),
        "shuffle_shards": (TX.shuffle_shards, 1),
        "pack_sequences": (TX.pack_sequences, 1),
        "quality_features": (TX.quality_features, 1),
        "lang_id_scores": (TX.lang_id_scores, 1),
        "repetition_features": (TX.repetition_features, 1),
        "winnow_fingerprints": (TX.winnow_fingerprints, 1),
        # vector-space curation ops (r7): semantic dedup declarable
        # next to the text dedups it mirrors
        "semantic_dedup": (VX.semantic_dedup, 1),
        "semantic_dedup_ann": (VX.semantic_dedup_ann, 1),
        "ivf_multiprobe_assign": (VX.ivf_multiprobe_assign, 1),
        # two-frame ops (r8), inputs in each op's positional order:
        # ngram_decontam(train, eval); the ANN ops (queries, corpus)
        "ngram_decontam": (TX.ngram_decontam, 2),
        "knn_bruteforce": (VX.knn_bruteforce, 2),
        "ivf_ann_portable": (VX.ivf_ann_portable, 2),
        "pq_ivf_ann": (VX.pq_ivf_ann_portable, 2),
        "ivfpq_residual_ann": (VX.ivfpq_residual_ann_portable, 2),
        # r9: graph analytics and bounded-state summaries as stages
        "connected_components": (GX.connected_components, 1),
        "pagerank_exact": (GX.pagerank_exact, 1),
        "triangle_counts": (GX.triangle_counts, 1),
        # bfs_khop(edges, sources, k=...) — inputs (edges, sources)
        "bfs_khop": (GX.bfs_khop, 2),
        "sssp_khop": (GX.sssp_khop, 2),
        "hll_registers": (SK.hll_registers, 1),
        "hll_registers_by": (SK.hll_registers_by, 1),
        "bloom_build": (BL.bloom_build, 1),
        # bloom_prefilter(df, col=..., bloom) — inputs (df, bloom_frame)
        "bloom_prefilter": (
            lambda df, bloom, **kw: BL.bloom_prefilter(df, bloom=bloom, **kw),
            2,
        ),
        # validation primitives (r9): fingerprint(df), diff(old, new)
        "table_fingerprint": (SK.table_fingerprint, 1),
        "snapshot_diff": (RL.snapshot_diff, 2),
        # incremental_join_delta(a_old, a_delta, b_old, b_delta, on=[...])
        "incremental_join_delta": (RL.incremental_join_delta, 4),
        # multimodal stages (r10): PNG and WAV are REAL pure-stdlib
        # decodes (ops/png.py, ops/wav.py); each decode stage emits the
        # corresponding raw layout, so decode → transform → features
        # chains inside one JSON spec
        "make_png_payload": (MM.make_png_payload, 1),
        "png_decode": (MM.png_decode_stage, 1),
        "make_rgb_payload": (MM.make_rgb_payload, 1),
        "rgb_resize": (MM.rgb_resize_stage, 1),
        "rgb_features": (MM.rgb_feature_stage, 1),
        "make_wav_payload": (MM.make_wav_payload, 1),
        "wav_decode": (MM.wav_decode_stage, 1),
        "make_pcm_payload": (MM.make_pcm_payload, 1),
        "pcm_features": (MM.pcm_feature_stage, 1),
        "payload_decompress": (MM.decompress_stage, 1),
        "make_jpeg_payload": (MM.make_jpeg_payload, 1),
        "jpeg_decode": (MM.jpeg_decode_stage, 1),
        "make_mjpeg_payload": (MM.make_mjpeg_payload, 1),
        "video_frame_sample": (MM.video_frame_sample_stage, 1),
        "rgb_int_stats": (MM.rgb_int_stats_stage, 1),
        "pcm_int_stats": (MM.pcm_int_stats_stage, 1),
        "image_decode": (MM.image_decode_stage, 1),
        "make_flac_payload": (MM.make_flac_payload, 1),
        # r11 certified-chain generators: stereo FLAC (mid-side under
        # the driver hash), palette GIF, flat-frame MJPEG-AVI, and the
        # per-frame int stats the video chain reports through
        "make_flac_stereo_payload": (MM.make_flac_stereo_payload, 1),
        "make_gif_payload": (MM.make_gif_payload, 1),
        "make_avi_payload": (MM.make_avi_payload, 1),
        "rgb_int_stats_by_frame": (MM.rgb_int_stats_by_frame_stage, 1),
        "flac_decode": (MM.flac_decode_stage, 1),
        "audio_decode": (MM.audio_decode_stage, 1),
        # r11: distributed BPE merge training (ops/text.py)
        "bpe_train": (TX.bpe_train, 1),
        # r12 text ops: substring dedup (stats + removal), HTML
        # extraction, retrieval scoring, the production BPE trainer
        "dup_span_stats": (TX.dup_span_stats, 1),
        "dup_span_strip": (TX.dup_span_strip, 1),
        "html_extract": (TX.html_extract_stage, 1),
        "bm25_scores": (TX.bm25_scores, 1),
        "bpe_train_scale": (TX.bpe_train_scale, 1),
        "unigram_train": (TX.unigram_train, 1),
        # r13: corpus-scale ENCODE stages. Trained driver state (merge
        # ranks / piece probs) is not JSON-able, so the JSON surface is
        # the train+encode composition over the input corpus — the
        # exact shape the certified queries run.
        "bpe_encode_scale": (_bpe_encode_auto, 1),
        "unigram_encode": (_unigram_encode_auto, 1),
        # r12 reference-split models: the JSON surface selects the
        # training split as key_col % model_mod == model_rem (a Column
        # predicate isn't JSON-able; the modular split is)
        "bigram_lm_scores": (_modsplit(TX.bigram_lm_scores), 1),
        "nb_classify": (_modsplit(TX.nb_classify), 1),
        # r12 perceptual fingerprints (image/audio/video share the
        # Hamming-LSH pair back end) + media preprocessing
        "rgb_perturb": (MM.rgb_perturb_stage, 1),
        "pcm_perturb": (MM.pcm_perturb_stage, 1),
        "dhash_bands": (MM.dhash_bands_stage, 1),
        "audiofp_bands": (MM.audiofp_bands_stage, 1),
        "dhash_hamming_pairs": (MM.dhash_hamming_pairs, 1),
        "vid_block_luma": (MM.vid_block_luma_stage, 1),
        "vid_tdhash_bands": (MM.vid_tdhash_bands, 1),
        "vid_keyframes": (MM.vid_keyframes, 1),
        "make_avi_quad_payload": (MM.make_avi_quad_payload, 1),
        "pcm_downsample": (MM.pcm_downsample_stage, 1),
        # r12 crawl ingest + metadata extraction + dead-letter triage
        "make_warc_payload": (MM.make_warc_payload, 1),
        "warc_extract": (MM.warc_extract_stage, 1),
        "make_jpeg_exif_payload": (MM.make_jpeg_exif_payload, 1),
        "exif_extract": (MM.exif_extract_stage, 1),
        "classify_media": (MM.classify_media_stage, 1),
        "corrupt_media_variant": (MM.corrupt_media_variant_stage, 1),
        # r13: cross-document line/paragraph-frequency dedup (CCNet
        # boilerplate criterion) and hybrid-retrieval rank fusion.
        # rrf_fuse's list-of-named-lists surface reduces to the 2-list
        # case for JSON (inputs are (lexical, semantic) ranked frames,
        # each carrying (key, rnk) — topn_ranked's output shape).
        "doc_lines": (TX.doc_lines, 1),
        "line_dedup_stats": (TX.line_dedup_stats, 1),
        "line_dedup_strip": (TX.line_dedup_strip, 1),
        "nfc_normalize": (TX.nfc_stage, 1),
        "compression_ratio": (TX.compression_ratio_stage, 1),
        "topn_ranked": (RT.topn_ranked, 1),
        "rrf_fuse2": (
            lambda a, b, key_col="doc_id", name_a="r_a", name_b="r_b", **kw:
                RT.rrf_fuse([(name_a, a), (name_b, b)], key_col, **kw),
            2,
        ),
        # r14: script-composition language ID / segmenter router, and
        # the stage-level segmenter (segment once; every downstream
        # whitespace-splitting op sees per-char CJK units)
        "script_profile": (TX.script_profile, 1),
        "segment_text": (TX.segment_text_stage, 1),
        # r15: dictionary-tier maximum-matching segmenter (broadcast
        # caller-supplied lexicon; list from JSON → tuple for the key)
        "dict_segment": (
            lambda df, lexicon, **kw: TX.dict_segment_stage(
                df, tuple(lexicon), **kw
            ),
            1,
        ),
        # r15: the crawl-curation gates as spec-able stages (the
        # q_pipe_curation_full composition): URL synth + host key,
        # robots REP gate (rules triples are JSON-able and keyed),
        # per-domain quota, per-source token budget
        "synth_messy_urls": (TX.synth_messy_urls, 1),
        "url_host": (TX.url_host_stage, 1),
        "robots_gate": (TX.robots_gate_stage, 1),
        "domain_cap": (TX.domain_cap_stage, 1),
        "token_budget": (TX.token_budget_stage, 1),
        # r14: word-list gate (terms tuple is spec-able and keyed)
        "blocklist": (lambda df, terms, **kw: TX.blocklist_stage(df, tuple(terms), **kw), 1),
        # r14: output-sizing export step (measured bytes/row probe);
        # tmp_dir/target_bytes/sample_rows are spec-able scalars and
        # enter the content key like every other kwarg
        "sized_repartition": (RL.sized_repartition, 1),
    }


def _modsplit(fn: Callable) -> Callable:
    """Adapt an op taking a Column ``model_pred`` (reference-split
    selector) to the JSON spec surface: the split becomes
    ``key_col % model_mod == model_rem`` (ints are spec-able)."""

    def wrapped(df: DataFrame, model_mod: int = 2, model_rem: int = 0,
                key_col: str = "doc_id", **kw):
        from pyspark.sql import functions as F

        return fn(df, F.col(key_col) % model_mod == model_rem,
                  key_col=key_col, **kw)

    return wrapped


def _bpe_encode_auto(
    df: DataFrame,
    n_merges: int = 64,
    max_vocab: int | None = None,
    text_col: str = "text",
    key_col: str = "doc_id",
) -> DataFrame:
    """JSON surface of the BPE scale pair: one (word, freq) collapse,
    driver-side merge training, ONE broadcast-dict mapInPandas encode
    — exactly q_text_bpe_encode_scale's shape with spec-able ints."""
    from pipetree_spark.ops import text as TX

    wf = TX.bpe_word_freqs(df, text_col, max_vocab=max_vocab)
    merges = TX.bpe_train_merges(wf, n_merges)
    return TX.bpe_encode(
        df, [(l, r) for (_, l, r, _) in merges], text_col, key_col
    )


def _unigram_encode_auto(
    df: DataFrame,
    n_rounds: int = 2,
    top_k: int = 48,
    max_piece_len: int = 4,
    max_word_len: int = 12,
    max_vocab: int | None = None,
    text_col: str = "text",
    key_col: str = "doc_id",
) -> DataFrame:
    """JSON surface of the unigram pair: train (vocab-bound driver
    state, optionally capped) + ONE broadcast-probs mapInPandas encode
    — q_text_unigram_encode[_capped]'s certified shape."""
    from pipetree_spark.ops import text as TX

    probs = TX.unigram_probs(
        df,
        text_col,
        n_rounds=n_rounds,
        top_k=top_k,
        max_piece_len=max_piece_len,
        max_word_len=max_word_len,
        max_vocab=max_vocab,
    )
    return TX.unigram_encode(
        df, probs, text_col, key_col, max_piece_len, max_word_len
    )


def _op_fn(op: str, inputs: list[str], args: dict) -> StageFn:
    reg = _op_registry()
    if op not in reg:
        raise ValueError(f"unknown op {op!r}; spec-able ops: {sorted(reg)}")
    fn_, arity = reg[op]
    if len(inputs) != arity:
        raise ValueError(
            f"op {op!r} takes exactly {arity} input(s), got {inputs!r}"
        )

    def fn(spark: SparkSession, frames: dict[str, DataFrame]) -> DataFrame:
        return fn_(*[frames[i] for i in inputs], **args)

    return fn


def _sql_fn(query: str, inputs: list[str]) -> StageFn:
    def fn(spark: SparkSession, frames: dict[str, DataFrame]) -> DataFrame:
        for name in inputs:
            frames[name].createOrReplaceTempView(name)
        return spark.sql(query)

    return fn
