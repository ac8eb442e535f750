"""Multimodal column operators (SURVEY §2.12).

Model: media payloads are opaque ``BinaryType`` columns plus a typed
metadata struct — the 100 TB-safe layout (payload bytes never leave the
executors; metadata is columnar and prunable).

The container has no image/audio *codec* libraries, so the REMAINING
compressed formats (MP3 and non-MJPEG video codecs — the patent-era
DSP stacks) have no decode stage until a deployment brings a codec
lib. Everything else gets a REAL path, one decode stage per modality:

- UNCOMPRESSED payloads (r6): raw-RGB8 buffers decode, resize
  (nearest-neighbor), and feature-extract with numpy alone — see
  :func:`rawrgb_decode` / :func:`rgb_resize_stage` /
  :func:`rgb_feature_stage`, verified against numpy references.
- IMAGES (r10): :func:`image_decode_stage` sniffs each payload's magic
  bytes and decodes it into the raw-RGB8 layout, after which the whole
  raw pipeline chains (decode → resize → features):
  PNG through ``ops/png.py`` (deflate + all five row filters + CRC,
  pure stdlib); baseline sequential JPEG through ``ops/jpeg.py`` (numpy
  DCT, stream-carried quant/Huffman tables, 4:4:4 + 4:2:0 + restart
  markers; progressive/arithmetic variants fail honestly with
  JpegFormatError); GIF through ``ops/gif.py`` (LZW both ways,
  interlacing, animation composition, local tables, transparency —
  palette images round-trip exactly).
- AUDIO (r10): :func:`audio_decode_stage` sniffs WAV (``ops/wav.py``,
  RIFF chunk walk, PCM16) or FLAC (``ops/flac.py``: CONSTANT/VERBATIM/
  FIXED/LPC subframes, both rice methods + escape, all four stereo
  assignments, CRC-8/16 — the format speech corpora actually ship in)
  and emits the raw-PCM16 layout, so the waveform pipeline (features,
  downsample) chains unchanged.
- VIDEO via MJPEG-AVI (r10): ``ops/avi.py`` walks the RIFF container
  and :func:`video_frame_sample_stage` samples frames BEFORE decoding
  them (per-frame baseline JPEG), one raw-RGB8 row per sampled frame
  — the north-star frame-sample op with real decode.

Everything Spark-side — schema, batching, partition behavior,
mapInPandas signatures — is real and tested in every path.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

def _keyed_schema(schema: T.StructType, key_col: str) -> T.StructType:
    """Rename a canonical output schema's leading key field to the
    caller's ``key_col``, so stages that accept a key column honor it
    in the OUTPUT too instead of silently relabeling every key
    'doc_id' (r12 ADVICE; r13 review extended it to ALL key_col
    stages in this module)."""
    return T.StructType(
        [T.StructField(key_col, schema.fields[0].dataType), *schema.fields[1:]]
    )


def _layout_schema(*int_fields: str) -> T.StructType:
    """The payload layout: (doc_id, content, *int_fields, mime)."""
    return T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("content", T.BinaryType()),
            *[T.StructField(f, T.IntegerType()) for f in int_fields],
            T.StructField("mime", T.StringType()),
        ]
    )


#: The layouts every image / audio generator and decode stage emits, so
#: any generator or decoder chains into any raw-RGB8 / raw-PCM16 stage.
RGB_LAYOUT_SCHEMA = _layout_schema("width", "height")
PCM_LAYOUT_SCHEMA = _layout_schema("n_samples", "sample_rate")


def _det_bytes(seed: str, n: int) -> bytes:
    """``n`` deterministic bytes: sha256 counter mode over ``seed``
    (testdata has no real media, so every generator derives its
    pixels / samples from the row's text this way)."""
    base = hashlib.sha256(seed.encode()).hexdigest()
    buf = bytearray()
    counter = 0
    while len(buf) < n:
        buf += hashlib.sha256(f"{base}:{counter}".encode()).digest()
        counter += 1
    return bytes(buf[:n])


def _det_rgb(seed: str, width: int, height: int) -> np.ndarray:
    """A deterministic (height, width, 3) uint8 image from :func:`_det_bytes`."""
    return np.frombuffer(_det_bytes(seed, width * height * 3), np.uint8).reshape(
        height, width, 3
    )


def _make_payload(
    df: DataFrame,
    text_col: str,
    key_col: str,
    encode: Callable[[str], bytes],
    mime: str,
    **ints: int,
) -> DataFrame:
    """The generator scaffold: ``encode(text)`` builds each row's
    payload executor-side in Arrow batches via mapInPandas — the same
    plumbing an ingest stage decoding real files would use — emitting
    ``_layout_schema(*ints)`` with every int and the mime as constant
    columns."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    key_col: pdf[key_col].astype("int64"),
                    "content": [encode(str(t)) for t in pdf[text_col]],
                    **ints,
                    "mime": mime,
                }
            )

    return df.mapInPandas(run, schema=_keyed_schema(_layout_schema(*ints), key_col))


#: Raw 8-bit interleaved RGB — an UNCOMPRESSED image payload (the body
#: of a PPM P6 file). Unlike JPEG/PNG, decoding it needs only numpy
#: (present in this container), so this is a REAL decode path, not a
#: stub: np.frombuffer → reshape(h, w, 3). Compressed formats decode
#: through the pure-Python codecs (:func:`image_decode_stage`).
RAW_RGB_MIME = "image/x-raw-rgb8"


def make_rgb_payload(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    width: int = 16,
    height: int = 16,
) -> DataFrame:
    """Synthesize a deterministic raw-RGB8 payload per row (sha256
    counter-mode over the text — testdata has no real images) with the
    (width, height) metadata a raw buffer needs to be decodable."""
    need = width * height * 3
    return _make_payload(
        df, text_col, key_col, lambda t: _det_bytes(t, need), RAW_RGB_MIME,
        width=width, height=height,
    )


def rawrgb_decode(payload: bytes, width: int, height: int):
    """REAL decode of a raw-RGB8 payload: byte buffer → (h, w, 3) uint8
    pixel array. Raises on size mismatch (a corrupt payload must fail
    loudly, not produce garbage pixels)."""
    arr = np.frombuffer(payload, dtype=np.uint8)
    if arr.size != width * height * 3:
        raise ValueError(
            f"raw-rgb8 payload is {arr.size} bytes, expected {width}x{height}x3={width * height * 3}"
        )
    return arr.reshape(height, width, 3)


def rawrgb_resize(payload: bytes, width: int, height: int, out_w: int, out_h: int) -> bytes:
    """REAL nearest-neighbor resize of a raw-RGB8 payload via numpy
    integer index maps — deterministic (pure index arithmetic, no
    interpolation rounding) and vectorized (no per-pixel Python)."""
    img = rawrgb_decode(payload, width, height)
    ys = (np.arange(out_h) * height) // out_h
    xs = (np.arange(out_w) * width) // out_w
    return img[np.ix_(ys, xs)].tobytes()


RGB_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("mean_r", T.DoubleType()),
        T.StructField("mean_g", T.DoubleType()),
        T.StructField("mean_b", T.DoubleType()),
        T.StructField("px_std", T.DoubleType()),
    ]
)


def rgb_feature_stage(
    df: DataFrame, content_col: str = "content", key_col: str = "doc_id"
) -> DataFrame:
    """REAL per-channel image statistics over raw-RGB8 payloads
    (mapInPandas + numpy — no media lib needed): channel means and the
    global pixel std, the classic cheap features for corrupt-image /
    blank-image filtering in a multimodal curation pipeline. Expects
    ``make_rgb_payload``'s layout (content + width/height columns)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            means_r, means_g, means_b, stds = [], [], [], []
            for p, w, h in zip(pdf[content_col], pdf["width"], pdf["height"]):
                img = rawrgb_decode(p, int(w), int(h)).astype(np.float64)
                means_r.append(float(img[:, :, 0].mean()))
                means_g.append(float(img[:, :, 1].mean()))
                means_b.append(float(img[:, :, 2].mean()))
                stds.append(float(img.std()))
            yield pd.DataFrame(
                {
                    key_col: pdf[key_col].astype("int64"),
                    "width": pdf["width"].astype("int32"),
                    "height": pdf["height"].astype("int32"),
                    "mean_r": means_r,
                    "mean_g": means_g,
                    "mean_b": means_b,
                    "px_std": stds,
                }
            )

    return df.mapInPandas(run, schema=_keyed_schema(RGB_FEATURE_SCHEMA, key_col))


def rgb_resize_stage(
    df: DataFrame,
    out_w: int = 8,
    out_h: int = 8,
    content_col: str = "content",
    key_col: str = "doc_id",
) -> DataFrame:
    """REAL raw-RGB8 resize stage (nearest-neighbor, numpy) for
    uncompressed payloads. Output layout matches ``make_rgb_payload`` so stages
    chain (generate → resize → features)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            resized = [
                rawrgb_resize(p, int(w), int(h), out_w, out_h)
                for p, w, h in zip(pdf[content_col], pdf["width"], pdf["height"])
            ]
            yield pd.DataFrame(
                {
                    key_col: pdf[key_col].astype("int64"),
                    "content": resized,
                    "width": out_w,
                    "height": out_h,
                    "mime": RAW_RGB_MIME,
                }
            )

    return df.mapInPandas(run, schema=_keyed_schema(RGB_LAYOUT_SCHEMA, key_col))


PNG_MIME = "image/png"


def make_png_payload(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    width: int = 16,
    height: int = 16,
    filter_type: int | str = "mix",
) -> DataFrame:
    """Synthesize a REAL (spec-conformant, stdlib-decodable) PNG payload
    per row: the same deterministic sha256-counter pixels as
    :func:`make_rgb_payload`, encoded through :func:`ops.png.png_encode`
    — by default with ``"mix"`` filters so one corpus exercises all
    five PNG row filters. Output layout matches make_rgb_payload
    (content + width/height + mime) so the decode stage slots in where
    an ingest scanner would."""
    from pipetree_spark.ops.png import png_encode

    return _make_payload(
        df, text_col, key_col,
        lambda t: png_encode(_det_rgb(t, width, height), filter_type=filter_type),
        PNG_MIME, width=width, height=height,
    )


RAW_PCM_MIME = "audio/x-raw-pcm16le"

PCM_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_samples", T.IntegerType()),
        T.StructField("duration_sec", T.DoubleType()),
        T.StructField("rms", T.DoubleType()),
        T.StructField("peak", T.IntegerType()),
        T.StructField("zero_cross_rate", T.DoubleType()),
    ]
)


def make_pcm_payload(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    n_samples: int = 2048,
    sample_rate: int = 16000,
) -> DataFrame:
    """Synthesize a deterministic raw PCM16-LE payload per row (sha256
    counter-mode over the text — testdata has no real audio) with the
    (n_samples, sample_rate) metadata a raw waveform needs to be
    decodable. Same mapInPandas plumbing as make_rgb_payload — the
    audio twin of the image ingest stage."""
    need = n_samples * 2
    return _make_payload(
        df, text_col, key_col, lambda t: _det_bytes("pcm:" + t, need), RAW_PCM_MIME,
        n_samples=n_samples, sample_rate=sample_rate,
    )


#: Magic-byte prefixes for the stdlib-decodable compression codecs.
_CODEC_MAGIC = (
    ("gzip", b"\x1f\x8b"),
    ("bz2", b"BZh"),
    ("lzma", b"\xfd7zXZ\x00"),  # .xz container
)


def payload_decompress(payload: bytes, codec: str = "auto") -> bytes:
    """Decompress ONE payload with a stdlib codec (gzip / bz2 / lzma-xz).

    ``codec="auto"`` sniffs the magic bytes — the ingest-scanner mode
    for mixed shards — and raises ``ValueError`` naming the prefix when
    nothing matches (a mislabeled payload must fail loudly, exactly
    like the PNG/WAV format errors)."""
    import bz2
    import gzip
    import lzma

    fns = {"gzip": gzip.decompress, "bz2": bz2.decompress, "lzma": lzma.decompress}
    if codec == "auto":
        for name, magic in _CODEC_MAGIC:
            if payload[: len(magic)] == magic:
                codec = name
                break
        else:
            raise ValueError(
                f"unknown compression magic {payload[:6]!r} (gzip/bz2/xz supported)"
            )
    if codec not in fns:
        raise ValueError(f"unsupported codec {codec!r} (gzip/bz2/lzma)")
    return fns[codec](payload)


def decompress_stage(
    df: DataFrame,
    codec: str = "auto",
    content_col: str = "content",
    key_col: str = "doc_id",
) -> DataFrame:
    """REAL payload decompression stage: a ``binary`` column holding
    gzip / bz2 / xz-compressed bytes → the decompressed bytes, with
    original and decompressed sizes for audit. This is the ingest step
    a 100 TB web-crawl pipeline runs FIRST — Spark decompresses *files*
    natively but has no built-in for a compressed *column*; here it is
    a mapInPandas pass (stdlib codecs, executor-side, Arrow-batched),
    NOT a driver loop. ``codec="auto"`` dispatches per payload on
    magic bytes, so mixed-codec shards decode in one pass."""
    schema = T.StructType(
        [
            T.StructField(key_col, T.LongType()),
            T.StructField("content", T.BinaryType()),
            T.StructField("orig_bytes", T.IntegerType()),
            T.StructField("byte_len", T.IntegerType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out, orig, size = [], [], []
            for p in pdf[content_col]:
                raw = payload_decompress(bytes(p), codec)
                out.append(raw)
                orig.append(len(p))
                size.append(len(raw))
            yield pd.DataFrame(
                {
                    key_col: pdf[key_col].astype("int64"),
                    "content": out,
                    "orig_bytes": pd.Series(orig, dtype="int32"),
                    "byte_len": pd.Series(size, dtype="int32"),
                }
            )

    return df.mapInPandas(run, schema=schema)


JPEG_MIME = "image/jpeg"


def make_jpeg_payload(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    width: int = 16,
    height: int = 16,
    quality: int = 90,
    subsample: bool = False,
) -> DataFrame:
    """Synthesize a REAL baseline-JPEG payload per row (the same
    deterministic sha256-counter pixels as :func:`make_rgb_payload`,
    encoded through :func:`ops.jpeg.jpeg_encode`). JPEG is LOSSY — the
    decodable truth is ``jpeg_decode(payload)``, not the raw pixels, so
    tests compare against a local decode rather than byte equality
    (unlike the PNG twin)."""
    from pipetree_spark.ops.jpeg import jpeg_encode

    return _make_payload(
        df, text_col, key_col,
        lambda t: jpeg_encode(_det_rgb(t, width, height), quality=quality, subsample=subsample),
        JPEG_MIME, width=width, height=height,
    )


#: Image magic-byte prefixes (the codecs ``_decode_rgb8`` dispatches to).
_IMAGE_MAGIC = (
    ("png", b"\x89PNG\r\n\x1a\n"),
    ("jpeg", b"\xff\xd8"),
    ("gif", b"GIF87a"),
    ("gif", b"GIF89a"),
)


def _image_format(raw: bytes) -> str | None:
    """'png' / 'jpeg' / 'gif' by magic bytes, None when nothing matches."""
    return next((fmt for fmt, magic in _IMAGE_MAGIC if raw.startswith(magic)), None)


def _decode_rgb8(raw: bytes) -> np.ndarray:
    """Decode ONE PNG, baseline-JPEG or GIF (first composed frame)
    payload, chosen by magic bytes, to an (h, w, 3) uint8 array: grey
    is replicated and alpha dropped so downstream stages see ONE
    layout. An unknown magic raises ValueError; a corrupt payload
    raises its codec's format error (never garbage pixels)."""
    from pipetree_spark.ops.gif import gif_decode
    from pipetree_spark.ops.jpeg import jpeg_decode
    from pipetree_spark.ops.png import png_decode

    fmt = _image_format(raw)
    if fmt == "png":
        img = png_decode(raw)
    elif fmt == "jpeg":
        img = jpeg_decode(raw)
    elif fmt == "gif":
        img = gif_decode(raw)[0][0]  # first composed frame
    else:
        raise ValueError(f"unknown image magic {raw[:4]!r} (png/jpeg/gif supported)")
    if img.shape[2] < 3:  # grey, grey+alpha
        img = np.repeat(img[:, :, :1], 3, axis=2)
    return img[:, :, :3]


def image_decode_stage(
    df: DataFrame, content_col: str = "content", key_col: str = "doc_id"
) -> DataFrame:
    """REAL image decode stage: PNG, baseline JPEG, or GIF (first
    composed frame) per row by magic bytes, so mixed image shards decode
    in one pass (same pattern as :func:`decompress_stage`), emitting the
    raw-RGB8 layout (content + width/height from the decoded pixels,
    mime flipped to RAW_RGB_MIME); the uncompressed pipeline
    (:func:`rgb_resize_stage`, :func:`rgb_feature_stage`) chains
    unchanged. Decoding runs executor-side per Arrow batch; an unknown
    magic or a corrupt payload fails the task loudly."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            contents, widths, heights = [], [], []
            for p in pdf[content_col]:
                img = _decode_rgb8(bytes(p))
                contents.append(img.tobytes())
                heights.append(img.shape[0])
                widths.append(img.shape[1])
            yield pd.DataFrame(
                {
                    key_col: pdf[key_col].astype("int64"),
                    "content": contents,
                    "width": pd.Series(widths, dtype="int32"),
                    "height": pd.Series(heights, dtype="int32"),
                    "mime": RAW_RGB_MIME,
                }
            )

    return df.mapInPandas(run, schema=_keyed_schema(RGB_LAYOUT_SCHEMA, key_col))


RGB_INT_STATS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_px", T.LongType()),
        T.StructField("sum_r", T.LongType()),
        T.StructField("sum_g", T.LongType()),
        T.StructField("sum_b", T.LongType()),
        T.StructField("sum_sq", T.LongType()),
    ]
)


def rgb_int_stats_stage(
    df: DataFrame, content_col: str = "content", key_col: str = "doc_id"
) -> DataFrame:
    """INTEGER-EXACT channel statistics over raw-RGB8 payloads: per-doc
    pixel count, per-channel byte sums, and the global sum of squares —
    all int64, so the result is bit-identical on any engine (the
    float-free twin of :func:`rgb_feature_stage`, built for the
    driver's hash gate: means/stds are one exact division away for the
    consumer that wants them)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n, sr, sg, sb, sq = [], [], [], [], []
            for p, w, h in zip(pdf[content_col], pdf["width"], pdf["height"]):
                img = rawrgb_decode(p, int(w), int(h)).astype(np.int64)
                n.append(int(w) * int(h))
                sr.append(int(img[:, :, 0].sum()))
                sg.append(int(img[:, :, 1].sum()))
                sb.append(int(img[:, :, 2].sum()))
                sq.append(int((img * img).sum()))
            yield pd.DataFrame(
                {
                    key_col: pdf[key_col].astype("int64"),
                    "n_px": pd.Series(n, dtype="int64"),
                    "sum_r": pd.Series(sr, dtype="int64"),
                    "sum_g": pd.Series(sg, dtype="int64"),
                    "sum_b": pd.Series(sb, dtype="int64"),
                    "sum_sq": pd.Series(sq, dtype="int64"),
                }
            )

    return df.mapInPandas(run, schema=_keyed_schema(RGB_INT_STATS_SCHEMA, key_col))


PCM_INT_STATS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("sum_s", T.LongType()),
        T.StructField("sum_sq", T.LongType()),
        T.StructField("peak_abs", T.LongType()),
    ]
)


def pcm_int_stats_stage(
    df: DataFrame, content_col: str = "content", key_col: str = "doc_id"
) -> DataFrame:
    """INTEGER-EXACT waveform statistics over raw-PCM16 payloads (the
    float-free twin of :func:`pcm_feature_stage`): sample count, signed
    sample sum, sum of squares, absolute peak — all int64, built for
    the driver's hash gate."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n, ss, sq, pk = [], [], [], []
            for p, ns in zip(pdf[content_col], pdf["n_samples"]):
                x = pcm_decode(p, int(ns)).astype(np.int64)
                n.append(int(ns))
                ss.append(int(x.sum()))
                sq.append(int((x * x).sum()))
                pk.append(int(np.abs(x).max()))
            yield pd.DataFrame(
                {
                    key_col: pdf[key_col].astype("int64"),
                    "n_samples": pd.Series(n, dtype="int64"),
                    "sum_s": pd.Series(ss, dtype="int64"),
                    "sum_sq": pd.Series(sq, dtype="int64"),
                    "peak_abs": pd.Series(pk, dtype="int64"),
                }
            )

    return df.mapInPandas(run, schema=_keyed_schema(PCM_INT_STATS_SCHEMA, key_col))


MJPEG_MIME = "video/x-msvideo"


def make_mjpeg_payload(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    width: int = 16,
    height: int = 16,
    n_frames: int = 8,
    fps: int = 10,
    quality: int = 90,
) -> DataFrame:
    """Synthesize a REAL MJPEG-AVI video payload per row: ``n_frames``
    deterministic frames (sha256 counter-mode keyed by text AND frame
    index, so frames differ) each baseline-JPEG-encoded and boxed into
    the RIFF/AVI container (:func:`ops.avi.avi_mjpeg_encode`). The
    video twin of make_png_payload / make_wav_payload."""
    from pipetree_spark.ops.avi import avi_mjpeg_encode
    from pipetree_spark.ops.jpeg import jpeg_encode

    def encode(t: str) -> bytes:
        frames = [
            jpeg_encode(_det_rgb(f"frame{fi}:{t}", width, height), quality=quality)
            for fi in range(n_frames)
        ]
        return avi_mjpeg_encode(frames, width, height, fps=fps)

    return _make_payload(
        df, text_col, key_col, encode, MJPEG_MIME,
        width=width, height=height, n_frames=n_frames,
    )


def video_frame_sample_stage(
    df: DataFrame,
    every_n: int = 4,
    content_col: str = "content",
    key_col: str = "doc_id",
) -> DataFrame:
    """REAL video frame sampling with decode-AFTER-sample: parse the
    MJPEG-AVI container, keep every ``every_n``-th frame, and decode
    ONLY the kept frames (JPEG decode is the expensive step — sampling
    first is what makes 1-fps-of-30-fps affordable). Emits one row per
    sampled frame in the raw-RGB8 layout (+ frame_idx, fps), so the
    image pipeline (resize, features) chains per frame. This is the
    north-star "frame-sample" op with real decode, not an array slice."""
    from pipetree_spark.ops.avi import avi_mjpeg_decode

    schema = T.StructType(
        [
            T.StructField(key_col, T.LongType()),
            T.StructField("frame_idx", T.IntegerType()),
            T.StructField("content", T.BinaryType()),
            T.StructField("width", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
            T.StructField("fps", T.IntegerType()),
            T.StructField("mime", T.StringType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            keys, idxs, contents, widths, heights, fpss = [], [], [], [], [], []
            for did, p in zip(pdf[key_col], pdf[content_col]):
                frames, _, _, fps = avi_mjpeg_decode(bytes(p))
                for fi in range(0, len(frames), every_n):
                    img = _decode_rgb8(frames[fi])
                    keys.append(int(did))
                    idxs.append(fi)
                    contents.append(img.tobytes())
                    heights.append(img.shape[0])
                    widths.append(img.shape[1])
                    fpss.append(fps or 0)
            yield pd.DataFrame(
                {
                    key_col: pd.Series(keys, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "content": contents,
                    "width": pd.Series(widths, dtype="int32"),
                    "height": pd.Series(heights, dtype="int32"),
                    "fps": pd.Series(fpss, dtype="int32"),
                    "mime": RAW_RGB_MIME,
                }
            )

    return df.mapInPandas(run, schema=schema)


WAV_MIME = "audio/wav"


def make_wav_payload(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    n_samples: int = 2048,
    sample_rate: int = 16000,
) -> DataFrame:
    """Synthesize a REAL (RIFF-conformant, stdlib-decodable) mono WAV
    payload per row: the same deterministic sha256-counter samples as
    :func:`make_pcm_payload`, wrapped through
    :func:`ops.wav.wav_encode` — the audio twin of
    :func:`make_png_payload`. Output layout matches make_pcm_payload
    (content + n_samples/sample_rate + mime) so the decode stage slots
    in where an ingest scanner would."""
    from pipetree_spark.ops.wav import wav_encode

    need = n_samples * 2
    return _make_payload(
        df, text_col, key_col,
        lambda t: wav_encode(np.frombuffer(_det_bytes("pcm:" + t, need), "<i2"), sample_rate),
        WAV_MIME, n_samples=n_samples, sample_rate=sample_rate,
    )


FLAC_MIME = "audio/flac"


def make_flac_payload(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    n_samples: int = 2048,
    sample_rate: int = 16000,
    subframe: str = "fixed",
) -> DataFrame:
    """Synthesize a REAL FLAC payload per row — the same deterministic
    PCM16 samples as :func:`make_pcm_payload` / :func:`make_wav_payload`,
    losslessly encoded through :func:`ops.flac.flac_encode` (fixed
    predictors + rice residuals by default). Layout matches the other
    audio generators so the decode stage slots in identically."""
    from pipetree_spark.ops.flac import flac_encode

    need = n_samples * 2

    def encode(t: str) -> bytes:
        x = np.frombuffer(_det_bytes("pcm:" + t, need), "<i2").astype(np.int64)
        return flac_encode(x, sample_rate, subframe=subframe)

    return _make_payload(
        df, text_col, key_col, encode, FLAC_MIME,
        n_samples=n_samples, sample_rate=sample_rate,
    )


def _decode_pcm16(raw: bytes) -> tuple[np.ndarray, int]:
    """Decode ONE WAV or FLAC payload, chosen by magic bytes, to its
    FIRST channel as int16 samples plus the sample rate (deterministic
    downmix, no float mixing arithmetic, so downstream stages see ONE
    layout). An unknown magic raises ValueError; a corrupt payload
    raises its codec's format error."""
    from pipetree_spark.ops.flac import flac_decode
    from pipetree_spark.ops.wav import wav_decode

    if raw[:4] == b"RIFF":
        samples, sr = wav_decode(raw)
    elif raw[:4] == b"fLaC":
        samples, sr = flac_decode(raw)
    else:
        raise ValueError(f"unknown audio magic {raw[:4]!r} (wav/flac supported)")
    return samples[:, 0].astype("<i2"), sr


def audio_decode_stage(
    df: DataFrame, content_col: str = "content", key_col: str = "doc_id"
) -> DataFrame:
    """REAL audio decode stage: WAV or FLAC per row by magic bytes (the
    audio twin of :func:`image_decode_stage`), emitting the raw-PCM16
    layout (content + n_samples/sample_rate read from the stream, mime
    flipped to RAW_PCM_MIME); the waveform pipeline
    (:func:`pcm_feature_stage`, :func:`pcm_downsample_stage`) chains
    unchanged. An unknown magic or a corrupt payload fails the task
    loudly."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            contents, counts, rates = [], [], []
            for p in pdf[content_col]:
                mono, sr = _decode_pcm16(bytes(p))
                contents.append(mono.tobytes())
                counts.append(len(mono))
                rates.append(sr)
            yield pd.DataFrame(
                {
                    key_col: pdf[key_col].astype("int64"),
                    "content": contents,
                    "n_samples": pd.Series(counts, dtype="int32"),
                    "sample_rate": pd.Series(rates, dtype="int32"),
                    "mime": RAW_PCM_MIME,
                }
            )

    return df.mapInPandas(run, schema=_keyed_schema(PCM_LAYOUT_SCHEMA, key_col))


def pcm_decode(payload: bytes, n_samples: int):
    """REAL decode of a raw PCM16-LE payload: byte buffer → int16
    sample array. Raises on size mismatch — a truncated waveform must
    fail loudly, not analyze garbage."""
    arr = np.frombuffer(payload, dtype="<i2")
    if arr.size != n_samples:
        raise ValueError(
            f"pcm16 payload has {arr.size} samples, expected {n_samples}"
        )
    return arr


def pcm_downsample(payload: bytes, n_samples: int, factor: int) -> bytes:
    """REAL stride decimation (every ``factor``-th sample) via numpy
    slicing — the waveform analog of nearest-neighbor image resize.
    (A production resampler would low-pass first; stride decimation is
    the exact, dependency-free transform this container supports.)"""
    return pcm_decode(payload, n_samples)[::factor].tobytes()


def pcm_feature_stage(
    df: DataFrame, content_col: str = "content", key_col: str = "doc_id"
) -> DataFrame:
    """REAL waveform statistics over raw PCM16 payloads (mapInPandas +
    numpy — no audio lib needed): RMS, absolute peak, and zero-crossing
    rate — the classic cheap features for silence / clipping / tone
    detection in a multimodal curation pipeline. Expects
    ``make_pcm_payload``'s layout (content + n_samples/sample_rate)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            durs, rmss, peaks, zcrs = [], [], [], []
            for p, n, sr in zip(pdf[content_col], pdf["n_samples"], pdf["sample_rate"]):
                x = pcm_decode(p, int(n)).astype(np.float64)
                durs.append(float(int(n) / int(sr)))
                rmss.append(float(np.sqrt(np.mean(x * x))))
                peaks.append(int(np.abs(x).max()))
                signs = np.signbit(x)
                zcrs.append(float(np.count_nonzero(signs[1:] != signs[:-1]) / (len(x) - 1)))
            yield pd.DataFrame(
                {
                    key_col: pdf[key_col].astype("int64"),
                    "n_samples": pdf["n_samples"].astype("int32"),
                    "duration_sec": durs,
                    "rms": rmss,
                    "peak": peaks,
                    "zero_cross_rate": zcrs,
                }
            )

    return df.mapInPandas(run, schema=_keyed_schema(PCM_FEATURE_SCHEMA, key_col))


GIF_MIME = "image/gif"


def make_gif_payload(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    width: int = 16,
    height: int = 16,
) -> DataFrame:
    """Synthesize a REAL (GIF89a, stdlib-decodable) GIF payload per
    row: deterministic sha256-counter pixels (domain-separated from the
    PNG maker by a ``gif:`` prefix), encoded through
    :func:`ops.gif.gif_encode`. GIF is palette-based and the encoder
    refuses >256 distinct colors, so the certified shape keeps
    width·height ≤ 256 (distinct colors can never exceed the pixel
    count); the roundtrip is then lossless and the PNG-style
    hash-certification argument carries over verbatim."""
    from pipetree_spark.ops.gif import gif_encode

    if width * height > 256:
        raise ValueError("make_gif_payload: width*height must be <= 256 (palette bound)")
    return _make_payload(
        df, text_col, key_col, lambda t: gif_encode(_det_rgb("gif:" + t, width, height)),
        GIF_MIME, width=width, height=height,
    )


def make_flac_stereo_payload(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    n_frames: int = 256,
    sample_rate: int = 8000,
    channel_mode: str = "mid_side",
) -> DataFrame:
    """Synthesize a REAL FLAC payload per row: deterministic STEREO
    PCM16 frames (sha256 counter-mode, ``flac:`` domain prefix;
    interleaved L/R exactly as the bytes arrive, so frame k's left
    sample is int16 #2k), encoded through :func:`ops.flac.flac_encode`
    with a stereo decorrelation mode (default mid-side) — a hash-exact
    downstream therefore certifies the predictor/rice path AND the
    stereo reconstruction, not just verbatim storage. Output layout
    matches make_wav_payload with n_samples = n_frames (the decode
    stage keeps channel 0)."""
    from pipetree_spark.ops.flac import flac_encode

    need = n_frames * 2 * 2  # stereo int16

    def encode(t: str) -> bytes:
        x = np.frombuffer(_det_bytes("flac:" + t, need), "<i2").reshape(-1, 2)
        return flac_encode(x, sample_rate, subframe="fixed", channel_mode=channel_mode)

    return _make_payload(
        df, text_col, key_col, encode, FLAC_MIME, n_samples=n_frames, sample_rate=sample_rate
    )


def make_avi_payload(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    n_frames: int = 12,
    width: int = 16,
    height: int = 16,
    fps: int = 5,
) -> DataFrame:
    """Synthesize a REAL MJPEG-AVI payload per row: ``n_frames``
    FLAT-COLOR frames (frame k's RGB = the first 3 bytes of
    sha256(base ':' k), base = sha256('avi:' + text)), each JPEG-encoded
    then boxed by :func:`ops.avi.avi_mjpeg_encode`. Flat blocks put all
    DCT energy in the quantized DC coefficient, so baseline JPEG
    round-trips them EXACTLY (pinned in tests across random colors) —
    which makes a lossy-codec container chain hash-certifiable: the
    oracle can re-derive every sampled frame's pixels from the color
    definition alone."""
    from pipetree_spark.ops.avi import avi_mjpeg_encode
    from pipetree_spark.ops.jpeg import jpeg_encode

    def encode(t: str) -> bytes:
        # sha256(base ':' k) is block k of _det_bytes' counter-mode stream
        dig = _det_bytes("avi:" + t, 32 * n_frames)
        frames = []
        for k in range(n_frames):
            img = np.empty((height, width, 3), np.uint8)
            img[:, :] = np.frombuffer(dig[32 * k : 32 * k + 3], np.uint8)
            frames.append(jpeg_encode(img, quality=85))
        return avi_mjpeg_encode(frames, width, height, fps=fps)

    return _make_payload(
        df, text_col, key_col, encode, MJPEG_MIME, n_frames=n_frames, fps=fps
    )


RGB_FRAME_STATS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.LongType()),
        T.StructField("n_px", T.LongType()),
        T.StructField("sum_r", T.LongType()),
        T.StructField("sum_g", T.LongType()),
        T.StructField("sum_b", T.LongType()),
        T.StructField("sum_sq", T.LongType()),
    ]
)


def rgb_int_stats_by_frame_stage(
    df: DataFrame, content_col: str = "content", key_col: str = "doc_id"
) -> DataFrame:
    """Per-(doc, frame) variant of :func:`rgb_int_stats_stage` for the
    one-row-per-sampled-frame layout :func:`video_frame_sample_stage`
    emits — same all-int64, float-free contract, with frame_idx carried
    through so the oracle can address individual frames."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            keys, fidx, n, sr, sg, sb, sq = [], [], [], [], [], [], []
            for did, fi, p, w, h in zip(
                pdf[key_col], pdf["frame_idx"], pdf[content_col], pdf["width"], pdf["height"]
            ):
                img = rawrgb_decode(p, int(w), int(h)).astype(np.int64)
                keys.append(int(did))
                fidx.append(int(fi))
                n.append(int(w) * int(h))
                sr.append(int(img[:, :, 0].sum()))
                sg.append(int(img[:, :, 1].sum()))
                sb.append(int(img[:, :, 2].sum()))
                sq.append(int((img * img).sum()))
            yield pd.DataFrame(
                {
                    key_col: pd.Series(keys, dtype="int64"),
                    "frame_idx": pd.Series(fidx, dtype="int64"),
                    "n_px": pd.Series(n, dtype="int64"),
                    "sum_r": pd.Series(sr, dtype="int64"),
                    "sum_g": pd.Series(sg, dtype="int64"),
                    "sum_b": pd.Series(sb, dtype="int64"),
                    "sum_sq": pd.Series(sq, dtype="int64"),
                }
            )

    return df.mapInPandas(run, schema=_keyed_schema(RGB_FRAME_STATS_SCHEMA, key_col))


# ----------------------------------------------- perceptual image near-dup

DHASH_BANDS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("band_0", T.LongType()),
        T.StructField("band_1", T.LongType()),
        T.StructField("band_2", T.LongType()),
        T.StructField("band_3", T.LongType()),
    ]
)


def rgb_perturb_stage(
    df: DataFrame,
    every: int = 64,
    delta: int = 1,
    content_col: str = "content",
    key_col: str = "doc_id",
) -> DataFrame:
    """Deterministic NEAR-DUPLICATE synthesis over raw-RGB8 payloads:
    saturating ``+delta`` on every ``every``-th byte (a slight
    brightness nudge on a sparse pixel subset — the kind of
    re-encode/watermark drift perceptual dedup must survive). Purely
    byte-positional, so an oracle can re-derive the perturbed pixels
    from the payload DEFINITION with one CASE."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for p in pdf[content_col]:
                buf = np.frombuffer(bytes(p), np.uint8).copy()
                idx = np.arange(0, len(buf), every)
                buf[idx] = np.minimum(buf[idx].astype(np.int32) + delta, 255).astype(
                    np.uint8
                )
                out.append(buf.tobytes())
            pdf = pdf.copy()
            pdf[content_col] = out
            yield pdf

    return df.mapInPandas(run, schema=df.schema)


def dhash_bands_stage(
    df: DataFrame, content_col: str = "content", key_col: str = "doc_id"
) -> DataFrame:
    """Integer dHash perceptual fingerprint over raw-RGB8 payloads,
    emitted as FOUR 16-bit band integers (the Hamming-LSH keys; their
    concatenation is the classic 64-bit dHash — never materialized as
    one int64, so no sign-bit headaches on any engine).

    Definition (all integer, hence oracle-expressible): per-pixel luma
    = 77·R + 150·G + 29·B; the image partitions into an 8×8 grid of
    (h/8 × w/8) blocks whose luma SUMS g[r][c] stand in for the resized
    grayscale (comparisons on sums == comparisons on means); bit(r,c)
    = 1 iff g[r][c] > g[r][(c+1) % 8] (row-wise difference hash with
    wraparound); band_i packs rows 2i and 2i+1 as
    Σ bit(r,c) · 2^((r%2)·8 + c). Width/height must be multiples of 8.

    Scale shape: one narrow mapInPandas (no shuffle); the 64-bit
    fingerprint replaces the image for all downstream dedup."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            keys, bands = [], ([], [], [], [])
            for did, p, w, h in zip(
                pdf[key_col], pdf[content_col], pdf["width"], pdf["height"]
            ):
                w, h = int(w), int(h)
                if w % 8 or h % 8:
                    raise ValueError(f"dhash_bands_stage: {w}x{h} not /8")
                img = rawrgb_decode(p, w, h).astype(np.int64)
                luma = 77 * img[:, :, 0] + 150 * img[:, :, 1] + 29 * img[:, :, 2]
                g = luma.reshape(8, h // 8, 8, w // 8).sum(axis=(1, 3))
                bits = (g > np.roll(g, -1, axis=1)).astype(np.int64)
                weights = 1 << np.arange(8, dtype=np.int64)
                rowvals = (bits * weights).sum(axis=1)  # 8 row bytes
                keys.append(int(did))
                for i in range(4):
                    bands[i].append(int(rowvals[2 * i] + (rowvals[2 * i + 1] << 8)))
            yield pd.DataFrame(
                {
                    key_col: pd.Series(keys, dtype="int64"),
                    **{
                        f"band_{i}": pd.Series(bands[i], dtype="int64")
                        for i in range(4)
                    },
                }
            )

    return df.mapInPandas(run, schema=_keyed_schema(DHASH_BANDS_SCHEMA, key_col))


def dhash_hamming_pairs(
    bands: DataFrame, key_col: str = "doc_id", max_hamming: int = 6
) -> DataFrame:
    """Hamming-ball near-dup pairs over dHash band fingerprints via
    band-equality LSH (the image twin of the text MinHash banding at
    ops/text.py): two images are CANDIDATES iff any 16-bit band
    matches exactly (a ≤3-bit-flip pair always has an intact band —
    pigeonhole; unrelated images collide on a band with p ≈ 4·2⁻¹⁶),
    then candidates verify exactly: hamming = Σ bit_count(xor(band_a,
    band_b)) ≤ max_hamming. No all-pairs anywhere — the join is
    bucketed on (band_idx, band_value), the verify runs on candidates
    only. Returns (doc_a, doc_b, hamming), doc_a < doc_b."""
    melted = bands.select(
        key_col,
        "band_0",
        "band_1",
        "band_2",
        "band_3",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_idx"), F.col(f"band_{i}").alias("band_val")
                    )
                    for i in range(4)
                ]
            )
        ).alias("bb"),
    ).select(key_col, "band_0", "band_1", "band_2", "band_3", "bb.*")
    a, b = melted.alias("a"), melted.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col(f"a.{key_col}") < F.col(f"b.{key_col}")),
        )
        .select(
            F.col(f"a.{key_col}").alias("doc_a"),
            F.col(f"b.{key_col}").alias("doc_b"),
            *[F.col(f"a.band_{i}").alias(f"a{i}") for i in range(4)],
            *[F.col(f"b.band_{i}").alias(f"b{i}") for i in range(4)],
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    ham = sum(
        F.bit_count(F.col(f"a{i}").bitwiseXOR(F.col(f"b{i}"))) for i in range(4)
    )
    return (
        cand.withColumn("hamming", ham.cast("long"))
        .where(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


# ----------------------------------------------- perceptual audio near-dup


def pcm_perturb_stage(
    df: DataFrame,
    every: int = 37,
    delta: int = 1,
    content_col: str = "content",
    key_col: str = "doc_id",
) -> DataFrame:
    """Deterministic NEAR-DUPLICATE synthesis over raw-PCM16 payloads:
    saturating ``+delta`` on every ``every``-th SAMPLE (the audio twin
    of :func:`rgb_perturb_stage` — the kind of re-encode/transcode
    amplitude drift perceptual audio dedup must survive). Purely
    sample-positional and saturating at the int16 rails, so an oracle
    can re-derive the perturbed waveform from the sample DEFINITION
    with one CASE + LEAST/GREATEST."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for p in pdf[content_col]:
                x = np.frombuffer(bytes(p), dtype="<i2").astype(np.int32)
                idx = np.arange(0, len(x), every)
                x[idx] = np.clip(x[idx] + delta, -32768, 32767)
                out.append(x.astype("<i2").tobytes())
            pdf = pdf.copy()
            pdf[content_col] = out
            yield pdf

    return df.mapInPandas(run, schema=df.schema)


def audiofp_bands_stage(
    df: DataFrame, content_col: str = "content", key_col: str = "doc_id"
) -> DataFrame:
    """Integer Haitsma–Kalker-style acoustic fingerprint over raw-PCM16
    payloads, emitted as FOUR 16-bit band integers in the SAME layout
    as :func:`dhash_bands_stage`, so :func:`dhash_hamming_pairs` is the
    shared Hamming-LSH back end for image AND audio near-dup.

    Definition (all integer, hence oracle-expressible): the waveform
    splits into 64 equal frames; each frame splits into two halves
    whose energies E0[t], E1[t] = Σ v² (exact int64 — |v| ≤ 32768 so a
    half of any realistic length is far from overflow). The classic
    Haitsma–Kalker bit is the sign of the band-and-time second
    difference; here the two time-domain half-energies stand in for
    adjacent spectral bands (exact where a float filterbank would
    drift): bit(t) = 1 iff (E0[t] − E0[t−1]) > (E1[t] − E1[t−1]), with
    t−1 wrapping 0 → 63 like dhash's column wraparound. band_i packs
    bits 16i..16i+15 little-endian. Requires n_samples divisible by
    128 (64 frames × an even frame length).

    Scale shape: one narrow mapInPandas (no shuffle); the 8-byte
    fingerprint replaces the waveform for all downstream dedup."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            keys, bands = [], ([], [], [], [])
            for did, p in zip(pdf[key_col], pdf[content_col]):
                x = np.frombuffer(bytes(p), dtype="<i2").astype(np.int64)
                if len(x) % 128:
                    raise ValueError(
                        f"audiofp_bands_stage: {len(x)} samples not /128"
                    )
                half = len(x) // 128  # samples per half-frame
                e = (x * x).reshape(64, 2, half).sum(axis=2)  # (frame, half)
                d = e - np.roll(e, 1, axis=0)  # Δ vs previous frame, wrap
                bits = (d[:, 0] > d[:, 1]).astype(np.int64)
                weights = 1 << np.arange(16, dtype=np.int64)
                keys.append(int(did))
                for i in range(4):
                    bands[i].append(int((bits[16 * i : 16 * i + 16] * weights).sum()))
            yield pd.DataFrame(
                {
                    key_col: pd.Series(keys, dtype="int64"),
                    **{
                        f"band_{i}": pd.Series(bands[i], dtype="int64")
                        for i in range(4)
                    },
                }
            )

    return df.mapInPandas(run, schema=_keyed_schema(DHASH_BANDS_SCHEMA, key_col))


# ----------------------------------------------- perceptual video near-dup


def make_avi_quad_payload(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    n_frames: int = 16,
    fps: int = 5,
    repeat: int = 1,
) -> DataFrame:
    """Synthesize a REAL MJPEG-AVI payload of 16×16 frames with FOUR
    flat 8×8 quadrants each (quadrant q of frame k takes RGB bytes
    3q..3q+2 of sha256(base ':' k), base = sha256('aviq:' + text)) —
    the spatially-structured twin of :func:`make_avi_payload`. Each
    8×8 quadrant is exactly one baseline-JPEG block per channel in
    4:4:4, so all DCT energy still lands in the quantized DC
    coefficient and the lossy chain round-trips EXACTLY (pinned in
    tests across random colors) while giving downstream fingerprints
    real per-frame spatial structure to hash."""
    from pipetree_spark.ops.avi import avi_mjpeg_encode
    from pipetree_spark.ops.jpeg import jpeg_encode

    def encode(t: str) -> bytes:
        # sha256(base ':' k) is block k of _det_bytes' counter-mode stream
        blocks = _det_bytes("aviq:" + t, 32 * n_frames)
        frames = []
        for k in range(n_frames):
            # repeat > 1 emits runs of identical frames (shot
            # structure) for keyframe-selection tests/oracles
            dig = blocks[32 * (k // repeat) :]
            img = np.empty((16, 16, 3), np.uint8)
            for q in range(4):
                r0, c0 = (q // 2) * 8, (q % 2) * 8
                img[r0 : r0 + 8, c0 : c0 + 8] = np.frombuffer(dig[3 * q : 3 * q + 3], np.uint8)
            frames.append(jpeg_encode(img, quality=85))
        return avi_mjpeg_encode(frames, 16, 16, fps=fps)

    return _make_payload(
        df, text_col, key_col, encode, MJPEG_MIME, n_frames=n_frames, fps=fps
    )


VID_BLOCK_LUMA_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.LongType()),
        T.StructField("q", T.LongType()),
        T.StructField("luma", T.LongType()),
    ]
)


def vid_block_luma_stage(
    df: DataFrame, content_col: str = "content", key_col: str = "doc_id"
) -> DataFrame:
    """Per-(frame, 2×2-quadrant) integer luma sums over the raw-RGB8
    one-row-per-frame layout :func:`video_frame_sample_stage` emits:
    luma = Σ over the quadrant's pixels of 77·R + 150·G + 29·B
    (the dhash weights). Width/height must be even. Four int64s
    replace each frame — the narrow-map reduction that makes video
    fingerprinting affordable at scale."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            keys, fidx, qs, lums = [], [], [], []
            for did, fi, p, w, h in zip(
                pdf[key_col],
                pdf["frame_idx"],
                pdf[content_col],
                pdf["width"],
                pdf["height"],
            ):
                w, h = int(w), int(h)
                if w % 2 or h % 2:
                    raise ValueError(f"vid_block_luma_stage: {w}x{h} not /2")
                img = rawrgb_decode(p, w, h).astype(np.int64)
                luma = 77 * img[:, :, 0] + 150 * img[:, :, 1] + 29 * img[:, :, 2]
                g = luma.reshape(2, h // 2, 2, w // 2).sum(axis=(1, 3))
                for q in range(4):
                    keys.append(int(did))
                    fidx.append(int(fi))
                    qs.append(q)
                    lums.append(int(g[q // 2, q % 2]))
            yield pd.DataFrame(
                {
                    key_col: pd.Series(keys, dtype="int64"),
                    "frame_idx": pd.Series(fidx, dtype="int64"),
                    "q": pd.Series(qs, dtype="int64"),
                    "luma": pd.Series(lums, dtype="int64"),
                }
            )

    return df.mapInPandas(run, schema=_keyed_schema(VID_BLOCK_LUMA_SCHEMA, key_col))


def vid_tdhash_bands(luma: DataFrame, n_frames: int, key_col: str = "doc_id") -> DataFrame:
    """Temporal difference-hash over per-(frame, quadrant) luma sums:
    bit(t, q) = 1 iff luma[t][q] > luma[(t+1) % n_frames][q] — dHash's
    "is the next one darker?" applied along TIME per spatial quadrant,
    wraparound closing the last frame against the first. The
    n_frames·4 bits (= 64 at the canonical 16 frames) pack into the
    four 16-bit bands of :func:`dhash_bands_stage`'s layout, so
    :func:`dhash_hamming_pairs` is the shared Hamming-LSH back end for
    image, audio AND video near-dup. All JVM expressions — one
    modular self-join on (key, q, frame) plus two tiny aggregations;
    the luma relation is 4·n_frames rows per video, so every stage
    here is fingerprint-sized, never pixel-sized."""
    if n_frames * 4 != 64:
        raise ValueError("vid_tdhash_bands packs exactly 64 bits: n_frames must be 16")
    luma = _assert_contiguous_frames(luma, n_frames, key_col)
    a, b = luma.alias("a"), luma.alias("b")
    bits = a.join(
        b,
        (F.col(f"a.{key_col}") == F.col(f"b.{key_col}"))
        & (F.col("a.q") == F.col("b.q"))
        & (F.col("b.frame_idx") == (F.col("a.frame_idx") + 1) % n_frames),
    ).select(
        F.col(f"a.{key_col}").alias(key_col),
        (F.col("a.frame_idx") * 4 + F.col("a.q")).alias("j"),
        (F.col("a.luma") > F.col("b.luma")).cast("long").alias("bit"),
    )
    packed = bits.groupBy(key_col, (F.col("j") / 16).cast("long").alias("band_idx")).agg(
        F.sum(
            F.expr("CAST(bit AS BIGINT) * shiftleft(CAST(1 AS BIGINT), CAST(j % 16 AS INT))")
        ).alias("band_val")
    )
    return packed.groupBy(key_col).agg(
        *[
            F.sum(F.when(F.col("band_idx") == i, F.col("band_val")).otherwise(0))
            .cast("long")
            .alias(f"band_{i}")
            for i in range(4)
        ]
    )


# ----------------------------------------------- EXIF metadata extraction


def make_jpeg_exif_payload(
    df: DataFrame, text_col: str = "text", key_col: str = "doc_id"
) -> DataFrame:
    """Synthesize a REAL JPEG with a REAL EXIF APP1 segment per row:
    a flat 16×16 baseline JPEG (decodable; color = digest bytes 11–13)
    carrying camera metadata derived from dig = sha256('exif:' + text):
    byte order II/MM by dig[0] % 2 (BOTH endian paths under the gate),
    Make = 'MK' + hex chars 5–10, Orientation = 1 + dig[1] % 8,
    XResolution = (dig[2]·256 + dig[3]) / (1 + dig[4]), and
    DateTimeOriginal from dig[5..10] (%04d:%02d:%02d %02d:%02d:%02d
    with the standard range clamps). An oracle re-derives every field
    from the digest definition with no byte-level code."""
    from pipetree_spark.ops.exif import exif_app1, insert_app1
    from pipetree_spark.ops.jpeg import jpeg_encode

    def encode(t: str) -> bytes:
        hx = hashlib.sha256(b"exif:" + t.encode()).hexdigest()
        dig = bytes.fromhex(hx)
        img = np.empty((16, 16, 3), np.uint8)
        img[:, :] = np.frombuffer(dig[11:14], np.uint8)
        dt = "%04d:%02d:%02d %02d:%02d:%02d" % (
            2000 + dig[5] % 100,
            1 + dig[6] % 12,
            1 + dig[7] % 28,
            dig[8] % 24,
            dig[9] % 60,
            dig[10] % 60,
        )
        app1 = exif_app1(
            make="MK" + hx[4:10],
            orientation=1 + dig[1] % 8,
            xres=(dig[2] * 256 + dig[3], 1 + dig[4]),
            dt_original=dt,
            big_endian=bool(dig[0] % 2),
        )
        return insert_app1(jpeg_encode(img, quality=85), app1)

    return _make_payload(df, text_col, key_col, encode, JPEG_MIME)


EXIF_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("endian", T.StringType()),
        T.StructField("make", T.StringType()),
        T.StructField("orientation", T.LongType()),
        T.StructField("xres_num", T.LongType()),
        T.StructField("xres_den", T.LongType()),
        T.StructField("dt_original", T.StringType()),
    ]
)


def exif_extract_stage(
    df: DataFrame, content_col: str = "content", key_col: str = "doc_id"
) -> DataFrame:
    """REAL EXIF extraction: walk the JPEG segment stream to APP1,
    parse the embedded TIFF (both byte orders, inline + offset values,
    Exif sub-IFD) and emit the metadata row a crawl pipeline filters
    on — orientation for rotation normalization, DateTimeOriginal for
    freshness, Make for provenance. EXIF-less images emit a NULL row
    (classification, not failure); MALFORMED EXIF fails the task
    loudly (ops.exif.ExifFormatError).

    Scale shape: narrow per-row map, no shuffle; only segment headers
    are walked — entropy-coded image data is never touched, so cost is
    per-image metadata-sized, not pixel-sized."""
    from pipetree_spark.ops.exif import exif_parse

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in
                    (key_col, "endian", "make", "orientation",
                     "xres_num", "xres_den", "dt_original")}
            for did, p in zip(pdf[key_col], pdf[content_col]):
                meta = exif_parse(bytes(p)) or {}
                rows[key_col].append(int(did))
                rows["endian"].append(meta.get("endian"))
                rows["make"].append(meta.get("make"))
                rows["orientation"].append(meta.get("orientation"))
                rows["xres_num"].append(meta.get("xres_num"))
                rows["xres_den"].append(meta.get("xres_den"))
                rows["dt_original"].append(meta.get("dt_original"))
            yield pd.DataFrame(
                {
                    key_col: pd.Series(rows[key_col], dtype="int64"),
                    "endian": rows["endian"],
                    "make": rows["make"],
                    "orientation": pd.Series(rows["orientation"], dtype="Int64"),
                    "xres_num": pd.Series(rows["xres_num"], dtype="Int64"),
                    "xres_den": pd.Series(rows["xres_den"], dtype="Int64"),
                    "dt_original": rows["dt_original"],
                }
            )

    return df.mapInPandas(run, schema=_keyed_schema(EXIF_SCHEMA, key_col))


# ----------------------------------------------- WARC crawl ingest

WARC_MIME = "application/warc"
WARC_GZ_MIME = "application/warc+gzip"


def make_warc_payload(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    gzip_members: bool = False,
) -> DataFrame:
    """Synthesize a REAL WARC/1.0 archive per row — the CommonCrawl
    record layout a crawl-ingest stage actually walks: one warcinfo
    record, one request record, one response record whose HTTP message
    wraps the doc's text as HTML (status 404 with a fixed not-found
    body when sha256('warc:' + text) byte 0 ≡ 0 mod 4, else 200 —
    so the error-classification path is under the gate too). An
    oracle re-derives every extracted field from the digest + text
    definition with no byte-level code."""
    import gzip

    from pipetree_spark.ops.warc import http_response, warc_record

    def encode(t: str) -> bytes:
        hx = hashlib.sha256(b"warc:" + t.encode()).hexdigest()
        b0 = int(hx[:2], 16)
        uri = "http://crawl.test/" + hx[:8]
        if b0 % 4 == 0:
            status, reason = 404, "Not Found"
            body = "<html><body><p>not found</p></body></html>"
        else:
            status, reason = 200, "OK"
            # realistic capture shape: pure-link nav + content
            # paragraph (entity included) + pure-link footer, so
            # the downstream link-density extractor has real
            # boilerplate to drop (q_pipe_crawl_e2e)
            body = (
                "<html><body><div id=nav><a href=/>Home</a> "
                "<a href=/a>About</a></div><p>" + t + " &amp; tail</p>"
                "<div id=footer><a href=/t>Terms</a> "
                "<a href=/p>Privacy</a></div></body></html>"
            )
        records = [
            warc_record(
                "warcinfo",
                {"WARC-Record-ID": f"<urn:sha256:{hx[:16]}>"},
                b"software: pipetree-spark\r\n",
            ),
            warc_record(
                "request",
                {"WARC-Target-URI": uri},
                f"GET /{hx[:8]} HTTP/1.1\r\nHost: crawl.test\r\n\r\n".encode(),
            ),
            warc_record(
                "response",
                {"WARC-Target-URI": uri},
                http_response(status, reason, body.encode("utf-8")),
            ),
        ]
        if gzip_members:
            # the CommonCrawl layout: each record its own gzip
            # member, members concatenated (mtime pinned to 0
            # so payload bytes are deterministic)
            return b"".join(gzip.compress(r, mtime=0) for r in records)
        return b"".join(records)

    return _make_payload(
        df, text_col, key_col, encode, WARC_GZ_MIME if gzip_members else WARC_MIME
    )


WARC_EXTRACT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_records", T.LongType()),
        T.StructField("http_status", T.LongType()),
        T.StructField("target_uri", T.StringType()),
        T.StructField("body_bytes", T.LongType()),
        T.StructField("body_html", T.StringType()),
    ]
)


def warc_extract_stage(
    df: DataFrame, content_col: str = "content", key_col: str = "doc_id"
) -> DataFrame:
    """REAL WARC ingest: walk the record framing (ops.warc.warc_parse,
    strict Content-Length + CRLF separators, loud failure), keep the
    ``response`` record, parse its HTTP message, and emit the row the
    rest of the text pipeline consumes — status for error filtering,
    target URI for provenance/URL rules, the HTML body for
    html_extract_stage. One row per archive (the canonical
    one-response-per-capture layout; a multi-capture archive would
    emit one row per response with the same code).

    Body decode honors the HTTP Content-Type charset — ANY codec the
    Python registry knows (windows-1252, shift_jis, gb2312, ... — the
    labels real crawls actually carry), resolved case-insensitively
    with `charset = x` whitespace tolerated; a label the registry does
    NOT know raises WarcFormatError (typed loud-fail, never a raw
    LookupError) — and replaces, not raises on, undecodable bytes:
    real crawl bodies lie about their encoding constantly and one
    mojibake byte must not kill a 100 TB ingest (r12 ADVICE).
    ``body_bytes`` stays the RAW byte length, so the replacement
    policy never changes a certified count.

    Scale shape: narrow per-row map, no shuffle; the walk is
    framing-sized (headers + one memcpy per payload). Gzip-membered
    CommonCrawl files compose decompress_stage in front."""
    import codecs

    from pipetree_spark.ops.warc import WarcFormatError, _get_ci, warc_parse

    def body_text(r: dict) -> str:
        # header names are case-insensitive (rfc 9110) — shared lookup
        ctype = _get_ci(r["http_headers"], "Content-Type", "") or ""
        charset = "utf-8"
        for part in ctype.split(";")[1:]:
            name, _, val = part.partition("=")
            if name.strip().lower() == "charset":
                charset = val.strip().strip('"').lower() or "utf-8"
        try:
            codec = codecs.lookup(charset).name
        except LookupError:
            raise WarcFormatError(f"unsupported body charset {charset!r}")
        return r["http_body"].decode(codec, errors="replace")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = (key_col, "n_records", "http_status", "target_uri", "body_bytes", "body_html")
        for pdf in batches:
            rows = {k: [] for k in cols}
            for did, p in zip(pdf[key_col], pdf[content_col]):
                recs = warc_parse(bytes(p))
                resp = [r for r in recs if r["warc_type"] == "response"]
                for r in resp:
                    body = r["http_body"]
                    rows[key_col].append(int(did))
                    rows["n_records"].append(len(recs))
                    rows["http_status"].append(int(r["http_status"]))
                    rows["target_uri"].append(r["fields"].get("WARC-Target-URI"))
                    rows["body_bytes"].append(len(body))
                    rows["body_html"].append(body_text(r))
            yield pd.DataFrame(
                {
                    key_col: pd.Series(rows[key_col], dtype="int64"),
                    "n_records": pd.Series(rows["n_records"], dtype="int64"),
                    "http_status": pd.Series(rows["http_status"], dtype="int64"),
                    "target_uri": rows["target_uri"],
                    "body_bytes": pd.Series(rows["body_bytes"], dtype="int64"),
                    "body_html": rows["body_html"],
                }
            )

    return df.mapInPandas(run, schema=_keyed_schema(WARC_EXTRACT_SCHEMA, key_col))


def pcm_downsample_stage(
    df: DataFrame, factor: int = 2, content_col: str = "content", key_col: str = "doc_id"
) -> DataFrame:
    """Stride-decimation stage over raw-PCM16 rows (every ``factor``-th
    sample kept; :func:`pcm_downsample` per row): narrow map, output
    layout unchanged with n_samples/sample_rate divided by ``factor``
    so downstream waveform stages chain unmodified."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out, counts, rates = [], [], []
            for p, n, sr in zip(pdf[content_col], pdf["n_samples"], pdf["sample_rate"]):
                out.append(pcm_downsample(bytes(p), int(n), factor))
                counts.append((int(n) + factor - 1) // factor)
                rates.append(int(sr) // factor)
            pdf = pdf.copy()
            pdf[content_col] = out
            pdf["n_samples"] = pd.Series(counts, dtype="int32")
            pdf["sample_rate"] = pd.Series(rates, dtype="int32")
            yield pdf

    return df.mapInPandas(run, schema=df.schema)


def _assert_contiguous_frames(
    luma: DataFrame, n_frames: int, key_col: str
) -> DataFrame:
    """Loud-fail guard for the temporal video ops: every video must
    carry exactly frames 0..n_frames−1 (4 quadrant rows each). Sparse
    sampling (video_frame_sample_stage's every_n > 1) would otherwise
    make the modular next-frame join match NOTHING and the ops emit a
    silent 'no duplicates / frame 0 only' — the failure mode a
    spec-wired pipeline would never notice. The predicate evaluates
    distributed (window count + max over the fingerprint-sized luma
    relation); assert_true raises on the first violating row."""
    wcnt = Window.partitionBy(key_col)
    # count + max alone would admit a missing frame compensated by a
    # duplicated one; the distinct-frame count closes that hole
    ok = (
        (F.col("__cnt") == 4 * n_frames)
        & (F.col("__maxf") == n_frames - 1)
        & (F.col("__nf") == n_frames)
    )
    return (
        luma.withColumn("__cnt", F.count("*").over(wcnt))
        .withColumn("__maxf", F.max("frame_idx").over(wcnt))
        .withColumn("__nf", F.size(F.collect_set("frame_idx").over(wcnt)))
        .where(
            F.assert_true(
                ok,
                F.lit(
                    f"temporal video ops need contiguous frames 0..{n_frames - 1} "
                    "(sample with every_n=1)"
                ),
            ).isNull()
        )
        .drop("__cnt", "__maxf", "__nf")
    )


def vid_keyframes(luma: DataFrame, n_frames: int, key_col: str = "doc_id") -> DataFrame:
    """Content-change keyframe selection over per-(frame, quadrant)
    luma sums (:func:`vid_block_luma_stage`): frame t is a KEYFRAME iff
    t = 0 or its total absolute quadrant-luma change vs frame t−1 is
    nonzero — the integer-exact core of the shot-boundary sampling a
    vision-language corpus runs so it stores one frame per shot
    instead of ``fps`` near-identical copies. Returns
    (key, frame_idx, delta) for keyframes only (delta = 0 for t = 0 by
    convention). All JVM expressions over the fingerprint-sized luma
    relation; a production threshold simply replaces the > 0."""
    luma = _assert_contiguous_frames(luma, n_frames, key_col)
    a, b = luma.alias("a"), luma.alias("b")
    deltas = (
        a.join(
            b,
            (F.col(f"a.{key_col}") == F.col(f"b.{key_col}"))
            & (F.col("a.q") == F.col("b.q"))
            & (F.col("b.frame_idx") == F.col("a.frame_idx") - 1),
            "left",
        )
        .select(
            F.col(f"a.{key_col}").alias(key_col),
            F.col("a.frame_idx").alias("frame_idx"),
            F.abs(F.col("a.luma") - F.coalesce(F.col("b.luma"), F.col("a.luma"))).alias("d"),
        )
        .groupBy(key_col, "frame_idx")
        .agg(F.sum("d").alias("delta"))
    )
    return deltas.where((F.col("frame_idx") == 0) | (F.col("delta") > 0)).select(
        key_col, "frame_idx", F.col("delta").cast("long").alias("delta")
    )


# ----------------------------------------------- corrupt-media triage

MEDIA_CLASSIFY_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("fmt", T.StringType()),
        T.StructField("status", T.StringType()),
        T.StructField("n_px", T.LongType()),
    ]
)


def classify_media_stage(
    df: DataFrame, content_col: str = "content", key_col: str = "doc_id"
) -> DataFrame:
    """Dead-letter TRIAGE for mixed image shards — the
    classify-don't-crash counterpart of :func:`image_decode_stage`
    (whose loud-fail contract is right for curated shards but wrong
    for a raw 100 TB crawl, where corrupt and mislabeled payloads are
    a certainty, not an exception): sniff the magic, attempt the real
    decode, and emit (fmt, status, n_px) — ``ok`` with the pixel
    count, ``corrupt`` when a recognized format fails its decoder,
    ``unknown`` when no magic matches. The emitting pipeline routes
    ``ok`` rows onward and the rest to a dead-letter audit, exactly
    like q_src_corrupt_json does for JSONL.

    Scale shape: narrow per-row map; failures cost only the bytes
    already read."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            keys, fmts, stats, npx = [], [], [], []
            for did, p in zip(pdf[key_col], pdf[content_col]):
                raw = bytes(p)
                fmt = _image_format(raw)
                status, n = "unknown", 0
                if fmt is not None:
                    try:
                        img = _decode_rgb8(raw)
                        status, n = "ok", int(img.shape[0]) * int(img.shape[1])
                    except Exception:
                        status = "corrupt"
                keys.append(int(did))
                fmts.append(fmt or "unknown")
                stats.append(status)
                npx.append(n)
            yield pd.DataFrame(
                {
                    key_col: pd.Series(keys, dtype="int64"),
                    "fmt": fmts,
                    "status": stats,
                    "n_px": pd.Series(npx, dtype="int64"),
                }
            )

    return df.mapInPandas(run, schema=_keyed_schema(MEDIA_CLASSIFY_SCHEMA, key_col))


def corrupt_media_variant_stage(
    df: DataFrame, content_col: str = "content", key_col: str = "doc_id"
) -> DataFrame:
    """Deterministic corruption synthesis for triage tests/oracles,
    keyed on ``key mod 4`` so an oracle knows each row's variant from
    the key alone: 0 passes through intact; 1 truncates the last 24
    bytes (mid-stream EOF); 2 flips the first byte (magic destroyed);
    3 zeroes 8 bytes mid-file (bitrot). On CRC-framed payloads (PNG)
    variants 1 and 3 are GUARANTEED decode failures — every chunk is
    checksummed — which is what makes the triage outcome
    oracle-derivable rather than merely likely."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for did, p in zip(pdf[key_col], pdf[content_col]):
                raw = bytes(p)
                v = int(did) % 4
                if v == 1:
                    raw = raw[:-24]
                elif v == 2:
                    raw = bytes([raw[0] ^ 0xFF]) + raw[1:]
                elif v == 3:
                    mid = len(raw) // 2
                    raw = raw[:mid] + b"\x00" * 8 + raw[mid + 8 :]
                out.append(raw)
            pdf = pdf.copy()
            pdf[content_col] = out
            yield pdf

    return df.mapInPandas(run, schema=df.schema)
