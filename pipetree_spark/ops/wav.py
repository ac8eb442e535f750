"""Pure-stdlib WAV (RIFF/PCM) codec (SURVEY §2.12 multimodal — r10).

WAV is the audio twin of what PNG is to images in this repo: a
mainstream container fully parseable with the stdlib alone (``struct``
over RIFF chunks), so it gets a REAL decode path
(mm.audio_decode_stage). Supported: PCM16-LE (format code 1, 16-bit),
mono or multi-channel, with honest :class:`WavFormatError` for the
variants a small codec must not silently mis-decode (IEEE-float,
ADPCM/compressed format codes, 8/24/32-bit widths, truncated data).

Spark-side shape is identical to the raw paths in ops/mm.py: payloads
decode executor-side in Arrow batches (``wav_decode_stage`` emits the
raw-PCM16 layout, after which ``pcm_feature_stage`` /
``pcm_downsample`` chain unchanged).
"""

from __future__ import annotations

import struct

_PCM_FORMAT = 1  # WAVE_FORMAT_PCM


class WavFormatError(ValueError):
    """Malformed or unsupported-variant WAV payload."""


def wav_decode(payload: bytes):
    """Decode a RIFF/WAVE byte payload → ``(samples, sample_rate)``
    where ``samples`` is an ``(n_frames, n_channels)`` int16 array.

    Walks the chunk list (chunks may appear in any order and carry odd
    lengths with pad bytes — both per spec), requires one ``fmt `` and
    one ``data`` chunk, and rejects anything that is not 16-bit PCM
    rather than decode it wrong."""
    import numpy as np

    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise WavFormatError("not a WAV: bad RIFF/WAVE header")
    (riff_size,) = struct.unpack("<I", payload[4:8])
    if riff_size + 8 > len(payload):
        raise WavFormatError("truncated RIFF payload")

    fmt = None
    data = None
    pos = 12
    # walk to the RIFF end, not len(payload): real-world WAVs carry
    # trailing non-RIFF bytes (appended ID3 tags etc.) that are not part
    # of the chunk list and must not trip the truncated-chunk error
    end = min(len(payload), 8 + riff_size)
    while pos + 8 <= end:
        cid = payload[pos : pos + 4]
        (clen,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        if pos + 8 + clen > end:
            raise WavFormatError(f"truncated {cid!r} chunk")
        body = payload[pos + 8 : pos + 8 + clen]
        if cid == b"fmt ":
            if clen < 16:
                raise WavFormatError("fmt chunk too short")
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif cid == b"data":
            data = body
        pos += 8 + clen + (clen & 1)  # odd chunks carry a pad byte
    if fmt is None:
        raise WavFormatError("no fmt chunk")
    if data is None:
        raise WavFormatError("no data chunk")

    fmt_code, n_ch, sample_rate, _byte_rate, block_align, bits = fmt
    if fmt_code != _PCM_FORMAT:
        raise WavFormatError(f"unsupported WAV format code {fmt_code} (PCM only)")
    if bits != 16:
        raise WavFormatError(f"unsupported bit depth {bits} (16-bit PCM only)")
    if n_ch < 1:
        raise WavFormatError("zero channels")
    if block_align != n_ch * 2:
        raise WavFormatError(f"block align {block_align} != channels*2 ({n_ch * 2})")
    if len(data) % block_align:
        raise WavFormatError(
            f"data chunk is {len(data)} bytes, not a multiple of frame size {block_align}"
        )
    samples = np.frombuffer(data, dtype="<i2").reshape(-1, n_ch)
    return samples, sample_rate


def wav_encode(samples, sample_rate: int) -> bytes:
    """Encode an ``(n_frames[, n_channels])`` int16 array → canonical
    RIFF/WAVE PCM16-LE bytes (fmt + data, no ancillary chunks —
    deterministic for fixed inputs)."""
    import numpy as np

    arr = np.asarray(samples, dtype="<i2")
    if arr.ndim == 1:
        arr = arr[:, None]
    n_frames, n_ch = arr.shape
    data = arr.tobytes()
    fmt = struct.pack(
        "<HHIIHH", _PCM_FORMAT, n_ch, sample_rate, sample_rate * n_ch * 2, n_ch * 2, 16
    )
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body
