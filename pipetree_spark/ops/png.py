"""Pure-stdlib PNG codec (SURVEY §2.12 multimodal — compressed formats).

PNG is deflate (zlib, in the stdlib) + five per-row byte filters + a
chunk framing with CRC32 (also stdlib) — the ONE mainstream compressed
image format fully decodable with zero third-party dependencies. This
module converts the mm.py compressed-codec stub into a real decode for
``image/png`` payloads (r9 verdict #6): 8-bit greyscale / RGB / RGBA /
greyscale+alpha, all five filter types, with honest errors for the
variants a 100-LoC codec should not silently mis-decode (palette,
16-bit, interlaced).

Scale note: this is a *correct fallback*, not a throughput claim — the
per-row defilter loop is Python-speed (fine for thumbnails and tests;
a production deployment swaps in a codec lib behind the same stage,
mm.image_decode_stage). What matters Spark-side
is unchanged from the raw-RGB8 path: payloads decode executor-side in
Arrow batches, never on the driver.
"""

from __future__ import annotations

import struct
import zlib

_SIG = b"\x89PNG\r\n\x1a\n"

#: color type → samples per pixel (8-bit depth only)
_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


class PngFormatError(ValueError):
    """Malformed or unsupported-variant PNG payload."""


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def _chunks(data: bytes):
    if data[:8] != _SIG:
        raise PngFormatError("not a PNG: bad signature")
    pos = 8
    while pos + 8 <= len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        ctype = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        if len(body) != length:
            raise PngFormatError(f"truncated {ctype!r} chunk")
        crc = struct.unpack(">I", data[pos + 8 + length : pos + 12 + length])[0]
        if zlib.crc32(ctype + body) & 0xFFFFFFFF != crc:
            raise PngFormatError(f"CRC mismatch in {ctype!r} chunk")
        yield ctype, body
        pos += 12 + length
        if ctype == b"IEND":
            return
    raise PngFormatError("no IEND chunk")


def png_decode(payload: bytes):
    """Decode a PNG byte payload → (height, width, channels) uint8 array.

    Supports the 8-bit non-interlaced formats (grey / grey+alpha / RGB /
    RGBA) and all five row filters. Raises :class:`PngFormatError` on
    palette (type 3), 16-bit, or Adam7-interlaced files — decoding
    those wrong would produce garbage pixels silently, which is worse
    than an honest error (same contract as rawrgb_decode's size check).
    """
    import numpy as np

    ihdr = None
    idat = bytearray()
    for ctype, body in _chunks(payload):
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif ctype == b"IDAT":
            idat += body
    if ihdr is None:
        raise PngFormatError("no IHDR chunk")
    width, height, depth, color, comp, filt, interlace = ihdr
    if comp != 0 or filt != 0:
        raise PngFormatError(f"unknown compression/filter method {comp}/{filt}")
    if interlace != 0:
        raise PngFormatError("Adam7-interlaced PNG not supported")
    if color == 3:
        raise PngFormatError("palette PNG not supported")
    if depth != 8 or color not in _CHANNELS:
        raise PngFormatError(f"unsupported bit depth/color type {depth}/{color}")
    ch = _CHANNELS[color]
    if width == 0 or height == 0:
        raise PngFormatError("zero-dimension image")

    raw = zlib.decompress(bytes(idat))
    stride = width * ch
    if len(raw) != height * (stride + 1):
        raise PngFormatError(
            f"IDAT decodes to {len(raw)} bytes, expected {height * (stride + 1)}"
        )

    out = np.zeros((height, stride), dtype=np.uint8)
    prev = bytearray(stride)
    for y in range(height):
        ftype = raw[y * (stride + 1)]
        row = bytearray(raw[y * (stride + 1) + 1 : (y + 1) * (stride + 1)])
        if ftype == 0:  # None
            pass
        elif ftype == 1:  # Sub
            for x in range(ch, stride):
                row[x] = (row[x] + row[x - ch]) & 0xFF
        elif ftype == 2:  # Up — vectorizable, no intra-row dependence
            row = bytearray(
                (np.frombuffer(bytes(row), np.uint8) + np.frombuffer(bytes(prev), np.uint8)).tobytes()
            )
        elif ftype == 3:  # Average
            for x in range(stride):
                left = row[x - ch] if x >= ch else 0
                row[x] = (row[x] + ((left + prev[x]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for x in range(stride):
                left = row[x - ch] if x >= ch else 0
                ul = prev[x - ch] if x >= ch else 0
                row[x] = (row[x] + _paeth(left, prev[x], ul)) & 0xFF
        else:
            raise PngFormatError(f"unknown row filter {ftype}")
        out[y] = np.frombuffer(bytes(row), np.uint8)
        prev = row
    return out.reshape(height, width, ch)


def png_encode(pixels, filter_type: int | str = 0, level: int = 6) -> bytes:
    """Encode a (h, w[, channels]) uint8 array → PNG bytes.

    ``filter_type`` is a fixed row filter 0–4 or ``"mix"`` (cycle
    through all five row-by-row — the test-side way to exercise every
    defilter branch of :func:`png_decode` in one payload). Deterministic
    for fixed inputs: zlib with an explicit level, no timestamps, no
    ancillary chunks.
    """
    import numpy as np

    arr = np.asarray(pixels, dtype=np.uint8)
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, ch = arr.shape
    color = {1: 0, 2: 4, 3: 2, 4: 6}.get(ch)
    if color is None:
        raise PngFormatError(f"cannot encode {ch}-channel image")
    stride = w * ch
    flat = arr.reshape(h, stride)

    lines = bytearray()
    prev = bytearray(stride)
    for y in range(h):
        row = bytearray(flat[y].tobytes())
        ft = (y % 5) if filter_type == "mix" else int(filter_type)
        enc = bytearray(stride)
        if ft == 0:
            enc = row
        elif ft == 1:
            for x in range(stride):
                left = row[x - ch] if x >= ch else 0
                enc[x] = (row[x] - left) & 0xFF
        elif ft == 2:
            for x in range(stride):
                enc[x] = (row[x] - prev[x]) & 0xFF
        elif ft == 3:
            for x in range(stride):
                left = row[x - ch] if x >= ch else 0
                enc[x] = (row[x] - ((left + prev[x]) >> 1)) & 0xFF
        elif ft == 4:
            for x in range(stride):
                left = row[x - ch] if x >= ch else 0
                ul = prev[x - ch] if x >= ch else 0
                enc[x] = (row[x] - _paeth(left, prev[x], ul)) & 0xFF
        else:
            raise PngFormatError(f"unknown row filter {ft}")
        lines.append(ft)
        lines += enc
        prev = row

    def chunk(ctype: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + ctype
            + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    idat = zlib.compress(bytes(lines), level)
    return _SIG + chunk(b"IHDR", ihdr) + chunk(b"IDAT", idat) + chunk(b"IEND", b"")
