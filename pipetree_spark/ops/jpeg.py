"""Pure-Python baseline JPEG codec (SURVEY §2.12 multimodal — r10).

Closes the last stubbed image format: baseline sequential DCT JPEG
(SOF0) decodes — and, for test planting, encodes — with numpy + stdlib
only. Everything variable is carried INSIDE the stream per the spec,
which is what makes a small codec safe: quantization tables travel in
DQT, Huffman tables in DHT (this encoder builds its own canonical
tables from the image's symbol frequencies — no reliance on the
spec's example tables), so the decoder works off the stream alone and
also reads real-world baseline files.

Supported: 8-bit baseline, greyscale or YCbCr, interleaved scans,
sampling factors 1–2 per axis (4:4:4 and 4:2:0 are the tested paths),
restart markers. Honest :class:`JpegFormatError` for progressive
(SOF2), arithmetic coding, 12-bit, and hierarchical variants —
mis-decoding those silently would be worse than refusing.

JPEG is lossy: decode(encode(x)) ≈ x (tolerance pinned by tests;
flat blocks recover near-exactly since all energy sits in the
quantized DC). Determinism: fixed float64 DCT + round-half-even via
numpy — same bytes in, same bytes out, both directions.

Scale note: like ops/png.py this is a *correct fallback*, Python-speed
per row inside mapInPandas Arrow batches — a deployment with real
throughput needs swaps a codec lib in behind the same stage
(mm.image_decode_stage).
"""

from __future__ import annotations

import struct

import numpy as np


class JpegFormatError(ValueError):
    """Malformed or unsupported-variant JPEG payload."""


# ---------------------------------------------------------------- DCT bits

def _dct_matrix() -> np.ndarray:
    k = np.arange(8)[:, None]
    n = np.arange(8)[None, :]
    d = np.cos((2 * n + 1) * k * np.pi / 16) * np.sqrt(2 / 8)
    d[0] = np.sqrt(1 / 8)
    return d


_D = _dct_matrix()


def _zigzag() -> list[tuple[int, int]]:
    """The spec's zigzag scan, generated: anti-diagonals s = i+j, odd
    diagonals walked with i ascending, even ones descending."""
    out = []
    for s in range(15):
        rng = range(max(0, s - 7), min(s, 7) + 1)
        for i in (rng if s % 2 else reversed(rng)):
            out.append((i, s - i))
    return out


_ZZ = _zigzag()
_ZZ_IDX = np.array([i * 8 + j for i, j in _ZZ])


def _make_quant(quality: int, chroma: bool) -> np.ndarray:
    """A legal quality-scaled table (ANY table is valid — it travels in
    DQT): 1 + (1+i+j)·scale, the classic distance-from-DC ramp, chroma
    1.6× coarser."""
    scale = max(1.0, (100 - quality) / 12.5)  # quality 100 → 1 (finest)
    i = np.arange(8)[:, None]
    j = np.arange(8)[None, :]
    t = 1 + (1 + i + j) * scale * (1.6 if chroma else 1.0)
    return np.clip(np.round(t), 1, 255).astype(np.int32)


# ------------------------------------------------------------- Huffman bits

def _build_huffman(freqs: dict[int, int]) -> tuple[list[int], list[int]]:
    """Canonical Huffman (BITS counts per length 1–16, HUFFVAL symbol
    list) from symbol frequencies. A dummy symbol (256) with the lowest
    priority is included so (a) one-symbol alphabets still get 1-bit
    codes and (b) the all-ones max-length code lands on the dummy and
    is then dropped — the spec-recommended guard. Falls back to flat
    frequencies if any depth exceeds 16 (impossible here in practice:
    ≤257 symbols)."""
    import heapq

    def depths(fr: dict[int, int]) -> dict[int, int]:
        heap = [(f, [s]) for s, f in fr.items()]
        heapq.heapify(heap)
        depth = {s: 0 for s in fr}
        while len(heap) > 1:
            fa, sa = heapq.heappop(heap)
            fb, sb = heapq.heappop(heap)
            for s in sa + sb:
                depth[s] += 1
            heapq.heappush(heap, (fa + fb, sa + sb))
        return depth

    fr = {s: max(1, f) for s, f in freqs.items()}
    # dummy: frequency 0 → joins the FIRST merge → maximal depth (leaves
    # merged earliest end deepest), and value 256 → sorts last among
    # max-depth symbols → takes the final (all-ones) canonical code
    fr[256] = 0
    d = depths(fr)
    if max(d.values()) > 16:
        d = depths({s: 1 for s in fr})
    order = sorted(d, key=lambda s: (d[s], s))
    # the dummy has minimal frequency (→ maximal depth) and the largest
    # symbol value (→ sorts last at that depth), so it is the final —
    # all-ones — code of the longest length; dropping it leaves that
    # code unassigned, the spec-recommended guard.
    assert order[-1] == 256, "dummy symbol must take the deepest-last code"
    bits = [0] * 17
    vals = []
    for s in order[:-1]:
        bits[d[s]] += 1
        vals.append(s)
    return bits[1:], vals


def _canonical_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol → (code, length) per the spec's canonical assignment."""
    codes = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            self.n -= 8
            b = (self.acc >> self.n) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)  # byte stuffing

    def flush(self) -> None:
        if self.n:
            pad = 8 - self.n
            self.write((1 << pad) - 1, pad)


class _BitReader:
    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.n = 0

    def _fill(self) -> None:
        if self.pos >= len(self.data):
            raise JpegFormatError("entropy stream ran out of bytes")
        b = self.data[self.pos]
        self.pos += 1
        if b == 0xFF:
            nxt = self.data[self.pos] if self.pos < len(self.data) else None
            if nxt == 0x00:
                self.pos += 1  # stuffed FF
            else:
                raise JpegFormatError("marker inside entropy data")
        self.acc = (self.acc << 8) | b
        self.n += 8

    def bit(self) -> int:
        if not self.n:
            self._fill()
        self.n -= 1
        return (self.acc >> self.n) & 1

    def bits(self, k: int) -> int:
        v = 0
        for _ in range(k):
            v = (v << 1) | self.bit()
        return v

    def align_restart(self, expected: int) -> None:
        """Consume the RSTn marker at a restart boundary."""
        self.acc = 0
        self.n = 0
        if self.pos + 2 > len(self.data) or self.data[self.pos] != 0xFF:
            raise JpegFormatError("missing restart marker")
        m = self.data[self.pos + 1]
        if not (0xD0 <= m <= 0xD7) or (m - 0xD0) != expected:
            raise JpegFormatError(f"bad restart marker 0x{m:02x}")
        self.pos += 2


def _decode_symbol(r: _BitReader, table: dict[tuple[int, int], int]) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | r.bit()
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise JpegFormatError("invalid Huffman code")


def _category(v: int) -> int:
    return int(abs(v)).bit_length()


def _extend(bits_val: int, t: int) -> int:
    if t == 0:
        return 0
    return bits_val if bits_val >= (1 << (t - 1)) else bits_val - (1 << t) + 1


# ------------------------------------------------------------------ encode

def _rgb_to_ycbcr(px: np.ndarray) -> np.ndarray:
    f = px.astype(np.float64)
    r, g, b = f[:, :, 0], f[:, :, 1], f[:, :, 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128
    return np.stack([y, cb, cr], axis=2)


def _ycbcr_to_rgb(y: np.ndarray, cb: np.ndarray, cr: np.ndarray) -> np.ndarray:
    r = y + 1.402 * (cr - 128)
    g = y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128)
    b = y + 1.772 * (cb - 128)
    return np.clip(np.round(np.stack([r, g, b], axis=2)), 0, 255).astype(np.uint8)


def _blockify(plane: np.ndarray, bw: int, bh: int) -> np.ndarray:
    """Pad (edge-replicate) to (bh·8, bw·8) and return (bh, bw, 8, 8)."""
    h, w = plane.shape
    p = np.pad(plane, ((0, bh * 8 - h), (0, bw * 8 - w)), mode="edge")
    return p.reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3)


def jpeg_encode(
    pixels,
    quality: int = 85,
    subsample: bool = False,
    restart_interval: int = 0,
) -> bytes:
    """Encode (h, w, 3) RGB or (h, w) greyscale uint8 → baseline JPEG.

    ``subsample=True`` emits 4:2:0 (chroma box-averaged 2×2),
    otherwise 4:4:4. ``restart_interval`` > 0 emits DRI + RSTn markers
    every that many MCUs (exercises the decoder's restart path).
    Deterministic for fixed inputs; Huffman tables are built from this
    image's own symbol statistics and shipped in DHT."""
    px = np.asarray(pixels, dtype=np.uint8)
    grey = px.ndim == 2
    h, w = px.shape[:2]
    if h == 0 or w == 0:
        raise JpegFormatError("zero-dimension image")

    qt = [_make_quant(quality, False), _make_quant(quality, True)]
    if grey:
        comps = [(px.astype(np.float64), 1, 1, 0)]
    else:
        ycc = _rgb_to_ycbcr(px)
        if subsample:
            # box-average 2×2 (pad odd edges by replication first)
            cpad = np.pad(
                ycc, ((0, h % 2), (0, w % 2), (0, 0)), mode="edge"
            )
            sub = (
                cpad.reshape((h + h % 2) // 2, 2, (w + w % 2) // 2, 2, 3)
                .mean(axis=(1, 3))
            )
            comps = [
                (ycc[:, :, 0], 2, 2, 0),
                (sub[:, :, 1], 1, 1, 1),
                (sub[:, :, 2], 1, 1, 1),
            ]
        else:
            comps = [
                (ycc[:, :, 0], 1, 1, 0),
                (ycc[:, :, 1], 1, 1, 1),
                (ycc[:, :, 2], 1, 1, 1),
            ]
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcx = -(-w // (8 * hmax))
    mcy = -(-h // (8 * vmax))

    # DCT + quantize every component's blocks
    qblocks = []
    for plane, ch, cv, tq in comps:
        bw, bh = mcx * ch, mcy * cv
        blocks = _blockify(plane - 128.0, bw, bh)
        coef = np.einsum("ij,abjk,lk->abil", _D, blocks, _D)
        qb = np.round(coef / qt[tq]).astype(np.int32)
        qblocks.append(qb)

    # symbol streams (two passes: frequencies, then bits)
    def mcu_blocks():
        for my in range(mcy):
            for mx in range(mcx):
                for ci, (_, ch, cv, _) in enumerate(comps):
                    for by in range(cv):
                        for bx in range(ch):
                            yield ci, qblocks[ci][my * cv + by, mx * ch + bx]

    n_classes = 1 if grey else 2
    dc_freq = [dict() for _ in range(n_classes)]
    ac_freq = [dict() for _ in range(n_classes)]

    def walk(emit_dc, emit_ac):
        pred = [0] * len(comps)
        mcu_i = 0
        for my in range(mcy):
            for mx in range(mcx):
                if restart_interval and mcu_i and mcu_i % restart_interval == 0:
                    yield ("rst",)
                    pred = [0] * len(comps)
                mcu_i += 1
                for ci, (_, ch, cv, _) in enumerate(comps):
                    cls = 0 if ci == 0 else 1
                    for by in range(cv):
                        for bx in range(ch):
                            blk = qblocks[ci][my * cv + by, mx * ch + bx]
                            zz = blk.ravel()[_ZZ_IDX]
                            diff = int(zz[0]) - pred[ci]
                            pred[ci] = int(zz[0])
                            yield from emit_dc(cls, diff)
                            yield from emit_ac(cls, zz[1:])

    def count_dc(cls, diff):
        t = _category(diff)
        dc_freq[cls][t] = dc_freq[cls].get(t, 0) + 1
        return ()

    def count_ac(cls, ac):
        run = 0
        for v in ac:
            v = int(v)
            if v == 0:
                run += 1
                continue
            while run > 15:
                ac_freq[cls][0xF0] = ac_freq[cls].get(0xF0, 0) + 1
                run -= 16
            sym = (run << 4) | _category(v)
            ac_freq[cls][sym] = ac_freq[cls].get(sym, 0) + 1
            run = 0
        if run:
            ac_freq[cls][0x00] = ac_freq[cls].get(0x00, 0) + 1
        return ()

    for _ in walk(count_dc, count_ac):
        pass
    for cls in range(n_classes):
        ac_freq[cls].setdefault(0x00, 1)
        dc_freq[cls].setdefault(0, 1)

    dc_tabs = [_build_huffman(f) for f in dc_freq]
    ac_tabs = [_build_huffman(f) for f in ac_freq]
    dc_codes = [_canonical_codes(*t) for t in dc_tabs]
    ac_codes = [_canonical_codes(*t) for t in ac_tabs]

    wtr = _BitWriter()

    def emit_dc(cls, diff):
        t = _category(diff)
        code, ln = dc_codes[cls][t]
        wtr.write(code, ln)
        if t:
            wtr.write(diff if diff > 0 else diff + (1 << t) - 1, t)
        return ()

    def emit_ac(cls, ac):
        run = 0
        for v in ac:
            v = int(v)
            if v == 0:
                run += 1
                continue
            while run > 15:
                code, ln = ac_codes[cls][0xF0]
                wtr.write(code, ln)
                run -= 16
            t = _category(v)
            code, ln = ac_codes[cls][(run << 4) | t]
            wtr.write(code, ln)
            wtr.write(v if v > 0 else v + (1 << t) - 1, t)
            run = 0
        if run:
            code, ln = ac_codes[cls][0x00]
            wtr.write(code, ln)
        return ()

    rst_i = 0
    for item in walk(emit_dc, emit_ac):
        if item == ("rst",):
            wtr.flush()
            wtr.out += bytes([0xFF, 0xD0 + rst_i % 8])
            rst_i += 1
    wtr.flush()

    # ---- container
    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    out = bytearray(b"\xff\xd8")  # SOI
    for tq in range(1 if grey else 2):
        zzq = bytes(int(qt[tq].ravel()[i]) for i in _ZZ_IDX)
        out += seg(0xDB, bytes([tq]) + zzq)  # DQT (zigzag order per spec)
    sof = bytes([8]) + struct.pack(">HH", h, w) + bytes([len(comps)])
    for ci, (_, ch, cv, tq) in enumerate(comps):
        sof += bytes([ci + 1, (ch << 4) | cv, tq])
    out += seg(0xC0, sof)  # SOF0 baseline
    for cls in range(n_classes):
        for tc, (bits, vals) in ((0, dc_tabs[cls]), (1, ac_tabs[cls])):
            out += seg(0xC4, bytes([(tc << 4) | cls]) + bytes(bits) + bytes(vals))
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))
    sos = bytes([len(comps)])
    for ci in range(len(comps)):
        cls = 0 if ci == 0 else 1
        sos += bytes([ci + 1, (cls << 4) | cls])
    sos += bytes([0, 63, 0])
    out += seg(0xDA, sos)
    out += wtr.out
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# ------------------------------------------------------------------ decode

def jpeg_decode(payload: bytes):
    """Decode a baseline JPEG → (h, w, 3) RGB (or (h, w, 1) greyscale)
    uint8 array. Walks markers off the stream (APPn/COM skipped),
    rejects progressive / arithmetic / 12-bit / hierarchical variants
    with :class:`JpegFormatError`."""
    if payload[:2] != b"\xff\xd8":
        raise JpegFormatError("not a JPEG: no SOI")
    pos = 2
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    sof = None
    restart = 0
    while True:
        if pos + 4 > len(payload):
            raise JpegFormatError("truncated before SOS")
        if payload[pos] != 0xFF:
            raise JpegFormatError(f"expected marker at {pos}")
        # spec-legal 0xFF fill bytes may pad between segments: skip runs
        # of 0xFF so the byte after the run is the marker code
        while payload[pos + 1] == 0xFF:
            pos += 1
            if pos + 4 > len(payload):
                raise JpegFormatError("truncated before SOS")
        marker = payload[pos + 1]
        if marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise JpegFormatError(
                f"unsupported JPEG variant (SOF marker 0x{marker:02x}; baseline only)"
            )
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            # standalone markers (TEM, RSTn) carry no length field —
            # misreading their next two bytes as a length corrupts the walk
            pos += 2
            continue
        (ln,) = struct.unpack(">H", payload[pos + 2 : pos + 4])
        if pos + 2 + ln > len(payload):
            raise JpegFormatError(f"truncated segment 0x{marker:02x}")
        body = payload[pos + 4 : pos + 2 + ln]
        if marker == 0xDB:  # DQT
            b = 0
            while b < len(body):
                pq, tq = body[b] >> 4, body[b] & 0xF
                if pq != 0:
                    raise JpegFormatError("16-bit quant tables unsupported")
                tab = np.zeros(64, dtype=np.int32)
                tab[_ZZ_IDX] = np.frombuffer(body[b + 1 : b + 65], np.uint8)
                qt[tq] = tab.reshape(8, 8)
                b += 65
        elif marker == 0xC4:  # DHT
            b = 0
            while b < len(body):
                tc, th = body[b] >> 4, body[b] & 0xF
                bits = list(body[b + 1 : b + 17])
                nv = sum(bits)
                vals = list(body[b + 17 : b + 17 + nv])
                codes = _canonical_codes(bits, vals)
                huff[(tc, th)] = {(ln_, c): s for s, (c, ln_) in codes.items()}
                b += 17 + nv
        elif marker == 0xC0 or marker == 0xC1:  # SOF0 / extended sequential
            prec = body[0]
            if prec != 8:
                raise JpegFormatError(f"{prec}-bit precision unsupported")
            hh, ww = struct.unpack(">HH", body[1:5])
            ncomp = body[5]
            comps = []
            for i in range(ncomp):
                cid, hv, tq = body[6 + 3 * i : 9 + 3 * i]
                ch, cv = hv >> 4, hv & 0xF
                if not (1 <= ch <= 2 and 1 <= cv <= 2):
                    raise JpegFormatError(f"sampling factors {ch}x{cv} unsupported")
                comps.append([cid, ch, cv, tq, None, None])
            sof = (hh, ww, comps)
        elif marker == 0xDD:  # DRI
            (restart,) = struct.unpack(">H", body[:2])
        elif marker == 0xDA:  # SOS
            if sof is None:
                raise JpegFormatError("SOS before SOF")
            ns = body[0]
            hh, ww, comps = sof
            if ns != len(comps):
                raise JpegFormatError("non-interleaved scans unsupported")
            for i in range(ns):
                cid, tabs = body[1 + 2 * i], body[2 + 2 * i]
                for c in comps:
                    if c[0] == cid:
                        c[4], c[5] = tabs >> 4, tabs & 0xF
            pos = pos + 2 + ln
            break
        elif marker == 0xD9:
            raise JpegFormatError("EOI before SOS")
        pos += 2 + ln

    hh, ww, comps = sof
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcx = -(-ww // (8 * hmax))
    mcy = -(-hh // (8 * vmax))
    planes = [
        np.zeros((mcy * cv * 8, mcx * ch * 8), dtype=np.float64)
        for _, ch, cv, _, _, _ in comps
    ]
    r = _BitReader(payload, pos)
    pred = [0] * len(comps)
    rst_i = 0
    mcu_i = 0
    for my in range(mcy):
        for mx in range(mcx):
            if restart and mcu_i and mcu_i % restart == 0:
                r.align_restart(rst_i % 8)
                rst_i += 1
                pred = [0] * len(comps)
            mcu_i += 1
            for ci, (_, ch, cv, tq, td, ta) in enumerate(comps):
                if td is None or (tq not in qt):
                    raise JpegFormatError("missing table for component")
                dct = huff.get((0, td))
                act = huff.get((1, ta))
                if dct is None or act is None:
                    raise JpegFormatError("missing Huffman table")
                for by in range(cv):
                    for bx in range(ch):
                        zz = np.zeros(64, dtype=np.int32)
                        t = _decode_symbol(r, dct)
                        pred[ci] += _extend(r.bits(t), t)
                        zz[0] = pred[ci]
                        k = 1
                        while k < 64:
                            sym = _decode_symbol(r, act)
                            if sym == 0x00:
                                break
                            if sym == 0xF0:
                                k += 16
                                continue
                            k += sym >> 4
                            t = sym & 0xF
                            if k > 63:
                                raise JpegFormatError("AC index overran block")
                            zz[k] = _extend(r.bits(t), t)
                            k += 1
                        blk = np.zeros(64, dtype=np.float64)
                        blk[_ZZ_IDX] = zz * qt[tq].ravel()[_ZZ_IDX]
                        sp = _D.T @ blk.reshape(8, 8) @ _D + 128.0
                        y0 = (my * cv + by) * 8
                        x0 = (mx * ch + bx) * 8
                        planes[ci][y0 : y0 + 8, x0 : x0 + 8] = sp

    # upsample each component to full size (nearest), crop to (hh, ww)
    full = []
    for pl, (_, ch, cv, _, _, _) in zip(planes, comps):
        up = pl.repeat(hmax // ch, axis=1).repeat(vmax // cv, axis=0) \
            if (ch != hmax or cv != vmax) else pl
        full.append(up[:hh, :ww])
    if len(full) == 1:
        g = np.clip(np.round(full[0]), 0, 255).astype(np.uint8)
        return g[:, :, None]
    if len(full) != 3:
        raise JpegFormatError(f"{len(full)}-component JPEG unsupported")
    return _ycbcr_to_rgb(full[0], full[1], full[2])
