"""Pure-Python FLAC codec (SURVEY §2.12 multimodal — r10).

FLAC is the standard lossless container for speech corpora
(LibriSpeech-class datasets ship as .flac), and its coding layer —
rice-coded residuals under fixed/LPC predictors, MSB-first bit packing,
CRC-8/16 — is all implementable with the stdlib. The decoder handles
the full baseline surface: CONSTANT / VERBATIM / FIXED(0–4) / LPC
subframes, both rice methods (4- and 5-bit parameters) including the
escape-to-raw path, wasted bits, all four channel assignments
(independent, left/side, right/side, mid/side), UTF-8-coded frame
numbers, and per-frame CRC-16 verification. The planting encoder emits
spec-valid streams with a choice of subframe strategy (verbatim, or
fixed-predictor order 0–2 with rice residuals) and channel mode, so
every decoder path is exercised by our own output.

Honest :class:`FlacFormatError` for malformed streams. Python-speed
per payload (same fallback contract as the other r10 codecs — a
throughput deployment swaps a codec lib in behind
mm.audio_decode_stage).
"""

from __future__ import annotations

import struct


class FlacFormatError(ValueError):
    """Malformed or unsupported-variant FLAC payload."""


# ------------------------------------------------------------------ CRCs

def _crc8(data: bytes) -> int:
    crc = 0
    for b in data:
        crc ^= b
        for _ in range(8):
            crc = ((crc << 1) ^ 0x07) & 0xFF if crc & 0x80 else (crc << 1) & 0xFF
    return crc


def _crc16(data: bytes) -> int:
    crc = 0
    for b in data:
        crc ^= b << 8
        for _ in range(8):
            crc = ((crc << 1) ^ 0x8005) & 0xFFFF if crc & 0x8000 else (crc << 1) & 0xFFFF
    return crc


# ------------------------------------------------------------- bit I/O

class _Writer:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, v: int, bits: int) -> None:
        self.acc = (self.acc << bits) | (v & ((1 << bits) - 1))
        self.n += bits
        while self.n >= 8:
            self.n -= 8
            self.out.append((self.acc >> self.n) & 0xFF)

    def write_signed(self, v: int, bits: int) -> None:
        self.write(v & ((1 << bits) - 1), bits)

    def write_unary(self, q: int) -> None:
        while q >= 32:
            self.write(0, 32)
            q -= 32
        self.write(1, q + 1)

    def align(self) -> None:
        if self.n:
            self.write(0, 8 - self.n)


class _Reader:
    def __init__(self, data: bytes, pos: int = 0) -> None:
        self.data = data
        self.pos = pos  # BIT position
        self.end = len(data) * 8

    def read(self, bits: int) -> int:
        if self.pos + bits > self.end:
            raise FlacFormatError("bitstream ran out")
        v = 0
        p = self.pos
        data = self.data
        for _ in range(bits):
            v = (v << 1) | ((data[p >> 3] >> (7 - (p & 7))) & 1)
            p += 1
        self.pos = p
        return v

    def read_signed(self, bits: int) -> int:
        v = self.read(bits)
        return v - (1 << bits) if v >> (bits - 1) else v

    def read_unary(self) -> int:
        q = 0
        while True:
            if self.pos >= self.end:
                raise FlacFormatError("bitstream ran out in unary")
            if (self.data[self.pos >> 3] >> (7 - (self.pos & 7))) & 1:
                self.pos += 1
                return q
            self.pos += 1
            q += 1

    def align(self) -> None:
        self.pos = (self.pos + 7) & ~7


def _utf8_number(w: _Writer, n: int) -> None:
    if n < 0x80:
        w.write(n, 8)
        return
    # multi-byte UTF-8-style coding (frame numbers rarely need it here)
    for total in range(2, 8):
        if n < (1 << (total * 5 + 1 if total < 7 else 36)):
            w.write((0xFF << (8 - total)) & 0xFF | (n >> (6 * (total - 1))), 8)
            for i in range(total - 2, -1, -1):
                w.write(0x80 | ((n >> (6 * i)) & 0x3F), 8)
            return
    raise FlacFormatError("frame number too large")


def _read_utf8_number(r: _Reader) -> int:
    b0 = r.read(8)
    if b0 < 0x80:
        return b0
    total = 0
    mask = 0x80
    while b0 & mask:
        total += 1
        mask >>= 1
    if total < 2 or total > 7:
        raise FlacFormatError("bad UTF-8 coded number")
    n = b0 & (0x7F >> total)
    for _ in range(total - 1):
        b = r.read(8)
        if b >> 6 != 0b10:
            raise FlacFormatError("bad UTF-8 continuation")
        n = (n << 6) | (b & 0x3F)
    return n


_FIXED_COEFS = {0: [], 1: [1], 2: [2, -1], 3: [3, -3, 1], 4: [4, -6, 4, -1]}


def _zigzag(v: int) -> int:
    return (v << 1) if v >= 0 else ((-v << 1) - 1)


def _unzigzag(u: int) -> int:
    return (u >> 1) if not (u & 1) else -((u + 1) >> 1)


# ----------------------------------------------------------------- encode

def flac_encode(
    samples,
    sample_rate: int = 16000,
    subframe: str = "fixed",
    channel_mode: str = "independent",
    block_size: int = 4096,
) -> bytes:
    """Encode an (n_frames[, n_channels]) int16 array → FLAC bytes.

    ``subframe``: "verbatim" (raw samples) or "fixed" (best fixed
    predictor of order 0–2 per block, rice-coded residual; constant
    blocks collapse to CONSTANT subframes). ``channel_mode`` for stereo:
    independent / left_side / right_side / mid_side — each exercises the
    corresponding decoder reconstruction."""
    import numpy as np

    arr = np.asarray(samples, dtype=np.int64)
    if arr.ndim == 1:
        arr = arr[:, None]
    n_total, n_ch = arr.shape
    if not (1 <= n_ch <= 8):
        raise FlacFormatError(f"{n_ch} channels unsupported")
    if channel_mode != "independent" and n_ch != 2:
        raise FlacFormatError("stereo decorrelation needs exactly 2 channels")
    bps = 16

    def encode_sub(w: _Writer, sig: list[int], bits: int) -> None:
        n = len(sig)
        if subframe == "verbatim" or n <= 4:
            if len(set(sig)) == 1:
                w.write(0, 1); w.write(0, 6); w.write(0, 1)  # CONSTANT
                w.write_signed(sig[0], bits)
                return
            w.write(0, 1); w.write(1, 6); w.write(0, 1)  # VERBATIM
            for s in sig:
                w.write_signed(s, bits)
            return
        if len(set(sig)) == 1:
            w.write(0, 1); w.write(0, 6); w.write(0, 1)
            w.write_signed(sig[0], bits)
            return
        # pick the fixed order 0-2 with the smallest |residual| sum
        best_o, best_res, best_cost = 0, None, None
        for o in (0, 1, 2):
            coefs = _FIXED_COEFS[o]
            res = [
                sig[i] - sum(c * sig[i - 1 - j] for j, c in enumerate(coefs))
                for i in range(o, n)
            ]
            cost = sum(abs(e) for e in res)
            if best_cost is None or cost < best_cost:
                best_o, best_res, best_cost = o, res, cost
        o, res = best_o, best_res
        w.write(0, 1); w.write(8 | o, 6); w.write(0, 1)  # FIXED order o
        for s in sig[:o]:
            w.write_signed(s, bits)  # warm-up
        # one rice partition (order 0), method 0 (4-bit parameter)
        mean = max(1, sum(_zigzag(e) for e in res) // max(1, len(res)))
        param = min(14, max(0, mean.bit_length() - 1))
        w.write(0, 2)   # residual method 0
        w.write(0, 4)   # partition order 0
        w.write(param, 4)
        for e in res:
            u = _zigzag(e)
            w.write_unary(u >> param)
            if param:
                w.write(u & ((1 << param) - 1), param)

    out = bytearray(b"fLaC")
    si = _Writer()
    si.write(block_size, 16); si.write(block_size, 16)
    si.write(0, 24); si.write(0, 24)
    si.write(sample_rate, 20); si.write(n_ch - 1, 3); si.write(bps - 1, 5)
    si.write(n_total, 36)
    streaminfo = bytes(si.out) + b"\x00" * 16  # md5 unset (all zero = unknown)
    out += bytes([0x80]) + struct.pack(">I", len(streaminfo))[1:] + streaminfo

    assign = {"independent": None, "left_side": 8, "right_side": 9, "mid_side": 10}[
        channel_mode
    ]
    for fi, start in enumerate(range(0, n_total, block_size)):
        blk = arr[start : start + block_size]
        n = len(blk)
        w = _Writer()
        w.write(0b11111111111110, 14)
        w.write(0, 1)   # reserved
        w.write(0, 1)   # fixed blocking
        w.write(0b0111, 4)  # block size: 16-bit follows
        w.write(0b0000, 4)  # sample rate: from STREAMINFO
        w.write(assign if assign is not None else n_ch - 1, 4)
        w.write(0b100, 3)   # 16 bits per sample
        w.write(0, 1)
        _utf8_number(w, fi)
        w.write(n - 1, 16)
        hdr = bytes(w.out)
        w.write(_crc8(hdr), 8)

        if assign is None:
            chans = [(blk[:, c].tolist(), bps) for c in range(n_ch)]
        else:
            left = blk[:, 0]
            right = blk[:, 1]
            side = (left - right).tolist()
            if assign == 8:    # left/side
                chans = [(left.tolist(), bps), (side, bps + 1)]
            elif assign == 9:  # right/side
                chans = [(side, bps + 1), (right.tolist(), bps)]
            else:              # mid/side
                mid = ((left + right) >> 1).tolist()
                chans = [(mid, bps), (side, bps + 1)]
        for sig, bits in chans:
            encode_sub(w, sig, bits)
        w.align()
        frame = bytes(w.out)
        out += frame + struct.pack(">H", _crc16(frame))
    return bytes(out)


# ----------------------------------------------------------------- decode

def flac_decode(payload: bytes):
    """Decode a FLAC stream → ``(samples, sample_rate)`` with ``samples``
    an (n_frames, n_channels) int array. Verifies frame CRC-16s."""
    import numpy as np

    if payload[:4] != b"fLaC":
        raise FlacFormatError("not FLAC: bad magic")
    pos = 4
    streaminfo = None
    while True:
        if pos + 4 > len(payload):
            raise FlacFormatError("truncated metadata")
        hdr = payload[pos]
        last = bool(hdr & 0x80)
        btype = hdr & 0x7F
        (ln,) = struct.unpack(">I", b"\x00" + payload[pos + 1 : pos + 4])
        body = payload[pos + 4 : pos + 4 + ln]
        if len(body) != ln:
            raise FlacFormatError("truncated metadata block")
        if btype == 0:
            r = _Reader(body)
            r.read(16); r.read(16); r.read(24); r.read(24)
            sample_rate = r.read(20)
            n_ch = r.read(3) + 1
            bps = r.read(5) + 1
            n_total = r.read(36)
            streaminfo = (sample_rate, n_ch, bps, n_total)
        pos += 4 + ln
        if last:
            break
    if streaminfo is None:
        raise FlacFormatError("no STREAMINFO")
    sample_rate, n_ch, bps, n_total = streaminfo

    def read_subframe(r: _Reader, n: int, bits: int) -> list[int]:
        if r.read(1):
            raise FlacFormatError("bad subframe padding bit")
        stype = r.read(6)
        wasted = 0
        if r.read(1):
            wasted = 1 + r.read_unary()
            bits -= wasted
        if stype == 0:      # CONSTANT
            sig = [r.read_signed(bits)] * n
        elif stype == 1:    # VERBATIM
            sig = [r.read_signed(bits) for _ in range(n)]
        elif 8 <= stype <= 12 or stype >= 32:
            if stype >= 32:
                order = stype - 31
                warm = [r.read_signed(bits) for _ in range(order)]
                prec = r.read(4) + 1
                if prec == 16:
                    raise FlacFormatError("invalid LPC precision")
                shift = r.read_signed(5)
                coefs = [r.read_signed(prec) for _ in range(order)]
            else:
                order = stype - 8
                warm = [r.read_signed(bits) for _ in range(order)]
                coefs = [c << 0 for c in _FIXED_COEFS[order]]
                prec, shift = None, 0
            # residual
            method = r.read(2)
            if method > 1:
                raise FlacFormatError("reserved residual method")
            pbits = 4 if method == 0 else 5
            escape = (1 << pbits) - 1
            porder = r.read(4)
            nparts = 1 << porder
            if n % nparts:
                raise FlacFormatError("block size not divisible by partitions")
            res: list[int] = []
            for p in range(nparts):
                cnt = n // nparts - (order if p == 0 else 0)
                param = r.read(pbits)
                if param == escape:
                    raw = r.read(5)
                    res.extend(r.read_signed(raw) if raw else 0 for _ in range(cnt))
                else:
                    for _ in range(cnt):
                        q = r.read_unary()
                        u = (q << param) | (r.read(param) if param else 0)
                        res.append(_unzigzag(u))
            sig = list(warm)
            if stype >= 32:
                for e in res:
                    pred = sum(c * sig[-1 - j] for j, c in enumerate(coefs)) >> shift
                    sig.append(pred + e)
            else:
                for e in res:
                    pred = sum(c * sig[-1 - j] for j, c in enumerate(coefs))
                    sig.append(pred + e)
        else:
            raise FlacFormatError(f"reserved subframe type {stype}")
        if wasted:
            sig = [s << wasted for s in sig]
        return sig

    out: list[list[int]] = []
    pos_bits = pos * 8
    got = 0
    while got < n_total:
        r = _Reader(payload)
        r.pos = pos_bits
        frame_start = r.pos // 8
        if r.read(14) != 0b11111111111110:
            raise FlacFormatError("lost frame sync")
        r.read(1)
        r.read(1)  # blocking strategy
        bs_code = r.read(4)
        sr_code = r.read(4)
        assign = r.read(4)
        ss_code = r.read(3)
        r.read(1)
        _read_utf8_number(r)
        if bs_code == 0b0110:
            n = r.read(8) + 1
        elif bs_code == 0b0111:
            n = r.read(16) + 1
        elif bs_code == 0b0001:
            n = 192
        elif 0b0010 <= bs_code <= 0b0101:
            n = 576 << (bs_code - 2)
        elif bs_code >= 0b1000:
            n = 256 << (bs_code - 8)
        else:
            raise FlacFormatError("reserved block size code")
        if sr_code == 0b1100:
            r.read(8)
        elif sr_code in (0b1101, 0b1110):
            r.read(16)
        elif sr_code == 0b1111:
            raise FlacFormatError("invalid sample rate code")
        fbps = {0: bps, 1: 8, 2: 12, 4: 16, 5: 20, 6: 24, 7: 32}.get(ss_code)
        if fbps is None:
            raise FlacFormatError("reserved sample size code")
        hdr_bytes = payload[frame_start : r.pos // 8]
        if _crc8(hdr_bytes) != r.read(8):
            raise FlacFormatError("frame header CRC-8 mismatch")

        if assign <= 7:
            chans = [read_subframe(r, n, fbps) for _ in range(assign + 1)]
        elif assign == 8:    # left/side
            left = read_subframe(r, n, fbps)
            side = read_subframe(r, n, fbps + 1)
            chans = [left, [l - s for l, s in zip(left, side)]]
        elif assign == 9:    # right/side
            side = read_subframe(r, n, fbps + 1)
            right = read_subframe(r, n, fbps)
            chans = [[rr + s for rr, s in zip(right, side)], right]
        elif assign == 10:   # mid/side
            mid = read_subframe(r, n, fbps)
            side = read_subframe(r, n, fbps + 1)
            chans = [[], []]
            for m, s in zip(mid, side):
                m2 = (m << 1) | (s & 1)
                chans[0].append((m2 + s) >> 1)
                chans[1].append((m2 - s) >> 1)
        else:
            raise FlacFormatError(f"reserved channel assignment {assign}")
        r.align()
        body = payload[frame_start : r.pos // 8]
        crc = r.read(16)
        if _crc16(body) != crc:
            raise FlacFormatError("frame CRC-16 mismatch")
        out.append(chans)
        got += n
        pos_bits = r.pos

    sig = np.concatenate(
        [np.asarray(chans, dtype=np.int64).T for chans in out], axis=0
    )[:n_total]
    return sig, sample_rate
