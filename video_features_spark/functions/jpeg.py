"""Pure-numpy JPEG codec (ITU-T T.81): baseline AND progressive decode.

Closes the no-PIL gap the reference never has (it shells out to cv2/ffmpeg,
``/root/reference/utils/io.py:109-154``): real-world ``.jpg`` payloads decode
here with zero native dependencies. Decoder handles baseline SOF0/SOF1
(interleaved or one-scan-per-component) and progressive SOF2 streams:
multi-table DQT/DHT, chroma subsampling (any h×v factors up to 2×2),
restart markers, byte unstuffing, grayscale and 3-component YCbCr; for SOF2
the full Annex G repertoire — spectral selection, successive approximation,
DC/AC refinement scans, EOB runs (verified against a real libjpeg-authored
progressive file). Encoders: a minimal 4:4:4 baseline writer and a
progressive writer (libjpeg-shaped scan script) used for roundtrip
validation and fixtures — progressive and baseline encodings of the same
image decode bit-identically, the self-contained correctness check.

Implemented from the public spec (marker structure T.81 §B, Huffman decode
procedure §F.2.2, progressive procedures Annex G, DCT Annex A, standard
tables Annex K). Per-image cost is a Python Huffman bit loop (~0.1 s for
224² — the documented fallback path; PIL is auto-preferred by
``codec.decode_image`` when installed).
"""

from __future__ import annotations

import struct

import numpy as np

# Decode-side sanity cap on header-claimed dimensions. A corrupt/adversarial
# SOF claiming 65535x65535 would otherwise drive a multi-GB plane allocation
# per quarantined row BEFORE any entropy-data error surfaces — on a shared
# executor several such rows can OOM-kill the process instead of raising the
# Exception the per-row quarantine expects. 100 MP is far above any sane
# training image while keeping worst-case transient planes ~400 MB.
MAX_DECODE_PIXELS = 100_000_000

# zigzag scan order (T.81 Figure A.6): index i holds the raster position of
# the i-th zigzagged coefficient
ZIGZAG = np.array([
     0,  1,  8, 16,  9,  2,  3, 10,
    17, 24, 32, 25, 18, 11,  4,  5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13,  6,  7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int32)

# Annex K.1 standard quantization tables (luminance, chrominance)
STD_LUM_QT = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int32)
STD_CHR_QT = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int32)

# Annex K.3 standard Huffman tables: (BITS counts per code length 1..16, values)
DC_LUM = ([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
          list(range(12)))
DC_CHR = ([0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
          list(range(12)))
AC_LUM = ([0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D], [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
    0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
    0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
    0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
    0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA])
AC_CHR = ([0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77], [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12, 0x41,
    0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15, 0x62, 0x72, 0xD1,
    0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44,
    0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74,
    0x75, 0x76, 0x77, 0x78, 0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A,
    0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
    0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA])

# orthonormal 8x8 DCT-II basis: FDCT F = C @ f @ C.T, IDCT f = C.T @ F @ C
_C = np.zeros((8, 8))
for _k in range(8):
    _a = np.sqrt(0.125) if _k == 0 else np.sqrt(0.25)
    for _n in range(8):
        _C[_k, _n] = _a * np.cos((2 * _n + 1) * _k * np.pi / 16.0)


class _HuffTable:
    """Canonical Huffman table with a 16-bit peek LUT: every possible 16-bit
    window maps to a fused (length << 8 | symbol) entry in one list read,
    replacing the bit-at-a-time MINCODE/MAXCODE walk of T.81 §F.2.2.3 (same
    canonical code assignment — the LUT is just its closed form). Instances
    are memoized on the (bits, values) spec via ``for_spec``: rebuilding the
    64K LUT cost ~10 ms per image, and real encoders reuse the Annex K
    tables across whole corpora."""

    _memo: "dict[tuple, _HuffTable]" = {}

    @classmethod
    def for_spec(cls, bits: list[int], values: list[int]) -> "_HuffTable":
        key = (tuple(bits), tuple(values))
        t = cls._memo.get(key)
        if t is None:
            if len(cls._memo) > 64:  # decoder tables are few; bound anyway
                cls._memo.clear()
            t = cls._memo[key] = cls(bits, values)
        return t

    def __init__(self, bits: list[int], values: list[int]):
        self.values = values
        # one fused entry per window: (length << 8) | symbol, as a plain
        # Python list — numpy scalar indexing in the per-symbol hot loop
        # costs more than the Huffman walk it replaces
        lut = np.zeros(1 << 16, np.int32)
        code, k = 0, 0
        for length in range(1, 17):
            for _ in range(bits[length - 1]):
                lo = code << (16 - length)
                hi = (code + 1) << (16 - length)
                lut[lo:hi] = (length << 8) | values[k]
                code += 1
                k += 1
            code <<= 1
        self.lut = lut.tolist()


class _BitReader:
    """MSB-first bit reader over unstuffed entropy bytes. Reads past the end
    see 1-padding (T.81 §B.1.1.5 pad bits); consuming beyond the final pad
    byte raises the corrupt-stream error the row quarantine expects."""

    def __init__(self, data: bytes):
        self.data = data
        # 4 pad bytes make every peek a fixed-width slice (no length checks
        # in the hot loop); 0xFF mimics the spec's 1-bit padding
        self.pad = data + b"\xff\xff\xff\xff"
        self.nbits = len(data) * 8
        self.bit_pos = 0

    def _peek32(self) -> int:
        byte = self.bit_pos >> 3
        return int.from_bytes(self.pad[byte : byte + 4], "big")

    def read_bit(self) -> int:
        if self.bit_pos >= self.nbits:
            raise ValueError("corrupt JPEG: entropy data exhausted")
        b = self.data[self.bit_pos >> 3]
        v = (b >> (7 - (self.bit_pos & 7))) & 1
        self.bit_pos += 1
        return v

    def read_bits(self, n: int) -> int:
        if n == 0:
            return 0
        if self.bit_pos + n > self.nbits:
            raise ValueError("corrupt JPEG: entropy data exhausted")
        off = self.bit_pos & 7
        v = (self._peek32() >> (32 - off - n)) & ((1 << n) - 1)
        self.bit_pos += n
        return v

    def receive_extend(self, t: int) -> int:
        """RECEIVE + EXTEND fused (T.81 §F.2.2.1): read t magnitude bits and
        map to the signed coefficient — one peek for the entropy loop's most
        frequent companion call."""
        if t == 0:
            return 0
        v = self.read_bits(t)
        return v - (1 << t) + 1 if v < (1 << (t - 1)) else v

    def decode_huff(self, table: _HuffTable) -> int:
        pos = self.bit_pos
        if pos >= self.nbits:
            raise ValueError("corrupt JPEG: entropy data exhausted")
        byte = pos >> 3
        window = (
            int.from_bytes(self.pad[byte : byte + 3], "big") >> (8 - (pos & 7))
        ) & 0xFFFF
        entry = table.lut[window]
        if entry == 0:
            raise ValueError("corrupt JPEG: invalid huffman code")
        length = entry >> 8
        if pos + length > self.nbits:
            # pad bits are real bytes in `data`, so a legal code never ends
            # past them
            raise ValueError("corrupt JPEG: entropy data exhausted")
        self.bit_pos = pos + length
        return entry & 0xFF


def _extend(v: int, t: int) -> int:
    """T.81 §F.2.2.1: map the t magnitude bits to a signed coefficient."""
    return v - (1 << t) + 1 if t and v < (1 << (t - 1)) else v


def decode_jpeg(data: bytes) -> np.ndarray:
    """JPEG bytes → uint8 H×W×3 RGB (grayscale replicated).

    Handles baseline SOF0/SOF1 (interleaved or one-scan-per-component) AND
    progressive SOF2 (T.81 Annex G: spectral selection, successive
    approximation, DC/AC refinement scans, EOB runs, restart markers). The
    multi-scan design accumulates quantized coefficients per component and
    reconstructs once at EOI with a batched IDCT."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], _HuffTable] = {}  # (class 0=DC/1=AC, id)
    restart_interval = 0
    frame = None
    coefs: "list[np.ndarray] | None" = None
    pos = 2
    while pos < len(data):
        if data[pos] != 0xFF:
            pos += 1
            continue
        marker = data[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            break
        if marker in (0x01,) or 0xD0 <= marker <= 0xD8:
            continue
        (seglen,) = struct.unpack(">H", data[pos : pos + 2])
        seg = data[pos + 2 : pos + seglen]
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(seg):
                prec, tid = seg[i] >> 4, seg[i] & 0xF
                i += 1
                if prec:
                    tbl = np.frombuffer(seg[i : i + 128], dtype=">u2").astype(np.int32)
                    i += 128
                else:
                    tbl = np.frombuffer(seg[i : i + 64], dtype=np.uint8).astype(np.int32)
                    i += 64
                qt[tid] = tbl
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(seg):
                cls, tid = seg[i] >> 4, seg[i] & 0xF
                bits = list(seg[i + 1 : i + 17])
                n = sum(bits)
                vals = list(seg[i + 17 : i + 17 + n])
                huff[(cls, tid)] = _HuffTable.for_spec(bits, vals)
                i += 17 + n
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 baseline, SOF2 progressive
            h, w = struct.unpack(">HH", seg[1:5])
            if not h or not w or h * w > MAX_DECODE_PIXELS:
                raise ValueError(f"corrupt JPEG: implausible dimensions {w}x{h}")
            ncomp = seg[5]
            comps = []
            for c in range(ncomp):
                cid, hv, tq = seg[6 + 3 * c : 9 + 3 * c]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 0xF, "tq": tq})
            frame = {"h": h, "w": w, "comps": comps, "progressive": marker == 0xC2}
            hmax = max(c["h"] for c in comps)
            vmax = max(c["v"] for c in comps)
            frame["hmax"], frame["vmax"] = hmax, vmax
            frame["mcux"] = (w + 8 * hmax - 1) // (8 * hmax)
            frame["mcuy"] = (h + 8 * vmax - 1) // (8 * vmax)
            # per-component quantized coefficients, zigzag order, filled by
            # one scan (baseline) or accumulated across scans (progressive)
            coefs = [
                np.zeros((frame["mcuy"] * c["v"], frame["mcux"] * c["h"], 64), np.int32)
                for c in comps
            ]
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(
                f"unsupported JPEG frame type SOF{marker - 0xC0} "
                f"(lossless/arithmetic/hierarchical)"
            )
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", seg[:2])
        elif marker == 0xDA:  # SOS — entropy data follows
            if frame is None or coefs is None:
                raise ValueError("corrupt JPEG: SOS before SOF")
            ns = seg[0]
            scan_sel = []
            for c in range(ns):
                cs, tables = seg[1 + 2 * c : 3 + 2 * c]
                scan_sel.append({"cs": cs, "dc": tables >> 4, "ac": tables & 0xF})
            ss, se, a = seg[1 + 2 * ns : 4 + 2 * ns]
            ah, al = a >> 4, a & 0xF
            pos = _run_scan(
                data, pos + seglen, frame, scan_sel, (ss, se, ah, al),
                huff, coefs, restart_interval,
            )
            continue
        pos += seglen
    if frame is None or coefs is None:
        raise ValueError("corrupt JPEG: no SOS marker")
    return _reconstruct(frame, coefs, qt)


def _entropy_segments(data: bytes, start: int) -> tuple[list[bytes], int]:
    """Split one scan's entropy data at restart markers, unstuffing FF00 →
    FF. Returns the segments and the offset where the scan ended (the 0xFF
    of the terminating marker, or EOF). Hops between 0xFF positions with
    ``bytes.find`` and unstuffs whole segments with ``bytes.replace`` — both
    C loops; the former byte-at-a-time Python walk was ~25% of a small
    image's decode time."""
    segs = []
    n = len(data)
    seg_start = i = start

    def close(end: int) -> None:
        segs.append(data[seg_start:end].replace(b"\xff\x00", b"\xff"))

    while True:
        j = data.find(b"\xff", i)
        if j == -1:
            close(n)
            return segs, n
        if j + 1 >= n:  # trailing FF at EOF: treat as scan end
            close(j)
            return segs, j
        nxt = data[j + 1]
        if nxt == 0x00:
            i = j + 2
            continue
        if 0xD0 <= nxt <= 0xD7:  # RSTn
            close(j)
            seg_start = i = j + 2
            continue
        close(j)  # any other marker ends the scan (EOI, next SOS, ...)
        return segs, j


def _baseline_block(reader, dct_t, act_t, coef, ci, dc_pred):
    """Sequential block: DC diff + AC run-lengths into zigzag ``coef``.
    The reader state is localized and the peek/LUT/extend steps are inlined:
    this loop runs once per (symbol, coefficient) of every baseline image —
    ~3 function calls per symbol otherwise, which profiling showed to be
    the decode's dominant cost after the batched IDCT."""
    pad = reader.pad
    nbits = reader.nbits
    pos = reader.bit_pos
    dlut = dct_t.lut
    alut = act_t.lut
    frm = int.from_bytes
    # ---- DC
    if pos >= nbits:
        raise ValueError("corrupt JPEG: entropy data exhausted")
    b = pos >> 3
    entry = dlut[(frm(pad[b : b + 3], "big") >> (8 - (pos & 7))) & 0xFFFF]
    if entry == 0:
        raise ValueError("corrupt JPEG: invalid huffman code")
    pos += entry >> 8
    t = entry & 0xFF
    if pos + t > nbits:
        raise ValueError("corrupt JPEG: entropy data exhausted")
    if t:
        b = pos >> 3
        v = (frm(pad[b : b + 4], "big") >> (32 - (pos & 7) - t)) & ((1 << t) - 1)
        pos += t
        if v < 1 << (t - 1):
            v += 1 - (1 << t)
        dc_pred[ci] += v
    coef[0] = dc_pred[ci]
    # ---- AC
    k = 1
    while k < 64:
        if pos >= nbits:
            raise ValueError("corrupt JPEG: entropy data exhausted")
        b = pos >> 3
        entry = alut[(frm(pad[b : b + 3], "big") >> (8 - (pos & 7))) & 0xFFFF]
        if entry == 0:
            raise ValueError("corrupt JPEG: invalid huffman code")
        pos += entry >> 8
        rs = entry & 0xFF
        size = rs & 0xF
        if size == 0:
            if rs == 0xF0:  # ZRL: 16 zeros
                k += 16
                continue
            break  # EOB
        k += rs >> 4
        if k > 63:
            raise ValueError("corrupt JPEG: AC index overflow")
        if pos + size > nbits:
            raise ValueError("corrupt JPEG: entropy data exhausted")
        b = pos >> 3
        v = (frm(pad[b : b + 4], "big") >> (32 - (pos & 7) - size)) & ((1 << size) - 1)
        pos += size
        if v < 1 << (size - 1):
            v += 1 - (1 << size)
        coef[k] = v
        k += 1
    if pos > nbits:
        raise ValueError("corrupt JPEG: entropy data exhausted")
    reader.bit_pos = pos


def _ac_first_block(reader, act_t, coef, ss, se, al, eobrun):
    """Progressive AC initial scan for one block (T.81 §G.2, EOB runs)."""
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        rs = reader.decode_huff(act_t)
        r, size = rs >> 4, rs & 0xF
        if size == 0:
            if r == 15:
                k += 16
                continue
            eobrun = (1 << r) - 1  # this block ends; r encodes the EOB run
            if r:
                eobrun += reader.read_bits(r)
            break
        k += r
        if k > se:
            raise ValueError("corrupt JPEG: AC index beyond band end")
        coef[k] = _extend(reader.read_bits(size), size) << al
        k += 1
    return eobrun


def _ac_refine_block(reader, act_t, coef, ss, se, al, eobrun):
    """Progressive AC refinement for one block (T.81 §G.1.2.3 decode side):
    newly-significant coefficients arrive as ±1<<al; every already-nonzero
    coefficient in the band consumes a correction bit."""
    p1 = 1 << al
    k = ss
    if eobrun == 0:
        while k <= se:
            rs = reader.decode_huff(act_t)
            r, size = rs >> 4, rs & 0xF
            newval = 0
            if size == 0:
                if r != 15:
                    eobrun = 1 << r
                    if r:
                        eobrun += reader.read_bits(r)
                    break
                # ZRL: skip 16 zero-history coefficients (r == 15 counts 15
                # decrements + the terminating zero-history position below)
            else:
                if size != 1:
                    raise ValueError("corrupt JPEG: AC refinement size != 1")
                newval = p1 if reader.read_bit() else -p1
            while k <= se:
                c = int(coef[k])
                if c:
                    # two's-complement check like libjpeg (r6 advice): agrees
                    # with abs() on every valid stream, diverges only on
                    # corrupt data
                    if reader.read_bit() and not (c & p1):
                        coef[k] = c + (p1 if c > 0 else -p1)
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if size and k <= se:
                coef[k] = newval
            k += 1
    if eobrun > 0:
        # remainder of the band: correction bits only
        while k <= se:
            c = int(coef[k])
            if c and reader.read_bit() and not (c & p1):
                coef[k] = c + (p1 if c > 0 else -p1)
            k += 1
        eobrun -= 1
    return eobrun


def _run_scan(data, start, frame, scan_sel, band, huff, coefs, restart_interval):
    """Decode ONE scan's entropy data into the per-component coefficient
    arrays; returns the stream offset where the scan ended. Handles
    interleaved (ns>1) MCU order and non-interleaved (ns==1) per-component
    block raster order — the latter is how baseline one-scan-per-component
    files AND all progressive AC scans are laid out."""
    ss, se, ah, al = band
    comps = frame["comps"]
    progressive = frame["progressive"]
    sel = {s["cs"]: s for s in scan_sel}
    in_scan = [(ci, c) for ci, c in enumerate(comps) if c["id"] in sel]
    if len(in_scan) != len(scan_sel):
        raise ValueError("corrupt JPEG: scan references unknown component")
    segs, end = _entropy_segments(data, start)
    reader = _BitReader(segs[0])
    seg_idx = 0
    dc_pred = [0] * len(comps)
    eobrun = 0

    def block_units():
        """Yield (ci, comp, by, bx) in scan order."""
        if len(in_scan) > 1:  # interleaved: MCU raster, h×v blocks per comp
            for m in range(frame["mcux"] * frame["mcuy"]):
                my, mx = divmod(m, frame["mcux"])
                for ci, comp in in_scan:
                    for by in range(comp["v"]):
                        for bx in range(comp["h"]):
                            yield ci, comp, my * comp["v"] + by, mx * comp["h"] + bx
        else:  # non-interleaved: the component's own (unpadded) block raster
            ci, comp = in_scan[0]
            cw = (frame["w"] * comp["h"] + frame["hmax"] - 1) // frame["hmax"]
            ch = (frame["h"] * comp["v"] + frame["vmax"] - 1) // frame["vmax"]
            for by in range((ch + 7) // 8):
                for bx in range((cw + 7) // 8):
                    yield ci, comp, by, bx

    # restart counting is per MCU: one MCU = one block unit when ns==1, else
    # the full component set
    units_per_mcu = (
        sum(c["h"] * c["v"] for _, c in in_scan) if len(in_scan) > 1 else 1
    )
    unit_idx = 0
    for ci, comp, by, bx in block_units():
        if (
            restart_interval
            and unit_idx
            and unit_idx % (restart_interval * units_per_mcu) == 0
        ):
            seg_idx += 1
            if seg_idx >= len(segs):
                raise ValueError("corrupt JPEG: missing restart segment")
            reader = _BitReader(segs[seg_idx])
            dc_pred = [0] * len(comps)
            eobrun = 0
        unit_idx += 1
        s = sel[comp["id"]]
        coef = coefs[ci][by, bx]
        if not progressive:
            _baseline_block(
                reader, huff[(0, s["dc"])], huff[(1, s["ac"])], coef, ci, dc_pred
            )
        elif ss == 0 and ah == 0:  # DC initial (Al-shifted diffs)
            t = reader.decode_huff(huff[(0, s["dc"])])
            dc_pred[ci] += reader.receive_extend(t)
            coef[0] = dc_pred[ci] << al
        elif ss == 0:  # DC refinement: one bit per block
            if reader.read_bit():
                coef[0] = int(coef[0]) | (1 << al)
        elif ah == 0:  # AC initial
            eobrun = _ac_first_block(
                reader, huff[(1, s["ac"])], coef, ss, se, al, eobrun
            )
        else:  # AC refinement
            eobrun = _ac_refine_block(
                reader, huff[(1, s["ac"])], coef, ss, se, al, eobrun
            )
    return end


def _reconstruct(frame, coefs, qt):
    """Dequantize + batched IDCT + upsample + color-convert, once per image."""
    h, w, comps = frame["h"], frame["w"], frame["comps"]
    hmax, vmax = frame["hmax"], frame["vmax"]
    full = []
    for ci, comp in enumerate(comps):
        if comp["tq"] not in qt:
            raise ValueError("corrupt JPEG: missing quantization table")
        dq = qt[comp["tq"]].astype(np.float32)
        zz = coefs[ci].astype(np.float32) * dq  # (bY, bX, 64) zigzag order
        by, bx = zz.shape[:2]
        blocks = np.zeros((by, bx, 64), np.float32)
        blocks[..., ZIGZAG] = zz  # scatter zigzag → raster
        f = blocks.reshape(by, bx, 8, 8)
        # IDCT: f = C.T @ F @ C, batched over every block at once — matmul
        # broadcasting beats the einsum/tensordot path ~20-50x on (..,8,8)
        pix = _C.T @ f @ _C + 128.0
        p = pix.transpose(0, 2, 1, 3).reshape(by * 8, bx * 8)
        ry, rx = vmax // comp["v"], hmax // comp["h"]
        if ry > 1 or rx > 1:
            p = np.repeat(np.repeat(p, ry, axis=0), rx, axis=1)
        full.append(p[:h, :w])
    if len(full) == 1:
        y = np.clip(full[0], 0, 255).astype(np.uint8)
        return np.stack([y, y, y], axis=-1)
    y, cb, cr = full[0], full[1] - 128.0, full[2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return np.clip(np.stack([r, g, b], axis=-1), 0, 255).astype(np.uint8)


# ---------------------------------------------------------------------------
# Minimal baseline encoder (4:4:4, Annex K tables, libjpeg quality scaling)
# ---------------------------------------------------------------------------


def _scaled_qt(base: np.ndarray, quality: int) -> np.ndarray:
    quality = min(max(quality, 1), 100)
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    return np.clip((base * scale + 50) // 100, 1, 255).astype(np.int32)


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, length: int) -> None:
        self.acc = (self.acc << length) | (value & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            b = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)  # byte stuffing
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> None:
        # pad to a byte boundary with 1-bits (T.81 §B.1.1.5)
        while self.nbits % 8:
            self.write(1, 1)


def _huff_codes(bits: list[int], values: list[int]) -> dict[int, tuple[int, int]]:
    codes, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[values[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


def _category(v: int) -> int:
    return int(v).bit_length() if v > 0 else int(-v).bit_length()


def _quantized_blocks(img: np.ndarray, quality: int):
    """RGB → per-component zigzag-quantized coefficient arrays (bY, bX, 64)
    plus the two scaled quantization tables: colour conversion, edge
    padding, FDCT and quantization for both encoders (4:4:4)."""
    h, w = img.shape[:2]
    rgb = img.astype(np.float32)
    y = 0.299 * rgb[..., 0] + 0.587 * rgb[..., 1] + 0.114 * rgb[..., 2]
    cb = -0.168736 * rgb[..., 0] - 0.331264 * rgb[..., 1] + 0.5 * rgb[..., 2] + 128.0
    cr = 0.5 * rgb[..., 0] - 0.418688 * rgb[..., 1] - 0.081312 * rgb[..., 2] + 128.0
    qly = _scaled_qt(STD_LUM_QT, quality)
    qlc = _scaled_qt(STD_CHR_QT, quality)
    ph, pw = (h + 7) // 8 * 8, (w + 7) // 8 * 8
    out = []
    for ci, p in enumerate((y, cb, cr)):
        pad = np.empty((ph, pw), np.float32)
        pad[:h, :w] = p
        pad[h:, :w] = p[h - 1 : h, :]
        pad[:, w:] = pad[:, w - 1 : w]
        pad -= 128.0
        f = pad.reshape(ph // 8, 8, pw // 8, 8).transpose(0, 2, 1, 3)
        coefs = _C @ f @ _C.T  # FDCT batched over every block
        qtab = (qly if ci == 0 else qlc).astype(np.float32)  # raster order
        q = np.round(coefs.reshape(ph // 8, pw // 8, 64) / qtab).astype(np.int32)
        out.append(q[..., ZIGZAG])  # raster → zigzag (zz[i] = q[ZIGZAG[i]])
    return out, qly, qlc


def _header(sof: int, h: int, w: int, qly: np.ndarray, qlc: np.ndarray) -> bytearray:
    """SOI, both DQTs, the SOFn frame header (three 1x1-sampled components)
    and the four Annex K DHTs — everything before the first scan, for the
    baseline (SOF0) and the progressive (SOF2) encoder."""
    out = bytearray(b"\xff\xd8")  # SOI
    for tid, tbl in ((0, qly), (1, qlc)):
        out += b"\xff\xdb" + struct.pack(">H", 67) + bytes([tid]) + bytes(
            int(tbl[z]) for z in ZIGZAG
        )
    out += bytes([0xFF, sof]) + struct.pack(">HBHHB", 17, 8, h, w, 3)
    for cid, tq in ((1, 0), (2, 1), (3, 1)):
        out += bytes([cid, 0x11, tq])  # 1x1 sampling (4:4:4)
    for cls, tid, (bits, vals) in (
        (0, 0, DC_LUM), (1, 0, AC_LUM), (0, 1, DC_CHR), (1, 1, AC_CHR)
    ):
        out += b"\xff\xc4" + struct.pack(">H", 19 + len(vals)) + bytes(
            [(cls << 4) | tid] + bits + vals
        )
    return out


def _put(wtr: _BitWriter, codes: dict, run: int, v: int) -> None:
    """Huffman symbol ``run << 4 | size`` then the size-bit magnitude of
    ``v`` (T.81 F.1.2; a DC difference is run 0)."""
    size = _category(v)
    code, ln = codes[(run << 4) | size]
    wtr.write(code, ln)
    if size:
        wtr.write(v if v >= 0 else v + (1 << size) - 1, size)


def encode_jpeg(img: np.ndarray, quality: int = 92, restart_interval: int = 0) -> bytes:
    """uint8 H×W×3 RGB → baseline JPEG bytes (4:4:4, standard tables).
    ``restart_interval`` > 0 emits a DRI segment and RSTn markers every that
    many MCUs (resync points a splitting decoder can parallelize on)."""
    h, w = img.shape[:2]
    comps, qly, qlc = _quantized_blocks(img, quality)
    out = _header(0xC0, h, w, qly, qlc)
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    out += b"\xff\xda" + struct.pack(">HB", 12, 3)
    for cid, tsel in ((1, 0x00), (2, 0x11), (3, 0x11)):
        out += bytes([cid, tsel])
    out += bytes([0, 63, 0])
    dc_codes = [_huff_codes(*DC_LUM), _huff_codes(*DC_CHR)]
    ac_codes = [_huff_codes(*AC_LUM), _huff_codes(*AC_CHR)]
    wtr = _BitWriter()
    dc_pred = [0, 0, 0]
    n_mcuy, n_mcux = comps[0].shape[:2]
    rst = 0
    for m in range(n_mcuy * n_mcux):
        my, mx = divmod(m, n_mcux)
        if restart_interval and m and m % restart_interval == 0:
            wtr.flush()
            out += wtr.out
            wtr = _BitWriter()
            out += bytes([0xFF, 0xD0 + rst])
            rst = (rst + 1) % 8
            dc_pred = [0, 0, 0]
        for ci, comp in enumerate(comps):
            tid = 0 if ci == 0 else 1
            zz = comp[my, mx]
            _put(wtr, dc_codes[tid], 0, int(zz[0]) - dc_pred[ci])
            dc_pred[ci] = int(zz[0])
            run = 0
            for k in range(1, 64):
                v = int(zz[k])
                if v == 0:
                    run += 1
                    continue
                while run > 15:
                    code, ln = ac_codes[tid][0xF0]
                    wtr.write(code, ln)
                    run -= 16
                _put(wtr, ac_codes[tid], run, v)
                run = 0
            if run:
                code, ln = ac_codes[tid][0x00]
                wtr.write(code, ln)
    wtr.flush()
    out += wtr.out
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# ---------------------------------------------------------------------------
# Progressive encoder (spectral selection + successive approximation) — the
# fixture source for the progressive decode path: no imaging library in the
# minimal container can author SOF2 streams, so the codec writes its own,
# using libjpeg's default scan script shape (T.81 Annex G encode procedures).
# ---------------------------------------------------------------------------

# (component_indices, Ss, Se, Ah, Al) — DC approx first, luma AC in two
# bands at Al=2, chroma AC at Al=1, then one AC refinement level per
# component and the DC refinement: every §G decode path gets exercised.
PROGRESSIVE_SCRIPT = [
    ((0, 1, 2), 0, 0, 0, 1),
    ((0,), 1, 5, 0, 2),
    ((2,), 1, 63, 0, 1),
    ((1,), 1, 63, 0, 1),
    ((0,), 6, 63, 0, 2),
    ((0,), 1, 63, 2, 1),
    ((0, 1, 2), 0, 0, 1, 0),
    ((2,), 1, 63, 1, 0),
    ((1,), 1, 63, 1, 0),
    ((0,), 1, 63, 1, 0),
]


class _EOBState:
    """Pending end-of-band blocks (+ their buffered correction bits) for one
    AC scan. The standard Annex K AC tables carry only EOB0 (symbol 0x00) —
    EOBn for n>0 needs custom-optimized tables à la libjpeg — so each folded
    block flushes as its own EOB0 + that block's correction bits, which is
    spec-legal (an EOB run of 1 per block). The decoder still handles real
    EOBn>0 runs from optimized-table encoders."""

    def __init__(self, wtr, codes):
        self.wtr, self.codes = wtr, codes
        self.blocks: list[list[int]] = []

    def add_block(self, bits: list[int]) -> None:
        self.blocks.append(bits)

    def flush(self) -> None:
        for bits in self.blocks:
            code, ln = self.codes[0x00]
            self.wtr.write(code, ln)
            for b in bits:
                self.wtr.write(b, 1)
        self.blocks = []


def encode_progressive_jpeg(
    img: np.ndarray, quality: int = 92, script=None
) -> bytes:
    """uint8 H×W×3 RGB → progressive (SOF2) JPEG, 4:4:4, standard tables.
    Emits spectral-selection bands under successive approximation per
    ``PROGRESSIVE_SCRIPT`` (override via ``script``); decodes identically to
    the baseline encoding of the same image (same quantized coefficients)."""
    h, w = img.shape[:2]
    comps, qly, qlc = _quantized_blocks(img, quality)
    out = _header(0xC2, h, w, qly, qlc)
    dc_codes = [_huff_codes(*DC_LUM), _huff_codes(*DC_CHR)]
    ac_codes = [_huff_codes(*AC_LUM), _huff_codes(*AC_CHR)]
    for cis, ss, se, ah, al in (script or PROGRESSIVE_SCRIPT):
        out += b"\xff\xda" + struct.pack(">HB", 6 + 2 * len(cis), len(cis))
        for ci in cis:
            tid = 0 if ci == 0 else 1
            out += bytes([ci + 1, (tid << 4) | tid])
        out += bytes([ss, se, (ah << 4) | al])
        wtr = _BitWriter()
        if ss == 0 and ah == 0:  # DC initial (interleaved over cis)
            dc_pred = [0] * 3
            by, bx = comps[0].shape[:2]
            for m in range(by * bx):
                yy, xx = divmod(m, bx)
                for ci in cis:
                    v = int(comps[ci][yy, xx, 0]) >> al  # arithmetic shift
                    _put(wtr, dc_codes[0 if ci == 0 else 1], 0, v - dc_pred[ci])
                    dc_pred[ci] = v
        elif ss == 0:  # DC refinement: bit Al of every block, MCU order
            by, bx = comps[0].shape[:2]
            for m in range(by * bx):
                yy, xx = divmod(m, bx)
                for ci in cis:
                    wtr.write((int(comps[ci][yy, xx, 0]) >> al) & 1, 1)
        elif ah == 0:  # AC initial for one component
            (ci,) = cis
            codes = ac_codes[0 if ci == 0 else 1]
            eob = _EOBState(wtr, codes)
            for blk in comps[ci].reshape(-1, 64):
                run = 0
                for k in range(ss, se + 1):
                    v = int(blk[k])
                    mag = abs(v) >> al
                    if mag == 0:
                        run += 1
                        continue
                    eob.flush()
                    while run > 15:
                        code, ln = codes[0xF0]
                        wtr.write(code, ln)
                        run -= 16
                    _put(wtr, codes, run, mag if v > 0 else -mag)
                    run = 0
                if run:
                    eob.add_block([])
            eob.flush()
        else:  # AC refinement for one component (T.81 §G.1.2.3)
            # The emitter mirrors the decoder's advance-walk EXACTLY: every
            # correction bit lands in the stream at the position the decoder's
            # walk will read it (within a ZRL's 16-zero stretch, between a
            # significance symbol's sign bit and its placement, or in the
            # EOB-run tail) — the subtle part of Annex G that interop bugs
            # live in.
            (ci,) = cis
            codes = ac_codes[0 if ci == 0 else 1]
            eob = _EOBState(wtr, codes)
            for blk in comps[ci].reshape(-1, 64):
                n = se - ss + 1
                mags = [abs(int(blk[ss + i])) >> al for i in range(n)]
                i = 0
                while i < n:
                    # scan ahead to the next newly-significant coefficient,
                    # counting zero-history positions (mag 0) along the way
                    j, r = i, 0
                    while j < n and mags[j] != 1:
                        if mags[j] == 0:
                            r += 1
                        j += 1
                    if j == n:  # no more new coefs: remainder folds into EOB
                        tail = [mags[t] & 1 for t in range(i, n) if mags[t] > 1]
                        if r > 0 or tail:
                            eob.add_block(tail)
                        break
                    while r > 15:  # each ZRL consumes exactly 16 zeros,
                        eob.flush()  # with its stretch's correction bits
                        code, ln = codes[0xF0]
                        wtr.write(code, ln)
                        zeros = 0
                        while zeros < 16:
                            if mags[i] == 0:
                                zeros += 1
                            elif mags[i] > 1:
                                wtr.write(mags[i] & 1, 1)
                            i += 1
                        r -= 16
                    eob.flush()
                    code, ln = codes[(r << 4) | 1]
                    wtr.write(code, ln)
                    wtr.write(1 if int(blk[ss + j]) > 0 else 0, 1)
                    while i < j:  # correction bits up to the placement
                        if mags[i] > 1:
                            wtr.write(mags[i] & 1, 1)
                        i += 1
                    i = j + 1
            eob.flush()
        wtr.flush()
        out += wtr.out
    out += b"\xff\xd9"
    return bytes(out)
