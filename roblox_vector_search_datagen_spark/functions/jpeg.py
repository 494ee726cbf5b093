"""Minimal vendored baseline JPEG decoder (public spec: ITU-T T.81
/ ISO 10918-1). Exists so the JPEG arm of the multimodal decode stage
(`operators/multimodal.py:_real_pixels`) is executable — and therefore
testable — in a container that ships no codec libraries, the same role
`functions/png.py` plays for PNG. The reference stores PNG icons
(reference downloadImages.ts:70-72), so this arm is beyond-reference:
a real multimodal training corpus is mostly JPEG, and without this the
format gate counted JPEGs (media_inventory.n_jpeg) but stub-decoded
them.

Scope: baseline sequential DCT (SOF0), 8-bit, Huffman coding, 1-4
components, any sampling factors up to 4, restart intervals. The
decode stage only consumes LUMINANCE (the stats the feature extractor
emits are over the grayscale image), and JPEG stores Y'CbCr with Y
already the ITU-R 601 luma — so only the Y component is inverse-
transformed; chroma blocks are entropy-decoded solely to keep the
bitstream in sync, then discarded. That skips the IDCT+upsample work
for 2 of 3 components with zero loss for this consumer.

Raises ValueError on anything that is not a supported baseline JPEG
(progressive/SOF2, arithmetic coding, 12-bit, truncated streams) —
the same error contract as decode_png_luminance.

Dependencies: stdlib plus numpy (a baked-in repo dependency) for the
8x8 DCT matrix kernels. The r11 profile moved the entropy decode to a
cached 16-bit-prefix Huffman LUT and the block transforms to two
matmuls — the vendored-codec constant factor the r10 verdict carried
as a standing cost note is ~5x smaller now (see COVERAGE.md r11).
"""

from __future__ import annotations

import math
import struct

import numpy as _np  # baked-in dependency; used only for the 8x8 DCT kernels

# Zig-zag order: index i of the coefficient stream -> raster position
# in the 8x8 block (public spec, T.81 Figure 5).
ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]

# Separable 2-D IDCT basis: _COS[u][x] = C(u)/2 * cos((2x+1) u pi / 16),
# precomputed once; decode does two 8x8 matrix passes per block.
_COS = [
    [
        (math.sqrt(0.5) if u == 0 else 1.0) / 2.0 * math.cos((2 * x + 1) * u * math.pi / 16.0)
        for x in range(8)
    ]
    for u in range(8)
]


# numpy views of the IDCT basis for the two-matmul block transforms
_COS_NP = _np.array(_COS, dtype=_np.float64)
_COS_NP_T = _COS_NP.T.copy()


class _HuffTable:
    """Canonical Huffman table from a DHT segment (T.81 Annex C),
    materialized as a full 16-bit-prefix LUT: lut[next 16 bits of the
    stream] = (symbol, code length), with non-code prefixes marked
    (-1, 0). One lookup per symbol replaces the bit-at-a-time walk
    that dominated the decode profile (r11); tables are cached by
    (counts, symbols) in `_huff_table`, so the 64 Ki build cost is
    paid once per distinct table, not once per image."""

    def __init__(self, counts: list[int], symbols: bytes) -> None:
        self.lookup: dict[tuple[int, int], int] = {}
        lut = [(-1, 0)] * (1 << 16)
        code = 0
        k = 0
        for length in range(1, 17):
            for _ in range(counts[length - 1]):
                # canonical code space check: `code` must fit in
                # `length` bits, or the LUT write below walks past
                # 2^16 (a DHT with counts=[3,0,...] claims three
                # 1-bit codes) — ValueError, not IndexError, per the
                # module's decode contract
                if code >= (1 << length):
                    raise ValueError("JPEG Huffman counts overflow the code space")
                sym = symbols[k]
                self.lookup[(length, code)] = sym
                base = code << (16 - length)
                entry = (sym, length)
                for i in range(1 << (16 - length)):
                    lut[base + i] = entry
                code += 1
                k += 1
            code <<= 1
        self.lut = lut


_HUFF_CACHE: dict[tuple[bytes, bytes], _HuffTable] = {}


def _huff_table(counts: list[int], symbols: bytes) -> _HuffTable:
    """Cached _HuffTable factory: real corpora reuse a handful of
    table layouts across millions of blobs, so the LUT build cost
    amortizes to zero per image. Bounded by distinct layouts seen in
    a session (a few entries in practice)."""
    key = (bytes(counts), bytes(symbols))
    t = _HUFF_CACHE.get(key)
    if t is None:
        t = _HUFF_CACHE[key] = _HuffTable(counts, symbols)
    return t


class _BitReader:
    """MSB-first bit reader over entropy-coded data with 0xFF00 byte
    stuffing removal; RSTn markers are handled by the caller (the
    reader stops at any non-stuffing marker). Bits are buffered in a
    MASKED int (the r11 profile found the unmasked accumulator growing
    by 8 bits per fill for the stream's whole life, making every shift
    O(stream)); refills pull whole bytes best-effort up to the request
    and the error classification (truncated vs marker) happens at the
    consumption site, preserving the original per-bit reader's error
    contract."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.bits = 0
        self.nbits = 0

    def _fill_to(self, n: int) -> None:
        """Buffer at least n bits if the entropy stream allows; stops
        silently at a real marker or end-of-data (callers classify)."""
        d = self.data
        p = self.pos
        end = len(d)
        bits = self.bits
        nb = self.nbits
        while nb < n and p < end:
            b = d[p]
            if b == 0xFF:
                if p + 1 < end and d[p + 1] == 0x00:  # stuffed data byte
                    p += 2
                else:  # a real marker: entropy data ends here
                    break
            else:
                p += 1
            bits = (bits << 8) | b
            nb += 8
        self.pos = p
        self.bits = bits
        self.nbits = nb

    def _starved(self) -> ValueError:
        if self.pos >= len(self.data):
            return ValueError("truncated JPEG entropy stream")
        return ValueError("marker inside JPEG entropy stream")

    def read_bit(self) -> int:
        return self.read_bits(1)

    def read_bits(self, n: int) -> int:
        nb = self.nbits
        if nb < n:
            self._fill_to(n)
            nb = self.nbits
            if nb < n:
                raise self._starved()
        nb -= n
        v = (self.bits >> nb) & ((1 << n) - 1)
        self.nbits = nb
        self.bits &= (1 << nb) - 1
        return v

    def decode_symbol(self, table: _HuffTable) -> int:
        nb = self.nbits
        if nb < 16:
            self._fill_to(16)
            nb = self.nbits
        if nb >= 16:
            key = (self.bits >> (nb - 16)) & 0xFFFF
        elif nb > 0:
            # near the end of the stream: pad with zeros — a match of
            # length <= nb used only real bits (prefix-free code)
            key = (self.bits << (16 - nb)) & 0xFFFF
        else:
            raise self._starved()
        sym, length = table.lut[key]
        if sym < 0:
            raise ValueError("invalid JPEG Huffman code")
        if length > nb:
            raise self._starved()
        nb -= length
        self.nbits = nb
        self.bits &= (1 << nb) - 1
        return sym

    def align_to_marker(self) -> None:
        """Drop partial bits and step past an expected RSTn marker."""
        self.bits = 0
        self.nbits = 0
        d = self.data
        # skip fill bytes (0xFF) up to the marker id
        while self.pos + 1 < len(d) and d[self.pos] == 0xFF and d[self.pos + 1] == 0xFF:
            self.pos += 1
        if self.pos + 1 >= len(d) or d[self.pos] != 0xFF or not (
            0xD0 <= d[self.pos + 1] <= 0xD7
        ):
            raise ValueError("expected JPEG restart marker")
        self.pos += 2


def _receive_extend(reader: _BitReader, s: int) -> int:
    """DIFF/AC magnitude decoding (T.81 F.2.2.1): read s bits, map the
    low half of the range to negative values."""
    if s == 0:
        return 0
    v = reader.read_bits(s)
    if v < (1 << (s - 1)):
        v -= (1 << s) - 1
    return v


def _decode_block(reader, dc_tab, ac_tab, quant, pred, want_pixels):
    """Entropy-decode one 8x8 block. Returns (new_dc_pred, pixels or
    None): chroma callers pass want_pixels=False and pay no dequant /
    IDCT cost — the stream still has to be consumed to stay in sync."""
    t = reader.decode_symbol(dc_tab)
    diff = _receive_extend(reader, t)
    dc = pred + diff
    coef = [0] * 64
    coef[0] = dc * quant[0] if want_pixels else 0
    k = 1
    while k < 64:
        rs = reader.decode_symbol(ac_tab)
        r, s = rs >> 4, rs & 0x0F
        if s == 0:
            if r == 15:  # ZRL: 16 zeros
                k += 16
                continue
            break  # EOB
        k += r
        if k > 63:
            raise ValueError("JPEG AC run past end of block")
        v = _receive_extend(reader, s)
        if want_pixels:
            # quant was de-zigzagged to raster order at DQT parse time,
            # so both sides index by the raster position ZIGZAG[k]
            coef[ZIGZAG[k]] = v * quant[ZIGZAG[k]]
        k += 1
    if not want_pixels:
        return dc, None
    # separable IDCT as two 8x8 matrix products (numpy): rows then
    # columns — P = C^T (K C), identical summand products to the old
    # per-pixel loops, half-even rounding preserved by np.rint.
    # Returned as an 8x8 uint8 array (values already clipped to 0-255)
    # so the caller can blit it into the numpy sample plane directly.
    k = _np.array(coef, dtype=_np.float64).reshape(8, 8)
    p = _COS_NP_T @ (k @ _COS_NP)
    return dc, _np.clip(_np.rint(p) + 128, 0, 255).astype(_np.uint8)


def decode_jpeg_luminance(data: bytes) -> tuple[int, int, list[list[int]]]:
    """Decode a baseline JPEG blob to (width, height, luminance rows),
    luminance as 0-255 ints (the Y' component, which IS the ITU-R 601
    luma the PNG arm computes from RGB). Raises ValueError on anything
    that is not a supported baseline JPEG."""
    if data[:3] != b"\xff\xd8\xff":
        raise ValueError("not a JPEG")
    pos = 2
    quant: dict[int, list[int]] = {}
    huff_dc: dict[int, _HuffTable] = {}
    huff_ac: dict[int, _HuffTable] = {}
    frame = None  # (width, height, components)
    restart_interval = 0
    n = len(data)
    while pos + 4 <= n:
        if data[pos] != 0xFF:
            raise ValueError("bad JPEG marker alignment")
        marker = data[pos + 1]
        if marker == 0xD9:  # EOI before SOS
            break
        (seglen,) = struct.unpack(">H", data[pos + 2 : pos + 4])
        body = data[pos + 2 + 2 : pos + 2 + seglen]
        if len(body) != seglen - 2:
            raise ValueError("truncated JPEG segment")
        if marker == 0xC0:  # SOF0: baseline DCT
            if len(body) < 6:
                raise ValueError("short JPEG SOF segment")
            precision, height, width, ncomp = struct.unpack(">BHHB", body[:6])
            if len(body) < 6 + 3 * ncomp:
                raise ValueError("short JPEG SOF component list")
            if precision != 8:
                raise ValueError(f"unsupported JPEG precision {precision}")
            comps = []
            for i in range(ncomp):
                cid, sampling, tq = body[6 + 3 * i : 9 + 3 * i]
                comps.append({"id": cid, "h": sampling >> 4, "v": sampling & 0x0F, "tq": tq})
            frame = (width, height, comps)
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(f"unsupported JPEG frame type SOF{marker - 0xC0}")
        elif marker == 0xC4:  # DHT (possibly several tables per segment)
            off = 0
            while off < len(body):
                if len(body) < off + 17:
                    raise ValueError("short JPEG DHT segment")
                tc_th = body[off]
                counts = list(body[off + 1 : off + 17])
                nsym = sum(counts)
                symbols = body[off + 17 : off + 17 + nsym]
                if len(symbols) != nsym:
                    # counts promise more symbols than the segment
                    # carries — raise the documented contract error, not
                    # an IndexError from inside the table build
                    raise ValueError("JPEG DHT counts exceed supplied symbols")
                table = _huff_table(counts, symbols)
                if tc_th >> 4 == 0:
                    huff_dc[tc_th & 0x0F] = table
                else:
                    huff_ac[tc_th & 0x0F] = table
                off += 17 + nsym
        elif marker == 0xDB:  # DQT (8-bit tables only)
            off = 0
            while off < len(body):
                if len(body) < off + 65:
                    raise ValueError("short JPEG DQT segment")
                pq_tq = body[off]
                if pq_tq >> 4 != 0:
                    raise ValueError("unsupported 16-bit JPEG quant table")
                zz = list(body[off + 1 : off + 65])
                table = [0] * 64
                for i, q in enumerate(zz):
                    table[ZIGZAG[i]] = q
                quant[pq_tq & 0x0F] = table
                off += 65
        elif marker == 0xDD:  # DRI
            if len(body) < 2:
                raise ValueError("short JPEG DRI segment")
            (restart_interval,) = struct.unpack(">H", body[:2])
        elif marker == 0xDA:  # SOS: entropy-coded data follows
            if frame is None:
                raise ValueError("JPEG SOS before SOF")
            if not body:
                raise ValueError("short JPEG SOS segment")
            ns = body[0]
            if len(body) < 1 + 2 * ns:
                raise ValueError("short JPEG SOS component list")
            scan = []
            for i in range(ns):
                cs, tables_ = body[1 + 2 * i : 3 + 2 * i]
                scan.append((cs, tables_ >> 4, tables_ & 0x0F))
            return _decode_scan(
                data, pos + 2 + seglen, frame, scan, quant, huff_dc, huff_ac, restart_interval
            )
        pos += 2 + seglen
    raise ValueError("no JPEG scan data")


def _decode_scan(data, pos, frame, scan, quant, huff_dc, huff_ac, restart_interval):
    width, height, comps = frame
    by_id = {c["id"]: c for c in comps}
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = (width + 8 * hmax - 1) // (8 * hmax)
    mcuy = (height + 8 * vmax - 1) // (8 * vmax)
    # luminance = the first scan component (Y in Y'CbCr, the only
    # component in grayscale)
    luma_id = scan[0][0]
    luma = by_id[luma_id]
    lw, lv = luma["h"], luma["v"]
    # Y sample plane, padded to whole MCUs; cropped to (width, height)
    # at the end (numpy: blocks blit in as 8x8 slices, the crop /
    # sample-replication below is integer indexing — exact)
    pw, ph = mcux * 8 * lw, mcuy * 8 * lv
    plane = _np.zeros((ph, pw), dtype=_np.uint8)
    reader = _BitReader(data, pos)
    preds = {cs: 0 for cs, _, _ in scan}
    mcu_index = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_index and mcu_index % restart_interval == 0:
                reader.align_to_marker()
                preds = {cs: 0 for cs, _, _ in scan}
            for cs, td, ta in scan:
                comp = by_id[cs]
                want = cs == luma_id
                q = quant.get(comp["tq"])
                if q is None or td not in huff_dc or ta not in huff_ac:
                    raise ValueError("JPEG scan references missing table")
                for by in range(comp["v"]):
                    for bx in range(comp["h"]):
                        preds[cs], pixels = _decode_block(
                            reader, huff_dc[td], huff_ac[ta], q, preds[cs], want
                        )
                        if pixels is not None:
                            y0 = (my * comp["v"] + by) * 8
                            x0 = (mx * comp["h"] + bx) * 8
                            plane[y0 : y0 + 8, x0 : x0 + 8] = pixels
            mcu_index += 1
    # the luma plane's natural resolution: full-frame when the Y
    # component carries the max sampling factors (the universal case),
    # scaled otherwise — replicate samples up to frame size so callers
    # always get (width, height). Same y//sy, x//sx indexing as the old
    # per-pixel loop, done as one integer gather.
    sx, sy = hmax // lw, vmax // lv
    if sx == 1 and sy == 1:
        return width, height, plane[:height, :width].tolist()
    yi = _np.arange(height) // sy
    xi = _np.arange(width) // sx
    return width, height, plane[yi[:, None], xi[None, :]].tolist()


# ---------------------------------------------------------------------------
# Fixture encoder — the decoder's test twin, same role encode_png_gray
# plays in functions/png.py: produce a genuinely decodable blob in a
# container that ships no codec libraries. Not used by any operator.
# ---------------------------------------------------------------------------

# Encoder Huffman layout (valid canonical tables, deliberately simple —
# NOT the Annex K defaults): DC categories 0-11 all at code length 4;
# AC symbols (EOB, ZRL, then every run/size) all at code length 8.
_ENC_DC_COUNTS = [0, 0, 0, 12] + [0] * 12
_ENC_DC_SYMBOLS = bytes(range(12))
_ENC_AC_SYMBOLS = bytes(
    [0x00, 0xF0] + [(r << 4) | s for r in range(16) for s in range(1, 11)]
)
_ENC_AC_COUNTS = [0, 0, 0, 0, 0, 0, 0, len(_ENC_AC_SYMBOLS)] + [0] * 8


def _enc_codes(counts: list[int], symbols: bytes) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) for a canonical table (inverse of
    _HuffTable's view)."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            out[symbols[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.bits = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.bits = (self.bits << length) | code
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            b = (self.bits >> self.nbits) & 0xFF
            self.out.append(b)
            if b == 0xFF:  # byte stuffing
                self.out.append(0x00)

    def flush(self) -> None:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # 1-fill per spec


def _fdct_quant(block, quant: list[int]) -> list[int]:
    """Forward DCT (exact inverse of the decoder's _COS basis, which is
    orthonormal) + quantize; returns 64 raster-order coefficients.
    Two 8x8 matrix products (numpy) — M = C S C^T — replacing the
    O(64*64) per-block Python loop nest (r11 profile). `block` is an
    8x8 list-of-lists or ndarray."""
    s = _np.asarray(block, dtype=_np.float64) - 128.0
    m = _COS_NP @ s @ _COS_NP_T
    q = _np.array(quant, dtype=_np.float64).reshape(8, 8)
    return _np.rint(m / q).astype(_np.int64).ravel().tolist()


def _encode_block(writer, coef, pred, dc_codes, ac_codes) -> int:
    """Huffman-encode one quantized block (raster order in, zigzag
    out); returns the new DC predictor."""
    dc = coef[0]
    diff = dc - pred
    s = diff.bit_length() if diff else 0
    code, length = dc_codes[s]
    writer.write(code, length)
    if s:
        writer.write(diff if diff > 0 else diff + (1 << s) - 1, s)
    zz = [coef[ZIGZAG[k]] for k in range(64)]
    run = 0
    last_nz = max((k for k in range(1, 64) if zz[k]), default=0)
    for k in range(1, last_nz + 1):
        v = zz[k]
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, length = ac_codes[0xF0]  # ZRL
            writer.write(code, length)
            run -= 16
        s = abs(v).bit_length()
        code, length = ac_codes[(run << 4) | s]
        writer.write(code, length)
        writer.write(v if v > 0 else v + (1 << s) - 1, s)
        run = 0
    if last_nz < 63:
        code, length = ac_codes[0x00]  # EOB
        writer.write(code, length)
    return dc


def _edge_padded(rows: list[list[int]], mult: int) -> "_np.ndarray":
    """The image as an int array edge-replicated up to multiples of
    `mult`, so the encoders slice whole 8x8 blocks out of one array.
    np.pad(mode='edge') repeats the last row/column: a block past the
    image bounds reads pixel (min(y, h-1), min(x, w-1)), the JPEG
    edge-replication rule."""
    a = _np.asarray(rows, dtype=_np.int64)
    h, w = a.shape
    ph = (h + mult - 1) // mult * mult
    pw = (w + mult - 1) // mult * mult
    if ph == h and pw == w:
        return a
    return _np.pad(a, ((0, ph - h), (0, pw - w)), mode="edge")


def _segments(quant: list[int], width: int, height: int, comps: list[tuple[int, int, int]],
              restart_interval: int) -> bytearray:
    """Header segments shared by both encoders: SOI DQT DHT* [DRI] SOF0
    SOS-header. comps = [(id, h, v), ...], all on quant/huffman table 0."""
    out = bytearray(b"\xff\xd8")
    zz = bytes(quant[ZIGZAG[i]] for i in range(64))
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + zz
    dht = bytes(_ENC_DC_COUNTS[:16]) + _ENC_DC_SYMBOLS
    out += b"\xff\xc4" + struct.pack(">H", 2 + 1 + len(dht)) + b"\x00" + dht
    aht = bytes(_ENC_AC_COUNTS[:16]) + _ENC_AC_SYMBOLS
    out += b"\xff\xc4" + struct.pack(">H", 2 + 1 + len(aht)) + b"\x10" + aht
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    sof = struct.pack(">BHHB", 8, height, width, len(comps))
    for cid, ch, cv in comps:
        sof += bytes([cid, (ch << 4) | cv, 0])
    out += b"\xff\xc0" + struct.pack(">H", 2 + len(sof)) + sof
    sos = bytes([len(comps)])
    for cid, _, _ in comps:
        sos += bytes([cid, 0x00])
    sos += b"\x00\x3f\x00"
    out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos
    return out


def encode_jpeg_gray(
    rows: list[list[int]], quant: list[int] | None = None, restart_interval: int = 0
) -> bytes:
    """Baseline grayscale JPEG encoder (test-fixture builder). quant is
    a raster-order 64-entry table (default all-ones = max fidelity);
    lossy exactly where JPEG is lossy (DCT rounding), so tests compare
    against an independent reference decode, not against `rows`."""
    quant = quant or [1] * 64
    height, width = len(rows), len(rows[0])
    out = _segments(quant, width, height, [(1, 1, 1)], restart_interval)
    dc_codes = _enc_codes(_ENC_DC_COUNTS, _ENC_DC_SYMBOLS)
    ac_codes = _enc_codes(_ENC_AC_COUNTS, _ENC_AC_SYMBOLS)
    writer = _BitWriter()
    pred = 0
    mcu_index = 0
    padded = _edge_padded(rows, 8)
    for y0 in range(0, height, 8):
        for x0 in range(0, width, 8):
            if restart_interval and mcu_index and mcu_index % restart_interval == 0:
                writer.flush()
                out += writer.out
                out += bytes([0xFF, 0xD0 + ((mcu_index // restart_interval - 1) % 8)])
                writer = _BitWriter()
                pred = 0
            coef = _fdct_quant(padded[y0 : y0 + 8, x0 : x0 + 8], quant)
            pred = _encode_block(writer, coef, pred, dc_codes, ac_codes)
            mcu_index += 1
    writer.flush()
    out += writer.out
    out += b"\xff\xd9"
    return bytes(out)


def encode_jpeg_color420_flat_chroma(rows: list[list[int]]) -> bytes:
    """3-component 4:2:0 JPEG whose Y plane is `rows` and whose chroma
    is flat 128 (zero coefficients) — exercises the decoder's
    chroma-block bitstream-sync path (entropy-decode, skip IDCT)."""
    quant = [1] * 64
    height, width = len(rows), len(rows[0])
    out = _segments(quant, width, height, [(1, 2, 2), (2, 1, 1), (3, 1, 1)], 0)
    dc_codes = _enc_codes(_ENC_DC_COUNTS, _ENC_DC_SYMBOLS)
    ac_codes = _enc_codes(_ENC_AC_COUNTS, _ENC_AC_SYMBOLS)
    writer = _BitWriter()
    preds = {1: 0, 2: 0, 3: 0}
    zero = [0] * 64
    padded = _edge_padded(rows, 16)
    for my in range(0, (height + 15) // 16):
        for mx in range(0, (width + 15) // 16):
            for by in range(2):
                for bx in range(2):
                    y0, x0 = my * 16 + by * 8, mx * 16 + bx * 8
                    coef = _fdct_quant(padded[y0 : y0 + 8, x0 : x0 + 8], quant)
                    preds[1] = _encode_block(writer, coef, preds[1], dc_codes, ac_codes)
            for cid in (2, 3):  # flat chroma: DC diff 0, EOB
                preds[cid] = _encode_block(writer, zero, preds[cid], dc_codes, ac_codes)
    writer.flush()
    out += writer.out
    out += b"\xff\xd9"
    return bytes(out)
