"""Sequential + progressive JPEG codec, pure stdlib + numpy
(ITU-T T.81).

One decoder, ``decode_jpeg``, serves every supported frame type — the
pixel path the multimodal tier calls: canonical Huffman tables rebuilt
from the DHT segments (Annex C), byte unstuffing (B.1.1.5), the scan
loop (a sequential frame's one interleaved scan is the Ss=0, Se=63,
Ah=Al=0 case of the progressive model), dequantization, inverse
zigzag, 2-D IDCT (A.3.3), level shift + clamp, and libjpeg-style
fixed-point YCbCr->RGB (BT.601 constants scaled by 2^16).
``decode_jpeg_baseline`` and ``decode_jpeg_progressive`` are the same
decoder restricted to one frame family. One marker walker,
``jpeg_segments``, serves the decoder and the scan-free header tier
(multimodal.jpeg_meta / jpeg_exif), and one segment writer,
``jpeg_segment``, serves every encoder. The matching encoders
``encode_jpeg_baseline`` / ``encode_jpeg_progressive`` perform the
forward pipeline (level shift, FDCT, quantize, Huffman encode, byte
stuffing) so the repo can stage REAL scans for the decode tier's
fixtures without PIL in the container.

Reference parity note: the reference repo (MapReduceGo) has no media
tier at all; this belongs to the 100 TB training-data north star
(multimodal columns as binary + real decode kernels behind
mapInPandas — see functions/multimodal.py for the Spark-side
plumbing and SURVEY.md §2).

Scope (loud, like decode_png's): baseline DCT (SOF0) and extended
sequential (SOF1, r13: identical Huffman-sequential decode at 8-bit
— SOF1's only extensions are 12-bit precision, still refused, and
table ids 2..3, which the DHT walk already keys on), 8-bit
precision, 1 component at 1x1 or 3 components with any sampling
factors in {1, 2} — which covers 4:4:4 (1x1 everywhere), 4:2:0
(luma 2x2, the dominant real-world encoding; r10 verdict item 2),
and 4:2:2 (luma 2x1) with one interleaved-MCU walk (A.2.3).
Chroma is upsampled by sample replication (the nearest-neighbor
reconstruction JFIF permits). Restart intervals (DRI/RSTn, E.2.4)
are supported in both directions: byte-aligned modulo-8 marker
sequence with DC-predictor resets, out-of-sequence or missing RSTs
failing loudly. Progressive (SOF2) is supported in both directions
too — spectral selection + successive approximation per Annex G.
A sequential frame's one scan must cover every component. 12-bit,
sampling factors > 2, hierarchical/lossless frames, or
arithmetic-coded streams raise NotImplementedError; structurally
broken streams raise ValueError.

Determinism contract for the oracle fixtures: a constant 8x8 block
level-shifts to a constant, whose float FDCT is EXACTLY DC-only up
to ~1e-12 (rounds to 0 in every AC slot), and with quantization
step 1 for the DC term (the all-ones table below == libjpeg quality
100) the quantized DC is 8*(v-128) exactly. The IDCT of a DC-only
block is F(0,0)/8 — a power-of-two scale with float error ~2 ulp —
so decode reproduces the constant EXACTLY after rounding. That is
what lets the DuckDB oracle reconstruct per-pixel RGB with pure
BIGINT arithmetic (registry ORACLES["multimodal_jpeg_decode"]).
"""

from __future__ import annotations

import struct

import numpy as np

# ---------------------------------------------------------------- tables

# Zigzag order (T.81 Figure A.6): ZIGZAG[k] = (row, col) of the k-th
# coefficient in the entropy stream.
ZIGZAG = [
    (0, 0), (0, 1), (1, 0), (2, 0), (1, 1), (0, 2), (0, 3), (1, 2),
    (2, 1), (3, 0), (4, 0), (3, 1), (2, 2), (1, 3), (0, 4), (0, 5),
    (1, 4), (2, 3), (3, 2), (4, 1), (5, 0), (6, 0), (5, 1), (4, 2),
    (3, 3), (2, 4), (1, 5), (0, 6), (0, 7), (1, 6), (2, 5), (3, 4),
    (4, 3), (5, 2), (6, 1), (7, 0), (7, 1), (6, 2), (5, 3), (4, 4),
    (3, 5), (2, 6), (1, 7), (2, 7), (3, 6), (4, 5), (5, 4), (6, 3),
    (7, 2), (7, 3), (6, 4), (5, 5), (4, 6), (3, 7), (4, 7), (5, 6),
    (6, 5), (7, 4), (7, 5), (6, 6), (5, 7), (6, 7), (7, 6), (7, 7),
]

# Flat quantization table — exactly what libjpeg emits at quality
# 100. DC step 1 is load-bearing for the fixture exactness contract.
QUANT_FLAT = [1] * 64

# DC Huffman table, T.81 Annex K.3 (the standard luminance DC
# table): BITS[i] codes of length i+1, values = categories 0..11.
DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_VALS = list(range(12))

# AC Huffman table: a spec-valid canonical table defined here rather
# than Annex K.5 (DHT is self-describing, so ANY conforming decoder
# rebuilds it from the file; the decoder below likewise handles
# arbitrary DHT tables, Annex K included). Symbols: EOB at 1 bit,
# then every (run 0..15, size 1..10) plus ZRL — 161 symbols — at 9
# bits. Kraft sum 1/2 + 161/512 < 1 and the largest assigned code
# 0b110100000 is not all-ones (B.2.4.2's reserved pattern).
AC_VALS = [0x00] + sorted(
    [r << 4 | s for r in range(16) for s in range(1, 11)] + [0xF0]
)
AC_BITS = [1, 0, 0, 0, 0, 0, 0, 0, len(AC_VALS) - 1, 0, 0, 0, 0, 0, 0, 0]

# Progressive AC table: Annex G scans additionally need the EOBn
# symbols (run << 4, size 0) for run 1..14 — EOB runs longer than one
# block (G.1.2.2). EOB (0x00) keeps the 1-bit code; the other 175
# symbols (every run/size, ZRL, EOBn) sit at 9 bits. Kraft sum
# 1/2 + 175/512 < 1 and the largest 9-bit code 256+174 = 430 is not
# all-ones (B.2.4.2). The decoder rebuilds whatever DHT ships, so
# this table only has to be spec-valid, not standard.
PROG_AC_VALS = [0x00] + sorted(
    [r << 4 | s for r in range(16) for s in range(1, 11)]
    + [r << 4 for r in range(1, 16)]
)
PROG_AC_BITS = [1, 0, 0, 0, 0, 0, 0, 0, len(PROG_AC_VALS) - 1,
                0, 0, 0, 0, 0, 0, 0]

# Flat de-zigzag index: coeff.flat[_ZZ_FLAT[k]] = seq[k] (r10 verdict
# item 5 — one fancy-index store instead of a 64-iteration loop).
_ZZ_FLAT = np.array([r * 8 + c for r, c in ZIGZAG])

# 1-D DCT-II basis (T.81 A.3.3): BASIS[u, x] = C(u)/2 * cos((2x+1)u pi/16)
_BASIS = np.array(
    [
        [
            (np.sqrt(0.5) if u == 0 else 1.0)
            * 0.5
            * np.cos((2 * x + 1) * u * np.pi / 16)
            for x in range(8)
        ]
        for u in range(8)
    ]
)

# libjpeg-style fixed-point BT.601 inverse color transform constants
# (scaled by 2^16, rounded): R = Y + 1.402 Cr', G = Y - 0.344136 Cb'
# - 0.714136 Cr', B = Y + 1.772 Cb' with Cb' = Cb-128, Cr' = Cr-128.
_FIX_R_CR = 91881
_FIX_G_CB = 22554
_FIX_G_CR = 46802
_FIX_B_CB = 116130


def ycbcr_to_rgb_int(y: int, cb: int, cr: int) -> tuple[int, int, int]:
    """Integer-exact inverse color transform — the SAME arithmetic
    the DuckDB oracle performs in BIGINT (floor shifts; the fixtures
    keep Cb,Cr >= 128 so every shifted quantity is nonnegative and
    floor == truncate across engines)."""
    cb1, cr1 = cb - 128, cr - 128
    r = y + ((_FIX_R_CR * cr1 + 32768) >> 16)
    g = y - ((_FIX_G_CB * cb1 + _FIX_G_CR * cr1 + 32768) >> 16)
    b = y + ((_FIX_B_CB * cb1 + 32768) >> 16)
    clamp = lambda v: 0 if v < 0 else (255 if v > 255 else v)  # noqa: E731
    return clamp(r), clamp(g), clamp(b)


def ycbcr_to_rgb_planes(
    ys: np.ndarray, cbs: np.ndarray, crs: np.ndarray
) -> np.ndarray:
    """Vectorized twin of ``ycbcr_to_rgb_int`` (r10 verdict item 5):
    identical fixed-point arithmetic on int64 arrays — numpy's ``>>``
    on int64 is an arithmetic shift, i.e. the same floor division by
    2^16 as Python's int shift, so this is bit-equal to the scalar
    path for every (y, cb, cr) triple (pinned by pytest). Returns an
    ``(..., 3)`` uint8 array."""
    y = ys.astype(np.int64)
    cb1 = cbs.astype(np.int64) - 128
    cr1 = crs.astype(np.int64) - 128
    r = y + ((_FIX_R_CR * cr1 + 32768) >> 16)
    g = y - ((_FIX_G_CB * cb1 + _FIX_G_CR * cr1 + 32768) >> 16)
    b = y + ((_FIX_B_CB * cb1 + 32768) >> 16)
    return np.clip(np.stack([r, g, b], axis=-1), 0, 255).astype(np.uint8)


# ---------------------------------------------------------------- huffman


def _canonical_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) per T.81 Annex C code assignment."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


def _decode_table(bits: list[int], vals: list[int]) -> dict[tuple[int, int], int]:
    """(length, code) -> symbol, for bit-serial canonical decoding."""
    return {
        (length, code): sym
        for sym, (code, length) in _canonical_codes(bits, vals).items()
    }


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self._acc = 0
        self._n = 0

    def write(self, code: int, length: int) -> None:
        self._acc = (self._acc << length) | (code & ((1 << length) - 1))
        self._n += length
        while self._n >= 8:
            self._n -= 8
            byte = (self._acc >> self._n) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:  # B.1.1.5 byte stuffing
                self.out.append(0x00)
        self._acc &= (1 << self._n) - 1

    def align(self) -> None:
        """Pad to a byte boundary with 1-bits (F.1.2.3) — required
        before emitting a restart marker (B.2.1.2)."""
        if self._n:
            pad = 8 - self._n
            self.write((1 << pad) - 1, pad)

    def restart(self, n: int) -> None:
        """Byte-align and emit RSTn (markers are never stuffed)."""
        self.align()
        self.out += bytes([0xFF, 0xD0 + (n & 7)])

    def flush(self) -> bytes:
        self.align()
        return bytes(self.out)


class _BitReader:
    """MSB-first bits of the entropy-coded data that starts at ``pos``
    (B.1.1.5 unstuffing); a marker where data is due fails loudly."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self._acc = 0
        self._n = 0

    def _fill(self) -> None:
        if self.pos >= len(self.data):
            raise ValueError("JPEG scan data exhausted mid-block")
        byte = self.data[self.pos]
        self.pos += 1
        if byte == 0xFF:
            if self.pos >= len(self.data):
                raise ValueError("JPEG scan ends in a bare 0xFF")
            nxt = self.data[self.pos]
            if nxt == 0x00:
                self.pos += 1  # stuffed
            else:
                raise ValueError(
                    f"unexpected marker 0xFF{nxt:02X} inside scan"
                )
        # keep only the unread bits: an unmasked accumulator grows with
        # the scan, and every read would shift the whole of it
        self._acc = ((self._acc & ((1 << self._n) - 1)) << 8) | byte
        self._n += 8

    def expect_restart(self, n: int) -> None:
        """Consume one RSTn at a restart boundary (E.2.4): discard
        the partial byte's pad bits, then require the exact expected
        modulo-8 marker — a missing or out-of-sequence RST is
        structural corruption and fails loudly."""
        self._acc = 0
        self._n = 0
        if self.pos + 2 > len(self.data):
            raise ValueError("JPEG scan ends where RST marker expected")
        b0, b1 = self.data[self.pos], self.data[self.pos + 1]
        if b0 != 0xFF or b1 != 0xD0 + (n & 7):
            raise ValueError(
                f"expected RST{n & 7} at restart boundary, found"
                f" 0x{b0:02X}{b1:02X}"
            )
        self.pos += 2

    def bit(self) -> int:
        if self._n == 0:
            self._fill()
        self._n -= 1
        return (self._acc >> self._n) & 1

    def bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v

    def symbol(self, table: dict[tuple[int, int], int]) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.bit()
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid Huffman code in JPEG scan")


def _extend(v: int, size: int) -> int:
    """F.2.2.1 EXTEND: map ``size`` raw bits to the signed value."""
    return v if v >= 1 << (size - 1) else v - (1 << size) + 1


def _category(v: int) -> int:
    return v.bit_length() if v >= 0 else (-v).bit_length()


# ------------------------------------------------------ marker segments

# Frame headers SOF0..SOF15 (B.1.1.3); 0xC4 is DHT, 0xC8 is reserved
# and 0xCC is DAC.
_SOF_MARKERS = frozenset(range(0xC0, 0xD0)) - {0xC4, 0xC8, 0xCC}


def jpeg_segment(marker: int, data: bytes) -> bytes:
    """One marker segment: FF <marker> <2-byte big-endian length
    INCLUDING the length field itself> <data> (B.1.1.4)."""
    return bytes([0xFF, marker]) + struct.pack(">H", len(data) + 2) + data


def _scan_entropy_end(payload: bytes, start: int) -> int:
    """First byte after ``start`` belonging to a real marker (FF00
    stuffing and RSTn markers are part of the entropy data)."""
    n = len(payload)
    end = start
    while end + 1 < n:
        if payload[end] == 0xFF and payload[end + 1] != 0x00 and not (
            0xD0 <= payload[end + 1] <= 0xD7
        ):
            break
        end += 1 + (payload[end] == 0xFF)
    return end


def jpeg_segments(payload: bytes):
    """Walk the marker stream (Annex B) and yield ``(marker, data,
    pos)`` for every segment up to EOI, ``pos`` being the offset right
    after the segment — for SOS, where its entropy-coded data starts.

    Checks SOI, skips 0xFF fill bytes (B.1.1.2) and standalone
    markers (RSTn, TEM), bounds every length field by the payload, and
    checks the segments callers index into before yielding them: DRI
    carries its 2-byte interval, SOS its Ns component pairs, a frame
    header its Nf component triples. The entropy data after each SOS
    is skipped only when the caller asks for the next segment, so a
    header sniffer that stops at SOS never scans the body. Every
    structural fault raises ValueError."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (missing SOI)")
    pos, n = 2, len(payload)
    while pos + 2 <= n:
        if payload[pos] != 0xFF:
            raise ValueError(f"expected marker at byte {pos}")
        while pos + 1 < n and payload[pos + 1] == 0xFF:
            pos += 1
        if pos + 1 >= n:
            raise ValueError("JPEG ends inside a marker")
        marker = payload[pos + 1]
        pos += 2
        if marker == 0xD9:
            return
        if 0xD0 <= marker <= 0xD7 or marker == 0x01:
            continue
        if pos + 2 > n:
            raise ValueError("truncated JPEG segment header")
        (seg_len,) = struct.unpack(">H", payload[pos : pos + 2])
        if seg_len < 2 or pos + seg_len > n:
            raise ValueError("JPEG segment length out of bounds")
        data = payload[pos + 2 : pos + seg_len]
        pos += seg_len
        if marker == 0xDD and len(data) < 2:
            raise ValueError("truncated DRI segment")
        if marker == 0xDA and (not data or len(data) < 4 + 2 * data[0]):
            raise ValueError("truncated SOS header")
        if marker in _SOF_MARKERS and (
            len(data) < 6 or len(data) < 6 + 3 * data[5]
        ):
            raise ValueError("truncated SOF frame header")
        yield marker, data, pos
        if marker == 0xDA:
            pos = _scan_entropy_end(payload, pos)


# ---------------------------------------------------------------- encoder


def _fdct_quant(block: np.ndarray, quant: np.ndarray) -> np.ndarray:
    """Level-shifted float FDCT then rounded quantization (A.3.3)."""
    coeff = _BASIS @ (block.astype(np.float64) - 128.0) @ _BASIS.T
    return np.round(coeff / quant).astype(np.int64)


def _encode_block(
    w: _BitWriter,
    blk: np.ndarray,
    quant: np.ndarray,
    dc_codes: dict[int, tuple[int, int]],
    ac_codes: dict[int, tuple[int, int]],
    prev_dc: int,
) -> int:
    """Huffman-encode one 8x8 block (F.2); returns the new DC
    predictor."""
    zz = _fdct_quant(blk, quant)
    seq = [int(v) for v in zz.reshape(-1)[_ZZ_FLAT]]
    diff = seq[0] - prev_dc
    s = _category(diff)
    w.write(*dc_codes[s])
    if s:
        w.write(diff if diff >= 0 else diff + (1 << s) - 1, s)
    run = 0
    last_nz = max((k for k in range(1, 64) if seq[k]), default=0)
    for k in range(1, last_nz + 1):
        if seq[k] == 0:
            run += 1
            continue
        while run > 15:
            w.write(*ac_codes[0xF0])  # ZRL
            run -= 16
        s = _category(seq[k])
        w.write(*ac_codes[run << 4 | s])
        v = seq[k]
        w.write(v if v >= 0 else v + (1 << s) - 1, s)
        run = 0
    if last_nz < 63:
        w.write(*ac_codes[0x00])  # EOB
    return seq[0]


def _box_downsample(a: np.ndarray, fh: int, fv: int) -> np.ndarray:
    """Rounded box average by (fv, fh) — the chroma decimation for
    4:2:0/4:2:2. Odd dims are edge-padded first; a constant region
    averages to the constant EXACTLY ((k*v + k//2) // k == v), which
    is what keeps the 4:2:0 fixture oracle closed-form."""
    h, w = a.shape
    a = np.pad(a, ((0, -h % fv), (0, -w % fh)), mode="edge")
    acc = np.zeros((a.shape[0] // fv, a.shape[1] // fh), dtype=np.int64)
    for dy in range(fv):
        for dx in range(fh):
            acc += a[dy::fv, dx::fh]
    return ((acc + fh * fv // 2) // (fh * fv)).astype(np.uint8)


def _prep_planes(
    width: int, height: int, planes: list[bytes], subsampling: str
) -> tuple[list[tuple[int, int]], list[np.ndarray], int, int]:
    """Shared encoder front half: validate, pick sampling factors,
    chroma box-decimate, replicate-pad every component to the
    MCU-padded grid. Returns (samp, padded arrays, mcx_n, mcy_n)."""
    ncomp = len(planes)
    if ncomp not in (1, 3):
        raise ValueError("planes must be [gray] or [Y, Cb, Cr]")
    for p in planes:
        if len(p) != width * height:
            raise ValueError("each plane must be width*height bytes")
    if ncomp == 1:
        if subsampling != "444":
            raise ValueError(
                "chroma subsampling is meaningless for grayscale; "
                "use subsampling='444' with a single plane"
            )
        samp = [(1, 1)]
    elif subsampling == "444":
        samp = [(1, 1)] * ncomp
    elif subsampling == "420":
        samp = [(2, 2), (1, 1), (1, 1)]
    elif subsampling == "422":
        samp = [(2, 1), (1, 1), (1, 1)]
    else:
        raise ValueError("subsampling must be '444', '422' or '420'")
    hmax = max(sh for sh, _ in samp)
    vmax = max(sv for _, sv in samp)
    mcx_n = (width + 8 * hmax - 1) // (8 * hmax)
    mcy_n = (height + 8 * vmax - 1) // (8 * vmax)
    arrs = []
    for p, (sh, sv) in zip(planes, samp):
        a = np.frombuffer(p, dtype=np.uint8).reshape(height, width)
        if (sh, sv) != (hmax, vmax):
            a = _box_downsample(a, hmax // sh, vmax // sv)
        ph, pw = mcy_n * sv * 8, mcx_n * sh * 8
        a = np.pad(
            a, ((0, ph - a.shape[0]), (0, pw - a.shape[1])), mode="edge"
        )
        arrs.append(a)
    return samp, arrs, mcx_n, mcy_n


def encode_jpeg_baseline(
    width: int,
    height: int,
    planes: list[bytes],
    density_unit: int = 0,
    x_density: int = 1,
    y_density: int = 1,
    subsampling: str = "444",
    restart_interval: int = 0,
    sof1: bool = False,
) -> bytes:
    """Encode raw samples as a baseline-sequential JFIF file.
    ``sof1=True`` stamps the frame extended-sequential (marker 0xC1)
    — bit-identical entropy coding, the frame type some encoders
    emit for 8-bit sequential output.

    ``planes`` is ``[gray]`` or ``[Y, Cb, Cr]``, each
    ``width*height`` bytes in raster order (full resolution — the
    encoder performs the chroma decimation itself). ``subsampling``
    is ``"444"`` (all components 1x1) or ``"420"`` (luma 2x2, chroma
    box-decimated 2x both ways, MCU-interleaved per A.2.3 — the
    dominant real-world encoding; 3-component input only).
    ``restart_interval`` > 0 emits a DRI segment and an RSTn marker
    (modulo-8 sequence, DC predictors reset) every that many MCUs —
    the resynchronization points real encoders insert so one
    corrupted byte doesn't lose the rest of the image. Edge blocks
    are replicate-padded. All components share quant table 0
    (flat / quality-100) and Huffman tables 0."""
    samp, arrs, mcx_n, mcy_n = _prep_planes(width, height, planes, subsampling)
    ncomp = len(planes)
    # QUANT_FLAT is stored in zigzag order (DQT wire order); the FDCT
    # needs it in natural (row, col) order.
    quant = np.zeros((8, 8))
    quant.reshape(-1)[_ZZ_FLAT] = QUANT_FLAT

    dc_codes = _canonical_codes(DC_BITS, DC_VALS)
    ac_codes = _canonical_codes(AC_BITS, AC_VALS)
    w = _BitWriter()
    prev_dc = [0] * ncomp
    mcu_idx = 0
    rst_n = 0
    for my in range(mcy_n):
        for mx in range(mcx_n):
            if restart_interval and mcu_idx and (
                mcu_idx % restart_interval == 0
            ):
                w.restart(rst_n)
                rst_n = (rst_n + 1) & 7
                prev_dc = [0] * ncomp
            mcu_idx += 1
            for ci, (sh, sv) in enumerate(samp):
                for vy in range(sv):
                    for vx in range(sh):
                        r0 = (my * sv + vy) * 8
                        c0 = (mx * sh + vx) * 8
                        prev_dc[ci] = _encode_block(
                            w,
                            arrs[ci][r0 : r0 + 8, c0 : c0 + 8],
                            quant,
                            dc_codes,
                            ac_codes,
                            prev_dc[ci],
                        )
    scan = w.flush()

    app0 = (
        b"JFIF\x00"
        + bytes([1, 2, density_unit])
        + struct.pack(">HH", x_density, y_density)
        + b"\x00\x00"
    )
    dqt = bytes([0]) + bytes(QUANT_FLAT)  # zigzag order, 8-bit, id 0
    sof = (
        bytes([8])
        + struct.pack(">HH", height, width)
        + bytes([ncomp])
        + b"".join(
            bytes([cid, sh << 4 | sv, 0])
            for cid, (sh, sv) in zip(range(1, ncomp + 1), samp)
        )
    )
    dht = (
        bytes([0x00]) + bytes(DC_BITS) + bytes(DC_VALS)
        + bytes([0x10]) + bytes(AC_BITS) + bytes(AC_VALS)
    )
    sos = (
        bytes([ncomp])
        + b"".join(bytes([cid, 0x00]) for cid in range(1, ncomp + 1))
        + bytes([0, 63, 0])
    )
    dri = (
        jpeg_segment(0xDD, struct.pack(">H", restart_interval))
        if restart_interval
        else b""
    )
    return (
        b"\xff\xd8"
        + jpeg_segment(0xE0, app0)
        + jpeg_segment(0xDB, dqt)
        + jpeg_segment(0xC1 if sof1 else 0xC0, sof)
        + jpeg_segment(0xC4, dht)
        + dri
        + jpeg_segment(0xDA, sos)
        + scan
        + b"\xff\xd9"
    )


# ----------------------------------------------------- progressive (SOF2)
#
# T.81 Annex G, spectral selection + successive approximation, the
# Huffman-coded flavor every progressive web JPEG uses. A progressive
# file carries the SAME quantized coefficients as a baseline file of
# the same image — they are just delivered across multiple scans (a
# DC pass, DC refinement bits, per-component AC spectral bands, AC
# refinement bits), so a progressive re-encode of any image must
# decode BYTE-IDENTICAL to its baseline encode (the cross-check pytest
# pins exactly that). The scan-level algorithms here and in the
# decoder's scan loop follow the spec figures (G.1.2.2
# first pass with EOBn run coding; G.1.2.3 refinement with buffered
# correction bits — the same structure libjpeg's jcphuff/jdphuff
# implement, re-derived here from the spec text).


def _emit_ac_first_block(
    w: _BitWriter,
    blk,
    ss: int,
    se: int,
    al: int,
    ac_codes,
    state: dict,
) -> None:
    """G.1.2.2: one block of an AC first-pass scan. ``state`` carries
    the cross-block EOB run counter."""

    def flush_eob() -> None:
        n = state["eobrun"]
        if n:
            nbits = n.bit_length() - 1
            w.write(*ac_codes[nbits << 4])
            if nbits:
                w.write(n - (1 << nbits), nbits)
            state["eobrun"] = 0

    state["flush"] = flush_eob
    r = 0
    for k in range(ss, se + 1):
        v = int(blk[k])
        # AC point transform truncates toward zero (G.1.2.1)
        t = (v if v >= 0 else -v) >> al
        if t == 0:
            r += 1
            continue
        flush_eob()
        while r > 15:
            w.write(*ac_codes[0xF0])
            r -= 16
        s = t.bit_length()
        w.write(*ac_codes[r << 4 | s])
        w.write(t if v >= 0 else (1 << s) - 1 - t, s)
        r = 0
    if r > 0:
        state["eobrun"] += 1
        if state["eobrun"] == 0x7FFF:
            flush_eob()


def _emit_ac_refine_block(
    w: _BitWriter,
    blk,
    ss: int,
    se: int,
    al: int,
    ac_codes,
    state: dict,
) -> None:
    """G.1.2.3: one block of an AC refinement scan. ``state`` carries
    the EOB run counter plus the correction bits deferred with it
    (``corr_eob``); ``corr_blk`` buffers this block's bits between
    emitted symbols."""

    def flush_eob() -> None:
        n = state["eobrun"]
        if n:
            nbits = n.bit_length() - 1
            w.write(*ac_codes[nbits << 4])
            if nbits:
                w.write(n - (1 << nbits), nbits)
            for bit in state["corr_eob"]:
                w.write(bit, 1)
            state["corr_eob"] = []
            state["eobrun"] = 0

    state["flush"] = flush_eob
    vals = [int(blk[k]) for k in range(ss, se + 1)]
    absv = [(v if v >= 0 else -v) >> al for v in vals]
    # index (within the band) of the last newly-nonzero coefficient
    eob_i = -1
    for i, t in enumerate(absv):
        if t == 1:
            eob_i = i
    corr_blk: list[int] = []
    r = 0
    for i, t in enumerate(absv):
        if t == 0:
            r += 1
            continue
        while r > 15 and i <= eob_i:
            flush_eob()
            w.write(*ac_codes[0xF0])
            r -= 16
            for bit in corr_blk:
                w.write(bit, 1)
            corr_blk = []
        if t > 1:
            # previously nonzero: just its next magnitude bit
            corr_blk.append(t & 1)
            continue
        flush_eob()
        w.write(*ac_codes[r << 4 | 1])
        w.write(1 if vals[i] >= 0 else 0, 1)
        for bit in corr_blk:
            w.write(bit, 1)
        corr_blk = []
        r = 0
    if r > 0 or corr_blk:
        state["eobrun"] += 1
        state["corr_eob"] += corr_blk
        # bound the deferred-bit buffer like the counter (the spec
        # only caps the run length; 936 mirrors libjpeg's headroom)
        if state["eobrun"] == 0x7FFF or len(state["corr_eob"]) > 936:
            flush_eob()


def encode_jpeg_progressive(
    width: int,
    height: int,
    planes: list[bytes],
    subsampling: str = "444",
    restart_interval: int = 0,
    dc_al: int = 1,
    ac_al: int = 1,
    spectral_splits: tuple[int, ...] = (6,),
) -> bytes:
    """Encode raw samples as a progressive (SOF2) JFIF file.

    Scan script: one interleaved DC first scan at point transform
    ``dc_al``, then DC refinement scans down to Al=0; per component,
    AC first scans over the spectral bands cut at ``spectral_splits``
    (e.g. ``(6,)`` -> bands 1..5 and 6..63) at point transform
    ``ac_al``, then AC refinement scans down to Al=0 — the classic
    libjpeg-style script shape. Same fixture quant/Huffman-table
    conventions as ``encode_jpeg_baseline`` (flat q=1 tables, so the
    decoded pixels are bit-identical to the baseline encode of the
    same input)."""
    samp, arrs, mcx_n, mcy_n = _prep_planes(width, height, planes, subsampling)
    ncomp = len(planes)
    hmax = max(sh for sh, _ in samp)
    vmax = max(sv for _, sv in samp)
    quant = np.zeros((8, 8))
    quant.reshape(-1)[_ZZ_FLAT] = QUANT_FLAT
    bands = []
    lo = 1
    for cut in spectral_splits:
        if not 1 < cut <= 63:
            raise ValueError("spectral split must be in 2..63")
        bands.append((lo, cut - 1))
        lo = cut
    bands.append((lo, 63))

    # full-precision quantized coefficients, zigzag order, per block
    coeffs = []
    for a, (sh, sv) in zip(arrs, samp):
        gh, gw = a.shape[0] // 8, a.shape[1] // 8
        c = np.zeros((gh, gw, 64), dtype=np.int64)
        for by in range(gh):
            for bx in range(gw):
                zz = _fdct_quant(
                    a[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8], quant
                )
                c[by, bx] = zz.reshape(-1)[_ZZ_FLAT]
        coeffs.append(c)
    # real (non-padded) block grid per component — non-interleaved
    # scans cover exactly these blocks (A.2.2)
    grids = []
    for sh, sv in samp:
        cw = (width * sh + hmax - 1) // hmax
        ch = (height * sv + vmax - 1) // vmax
        grids.append(((cw + 7) // 8, (ch + 7) // 8))

    dc_codes = _canonical_codes(DC_BITS, DC_VALS)
    ac_codes = _canonical_codes(PROG_AC_BITS, PROG_AC_VALS)
    scans: list[tuple[bytes, bytes]] = []  # (SOS payload, entropy bytes)

    def dc_walk(emit) -> bytes:
        """Walk DC blocks in scan order (interleaved MCUs for ncomp>1,
        the component grid otherwise) with restart handling."""
        w = _BitWriter()
        rst_n = 0
        mcu = 0
        state = {"reset": lambda: None}

        def boundary() -> None:
            nonlocal rst_n
            if restart_interval and mcu and mcu % restart_interval == 0:
                w.restart(rst_n)
                rst_n = (rst_n + 1) & 7
                state["reset"]()

        if ncomp > 1:
            for my in range(mcy_n):
                for mx in range(mcx_n):
                    boundary()
                    mcu += 1
                    for ci, (sh, sv) in enumerate(samp):
                        for vy in range(sv):
                            for vx in range(sh):
                                emit(w, ci, my * sv + vy, mx * sh + vx, state)
        else:
            bw, bh = grids[0]
            for by in range(bh):
                for bx in range(bw):
                    boundary()
                    mcu += 1
                    emit(w, 0, by, bx, state)
        return w.flush()

    def sos(scan_comps: list[int], ss: int, se: int, ah: int, al: int) -> bytes:
        return (
            bytes([len(scan_comps)])
            + b"".join(bytes([ci + 1, 0x00]) for ci in scan_comps)
            + bytes([ss, se, ah << 4 | al])
        )

    # --- scan 1: DC first pass (arithmetic-shift point transform)
    pred = [0] * ncomp

    def dc_first(w, ci, by, bx, state) -> None:
        state["reset"] = lambda: pred.__setitem__(
            slice(None), [0] * ncomp
        )
        t = int(coeffs[ci][by, bx, 0]) >> dc_al
        diff = t - pred[ci]
        pred[ci] = t
        s = _category(diff)
        w.write(*dc_codes[s])
        if s:
            w.write(diff if diff >= 0 else diff + (1 << s) - 1, s)

    scans.append((sos(list(range(ncomp)), 0, 0, 0, dc_al), dc_walk(dc_first)))

    # --- DC refinement passes: one raw bit per block per precision
    for al in range(dc_al - 1, -1, -1):

        def dc_refine(w, ci, by, bx, state, _al=al) -> None:
            w.write((int(coeffs[ci][by, bx, 0]) >> _al) & 1, 1)

        scans.append(
            (sos(list(range(ncomp)), 0, 0, al + 1, al), dc_walk(dc_refine))
        )

    # --- AC scans: single-component, non-interleaved (G.1.1.1.1)
    def ac_scan(ci: int, ss: int, se: int, al: int, refine: bool) -> bytes:
        w = _BitWriter()
        emit = _emit_ac_refine_block if refine else _emit_ac_first_block
        state: dict = {"eobrun": 0, "corr_eob": [], "flush": lambda: None}
        bw, bh = grids[ci]
        rst_n = 0
        mcu = 0
        for by in range(bh):
            for bx in range(bw):
                if restart_interval and mcu and mcu % restart_interval == 0:
                    state["flush"]()
                    w.restart(rst_n)
                    rst_n = (rst_n + 1) & 7
                mcu += 1
                emit(w, coeffs[ci][by, bx], ss, se, al, ac_codes, state)
        state["flush"]()
        return w.flush()

    for ci in range(ncomp):
        for ss, se in bands:
            scans.append(
                (sos([ci], ss, se, 0, ac_al), ac_scan(ci, ss, se, ac_al, False))
            )
    for al in range(ac_al - 1, -1, -1):
        for ci in range(ncomp):
            for ss, se in bands:
                scans.append(
                    (
                        sos([ci], ss, se, al + 1, al),
                        ac_scan(ci, ss, se, al, True),
                    )
                )

    app0 = b"JFIF\x00" + bytes([1, 2, 0]) + struct.pack(">HH", 1, 1) + b"\x00\x00"
    dqt = bytes([0]) + bytes(QUANT_FLAT)
    sof = (
        bytes([8])
        + struct.pack(">HH", height, width)
        + bytes([ncomp])
        + b"".join(
            bytes([cid, sh << 4 | sv, 0])
            for cid, (sh, sv) in zip(range(1, ncomp + 1), samp)
        )
    )
    dht = (
        bytes([0x00]) + bytes(DC_BITS) + bytes(DC_VALS)
        + bytes([0x10]) + bytes(PROG_AC_BITS) + bytes(PROG_AC_VALS)
    )
    dri = (
        jpeg_segment(0xDD, struct.pack(">H", restart_interval))
        if restart_interval
        else b""
    )
    out = bytearray(b"\xff\xd8" + jpeg_segment(0xE0, app0))
    out += jpeg_segment(0xDB, dqt) + jpeg_segment(0xC2, sof)
    out += jpeg_segment(0xC4, dht) + dri
    for sos_payload, entropy in scans:
        out += jpeg_segment(0xDA, sos_payload) + entropy
    out += b"\xff\xd9"
    return bytes(out)


# ---------------------------------------------------------------- decoder
#
# One decoder for every supported frame type. A sequential frame
# (SOF0/SOF1) is the simplest case of the progressive scan model: one
# interleaved scan with Ss=0, Se=63, Ah=Al=0. Every scan accumulates
# quantized coefficients (zigzag order) into per-component block
# buffers; the back half (dequantize, de-zigzag, IDCT, level shift,
# replication upsample, fixed-point YCbCr->RGB) runs once after the
# last scan.

_SEQUENTIAL = (0xC0, 0xC1)


def decode_jpeg(payload: bytes) -> tuple[int, int, bytes]:
    """Decode a sequential (SOF0/SOF1) or progressive (SOF2) JPEG to
    (width, height, rgb) with len(rgb) == width*height*3 — the entry
    the multimodal tier calls when the encoding family isn't known in
    advance. Other frame types raise NotImplementedError."""
    return _decode(
        payload, (*_SEQUENTIAL, 0xC2), "unsupported JPEG frame type 0xFF{:02X}"
    )


def decode_jpeg_baseline(payload: bytes) -> tuple[int, int, bytes]:
    """``decode_jpeg`` for sequential frames (SOF0/SOF1) only."""
    return _decode(
        payload, _SEQUENTIAL, "non-baseline JPEG frame (SOF marker 0xFF{:02X})"
    )


def decode_jpeg_progressive(payload: bytes) -> tuple[int, int, bytes]:
    """``decode_jpeg`` for progressive frames (SOF2) only."""
    return _decode(
        payload,
        (0xC2,),
        "decode_jpeg_progressive requires SOF2 (found SOF marker 0xFF{:02X})",
    )


def _decode(
    payload: bytes, frames: tuple[int, ...], refusal: str
) -> tuple[int, int, bytes]:
    """Walk the segments, decode every scan into the coefficient
    buffers, then reconstruct the pixels. A sequential frame's single
    scan must cover every component and ends the decode. Structural
    violations raise ValueError; capability gaps (frame types outside
    ``frames``, 12-bit precision, sampling factors > 2) raise
    NotImplementedError."""
    quant_tables: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    # per SOF component: (component id, h samp, v samp, quant table id)
    comps: list[tuple[int, int, int, int]] = []
    # per component: quantized coefficients in zigzag order, one row
    # of 64 per block of the MCU-padded grid
    coeffs: list[np.ndarray] = []
    # per component: the real (non-padded) block grid, which is what a
    # non-interleaved scan covers (A.2.2)
    grids: list[tuple[int, int]] = []
    sequential = False
    restart_interval = 0
    saw_scan = False
    for marker, data, pos in jpeg_segments(payload):
        if marker == 0xDB:  # DQT, possibly several tables per segment
            i = 0
            while i < len(data):
                if data[i] >> 4:
                    raise NotImplementedError("16-bit quant tables")
                vals = data[i + 1 : i + 65]
                if len(vals) < 64:
                    raise ValueError("truncated DQT segment")
                q = np.zeros(64)
                q[_ZZ_FLAT] = np.frombuffer(vals, np.uint8)
                quant_tables[data[i] & 0xF] = q.reshape(8, 8)
                i += 65
        elif marker == 0xC4:  # DHT, possibly several tables
            i = 0
            while i < len(data):
                cls, tid = data[i] >> 4, data[i] & 0xF
                bits = list(data[i + 1 : i + 17])
                nv = sum(bits)
                vals = list(data[i + 17 : i + 17 + nv])
                if len(bits) < 16 or len(vals) < nv:
                    raise ValueError("truncated DHT segment")
                huff[(cls, tid)] = _decode_table(bits, vals)
                i += 17 + nv
        elif marker in _SOF_MARKERS:
            if marker not in frames:
                raise NotImplementedError(refusal.format(marker))
            if comps:
                raise ValueError("JPEG declares a second frame header")
            # SOF1 at 8-bit is the same Huffman-sequential decode as
            # SOF0: its only extensions are 12-bit precision (refused
            # here) and table ids 2..3 (the DHT walk keys on the id)
            if data[0] != 8:
                raise NotImplementedError("only 8-bit precision")
            height, width = struct.unpack(">HH", data[1:5])
            ncomp = data[5]
            if ncomp not in (1, 3):
                raise NotImplementedError("1 or 3 components only")
            for ci in range(ncomp):
                cid, samp, qid = data[6 + 3 * ci : 9 + 3 * ci]
                sh, sv = samp >> 4, samp & 0xF
                if ncomp == 1 and (sh, sv) != (1, 1):
                    # a single-component scan is non-interleaved per
                    # A.2.2: its MCU is one block
                    raise NotImplementedError(
                        "subsampling factors on a 1-component frame"
                    )
                if not (1 <= sh <= 2 and 1 <= sv <= 2):
                    raise NotImplementedError(
                        f"sampling factors {sh}x{sv} unsupported"
                        " (subsampling limited to factors 1..2)"
                    )
                comps.append((cid, sh, sv, qid))
            sequential = marker in _SEQUENTIAL
            hmax = max(sh for _, sh, _, _ in comps)
            vmax = max(sv for _, _, sv, _ in comps)
            mcx_n = (width + 8 * hmax - 1) // (8 * hmax)
            mcy_n = (height + 8 * vmax - 1) // (8 * vmax)
            # every coded block costs at least one bit, and the MCU
            # padding at most quadruples a component's coded grid: a
            # larger frame is a corrupt header, refused before the
            # buffers are allocated
            padded = mcx_n * mcy_n * sum(sh * sv for _, sh, sv, _ in comps)
            if padded > 32 * len(payload):
                raise ValueError("JPEG frame too large for its payload")
            for _, sh, sv, _ in comps:
                coeffs.append(
                    np.zeros((mcy_n * sv, mcx_n * sh, 64), dtype=np.int64)
                )
                cw = (width * sh + hmax - 1) // hmax
                ch = (height * sv + vmax - 1) // vmax
                grids.append(((cw + 7) // 8, (ch + 7) // 8))
        elif marker == 0xDD:  # DRI: restart interval in MCUs
            restart_interval = struct.unpack(">H", data[:2])[0]
        elif marker == 0xDA:  # SOS
            if not comps:
                raise ValueError("JPEG scan before its frame header")
            ns = data[0]
            if sequential and ns != len(comps):
                raise NotImplementedError("non-interleaved scans")
            if ns == 0:
                raise ValueError("SOS selects no component")
            if sequential:
                ss, se, ah, al = 0, 63, 0, 0
            else:
                if len(data) != 4 + 2 * ns:
                    raise ValueError("malformed SOS header")
                ss, se, a = data[1 + 2 * ns : 4 + 2 * ns]
                ah, al = a >> 4, a & 0xF
                if ss == 0 and se != 0:
                    raise ValueError("DC scan must have Se = 0")
                if ss > 0 and (ns != 1 or not ss <= se <= 63):
                    raise ValueError(
                        "AC scans must be single-component with a valid band"
                    )
                if ah not in (0, al + 1):
                    raise ValueError("successive approximation must step by 1")
            # the selector byte is honored, so SOS order may differ
            # from SOF order; the interleaved MCU walks SOS order
            slots = []
            for si in range(ns):
                sel, tables = data[1 + 2 * si], data[2 + 2 * si]
                ci = next((k for k, c in enumerate(comps) if c[0] == sel), None)
                if ci is None:
                    raise ValueError(f"SOS selects undeclared component {sel}")
                if any(slot[0] == ci for slot in slots):
                    raise ValueError("SOS selects a component twice")
                dc_t = ac_t = None
                if ss == 0 and ah == 0:
                    dc_t = huff.get((0, tables >> 4))
                    if dc_t is None:
                        raise ValueError("scan references undefined DC table")
                if se > 0:
                    ac_t = huff.get((1, tables & 0xF))
                    if ac_t is None:
                        raise ValueError("scan references undefined AC table")
                slots.append((ci, comps[ci][1], comps[ci][2], dc_t, ac_t))
            _decode_scan(
                _BitReader(payload, pos), slots, coeffs, grids,
                (mcx_n, mcy_n), restart_interval, ss, se, ah, al,
            )
            saw_scan = True
            if sequential:
                break
    if not saw_scan:
        raise ValueError("JPEG missing SOF or SOS")

    planes = []
    for (_, _, _, qid), carr in zip(comps, coeffs):
        q = quant_tables.get(qid)
        if q is None:
            raise ValueError("frame references undefined quant table")
        planes.append(_idct_plane(carr, q))
    coeffs.clear()  # free the int64 buffers before the colour step
    full = []
    for p, (_, sh, sv, _) in zip(planes, comps):
        if (sh, sv) != (hmax, vmax):
            p = np.repeat(np.repeat(p, vmax // sv, axis=0), hmax // sh, axis=1)
        full.append(p[:height, :width])
    if len(comps) == 1:
        rgb = np.repeat(full[0].reshape(-1), 3).tobytes()
    else:
        rgb = ycbcr_to_rgb_planes(*full).tobytes()
    return width, height, rgb


def _decode_scan(
    reader: _BitReader,
    slots: list,
    coeffs: list[np.ndarray],
    grids: list[tuple[int, int]],
    mcu_grid: tuple[int, int],
    restart_interval: int,
    ss: int,
    se: int,
    ah: int,
    al: int,
) -> None:
    """One scan's entropy data into the coefficient buffers. ``slots``
    holds (component index, h samp, v samp, DC table, AC table) per
    scan component in SOS order. Ss=0 with Se=63 is a sequential scan
    (F.2.2: DC difference then AC run/size symbols per block); the
    rest are Annex G passes: DC first and refinement, AC first
    (G.1.2.2, EOBn runs) and AC refinement (G.1.2.3, correction
    bits). Restart markers follow E.2.4."""
    eobrun = 0
    pred = [0] * len(coeffs)

    def block_dc_first(ci, c, by, bx, dc_t, _ac_t) -> None:
        s = reader.symbol(dc_t)
        if s:
            if s > 11:
                raise ValueError(f"DC difference category {s} out of range")
            pred[ci] += _extend(reader.bits(s), s)
        c[by, bx, 0] = pred[ci] << al

    def block_seq(ci, c, by, bx, dc_t, ac_t) -> None:
        block_dc_first(ci, c, by, bx, dc_t, ac_t)
        blk = c[by, bx]
        k = 1
        while k < 64:
            rs = reader.symbol(ac_t)
            if rs == 0x00:  # EOB
                return
            if rs == 0xF0:  # ZRL
                k += 16
                continue
            size = rs & 0xF
            if size == 0:
                # run/size with size 0 is only valid as EOB or ZRL
                # (F.1.2.2.1): loud structural failure, not a
                # negative shift deep in EXTEND
                raise ValueError(f"invalid AC run/size symbol 0x{rs:02X}")
            k += rs >> 4
            if k > 63:
                raise ValueError("AC run past end of block")
            blk[k] = _extend(reader.bits(size), size)
            k += 1

    def block_dc_refine(_ci, c, by, bx, _dc_t, _ac_t) -> None:
        if reader.bit():
            c[by, bx, 0] |= 1 << al

    def block_ac_first(_ci, c, by, bx, _dc_t, ac_t) -> None:
        nonlocal eobrun
        if eobrun > 0:
            eobrun -= 1
            return
        blk = c[by, bx]
        k = ss
        while k <= se:
            rs = reader.symbol(ac_t)
            r, s = rs >> 4, rs & 0xF
            if s == 0:
                if r != 15:
                    eobrun = (1 << r) - 1
                    if r:
                        eobrun += reader.bits(r)
                    return
                k += 16  # ZRL
                continue
            k += r
            if k > se:
                raise ValueError("AC run past spectral band end")
            blk[k] = _extend(reader.bits(s), s) << al
            k += 1

    p1, m1 = 1 << al, -(1 << al)

    def corr_bit(blk, k) -> None:
        if reader.bit() and (int(blk[k]) & p1) == 0:
            blk[k] += p1 if blk[k] >= 0 else m1

    def block_ac_refine(_ci, c, by, bx, _dc_t, ac_t) -> None:
        nonlocal eobrun
        blk = c[by, bx]
        k = ss
        if eobrun == 0:
            while k <= se:
                rs = reader.symbol(ac_t)
                r, s = rs >> 4, rs & 0xF
                if s:
                    if s != 1:
                        raise ValueError("AC refinement size must be 1")
                    val = p1 if reader.bit() else m1
                else:
                    if r != 15:
                        eobrun = 1 << r
                        if r:
                            eobrun += reader.bits(r)
                        break
                    val = 0  # ZRL: skip 16 zero-history slots
                while k <= se:
                    if blk[k] != 0:
                        corr_bit(blk, k)
                    else:
                        if r == 0:
                            break
                        r -= 1
                    k += 1
                if val:
                    if k > se:
                        raise ValueError("refinement coefficient past band end")
                    blk[k] = val
                k += 1
        if eobrun > 0:
            while k <= se:
                if blk[k] != 0:
                    corr_bit(blk, k)
                k += 1
            eobrun -= 1

    if ss == 0:
        block = block_seq if se else (
            block_dc_first if ah == 0 else block_dc_refine
        )
    else:
        block = block_ac_first if ah == 0 else block_ac_refine

    rst_n = 0
    mcu = 0

    def boundary() -> None:
        nonlocal rst_n, eobrun
        if restart_interval and mcu and mcu % restart_interval == 0:
            reader.expect_restart(rst_n)
            rst_n = (rst_n + 1) & 7
            pred[:] = [0] * len(pred)
            eobrun = 0

    if len(slots) > 1:  # interleaved MCUs (A.2.3)
        mcx_n, mcy_n = mcu_grid
        for my in range(mcy_n):
            for mx in range(mcx_n):
                boundary()
                mcu += 1
                for ci, sh, sv, dc_t, ac_t in slots:
                    c = coeffs[ci]
                    for vy in range(sv):
                        for vx in range(sh):
                            block(ci, c, my * sv + vy, mx * sh + vx, dc_t, ac_t)
    else:
        ci, _, _, dc_t, ac_t = slots[0]
        c = coeffs[ci]
        bw, bh = grids[ci]
        for by in range(bh):
            for bx in range(bw):
                boundary()
                mcu += 1
                block(ci, c, by, bx, dc_t, ac_t)


def _idct_plane(carr: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Dequantize, de-zigzag, 2-D IDCT (A.3.3), level shift and clamp
    every block of one component's coefficient buffer."""
    gh, gw = carr.shape[0], carr.shape[1]
    plane = np.zeros((gh * 8, gw * 8), dtype=np.uint8)
    coeff = np.zeros(64)
    for by in range(gh):
        for bx in range(gw):
            coeff[_ZZ_FLAT] = carr[by, bx]
            spatial = _BASIS.T @ (coeff.reshape(8, 8) * q) @ _BASIS + 128.0
            plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = np.clip(
                np.round(spatial), 0, 255
            ).astype(np.uint8)
    return plane
