"""Round-17 additions: VP8L spec-exact predictors + meta prefix
codes (r16 verdict #4 / ADVICE), the shared MSB-first early-change
LZW core, and TIFF Compression 5 + Predictor 2 (r16 verdict #3).
The PDF LZWDecode tests live in test_sources.py and the vacuum
manifest-orphan sweep in test_snapshots.py."""

from __future__ import annotations

import numpy as np
import pytest


# --------------------------------------------------------------- VP8L


def _px(a, r, g, b):
    return (a << 24) | (r << 16) | (g << 8) | b


def _gray(v):
    return _px(v, v, v, v)


def test_vp8l_predictor_spec_vectors_decoder_only():
    """Fixed vectors for the three ADVICE-flagged predictor modes,
    computed BY HAND from RFC 9649's formulas (not by calling the
    codec) — round-trips alone cannot catch an encoder/decoder-
    shared deviation.

    Mode 10 (Average4) = avg2(avg2(L, TL), avg2(T, TR)):
      L=1 T=1 TL=0 TR=2 -> avg2(avg2(1,0)=0, avg2(1,2)=1) = 0
      (the old (L,T)/(TL,TR) pairing gave avg2(1, 1) = 1).
    Mode 11 (Select): a tie in the Manhattan estimate returns T
      (pL < pT ? L : T): L=10 T=20 TL=15 -> p=15, pL=pT=5 -> T.
    Mode 13 (ClampAddSubtractHalf): (avg - TL) / 2 truncates toward
      zero: L=4 T=6 TL=8 -> avg=5, d=-3, 5 + (-1) = 4 (floor
      division's -2 gave 3)."""
    from mapreducego_spark.functions.vp8lcodec import _predict

    assert _predict(10, _gray(1), _gray(1), _gray(0), _gray(2)) == \
        _gray(0)
    assert _predict(11, _gray(10), _gray(20), _gray(15), _gray(0)) == \
        _gray(20)
    assert _predict(13, _gray(4), _gray(6), _gray(8), _gray(0)) == \
        _gray(4)
    # pL strictly smaller still selects L: pL = |T - TL| = 1 beats
    # pT = |L - TL| = 5
    assert _predict(11, _gray(10), _gray(14), _gray(15), _gray(0)) == \
        _gray(10)
    # positive-delta halving unchanged: avg=6, TL=2, d=4 -> 6+2=8
    assert _predict(13, _gray(5), _gray(7), _gray(2), _gray(0)) == \
        _gray(8)


def test_vp8l_predict_matches_independent_spec_arithmetic():
    """All 14 modes against an independent scalar transcription of
    RFC 9649's predictor pseudocode, over random neighborhoods."""
    import random

    from mapreducego_spark.functions.vp8lcodec import (
        _from_channels,
        _predict,
        _px_channels,
    )

    def clamp(v):
        return 0 if v < 0 else 255 if v > 255 else v

    def spec(mode, L, T, TL, TR):
        La, Lr, Lg, Lb = _px_channels(L)
        Ta, Tr, Tg, Tb = _px_channels(T)
        Aa, Ar, Ag, Ab = _px_channels(TL)
        Ra, Rr, Rg, Rb = _px_channels(TR)
        zipped = list(zip((La, Lr, Lg, Lb), (Ta, Tr, Tg, Tb),
                          (Aa, Ar, Ag, Ab), (Ra, Rr, Rg, Rb)))
        if mode == 0:
            return 0xFF000000
        if mode == 1:
            return L
        if mode == 2:
            return T
        if mode == 3:
            return TR
        if mode == 4:
            return TL
        if mode == 5:
            return _from_channels(
                *[((l + r) // 2 + t) // 2 for l, t, _tl, r in zipped]
            )
        if mode == 6:
            return _from_channels(
                *[(l + tl) // 2 for l, _t, tl, _r in zipped]
            )
        if mode == 7:
            return _from_channels(
                *[(l + t) // 2 for l, t, _tl, _r in zipped]
            )
        if mode == 8:
            return _from_channels(
                *[(tl + t) // 2 for _l, t, tl, _r in zipped]
            )
        if mode == 9:
            return _from_channels(
                *[(t + r) // 2 for _l, t, _tl, r in zipped]
            )
        if mode == 10:
            return _from_channels(
                *[((l + tl) // 2 + (t + r) // 2) // 2
                  for l, t, tl, r in zipped]
            )
        if mode == 11:
            pL = sum(abs(l + t - tl - l) for l, t, tl, _r in zipped)
            pT = sum(abs(l + t - tl - t) for l, t, tl, _r in zipped)
            return L if pL < pT else T
        if mode == 12:
            return _from_channels(
                *[clamp(l + t - tl) for l, t, tl, _r in zipped]
            )
        if mode == 13:
            out = []
            for l, t, tl, _r in zipped:
                avg = (l + t) // 2
                out.append(clamp(avg + int((avg - tl) / 2)))
            return _from_channels(*out)
        raise AssertionError(mode)

    rnd = random.Random(17)
    for _ in range(400):
        L, T, TL, TR = (
            _px(rnd.randrange(256), rnd.randrange(256),
                rnd.randrange(256), rnd.randrange(256))
            for _ in range(4)
        )
        for mode in range(14):
            assert _predict(mode, L, T, TL, TR) == \
                spec(mode, L, T, TL, TR), (mode, L, T, TL, TR)


def test_vp8l_simple_code_wire_order_decoder_only():
    """The simple 2-symbol form assigns code 0 to the FIRST-LISTED
    symbol. A stream listing 9 then 3 (descending — our writer never
    emits this) must decode bit 0 -> 9, bit 1 -> 3."""
    from mapreducego_spark.functions.vp8lcodec import (
        _BitReader,
        _BitWriter,
        _read_prefix_code,
    )

    bw = _BitWriter()
    bw.write(1, 1)  # simple form
    bw.write(1, 1)  # two symbols
    bw.write(1, 1)  # 8-bit first symbol
    bw.write(9, 8)  # first-listed: 9
    bw.write(3, 8)  # second-listed: 3
    bw.write(0, 1)  # the next bit decodes as code 0
    bw.write(1, 1)  # ... then code 1
    br = _BitReader(bw.finish() + b"\x00")
    dec = _read_prefix_code(br, 256)
    assert dec.decode(br) == 9
    assert dec.decode(br) == 3


def test_vp8l_tr_border_and_all_modes_round_trip():
    """Predictor transform with every TR-dependent mode (3/5/9/10)
    and the spec-arithmetic modes (11/12/13) round-trips exactly,
    including at the right border where TR wraps to the current
    row's first pixel (previously a refusal)."""
    from mapreducego_spark.functions.vp8lcodec import (
        decode_webp,
        encode_vp8l,
    )

    for seed in range(6):
        rng = np.random.default_rng(seed)
        img = rng.integers(0, 256, (10, 13, 4), dtype=np.uint8)
        blob = encode_vp8l(
            img, transform="predictor", tile_bits=2,
            predictor_mode_fn=lambda tx, ty, s=seed:
                (3, 5, 6, 8, 9, 10, 11, 12, 13)[(tx + ty + s) % 9],
        )
        meta, arr = decode_webp(blob)
        assert (arr == img).all(), seed
        assert meta["transforms"] == "predictor"


def test_vp8l_meta_prefix_codes_round_trip_with_group_evidence():
    """Meta prefix codes (the spatial code-group image): 2- and
    3-group layouts round-trip exactly and the decoder reports
    n_groups off the wire; single-group files report 1."""
    from mapreducego_spark.functions.vp8lcodec import (
        decode_webp,
        encode_vp8l,
    )

    rng = np.random.default_rng(11)
    for ng in (2, 3):
        img = rng.integers(0, 256, (9, 14, 4), dtype=np.uint8)
        blob = encode_vp8l(
            img, meta=(2, lambda tx, ty, ng=ng: (tx + ty) % ng)
        )
        meta, arr = decode_webp(blob)
        assert (arr == img).all(), ng
        assert meta["n_groups"] == ng
    meta, _ = decode_webp(encode_vp8l(img))
    assert meta["n_groups"] == 1
    # meta + LZ77 refs + cache: group routing holds across
    # multi-pixel copies (the ref's group is its START pixel's)
    base = rng.integers(0, 8, (3, 16, 4), dtype=np.uint8) * 30
    img = np.vstack([base[[y % 3]] for y in range(12)])
    blob = encode_vp8l(
        img, lz77=True, cache_bits=4,
        meta=(2, lambda tx, ty: (tx + ty) % 2),
    )
    meta, arr = decode_webp(blob)
    assert (arr == img).all()
    assert meta["n_groups"] == 2 and meta["n_refs"] > 0
    # encoder guard: groups must cover 0..max contiguously
    with pytest.raises(ValueError, match="contiguous"):
        encode_vp8l(img, meta=(2, lambda tx, ty: 2 * ((tx + ty) % 2)))


# ---------------------------------------------------------- LZW core


def test_lzw_round_trips_and_table_reset():
    from mapreducego_spark.functions.lzwcodec import (
        lzw_decode,
        lzw_encode,
    )

    import random

    rnd = random.Random(5)
    for n in (0, 1, 7, 300, 5000):
        data = bytes(rnd.randrange(256) for _ in range(n))
        assert lzw_decode(lzw_encode(data), expect=n) == data, n
    # compressible input long enough to widen through 9/10/11/12 bits
    # AND hit the 4094-entry in-band ClearCode reset
    data = bytes([(i * i // 7) % 256 for i in range(100_000)])
    assert lzw_decode(lzw_encode(data), expect=len(data)) == data


def test_lzw_endgame_width_at_every_length():
    """The decoder appends one more table entry after the FINAL data
    code and may widen before reading EOD; the encoder must emit EOD
    at that width. Found by a 350-byte PDF fixture page whose last
    code landed the table exactly on 511 — sweep every length
    through the 9->10 boundary on text-like input so the endgame
    lands on every possible table size."""
    from mapreducego_spark.functions.lzwcodec import (
        lzw_decode,
        lzw_encode,
    )

    base = b"the quick brown fox jumps over 0123456789 " * 30
    for n in range(len(base) + 1):
        d = base[:n]
        assert lzw_decode(lzw_encode(d), expect=n) == d, n


def test_lzw_early_change_pinned_on_the_wire():
    """The early-change off-by-one, pinned independently: encoding
    the 255 distinct bytes 0..254 must emit CLEAR + 254 literals at
    width 9, then the 255th literal and EOD at width 10 — the
    decoder's matching widen point is table size 511 = 2^9 - 1. The
    expected stream is built by hand with big-endian bit packing,
    not by the codec."""
    from mapreducego_spark.functions.lzwcodec import (
        lzw_decode,
        lzw_encode,
    )

    data = bytes(range(255))
    bits = format(256, "09b")                      # CLEAR
    for v in range(254):                           # literals 0..253
        bits += format(v, "09b")
    bits += format(254, "010b")                    # literal 254 @ 10
    bits += format(257, "010b")                    # EOD @ 10
    bits += "0" * ((8 - len(bits) % 8) % 8)
    want = bytes(
        int(bits[i : i + 8], 2) for i in range(0, len(bits), 8)
    )
    assert lzw_encode(data) == want
    assert lzw_decode(want, expect=255) == data


def test_lzw_known_wire_vector_and_kwkwk():
    """Hand-computed stream for bytes 7,7,7,8: codes CLEAR 7 258 8
    EOD all at width 9 — 258 is the KwKwK self-reference (the (7,7)
    entry used before the decoder finishes adding it)."""
    from mapreducego_spark.functions.lzwcodec import (
        lzw_decode,
        lzw_encode,
    )

    bits = "".join(format(c, "09b") for c in (256, 7, 258, 8, 257))
    bits += "0" * ((8 - len(bits) % 8) % 8)
    want = bytes(
        int(bits[i : i + 8], 2) for i in range(0, len(bits), 8)
    )
    assert lzw_encode(bytes([7, 7, 7, 8])) == want
    assert lzw_decode(want) == bytes([7, 7, 7, 8])


def test_lzw_refusals_are_loud():
    from mapreducego_spark.functions.lzwcodec import (
        lzw_decode,
        lzw_encode,
    )

    with pytest.raises(ValueError, match="truncated"):
        lzw_decode(b"\x80\x03")  # CLEAR then bits run dry
    with pytest.raises(ValueError, match="past table"):
        # CLEAR then code 300 (unassigned): 100000000 100101100
        lzw_decode(bytes([0b10000000, 0b01001011, 0b00000000]))
    enc = lzw_encode(b"abcabc")
    with pytest.raises(ValueError, match="inflated to|extent"):
        lzw_decode(enc, expect=3)
    with pytest.raises(ValueError, match="inflated to"):
        lzw_decode(enc, expect=99)


# ---------------------------------------------------------- TIFF LZW


def test_tiff_lzw_families_round_trip_with_predictor():
    from mapreducego_spark.functions.tiffcodec import (
        decode_tiff,
        encode_tiff,
    )

    rng = np.random.default_rng(3)
    g = rng.integers(0, 256, (13, 17), dtype=np.uint8)
    c = rng.integers(0, 256, (9, 11, 3), dtype=np.uint8)
    for bo in ("II", "MM"):
        meta, arr = decode_tiff(
            encode_tiff(g, 1, bo, lzw=True, rows_per_strip=4)
        )
        assert (arr == g).all()
        assert meta["family"] == "gray8lzw"
        assert meta["n_strips"] == 4 and meta["byte_order"] == bo
    meta, arr = decode_tiff(
        encode_tiff(c, 2, "MM", lzw=True, predictor=2, rows_per_strip=3)
    )
    assert (arr == c).all()
    assert meta["family"] == "rgb24lzwp"
    meta, arr = decode_tiff(
        encode_tiff(g, 1, "II", lzw=True, predictor=2, rows_per_strip=5)
    )
    assert (arr == g).all()
    assert meta["family"] == "gray8lzwp"
    # WhiteIsZero + LZW: stored inverted, decode restores
    inv = (255 - g.astype(np.int16)).astype(np.uint8)
    meta, arr = decode_tiff(
        encode_tiff(inv, 0, "II", lzw=True, rows_per_strip=4)
    )
    assert (arr == g).all()
    assert meta["family"] == "white0lzw"
    # a smooth gradient — the shape the predictor exists for — must
    # still be exact, not just statistically close
    grad = np.add.outer(
        np.arange(20, dtype=np.int64) * 3, np.arange(40) * 2
    ) % 256
    grad = grad.astype(np.uint8)
    meta, arr = decode_tiff(
        encode_tiff(grad, 1, "II", lzw=True, predictor=2)
    )
    assert (arr == grad).all()


def test_tiff_deflate_families_round_trip():
    """Compression 8 (what modern toolchains write): per-strip zlib
    streams with a strict inflated-size check, both byte orders,
    the WhiteIsZero polarity, and the legacy 32946 alias."""
    import struct

    from mapreducego_spark.functions.tiffcodec import (
        decode_tiff,
        encode_tiff,
    )

    rng = np.random.default_rng(9)
    c = rng.integers(0, 256, (8, 12, 3), dtype=np.uint8)
    for bo in ("II", "MM"):
        meta, arr = decode_tiff(
            encode_tiff(c, 2, bo, deflate=True, rows_per_strip=3)
        )
        assert (arr == c).all()
        assert meta["family"] == "rgb24zip"
        assert meta["byte_order"] == bo and meta["n_strips"] == 3
    g = rng.integers(0, 256, (11, 9), dtype=np.uint8)
    inv = (255 - g.astype(np.int16)).astype(np.uint8)
    meta, arr = decode_tiff(
        encode_tiff(inv, 0, "II", deflate=True, rows_per_strip=4)
    )
    assert (arr == g).all()
    assert meta["family"] == "white0zip"
    # legacy alias 32946 decodes identically (the pre-standard tag)
    blob = bytearray(encode_tiff(g, 1, "II", deflate=True))
    (n,) = struct.unpack("<H", blob[8:10])
    at = 10
    for _ in range(n):
        if struct.unpack("<H", blob[at : at + 2])[0] == 259:
            blob[at + 8 : at + 12] = struct.pack("<I", 32946)
        at += 12
    meta, arr = decode_tiff(bytes(blob))
    assert (arr == g).all() and meta["family"] == "gray8zip"
    # predictor 2 stays scoped to LZW — deflate + predictor refuses
    with pytest.raises(ValueError, match="scoped to LZW"):
        encode_tiff(g, 1, deflate=True, predictor=2)
    with pytest.raises(ValueError, match="pick one"):
        encode_tiff(g, 1, deflate=True, lzw=True)


def test_tiff_lzw_scope_refusals():
    import struct

    from mapreducego_spark.functions.tiffcodec import (
        decode_tiff,
        encode_tiff,
    )

    g = np.arange(48, dtype=np.uint8).reshape(6, 8)
    with pytest.raises(ValueError, match="pick one"):
        encode_tiff(g, 1, packbits=True, lzw=True)
    with pytest.raises(ValueError, match="scoped to LZW"):
        encode_tiff(g, 1, predictor=2)
    with pytest.raises(ValueError, match="predictor 3"):
        encode_tiff(g, 1, lzw=True, predictor=3)
    # wire side: predictor 2 on a non-LZW file refuses; predictor 3
    # refuses outright
    base = encode_tiff(g, 1, "II", lzw=True, predictor=2)

    def patched(blob, tag, new_value):
        out = bytearray(blob)
        (n,) = struct.unpack("<H", out[8:10])
        at = 10
        for _ in range(n):
            if struct.unpack("<H", out[at : at + 2])[0] == tag:
                out[at + 8 : at + 12] = struct.pack("<I", new_value)
                return bytes(out)
            at += 12
        raise AssertionError(tag)

    with pytest.raises(NotImplementedError, match="predictor 3"):
        decode_tiff(patched(base, 317, 3))
    with pytest.raises(NotImplementedError, match="outside LZW"):
        decode_tiff(patched(base, 259, 1))
