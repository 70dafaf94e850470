"""TIFF 6.0 baseline codec (pure stdlib + numpy): the scanned-
document format (r15 verdict #5).

Writer and reader for baseline TIFF as the spec defines it
(Adobe TIFF 6.0, 1992): II/MM byte orders, magic 42, a single IFD
with ascending tag order, strip layout (RowsPerStrip < height so
multi-strip reassembly is real), 8-bit grayscale (Photometric-
Interpretation 1 = BlackIsZero AND 0 = WhiteIsZero, inverted on
decode to the BlackIsZero convention) and 8-bit RGB (Photometric 2),
uncompressed (Compression 1), PackBits (Compression 32773,
§9 — literal and run packets, the -128 noop, rows packed per
scanline as the spec recommends), and — r17; r16 verdict #3 — LZW
(Compression 5, §13: MSB-first 9..12-bit codes with the early-
change width rule, per-strip streams beginning with ClearCode,
via functions/lzwcodec.py) with the optional horizontal-
differencing Predictor (tag 317 = 2, §14, per-sample byte
differencing inverted by a row cumsum) — the dominant real
scanned-document shape — and Deflate (Compression 8, plus the
legacy 32946 alias; per-strip zlib streams, strict inflated-size
check) — what modern scanners and image toolchains write.

Scope (loud, not silent): JPEG-in-TIFF (6/7) and CCITT (2/3/4)
compressions, palette color (Photometric 3), bilevel/4-bit/
16-bit BitsPerSample, tiled layout (TileWidth/TileLength), planar
configuration 2, Predictor 2 outside LZW (the §14 scoping) and
Predictor 3 (floating point), alpha/extra samples, and multi-page
IFD chains all raise NotImplementedError/ValueError — never a
silently wrong raster. The IFD walk mirrors the Exif walk
(multimodal.py parse_exif) but verifies strip geometry exactly:
every strip must decompress to rows_in_strip * width * samples
bytes, and declared StripByteCounts are checked against the wire.

Reference analog: opaque media bytes at /root/reference/mpMaster/
master.go:77-89; this module is that contract with the TIFF 6.0
grammar on top.
"""

from __future__ import annotations

import struct

import numpy as np

_TYPE_SIZES = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8}  # BYTE ASCII SHORT LONG RATIONAL

_COMPRESSION_NONE = 1
_COMPRESSION_LZW = 5
_COMPRESSION_DEFLATE = 8
_COMPRESSION_DEFLATE_LEGACY = 32946
_COMPRESSION_PACKBITS = 32773
_COMPRESSION_NAMES = {
    2: "CCITT Group 3 1D",
    3: "CCITT T.4",
    4: "CCITT T.6",
    6: "old-style JPEG",
    7: "JPEG",
}


def _packbits_encode_row(row: bytes) -> bytes:
    """One scanline as PackBits packets (TIFF 6.0 §9): runs of >= 3
    identical bytes become run packets (header 257 - n as a signed
    byte), everything else literal packets of <= 128 bytes."""
    out = bytearray()
    i, n = 0, len(row)
    lit_start = 0

    def flush_literal(end: int) -> None:
        j = lit_start
        while j < end:
            k = min(128, end - j)
            out.append(k - 1)
            out.extend(row[j : j + k])
            j += k

    while i < n:
        run = 1
        while i + run < n and row[i + run] == row[i] and run < 128:
            run += 1
        if run >= 3:
            flush_literal(i)
            out.append(257 - run)
            out.append(row[i])
            i += run
            lit_start = i
        else:
            i += run
    flush_literal(n)
    return bytes(out)


def _packbits_decode(data: bytes, expect: int) -> bytes:
    """Strict PackBits inflate: must produce EXACTLY ``expect``
    bytes from exactly ``data`` — short, long, or trailing-garbage
    streams refuse."""
    out = bytearray()
    i = 0
    while i < len(data):
        if len(out) >= expect:
            raise ValueError(
                f"PackBits strip overruns its {expect}-byte extent"
            )
        n = data[i] - 256 if data[i] > 127 else data[i]
        i += 1
        if n == -128:  # noop
            continue
        if n >= 0:
            if i + n + 1 > len(data):
                raise ValueError("PackBits literal packet truncated")
            out += data[i : i + n + 1]
            i += n + 1
        else:
            if i >= len(data):
                raise ValueError("PackBits run packet truncated")
            out += bytes([data[i]]) * (1 - n)
            i += 1
    if len(out) != expect:
        raise ValueError(
            f"PackBits strip inflated to {len(out)} bytes,"
            f" expected {expect}"
        )
    return bytes(out)


def encode_tiff(
    samples: np.ndarray,
    photometric: int,
    byte_order: str = "II",
    packbits: bool = False,
    rows_per_strip: int | None = None,
    lzw: bool = False,
    deflate: bool = False,
    predictor: int = 1,
) -> bytes:
    """Baseline TIFF bytes for an (h, w) grayscale or (h, w, 3) RGB
    uint8 raster. ``photometric`` is the stored interpretation (0 =
    WhiteIsZero — the SAMPLES passed here are stored as-is, callers
    invert beforehand —, 1 = BlackIsZero, 2 = RGB). The IFD sits at
    offset 8 with ascending tags; oversize values and strip data
    follow it. ``lzw`` stores strips as TIFF §13 LZW streams;
    ``deflate`` as zlib streams (Compression 8); ``predictor`` = 2
    applies §14 horizontal differencing per row and sample before
    compression (LZW only, as the spec scopes it)."""
    if samples.dtype != np.uint8:
        raise ValueError("samples must be uint8")
    if packbits + lzw + deflate > 1:
        raise ValueError("pick one of packbits / lzw / deflate")
    if predictor not in (1, 2):
        raise ValueError(f"predictor {predictor} (1 or 2)")
    if predictor == 2 and not lzw:
        raise ValueError("predictor 2 is scoped to LZW (TIFF 6.0 §14)")
    if samples.ndim == 2:
        h, w = samples.shape
        spp = 1
        if photometric not in (0, 1):
            raise ValueError("grayscale needs photometric 0 or 1")
    elif samples.ndim == 3 and samples.shape[2] == 3:
        h, w = samples.shape[:2]
        spp = 3
        if photometric != 2:
            raise ValueError("RGB needs photometric 2")
    else:
        raise ValueError(f"bad raster shape {samples.shape}")
    if byte_order not in ("II", "MM"):
        raise ValueError("byte_order must be 'II' or 'MM'")
    e = "<" if byte_order == "II" else ">"
    rps = rows_per_strip if rows_per_strip is not None else h
    if rps < 1:
        raise ValueError("rows_per_strip must be >= 1")
    n_strips = (h + rps - 1) // rps

    stored = samples
    if predictor == 2:
        # horizontal differencing: row[x] -= row[x-1] per sample
        # channel, leftmost kept (TIFF 6.0 §14), byte arithmetic
        wide = samples.reshape(h, w, spp).astype(np.int16)
        wide[:, 1:, :] = wide[:, 1:, :] - samples.reshape(h, w, spp)[
            :, :-1, :
        ]
        stored = (wide % 256).astype(np.uint8)

    strips: list[bytes] = []
    flat = stored.reshape(h, w * spp)
    for s in range(n_strips):
        rows = flat[s * rps : (s + 1) * rps]
        if packbits:
            strips.append(
                b"".join(_packbits_encode_row(r.tobytes()) for r in rows)
            )
        elif lzw:
            from mapreducego_spark.functions.lzwcodec import lzw_encode

            strips.append(lzw_encode(rows.tobytes()))
        elif deflate:
            import zlib

            strips.append(zlib.compress(rows.tobytes(), 6))
        else:
            strips.append(rows.tobytes())

    comp = (
        _COMPRESSION_PACKBITS
        if packbits
        else _COMPRESSION_LZW
        if lzw
        else _COMPRESSION_DEFLATE if deflate else _COMPRESSION_NONE
    )
    # entries: (tag, type, count, values)
    entries = [
        (256, 4, 1, [w]),
        (257, 4, 1, [h]),
        (258, 3, spp, [8] * spp),
        (259, 3, 1, [comp]),
        (262, 3, 1, [photometric]),
        (273, 4, n_strips, None),  # offsets patched below
        (277, 3, 1, [spp]),
        (278, 4, 1, [rps]),
        (279, 4, n_strips, [len(s) for s in strips]),
    ]
    if predictor == 2:
        entries.append((317, 3, 1, [2]))
    ifd_size = 2 + 12 * len(entries) + 4
    extra_off = 8 + ifd_size
    # oversize value area layout: walk entries, assign offsets
    extra = bytearray()

    def fits_inline(typ: int, count: int) -> bool:
        return _TYPE_SIZES[typ] * count <= 4

    packed: dict[int, bytes] = {}
    offsets_entry_off = None
    for tag, typ, count, values in entries:
        if values is None:
            continue
        fmt = {3: "H", 4: "I"}[typ]
        raw = b"".join(struct.pack(e + fmt, v) for v in values)
        if not fits_inline(typ, count):
            packed[tag] = struct.pack(e + "I", extra_off + len(extra))
            extra += raw
        else:
            packed[tag] = raw.ljust(4, b"\x00")
    # strip data lands after the extra area; StripOffsets may itself
    # live in the extra area (n_strips > 1) — reserve its slot now
    so_count = n_strips
    so_inline = _TYPE_SIZES[4] * so_count <= 4
    if not so_inline:
        so_slot = extra_off + len(extra)
        extra += bytes(4 * so_count)
        packed[273] = struct.pack(e + "I", so_slot)
    data_off = extra_off + len(extra)
    strip_offs = []
    at = data_off
    for s in strips:
        strip_offs.append(at)
        at += len(s)
    so_raw = b"".join(struct.pack(e + "I", o) for o in strip_offs)
    if so_inline:
        packed[273] = so_raw.ljust(4, b"\x00")
    else:
        extra[so_slot - extra_off : so_slot - extra_off + 4 * so_count] = (
            so_raw
        )

    out = bytearray()
    out += byte_order.encode("ascii") + struct.pack(e + "H", 42)
    out += struct.pack(e + "I", 8)
    out += struct.pack(e + "H", len(entries))
    for tag, typ, count, _ in entries:
        out += struct.pack(e + "HHI", tag, typ, count) + packed[tag]
    out += struct.pack(e + "I", 0)  # no next IFD
    out += extra
    for s in strips:
        out += s
    return bytes(out)


def _read_values(payload: bytes, e: str, typ: int, count: int,
                 inline: bytes) -> list[int]:
    if typ not in (3, 4):
        raise NotImplementedError(f"IFD value type {typ} (SHORT/LONG only)")
    size = _TYPE_SIZES[typ] * count
    fmt = {3: "H", 4: "I"}[typ]
    if size <= 4:
        raw = inline[:size]
    else:
        (off,) = struct.unpack(e + "I", inline)
        raw = payload[off : off + size]
        if len(raw) != size:
            raise ValueError(f"IFD value at {off} runs past the file")
    return [
        struct.unpack(e + fmt, raw[k : k + _TYPE_SIZES[typ]])[0]
        for k in range(0, size, _TYPE_SIZES[typ])
    ]


def decode_tiff(payload: bytes) -> tuple[dict, np.ndarray]:
    """Decode baseline TIFF to (meta, raster): raster is (h, w)
    uint8 luminance in the BlackIsZero convention (WhiteIsZero input
    is inverted) or (h, w, 3) RGB. meta carries width/height/
    byte_order/n_strips and ``family`` naming the wire path actually
    walked ("gray8"/"white0"/"rgb24", "+pb" when PackBits) so each
    path can be hash-gated. Everything outside baseline gray/RGB
    refuses loudly — see the module docstring scope."""
    if payload[:2] == b"II":
        e = "<"
    elif payload[:2] == b"MM":
        e = ">"
    else:
        raise ValueError("bad TIFF byte order mark")
    if len(payload) < 8:
        raise ValueError("truncated TIFF header")
    (magic,) = struct.unpack(e + "H", payload[2:4])
    if magic != 42:
        raise ValueError(f"bad TIFF magic {magic} (want 42)")
    (ifd_off,) = struct.unpack(e + "I", payload[4:8])
    if ifd_off + 2 > len(payload):
        raise ValueError("IFD offset past the end of file")
    (n_entries,) = struct.unpack(e + "H", payload[ifd_off : ifd_off + 2])
    at = ifd_off + 2
    if at + 12 * n_entries + 4 > len(payload):
        raise ValueError("IFD runs past the end of file")
    tags: dict[int, list[int]] = {}
    prev_tag = -1
    for _ in range(n_entries):
        tag, typ, count = struct.unpack(e + "HHI", payload[at : at + 8])
        if tag <= prev_tag:
            raise ValueError(
                f"IFD tags out of ascending order at tag {tag}"
            )
        prev_tag = tag
        if tag in (322, 323):
            raise NotImplementedError("tiled TIFF (strips only)")
        if typ in (3, 4):
            tags[tag] = _read_values(
                payload, e, typ, count, payload[at + 8 : at + 12]
            )
        # other types (ASCII descriptions, RATIONAL resolutions) are
        # skippable metadata — their VALUES are never consulted
        at += 12
    (next_ifd,) = struct.unpack(e + "I", payload[at : at + 4])
    if next_ifd:
        raise NotImplementedError("multi-page TIFF (single IFD only)")

    def one(tag: int, default: int | None = None) -> int:
        if tag not in tags:
            if default is None:
                raise ValueError(f"required TIFF tag {tag} missing")
            return default
        if len(tags[tag]) != 1:
            raise ValueError(f"tag {tag} must have one value")
        return tags[tag][0]

    w, h = one(256), one(257)
    if w < 1 or h < 1:
        raise ValueError(f"bad dimensions {w}x{h}")
    spp = one(277, 1)
    if spp not in (1, 3):
        raise NotImplementedError(
            f"{spp} samples per pixel (gray/RGB only; alpha refuses)"
        )
    bits = tags.get(258, [1])
    if bits != [8] * spp:
        raise NotImplementedError(
            f"BitsPerSample {bits} (8-bit baseline only)"
        )
    comp = one(259, _COMPRESSION_NONE)
    if comp == _COMPRESSION_DEFLATE_LEGACY:
        comp = _COMPRESSION_DEFLATE  # 32946: the pre-standard alias
    if comp not in (
        _COMPRESSION_NONE, _COMPRESSION_PACKBITS, _COMPRESSION_LZW,
        _COMPRESSION_DEFLATE,
    ):
        name = _COMPRESSION_NAMES.get(comp, str(comp))
        raise NotImplementedError(f"TIFF compression {name}")
    photo = one(262)
    if photo == 3:
        raise NotImplementedError("palette-color TIFF")
    if photo not in (0, 1, 2):
        raise NotImplementedError(f"photometric interpretation {photo}")
    if (photo == 2) != (spp == 3):
        raise ValueError(
            f"photometric {photo} disagrees with {spp} samples/pixel"
        )
    if one(284, 1) != 1:
        raise NotImplementedError("planar configuration 2")
    predictor = one(317, 1)
    if predictor not in (1, 2):
        raise NotImplementedError(f"TIFF predictor {predictor}")
    if predictor == 2 and comp != _COMPRESSION_LZW:
        raise NotImplementedError(
            "predictor 2 outside LZW (TIFF 6.0 §14 scope)"
        )
    rps = one(278, h)
    if rps < 1:
        raise ValueError("RowsPerStrip 0")
    offs = tags.get(273)
    counts = tags.get(279)
    if offs is None or counts is None:
        raise ValueError("StripOffsets/StripByteCounts missing")
    n_strips = (h + rps - 1) // rps
    if len(offs) != n_strips or len(counts) != n_strips:
        raise ValueError(
            f"{len(offs)} strip offsets / {len(counts)} counts for"
            f" {n_strips} strips"
        )
    rowbytes = w * spp
    out = bytearray()
    for s, (off, cnt) in enumerate(zip(offs, counts)):
        raw = payload[off : off + cnt]
        if len(raw) != cnt:
            raise ValueError(f"strip {s} runs past the end of file")
        rows_here = min(rps, h - s * rps)
        expect = rows_here * rowbytes
        if comp == _COMPRESSION_PACKBITS:
            out += _packbits_decode(raw, expect)
        elif comp == _COMPRESSION_LZW:
            from mapreducego_spark.functions.lzwcodec import lzw_decode

            out += lzw_decode(raw, expect)
        elif comp == _COMPRESSION_DEFLATE:
            import zlib

            try:
                inflated = zlib.decompress(raw)
            except zlib.error as e:
                raise ValueError(
                    f"corrupt Deflate strip {s}: {e}"
                ) from e
            if len(inflated) != expect:
                raise ValueError(
                    f"Deflate strip {s} inflated to {len(inflated)}"
                    f" bytes, expected {expect}"
                )
            out += inflated
        else:
            if cnt != expect:
                raise ValueError(
                    f"strip {s} holds {cnt} bytes, expected {expect}"
                )
            out += raw
    arr = np.frombuffer(bytes(out), dtype=np.uint8)
    if predictor == 2:
        # invert horizontal differencing: cumulative sum per row and
        # sample channel, byte arithmetic
        acc = arr.reshape(h, w, spp).astype(np.int64)
        arr = (np.cumsum(acc, axis=1) % 256).astype(np.uint8)
    arr = (
        arr.reshape(h, w) if spp == 1 else arr.reshape(h, w, 3)
    )
    if photo == 0:
        arr = (255 - arr.astype(np.int16)).astype(np.uint8)
        base = "white0"
    elif photo == 1:
        base = "gray8"
    else:
        base = "rgb24"
    family = base + {
        _COMPRESSION_PACKBITS: "pb",
        _COMPRESSION_LZW: "lzw",
        _COMPRESSION_DEFLATE: "zip",
        _COMPRESSION_NONE: "",
    }[comp] + ("p" if predictor == 2 else "")
    meta = {
        "width": w,
        "height": h,
        "byte_order": payload[:2].decode("ascii"),
        "n_strips": n_strips,
        "family": family,
    }
    return meta, arr
