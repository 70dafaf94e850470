"""BMP (Windows DIB) codec, pure stdlib + numpy (r13, second batch).

The fourth image format of the multimodal tier, with a decode path
none of the others exercise: BI_RLE8 run-length compression — encoded
runs (count, index), escape sequences (0,0 = end of line, 0,1 = end
of bitmap, 0,2 = delta), and absolute mode (0, n>=3: n literal
indices padded to a 16-bit boundary) — plus the format's structural
quirks: BOTTOM-UP row order and 4-byte row alignment for uncompressed
data. Implemented from the public BITMAPFILEHEADER /
BITMAPINFOHEADER layout (Windows GDI documentation).

Scope (loud): 8-bit palette images uncompressed (BI_RGB) or BI_RLE8
— including the delta escape (0,2,dx,dy), with skipped pixels
defined as palette index 0 (the zeroed-background policy real
renderers apply; documented here so the raster stays fully
specified) — 24-bit BI_RGB truecolor, and TOP-DOWN (negative
height) storage for the uncompressed families (the spec forbids
top-down RLE, and that combination is a ValueError, not a guess).
1/4/16/32-bit depths and other compressions refuse loudly.
Structurally broken files — bad magic, short headers, RLE overruns,
a run past the row end, a delta past the bitmap, missing or early
end-of-bitmap, a raster larger than the pixel data can fill — raise
ValueError, all before the raster is allocated. An RLE8 stream has
to walk through every row of the raster it claims, and its raster
may be no wider than 255 columns per 2 stream bytes (what its runs
could paint): a wider row would be almost all implied background,
so it is refused rather than allocated. The reported
``compression`` carries what the wire actually used: 'rle8d' when
any delta escape appeared, 'pal8td'/'rgb24td' for top-down storage.

Reference parity note: the reference repo (MapReduceGo) has no media
tier; this belongs to the 100 TB training-data north star.
"""

from __future__ import annotations

import struct

import numpy as np


# ------------------------------------------------------------ encode

def _rle8_row(row: np.ndarray) -> bytes:
    """Encode one row as BI_RLE8: maximal runs >= 3 as encoded
    (count, value) pairs; shorter stretches accumulate into absolute
    mode (>= 3 literals, word-padded) or 1-2-count encoded runs."""
    out = bytearray()
    literals: list[int] = []

    def flush_literals() -> None:
        buf = literals
        while buf:
            if len(buf) >= 3:
                n = min(len(buf), 255)
                if n == len(buf) - 1:  # never strand a single literal
                    n -= 1
                out.append(0)
                out.append(n)
                out.extend(buf[:n])
                if n % 2:
                    out.append(0)  # absolute runs pad to 16 bits
                del buf[:n]
            else:
                out.append(1)
                out.append(buf.pop(0))
        literals.clear()

    i, n = 0, len(row)
    while i < n:
        j = i
        while j < n and row[j] == row[i]:
            j += 1
        run = j - i
        if run >= 3:
            flush_literals()
            while run > 0:
                k = min(run, 255)
                out.append(k)
                out.append(int(row[i]))
                run -= k
        else:
            literals.extend(int(row[i]) for _ in range(run))
        i = j
    flush_literals()
    return bytes(out)


def _rle8_sparse_body(pixels: np.ndarray) -> bytes:
    """RLE8 body using DELTA escapes (0,2,dx,dy) to skip the
    background (index 0): leading zeros of a row become a horizontal
    delta, all-zero rows between content rows become one vertical
    delta, trailing all-zero rows advance via end-of-line escapes so
    the cursor lands exactly past the last row before end-of-bitmap
    (keeping the strict EOB contract). Skipped pixels decode as
    index 0 — the documented background policy."""
    h = pixels.shape[0]
    body = bytearray()
    pending = 0
    for y in range(h - 1, -1, -1):  # storage order: bottom-up
        row = pixels[y]
        nz = np.nonzero(row)[0]
        if nz.size == 0:
            pending += 1
            continue
        if pending:
            body += bytes([0, 2, 0, pending])  # vertical delta
            pending = 0
        a, b = int(nz[0]), int(nz[-1]) + 1
        if a:
            body += bytes([0, 2, a, 0])  # horizontal delta
        body += _rle8_row(row[a:b])
        body += b"\x00\x00"  # end of line (trailing zeros implied)
    body += b"\x00\x00" * pending  # trailing empty rows
    body += b"\x00\x01"  # end of bitmap
    return bytes(body)


def encode_bmp(
    width: int,
    height: int,
    pixels: np.ndarray,
    palette: list[tuple[int, int, int]] | None = None,
    rle: bool = False,
    topdown: bool = False,
    delta_sparse: bool = False,
) -> bytes:
    """Encode a BMP: ``pixels`` is (h, w) uint8 indices with a
    ``palette`` (8-bit families) or (h, w, 3) uint8 RGB (24-bit
    BI_RGB). ``rle=True`` selects BI_RLE8 (palette images only;
    ``delta_sparse=True`` additionally skips index-0 background via
    delta escapes). ``topdown=True`` writes negative-height top-down
    storage (uncompressed only — the spec forbids top-down RLE).
    Rows are written bottom-up unless ``topdown``."""
    pixels = np.asarray(pixels, dtype=np.uint8)
    if topdown and rle:
        raise ValueError("top-down BMPs cannot be RLE-compressed")
    if delta_sparse and not rle:
        raise ValueError("delta_sparse requires rle=True")
    rows_iter = (
        range(height) if topdown else range(height - 1, -1, -1)
    )
    if palette is not None:
        if pixels.shape != (height, width):
            raise ValueError("palette image pixels must be (h, w)")
        if rle:
            if delta_sparse:
                data = _rle8_sparse_body(pixels)
            else:
                body = bytearray()
                for y in range(height - 1, -1, -1):  # bottom-up
                    body += _rle8_row(pixels[y])
                    body += b"\x00\x00" if y else b"\x00\x01"
                data = bytes(body)
            compression = 1  # BI_RLE8
        else:
            pad = (-width) % 4
            data = b"".join(
                pixels[y].tobytes() + b"\x00" * pad for y in rows_iter
            )
            compression = 0
        bpp = 8
        table = b"".join(
            bytes((b, g, r, 0)) for r, g, b in palette
        ) + b"\x00" * 4 * (256 - len(palette))
    else:
        if pixels.shape != (height, width, 3):
            raise ValueError("truecolor pixels must be (h, w, 3)")
        if rle:
            raise ValueError("RLE8 needs a palette image")
        pad = (-(width * 3)) % 4
        data = b"".join(
            pixels[y, :, ::-1].tobytes() + b"\x00" * pad  # BGR order
            for y in rows_iter
        )
        compression = 0
        bpp = 24
        table = b""
    info = struct.pack(
        "<IiiHHIIiiII",
        40, width, -height if topdown else height, 1, bpp, compression,
        len(data), 2835, 2835,
        len(table) // 4 if table else 0, 0,
    )
    offset = 14 + 40 + len(table)
    header = struct.pack(
        "<2sIHHI", b"BM", offset + len(data), 0, 0, offset
    )
    return header + info + table + data


# ------------------------------------------------------------ decode

def decode_bmp(payload: bytes):
    """Decode a BMP to (meta, rgb) where rgb is a (h, w, 3) uint8
    array in TOP-DOWN row order (bottom-up storage undone; top-down
    storage passed through) and meta carries width/height/bpp/
    compression ('rgb24', 'pal8', 'rle8', plus 'rle8d' when the wire
    used delta escapes and 'pal8td'/'rgb24td' for top-down
    storage)."""
    if len(payload) < 54 or payload[:2] != b"BM":
        raise ValueError("not a BMP file")
    _magic, _fsize, _r1, _r2, offset = struct.unpack(
        "<2sIHHI", payload[:14]
    )
    hsize, width, height, planes, bpp, compression, _isize = (
        struct.unpack("<IiiHHII", payload[14:38])
    )
    if hsize < 40:
        raise ValueError(f"BITMAPINFOHEADER size {hsize} too small")
    topdown = height < 0
    if topdown:
        height = -height
        if compression != 0:
            # the spec forbids RLE in top-down bitmaps
            raise ValueError("top-down BMP cannot be RLE-compressed")
    if planes != 1:
        raise ValueError(f"BMP planes {planes} != 1")
    n_colors = struct.unpack("<I", payload[46:50])[0]
    if bpp == 24:
        if compression != 0:
            raise NotImplementedError(
                f"compression {compression} on a 24-bit BMP"
            )
        pad = (-(width * 3)) % 4
        stride = width * 3 + pad
        need = offset + stride * height
        if len(payload) < need:
            raise ValueError("truncated 24-bit pixel data")
        rows = []
        # bottom-up: storage row s holds image row (height-1-s), so
        # reading storage last-to-first yields top-down image order;
        # top-down storage is already in image order
        order = range(height) if topdown else range(height - 1, -1, -1)
        for s in order:
            base = offset + s * stride
            rows.append(
                np.frombuffer(
                    payload[base : base + width * 3], np.uint8
                ).reshape(width, 3)[:, ::-1]  # BGR -> RGB
            )
        rgb = np.stack(rows)
        return (
            {"width": width, "height": height, "bpp": 24,
             "compression": "rgb24td" if topdown else "rgb24"},
            rgb,
        )
    if bpp != 8:
        raise NotImplementedError(f"BMP bit depth {bpp} (8/24 only)")
    if n_colors == 0:
        n_colors = 256
    tbl = payload[14 + hsize : 14 + hsize + 4 * n_colors]
    if len(tbl) != 4 * n_colors:
        raise ValueError("truncated BMP color table")
    pal = np.frombuffer(tbl, np.uint8).reshape(n_colors, 4)[:, :3][:, ::-1]
    if width < 0:
        raise ValueError(f"BMP width {width} < 0")
    if compression == 0:
        pad = (-width) % 4
        stride = width + pad
        if len(payload) < offset + stride * height:
            raise ValueError("truncated 8-bit pixel data")
        idx = np.zeros((height, width), dtype=np.uint8)
        for y in range(height):
            s = y if topdown else height - 1 - y
            base = offset + s * stride
            idx[y] = np.frombuffer(
                payload[base : base + width], np.uint8
            )
        kind = "pal8td" if topdown else "pal8"
    elif compression == 1:  # BI_RLE8
        # The walk collects the painted spans and the raster is
        # allocated after it. A stream that passes the end-of-bitmap
        # check has moved the cursor through every row, so the height
        # is proven by then; the width is checked against the 255
        # columns each 2-byte code can paint.
        spans = []
        pos = offset
        y = height - 1  # RLE rows run bottom-up
        x = 0
        done = False
        saw_delta = False
        while not done:
            if pos + 2 > len(payload):
                raise ValueError("RLE8 stream truncated")
            count, val = payload[pos], payload[pos + 1]
            pos += 2
            if count > 0:  # encoded run
                if x + count > width or y < 0:
                    raise ValueError("RLE8 run past the row end")
                spans.append((y, x, count, val))
                x += count
            elif val == 0:  # end of line
                y -= 1
                x = 0
            elif val == 1:  # end of bitmap
                # Loud-scope contract: EOB must arrive only once every
                # row has been emitted — either the last row closed
                # with an end-of-line escape (y == -1) or EOB follows
                # a fully painted final row (y == 0, x == width). A
                # truncated-but-well-formed stream would otherwise
                # decode to a silently part-black image.
                if not (y == -1 or (y == 0 and x == width)):
                    raise ValueError(
                        "RLE8 end-of-bitmap before all rows were"
                        f" written (row {y}, col {x} of {width})"
                    )
                done = True
            elif val == 2:  # delta: skip (dx, dy); skipped pixels
                # stay palette index 0 (documented background policy)
                if pos + 2 > len(payload):
                    raise ValueError("truncated RLE8 delta escape")
                dx, dy = payload[pos], payload[pos + 1]
                pos += 2
                if x + dx > width or y - dy < 0:
                    raise ValueError(
                        f"RLE8 delta ({dx},{dy}) past the bitmap from"
                        f" (row {y}, col {x})"
                    )
                x += dx
                y -= dy
                saw_delta = True
            else:  # absolute mode: val literal indices, word-padded
                n = val
                end = pos + n + (n % 2)
                if end > len(payload):
                    raise ValueError("RLE8 absolute run truncated")
                if x + n > width or y < 0:
                    raise ValueError("RLE8 absolute run past the row end")
                spans.append(
                    (y, x, n, np.frombuffer(payload[pos : pos + n], np.uint8))
                )
                x += n
                pos = end
        if width > 255 * ((len(payload) - offset) // 2):
            raise ValueError(
                f"RLE8 stream of {len(payload) - offset} bytes cannot"
                f" paint a {width}-pixel row"
            )
        idx = np.zeros((height, width), dtype=np.uint8)
        for y, x, n, v in spans:
            idx[y, x : x + n] = v
        kind = "rle8d" if saw_delta else "rle8"
    else:
        raise NotImplementedError(
            f"BMP compression {compression} (BI_RGB/BI_RLE8 only)"
        )
    if int(idx.max(initial=0)) >= n_colors:
        raise ValueError("pixel index outside the color table")
    return (
        {"width": width, "height": height, "bpp": 8,
         "compression": kind},
        pal[idx],
    )
