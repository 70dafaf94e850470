"""GIF87a/89a codec, pure stdlib + numpy (r13, second batch).

The third REAL image format of the multimodal tier (after the PNG
decoder and jpegcodec.py), and a genuinely distinct entropy coder:
GIF is LZW with variable-width codes — dictionary codes grow from
``min_code_size + 1`` bits up to 12, packed LSB-first into 255-byte
sub-blocks, with in-band CLEAR/EOI control codes and the classic
KwKwK corner case (a code referencing the entry being defined).
Implemented from the public GIF89a specification (CompuServe, 1990)
and the LZW description in Welch's 1984 IEEE Computer paper.

Scope (loud): 8-bit-index images with global and per-frame local
color tables, the 4-pass interlace, multi-frame animations with
Graphic Control Extensions (delay, transparency index, and — since
r14 — ALL FOUR specified disposal methods: 0 "unspecified" and 1
"do not dispose" leave the canvas, 2 "restore to background" wipes
the frame's region back to the background color, 3 "restore to
previous" reverts the canvas to its pre-frame state; the reserved
values 4-7 raise NotImplementedError), comment/application
extensions skipped by their sub-block grammar (NETSCAPE loop blocks
are what real animated GIFs carry). Structurally broken files — bad
magic, truncated sub-blocks, an LZW code past the dictionary, a
missing trailer — raise ValueError.

Reference parity note: the reference repo (MapReduceGo) has no media
tier; this belongs to the 100 TB training-data north star (crawl
corpora are full of GIFs; frame extraction + composition feed the
image dedup/caption tiers).
"""

from __future__ import annotations

import struct

import numpy as np


# ------------------------------------------------------------- LZW

def _lzw_encode(indices, min_code_size: int) -> bytes:
    """GIF-flavored LZW: variable code width starting at
    min_code_size+1, CLEAR emitted first and whenever the dictionary
    fills (4096), EOI last. The encoder widens one entry earlier
    than the decoder (it adds its dictionary entry immediately after
    emitting, the decoder one code later) — the classic +1 rule."""
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    acc = 0
    nbits = 0

    def emit(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    def fresh():
        return {(c,): c for c in range(clear)}, eoi + 1, min_code_size + 1

    table, nxt, width = fresh()
    emit(clear, width)
    cur: tuple = ()
    n_data_codes = 0
    for px in indices:
        px = int(px)
        if px >= clear:
            raise ValueError(
                f"pixel index {px} outside {min_code_size}-bit alphabet"
            )
        cand = cur + (px,)
        if cand in table:
            cur = cand
            continue
        emit(table[cur], width)
        n_data_codes += 1
        table[cand] = nxt
        nxt += 1
        if nxt == (1 << width) + 1 and width < 12:
            width += 1
        if nxt == 4097:  # dictionary full: reset in-band
            emit(clear, width)
            table, nxt, width = fresh()
            n_data_codes = 0  # decoder appends restart post-CLEAR too
        cur = (px,)
    if cur:
        emit(table[cur], width)
        n_data_codes += 1
    # The decoder appends one more table entry after the FINAL data
    # code (its appends lag the encoder's by one code) and widens if
    # that append fills the current width — so EOI must be emitted at
    # the width the decoder will be reading with, not the width the
    # encoder's (one-short) table implies. Without this, a stream
    # whose final entry lands exactly on a 2^width boundary loses the
    # EOI's top bit (found by the r14 disposal fixtures, i=0). The
    # decoder only appends when the final code is not the first after
    # the most recent CLEAR — hence the per-CLEAR counter.
    if n_data_codes >= 2:
        nxt += 1
        if nxt == (1 << width) + 1 and width < 12:
            width += 1
    emit(eoi, width)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _lzw_decode(data: bytes, min_code_size: int, n_pixels: int):
    """Inverse of _lzw_encode; returns exactly n_pixels indices.
    Handles CLEAR resets, the KwKwK self-reference, the full-table
    (deferred clear) state, and refuses out-of-range codes."""
    clear = 1 << min_code_size
    eoi = clear + 1
    out = np.empty(n_pixels, dtype=np.uint8)
    n_out = 0
    pos = 0  # bit cursor
    total_bits = len(data) * 8

    def read(width: int) -> int:
        nonlocal pos
        if pos + width > total_bits:
            raise ValueError("LZW stream truncated mid-code")
        byte, bit = divmod(pos, 8)
        val = int.from_bytes(
            data[byte : byte + (bit + width + 7) // 8], "little"
        )
        pos += width
        return (val >> bit) & ((1 << width) - 1)

    table: list[bytes] = []
    width = min_code_size + 1
    prev: bytes | None = None
    while True:
        code = read(width)
        if code == clear:
            table = [bytes([c]) for c in range(clear)] + [b"", b""]
            width = min_code_size + 1
            prev = None
            continue
        if code == eoi:
            break
        if not table:
            raise ValueError("LZW data before any CLEAR code")
        if prev is None:  # first code after CLEAR is a literal
            if code >= clear:
                raise ValueError(f"non-literal first LZW code {code}")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
        elif code == len(table):
            entry = prev + prev[:1]  # KwKwK
        else:
            raise ValueError(
                f"LZW code {code} past dictionary size {len(table)}"
            )
        if n_out + len(entry) > n_pixels:
            raise ValueError("LZW stream decodes past the image size")
        out[n_out : n_out + len(entry)] = np.frombuffer(entry, np.uint8)
        n_out += len(entry)
        if prev is not None and len(table) < 4096:
            table.append(prev + entry[:1])
            if len(table) == (1 << width) and width < 12:
                width += 1
        prev = entry
    if n_out != n_pixels:
        raise ValueError(
            f"LZW stream yielded {n_out} of {n_pixels} pixels"
        )
    return out


# ------------------------------------------------------------ encode

_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def _interlace_order(h: int) -> list[int]:
    return [y for start, step in _INTERLACE_PASSES
            for y in range(start, h, step)]


def _color_table(palette: list[tuple[int, int, int]]):
    """Pad a palette to the next power of two (>= 2); returns
    (bytes, size_field) with size_field = log2(len) - 1."""
    bits = max(1, (len(palette) - 1).bit_length())
    full = 1 << bits
    data = bytearray()
    for j in range(full):
        r, g, b = palette[j] if j < len(palette) else (0, 0, 0)
        data += bytes((r, g, b))
    return bytes(data), bits - 1


def _sub_blocks(data: bytes) -> bytes:
    out = bytearray()
    for off in range(0, len(data), 255):
        chunk = data[off : off + 255]
        out.append(len(chunk))
        out += chunk
    out.append(0)
    return bytes(out)


def encode_gif(
    width: int,
    height: int,
    palette: list[tuple[int, int, int]],
    frames: list[dict],
    bg_index: int = 0,
    loop: bool = False,
) -> bytes:
    """Encode frames as GIF89a (GIF87a when a single frame carries no
    control data). Each frame dict: ``indices`` (h, w) uint8 patch,
    ``left``/``top`` (default 0), ``delay_cs``, ``transparent``
    (index or None), ``interlace`` (bool), ``palette`` (local color
    table or None = global), ``disposal`` (0/1)."""
    animated = len(frames) > 1 or any(
        f.get("delay_cs") or f.get("transparent") is not None
        for f in frames
    )
    gct, gct_size = _color_table(palette)
    out = bytearray(b"GIF89a" if animated else b"GIF87a")
    out += struct.pack(
        "<HHBBB",
        width, height,
        0x80 | (7 << 4) | gct_size,  # GCT present, 8-bit source
        bg_index, 0,
    )
    out += gct
    if loop:
        out += b"\x21\xff\x0bNETSCAPE2.0\x03\x01\x00\x00\x00"
    for f in frames:
        idx = np.asarray(f["indices"], dtype=np.uint8)
        fh, fw = idx.shape
        if animated:
            packed = (f.get("disposal", 1) & 7) << 2
            t = f.get("transparent")
            if t is not None:
                packed |= 1
            out += b"\x21\xf9\x04" + bytes([packed]) + struct.pack(
                "<H", f.get("delay_cs", 0)
            ) + bytes([t or 0, 0])
        local = f.get("palette")
        lct = b""
        packed = 0
        if local is not None:
            lct, lct_size = _color_table(local)
            packed |= 0x80 | lct_size
            alphabet = len(local)
        else:
            alphabet = len(palette)
        if f.get("interlace"):
            packed |= 0x40
        out += b"\x2c" + struct.pack(
            "<HHHH", f.get("left", 0), f.get("top", 0), fw, fh
        ) + bytes([packed]) + lct
        rows = idx[_interlace_order(fh)] if f.get("interlace") else idx
        mcs = max(2, (alphabet - 1).bit_length())
        out.append(mcs)
        out += _sub_blocks(_lzw_encode(rows.reshape(-1), mcs))
    out.append(0x3B)
    return bytes(out)


# ------------------------------------------------------------ decode

def decode_gif(payload: bytes):
    """Parse a GIF into (meta, frames).

    ``meta``: version, width, height, bg_index, global palette
    (list of (r, g, b)). ``frames``: one dict per image descriptor —
    left/top/width/height, delay_cs, transparent (index or None),
    interlaced, disposal, palette (the effective table: local if
    present else global), indices (h, w) uint8 array in SCREEN row
    order (interlace undone)."""
    if len(payload) < 13 or payload[:4] != b"GIF8":
        raise ValueError("not a GIF file")
    version = payload[3:6].decode("ascii")
    if version not in ("87a", "89a"):
        raise ValueError(f"unknown GIF version {version!r}")
    width, height, packed, bg_index, _aspect = struct.unpack(
        "<HHBBB", payload[6:13]
    )
    pos = 13
    gpal = None
    if packed & 0x80:
        n = 2 << (packed & 7)
        raw = payload[pos : pos + 3 * n]
        if len(raw) != 3 * n:
            raise ValueError("truncated global color table")
        gpal = [tuple(raw[3 * j : 3 * j + 3]) for j in range(n)]
        pos += 3 * n
    frames = []
    gce = None
    while True:
        if pos >= len(payload):
            raise ValueError("GIF missing trailer")
        block = payload[pos]
        pos += 1
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension
            if pos >= len(payload):
                raise ValueError("truncated extension block")
            label = payload[pos]
            pos += 1
            sub_start = pos
            subs = bytearray()
            while True:
                if pos >= len(payload):
                    raise ValueError("truncated extension sub-blocks")
                n = payload[pos]
                pos += 1
                if n == 0:
                    break
                subs += payload[pos : pos + n]
                if len(payload) < pos + n:
                    raise ValueError("truncated extension sub-block")
                pos += n
            if label == 0xF9:  # Graphic Control Extension
                if len(subs) != 4:
                    raise ValueError("GCE payload must be 4 bytes")
                flags, delay, tidx = struct.unpack("<BHB", subs)
                disposal = (flags >> 2) & 7
                if disposal > 3:
                    raise NotImplementedError(
                        f"GIF disposal method {disposal} (reserved;"
                        " 0-3 are the specified methods)"
                    )
                gce = {
                    "delay_cs": delay,
                    "transparent": tidx if flags & 1 else None,
                    "disposal": disposal,
                }
            # comment (0xFE) / application (0xFF) / plain text
            # (0x01): skipped by the sub-block grammar above
            continue
        if block != 0x2C:
            raise ValueError(f"unknown GIF block introducer 0x{block:02x}")
        if len(payload) < pos + 9:
            raise ValueError("truncated image descriptor")
        left, top, fw, fh, fpacked = struct.unpack(
            "<HHHHB", payload[pos : pos + 9]
        )
        pos += 9
        pal = gpal
        if fpacked & 0x80:
            n = 2 << (fpacked & 7)
            raw = payload[pos : pos + 3 * n]
            if len(raw) != 3 * n:
                raise ValueError("truncated local color table")
            pal = [tuple(raw[3 * j : 3 * j + 3]) for j in range(n)]
            pos += 3 * n
        if pal is None:
            raise ValueError("image has neither local nor global palette")
        if left + fw > width or top + fh > height:
            raise ValueError("image descriptor exceeds the logical screen")
        if pos >= len(payload):
            raise ValueError("truncated image data")
        mcs = payload[pos]
        pos += 1
        if not 2 <= mcs <= 8:
            raise ValueError(f"LZW min code size {mcs} out of range")
        data = bytearray()
        while True:
            if pos >= len(payload):
                raise ValueError("truncated image sub-blocks")
            n = payload[pos]
            pos += 1
            if n == 0:
                break
            if len(payload) < pos + n:
                raise ValueError("truncated image sub-block")
            data += payload[pos : pos + n]
            pos += n
        idx = _lzw_decode(bytes(data), mcs, fw * fh).reshape(fh, fw)
        if int(idx.max(initial=0)) >= len(pal):
            raise ValueError("pixel index outside the color table")
        if fpacked & 0x40:  # undo interlace
            lined = np.empty_like(idx)
            lined[_interlace_order(fh)] = idx
            idx = lined
        frames.append(
            {
                "left": left, "top": top, "width": fw, "height": fh,
                "delay_cs": (gce or {}).get("delay_cs", 0),
                "transparent": (gce or {}).get("transparent"),
                "interlaced": bool(fpacked & 0x40),
                "disposal": (gce or {}).get("disposal", 0),
                "palette": pal,
                "indices": idx,
            }
        )
        gce = None
    if not frames:
        raise ValueError("GIF contains no image")
    meta = {
        "version": version,
        "width": width,
        "height": height,
        "bg_index": bg_index,
        "palette": gpal,
        "n_frames": len(frames),
    }
    return meta, frames


def compose_frames(meta: dict, frames: list[dict]):
    """Compose decoded frames onto the logical screen with the full
    GIF89a disposal semantics: returns one (height, width, 3) uint8
    RGB canvas per frame (the canvas AS DISPLAYED, before the
    frame's own disposal applies). The canvas starts as the
    background color; each frame's patch overwrites covered pixels
    except where its transparency index matches; then disposal 0/1
    leave the canvas, 2 restores the frame's region to the
    background color, and 3 reverts to the pre-frame canvas."""
    h, w = meta["height"], meta["width"]
    if meta["palette"] is None:
        raise ValueError("composition needs a global palette background")
    bg = np.asarray(meta["palette"][meta["bg_index"]], dtype=np.uint8)
    canvas = np.empty((h, w, 3), dtype=np.uint8)
    canvas[:, :] = bg
    out = []
    for f in frames:
        before = canvas.copy() if f["disposal"] == 3 else None
        pal = np.asarray(f["palette"], dtype=np.uint8)
        patch = pal[f["indices"]]
        y0, x0 = f["top"], f["left"]
        view = canvas[y0 : y0 + f["height"], x0 : x0 + f["width"]]
        if f["transparent"] is None:
            view[:, :] = patch
        else:
            opaque = f["indices"] != f["transparent"]
            view[opaque] = patch[opaque]
        out.append(canvas.copy())
        if f["disposal"] == 2:
            canvas[y0 : y0 + f["height"], x0 : x0 + f["width"]] = bg
        elif f["disposal"] == 3:
            canvas = before
    return out
