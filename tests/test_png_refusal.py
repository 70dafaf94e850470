"""Refusal contract under seeded byte mutations, for the PNG decoder,
the JPEG decoders and header parsers, the TIFF, GIF and BMP decoders,
the WARC and PDF parsers and the Avro container reader: every mutated
fixture either decodes or raises ValueError / NotImplementedError.

A raw zlib.error, struct.error or MemoryError escaping the decoder
would kill a Python worker on the first corrupt file of a crawl.
"""

from __future__ import annotations

import os
import random
import re
import shutil
import struct
import uuid

import numpy as np
import pytest

from mapreducego_spark.functions import jpegcodec as J
from mapreducego_spark.functions import multimodal as M
from mapreducego_spark.functions.bmpcodec import decode_bmp
from mapreducego_spark.functions.gifcodec import decode_gif
from mapreducego_spark.functions.tiffcodec import decode_tiff
from mapreducego_spark.sources import avrocodec as A
from mapreducego_spark.sources import pdfcodec as P
from mapreducego_spark.sources import warccodec as W

N = 12
SEED = 20240917


def _staged_pngs(root: str) -> list[bytes]:
    """The PNG fixture families (RGB, palette/Adam7, 16-bit/alpha,
    sub-8-bit), staged under a unique tag and read back."""
    sf_dir = os.path.join(root, f"pngfuzz{uuid.uuid4().hex[:12]}")
    blobs, staged = [], []
    try:
        for stage in (M.stage_png_media, M.stage_png_variants,
                      M.stage_png_depth, M.stage_png_lowdepth):
            path = stage(sf_dir, N)
            staged.append(path)
            for name in sorted(os.listdir(path)):
                if name.endswith(".png"):
                    with open(os.path.join(path, name), "rb") as fh:
                        blobs.append(fh.read())
    finally:
        for path in staged:
            shutil.rmtree(path, ignore_errors=True)
    return blobs


def _mutants(blob: bytes, rng: random.Random):
    for _ in range(2):  # one to three bit flips anywhere
        b = bytearray(blob)
        for _ in range(rng.randint(1, 3)):
            b[rng.randrange(len(b))] ^= 1 << rng.randrange(8)
        yield "flip", bytes(b)
    for _ in range(2):  # bit flips inside IHDR (dimensions, depth, type)
        b = bytearray(blob)
        b[rng.randrange(16, 29)] ^= 1 << rng.randrange(8)
        yield "ihdr", bytes(b)
    yield "truncate", blob[: rng.randrange(8, len(blob))]
    for _ in range(2):
        at = rng.randrange(8, len(blob) - 1)
        yield "splice", blob[:at] + b"\xff\xff" + blob[at + 2 :]


def _short_segments(blob: bytes):
    """Every JPEG segment up to and including the first SOS,
    re-declared with each length from 2 to its real length minus 1:
    the walk then resumes inside the segment body, and the decoder
    sees a body too short for its own fields."""
    pos = 2
    while True:
        marker = blob[pos + 1]
        (length,) = struct.unpack(">H", blob[pos + 2 : pos + 4])
        for short in range(2, length):
            yield (
                f"short FF{marker:02X} len {short}",
                blob[: pos + 2] + struct.pack(">H", short) + blob[pos + 4 :],
            )
        if marker == 0xDA:
            return
        pos += 2 + length


def _jpeg_mutants(blob: bytes, rng: random.Random):
    yield from _mutants(blob, rng)
    yield from _short_segments(blob)


def _with_prefixes(blob: bytes, rng: random.Random):
    """The random mutants plus the file cut at every length."""
    yield from _mutants(blob, rng)
    for n in range(len(blob)):
        yield f"prefix {n}", blob[:n]


_WRONG_TYPES = (b"7", b"/X", b"[7]", b"<< >>", b"(s)", b"[<< /Type /Page >>]")


def _pdf_mutants(blob: bytes, rng: random.Random):
    """The random mutants, FF FF over every offset before the first
    stream (each key and value of the catalog, page-tree and page
    dictionaries in turn), and every dictionary value replaced by one
    of another type, padded so that each xref offset stays valid."""
    yield from _mutants(blob, rng)
    for at in range(blob.find(b"stream")):
        yield f"splice {at}", blob[:at] + b"\xff\xff" + blob[at + 2 :]
    for m in re.finditer(rb"/\w+ (\d+ 0 R|\[[^\]]*\]|/\w+|\d+|<<[^<>]*>>)", blob):
        at, end = m.span(1)
        for wrong in _WRONG_TYPES:
            if len(wrong) <= end - at:
                yield (
                    f"{m.group(0)[:24]!r} -> {wrong!r}",
                    blob[:at] + wrong.ljust(end - at) + blob[end:],
                )


def _pdfs() -> list[bytes]:
    """N small documents built in-process, classic and stream xref."""
    from tests.test_sources import _tiny_pdf_contents

    return [
        P.build_pdf(*_tiny_pdf_contents(i), xref_form=("classic", "stream")[i % 2])
        for i in range(N)
    ]


def _jpeg_families() -> dict[str, list[bytes]]:
    """N sequential fixtures (the restart family: DRI in every file,
    gray and 4:4:4) and N progressive ones (restarts in every third)."""
    return {
        "baseline": [M.encode_jpeg_pixels_fixture_rst(i) for i in range(N)],
        "progressive": [
            M.encode_jpeg_pixels_fixture_prog(i) for i in range(N)
        ],
    }


def _warc_archives() -> list[bytes]:
    """N per-record-gzipped archives (the Common Crawl packaging): a
    warcinfo record, then one to three response records."""
    archives = []
    for i in range(N):
        records = [W.build_warcinfo(1_700_000_000 + i, f"fuzz_{i:04d}.warc.gz")]
        records += [
            W.build_response(
                f"http://crawl.example.com/{i}/{j}.html",
                1_700_000_000 + j,
                f"<html><p>doc {i}.{j} &amp; more</p></html>".encode(),
            )
            for j in range(1 + i % 3)
        ]
        archives.append(b"".join(W.gzip_member(r) for r in records))
    return archives


def _avro_containers() -> list[bytes]:
    """N containers from the codec's own writer, deflate and null codec
    in turn, over a record with a long, a string, an array, a nullable
    double and an enum, one to four rows each."""
    avsc = {"type": "record", "name": "doc", "fields": [
        {"name": "doc_id", "type": "long"},
        {"name": "text", "type": "string"},
        {"name": "tags", "type": {"type": "array", "items": "string"}},
        {"name": "score", "type": ["null", "double"]},
        {"name": "kind", "type": {"type": "enum", "name": "k", "symbols": ["a", "b"]}},
    ]}
    return [
        A.write_container(avsc, [
            {"doc_id": 10 * i + j, "text": f"doc {i}.{j} " * (j + 1),
             "tags": ["t"] * j, "score": None if j % 2 else j / 3,
             "kind": "ab"[j % 2]}
            for j in range(1 + i % 4)
        ], codec=("deflate", "null")[i % 2])
        for i in range(N)
    ]


def _bmp_mutants(blob: bytes, rng: random.Random):
    """The random mutants, plus the width, the height and both
    re-declared as 2**20: a terabyte raster claimed by a few hundred
    bytes of pixel data."""
    yield from _mutants(blob, rng)
    for fields in ((18,), (22,), (18, 22)):
        b = bytearray(blob)
        for at in fields:
            b[at : at + 4] = struct.pack("<i", 1 << 20)
        yield f"dims at {fields}", bytes(b)


def _leaks(decode, blobs: list[bytes], rng: random.Random, mutants=_mutants):
    leaks, cases = [], 0
    for k, blob in enumerate(blobs):
        for kind, mutant in mutants(blob, rng):
            cases += 1
            try:
                decode(mutant)
            except (ValueError, NotImplementedError):
                pass
            except Exception as e:  # noqa: BLE001 - the contract under test
                leaks.append(f"fixture {k} {kind}: {type(e).__name__}: {e}")
    return cases, leaks


def test_png_mutations_refuse_with_declared_errors(tmp_path):
    rng = random.Random(SEED)
    blobs = _staged_pngs(str(tmp_path))
    assert len(blobs) == 4 * N
    cases, leaks = _leaks(M.decode_png_rgba, blobs, rng)
    assert cases == 7 * 4 * N
    assert not leaks, f"{len(leaks)} of {cases} leaked: {leaks[:5]}"


@pytest.mark.parametrize("decode, blobs, mutants", [
    (decode_tiff, lambda: [M.encode_tiff_fixture(i) for i in range(N)], _with_prefixes),
    (decode_gif, lambda: [M.encode_gif_fixture(i) for i in range(N)], _with_prefixes),
    (P.parse_pdf, _pdfs, _pdf_mutants),
], ids=["tiff", "gif", "pdf"])
def test_tiff_gif_pdf_mutations_refuse_with_declared_errors(decode, blobs, mutants):
    _, leaks = _leaks(decode, blobs(), random.Random(SEED), mutants)
    assert not leaks, f"{len(leaks)} leaked: {leaks[:5]}"


def test_bmp_mutations_refuse_with_declared_errors():
    """RLE8, palette, truecolor, top-down and sparse-delta fixtures: a
    header claiming more pixels than the payload can fill must refuse
    before the raster is allocated, not leak a MemoryError."""
    blobs = [M.encode_bmp_fixture(i) for i in range(N)]
    cases, leaks = _leaks(decode_bmp, blobs, random.Random(SEED), _bmp_mutants)
    assert cases == 10 * N
    assert not leaks, f"{len(leaks)} of {cases} leaked: {leaks[:5]}"


def test_warc_mutations_refuse_with_declared_errors():
    cases, leaks = _leaks(W.parse_warc, _warc_archives(), random.Random(SEED))
    assert cases == 7 * N
    assert not leaks, f"{len(leaks)} of {cases} leaked: {leaks[:5]}"


def test_avro_mutations_refuse_with_declared_errors():
    """A flipped bit in a deflate block or in the embedded schema's
    attribute names must refuse, not leak zlib.error or KeyError."""
    cases, leaks = _leaks(A.read_container, _avro_containers(), random.Random(SEED))
    assert cases == 7 * N
    assert not leaks, f"{len(leaks)} of {cases} leaked: {leaks[:5]}"


@pytest.mark.parametrize("decode", [
    J.decode_jpeg, J.decode_jpeg_baseline, J.decode_jpeg_progressive,
    M.jpeg_meta, M.jpeg_exif,
], ids=lambda f: f.__name__)
def test_jpeg_mutations_refuse_with_declared_errors(decode):
    leaks = []
    for family, blobs in _jpeg_families().items():
        _, found = _leaks(decode, blobs, random.Random(SEED), _jpeg_mutants)
        leaks += [f"{family} {leak}" for leak in found]
    assert not leaks, f"{len(leaks)} leaked: {leaks[:5]}"


def test_jpeg_meta_refuses_sof_shorter_than_its_component_list():
    # three components declared, one component triple present
    sof = bytes([8, 0, 16, 0, 16, 3, 1, 0x11, 0])
    payload = (
        b"\xff\xd8\xff\xc0" + struct.pack(">H", len(sof) + 2) + sof
        + b"\xff\xd9"
    )
    with pytest.raises(ValueError, match="truncated SOF"):
        M.jpeg_meta(payload)


def test_jpeg_dc_category_out_of_range_refuses():
    """The DC table's values re-declared as categories 60..71 (8-bit
    frames use 0..11): the decoder must refuse before a 60-bit
    difference overflows its int64 coefficient buffers."""
    px = np.random.RandomState(3).randint(0, 256, 32 * 32, np.uint8).tobytes()
    for jpg in (J.encode_jpeg_progressive(32, 32, [px]),
                J.encode_jpeg_baseline(32, 32, [px])):
        b = bytearray(jpg)
        vals = jpg.find(b"\xff\xc4") + 4 + 1 + 16  # DC table values
        b[vals : vals + len(J.DC_VALS)] = bytes(v + 60 for v in J.DC_VALS)
        with pytest.raises(ValueError, match="DC difference category"):
            J.decode_jpeg(bytes(b))
