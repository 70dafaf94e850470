"""Refusal contract under seeded byte mutations, for the PNG decoder
and the WARC archive parser: every mutated fixture either decodes or
raises ValueError / NotImplementedError.

A raw zlib.error, struct.error or MemoryError escaping the decoder
would kill a Python worker on the first corrupt file of a crawl.
"""

from __future__ import annotations

import os
import random
import shutil
import uuid

from mapreducego_spark.functions import multimodal as M
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


def _leaks(decode, blobs: list[bytes], rng: random.Random):
    leaks, cases = [], 0
    for k, blob in enumerate(blobs):
        for kind, mutant in _mutants(blob, rng):
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


def test_warc_mutations_refuse_with_declared_errors():
    cases, leaks = _leaks(W.parse_warc, _warc_archives(), random.Random(SEED))
    assert cases == 7 * N
    assert not leaks, f"{len(leaks)} of {cases} leaked: {leaks[:5]}"
