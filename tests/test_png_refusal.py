"""PNG refusal contract under seeded byte mutations: every mutated
fixture either decodes or raises ValueError / NotImplementedError.

A raw zlib.error, struct.error or MemoryError escaping the decoder
would kill a Python worker on the first corrupt file of a crawl.
"""

from __future__ import annotations

import os
import random
import shutil
import uuid

from mapreducego_spark.functions import multimodal as M

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


def test_png_mutations_refuse_with_declared_errors(tmp_path):
    rng = random.Random(SEED)
    blobs = _staged_pngs(str(tmp_path))
    assert len(blobs) == 4 * N
    leaks, cases = [], 0
    for k, blob in enumerate(blobs):
        for kind, mutant in _mutants(blob, rng):
            cases += 1
            try:
                M.decode_png_rgba(mutant)
            except (ValueError, NotImplementedError):
                pass
            except Exception as e:  # noqa: BLE001 - the contract under test
                leaks.append(f"fixture {k} {kind}: {type(e).__name__}: {e}")
    assert cases == 7 * 4 * N
    assert not leaks, f"{len(leaks)} of {cases} leaked: {leaks[:5]}"
