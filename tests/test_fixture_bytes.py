"""Fixture-bytes pin: every staged media family, staged at small n
into a fresh directory, must reproduce the exact bytes recorded here.

Staging is idempotent through a ``_STAGED`` marker, so a staged dir
whose generator changed would keep serving the old bytes. The rule is
that a fixture change renames its staging dir; this test catches a
change that forgot to.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from mapreducego_spark.functions import multimodal as M
from mapreducego_spark.sources import catalog as C

N = 12

# staging dir name (minus the "<sf tag>_" prefix) -> sha256 over the
# sorted (file name, bytes) pairs of the staged files
DIGESTS = {
    "png12":
        "8170174d875743da429642b9bc22f2782d1e9a9afd4027063449221dfdc41966",
    "jpeg12":
        "57fcba164677ec27f60a709d4c146917498934d501ffc3ffbd3b1c804eaf2f32",
    "jpegpx12":
        "fe42ab0343f86ba0790d2e1971c38fb43a55ebb8e6bc23ba899343d663a0fd60",
    "jpeg420_12":
        "2f7c8a61e22ad045f4d6a85557ae93f0a06e395a82f2fd67370681976ea479a2",
    "jpegrst12":
        "d05da4a03e85664346135c3a94e5ca5d39f55f27b31881af6c4055788a3bb1a8",
    "jpegprog12":
        "6f0ce8cebef991e72b616887d841326930d3c328983708c530e243423e6183e4",
    "jpeg422_12":
        "7fe715bf7bcc552d7c82694317ec3f5468fd9af99e82aa972a950a9f933ce1cd",
    "pngvar12":
        "b5b84ab007de82890754c74e41dd20b3156552b75b14253ac564de94b80b7b3c",
    "pngdepth12":
        "8ae151e69051a831d09ee1020fc6e89b46eb57bc6c756f90c91af14a8fd26c59",
    "jpegexif12":
        "7b2fe6e84faa964af234b87c61eed7894b5d6d9d21c9f77603c78bf71d24f07c",
    "jpegor12":
        "97a346bedec834ab3da1f1096d66d4beea2251a6f27f0e52e77569a85fa2d071",
    "wavB12":
        "3a347c4db8b52a63552fb77a25416d348917ada9c168d385c4d98ed5ac9abb6b",
    "avi12":
        "e3d5bca232be1968fa4afb7fc7256accff06117d60d51da697f54d327e98a413",
    "wavfmt12":
        "0030c83310351f41ed0efff54f398f7a7e15268f42c12d370a4cfce88d8186e0",
    "avimux12":
        "9da999598b85d90509850f8870adf71d6db6da541117ca2e77db68e62129305c",
    "gif12":
        "1e914be686bbcbaff173c26669f5dd83cd3d9638eb543eeec1256981633049f6",
    "gifanim12":
        "fec8a774370397094a582717ae97a124c6a2224b7497784237a89c2fc1d605da",
    "bmpB12":
        "06595ab70dd7f631114c74ae671475a98b1504b12198184fd5f151542cc89e5d",
    "tiffD12":
        "b877cee2ed4183a4cf041771300d47d978495cbcc294f831f39c7708756f0a8e",
    "webpC12":
        "350285d80400bec640307e599f4eedc8cea2f77d3100a6146ce2d4df7b8402cb",
    "mp3b12":
        "918adab0990238e355bc6e6b647c0700a1652ce8d21d16955fcaf2b5e0fa6ecd",
    "mp4b12":
        "b880632151c5664304fb8ad639dbcd0b33c2c7e85807187f3f9741c254921bec",
    "id3a12":
        "be20a8f1fd45114e00ccb2e9b7405a322221e22397d4dfd6abb3373f9070051d",
    "gifdisp12":
        "067f2f35f84b0935794f1ca2c967059b4344235ca8ca8ac81f882df51e331f4d",
    "pnglow12":
        "9c218a11430949b6da703bb68e80b7ba37cae5b74efe240ee1ac485864151f26",
    "wds4":
        "14b26b10656bae6b09ef5cbdc3796104172030e6958ee03d69b5597a0bb14108",
    "warcb4":
        "f480d238657a738c4abbdbebf359b39f22607c616485604f39b5abb5200172ae",
    "pdfe":
        "750d2af2bc4929f32502c69ec145ee1ceb5049f32486bda1c3f4fe98fc5b4db1",
    "suba":
        "44c0cc406538aa6d24e4a19966f9851f43fb14b70b6bccd6795034a854912386",
}


def _documents(sf_dir: str) -> None:
    """A small deterministic documents table for the stagers that
    package documents (tar shards, WARC, PDF, subtitles)."""
    words = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta"]
    texts = [
        " ".join(words[(d * 3 + k) % 7] + str(k % 5) for k in range(9 + d * 7))
        for d in range(9)
    ]
    pq.write_table(
        pa.table({
            "doc_id": pa.array(range(9), pa.int64()),
            "text": texts,
            "lang": [("en", "de", "fr")[d % 3] for d in range(9)],
            "source": [("web", "news")[d % 2] for d in range(9)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }),
        os.path.join(sf_dir, "documents.parquet"),
    )


def _stagers():
    per_item = [
        M.stage_png_media, M.stage_jpeg_media, M.stage_jpeg_pixels,
        M.stage_jpeg_pixels_420, M.stage_jpeg_pixels_rst,
        M.stage_jpeg_pixels_prog, M.stage_jpeg_pixels_422,
        M.stage_png_variants, M.stage_png_depth, M.stage_jpeg_exif,
        M.stage_jpeg_oriented, M.stage_wav_media, M.stage_avi_media,
        M.stage_wav_formats, M.stage_avi_av_media, M.stage_gif_media,
        M.stage_gif_anim_media, M.stage_bmp_media, M.stage_tiff_media,
        M.stage_webp_media, M.stage_mp3_media, M.stage_mp4_media,
        M.stage_mp3_tag_media, M.stage_gif_disposal_media,
        M.stage_png_lowdepth,
    ]
    return [lambda d, f=f: f(d, N) for f in per_item] + [
        lambda d: M.stage_webdataset_shards(d, 4),
        lambda d: C.stage_warc_archives(d, 4),
        C.stage_pdf_files,
        C.stage_subtitle_files,
    ]


def _digest(path: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(path)):
        if name.startswith("_"):
            continue  # the _STAGED marker, not fixture content
        with open(os.path.join(path, name), "rb") as fh:
            data = fh.read()
        h.update(name.encode() + b"\0" + len(data).to_bytes(8, "big"))
        h.update(data)
    return h.hexdigest()


def stage_all(root: str) -> dict[str, str]:
    """Stage every family under a unique sf tag inside ``root``;
    returns {dir name minus tag: digest}. Removes the staged dirs."""
    tag = f"pin{uuid.uuid4().hex[:12]}"
    sf_dir = os.path.join(root, tag)
    os.makedirs(sf_dir)
    _documents(sf_dir)
    staged = []
    try:
        for stage in _stagers():
            staged.append(stage(sf_dir))
        return {
            os.path.basename(p)[len(tag) + 1:]: _digest(p) for p in staged
        }
    finally:
        for p in staged:
            shutil.rmtree(p, ignore_errors=True)


def test_fixture_bytes_are_pinned(tmp_path):
    got = stage_all(str(tmp_path))
    assert sorted(got) == sorted(DIGESTS), "staging dir names changed"
    changed = sorted(k for k in got if got[k] != DIGESTS[k])
    if changed:
        pytest.fail(
            f"fixture bytes changed: bump the staging suffix ({changed})"
        )
