"""Direct probes of two layers the query timings cannot separate.

* Codec throughput: each format's public decode/parse function called
  single-threaded on fixture bytes staged by the engine's own staging
  functions for this run's input directory.
* MinHash-LSH candidate waste: the ``functions.dedup`` pipeline run
  step by step on this run's documents, counting the candidate pairs
  the band join proposes and those exact Jaccard keeps.
"""

from __future__ import annotations

import itertools
import os
import time
from collections.abc import Callable

import pyarrow.parquet as pq


def _codecs() -> dict[str, tuple[Callable[[str], str], Callable[[bytes, str], object]]]:
    """Per format: the engine's staging function (input dir -> staged
    dir) and a callable doing the full decode of one staged file."""
    from mapreducego_spark.functions import (
        avicodec, gifcodec, jpegcodec, tiffcodec, vp8lcodec, wavcodec,
    )
    from mapreducego_spark.functions import multimodal as mm
    from mapreducego_spark.sources import catalog, pdfcodec, subtitlecodec, warccodec

    def avi(payload, _name):
        _meta, frames = avicodec.parse_avi(payload)
        return [jpegcodec.decode_jpeg(f) for f in frames]

    def warc(payload, _name):
        return [
            warccodec.extract_html_text(r["body"].decode("utf-8"))
            for r in warccodec.parse_warc(payload)
            if r["warc_type"] == "response"
        ]

    return {
        "jpeg": (mm.stage_jpeg_pixels,
                 lambda p, _n: jpegcodec.decode_jpeg_baseline(p)),
        "jpeg_progressive": (mm.stage_jpeg_pixels_prog,
                             lambda p, _n: jpegcodec.decode_jpeg(p)),
        "png": (mm.stage_png_variants, lambda p, _n: mm.decode_png(p)),
        "gif": (mm.stage_gif_media, lambda p, _n: gifcodec.decode_gif(p)),
        "webp": (mm.stage_webp_media, lambda p, _n: vp8lcodec.decode_webp(p)),
        "tiff": (mm.stage_tiff_media, lambda p, _n: tiffcodec.decode_tiff(p)),
        "wav": (mm.stage_wav_media, lambda p, _n: wavcodec.decode_wav(p)),
        "avi": (mm.stage_avi_media, avi),
        "pdf": (catalog.stage_pdf_files, lambda p, _n: pdfcodec.parse_pdf(p)),
        "warc": (catalog.stage_warc_archives, warc),
        "subtitle": (catalog.stage_subtitle_files, subtitlecodec.parse_subtitles),
    }


def _throughput(decode: Callable, payloads: list[tuple[bytes, str]],
                budget_s: float) -> float:
    """MB/s decoding ``payloads`` in order, cycling, until ``budget_s``
    is spent."""
    done_bytes, t0 = 0, time.perf_counter()
    for payload, name in itertools.cycle(payloads):
        decode(payload, name)
        done_bytes += len(payload)
        elapsed = time.perf_counter() - t0
        if elapsed >= budget_s:
            return done_bytes / 2**20 / elapsed


def codec_throughput(input_dir: str, budget_s: float = 0.2) -> dict[str, float]:
    """``codec.<fmt>.mb_s`` for every format."""
    out = {}
    for fmt, (stage, decode) in _codecs().items():
        stage_dir = stage(input_dir)
        payloads = []
        for name in sorted(os.listdir(stage_dir)):
            if name.startswith("_"):
                continue
            with open(os.path.join(stage_dir, name), "rb") as fh:
                payloads.append((fh.read(), name))
        out[f"codec.{fmt}.mb_s"] = _throughput(decode, payloads, budget_s)
    out["codec.avro.mb_s"] = _avro_throughput(input_dir, budget_s)
    return out


def _avro_throughput(input_dir: str, budget_s: float) -> float:
    from mapreducego_spark.sources.avrocodec import read_container, write_container

    docs = pq.read_table(
        os.path.join(input_dir, "documents.parquet"),
        columns=["doc_id", "text", "lang", "n_chars"],
    ).sort_by("doc_id").to_pylist()
    avsc = {
        "type": "record", "name": "doc",
        "fields": [
            {"name": "doc_id", "type": "long"},
            {"name": "text", "type": "string"},
            {"name": "lang", "type": "string"},
            {"name": "n_chars", "type": "long"},
        ],
    }
    payload = write_container(avsc, docs)
    return _throughput(lambda p, _n: read_container(p), [(payload, "docs.avro")],
                       budget_s)


def lsh_waste(spark, input_dir: str) -> dict[str, float]:
    """Candidate pairs from the MinHash band join, and how many of them
    exact Jaccard verifies at the engine's threshold. The steps and
    their arguments are the ones ``dedup.minhash_pairs`` takes for the
    ``dedup_clusters`` query: exact-duplicate shingle sets collapsed,
    no bucket cap, the length pre-filter on."""
    from pyspark.sql import functions as F

    from mapreducego_spark.functions import dedup as D
    from mapreducego_spark.operators.util import spread_scan
    from mapreducego_spark.sources.catalog import load_table

    docs = load_table(spark, input_dir, "documents")
    shingled = D.collapse_shingle_duplicates(
        D.shingle_docs(spread_scan(docs), n=2)
    ).localCheckpoint()
    bands = D.lsh_band_keys(D.minhash_signatures(shingled))
    cands = D.minhash_candidate_pairs(bands, max_bucket_size=None).localCheckpoint()
    n_cands = cands.count()
    n_verified = (
        D.exact_jaccard(cands, shingled, threshold=D.JACCARD_THRESHOLD)
        .filter(F.col("__jac_raw") >= D.JACCARD_THRESHOLD)
        .count()
    )
    return {
        "dedup.lsh_candidates": float(n_cands),
        "dedup.lsh_verified": float(n_verified),
        "dedup.lsh_precision": n_verified / n_cands if n_cands else 0.0,
    }
