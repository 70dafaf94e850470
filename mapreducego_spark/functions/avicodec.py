"""RIFF/AVI MJPEG container codec, pure stdlib (r13; r12 verdict
missing #3 — video as the third training-data modality).

Images (jpegcodec.py, the PNG decoder) and audio (wavcodec.py) have
real codecs; this closes the triad with the container format that
needs ZERO new entropy-coding surface: AVI is the same RIFF chunk
grammar wavcodec walks (little-endian fourcc + u32 size, word-
aligned odd chunks), and an MJPEG video stream's frames are each a
complete baseline JPEG the EXISTING decode_jpeg entropy-decodes.
Layout implemented from the public AVI 1.0 / OpenDML structure:

    RIFF('AVI '
        LIST('hdrl'
            'avih' <MainAVIHeader: 14 u32>
            LIST('strl' 'strh' <AVISTREAMHEADER> 'strf' <BITMAPINFOHEADER>))
        LIST('movi' '00dc' <JPEG> '00dc' <JPEG> ...))

Scope (loud): one 'vids' stream with handler/compression 'MJPG';
frames in '##dc'/'##db' chunks of the movi list. A second stream,
a non-video stream, or a non-MJPG handler raises
NotImplementedError (this codec cannot decode other payloads and
never pretends to); structurally broken containers — bad magic,
truncated chunks, missing hdrl/avih/strl/movi, a frame count that
contradicts avih — raise ValueError.

Reference parity note: the reference repo (MapReduceGo) has no media
tier; this belongs to the 100 TB training-data north star (frame
extraction + per-frame features run right after crawl ingest).
"""

from __future__ import annotations

import struct

from mapreducego_spark.functions.wavcodec import riff_chunks, walk_chunks


def _chunk(cid: bytes, data: bytes) -> bytes:
    out = cid + struct.pack("<I", len(data)) + data
    if len(data) % 2:
        out += b"\x00"  # RIFF word alignment pad
    return out


def _list(fourcc: bytes, payload: bytes) -> bytes:
    return _chunk(b"LIST", fourcc + payload)


def encode_avi_mjpeg(
    width: int,
    height: int,
    us_per_frame: int,
    frames: list[bytes],
) -> bytes:
    """Encode complete JPEG blobs as a minimal spec-shaped MJPEG AVI
    (one 'vids' stream, frames as '00dc' chunks). Fixture/test
    plumbing for the decode tier — the parser below must walk it
    exactly like real capture output."""
    if not frames:
        raise ValueError("AVI needs at least one frame")
    avih = struct.pack(
        "<14I",
        us_per_frame,          # dwMicroSecPerFrame
        0,                     # dwMaxBytesPerSec
        0,                     # dwPaddingGranularity
        0x10,                  # dwFlags: AVIF_HASINDEX off, interleaved-ish
        len(frames),           # dwTotalFrames
        0,                     # dwInitialFrames
        1,                     # dwStreams
        0,                     # dwSuggestedBufferSize
        width,
        height,
        0, 0, 0, 0,            # dwReserved[4]
    )
    strh = (
        b"vids"
        + b"MJPG"
        + struct.pack(
            "<IHHIIIIIIII4H",
            0,                 # dwFlags
            0, 0,              # wPriority, wLanguage
            0,                 # dwInitialFrames
            us_per_frame,      # dwScale
            1_000_000,         # dwRate: fps = rate/scale
            0,                 # dwStart
            len(frames),       # dwLength (frames)
            0,                 # dwSuggestedBufferSize
            0,                 # dwQuality
            0,                 # dwSampleSize
            0, 0, width, height,  # rcFrame
        )
    )
    strf = struct.pack(
        "<IiiHH4sIiiII",
        40,                    # biSize
        width,
        height,
        1,                     # biPlanes
        24,                    # biBitCount
        b"MJPG",               # biCompression fourcc
        width * height * 3,    # biSizeImage (nominal)
        0, 0, 0, 0,
    )
    hdrl = _list(
        b"hdrl",
        _chunk(b"avih", avih)
        + _list(b"strl", _chunk(b"strh", strh) + _chunk(b"strf", strf)),
    )
    movi = _list(b"movi", b"".join(_chunk(b"00dc", f) for f in frames))
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def parse_avi(payload: bytes) -> tuple[dict, list[bytes]]:
    """Parse an MJPEG AVI into (meta, frames).

    ``meta``: us_per_frame, n_frames, width, height, handler
    ('MJPG'), duration_us (exact integer). ``frames``: the raw JPEG
    bytes of each '##dc'/'##db' chunk in movi order — feed them to
    jpegcodec.decode_jpeg."""
    avih = None
    handler = None
    n_video_streams = 0
    frames: list[bytes] = []
    saw_movi = False
    for cid, body, size in riff_chunks(payload, b"AVI "):
        if cid != b"LIST":
            continue  # top-level JUNK etc.: skip by size
        fourcc = payload[body : body + 4]
        if fourcc == b"hdrl":
            for c2, b2, s2 in walk_chunks(payload, body + 4, body + size):
                if c2 == b"avih":
                    if s2 < 56:
                        raise ValueError("avih shorter than MainAVIHeader")
                    avih = struct.unpack("<14I", payload[b2 : b2 + 56])
                elif c2 == b"LIST" and payload[b2 : b2 + 4] == b"strl":
                    for c3, b3, s3 in walk_chunks(
                        payload, b2 + 4, b2 + s2
                    ):
                        if c3 != b"strh":
                            continue
                        fcc_type = payload[b3 : b3 + 4]
                        fcc_handler = payload[b3 + 4 : b3 + 8]
                        if fcc_type != b"vids":
                            raise NotImplementedError(
                                f"non-video AVI stream {fcc_type!r}"
                            )
                        if fcc_handler != b"MJPG":
                            raise NotImplementedError(
                                f"AVI video handler {fcc_handler!r}"
                                " (MJPG only)"
                            )
                        n_video_streams += 1
                        handler = "MJPG"
        elif fourcc == b"movi":
            saw_movi = True
            for c2, b2, s2 in walk_chunks(payload, body + 4, body + size):
                # '##dc' compressed / '##db' uncompressed video frame
                if c2[2:4] in (b"dc", b"db"):
                    frames.append(payload[b2 : b2 + s2])
    if avih is None:
        raise ValueError("AVI missing hdrl/avih header")
    if n_video_streams != 1:
        raise ValueError(
            f"AVI declares {n_video_streams} video streams (need exactly 1)"
        )
    if not saw_movi:
        raise ValueError("AVI missing movi list")
    if avih[4] != len(frames):
        raise ValueError(
            f"avih dwTotalFrames {avih[4]} != movi frame count {len(frames)}"
        )
    return (
        {
            "us_per_frame": avih[0],
            "n_frames": len(frames),
            "width": avih[8],
            "height": avih[9],
            "handler": handler,
            "duration_us": avih[0] * len(frames),
        },
        frames,
    )


# --- r13 second batch: interleaved audio (the '01wb' stream) -------
#
# Real capture output is A/V-interleaved: a second strl declares an
# 'auds' stream (WAVEFORMATEX in strf), and the movi list alternates
# '00dc' video frames with '01wb' audio chunks (stream number = strl
# order). parse_avi above stays a strict single-stream video parser;
# the *_av pair below is the muxed grammar, still loud about
# everything outside its scope (PCM16 audio only — wavcodec owns the
# other sample families; a third stream or a non-PCM WAVEFORMATEX
# refuses).

def encode_avi_mjpeg_av(
    width: int,
    height: int,
    us_per_frame: int,
    frames: list[bytes],
    sample_rate: int,
    samples,
) -> bytes:
    """Encode JPEG ``frames`` plus an int16 PCM track ``samples``
    (shape (n_audio_frames, channels)) as an interleaved two-stream
    AVI: video chunk f ('00dc') is followed by the audio slice
    ('01wb') covering audio frames [f*n//F, (f+1)*n//F) — the same
    integer split the oracle reproduces."""
    import numpy as np

    if not frames:
        raise ValueError("AVI needs at least one frame")
    samples = np.asarray(samples)
    if samples.ndim != 2:
        raise ValueError("audio samples must be (n_frames, channels)")
    n_audio, channels = samples.shape
    block_align = channels * 2
    avih = struct.pack(
        "<14I",
        us_per_frame, 0, 0,
        0x110,                 # AVIF_ISINTERLEAVED | 0x10
        len(frames), 0,
        2,                     # dwStreams: video + audio
        0, width, height, 0, 0, 0, 0,
    )
    strh_v = b"vids" + b"MJPG" + struct.pack(
        "<IHHIIIIIIII4H",
        0, 0, 0, 0,
        us_per_frame, 1_000_000,   # dwScale/dwRate
        0, len(frames), 0, 0, 0,
        0, 0, width, height,
    )
    strf_v = struct.pack(
        "<IiiHH4sIiiII",
        40, width, height, 1, 24, b"MJPG",
        width * height * 3, 0, 0, 0, 0,
    )
    strh_a = b"auds" + b"\x00\x00\x00\x00" + struct.pack(
        "<IHHIIIIIIII4H",
        0, 0, 0, 0,
        1, sample_rate,            # dwScale/dwRate: frames per second
        0, n_audio, 0, 0,
        block_align,               # dwSampleSize: bytes per frame
        0, 0, 0, 0,
    )
    strf_a = struct.pack(                 # WAVEFORMATEX, PCM16
        "<HHIIHH", 1, channels, sample_rate,
        sample_rate * block_align, block_align, 16,
    )
    hdrl = _list(
        b"hdrl",
        _chunk(b"avih", avih)
        + _list(b"strl", _chunk(b"strh", strh_v) + _chunk(b"strf", strf_v))
        + _list(b"strl", _chunk(b"strh", strh_a) + _chunk(b"strf", strf_a)),
    )
    pcm = samples.astype("<i2").tobytes()
    n_video = len(frames)
    movi_parts = []
    for f, blob in enumerate(frames):
        movi_parts.append(_chunk(b"00dc", blob))
        lo = f * n_audio // n_video * block_align
        hi = (f + 1) * n_audio // n_video * block_align
        movi_parts.append(_chunk(b"01wb", pcm[lo:hi]))
    movi = _list(b"movi", b"".join(movi_parts))
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def parse_avi_av(payload: bytes):
    """Parse an interleaved MJPEG+PCM AVI into
    ``(meta, frames, samples)``.

    ``meta`` adds the audio side (sample_rate, channels,
    n_audio_frames) to parse_avi's video fields; ``frames`` are raw
    JPEG blobs in movi order; ``samples`` is the reassembled int16
    array of shape (n_audio_frames, channels) — '##wb' chunks are
    concatenated in movi order, exactly how a player refills its
    ring buffer. Streams are numbered by strl order; exactly one
    'vids' (MJPG) and one 'auds' (PCM16 WAVEFORMATEX) stream are in
    scope, anything else refuses loudly."""
    import numpy as np

    avih = None
    stream_types: list[bytes] = []   # fccType per strl, in order
    audio_fmt = None
    frames: list[bytes] = []
    audio_chunks: list[bytes] = []
    video_sid = audio_sid = None
    saw_movi = False
    for cid, body, size in riff_chunks(payload, b"AVI "):
        if cid != b"LIST":
            continue
        fourcc = payload[body : body + 4]
        if fourcc == b"hdrl":
            for c2, b2, s2 in walk_chunks(payload, body + 4, body + size):
                if c2 == b"avih":
                    if s2 < 56:
                        raise ValueError("avih shorter than MainAVIHeader")
                    avih = struct.unpack("<14I", payload[b2 : b2 + 56])
                elif c2 == b"LIST" and payload[b2 : b2 + 4] == b"strl":
                    strh = strf = None
                    for c3, b3, s3 in walk_chunks(
                        payload, b2 + 4, b2 + s2
                    ):
                        if c3 == b"strh":
                            strh = (payload[b3 : b3 + 4],
                                    payload[b3 + 4 : b3 + 8])
                        elif c3 == b"strf":
                            strf = payload[b3 : b3 + s3]
                    if strh is None or strf is None:
                        raise ValueError("strl missing strh/strf")
                    sid = len(stream_types)
                    fcc_type, fcc_handler = strh
                    stream_types.append(fcc_type)
                    if fcc_type == b"vids":
                        if fcc_handler != b"MJPG":
                            raise NotImplementedError(
                                f"AVI video handler {fcc_handler!r}"
                                " (MJPG only)"
                            )
                        if video_sid is not None:
                            raise ValueError("AVI has two video streams")
                        video_sid = sid
                    elif fcc_type == b"auds":
                        if len(strf) < 16:
                            raise ValueError(
                                "audio strf shorter than WAVEFORMATEX"
                            )
                        code, ch, rate, _br, ba, bits = struct.unpack(
                            "<HHIIHH", strf[:16]
                        )
                        if code != 1 or bits != 16:
                            raise NotImplementedError(
                                f"AVI audio format code {code}/{bits}-bit"
                                " (PCM16 only)"
                            )
                        if ba != ch * 2:
                            raise ValueError(
                                f"audio block align {ba} != channels*2"
                            )
                        if audio_sid is not None:
                            raise ValueError("AVI has two audio streams")
                        audio_sid = sid
                        audio_fmt = {"sample_rate": rate, "channels": ch,
                                     "block_align": ba}
                    else:
                        raise NotImplementedError(
                            f"AVI stream type {fcc_type!r}"
                        )
        elif fourcc == b"movi":
            saw_movi = True
            for c2, b2, s2 in walk_chunks(payload, body + 4, body + size):
                if not c2[:2].isdigit():
                    continue
                sid = int(c2[:2])
                kind = c2[2:4]
                if kind in (b"dc", b"db"):
                    if sid != video_sid:
                        raise ValueError(
                            f"video chunk on stream {sid}"
                            f" (video is {video_sid})"
                        )
                    frames.append(payload[b2 : b2 + s2])
                elif kind == b"wb":
                    if sid != audio_sid:
                        raise ValueError(
                            f"audio chunk on stream {sid}"
                            f" (audio is {audio_sid})"
                        )
                    audio_chunks.append(payload[b2 : b2 + s2])
    if avih is None:
        raise ValueError("AVI missing hdrl/avih header")
    if video_sid is None or audio_sid is None:
        raise ValueError(
            f"muxed AVI needs one video + one audio stream,"
            f" got {stream_types!r}"
        )
    if avih[6] != len(stream_types):
        raise ValueError(
            f"avih dwStreams {avih[6]} != {len(stream_types)} strl lists"
        )
    if not saw_movi:
        raise ValueError("AVI missing movi list")
    if avih[4] != len(frames):
        raise ValueError(
            f"avih dwTotalFrames {avih[4]} != movi frame count {len(frames)}"
        )
    pcm = b"".join(audio_chunks)
    ba = audio_fmt["block_align"]
    if len(pcm) % ba:
        raise ValueError(
            f"audio byte length {len(pcm)} is not a whole number of"
            f" {ba}-byte frames"
        )
    samples = np.frombuffer(pcm, "<i2").reshape(-1, audio_fmt["channels"])
    meta = {
        "us_per_frame": avih[0],
        "n_frames": len(frames),
        "width": avih[8],
        "height": avih[9],
        "handler": "MJPG",
        "duration_us": avih[0] * len(frames),
        "sample_rate": audio_fmt["sample_rate"],
        "channels": audio_fmt["channels"],
        "n_audio_frames": samples.shape[0],
    }
    return meta, frames, samples
