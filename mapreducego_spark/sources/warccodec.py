"""WARC (Web ARChive) codec + HTML text extraction, pure stdlib.

WARC is THE crawl-ingest format of LLM training pipelines (Common
Crawl publishes its corpus as per-record-gzipped WARC members), so a
"switch from the reference" engine that claims the 100 TB
training-data north star needs to read it natively. Implemented from
the public ISO 28500 / WARC 1.0 grammar:

    warc-file   = 1*warc-record
    warc-record = header CRLF block CRLF CRLF
    header      = version CRLF *(field-name ":" field-value CRLF)

plus the standard Common Crawl packaging: each record is its OWN
gzip member and members are concatenated, so readers can split
archives on member boundaries without decoding the stream.

Scope (loud): WARC/1.0 and WARC/1.1 records; ``response`` records
carry an ``application/http`` block whose status line, headers and
body are parsed (the HTTP Content-Length must match the actual body
— a mismatch is a truncation bug upstream, never silently accepted).
Other record types (warcinfo, request, metadata...) are surfaced
with their raw block so callers can route them. Structurally broken
input — a bad version line, a header without a colon, a missing
Content-Length, a block that overruns the payload, a missing record
separator — raises ValueError.

The HTML text extractor is the boilerplate-strip pass a crawl
pipeline runs right after ingest: script/style subtrees dropped (per
the HTML5 raw-text element rule — their content is scanned for the
literal closing tag, so ``1 < 2`` inside a script never derails the
walk), comments dropped, remaining tags stripped to whitespace,
entities unescaped (html.unescape: the full named + numeric set),
whitespace collapsed. Deterministic and closed-form-oracle-able.

Reference parity note: the reference repo (MapReduceGo) reads opaque
local files (master.go:82); WARC ingest belongs to the north-star
tier (BASELINE.json).

At 100 TB: files are the unit of parallelism here (binaryFile scan +
one Arrow crossing); real clusters additionally split giant archives
on gzip-member boundaries by byte range — the per-record-member
layout this codec writes and sniffs is exactly what makes that
possible.
"""

from __future__ import annotations

import calendar
import datetime as _dt
import gzip
import hashlib
import html as _html
import io
import struct
import zlib


# --------------------------------------------------------------- write

def _warc_headers(fields: list[tuple[str, str]], length: int) -> bytes:
    lines = ["WARC/1.0"]
    lines += [f"{k}: {v}" for k, v in fields]
    lines.append(f"Content-Length: {length}")
    return ("\r\n".join(lines) + "\r\n\r\n").encode()


def _record_id(seed: str) -> str:
    h = hashlib.md5(seed.encode()).hexdigest()
    return (
        f"<urn:uuid:{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:32]}>"
    )


def iso_date(epoch_s: int) -> str:
    """WARC-Date format (ISO 8601 UTC, second precision)."""
    return _dt.datetime.fromtimestamp(
        epoch_s, _dt.timezone.utc
    ).strftime("%Y-%m-%dT%H:%M:%SZ")


def build_warcinfo(epoch_s: int, filename: str) -> bytes:
    body = (
        "software: mapreducego-spark/0.1\r\n"
        "format: WARC File Format 1.0\r\n"
    ).encode()
    head = _warc_headers(
        [
            ("WARC-Type", "warcinfo"),
            ("WARC-Record-ID", _record_id("warcinfo:" + filename)),
            ("WARC-Date", iso_date(epoch_s)),
            ("WARC-Filename", filename),
            ("Content-Type", "application/warc-fields"),
        ],
        len(body),
    )
    return head + body + b"\r\n\r\n"


def build_response(
    url: str,
    epoch_s: int,
    body: bytes,
    status: int = 200,
    reason: str = "OK",
    content_type: str = "text/html; charset=utf-8",
) -> bytes:
    http = (
        f"HTTP/1.1 {status} {reason}\r\n"
        f"Content-Type: {content_type}\r\n"
        f"Content-Length: {len(body)}\r\n\r\n"
    ).encode() + body
    head = _warc_headers(
        [
            ("WARC-Type", "response"),
            ("WARC-Record-ID", _record_id("response:" + url)),
            ("WARC-Date", iso_date(epoch_s)),
            ("WARC-Target-URI", url),
            ("Content-Type", "application/http;msgtype=response"),
        ],
        len(http),
    )
    return head + http + b"\r\n\r\n"


def gzip_member(record: bytes) -> bytes:
    """One record -> one gzip member (the Common Crawl packaging)."""
    buf = io.BytesIO()
    with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as gz:
        gz.write(record)
    return buf.getvalue()


# --------------------------------------------------------------- parse

def split_gzip_members(payload: bytes) -> list[bytes]:
    """Decompress a concatenation of gzip members, one output blob
    per member — the boundary a 100 TB reader splits archives on.
    A corrupt member raises ValueError, never a raw zlib.error."""
    out = []
    pos = 0
    while pos < len(payload):
        d = zlib.decompressobj(wbits=31)
        try:
            out.append(d.decompress(payload[pos:]))
        except zlib.error as e:
            raise ValueError(f"corrupt gzip member in WARC archive: {e}") from e
        if not d.eof:
            raise ValueError("truncated gzip member in WARC archive")
        consumed = len(payload) - pos - len(d.unused_data)
        pos += consumed
    return out


def parse_warc_date(s: str) -> int:
    """WARC-Date -> integer UTC epoch seconds (loud on format)."""
    t = _dt.datetime.strptime(s, "%Y-%m-%dT%H:%M:%SZ")
    return calendar.timegm(t.timetuple())


def parse_warc(payload: bytes) -> list[dict]:
    """Parse a WARC file (plain or per-record-gzipped) into a list
    of record dicts: warc_type / url / date_s / record_id / block,
    plus http_status / mime / body for ``response`` records."""
    if payload[:2] == b"\x1f\x8b":
        data = b"".join(split_gzip_members(payload))
    else:
        data = bytes(payload)
    records: list[dict] = []
    pos, n = 0, len(data)
    while pos < n:
        if data[pos : pos + 2] == b"\r\n":  # inter-record slack
            pos += 2
            continue
        eol = data.find(b"\r\n", pos)
        if eol < 0:
            raise ValueError("WARC version line unterminated")
        version = data[pos:eol].decode("ascii", "replace")
        if version not in ("WARC/1.0", "WARC/1.1"):
            raise ValueError(f"not a WARC record: version {version!r}")
        pos = eol + 2
        hdrs: dict[str, str] = {}
        while True:
            eol = data.find(b"\r\n", pos)
            if eol < 0:
                raise ValueError("WARC header block unterminated")
            line = data[pos:eol]
            pos = eol + 2
            if not line:
                break
            key, sep, val = line.decode("utf-8").partition(":")
            if not sep:
                raise ValueError(f"malformed WARC header line {line!r}")
            hdrs[key.strip().lower()] = val.strip()
        if "content-length" not in hdrs:
            raise ValueError("WARC record missing Content-Length")
        length = int(hdrs["content-length"])
        block = data[pos : pos + length]
        if len(block) != length:
            raise ValueError(
                f"WARC block declares {length} bytes past end of file"
            )
        pos += length
        if data[pos : pos + 4] != b"\r\n\r\n":
            raise ValueError("WARC record missing CRLF CRLF separator")
        pos += 4
        rec = {
            "warc_type": hdrs.get("warc-type"),
            "url": hdrs.get("warc-target-uri"),
            "date_s": parse_warc_date(hdrs["warc-date"])
            if "warc-date" in hdrs
            else None,
            "record_id": hdrs.get("warc-record-id"),
            "block": block,
        }
        if rec["warc_type"] == "response":
            rec.update(_parse_http_response(block))
        records.append(rec)
    return records


def _parse_http_response(block: bytes) -> dict:
    head, sep, body = block.partition(b"\r\n\r\n")
    if not sep:
        raise ValueError("HTTP response head unterminated")
    lines = head.split(b"\r\n")
    parts = lines[0].decode("ascii", "replace").split(" ", 2)
    if len(parts) < 2 or not parts[0].startswith("HTTP/"):
        raise ValueError(f"bad HTTP status line {lines[0]!r}")
    hh: dict[str, str] = {}
    for line in lines[1:]:
        key, s2, val = line.decode("utf-8").partition(":")
        if not s2:
            raise ValueError(f"malformed HTTP header line {line!r}")
        hh[key.strip().lower()] = val.strip()
    if "content-length" in hh and int(hh["content-length"]) != len(body):
        raise ValueError(
            f"HTTP Content-Length {hh['content-length']} != body"
            f" {len(body)} bytes (truncated record)"
        )
    return {
        "http_status": int(parts[1]),
        "mime": hh.get("content-type"),
        "body": body,
    }


# ------------------------------------------------------ text extraction

_RAW_TEXT = ("script", "style")


def extract_html_text(doc: str) -> str:
    """Strip an HTML document to its visible text: script/style
    subtrees and comments dropped, tags replaced by whitespace,
    entities unescaped, whitespace collapsed to single spaces."""
    out: list[str] = []
    i, n = 0, len(doc)
    low = doc.lower()
    while i < n:
        ch = doc[i]
        if ch != "<":
            out.append(ch)
            i += 1
            continue
        if doc[i : i + 4] == "<!--":
            close = doc.find("-->", i + 4)
            if close < 0:
                raise ValueError("unterminated HTML comment")
            i = close + 3
            out.append(" ")
            continue
        gt = doc.find(">", i + 1)
        if gt < 0:
            raise ValueError("unterminated HTML tag")
        tag = doc[i + 1 : gt].strip()
        name = tag.split()[0].lower() if tag else ""
        i = gt + 1
        out.append(" ")
        if name in _RAW_TEXT and not tag.endswith("/"):
            # HTML5 raw-text rule: content runs to the literal
            # closing tag, markup-like bytes inside don't nest. The
            # tag name must be followed by whitespace, '/', or '>'
            # (13.2.5.x "appropriate end tag token") — a longer tag
            # sharing the prefix (e.g. </scripts>) is NOT the
            # terminator of <script>, so keep scanning past those.
            scan = i
            while True:
                close = low.find("</" + name, scan)
                if close < 0:
                    raise ValueError(f"unclosed <{name}> element")
                after = close + 2 + len(name)
                if after >= n or low[after] in ">/ \t\n\r\f":
                    break
                scan = close + 2
            gt = doc.find(">", close)
            if gt < 0:
                raise ValueError(f"unterminated </{name}> tag")
            i = gt + 1
            out.append(" ")
    return " ".join(_html.unescape("".join(out)).split())
