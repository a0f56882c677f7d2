"""WARC (Web ARChive) ingestion — the Common Crawl wire format — pure
Python, stdlib zlib only.

Beyond-reference LLM-pipeline surface (the reference repo has no web
ingestion; builder's-brief scope: a large-scale training-data
pipeline's raw input is overwhelmingly WARC.gz). Public knowledge
only: the ISO 28500 WARC specification (version line, named headers,
Content-Length-framed payload, CRLF CRLF record trailer) and the
gzip member framing convention (each record its own gzip member, so
readers can split shards without decompressing everything).

The decoder is strict and bomb-capped in the same style as the image
codecs: bounded inflate per member (a 40-byte member cannot expand
past the cap), record-count caps, malformed version lines / headers /
framing return None. The encoder twin synthesizes spec-valid
multi-member WARC.gz payloads for tests and oracles.
"""

from __future__ import annotations

import zlib

_WARC_MAX_RECORDS = 65536
_WARC_MAX_PAYLOAD = 1 << 26  # per-record decompressed cap (64 MiB)
_WARC_MAX_HEADERS = 256


def encode_warc_gz(records: list[dict]) -> bytes:
    """Encoder twin: one gzip member per record (the Common Crawl
    convention). Each record dict: {'type': 'response', 'uri': ...,
    'payload': bytes, **extra_headers}."""
    out = bytearray()
    for i, rec in enumerate(records):
        payload = rec["payload"]
        headers = [
            ("WARC-Type", rec.get("type", "response")),
            ("WARC-Record-ID", rec.get("id", f"<urn:uuid:record-{i}>")),
            ("WARC-Date", rec.get("date", "2026-01-01T00:00:00Z")),
            ("Content-Length", str(len(payload))),
        ]
        if "uri" in rec:
            headers.insert(3, ("WARC-Target-URI", rec["uri"]))
        head = "WARC/1.0\r\n" + "".join(
            f"{k}: {v}\r\n" for k, v in headers
        ) + "\r\n"
        member = head.encode("utf-8") + payload + b"\r\n\r\n"
        # level 1: the encoder exists to frame spec-valid members for
        # gates/tests — nothing reads the compressed SIZE, and level 1
        # deflates ~3x faster than the old 6 (r15 optimization; the
        # decoder is level-agnostic)
        co = zlib.compressobj(1, zlib.DEFLATED, 31)  # gzip framing
        out += co.compress(member) + co.flush()
    return bytes(out)


def _inflate_member(b: bytes, pos: int) -> tuple[bytes, int] | None:
    """Bounded-inflate one gzip member starting at pos; returns
    (decompressed, next_pos). None on corruption or cap violation."""
    d = zlib.decompressobj(31)
    out = bytearray()
    try:
        chunk = d.decompress(b[pos:], _WARC_MAX_PAYLOAD + 1)
    except zlib.error:
        return None
    out += chunk
    if len(out) > _WARC_MAX_PAYLOAD:
        return None  # bomb: tiny member expanding past the cap
    if not d.eof:
        return None  # truncated member
    consumed = len(b) - pos - len(d.unused_data)
    return bytes(out), pos + consumed


def parse_warc_gz(b: bytes) -> list[dict] | None:
    """Parse a multi-member WARC.gz payload into a list of records:
    {'type', 'uri', 'content_length', 'payload'} (uri None when the
    record has no WARC-Target-URI). Strict: bad version line, missing
    Content-Length, short payload, or missing CRLF CRLF trailer all
    return None."""
    b = bytes(b)
    records: list[dict] = []
    pos = 0
    while pos < len(b):
        if len(records) >= _WARC_MAX_RECORDS:
            return None
        got = _inflate_member(b, pos)
        if got is None:
            return None
        member, pos = got
        rec = _parse_record(member)
        if rec is None:
            return None
        records.append(rec)
    if not records:
        return None
    return records


def _parse_record(member: bytes) -> dict | None:
    head_end = member.find(b"\r\n\r\n")
    if head_end < 0:
        return None
    lines = member[:head_end].split(b"\r\n")
    if not lines or not lines[0].startswith(b"WARC/"):
        return None
    version = lines[0][5:]
    if version not in (b"1.0", b"1.1"):
        return None
    if len(lines) - 1 > _WARC_MAX_HEADERS:
        return None
    headers: dict[str, str] = {}
    for line in lines[1:]:
        if b":" not in line:
            return None
        k, v = line.split(b":", 1)
        try:
            headers[k.decode("utf-8").strip().lower()] = (
                v.decode("utf-8").strip()
            )
        except UnicodeDecodeError:
            return None
    if "content-length" not in headers:
        return None
    try:
        clen = int(headers["content-length"])
    except ValueError:
        return None
    if clen < 0 or clen > _WARC_MAX_PAYLOAD:
        return None
    body_start = head_end + 4
    payload = member[body_start : body_start + clen]
    if len(payload) != clen:
        return None
    if member[body_start + clen :] != b"\r\n\r\n":
        return None  # spec trailer: exactly two CRLFs end a record
    return {
        "type": headers.get("warc-type", ""),
        "uri": headers.get("warc-target-uri"),
        "content_length": clen,
        "payload": payload,
    }


WARC_RECORDS_SCHEMA = (
    "id long, record_idx int, n_records int, warc_type string, "
    "target_uri string, content_length int, payload_text string"
)


def _utf8_or_none(b: bytes) -> str | None:
    try:
        return b.decode("utf-8")
    except UnicodeDecodeError:
        return None


def warc_records(df):
    """REAL distributed WARC.gz ingestion: parse_warc_gz per payload —
    one output row per record, the same 1-to-many shape as the frame
    decoders. Payloads that aren't valid UTF-8 text carry a null
    payload_text (binary responses flow on; length and headers still
    populate). Malformed archives yield one null-stats row."""
    from synthea_etl_spark.operators.multimodal import payload_rows

    def rows(b):
        recs = parse_warc_gz(b)
        if recs is None:
            return None
        return [
            (i, len(recs), r["type"], r["uri"], r["content_length"],
             _utf8_or_none(r["payload"]))
            for i, r in enumerate(recs)
        ]

    return payload_rows(df, WARC_RECORDS_SCHEMA, rows)
