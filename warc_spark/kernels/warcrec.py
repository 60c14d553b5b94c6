"""WARC 1.0 record parse/serialize kernel (pure Python 3, bytes in/out).

Reimplements — from observed behavior, not copied code — the record semantics
of the reference library ``internetarchive/warc``:

- version line ``WARC/1.0\\r\\n``; only version 1.0 accepted on read
  (reference: /root/reference/warc/warc.py:316-318,329-334).
- header lines ``Name: value\\r\\n`` with name charset ``[a-zA-Z_-]+`` — a
  digit in a header name is a parse error (warc/warc.py:317,341-343).
- headers are case-insensitive (warc/warc.py:21-71, warc/utils.py:30-43);
  we keep the original (name, value) order for byte-identical round-trip,
  which the reference only preserves incidentally via dict order.
- payload = exactly Content-Length bytes, then a mandatory ``\\r\\n\\r\\n``
  footer (warc/warc.py:159-164 write, 348-361 strict read).
- serialization normalizes header names: ``title()`` then
  ``Warc-``→``WARC-``, ``-Ip-``→``-IP-``, ``-Id``→``-ID``, ``-Uri``→``-URI``
  (warc/warc.py:90-104; the quirk ``x-id-token`` → ``X-ID-Token`` included).
- defaults on construct (warc/warc.py:75-88,137-157): WARC-Type=response,
  Content-Length=len(payload), WARC-Payload-Digest=``sha1:``+hex digest of the
  *entire payload*, Content-Type chosen from the record type. The reference's
  nondeterministic uuid1()/utcnow() defaults are replaced by *injectable*
  ``record_id``/``date`` parameters (determinism requirement, SURVEY.md R2).

The kernel raises ``WARCFormatError`` (an ``IOError`` subclass, matching the
reference's ``IOError``) in strict mode and emits an error column in lax mode.
"""

from __future__ import annotations

import base64
import hashlib
import re
from dataclasses import dataclass, field
from functools import lru_cache

RE_VERSION = re.compile(rb"WARC/(\d+\.\d+)\r\n")
RE_HEADER = re.compile(rb"([a-zA-Z_\-]+): *(.*)\r\n", re.DOTALL)
# RE_HEADER over one decoded line, already split on its \r\n
RE_HEADER_TEXT = re.compile(r"([a-zA-Z_\-]+): *(.*)", re.DOTALL)
VERSION_1_0 = b"WARC/1.0\r\n"
SUPPORTED_VERSIONS = ("1.0",)
# lax-mode extras: versions whose record framing matches 1.0 byte-for-byte
LAX_VERSIONS = ("1.0", "1.1")

CONTENT_TYPES = {
    "warcinfo": "application/warc-fields",
    "response": "application/http; msgtype=response",
    "request": "application/http; msgtype=request",
    "metadata": "application/warc-fields",
}
DEFAULT_CONTENT_TYPE = "application/octet-stream"


class WARCFormatError(IOError):
    """Strict-mode framing/parse error (reference raises bare IOError)."""


def normalize_header_name(name: str) -> str:
    """Canonical wire-casing for a WARC header name.

    Matches the reference writer exactly (warc/warc.py:96-98), including the
    quirk that ``x-id-token`` becomes ``X-ID-Token``.
    """
    name = name.title()
    return (
        name.replace("Warc-", "WARC-")
        .replace("-Ip-", "-IP-")
        .replace("-Id", "-ID")
        .replace("-Uri", "-URI")
    )


def sha1_digest_hex(payload: bytes) -> str:
    """``sha1:`` + lowercase hex over the whole payload (warc/warc.py:156-157).

    Note: the reference digests the entire payload (HTTP headers included),
    deviating from the WARC spec; we match the reference.
    """
    return "sha1:" + hashlib.sha1(payload or b"").hexdigest()


def sha1_digest_base32(payload: bytes) -> str:
    """``sha1:`` + base32 digest, the encoding real-world archives carry
    (fixture test_data/crlf_at_1k_boundary.warc.gz carries base32)."""
    return "sha1:" + base64.b32encode(hashlib.sha1(payload or b"").digest()).decode("ascii")


@dataclass
class WARCRecord:
    """A parsed/constructed WARC record.

    ``headers`` preserves original order and case for byte-identical
    serialization; ``hmap`` (lower-cased name -> value) gives the reference's
    case-insensitive lookup semantics. It is built from ``headers`` unless
    the parser, which has already built it, passes it in.
    """

    headers: list[tuple[str, str]]
    payload: bytes = b""
    version: str = "1.0"
    offset: int = -1          # byte offset of the record in its container
    size: int = -1            # serialized (or compressed-member) size
    error: str | None = None  # lax-mode parse error, None when clean
    hmap: dict[str, str] | None = field(default=None, repr=False)

    def __post_init__(self) -> None:
        if self.hmap is None:
            self.hmap = {n.lower(): v for n, v in self.headers}

    # -- case-insensitive header access (warc/utils.py:30-43) --------------
    def get(self, name: str, default: str | None = None) -> str | None:
        return self.hmap.get(name.lower(), default)

    def __getitem__(self, name: str) -> str:
        return self.hmap[name.lower()]

    def __contains__(self, name: str) -> bool:
        return name.lower() in self.hmap

    def set(self, name: str, value: str) -> None:
        low = name.lower()
        if low in self.hmap:
            self.headers = [
                (n, value if n.lower() == low else v) for n, v in self.headers
            ]
        else:
            self.headers.append((name, value))
        self.hmap[low] = value

    # -- typed accessors (warc/warc.py:106-124,166-190) --------------------
    @property
    def type(self) -> str | None:
        return self.get("WARC-Type")

    @property
    def record_id(self) -> str | None:
        return self.get("WARC-Record-ID")

    @property
    def date(self) -> str | None:
        return self.get("WARC-Date")

    @property
    def url(self) -> str | None:
        return self.get("WARC-Target-URI")

    @property
    def ip_address(self) -> str | None:
        return self.get("WARC-IP-Address")

    @property
    def checksum(self) -> str | None:
        return self.get("WARC-Payload-Digest")

    @property
    def content_length(self) -> int:
        return int(self["Content-Length"])

    def to_bytes(self) -> bytes:
        return serialize_warc_record(self.headers, self.payload, self.version)


@lru_cache(maxsize=1024)
def _wire_name(name: str) -> bytes:
    """``normalize_header_name(name)`` encoded plus the ``": "`` after it,
    memoized: the same few header names repeat in every record."""
    return normalize_header_name(name).encode() + b": "


def serialize_warc_record(
    headers: list[tuple[str, str]], payload: bytes, version: str = "1.0"
) -> bytes:
    """Serialize one record: version line, normalized headers, blank line,
    payload, ``\\r\\n\\r\\n`` footer (warc/warc.py:90-104,159-164)."""
    out = [b"WARC/", version.encode(), b"\r\n"]
    for name, value in headers:
        out.append(_wire_name(name))
        out.append(value.encode() if isinstance(value, str) else value)
        out.append(b"\r\n")
    out.append(b"\r\n")
    out.append(payload or b"")
    out.append(b"\r\n\r\n")
    return b"".join(out)


def make_record(
    payload: bytes = b"",
    headers: dict[str, str] | list[tuple[str, str]] | None = None,
    warc_type: str | None = None,
    record_id: str | None = None,
    date: str | None = None,
    defaults: bool = True,
) -> WARCRecord:
    """Construct a record with the reference's default-header semantics
    (warc/warc.py:75-88,137-157) but with *injectable* id/date instead of
    uuid1()/utcnow() so output is deterministic.

    Default header order is canonical-fixed (the reference's order was py2
    dict-hash order, i.e. unspecified): WARC-Type, WARC-Record-ID, WARC-Date,
    Content-Type, Content-Length, WARC-Payload-Digest, then extras.
    """
    if headers is None:
        headers = []
    items = list(headers.items()) if isinstance(headers, dict) else list(headers)
    hmap = {n.lower(): v for n, v in items}

    def have(n: str) -> bool:
        return n.lower() in hmap

    ordered: list[tuple[str, str]] = []
    if defaults:
        wtype = warc_type or hmap.get("warc-type", "response")
        if not have("WARC-Type"):
            ordered.append(("WARC-Type", wtype))
        if not have("WARC-Record-ID"):
            if record_id is None:
                raise ValueError(
                    "record_id must be injected (reference uses uuid1(), "
                    "which is nondeterministic; see SURVEY.md R2)"
                )
            ordered.append(("WARC-Record-ID", f"<urn:uuid:{record_id}>"))
        if not have("WARC-Date"):
            if date is None:
                raise ValueError("date must be injected (reference uses utcnow())")
            ordered.append(("WARC-Date", date))
        if not have("Content-Type"):
            ordered.append(
                ("Content-Type", CONTENT_TYPES.get(wtype, DEFAULT_CONTENT_TYPE))
            )
        if not have("Content-Length"):
            ordered.append(("Content-Length", str(len(payload)) if payload else "0"))
        if not have("WARC-Payload-Digest"):
            ordered.append(("WARC-Payload-Digest", sha1_digest_hex(payload)))
    ordered.extend(items)
    return WARCRecord(headers=ordered, payload=payload or b"")


def _parse_headers_1_0(data: bytes, pos: int):
    """Fast path for a well-formed ``WARC/1.0`` record at ``pos``: one
    search for the blank line that ends the header block, one decode of
    the block, then a full match of each header line. Returns
    ``(headers, next_pos)``, or None when the record is not that shape, so
    the line loop of ``_parse_one`` parses it (and reports whatever is
    wrong, exactly as before). Decoding the block at once gives the
    line loop's per-value ``decode(errors="replace")``: UTF-8 is
    self-synchronizing, and every byte the block is split on, or that a
    name may hold, is ASCII."""
    if not data.startswith(VERSION_1_0, pos):
        return None
    body = pos + len(VERSION_1_0)
    end = data.find(b"\r\n\r\n", body - 2)
    if end < 0:
        return None
    headers = []
    if end >= body:
        for line in data[body:end].decode(errors="replace").split("\r\n"):
            m = RE_HEADER_TEXT.fullmatch(line)
            if m is None:
                return None
            headers.append(m.groups())
    return headers, end + 4


def _parse_one(data: bytes, pos: int, strict: bool) -> tuple[WARCRecord | None, int]:
    """Parse one record starting at ``pos``; return (record, next_pos)."""
    start = pos
    fast = _parse_headers_1_0(data, pos)
    if fast is not None:
        headers, pos = fast
        version = "1.0"
    else:
        eol = data.find(b"\r\n", pos)
        if eol < 0:
            if data[pos:].strip() == b"":
                return None, len(data)
            if strict:
                raise WARCFormatError("Bad version line: %r" % data[pos : pos + 64])
            return (
                WARCRecord([], b"", offset=start, error="bad version line"),
                len(data),
            )
        version_line = data[pos : eol + 2]
        m = RE_VERSION.match(version_line)
        if not m:
            if strict:
                raise WARCFormatError("Bad version line: %r" % version_line)
            return WARCRecord([], b"", offset=start, error="bad version line"), len(data)
        version = m.group(1).decode()
        if version not in SUPPORTED_VERSIONS:
            # strict == the reference contract: 1.0 ONLY (warc/warc.py:316-318,
            # SUPPORTED_VERSIONS). Lax additionally PARSES the later ISO
            # revisions (1.1 adds fractional-second WARC-Dates; the framing is
            # identical), since real archive sets mix 1.0 and 1.1 segments —
            # the record's own `version` column carries what the file said.
            if strict or version not in LAX_VERSIONS:
                if strict:
                    raise WARCFormatError("Unsupported WARC version: %s" % version)
                return (
                    WARCRecord([], b"", version=version, offset=start,
                               error=f"unsupported version {version}"),
                    len(data),
                )
        pos = eol + 2

        headers: list[tuple[str, str]] = []
        while True:
            eol = data.find(b"\r\n", pos)
            if eol < 0:
                if strict:
                    raise WARCFormatError("Unterminated header block")
                return (
                    WARCRecord(headers, b"", offset=start,
                               error="unterminated headers"),
                    len(data),
                )
            line = data[pos : eol + 2]
            pos = eol + 2
            if line == b"\r\n":  # end of headers
                break
            m = RE_HEADER.match(line)
            if not m or m.end() != len(line):
                if strict:
                    raise WARCFormatError("Bad header line: %r" % line)
                return (
                    WARCRecord(headers, b"", offset=start, error="bad header line"),
                    len(data),
                )
            headers.append((m.group(1).decode(), m.group(2).decode(errors="replace")))

    hmap = {n.lower(): v for n, v in headers}
    try:
        clen = int(hmap.get("content-length", "0"))
    except ValueError:
        clen = 0
    payload = data[pos : pos + clen]
    pos += clen
    # mandatory \r\n\r\n footer (warc/warc.py:348-361)
    if data[pos : pos + 4] != b"\r\n\r\n":
        if strict:
            raise WARCFormatError(
                "Expected '\\r\\n\\r\\n', found %r" % data[pos : pos + 4]
            )
        rec = WARCRecord(headers, payload, version=version, offset=start,
                         error="missing footer", hmap=hmap)
        rec.size = pos - start
        return rec, pos
    pos += 4
    rec = WARCRecord(headers, payload, version=version, offset=start, hmap=hmap)
    rec.size = pos - start
    return rec, pos


def parse_warc_stream(data: bytes, strict: bool = True):
    """Yield ``WARCRecord`` for each record in an *uncompressed* WARC byte
    stream (concatenated records). Offsets/sizes are byte positions in
    ``data``. Mirrors the reference read loop (warc/warc.py:363-393)."""
    pos = 0
    n = len(data)
    while pos < n:
        rec, pos = _parse_one(data, pos, strict)
        if rec is None:
            return
        yield rec
