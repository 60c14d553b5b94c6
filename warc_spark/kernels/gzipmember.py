"""Multi-member gzip kernel.

The reference stores one gzip member per WARC record so records are
independently decompressable (/root/reference/warc/gzip2.py:1-13,42-67;
warc/warc.py:269-272). That per-record member is the natural split unit for a
parallel scan — here we provide pure-Python member split/compress kernels used
by the vectorized ingest UDFs.

Member splitting uses ``zlib.decompressobj(wbits=31)`` + ``unused_data``
rather than scanning for the gzip magic bytes: magic scanning can false-match
inside compressed data, whereas the decompressor knows exact member
boundaries from the stream itself.
"""

from __future__ import annotations

import gzip
import zlib

GZIP_MAGIC = b"\x1f\x8b"


def _first_slice(prev: int, chunk_bytes: int) -> int:
    """How many bytes to feed zlib first for a member that follows one of
    ``prev`` compressed bytes: twice that (members of one file are alike
    in size), never above ``chunk_bytes``; the first member of a buffer
    (``prev == 0``) gets a whole chunk."""
    return min(2 * prev, chunk_bytes) if prev else chunk_bytes


def iter_gzip_members(data: bytes, chunk_bytes: int = 1 << 20):
    """Yield ``(offset, compressed_size, decompressed_bytes)`` per member.

    Offsets are in *compressed* space, matching the reference's
    ``WARCFile.browse()``/``tell()`` semantics (warc/warc.py:284-313).

    Each member is fed to zlib in memoryview slices: the first is twice
    the previous member's size (``_first_slice``), and each further one
    doubles, never above ``chunk_bytes``. zlib materializes what follows
    the member end (``unused_data``) as a COPY, so that copy costs about
    one member, not one chunk. The obvious one-shot
    ``d.decompress(data[pos:])`` re-copies the entire remaining file into
    ``unused_data`` for EVERY member — quadratic in member count, i.e.
    ~10^14 bytes of memcpy on a 1 GB member-per-record WARC.
    """
    mv = memoryview(data)
    n = len(data)
    pos = 0
    prev = 0
    while pos < n:
        if data[pos : pos + 2] != GZIP_MAGIC:
            raise OSError("Not a gzipped member at offset %d" % pos)
        d = zlib.decompressobj(wbits=31)
        out = []
        cur = pos
        step = _first_slice(prev, chunk_bytes)
        while True:
            chunk = mv[cur : cur + step]
            if not len(chunk):
                raise OSError("truncated gzip member at offset %d" % pos)
            out.append(d.decompress(chunk))
            cur += len(chunk)
            if d.eof:
                consumed = cur - pos - len(d.unused_data)
                break
            step = min(2 * step, chunk_bytes)
        yield pos, consumed, b"".join(out)
        pos += consumed
        prev = consumed


def iter_gzip_member_offsets_streamed(fh, chunk_bytes: int = 8 << 20):
    """Yield ``(offset, compressed_size)`` per member from a file-like
    object (``read()``), using O(chunk_bytes) memory.

    This is the bounded-memory INDEX pass for arbitrarily large
    multi-member files: a 100 GB WARC never materializes. Within each
    ``chunk_bytes`` read, members are fed to zlib in the same bounded
    memoryview slices as ``iter_gzip_members``, so the ``unused_data``
    copy at a member end costs about one member, not the rest of the
    chunk (feeding the whole remainder is quadratic in the members per
    chunk). Decompressed output is discarded; only the stream geometry
    is kept.
    """
    pos = 0            # absolute offset of the current member's start
    d = None           # the current member's decompressor, None between members
    consumed = 0       # bytes of the current member consumed so far
    prev = 0
    while True:
        buf = fh.read(chunk_bytes)
        if not buf:
            if d is not None:
                raise OSError("truncated gzip member at offset %d" % pos)
            return
        mv = memoryview(buf)
        i = 0
        while i < len(mv):
            if d is None:
                d = zlib.decompressobj(wbits=31)
                consumed = 0
                step = _first_slice(prev, chunk_bytes)
            piece = mv[i : i + step]
            d.decompress(piece)
            if d.eof:
                used = len(piece) - len(d.unused_data)
                consumed += used
                i += used
                yield pos, consumed
                pos += consumed
                prev = consumed
                d = None
            else:
                consumed += len(piece)
                i += len(piece)
                step = min(2 * step, chunk_bytes)


def split_gzip_members(data: bytes) -> list[tuple[int, int, bytes]]:
    return list(iter_gzip_members(data))


def count_gzip_members(data: bytes) -> int:
    return sum(1 for _ in iter_gzip_members(data))


def compress_gzip_member(data: bytes, compresslevel: int = 9) -> bytes:
    """One deterministic gzip member (mtime pinned to 0 so output bytes are
    reproducible; the reference uses compresslevel 9, gzip2.py:17,54)."""
    return gzip.compress(data, compresslevel=compresslevel, mtime=0)


def compress_records_as_members(
    records: list[bytes], compresslevel: int = 9
) -> bytes:
    """Serialize a list of already-serialized records as a multi-member gzip
    file, one member per record (reference write path warc/warc.py:265-272)."""
    return b"".join(compress_gzip_member(r, compresslevel) for r in records)
