# -*- coding: utf-8 -*-
"""Every expansion of compressed bytes, capped: zlib, gzip, bz2, xz, zip.

Payloads here are untrusted crawl data, and zlib alone reaches ~1000:1,
so nothing in the package inflates bytes except through this module
(``tests/test_bounded.py`` greps for it).  Three primitives, each taking
its caller's cap:

- ``decompress_chunks``: a (multi-)member gzip / bz2 / xz blob as
  ≤1 MiB chunks, for the source scanners and point reads.  Corrupt or
  truncated input and the cap all end the stream quietly, keeping the
  prefix already yielded (salvage, as crawl segments arrive cut off).
- ``inflate``: one zlib stream in one ``decompress(data, cap)`` call, for
  PDF ``/FlateDecode`` and the PNG / TIFF deflate paths.
- ``read_member``: one zip member, stored or deflate only.  zipfile
  inflates bzip2 and lzma members with no output limit, so even a capped
  ``read`` of one is unbounded; OPC and EPUB OCF allow only those two
  methods, so any other is refused before a byte is inflated.

A document's extractor charges all its streams or members to one
``Budget``: min(``INFLATE_RATIO`` × payload, ``INFLATE_CEILING``) bytes,
past which the row fails with ``DecompressionLimit`` rather than turning
a sub-100 MB document into ~100 GB inside one worker.  Pure Python, no
pyspark: ``sources/`` imports it as ``..extractors.bounded``.
"""

from __future__ import annotations

import bz2
import lzma
import zipfile
import zlib
from typing import Iterator

INFLATE_RATIO = 100
INFLATE_CEILING = 256 * 1024 * 1024

# Output granularity of the streaming path.
_CHUNK = 1 << 20
# Its input slice size, never above _CHUNK: at a member's end the decoder
# copies the rest of the slice into ``unused_data``, so on one-member-per-
# record WARCs a 1 MiB slice would copy ~0.5 MiB per record.
_SLICE = 1 << 16

# codec -> (new decompressor, magic every member starts with)
_CODECS = {
    "gzip": (lambda: zlib.decompressobj(wbits=31), b"\x1f\x8b"),
    "bz2": (bz2.BZ2Decompressor, b"BZh"),
    "xz": (lambda: lzma.LZMADecompressor(format=lzma.FORMAT_XZ),
           b"\xfd7zXZ\x00"),
}
_CORRUPT = (zlib.error, OSError, lzma.LZMAError)    # OSError: bz2

_ZIP_METHODS = (zipfile.ZIP_STORED, zipfile.ZIP_DEFLATED)


class DecompressionLimit(Exception):
    """Compressed bytes expand past the cap or budget they were read under."""


def decompress_chunks(codec: str, data: bytes, cap: int,
                      multi: bool = True) -> Iterator[bytes]:
    """Yield the first ``min(cap, total)`` decoded bytes of ``data``.

    ``multi`` follows concatenated members (WARC's member per record,
    multistream bz2, concatenated xz) until the input ends or the next
    member lacks the codec's magic; without it only the first member is
    decoded (a point read of one stream).  Input is fed as ≤64 KiB
    ``memoryview`` slices, and the bytes sliced past a member's end are
    carried into the next member rather than re-sliced, so every input
    byte is sliced exactly once, however small the members.
    """
    new, magic = _CODECS[codec]
    step = min(_SLICE, _CHUNK)
    mv = memoryview(data)
    n, feed, left = len(data), 0, cap
    carry = b""
    try:
        while left > 0:
            if len(carry) < len(magic) and feed < n:
                take = len(magic) - len(carry)
                carry += bytes(mv[feed:feed + take])
                feed += take
            if not carry.startswith(magic):
                return              # no further member, or trailing garbage
            d = new()
            stalled = True          # the decoder wants fresh input
            while not d.eof:
                if not stalled:     # output left inside the decoder
                    src = getattr(d, "unconsumed_tail", b"")
                elif carry:
                    src, carry = carry, b""
                elif feed < n:
                    src = mv[feed:feed + step]
                    feed += len(src)
                else:
                    return          # truncated member: keep what streamed
                want = min(_CHUNK, left)
                out = d.decompress(src, want)
                if out:
                    left -= len(out)
                    yield out
                    if not left:
                        return      # cap reached: drop the rest
                # bz2 / lzma say whether they hold buffered input; zlib
                # keeps it in unconsumed_tail, and may hold output when
                # it filled ``want`` exactly.
                stalled = (d.needs_input if hasattr(d, "needs_input")
                           else not d.unconsumed_tail and len(out) < want)
            # unused_data is the input past the member's end, read before
            # anything else touches the decoder.
            carry = d.unused_data
            if not multi:
                return
    except _CORRUPT:
        return                      # corrupt member: keep what streamed


def inflate(data: bytes, cap: int) -> tuple[bytes, bool]:
    """At most ``cap`` bytes of the zlib stream that starts ``data``, and
    whether that stream ended within them.

    One ``decompress(data, cap)`` call: no chunk-and-join, since PDF
    ``/FlateDecode`` is on the hot path.  Bytes after the stream's end are
    ignored; a corrupt stream raises ``zlib.error``.
    """
    d = zlib.decompressobj()
    out = d.decompress(data, cap)
    return out, d.eof


def read_member(zf: zipfile.ZipFile, member, cap: int) -> bytes:
    """Zip member ``member`` (a name or ``ZipInfo``), at most ``cap`` bytes.

    Reads ``cap + 1`` bytes through ``zf.open`` and raises
    ``DecompressionLimit`` if it gets them, whatever size the member
    declares.  A member compressed with any method but stored or deflate
    raises ``NotImplementedError`` before it is opened.
    """
    info = (member if isinstance(member, zipfile.ZipInfo)
            else zf.getinfo(member))
    if info.compress_type not in _ZIP_METHODS:
        raise NotImplementedError(
            f"zip member {info.filename!r} uses compression method "
            f"{info.compress_type}; only stored and deflate are read")
    with zf.open(info) as fh:
        out = fh.read(cap + 1)
    if len(out) > cap:
        raise DecompressionLimit(
            f"zip member {info.filename!r} expands past {cap} bytes")
    return out


class Budget:
    """The bytes one document may still expand to, across all its streams
    and members: min(``INFLATE_RATIO`` × payload, ``INFLATE_CEILING``)."""

    __slots__ = ("total", "left", "size")

    def __init__(self, payload: bytes):
        self.size = len(payload)
        self.total = self.left = min(INFLATE_RATIO * self.size,
                                     INFLATE_CEILING)

    def inflate(self, data: bytes) -> bytes | None:
        """One zlib stream, charged: ``None`` when it is corrupt or
        truncated, ``DecompressionLimit`` when it passes what is left."""
        try:
            out, ended = inflate(data, self.left + 1)
        except zlib.error:
            return None
        if len(out) > self.left:
            raise DecompressionLimit(
                f"zlib stream output passes the {self.total}-byte budget "
                f"of a {self.size}-byte document")
        self.left -= len(out)
        return out if ended else None

    def read(self, zf: zipfile.ZipFile, member) -> bytes:
        """``read_member`` capped at, and charged to, what is left."""
        out = read_member(zf, member, self.left)
        self.left -= len(out)
        return out
