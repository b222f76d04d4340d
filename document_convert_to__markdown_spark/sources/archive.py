"""Archive bundles (zip / tar / tar.gz) ↔ documents relation.

Training corpora routinely arrive as archive bundles rather than
WARC/WET crawls — Gutenberg dumps, GitHub tarball exports, arXiv
source bundles, WebDataset tar shards.  This module provides both
directions of that contract:

- ``read_archive_docs(spark, path_glob)``: a directory/glob of
  ``.zip`` / ``.tar`` / ``.tar.{gz,bz2,xz}`` files → one row per
  member ``(url, archive, member, html, size, status)`` ready for
  ``run_extraction`` (``html`` is the raw member bytes; the engine's
  magic-byte sniffer takes it from there — member *extensions* are
  never trusted, consistent with the A4 dispatch rule).
- ``pack_tar_shards(df, out_dir, ...)``: the export half — pack a
  curated documents relation into size-bounded, deterministic tar
  shards (the WebDataset layout training dataloaders consume),
  returning the shard manifest as a DataFrame.

Scale shape: one archive = one ``binaryFile`` row = one task (same
contract as ``warc.read_warc_pages`` — the Common Crawl work-unit
rule);
member explosion runs inside an Arrow-batched ``mapInPandas``, so no
shuffle stands between the file scan and extraction.  The packer is
the mirror image: ``repartitionByRange`` on the sort key gives every
task an ordered, disjoint url range, and each task packs its own rows
into ``target_bytes``-bounded shards — no global cumulative sum, no
single-partition window, shard count grows linearly with input and
task parallelism is preserved at any scale (exactly how parquet
writers bound file sizes).

Safety rails (review r2 lineage); every inflate goes through
``extractors/bounded.py``, the WARC and wiki readers' decoder too:
- per-archive decompression ceiling (``MAX_DECOMPRESSED_BYTES``)
  stops gzip/bz2/xz/deflate bombs;
- per-member size gate (``MAX_MEMBER_BYTES``, the engine's intended
  100 MB A2 rule) emits blob-free ``skipped_too_large`` rows —
  never a silent drop; a zip member is also read capped, and only
  if stored or deflate (zipfile inflates bzip2 / lzma members
  without a limit);
- corrupt archives salvage every member decoded before the damage
  (tar is streamed member-by-member; zip's central directory makes
  a damaged tail recoverable per-member too) and always emit at
  least one status row per archive, so a broken file is queryable
  rather than invisible.

Reference parity note: the reference walks a *directory* of loose
files (`main.py:80-86`); an archive member here plays the same role a
file on disk plays there — identity is ``archive!member`` the way the
reference's identity is the path.  No code in the reference handles
archives; this operator exists for the 100 TB ingest story.

Format references (public): ZIP — PKWARE APPNOTE.TXT (the
``PK\\x03\\x04`` local header / ``PK\\x05\\x06`` end-of-central-dir
structure, via stdlib ``zipfile``); tar — POSIX.1-1988/2001 ustar &
PAX (via stdlib ``tarfile``); gzip — RFC 1952.
"""

from __future__ import annotations

import io
import posixpath
import tarfile
import zipfile
from typing import Iterator, Optional, Tuple
from urllib.parse import quote, unquote

from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..extractors.bounded import decompress_chunks, read_member

# Per-archive decompression ceiling (bomb rail, as for a WARC file:
# bundles are ~1 GB compressed at most).
MAX_DECOMPRESSED_BYTES = 8 << 30

# Per-member gate: the engine's intended A2 rule (100 MB), applied to
# the *declared* member size before any bytes are inflated.
MAX_MEMBER_BYTES = 100 * 1024 * 1024

_COMPRESSED_TARS = (("gzip", b"\x1f\x8b"), ("bz2", b"BZh"),
                    ("xz", b"\xfd7zXZ\x00"))
_ZIP_MAGICS = (b"PK\x03\x04", b"PK\x05\x06", b"PK\x07\x08")

ARCHIVE_DOCS_SCHEMA = StructType([
    StructField("url", StringType(), False),
    StructField("archive", StringType(), True),
    StructField("member", StringType(), True),
    StructField("html", BinaryType(), True),
    StructField("size", LongType(), True),
    StructField("status", StringType(), False),
])

SHARD_MANIFEST_SCHEMA = StructType([
    StructField("shard", StringType(), False),
    StructField("n_members", LongType(), False),
    StructField("raw_bytes", LongType(), False),
    StructField("tar_bytes", LongType(), False),
    StructField("min_url", StringType(), True),
    StructField("max_url", StringType(), True),
])


def _member_url(archive_name: str, member: Optional[str]) -> str:
    if member is None:          # archive-level status row
        return f"archive://{archive_name}"
    return f"archive://{archive_name}!/{member}"


class _ChunkReader(io.RawIOBase):
    """File-like view over an iterator of byte chunks, so a gzipped tar
    streams straight into ``tarfile`` without the raw archive (up to
    ``MAX_DECOMPRESSED_BYTES``) ever materializing in one task — the
    same streaming-granularity rule the WARC reader follows."""

    def __init__(self, chunks):
        self._chunks = iter(chunks)
        self._buf = b""

    def readable(self):
        return True

    def read(self, n=-1):
        if n is None or n < 0:
            parts = [self._buf] + list(self._chunks)
            self._buf = b""
            return b"".join(parts)
        while len(self._buf) < n:
            nxt = next(self._chunks, None)
            if nxt is None:
                break
            self._buf += nxt
        out, self._buf = self._buf[:n], self._buf[n:]
        return out


def iter_archive_members(
    blob: bytes, archive_name: str,
    max_member_bytes: int = MAX_MEMBER_BYTES,
    max_total_bytes: int = MAX_DECOMPRESSED_BYTES,
) -> Iterator[Tuple[Optional[str], Optional[bytes], Optional[int], str]]:
    """Yield ``(member, payload, size, status)`` from one archive blob.

    Never raises.  Regular files only (directories, links, and other
    special tar entries are structural, not documents).  Statuses:
    ``ok``, ``skipped_too_large`` (blob-free, declared size kept),
    ``failed_member`` (per-member damage), archive-level
    ``failed_archive`` / ``skipped_empty_archive`` rows with a null
    member, and trailers ``failed_archive_tail`` (corrupt-tail
    salvage) / ``failed_archive_ceiling`` (cumulative payload passed
    ``max_total_bytes`` — the many-small-members bomb the per-member
    gate can't see) — so no input file or truncation is ever silent.

    Detection nuance: for *uncompressed* tar, a silently-swallowed bad
    header (tarfile treats it as EOF) is caught by checking for
    non-NUL residue past the stop offset.  For compressed tars the
    decoder itself truncates at damage (``decompress_chunks``'
    salvage), which tarfile then sees as a short read — surfacing as
    ``failed_member`` or a salvage break; only block-aligned inner
    corruption that decompresses cleanly can pass undetected there.
    """
    try:
        for codec, magic in _COMPRESSED_TARS:
            if blob.startswith(magic):
                peek = _ChunkReader(decompress_chunks(codec, blob,
                                                      max_total_bytes))
                yield from _iter_tar(peek, max_member_bytes,
                                     max_total_bytes)
                return
        if blob[:4] in _ZIP_MAGICS:
            yield from _iter_zip(blob, max_member_bytes, max_total_bytes)
            return
        yield from _iter_tar(io.BytesIO(blob), max_member_bytes,
                             max_total_bytes, raw=blob)
    except Exception as exc:                       # noqa: BLE001
        yield None, None, None, f"failed_archive:{type(exc).__name__}"


def _iter_zip(blob: bytes, max_member_bytes: int, max_total_bytes: int):
    try:
        zf = zipfile.ZipFile(io.BytesIO(blob))
        infos = zf.infolist()
    except Exception as exc:                       # noqa: BLE001
        yield None, None, None, f"failed_archive:{type(exc).__name__}"
        return
    n = 0
    total = 0
    for info in infos:
        if info.is_dir():
            continue
        n += 1
        if info.file_size > max_member_bytes:
            # gate on the central directory's DECLARED size — the
            # member is never inflated (zip-bomb rail + A2 gate).
            yield info.filename, None, info.file_size, "skipped_too_large"
            continue
        left = max_total_bytes - total
        if info.file_size > left:
            yield None, None, None, "failed_archive_ceiling"
            return
        try:
            # read capped too; a bzip2 / lzma member, which zipfile
            # inflates without a limit, is refused as failed_member
            data = read_member(zf, info, min(max_member_bytes, left))
        except Exception:                          # noqa: BLE001
            yield info.filename, None, info.file_size, "failed_member"
            continue
        total += len(data)
        yield info.filename, data, len(data), "ok"
    if n == 0:
        yield None, None, None, "skipped_empty_archive"


def _iter_tar(fileobj, max_member_bytes: int, max_total_bytes: int,
              raw: Optional[bytes] = None):
    # Stream mode ('r|') walks headers strictly forward, so a corrupt
    # tail salvages every member before it — and never needs a seek.
    n = 0
    total = 0
    damaged = False
    try:
        tf = tarfile.open(fileobj=fileobj, mode="r|")
    except Exception as exc:                       # noqa: BLE001
        yield None, None, None, f"failed_archive:{type(exc).__name__}"
        return
    try:
        while True:
            try:
                info = tf.next()
            except Exception:                      # noqa: BLE001
                damaged = True
                break                              # salvage prefix
            if info is None:
                # tarfile treats a bad non-first header as clean EOF
                # (InvalidHeaderError at offset>0 is swallowed); a real
                # end-of-archive leaves only NUL padding behind, so any
                # non-NUL residue past the stop offset is damage.
                if raw is not None and raw[tf.offset:].strip(b"\x00"):
                    damaged = True
                break
            if not info.isreg():
                continue
            n += 1
            if info.size > max_member_bytes:
                yield info.name, None, info.size, "skipped_too_large"
                continue
            if total + info.size > max_total_bytes:
                yield None, None, None, "failed_archive_ceiling"
                return
            try:
                fobj = tf.extractfile(info)
                data = fobj.read() if fobj is not None else b""
                total += len(data)
                yield info.name, data, len(data), "ok"
            except Exception:                      # noqa: BLE001
                yield info.name, None, info.size, "failed_member"
    finally:
        try:
            tf.close()
        except Exception:                          # noqa: BLE001
            pass
    if n == 0:
        # A blob whose very first header already fails to parse is a
        # corrupt (or non-) archive, not an empty one.
        yield None, None, None, ("failed_archive:ReadError" if damaged
                                 else "skipped_empty_archive")
    elif damaged:
        # Members after the damage are unrecoverable — leave a trailer
        # row so the salvage is queryable, not a silent truncation.
        yield None, None, None, "failed_archive_tail"


_ARCH_COLS = ["url", "archive", "member", "html", "size", "status"]
# Flush the output batch once buffered payloads pass this bound — the
# streaming rails upstream must not be defeated by collecting a whole
# multi-GB archive's members into one pandas frame (round-5 review).
_FLUSH_BYTES = 64 << 20


def _explode_archive_blobs(batches):
    import pandas as pd

    for pdf in batches:
        rows = []
        pending = 0
        for path, blob in zip(pdf["path"], pdf["content"]):
            name = posixpath.basename(str(path))
            for member, data, size, status in iter_archive_members(
                    bytes(blob), name):
                rows.append((_member_url(name, member),
                             name, member, data, size, status))
                pending += len(data) if data else 0
                if pending >= _FLUSH_BYTES:
                    yield pd.DataFrame(rows, columns=_ARCH_COLS)
                    rows, pending = [], 0
        yield pd.DataFrame(rows, columns=_ARCH_COLS)


def read_archive_docs(spark, path_glob: str,
                      path_glob_filter: str =
                      "*.{zip,tar,tar.gz,tgz,tar.bz2,tbz2,tar.xz,txz}"):
    """Directory/glob of archive bundles → documents relation.

    One archive file = one ``binaryFile`` row = one task; members are
    exploded executor-side in ``mapInPandas`` with no shuffle.  Every
    archive contributes at least one row (status column tells which
    kind), preserving the engine's no-silent-drops invariant.
    """
    files = (spark.read.format("binaryFile")
             .option("pathGlobFilter", path_glob_filter)
             .load(path_glob)
             .select("path", "content"))
    return files.mapInPandas(_explode_archive_blobs,
                             schema=ARCHIVE_DOCS_SCHEMA)


# ---------------------------------------------------------------------------
# Export half: deterministic size-bounded tar shards (WebDataset layout)
# ---------------------------------------------------------------------------

def shard_member_name(url: str) -> str:
    """Deterministic, filesystem-safe, reversible member name for a url.

    Percent-encoding keeps the mapping bijective (``member_name_url``
    below inverts it exactly), so a packed corpus round-trips through
    ``read_archive_docs`` with its original url keys intact.
    """
    return quote(url, safe="")


def member_name_url(member: str) -> str:
    return unquote(member)


def _pack_partition_factory(out_dir: str, prefix: str, target_bytes: int,
                            url_col: str, blob_col: str):
    def _pack(batches):
        import os

        import pandas as pd
        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0

        seq = 0
        tf = None
        cur_path = None
        cur_raw = 0
        cur_n = 0
        cur_min = None
        cur_max = None
        manifest = []

        def _open():
            nonlocal tf, cur_path, cur_raw, cur_n, cur_min, cur_max
            cur_path = os.path.join(
                out_dir, f"{prefix}-{pid:05d}-{seq:04d}.tar")
            # PAX (POSIX.1-2001), not USTAR: percent-encoded urls
            # routinely exceed USTAR's 100-char name field, which
            # would throw mid-task.  With integer mtime=0 the pax
            # extended headers carry only the deterministic 'path'
            # record, so shard bytes stay reproducible.
            tf = tarfile.open(cur_path, mode="w",
                              format=tarfile.PAX_FORMAT)
            cur_raw = 0
            cur_n = 0
            cur_min = None
            cur_max = None

        def _close():
            nonlocal tf, seq
            tf.close()
            manifest.append((
                posixpath.basename(cur_path), cur_n, cur_raw,
                os.path.getsize(cur_path), cur_min, cur_max))
            tf = None
            seq += 1

        os.makedirs(out_dir, exist_ok=True)
        for pdf in batches:
            for url, blob in zip(pdf[url_col], pdf[blob_col]):
                data = b"" if blob is None else bytes(blob)
                if tf is not None and cur_raw and \
                        cur_raw + len(data) > target_bytes:
                    _close()
                if tf is None:
                    _open()
                name = shard_member_name(str(url))
                info = tarfile.TarInfo(name)
                info.size = len(data)
                # Determinism: zeroed mtime/uid/gid, fixed mode — the
                # same rows always produce byte-identical shards.
                info.mtime = 0
                info.uid = info.gid = 0
                info.uname = info.gname = ""
                info.mode = 0o644
                tf.addfile(info, io.BytesIO(data))
                cur_raw += len(data)
                cur_n += 1
                if cur_min is None:
                    cur_min = str(url)
                cur_max = str(url)
        if tf is not None:
            _close()
        yield pd.DataFrame(
            manifest, columns=["shard", "n_members", "raw_bytes",
                               "tar_bytes", "min_url", "max_url"])

    return _pack


def pack_tar_shards(df, out_dir: str, target_bytes: int = 1 << 30,
                    url_col: str = "url", blob_col: str = "html",
                    prefix: str = "shard",
                    num_tasks: Optional[int] = None):
    """Pack a documents relation into size-bounded tar shards.

    ``repartitionByRange(url)`` + ``sortWithinPartitions(url)`` gives
    each task an ordered, disjoint url range; the task greedily packs
    its rows into tars that close when the next member would push the
    raw payload past ``target_bytes`` (every shard holds ≥1 member, so
    an oversized single document still ships, alone in its shard —
    mirroring parquet's maxRecordsPerFile contract).  Returns the
    shard manifest ``(shard, n_members, raw_bytes, tar_bytes,
    min_url, max_url)`` as a DataFrame; ranges of distinct shards
    never interleave, so the manifest doubles as a coarse index for
    selective re-reads.

    ``out_dir`` must be a filesystem every executor can reach (the
    same contract parquet task writers rely on).
    """
    sel = df.select(url_col, blob_col)
    if num_tasks:
        sel = sel.repartitionByRange(num_tasks, url_col)
    else:
        sel = sel.repartitionByRange(url_col)
    sel = sel.sortWithinPartitions(url_col)
    return sel.mapInPandas(
        _pack_partition_factory(out_dir, prefix, target_bytes,
                                url_col, blob_col),
        schema=SHARD_MANIFEST_SCHEMA)
