"""Magic-byte / MIME format sniffing (replaces extension dispatch).

The reference dispatches on file extension
(/root/reference/src/document_processors.py:1073-1097,
/root/reference/src/converter.py:535-540).  At web scale there are no
filenames, so format is determined from the first bytes of the payload
(north_star: "batched format sniffing (magic-byte + MIME dispatch over
HTML/PDF/DOCX/XLSX bytes)").  Pure function — safe inside Arrow UDFs.
"""

from __future__ import annotations

import io
import json
import zipfile

from .bounded import read_member

# Format labels (the `format` column of the result schema).
FMT_HTML = "html"
FMT_PDF = "pdf"
FMT_DOCX = "docx"
FMT_XLSX = "xlsx"
FMT_PPTX = "pptx"
FMT_PNG = "png"
FMT_JPEG = "jpeg"
FMT_GIF = "gif"
FMT_BMP = "bmp"
FMT_WEBP = "webp"
FMT_TIFF = "tiff"
FMT_TEXT = "text"
FMT_CSV = "csv"
FMT_TSV = "tsv"
FMT_JSON = "json"
FMT_XML = "xml"
FMT_WAV = "wav"
FMT_MP3 = "mp3"
FMT_FLAC = "flac"
FMT_AIFF = "aiff"
FMT_VTT = "vtt"    # WebVTT timed text (beyond reference, like FLAC)
FMT_SRT = "srt"    # SubRip timed text (beyond reference)
FMT_MP4 = "mp4"    # ISO-BMFF video container (beyond reference)
FMT_WEBM = "webm"  # EBML/Matroska family incl. .mkv (beyond reference)
FMT_OGG = "ogg"    # Ogg container (Vorbis/Opus/Theora streams)
FMT_AVIF = "avif"  # ISO-BMFF still image, AV1 payload (brand-routed)
FMT_HEIC = "heic"  # ISO-BMFF still image, HEVC payload (brand-routed)
FMT_EPUB = "epub"
FMT_RTF = "rtf"
FMT_DOC = "doc"    # legacy OLE2 Word (reference config.py:40)
FMT_XLS = "xls"    # legacy OLE2 Excel (reference config.py:42)
FMT_PPT = "ppt"    # legacy OLE2 PowerPoint (reference config.py:41)
FMT_EMPTY = "empty"
FMT_UNKNOWN = "unknown"

IMAGE_FORMATS = frozenset({FMT_PNG, FMT_JPEG, FMT_GIF, FMT_BMP, FMT_WEBP,
                           FMT_TIFF, FMT_AVIF, FMT_HEIC})

_HTML_MARKERS = (
    b"<!doctype html",
    b"<html",
    b"<head",
    b"<body",
)


# An EPUB's ``mimetype`` member is ``application/epub+zip``: no more of
# it than this is read.
_MIMETYPE_CAP = 256


def _sniff_zip(payload: bytes) -> str:
    """Distinguish OOXML container types by member listing.

    Mirrors what extension dispatch decided in the reference
    (document_processors.py:1088-1095) but from the bytes themselves.
    """
    try:
        with zipfile.ZipFile(io.BytesIO(payload)) as zf:
            names = set(zf.namelist())
            if "word/document.xml" in names:
                return FMT_DOCX
            if "xl/workbook.xml" in names:
                return FMT_XLSX
            if "ppt/presentation.xml" in names:
                return FMT_PPTX
            if "mimetype" in names:
                try:
                    if b"epub" in read_member(zf, "mimetype", _MIMETYPE_CAP):
                        return FMT_EPUB
                except Exception:  # noqa: BLE001 — sniffing never raises
                    pass
    except (zipfile.BadZipFile, OSError, ValueError, NotImplementedError):
        # NotImplementedError: a zip version (or method) ``zipfile``
        # refuses to read is a container we cannot open.
        return FMT_UNKNOWN
    if "META-INF/container.xml" in names:
        return FMT_EPUB
    return FMT_UNKNOWN


def sniff_format(payload: bytes) -> str:
    """Return the format label for a raw document payload.

    Only the first ~512 bytes are inspected except for zip containers
    (which need the central directory).  Cheap by design: the sniff runs
    before the heavy extract so unsupported rows short-circuit
    (reference analog: converter.py:185-189 pre-filter).
    """
    if payload is None or len(payload) == 0:
        return FMT_EMPTY

    head = payload[:512]

    if head.startswith(b"%PDF-"):
        return FMT_PDF
    if head.startswith(b"PK\x03\x04"):
        return _sniff_zip(payload)
    if head.startswith(b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1"):
        # OLE2 compound file: subtype from directory entries
        # (reference accepts .doc/.xls/.ppt — config.py:40-42).
        from .ole2 import sniff_ole2_subtype

        sub = sniff_ole2_subtype(payload)
        return {"doc": FMT_DOC, "xls": FMT_XLS,
                "ppt": FMT_PPT}.get(sub, FMT_UNKNOWN)
    if head.startswith(b"{\\rtf"):
        return FMT_RTF
    if head.startswith(b"II*\x00") or head.startswith(b"MM\x00*"):
        return FMT_TIFF
    if head.startswith(b"\x89PNG\r\n\x1a\n"):
        return FMT_PNG
    if head.startswith(b"\xff\xd8\xff"):
        return FMT_JPEG
    if head.startswith(b"GIF87a") or head.startswith(b"GIF89a"):
        return FMT_GIF
    if head.startswith(b"BM") and len(payload) > 14:
        return FMT_BMP
    if head.startswith(b"RIFF") and payload[8:12] == b"WEBP":
        return FMT_WEBP
    if head.startswith(b"RIFF") and payload[8:12] == b"WAVE":
        return FMT_WAV
    if head.startswith(b"ID3"):
        return FMT_MP3
    if head.startswith(b"fLaC"):
        return FMT_FLAC
    if head.startswith(b"FORM") and payload[8:12] in (b"AIFF", b"AIFC"):
        return FMT_AIFF
    # ISO-BMFF: HEIF still images route by ftyp major brand
    # (ISO/IEC 23008-12); every other brand is the video container
    # family (ISO/IEC 14496-12).  Then RFC 8794/9559 EBML and
    # RFC 3533 Ogg.
    if len(payload) >= 12 and head[4:8] == b"ftyp":
        from .video_meta import heif_brand

        fam = heif_brand(payload)
        if fam == "avif":
            return FMT_AVIF
        if fam == "heic":
            return FMT_HEIC
        return FMT_MP4
    if head.startswith(b"\x1aE\xdf\xa3"):
        return FMT_WEBM
    if head.startswith(b"OggS"):
        return FMT_OGG

    # timed text: WEBVTT magic / SRT counter+timestamp signature —
    # before the HTML/text heuristics, which would claim these
    from .captions import sniff_captions

    cap = sniff_captions(payload)
    if cap == "vtt":
        return FMT_VTT
    if cap == "srt":
        return FMT_SRT

    lowered = head.lstrip()[:64].lower()
    for marker in _HTML_MARKERS:
        if lowered.startswith(marker.lower()):
            return FMT_HTML
    # XML declaration without an <html> root → structural XML (the
    # check precedes the tag-soup fallback, which would claim it).
    stripped_head = head.lstrip()
    if stripped_head.startswith(b"<?xml") and b"<html" not in head.lower():
        return FMT_XML
    # HTML fragments without a doctype: look for any tag soup early on.
    if b"<" in head and (b"</" in head or b"/>" in head or b"<p" in head.lower()
                         or b"<div" in head.lower() or b"<h1" in head.lower()):
        return FMT_HTML

    # Printable text heuristic: decodes as UTF-8 and mostly printable.
    try:
        text = head.decode("utf-8")
    except UnicodeDecodeError:
        return FMT_UNKNOWN
    if not text.strip():
        return FMT_EMPTY
    printable = sum(1 for c in text if c.isprintable() or c in "\n\r\t")
    if printable / max(len(text), 1) <= 0.9:
        return FMT_UNKNOWN

    # JSON: structural start + the whole payload parses.  Capped at 4MB:
    # the sniff must stay cheap relative to extraction, and a "{"-leading
    # multi-hundred-MB text blob should not cost a full parse attempt
    # just to be classified.
    stripped = text.lstrip()
    if stripped[:1] in ("{", "[") and len(payload) <= 4 * 1024 * 1024:
        try:
            json.loads(payload.decode("utf-8"))
            return FMT_JSON
        except (ValueError, RecursionError):
            # Too deep to parse is not JSON either.
            pass

    # CSV/TSV: >=3 parsed records sharing an identical field count >= 2
    # (csv.reader handles quoted fields containing delimiters; the last
    # line of the 512-byte head may be truncated mid-field, so drop it).
    # BOTH delimiters are evaluated and the consistent one with the
    # larger field count wins — a first-match-wins order misclassifies
    # whichever dirty-data case it checks second (a comma table whose
    # cells contain stray tabs, or a tabbed table with commas in cells;
    # review r2).  Exact tie → tab, the rarer delimiter in prose.
    lines = [ln for ln in text.split("\n") if ln.strip()]
    if len(payload) > 512:
        lines = lines[:-1]
    if len(lines) >= 3:
        import csv as _csv

        candidates = []
        for delim, fmt, tiebreak in (("\t", FMT_TSV, 1), (",", FMT_CSV, 0)):
            try:
                recs = list(_csv.reader(lines[:5], delimiter=delim))
            except _csv.Error:
                continue
            if len(recs) >= 3:
                widths = {len(r) for r in recs}
                if len(widths) == 1:
                    w = widths.pop()
                    if w >= 2:
                        candidates.append((w, tiebreak, fmt))
        if candidates:
            return max(candidates)[2]

    return FMT_TEXT
