# -*- coding: utf-8 -*-
"""Per-document extraction orchestrator (pure function of bytes + url).

Mirrors the reference's ``DocumentConverter.convert_document`` flow
(src/converter.py:504-711), with extension dispatch
replaced by magic-byte sniffing, the processor factory
(document_processors.py:1073-1097) replaced by one table, and filesystem
side effects replaced by returned values.  ``extract_document`` is the
same few steps for every format:

1. doc name from the url; empty / too-large payloads → status rows (A2/A3)
2. sniff the format from the magic bytes (A4)
3. one ``CONVERTERS`` lookup: format → converter; ``empty`` and
   ``unknown`` have no row and become status rows
4. the converter (A5, and the image stage A8-A14 where the format has
   images) returns ``(content, assets, extractor_used)``, or ``None`` for
   a variant it cannot read → ``skipped_unsupported``
5. the cleanup chain (A15/A16), ``is_pdf`` only for PDFs — applied AFTER
   the image stage exactly like converter.py:678
6. a raise in steps 4-5 is a ``failed`` row (per-row error isolation)

A new format is one ``sniffer.FMT_*`` constant and one ``CONVERTERS``
row; status rows, cleanup and error isolation live only in
``extract_document``.

Determinism (SURVEY §4.3): no wall clock, no filesystem, no randomness —
the output is a pure function of ``(payload, url)`` so re-runs are
byte-identical per url and golden hashes are stable.
"""

from __future__ import annotations

from functools import partial
from typing import Callable, NamedTuple, Optional

from . import sniffer
from .sniffer import sniff_format
from .cleanup import clean_markdown_content
from .normalize import doc_name_from_url
from .insertion import (
    image_metadata_markdown,
    normalize_image_links,
    pdf_process_content,
)
from .html_extractor import html_to_markdown
from .docx_extractor import extract_docx
from .pptx_extractor import extract_pptx
from .audio_extractor import (
    aiff_to_markdown,
    flac_to_markdown,
    mp3_to_markdown,
    wav_to_markdown,
)
from .captions import captions_to_markdown
from .video_meta import video_to_markdown
from .epub_extractor import extract_epub
from .tabular_extractor import (
    csv_to_markdown,
    json_to_markdown,
    tsv_to_markdown,
    xml_to_markdown,
)
from .rtf_extractor import rtf_to_text
from .ole2 import (
    extract_doc_text,
    extract_ppt_markdown,
    extract_xls_markdown,
)
from .xlsx_extractor import extract_xlsx
from .pdf_extractor import extract_pdf
from .image_extractor import image_extension, image_meta

# Intended 100 MB gate — the reference's MAX_FILE_SIZE (config.py:33) is
# dead in practice due to a double-unit bug (main.py:155-156,
# converter.py:193 — see SURVEY §2 A2); the rebuild enforces the intent.
MAX_DOCUMENT_BYTES = 100 * 1024 * 1024

STATUS_OK = "ok"
STATUS_EMPTY = "skipped_empty"
STATUS_UNSUPPORTED = "skipped_unsupported"
STATUS_TOO_LARGE = "skipped_too_large"
STATUS_FAILED = "failed"
# Every status extract_document can return; the Spark job counts these.
STATUSES = (STATUS_OK, STATUS_FAILED, STATUS_EMPTY, STATUS_UNSUPPORTED,
            STATUS_TOO_LARGE)


class Asset(NamedTuple):
    name: str            # image_%03d.ext
    page: Optional[int]  # 1-based page for PDFs, None otherwise
    data: bytes


class ExtractedDocument(NamedTuple):
    url: str
    doc_name: str
    format: str
    status: str
    error: Optional[str]
    markdown: Optional[str]
    n_images: int
    extractor_used: str
    assets: list  # list[Asset]


# (payload, doc_name) -> (content before cleanup, assets, extractor_used),
# or None when the payload is a variant the converter cannot read.
Converter = Callable[[bytes, str], Optional[tuple]]


def _markdown(extract: Callable[[bytes, str], Optional[str]],
              extractor_used: str) -> Converter:
    """Converter for a format whose extractor returns markdown (or None)
    and no assets."""
    def convert(payload: bytes, doc_name: str) -> Optional[tuple]:
        content = extract(payload, doc_name)
        return None if content is None else (content, [], extractor_used)
    return convert


def _pdf(payload: bytes, doc_name: str) -> tuple:
    result = extract_pdf(payload)
    key_files = [(img.key, img.filename) for img in result.images]
    content = pdf_process_content(
        result.text, doc_name, key_files, result.image_pages
    )
    assets = [Asset(img.filename, img.page, img.data)
              for img in result.images]
    return content, assets, "pdf_layout"


def _docx(payload: bytes, doc_name: str) -> tuple:
    result = extract_docx(payload, doc_name)
    key_files = [(key, filename) for key, filename, _data in result.images]
    content = normalize_image_links(result.markdown, doc_name, key_files)
    assets = [Asset(filename, None, data)
              for _key, filename, data in result.images]
    return content, assets, ("docx_fallback_walk"
                             if result.malformed_list_levels
                             else "docx_xml_walk")


def _pptx(payload: bytes, doc_name: str) -> tuple:
    result = extract_pptx(payload, doc_name)
    assets = [Asset(filename, None, data)
              for _key, filename, data in result.images]
    return result.markdown, assets, "pptx_slide_walk"


def _image(fmt: str, payload: bytes, doc_name: str) -> tuple:
    meta = image_meta(payload, fmt)
    ext = image_extension(fmt)
    image_filename = f"image_001{ext}"
    content = image_metadata_markdown(
        doc_name, f"{doc_name}{ext}", image_filename,
        meta.width, meta.height, meta.format, meta.mode, len(payload),
    )
    return content, [Asset(image_filename, None, payload)], "image_passthrough"


# One row per sniffed format (tests/test_extractors.py checks coverage).
CONVERTERS: dict[str, Converter] = {
    sniffer.FMT_HTML: _markdown(lambda p, _n: html_to_markdown(p),
                                "html_dom"),
    # MarkItDown passes plain text through; only cleanup applies.
    sniffer.FMT_TEXT: _markdown(
        lambda p, _n: p.decode("utf-8", errors="replace"),
        "text_passthrough"),
    sniffer.FMT_PDF: _pdf,
    sniffer.FMT_DOCX: _docx,
    sniffer.FMT_PPTX: _pptx,
    sniffer.FMT_XLSX: _markdown(extract_xlsx, "xlsx_sheets"),
    sniffer.FMT_EPUB: _markdown(extract_epub, "epub_spine_walk"),
    sniffer.FMT_XML: _markdown(xml_to_markdown, "xml_outline"),
    sniffer.FMT_CSV: _markdown(csv_to_markdown, "csv_table"),
    sniffer.FMT_TSV: _markdown(tsv_to_markdown, "tsv_table"),
    sniffer.FMT_JSON: _markdown(json_to_markdown, "json_fence"),
    # Like plain text: the stripped document speaks for itself.
    sniffer.FMT_RTF: _markdown(lambda p, _n: rtf_to_text(p), "rtf_strip"),
    sniffer.FMT_DOC: _markdown(lambda p, _n: extract_doc_text(p),
                               "doc_piece_table"),
    sniffer.FMT_XLS: _markdown(extract_xls_markdown, "xls_biff_records"),
    sniffer.FMT_PPT: _markdown(extract_ppt_markdown, "ppt_record_walk"),
    # Audio metadata: .flac is in the reference's audio list
    # (converter.py:772-787); AIFF is WAV's big-endian twin.
    sniffer.FMT_MP3: _markdown(mp3_to_markdown, "mp3_metadata"),
    sniffer.FMT_WAV: _markdown(wav_to_markdown, "wav_metadata"),
    sniffer.FMT_FLAC: _markdown(flac_to_markdown, "flac_metadata"),
    sniffer.FMT_AIFF: _markdown(aiff_to_markdown, "aiff_metadata"),
    # Beyond the reference, like FLAC/AIFF: timed-text cue transcripts,
    # and header-only video container metadata (no sample decode).
    **dict.fromkeys((sniffer.FMT_VTT, sniffer.FMT_SRT),
                    _markdown(captions_to_markdown, "caption_transcript")),
    **dict.fromkeys((sniffer.FMT_MP4, sniffer.FMT_WEBM, sniffer.FMT_OGG),
                    _markdown(video_to_markdown, "video_metadata")),
    **{fmt: partial(_image, fmt) for fmt in sniffer.IMAGE_FORMATS},
}


def _status_row(url: str, doc_name: str, fmt: str, status: str,
                error: Optional[str] = None) -> ExtractedDocument:
    return ExtractedDocument(url, doc_name, fmt, status, error, None, 0,
                             "none", [])


def too_large_document(url: str) -> ExtractedDocument:
    """Status row for a payload above the size gate (A2); needs only the
    url, so the Spark job can emit it without the blob crossing to
    Python."""
    return _status_row(url, doc_name_from_url(url), sniffer.FMT_UNKNOWN,
                       STATUS_TOO_LARGE)


def extract_document(url: str, payload: Optional[bytes]) -> ExtractedDocument:
    doc_name = doc_name_from_url(url)
    if not payload:
        return _status_row(url, doc_name, sniffer.FMT_EMPTY, STATUS_EMPTY)
    if len(payload) > MAX_DOCUMENT_BYTES:
        return too_large_document(url)

    fmt = sniffer.FMT_UNKNOWN  # the format of a row whose sniff raised
    try:
        fmt = sniff_format(payload)
        convert = CONVERTERS.get(fmt)
        if convert is None:
            return _status_row(url, doc_name, fmt,
                               STATUS_EMPTY if fmt == sniffer.FMT_EMPTY
                               else STATUS_UNSUPPORTED)
        converted = convert(payload, doc_name)
        if converted is None:
            return _status_row(url, doc_name, fmt, STATUS_UNSUPPORTED)
        content, assets, extractor_used = converted
        markdown = clean_markdown_content(content,
                                          is_pdf=fmt == sniffer.FMT_PDF)
    except Exception as err:  # noqa: BLE001 — per-row isolation by contract
        # One bad document never stops the batch (main.py:104-123 /
        # converter.py:696-699 semantics as status rows).
        return _status_row(url, doc_name, fmt, STATUS_FAILED,
                           f"{type(err).__name__}: {err}")
    return ExtractedDocument(url, doc_name, fmt, STATUS_OK, None, markdown,
                             len(assets), extractor_used, assets)
