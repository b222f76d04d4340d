# -*- coding: utf-8 -*-
"""Per-document extraction orchestrator (pure function of bytes + url).

Mirrors the reference's ``DocumentConverter.convert_document`` flow
(/root/reference/src/converter.py:504-711) with extension dispatch
replaced by magic-byte sniffing and filesystem side effects replaced by
returned values:

1. validate (empty / too-large / unsupported → status rows, SURVEY A2/A3)
2. sniff format (A4)
3. per-format conversion (A5): HTML / PDF / DOCX / XLSX / raw image / text
4. image stage (A8-A14): media extraction + link normalization or smart
   insertion, identical algorithms
5. cleanup chain (A15/A16), ``is_pdf`` only for PDFs — applied AFTER the
   image stage exactly like converter.py:678

Determinism (SURVEY §4.3): no wall clock, no filesystem, no randomness —
the output is a pure function of ``(payload, url)`` so re-runs are
byte-identical per url and golden hashes are stable.
"""

from __future__ import annotations

from typing import NamedTuple, Optional

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
from .audio_extractor import mp3_to_markdown, wav_to_markdown
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


def too_large_document(url: str) -> ExtractedDocument:
    """Status row for a payload above the size gate (A2); needs only the
    url, so the Spark job can emit it without the blob crossing to
    Python."""
    return ExtractedDocument(
        url, doc_name_from_url(url), sniffer.FMT_UNKNOWN, STATUS_TOO_LARGE,
        None, None, 0, "none", []
    )


def _fail(url: str, doc_name: str, fmt: str, err: Exception) -> ExtractedDocument:
    # Error isolation: one bad document never stops the batch
    # (main.py:104-123 / converter.py:696-699 semantics as status rows).
    return ExtractedDocument(
        url, doc_name, fmt, STATUS_FAILED,
        f"{type(err).__name__}: {err}", None, 0, "none", []
    )


def extract_document(url: str, payload: Optional[bytes]) -> ExtractedDocument:
    doc_name = doc_name_from_url(url)

    if payload is None or len(payload) == 0:
        return ExtractedDocument(
            url, doc_name, sniffer.FMT_EMPTY, STATUS_EMPTY,
            None, None, 0, "none", []
        )
    if len(payload) > MAX_DOCUMENT_BYTES:
        return too_large_document(url)

    fmt = sniff_format(payload)

    if fmt in (sniffer.FMT_EMPTY,):
        return ExtractedDocument(url, doc_name, fmt, STATUS_EMPTY,
                                 None, None, 0, "none", [])
    if fmt == sniffer.FMT_UNKNOWN:
        return ExtractedDocument(url, doc_name, fmt, STATUS_UNSUPPORTED,
                                 None, None, 0, "none", [])

    try:
        if fmt == sniffer.FMT_HTML:
            markdown = html_to_markdown(payload)
            markdown = clean_markdown_content(markdown, is_pdf=False)
            return ExtractedDocument(url, doc_name, fmt, STATUS_OK, None,
                                     markdown, 0, "html_dom", [])

        if fmt == sniffer.FMT_TEXT:
            # MarkItDown passes plain text through; only cleanup applies.
            markdown = clean_markdown_content(
                payload.decode("utf-8", errors="replace"), is_pdf=False
            )
            return ExtractedDocument(url, doc_name, fmt, STATUS_OK, None,
                                     markdown, 0, "text_passthrough", [])

        if fmt == sniffer.FMT_PDF:
            result = extract_pdf(payload)
            key_files = [(img.key, img.filename) for img in result.images]
            content = pdf_process_content(
                result.text, doc_name, key_files, result.image_pages
            )
            markdown = clean_markdown_content(content, is_pdf=True)
            assets = [Asset(img.filename, img.page, img.data)
                      for img in result.images]
            return ExtractedDocument(url, doc_name, fmt, STATUS_OK, None,
                                     markdown, len(assets), "pdf_layout",
                                     assets)

        if fmt == sniffer.FMT_DOCX:
            result = extract_docx(payload, doc_name)
            key_files = [(key, filename) for key, filename, _data in result.images]
            content = normalize_image_links(result.markdown, doc_name, key_files)
            markdown = clean_markdown_content(content, is_pdf=False)
            assets = [Asset(filename, None, data)
                      for _key, filename, data in result.images]
            extractor = ("docx_fallback_walk" if result.malformed_list_levels
                         else "docx_xml_walk")
            return ExtractedDocument(url, doc_name, fmt, STATUS_OK, None,
                                     markdown, len(assets), extractor, assets)

        if fmt == sniffer.FMT_EPUB:
            markdown = clean_markdown_content(
                extract_epub(payload, doc_name), is_pdf=False)
            return ExtractedDocument(url, doc_name, fmt, STATUS_OK, None,
                                     markdown, 0, "epub_spine_walk", [])

        if fmt == sniffer.FMT_XML:
            markdown = clean_markdown_content(
                xml_to_markdown(payload, doc_name), is_pdf=False)
            return ExtractedDocument(url, doc_name, fmt, STATUS_OK, None,
                                     markdown, 0, "xml_outline", [])

        if fmt == sniffer.FMT_MP3:
            content = mp3_to_markdown(payload, doc_name)
            if content is None:
                return ExtractedDocument(url, doc_name, fmt,
                                         STATUS_UNSUPPORTED, None, None, 0,
                                         "none", [])
            markdown = clean_markdown_content(content, is_pdf=False)
            return ExtractedDocument(url, doc_name, fmt, STATUS_OK, None,
                                     markdown, 0, "mp3_metadata", [])

        if fmt == sniffer.FMT_WAV:
            content = wav_to_markdown(payload, doc_name)
            if content is None:
                return ExtractedDocument(url, doc_name, fmt,
                                         STATUS_UNSUPPORTED, None, None, 0,
                                         "none", [])
            markdown = clean_markdown_content(content, is_pdf=False)
            return ExtractedDocument(url, doc_name, fmt, STATUS_OK, None,
                                     markdown, 0, "wav_metadata", [])

        if fmt == sniffer.FMT_FLAC:
            # .flac is in the reference's audio list (converter.py:
            # 772-787); metadata markdown via the STREAMINFO parse
            from .audio_extractor import flac_to_markdown

            content = flac_to_markdown(payload, doc_name)
            if content is None:
                return ExtractedDocument(url, doc_name, fmt,
                                         STATUS_UNSUPPORTED, None, None, 0,
                                         "none", [])
            markdown = clean_markdown_content(content, is_pdf=False)
            return ExtractedDocument(url, doc_name, fmt, STATUS_OK, None,
                                     markdown, 0, "flac_metadata", [])

        if fmt in (sniffer.FMT_VTT, sniffer.FMT_SRT):
            # timed text (beyond reference, like FLAC/AIFF): cue
            # transcript markdown via extractors/captions.py
            from .captions import captions_to_markdown

            content = captions_to_markdown(payload, doc_name)
            if content is None:
                return ExtractedDocument(url, doc_name, fmt,
                                         STATUS_UNSUPPORTED, None, None, 0,
                                         "none", [])
            markdown = clean_markdown_content(content, is_pdf=False)
            return ExtractedDocument(url, doc_name, fmt, STATUS_OK, None,
                                     markdown, 0, "caption_transcript", [])

        if fmt == sniffer.FMT_AIFF:
            from .audio_extractor import aiff_to_markdown

            content = aiff_to_markdown(payload, doc_name)
            if content is None:
                return ExtractedDocument(url, doc_name, fmt,
                                         STATUS_UNSUPPORTED, None, None, 0,
                                         "none", [])
            markdown = clean_markdown_content(content, is_pdf=False)
            return ExtractedDocument(url, doc_name, fmt, STATUS_OK, None,
                                     markdown, 0, "aiff_metadata", [])

        if fmt in (sniffer.FMT_MP4, sniffer.FMT_WEBM, sniffer.FMT_OGG):
            # video containers (beyond reference, like FLAC/AIFF):
            # header-only metadata markdown, no sample decode
            from .video_meta import video_to_markdown

            content = video_to_markdown(payload, doc_name)
            if content is None:
                return ExtractedDocument(url, doc_name, fmt,
                                         STATUS_UNSUPPORTED, None, None, 0,
                                         "none", [])
            markdown = clean_markdown_content(content, is_pdf=False)
            return ExtractedDocument(url, doc_name, fmt, STATUS_OK, None,
                                     markdown, 0, "video_metadata", [])

        if fmt == sniffer.FMT_CSV:
            markdown = clean_markdown_content(
                csv_to_markdown(payload, doc_name), is_pdf=False)
            return ExtractedDocument(url, doc_name, fmt, STATUS_OK, None,
                                     markdown, 0, "csv_table", [])

        if fmt == sniffer.FMT_TSV:
            markdown = clean_markdown_content(
                tsv_to_markdown(payload, doc_name), is_pdf=False)
            return ExtractedDocument(url, doc_name, fmt, STATUS_OK, None,
                                     markdown, 0, "tsv_table", [])

        if fmt == sniffer.FMT_RTF:
            # Like plain text: the stripped document speaks for itself.
            markdown = clean_markdown_content(rtf_to_text(payload),
                                              is_pdf=False)
            return ExtractedDocument(url, doc_name, fmt, STATUS_OK, None,
                                     markdown, 0, "rtf_strip", [])

        if fmt == sniffer.FMT_DOC:
            text = extract_doc_text(payload)
            markdown = clean_markdown_content(text, is_pdf=False)
            return ExtractedDocument(url, doc_name, fmt, STATUS_OK, None,
                                     markdown, 0, "doc_piece_table", [])

        if fmt == sniffer.FMT_XLS:
            markdown = clean_markdown_content(
                extract_xls_markdown(payload, doc_name), is_pdf=False)
            return ExtractedDocument(url, doc_name, fmt, STATUS_OK, None,
                                     markdown, 0, "xls_biff_records", [])

        if fmt == sniffer.FMT_PPT:
            markdown = clean_markdown_content(
                extract_ppt_markdown(payload, doc_name), is_pdf=False)
            return ExtractedDocument(url, doc_name, fmt, STATUS_OK, None,
                                     markdown, 0, "ppt_record_walk", [])

        if fmt == sniffer.FMT_JSON:
            markdown = clean_markdown_content(
                json_to_markdown(payload, doc_name), is_pdf=False)
            return ExtractedDocument(url, doc_name, fmt, STATUS_OK, None,
                                     markdown, 0, "json_fence", [])

        if fmt == sniffer.FMT_PPTX:
            result = extract_pptx(payload, doc_name)
            markdown = clean_markdown_content(result.markdown, is_pdf=False)
            assets = [Asset(filename, None, data)
                      for _key, filename, data in result.images]
            return ExtractedDocument(url, doc_name, fmt, STATUS_OK, None,
                                     markdown, len(assets), "pptx_slide_walk",
                                     assets)

        if fmt == sniffer.FMT_XLSX:
            markdown = clean_markdown_content(extract_xlsx(payload, doc_name),
                                              is_pdf=False)
            return ExtractedDocument(url, doc_name, fmt, STATUS_OK, None,
                                     markdown, 0, "xlsx_sheets", [])

        if fmt in sniffer.IMAGE_FORMATS:
            meta = image_meta(payload, fmt)
            ext = image_extension(fmt)
            image_filename = f"image_001{ext}"
            original_filename = f"{doc_name}{ext}"
            content = image_metadata_markdown(
                doc_name, original_filename, image_filename,
                meta.width, meta.height, meta.format, meta.mode,
                len(payload),
            )
            markdown = clean_markdown_content(content, is_pdf=False)
            assets = [Asset(image_filename, None, payload)]
            return ExtractedDocument(url, doc_name, fmt, STATUS_OK, None,
                                     markdown, 1, "image_passthrough",
                                     assets)

        return ExtractedDocument(url, doc_name, fmt, STATUS_UNSUPPORTED,
                                 None, None, 0, "none", [])
    except Exception as err:  # noqa: BLE001 — per-row isolation by contract
        return _fail(url, doc_name, fmt, err)
