# -*- coding: utf-8 -*-
"""From-scratch DOCX → markdown + media extraction (stdlib only).

The reference converts DOCX via MarkItDown, with a python-docx manual walk
as its fallback (/root/reference/src/converter.py:401-435) that defines
the markdown conventions this extractor follows:

- document title heading ``# {doc_name}`` first (converter.py:406)
- ``Heading N`` styles → ``#*N`` ATX headings (converter.py:412-414)
- plain paragraphs → text + blank line (converter.py:416)
- tables → pipe rows, separator after the first row (converter.py:419-426)

Media extraction mirrors ``WordDocumentProcessor.extract_images``
(/root/reference/src/document_processors.py:242-311): iterate
``word/media/*`` members in zip order, keep image extensions, renumber
``image_%03d{ext}`` with 1-based member index.

Inline images in the body XML (``<a:blip r:embed="rIdN"/>`` inside
``w:drawing``) are emitted as ``![](media/imageN.ext)`` links in document
order, which the A11 link-normalization pass then rewrites to
``images/{doc}/image_%03d.ext`` — same end state as the reference's
MarkItDown + ``_normalize_image_links`` flow.
"""

from __future__ import annotations

import io
import re
import zipfile
import xml.etree.ElementTree as ET
from typing import NamedTuple

from .bounded import Budget

W_NS = "{http://schemas.openxmlformats.org/wordprocessingml/2006/main}"
A_NS = "{http://schemas.openxmlformats.org/drawingml/2006/main}"
R_NS = "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}"
PR_NS = "{http://schemas.openxmlformats.org/package/2006/relationships}"

_IMAGE_EXTS = (".png", ".jpg", ".jpeg", ".gif", ".bmp", ".webp")
_HEADING_STYLE = re.compile(r"Heading(\d)", re.IGNORECASE)


class DocxResult(NamedTuple):
    markdown: str
    images: list[tuple[str, str, bytes]]  # (key, filename, bytes)
    malformed_list_levels: bool


def _load_relationships(zf: zipfile.ZipFile, budget: Budget) -> dict[str, str]:
    """rId → media target path from word/_rels/document.xml.rels."""
    rels: dict[str, str] = {}
    try:
        data = budget.read(zf, "word/_rels/document.xml.rels")
    except KeyError:
        return rels
    try:
        root = ET.fromstring(data)
    except ET.ParseError:
        return rels
    for rel in root:
        rid = rel.get("Id")
        target = rel.get("Target", "")
        if rid and target:
            rels[rid] = target.lstrip("/")
    return rels


def _para_style(para: ET.Element) -> str:
    ppr = para.find(f"{W_NS}pPr")
    if ppr is None:
        return ""
    style = ppr.find(f"{W_NS}pStyle")
    return style.get(f"{W_NS}val", "") if style is not None else ""


def _para_has_numbering(para: ET.Element) -> tuple[bool, bool]:
    """(is_list_item, ilvl_is_malformed) from w:pPr/w:numPr."""
    ppr = para.find(f"{W_NS}pPr")
    if ppr is None:
        return False, False
    numpr = ppr.find(f"{W_NS}numPr")
    if numpr is None:
        return False, False
    ilvl = numpr.find(f"{W_NS}ilvl")
    if ilvl is not None:
        val = ilvl.get(f"{W_NS}val")
        if val is None or not val.isdigit():
            # The `w:ilvl` failure class that trips MarkItDown/mammoth
            # (converter.py:570-575 KeyError trigger).
            return True, True
    return True, False


def _para_content(para: ET.Element, rels: dict[str, str]) -> str:
    """Concatenate runs: text, breaks, and inline image links."""
    parts: list[str] = []
    for node in para.iter():
        tag = node.tag
        if tag == f"{W_NS}t":
            parts.append(node.text or "")
        elif tag == f"{W_NS}br":
            parts.append("\n")
        elif tag == f"{A_NS}blip":
            rid = node.get(f"{R_NS}embed") or node.get(f"{R_NS}link")
            target = rels.get(rid or "", "")
            if target:
                # media/image1.png-style link, rewritten later by A11.
                name = target.split("/")[-1]
                parts.append(f"![](media/{name})")
    return "".join(parts)


def _table_markdown(table: ET.Element, rels: dict[str, str]) -> str:
    """converter.py:419-426 conventions: pipe rows, '---' after row 0."""
    out: list[str] = [""]
    rows = table.findall(f"{W_NS}tr")
    for i, row in enumerate(rows):
        cells = []
        for cell in row.findall(f"{W_NS}tc"):
            cell_text = " ".join(
                _para_content(p, rels).strip()
                for p in cell.findall(f"{W_NS}p")
            ).strip()
            cells.append(cell_text)
        out.append("| " + " | ".join(cells) + " |")
        if i == 0:
            out.append("| " + " | ".join(["---"] * len(cells)) + " |")
    out.append("")
    return "\n".join(out)


def extract_docx(payload: bytes, doc_name: str) -> DocxResult:
    """DOCX bytes → (markdown, extracted media, malformed-list flag)."""
    images: list[tuple[str, str, bytes]] = []
    malformed = False

    budget = Budget(payload)
    with zipfile.ZipFile(io.BytesIO(payload)) as zf:
        rels = _load_relationships(zf, budget)

        # Media extraction — document_processors.py:266-304 semantics:
        # zip order, image extensions only, 1-based renumbering over ALL
        # media members (non-image members still consume an index).
        media_files = [f for f in zf.namelist() if f.startswith("word/media/")]
        for i, media_file in enumerate(media_files, 1):
            dot = media_file.rfind(".")
            file_ext = media_file[dot:].lower() if dot >= 0 else ""
            if file_ext in _IMAGE_EXTS:
                new_filename = f"image_{i:03d}{file_ext}"
                key = f"image_{i:03d}"
                images.append((key, new_filename, budget.read(zf, media_file)))

        try:
            body_xml = budget.read(zf, "word/document.xml")
        except KeyError:
            return DocxResult("", images, False)

    try:
        root = ET.fromstring(body_xml)
    except ET.ParseError:
        return DocxResult("", images, False)

    body = root.find(f"{W_NS}body")
    if body is None:
        return DocxResult("", images, False)

    # Title heading first — converter.py:406 convention.
    markdown_content = f"# {doc_name}\n\n"

    for element in body:
        if element.tag == f"{W_NS}p":
            is_list, ilvl_bad = _para_has_numbering(element)
            malformed = malformed or ilvl_bad
            text = _para_content(element, rels).strip()
            if not text:
                continue
            style = _para_style(element)
            m = _HEADING_STYLE.match(style)
            if m:
                level = int(m.group(1))
                markdown_content += f"{'#' * level} {text}\n\n"
            elif is_list:
                markdown_content += f"- {text}\n\n"
            else:
                markdown_content += f"{text}\n\n"
        elif element.tag == f"{W_NS}tbl":
            markdown_content += _table_markdown(element, rels) + "\n"

    return DocxResult(markdown_content, images, malformed)
