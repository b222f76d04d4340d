# -*- coding: utf-8 -*-
"""PPTX → markdown — from-scratch PresentationML slide walk.

The reference converts PPTX through MarkItDown (priority format list,
/root/reference/src/config.py:26-40; extension dispatch
document_processors.py:1088-1095).  MarkItDown's pptx convention is a
slide-number comment followed by the slide's shapes, title shape as a
heading — reproduced here over the PresentationML subset our
synthesizer emits (data/synth.py:make_pptx), with the same media
extraction contract as the DOCX path (A8: ppt/media/* renumbered
``image_%03d.ext``).

Slides are walked in numeric order (slide1, slide2, …, slide10 — a
lexicographic sort would misorder double digits).
"""

from __future__ import annotations

import io
import re
import zipfile
from typing import NamedTuple
from xml.etree import ElementTree

from .bounded import Budget

_P = "{http://schemas.openxmlformats.org/presentationml/2006/main}"
_A = "{http://schemas.openxmlformats.org/drawingml/2006/main}"

_SLIDE_RE = re.compile(r"^ppt/slides/slide(\d+)\.xml$")
_IMG_EXTS = {".png", ".jpg", ".jpeg", ".gif", ".bmp", ".webp"}


class PptxResult(NamedTuple):
    markdown: str
    images: list  # [(key, filename, bytes)]


def _shape_is_title(sp) -> bool:
    ph = sp.find(f"{_P}nvSpPr/{_P}nvPr/{_P}ph")
    return ph is not None and ph.get("type") in ("title", "ctrTitle")


def _shape_paragraphs(sp) -> list:
    out = []
    body = sp.find(f"{_P}txBody")
    if body is None:
        return out
    for para in body.findall(f"{_A}p"):
        text = "".join(t.text or "" for t in para.iter(f"{_A}t"))
        if text.strip():
            out.append(text.strip())
    return out


def extract_pptx(payload: bytes, doc_name: str) -> PptxResult:
    """PPTX bytes → (markdown, extracted media)."""
    budget = Budget(payload)
    with zipfile.ZipFile(io.BytesIO(payload)) as zf:
        names = zf.namelist()

        slide_members = sorted(
            ((int(m.group(1)), n) for n in names
             if (m := _SLIDE_RE.match(n))),
        )

        # Blocks join with blank lines: headings followed by a single
        # newline would be eaten by the reference cleanup quirk (the
        # \x01 replacement, cleanup.py) — same convention as the
        # HTML/DOCX serializers.
        parts = [f"# {doc_name}"]
        for num, member in slide_members:
            parts.append(f"<!-- Slide number: {num} -->")
            try:
                root = ElementTree.fromstring(budget.read(zf, member))
            except ElementTree.ParseError:
                continue
            for sp in root.iter(f"{_P}sp"):
                paras = _shape_paragraphs(sp)
                if not paras:
                    continue
                if _shape_is_title(sp):
                    parts.append(f"## {paras[0]}")
                    parts.extend(paras[1:])
                else:
                    parts.append("\n".join(paras))

        # Media extraction — same renumbering contract as DOCX (A8).
        images = []
        counter = 1
        for name in sorted(n for n in names if n.startswith("ppt/media/")):
            ext = name[name.rfind("."):].lower() if "." in name else ""
            if ext not in _IMG_EXTS:
                continue
            filename = f"image_{counter:03d}{ext}"
            images.append((name.rsplit("/", 1)[-1], filename,
                           budget.read(zf, name)))
            counter += 1

    return PptxResult("\n\n".join(parts), images)
