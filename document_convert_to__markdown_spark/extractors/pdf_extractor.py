# -*- coding: utf-8 -*-
"""From-scratch PDF layout parser → reading-order text + embedded images.

Replaces the reference's MarkItDown/pdfminer + PyMuPDF PDF path
(/root/reference/src/converter.py:555, /root/reference/src/document_processors.py:419-489)
with an owned parser (north_star: "a PDF layout parser emitting
reading-order markdown spans").  Stdlib only (zlib for FlateDecode).

Scope: classic-xref PDFs with ``N 0 obj``/``endobj`` bodies, page trees,
Flate or raw content streams, text shown via Tj / TJ / ' / " inside
BT..ET with Td/TD/Tm/T* positioning, and image XObjects drawn via Do.
That covers the corpus our deterministic synthesizer emits plus common
simple generators.  ``/FlateDecode`` streams inflate through
``bounded.Budget``: every inflated byte counts against one per-document
budget, past which the document fails with ``DecompressionLimit`` instead
of expanding without bound; a corrupt or truncated stream reads as no
bytes.  Reading order: spans sorted by (page, -y, x, seq);
spans sharing a baseline (|Δy| ≤ 2) join into one line with spaces.

Per-page text blocks are joined with blank lines; the result then runs
through the reference's PDF optimize + cleanup chains (cleanup.py A15/A16).
Image extraction mirrors PyMuPDF's page walk: page order, 1-based
``image_%03d`` keys, page number recorded per key for smart insertion
(document_processors.py:446-476 semantics; CMYK images are skipped like
the ``pix.n - pix.alpha >= 4`` guard at ``:457``).
"""

from __future__ import annotations

import re
from typing import Any, NamedTuple

from .bounded import Budget

_OBJ_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj\b", re.DOTALL)
_STREAM_RE = re.compile(rb"stream\r?\n")
_NAME_RE = re.compile(rb"/([A-Za-z0-9_.#+-]+)")
_REF_RE = re.compile(rb"(\d+)\s+(\d+)\s+R\b")
_NUM_RE = re.compile(rb"[+-]?\d*\.?\d+")

class Ref(NamedTuple):
    num: int


class PdfImage(NamedTuple):
    key: str        # image_%03d
    filename: str   # image_%03d.png / .jpg
    page: int       # 1-based
    data: bytes


class PdfResult(NamedTuple):
    text: str
    images: list[PdfImage]
    image_pages: dict[str, int]
    n_pages: int


# --- object-level parsing -------------------------------------------------

class _DictParser:
    """Minimal recursive parser for PDF dictionaries/arrays/values."""

    def __init__(self, data: bytes, pos: int = 0):
        self.data = data
        self.pos = pos

    def _skip_ws(self):
        data, n = self.data, len(self.data)
        while self.pos < n:
            c = self.data[self.pos]
            if c in b" \t\r\n\x0c\x00":
                self.pos += 1
            elif c == 0x25:  # '%' comment
                while self.pos < n and data[self.pos] not in b"\r\n":
                    self.pos += 1
            else:
                break

    def parse_value(self) -> Any:
        self._skip_ws()
        data = self.data
        if self.pos >= len(data):
            return None
        if data.startswith(b"<<", self.pos):
            return self.parse_dict()
        c = data[self.pos]
        if c == 0x2F:  # '/'
            m = _NAME_RE.match(data, self.pos)
            if m:
                self.pos = m.end()
                return "/" + m.group(1).decode("latin-1")
            self.pos += 1
            return "/"
        if c == 0x5B:  # '['
            self.pos += 1
            items = []
            while True:
                self._skip_ws()
                if self.pos >= len(data) or data[self.pos] == 0x5D:
                    self.pos += 1
                    break
                items.append(self.parse_value())
            return items
        if c == 0x28:  # '(' literal string
            return self._parse_string()
        if c == 0x3C:  # '<' hex string
            end = data.find(b">", self.pos)
            self.pos = end + 1 if end >= 0 else len(data)
            return b""
        m = _REF_RE.match(data, self.pos)
        if m:
            self.pos = m.end()
            return Ref(int(m.group(1)))
        for word, val in ((b"true", True), (b"false", False), (b"null", None)):
            if data.startswith(word, self.pos):
                self.pos += len(word)
                return val
        m = _NUM_RE.match(data, self.pos)
        if m:
            self.pos = m.end()
            tok = m.group(0)
            return float(tok) if b"." in tok else int(tok)
        self.pos += 1
        return None

    def _parse_string(self) -> bytes:
        data = self.data
        depth = 0
        out = bytearray()
        self.pos += 1
        while self.pos < len(data):
            c = data[self.pos]
            if c == 0x5C and self.pos + 1 < len(data):  # backslash
                out.append(data[self.pos + 1])
                self.pos += 2
                continue
            if c == 0x28:
                depth += 1
            elif c == 0x29:
                if depth == 0:
                    self.pos += 1
                    break
                depth -= 1
            out.append(c)
            self.pos += 1
        return bytes(out)

    def parse_dict(self) -> dict:
        self.pos += 2  # <<
        result: dict[str, Any] = {}
        data = self.data
        while True:
            self._skip_ws()
            if self.pos >= len(data):
                break
            if data.startswith(b">>", self.pos):
                self.pos += 2
                break
            if data[self.pos] != 0x2F:
                self.pos += 1
                continue
            m = _NAME_RE.match(data, self.pos)
            if not m:
                self.pos += 1
                continue
            key = m.group(1).decode("latin-1")
            self.pos = m.end()
            result[key] = self.parse_value()
        return result


class _PdfObjects:
    def __init__(self, payload: bytes):
        self.payload = payload
        self.objects: dict[int, tuple[dict, bytes | None]] = {}
        self.budget = Budget(payload)
        self._scan()

    def _scan(self):
        payload = self.payload
        for m in _OBJ_RE.finditer(payload):
            num = int(m.group(1))
            body_start = m.end()
            end = payload.find(b"endobj", body_start)
            if end < 0:
                end = len(payload)
            body = payload[body_start:end]

            obj_dict: dict = {}
            stream: bytes | None = None
            stripped = body.lstrip()
            if stripped.startswith(b"<<"):
                offset = body_start + (len(body) - len(stripped))
                parser = _DictParser(payload, offset)
                obj_dict = parser.parse_dict()
            sm = _STREAM_RE.search(body)
            if sm:
                s_start = sm.end()
                s_end = body.find(b"endstream", s_start)
                if s_end < 0:
                    s_end = len(body)
                raw = body[s_start:s_end]
                # Trim the trailing EOL before 'endstream'.
                if raw.endswith(b"\r\n"):
                    raw = raw[:-2]
                elif raw.endswith(b"\n") or raw.endswith(b"\r"):
                    raw = raw[:-1]
                stream = raw
            self.objects[num] = (obj_dict, stream)

    def dict_of(self, value: Any) -> dict:
        if isinstance(value, Ref):
            obj = self.objects.get(value.num)
            return obj[0] if obj else {}
        return value if isinstance(value, dict) else {}

    def stream_of(self, value: Any) -> bytes | None:
        if not isinstance(value, Ref):
            return None
        obj = self.objects.get(value.num)
        if obj is None or obj[1] is None:
            return None
        obj_dict, raw = obj
        filt = obj_dict.get("Filter")
        filters = filt if isinstance(filt, list) else [filt] if filt else []
        data = raw
        for f in filters:
            if f == "/FlateDecode":
                data = self.budget.inflate(data)
                if data is None:
                    return None
        return data


# --- content stream text extraction ---------------------------------------

_TOKEN_RE = re.compile(
    rb"\((?:[^()\\]|\\.)*\)"      # literal string
    rb"|<[0-9A-Fa-f\s]*>"          # hex string
    rb"|\[|\]"
    rb"|/[A-Za-z0-9_.#+-]+"
    rb"|[+-]?\d*\.?\d+"
    rb"|[A-Za-z'\"*]{1,3}"
)


_WS_RE = re.compile(rb"\s")
_ESCAPE_MAP = {0x6E: 0x0A, 0x72: 0x0D, 0x74: 0x09, 0x62: 0x08,
               0x66: 0x0C, 0x28: 0x28, 0x29: 0x29, 0x5C: 0x5C}


def _decode_pdf_string(token: bytes) -> str:
    inner = token[1:-1]
    # Fast path: no escapes (the overwhelmingly common case) — a single
    # C-level decode instead of a per-byte Python loop.
    if 0x5C not in inner:
        return inner.decode("utf-8", errors="replace")
    out = bytearray()
    i = 0
    n = len(inner)
    while i < n:
        c = inner[i]
        if c == 0x5C and i + 1 < n:
            nxt = inner[i + 1]
            mapping = _ESCAPE_MAP
            if nxt in mapping:
                out.append(mapping[nxt])
                i += 2
                continue
            if 0x30 <= nxt <= 0x37:  # octal escape
                j = i + 1
                oct_digits = b""
                while j < n and len(oct_digits) < 3 and 0x30 <= inner[j] <= 0x37:
                    oct_digits += bytes([inner[j]])
                    j += 1
                out.append(int(oct_digits, 8) & 0xFF)
                i = j
                continue
            out.append(nxt)
            i += 2
            continue
        out.append(c)
        i += 1
    return out.decode("utf-8", errors="replace")


class _Span(NamedTuple):
    y: float
    x: float
    seq: int
    text: str


# First bytes of a number token: ``[+-]?\d*\.?\d+`` in ``_TOKEN_RE``.
_NUMBER_START = frozenset(b"+-.0123456789")


def _extract_text_spans(content: bytes) -> list[_Span]:
    """Spans of one page's content streams, in drawing order.

    One ``findall`` pass; each token is classified by its first byte,
    after a test for ``Tj``/``TJ``/``T*``, which end most text lines.
    """
    spans: list[_Span] = []
    stack: list[float] = []
    x = y = 0.0
    leading = 0.0
    seq = 0
    pending_strings: list[str] = []
    in_array = False

    for tok in _TOKEN_RE.findall(content):
        if tok == b"Tj" or tok == b"TJ":
            text = "".join(pending_strings)
            if text:
                spans.append(_Span(y, x, seq, text))
                seq += 1
            pending_strings = []
            stack.clear()
            continue
        if tok == b"T*":
            y -= leading if leading else 12.0
            stack.clear()
            continue
        c = tok[0]
        if c in _NUMBER_START:
            stack.append(float(tok))
        elif c == 0x28:  # '(' literal string
            s = _decode_pdf_string(tok)
            if in_array:
                pending_strings.append(s)
            else:
                pending_strings = [s]
        elif c == 0x3C:  # '<' hex string
            hexs = _WS_RE.sub(b"", tok[1:-1])
            try:
                raw = bytes.fromhex(hexs.decode("ascii"))
                s = raw.decode("utf-16-be" if raw[:2] == b"\xfe\xff" else "latin-1",
                               errors="replace")
            except ValueError:
                s = ""
            if in_array:
                pending_strings.append(s)
            else:
                pending_strings = [s]
        elif c == 0x5B:  # '['
            in_array = True
            pending_strings = []
        elif c == 0x5D:  # ']'
            in_array = False
        elif c == 0x2F:  # '/' name: operands stay on the stack
            continue
        else:
            if tok == b"Td":
                if len(stack) >= 2:
                    x += stack[-2]
                    y += stack[-1]
            elif tok == b"TD":
                if len(stack) >= 2:
                    x += stack[-2]
                    y += stack[-1]
                    leading = -stack[-1]
            elif tok == b"Tm":
                if len(stack) >= 6:
                    x, y = stack[-2], stack[-1]
            elif tok == b"TL":
                if stack:
                    leading = stack[-1]
            elif tok == b"BT":
                x = y = 0.0
            elif tok == b"'" or tok == b'"':
                y -= leading if leading else 12.0
                text = "".join(pending_strings)
                if text:
                    spans.append(_Span(y, x, seq, text))
                    seq += 1
                pending_strings = []
            stack.clear()
    return spans


def _spans_to_text(spans: list[_Span]) -> str:
    """Sort spans into reading order and merge baselines into lines."""
    if not spans:
        return ""
    ordered = sorted(spans, key=lambda s: (-s.y, s.x, s.seq))
    lines: list[str] = []
    current_y: float | None = None
    current_parts: list[str] = []
    for span in ordered:
        if current_y is None or abs(span.y - current_y) > 2.0:
            if current_parts:
                lines.append(" ".join(current_parts))
            current_parts = [span.text]
            current_y = span.y
        else:
            current_parts.append(span.text)
    if current_parts:
        lines.append(" ".join(current_parts))
    return "\n".join(lines)


# --- page tree + top level -------------------------------------------------

def _collect_pages(objects: _PdfObjects) -> list[int]:
    """Page object numbers in tree order; fallback: object-number order.

    Each node is walked once: a ``/Kids`` entry that repeats a node or
    points back up the tree (a DAG or a cycle) is skipped, so pages come
    out in first-visit order and a hostile tree costs one visit a node.
    """
    roots = [num for num, (d, _s) in objects.objects.items()
             if d.get("Type") == "/Catalog"]
    pages: list[int] = []
    visited: set[int] = set()

    def walk(node_num: int, depth: int = 0):
        if depth > 64 or node_num in visited:
            return
        visited.add(node_num)
        obj = objects.objects.get(node_num)
        if obj is None:
            return
        d = obj[0]
        if d.get("Type") == "/Page":
            pages.append(node_num)
            return
        kids = d.get("Kids")
        if isinstance(kids, list):
            for kid in kids:
                if isinstance(kid, Ref):
                    walk(kid.num, depth + 1)

    for root_num in roots:
        root_dict = objects.objects[root_num][0]
        pages_ref = root_dict.get("Pages")
        if isinstance(pages_ref, Ref):
            walk(pages_ref.num)

    if not pages:
        pages = sorted(
            num for num, (d, _s) in objects.objects.items()
            if d.get("Type") == "/Page"
        )
    return pages


def extract_pdf(payload: bytes) -> PdfResult:
    """PDF bytes → reading-order text + embedded images with page map."""
    objects = _PdfObjects(payload)
    page_nums = _collect_pages(objects)

    page_texts: list[str] = []
    images: list[PdfImage] = []
    image_pages: dict[str, int] = {}
    img_counter = 0

    for page_idx, page_num in enumerate(page_nums, 1):
        page_dict = objects.objects[page_num][0]

        # Text.
        contents = page_dict.get("Contents")
        content_refs = contents if isinstance(contents, list) else [contents]
        chunks = []
        for ref in content_refs:
            if isinstance(ref, Ref):
                data = objects.stream_of(ref)
                if data:
                    chunks.append(data)
        if chunks:
            page_texts.append(_spans_to_text(_extract_text_spans(b"\n".join(chunks))))
        else:
            page_texts.append("")

        # Images — page-order walk like document_processors.py:446-476.
        resources = objects.dict_of(page_dict.get("Resources"))
        xobjects = objects.dict_of(resources.get("XObject")) if resources else {}
        for _name, ref in sorted(xobjects.items()):
            if not isinstance(ref, Ref):
                continue
            obj = objects.objects.get(ref.num)
            if obj is None:
                continue
            xdict, raw = obj
            if xdict.get("Subtype") != "/Image" or raw is None:
                continue
            # CMYK guard — document_processors.py:457 analog.
            if xdict.get("ColorSpace") == "/DeviceCMYK":
                continue
            img_counter += 1
            key = f"image_{img_counter:03d}"
            filt = xdict.get("Filter")
            ext = ".jpg" if filt == "/DCTDecode" or (
                isinstance(filt, list) and "/DCTDecode" in filt
            ) else ".png"
            filename = f"{key}{ext}"
            images.append(PdfImage(key, filename, page_idx, raw))
            image_pages[key] = page_idx

    text = "\n\n".join(t for t in page_texts if t)
    return PdfResult(text, images, image_pages, len(page_nums))
