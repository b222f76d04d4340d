# -*- coding: utf-8 -*-
"""Differential properties for the rewritten PDF and HTML kernels.

``insert_images_by_reference_patterns`` and ``_extract_text_spans`` were
rewritten for speed (a trigger scan over the content; one ``findall``
pass with first-byte dispatch), and so was the HTML kernel (the DOM
built inside the tokenizer loop, no substitution on single-spaced text,
one pass for the boilerplate figures).  The functions below are their
previous bodies, copied verbatim and kept as oracles, the way
``tests/test_cleanup.py::reference_clean`` keeps the cleanup chain: the
rewrites must agree with them on every input.
"""

import re
from html.parser import HTMLParser

import pytest
from hypothesis import given, settings, strategies as st

from document_convert_to__markdown_spark.data.synth import synth_page
from document_convert_to__markdown_spark.extractors.html_extractor import (
    SKIP_TAGS,
    VOID_ELEMENTS,
    _ALWAYS_DROP_TAGS,
    _BOILERPLATE_HINT,
    _COMMENT_CLOSE,
    _FAST_ATTR,
    _FAST_ENDTAG,
    _FAST_STARTTAG,
    _IMPLIED_CLOSE,
    _RAW_INTEREST,
    _WS_RUNS,
    _FallbackToStdlib,
    _fast_parse,
    html_to_markdown,
    parse_dom,
)
from document_convert_to__markdown_spark.extractors.insertion import (
    _PATTERNS,
    extract_image_number,
    find_insert_position_after_reference,
    generate_image_alt_text,
    insert_images_by_reference_patterns,
    normalized_relative_path,
)
from document_convert_to__markdown_spark.extractors.pdf_extractor import (
    _TOKEN_RE,
    _WS_RE,
    _Span,
    _decode_pdf_string,
    _extract_text_spans,
)
from document_convert_to__markdown_spark.extractors.sniffer import (
    FMT_HTML,
    sniff_format,
)

_ORACLE_PATTERNS = [dict(p, compiled=re.compile(p["pattern"], re.IGNORECASE))
                    for p in _PATTERNS]


def oracle_insert_images_by_reference_patterns(
    content: str,
    doc_name: str,
    sorted_images: list[tuple[str, str]],
) -> str:
    """document_processors.py:591-722 verbatim greedy assignment."""
    lines = content.split("\n")
    inserted_count = 0

    figure_references = []
    for i, line in enumerate(lines):
        for pattern_info in _ORACLE_PATTERNS:
            if pattern_info["type"] != "sequential":
                continue
            for match in pattern_info["compiled"].finditer(line):
                if not match.groups():
                    continue
                try:
                    ref_number = int(match.group(1))
                    second_number = None
                    if len(match.groups()) > 1 and match.group(2) and match.group(2).strip():
                        second_number = int(match.group(2))

                    score = 0.5
                    if second_number is not None:
                        if "图" in line and ("-" in line or "–" in line or "—" in line):
                            score = 0.85
                        else:
                            score = 0.75
                        if any(k in line for k in ["诊疗", "流程", "示意", "获得性"]):
                            score += 0.1
                    else:
                        score = 0.6
                        if any(k in line for k in ["诊疗", "流程", "示意"]):
                            score += 0.15

                    figure_references.append(
                        {
                            "line_index": i,
                            "ref_number": ref_number,
                            "second_number": second_number,
                            "score": score,
                            "line_content": line,
                        }
                    )
                except (ValueError, IndexError):
                    pass

    figure_references.sort(key=lambda x: x["line_index"])

    used_references: set[int] = set()
    for key, filename in sorted_images:
        relative_path = normalized_relative_path(doc_name, filename)
        image_number = extract_image_number(key)
        alt_text = generate_image_alt_text(doc_name, image_number)
        image_ref = f"![{alt_text}]({relative_path})"

        best_ref = None
        for ref in figure_references:
            if ref["line_index"] not in used_references and ref["score"] > 0.25:
                best_ref = ref
                break

        if best_ref:
            insert_pos = find_insert_position_after_reference(
                lines, best_ref["line_index"]
            )
            adjustment = sum(
                1 for used_line in used_references if used_line < best_ref["line_index"]
            ) * 2
            insert_pos += adjustment

            lines.insert(insert_pos, "")
            lines.insert(insert_pos + 1, image_ref)
            inserted_count += 1
            used_references.add(best_ref["line_index"])

    if inserted_count > 0:
        return "\n".join(lines)
    return content


def oracle_extract_text_spans(content: bytes) -> list[_Span]:
    spans: list[_Span] = []
    stack: list[float] = []
    x = y = 0.0
    leading = 0.0
    seq = 0

    def show(text: str):
        nonlocal seq
        if text:
            spans.append(_Span(y, x, seq, text))
            seq += 1

    pending_strings: list[str] = []
    in_array = False

    for m in _TOKEN_RE.finditer(content):
        tok = m.group(0)
        c0 = tok[:1]
        if c0 == b"(":
            s = _decode_pdf_string(tok)
            if in_array:
                pending_strings.append(s)
            else:
                pending_strings = [s]
        elif c0 == b"<" and tok != b"<<":
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
        elif tok == b"[":
            in_array = True
            pending_strings = []
        elif tok == b"]":
            in_array = False
        elif c0 == b"/":
            continue
        elif tok[0:1].isdigit() or c0 in b"+-." or (len(tok) > 1 and tok[1:2].isdigit()):
            try:
                stack.append(float(tok))
            except ValueError:
                pass
        else:
            op = tok
            if op == b"Td":
                if len(stack) >= 2:
                    x += stack[-2]
                    y += stack[-1]
            elif op == b"TD":
                if len(stack) >= 2:
                    x += stack[-2]
                    y += stack[-1]
                    leading = -stack[-1]
            elif op == b"Tm":
                if len(stack) >= 6:
                    x, y = stack[-2], stack[-1]
            elif op == b"TL":
                if stack:
                    leading = stack[-1]
            elif op == b"T*":
                y -= leading if leading else 12.0
            elif op == b"BT":
                x = y = 0.0
            elif op == b"Tj":
                show("".join(pending_strings))
                pending_strings = []
            elif op == b"TJ":
                show("".join(pending_strings))
                pending_strings = []
            elif op == b"'":
                y -= leading if leading else 12.0
                show("".join(pending_strings))
                pending_strings = []
            elif op == b'"':
                y -= leading if leading else 12.0
                show("".join(pending_strings))
                pending_strings = []
            stack.clear()
    return spans


# --- insertion ----------------------------------------------------------------

# Pattern heads in several cases, including the IGNORECASE-only folds
# ``İ``/``ı`` (``"FİG".lower()`` holds no ``"fig"``), the scoring
# keywords, digits, separators and line-ending punctuation.
_LINE_PIECES = ["表", "图", "Fig", "FİG", "fıg", "fig", "Figure", "FIGURE",
                "Table", "TABLE", "tAbLe", "见图", "诊疗", "流程", "示意",
                "获得性", "1", "2", "12", "3", "0", "-", "–", "—", ".", "_",
                " ", "  ", "\t", "。", ":", "：", "#", "## ", "x", "text"]

_lines = st.lists(st.sampled_from(_LINE_PIECES), max_size=10).map("".join)


@settings(max_examples=400, deadline=None)
@given(lines=st.lists(_lines, max_size=25),
       n_images=st.integers(min_value=0, max_value=5))
def test_insertion_matches_oracle(lines, n_images):
    content = "\n".join(lines)
    images = [(f"image_{k:03d}", f"image_{k:03d}.png")
              for k in range(1, n_images + 1)]
    assert (insert_images_by_reference_patterns(content, "doc", images)
            == oracle_insert_images_by_reference_patterns(content, "doc", images))


# --- tokenizer ----------------------------------------------------------------

_TOKENS = [
    # literal strings: plain, escaped, octal, nested, UTF-8
    b"(Hello)", b"()", b"(a\\(b\\)c)", b"(\\101\\102)", b"(tab\\there)",
    b"(x (nested) y)", "(图 1-2 诊疗)".encode(),
    # hex strings: latin-1, UTF-16BE with BOM, blanks, odd length, empty
    b"<48656c6c6f>", b"<FEFF00410042>", b"<48 65 6C>", b"<486>", b"<>",
    b"[", b"]", b"/F1", b"/Im1", b"/",
    # numbers: signed, fractional, bare leading dot
    b"0", b"12", b"-3", b"+4", b"72.5", b"-0.5", b".25", b"+.75", b"-14",
    # text operators and the ones around them
    b"Tj", b"TJ", b"T*", b"'", b"\"", b"Td", b"TD", b"Tm", b"TL", b"BT",
    b"ET", b"Tf", b"Tc", b"cm", b"q", b"Q", b"Do", b"re", b"f",
]

_stream = st.lists(
    st.tuples(st.sampled_from(_TOKENS), st.sampled_from([b" ", b"\n", b""])),
    max_size=60,
).map(lambda pairs: b"".join(tok + sep for tok, sep in pairs))


@settings(max_examples=600, deadline=None)
@given(_stream)
def test_text_spans_match_oracle(content):
    assert _extract_text_spans(content) == oracle_extract_text_spans(content)


@settings(max_examples=200, deadline=None)
@given(st.binary(max_size=300))
def test_text_spans_match_oracle_on_raw_bytes(content):
    assert _extract_text_spans(content) == oracle_extract_text_spans(content)


# --- HTML kernel --------------------------------------------------------------
#
# The parser's previous DOM node, stdlib callback builder and scanner
# (which fed those callbacks), the boilerplate scorer that walked each
# candidate's subtree three times, and the serializer, verbatim.

class OracleNode:
    """Minimal DOM node. ``tag is None`` marks a text node."""

    __slots__ = ("tag", "attrs", "children", "text", "parent")

    def __init__(self, tag, attrs=None, text=""):
        self.tag = tag
        self.attrs = attrs or {}
        self.children = []
        self.text = text
        self.parent = None

    def append(self, child):
        child.parent = self
        self.children.append(child)

    def iter_text(self):
        if self.tag is None:
            yield self.text
            return
        if self.tag in SKIP_TAGS:
            return
        for child in self.children:
            yield from child.iter_text()

    def text_content(self) -> str:
        return "".join(self.iter_text())


class OracleDomBuilder(HTMLParser):
    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.root = OracleNode("#document")
        self.stack = [self.root]
        self._raw_stack = 0  # depth inside script/style — drop content

    def _top(self):
        return self.stack[-1]

    def handle_starttag(self, tag, attrs):
        if self._raw_stack:
            return
        implied = _IMPLIED_CLOSE.get(tag)
        if implied:
            for i in range(len(self.stack) - 1, 0, -1):
                t = self.stack[i].tag
                if t in implied:
                    del self.stack[i:]
                    break
                if t in ("table", "ul", "ol", "div", "section", "body"):
                    break
        node = OracleNode(tag, dict(attrs))
        self._top().append(node)
        if tag in SKIP_TAGS and tag not in ("meta", "link", "base"):
            self._raw_stack += 1
            self.stack.append(node)
        elif tag not in VOID_ELEMENTS:
            self.stack.append(node)

    def handle_startendtag(self, tag, attrs):
        if self._raw_stack:
            return
        self._top().append(OracleNode(tag, dict(attrs)))

    def handle_endtag(self, tag):
        if self._raw_stack:
            if self.stack and self.stack[-1].tag == tag:
                self.stack.pop()
                self._raw_stack -= 1
            return
        for i in range(len(self.stack) - 1, 0, -1):
            if self.stack[i].tag == tag:
                del self.stack[i:]
                return
        # Unmatched close tag: ignored (lenient parse).

    def handle_data(self, data):
        if self._raw_stack or not data:
            return
        self._top().append(OracleNode(None, text=data))


def oracle_fast_feed(data: str, builder: "OracleDomBuilder") -> None:
    from html import unescape

    n = len(data)
    pos = 0
    find = data.find
    while pos < n:
        lt = find("<", pos)
        if lt < 0:
            text = data[pos:]
            builder.handle_data(unescape(text) if "&" in text else text)
            break
        if lt > pos:
            text = data[pos:lt]
            builder.handle_data(unescape(text) if "&" in text else text)
        nxt = data[lt + 1:lt + 2]
        if nxt and (nxt.isalpha() and nxt.isascii()):
            m = _FAST_STARTTAG.match(data, lt)
            if not m:
                raise _FallbackToStdlib  # tolerant-parser territory
            tag = m.group(1).lower()
            raw_attrs = m.group(2)
            attrs = []
            if raw_attrs:
                for am in _FAST_ATTR.finditer(raw_attrs):
                    v = am.group(2)
                    if v is not None:
                        if v[0] in "\"'":
                            v = v[1:-1]
                        if "&" in v:
                            v = unescape(v)
                    attrs.append((am.group(1).lower(), v))
            pos = m.end()
            if m.group(3):
                builder.handle_startendtag(tag, attrs)
                continue
            builder.handle_starttag(tag, attrs)
            if tag in ("script", "style"):
                pos = oracle_fast_raw(data, pos, tag, builder)
            continue
        if nxt == "/":
            m = _FAST_ENDTAG.match(data, lt)
            if not m:
                raise _FallbackToStdlib  # </>, bogus or unterminated
            builder.handle_endtag(m.group(1).lower())
            pos = m.end()
            continue
        if data.startswith("<!--", lt):
            m = _COMMENT_CLOSE.search(data, lt + 4)
            if not m:
                raise _FallbackToStdlib  # unterminated comment
            pos = m.end()  # comment content: no builder callback
            continue
        if nxt == "!":
            if data.startswith("<![", lt):
                raise _FallbackToStdlib  # marked section scanning
            gt = find(">", lt + 2)
            if gt < 0:
                raise _FallbackToStdlib
            pos = gt + 1  # doctype / bogus comment: ignored
            continue
        if nxt == "?":
            gt = find(">", lt + 2)
            if gt < 0:
                raise _FallbackToStdlib
            pos = gt + 1  # processing instruction: ignored
            continue
        if lt + 1 < n:
            builder.handle_data("<")  # stdlib: lone '<' is its own data
            pos = lt + 1
            continue
        raise _FallbackToStdlib  # trailing '<' at EOF


def oracle_fast_raw(data: str, pos: int, tag: str,
              builder: "OracleDomBuilder") -> int:
    """Scan script/style raw text exactly like stdlib CDATA mode: data
    (which the builder drops) up to a ``</tag`` that parses as a real
    end tag; mismatched end tags stay data and the mode continues."""
    interest = _RAW_INTEREST[tag]
    n = len(data)
    while pos < n:
        m = interest.search(data, pos)
        if not m:
            return n  # unterminated raw element: rest is (dropped) data
        em = _FAST_ENDTAG.match(data, m.start())
        if em and em.group(1).lower() == tag:
            builder.handle_endtag(tag)
            return em.end()
        gt = data.find(">", m.start() + 1)
        if gt < 0:
            raise _FallbackToStdlib  # unterminated bogus end tag at EOF
        pos = gt + 1  # stdlib: non-matching end tag is data, mode holds
    return n


def oracle_parse_dom(html_text: str) -> OracleNode:
    """Parse HTML text into a lenient DOM tree (fast scanner with
    stdlib fallback — identical output either way)."""
    builder = OracleDomBuilder()
    try:
        oracle_fast_feed(html_text, builder)
        return builder.root
    except _FallbackToStdlib:
        pass
    except Exception:
        pass
    builder = OracleDomBuilder()
    try:
        builder.feed(html_text)
        builder.close()
    except Exception:
        # Lenient by contract: whatever was built so far is the DOM.
        pass
    return builder.root


def oracle_link_text_len(node: OracleNode) -> int:
    if node.tag is None:
        return 0
    if node.tag == "a":
        return len(node.text_content())
    return sum(oracle_link_text_len(c) for c in node.children)


def oracle_tag_count(node: OracleNode) -> int:
    if node.tag is None:
        return 0
    return 1 + sum(oracle_tag_count(c) for c in node.children)


def _hint_match(node: OracleNode) -> bool:
    blob = " ".join(
        str(node.attrs.get(k, "")) for k in ("class", "id", "role")
    )
    return bool(blob and _BOILERPLATE_HINT.search(blob))


def oracle_block_score(node: OracleNode) -> float:
    """Boilerplate score for a block subtree. > 0.5 → drop.

    Combines (north_star heuristics):
    - link-text ratio: chars inside <a> / total chars
    - tag density: tags per text char (markup-heavy, text-light blocks)
    - class/id/role hints and structural tags (nav/footer/aside)
    """
    text = node.text_content().strip()
    text_len = len(text)
    if node.tag in _ALWAYS_DROP_TAGS:
        return 1.0

    score = 0.0
    if _hint_match(node):
        score += 0.6

    if text_len == 0:
        # No text at all: markup-only block (spacer/button bar).
        return score + 0.3

    link_ratio = oracle_link_text_len(node) / text_len
    if link_ratio > 0.65:
        score += 0.5
    elif link_ratio > 0.4:
        score += 0.25

    tags = oracle_tag_count(node)
    density = text_len / max(tags, 1)  # text chars per tag
    if density < 10 and text_len < 200:
        score += 0.25
    return score


def oracle_strip_boilerplate(root: OracleNode) -> OracleNode:
    """Prune boilerplate blocks in place and return the root.

    Headings and paragraphs are never dropped on density alone — only
    container blocks are candidates; an <h1> inside a nav still dies with
    the nav (subtree pruning).
    """
    candidates = {"div", "section", "aside", "nav", "header", "footer",
                  "ul", "ol", "form", "table", "figure", "fieldset"}

    def prune(node: OracleNode) -> bool:
        """Return True if node should be removed."""
        if node.tag in SKIP_TAGS and node.tag is not None:
            return True
        if node.tag in candidates and oracle_block_score(node) > 0.5:
            return True
        node.children = [c for c in node.children if not prune(c)]
        return False

    prune(root)
    return root


def oracle_collapse_ws(text: str) -> str:
    return _WS_RUNS.sub(" ", text)


class OracleMarkdownWriter:
    """Tree walk → markdown string builder.

    Conventions follow the reference wrapper's output style
    (config.py:142-150): ATX headings, ``-`` bullets, ``**`` strong,
    ``*`` emphasis, ``````` fences, left-aligned pipe tables.
    """

    def __init__(self):
        self.blocks: list[str] = []

    # -- inline -----------------------------------------------------------

    def inline(self, node: OracleNode) -> str:
        if node.tag is None:
            # convert_charrefs=True already decoded entities in the parser.
            return oracle_collapse_ws(node.text)
        tag = node.tag
        if tag in SKIP_TAGS:
            return ""
        inner = "".join(self.inline(c) for c in node.children)
        if tag in ("strong", "b"):
            body = inner.strip()
            return f"**{body}**" if body else ""
        if tag in ("em", "i"):
            body = inner.strip()
            return f"*{body}*" if body else ""
        if tag == "code":
            body = inner.strip()
            return f"`{body}`" if body else ""
        if tag == "a":
            href = node.attrs.get("href", "")
            body = inner.strip() or href
            if not body:
                return ""
            return f"[{body}]({href})" if href else body
        if tag == "img":
            alt = node.attrs.get("alt", "") or ""
            src = node.attrs.get("src", "") or ""
            return f"![{alt}]({src})"
        if tag == "br":
            return "\n"
        return inner

    def inline_children(self, node: OracleNode) -> str:
        return "".join(self.inline(c) for c in node.children)

    # -- blocks -----------------------------------------------------------

    def emit(self, text: str):
        if text:
            self.blocks.append(text)

    def walk(self, node: OracleNode):
        for child in node.children:
            self.block(child)

    def block(self, node: OracleNode):
        if node.tag is None:
            text = self.inline(node).strip()
            if text:
                self.emit(text)
            return
        tag = node.tag
        if tag in SKIP_TAGS:
            return
        if tag in ("h1", "h2", "h3", "h4", "h5", "h6"):
            level = int(tag[1])
            text = oracle_collapse_ws(self.inline_children(node)).strip()
            if text:
                self.emit(f"{'#' * level} {text}")
            return
        if tag == "p":
            text = self.inline_children(node).strip()
            if text:
                self.emit(text)
            return
        if tag in ("ul", "ol"):
            self.emit(self.list_block(node, ordered=(tag == "ol"), depth=0))
            return
        if tag == "table":
            self.emit(self.table_block(node))
            return
        if tag == "pre":
            code = node.text_content()
            code = code.strip("\n")
            self.emit(f"```\n{code}\n```")
            return
        if tag == "blockquote":
            sub = OracleMarkdownWriter()
            sub.walk(node)
            quoted = "\n".join(
                "> " + line if line else ">"
                for block in sub.blocks
                for line in block.split("\n")
            )
            self.emit(quoted)
            return
        if tag == "hr":
            self.emit("---")
            return
        if tag in ("img", "a", "strong", "b", "em", "i", "code", "span",
                   "br", "label", "small", "sup", "sub", "u", "s", "time",
                   "abbr", "cite", "q", "mark"):
            text = self.inline(node).strip()
            if text:
                self.emit(text)
            return
        # Generic container: recurse block-wise.
        self.walk(node)

    def list_block(self, node: OracleNode, ordered: bool, depth: int) -> str:
        lines = []
        index = 1
        for child in node.children:
            if child.tag != "li":
                continue
            nested = []
            inline_parts = []
            for grand in child.children:
                if grand.tag in ("ul", "ol"):
                    nested.append(
                        self.list_block(grand, ordered=(grand.tag == "ol"),
                                        depth=depth + 1)
                    )
                else:
                    inline_parts.append(self.inline(grand))
            text = oracle_collapse_ws("".join(inline_parts)).strip()
            marker = f"{index}." if ordered else "-"
            indent = "  " * depth
            if text:
                lines.append(f"{indent}{marker} {text}")
            for block in nested:
                lines.append(block)
            index += 1
        return "\n".join(lines)

    def table_block(self, node: OracleNode) -> str:
        rows: list[list[str]] = []
        header_cells: list[str] | None = None

        def collect_rows(n: OracleNode):
            nonlocal header_cells
            for child in n.children:
                if child.tag == "tr":
                    cells = [
                        oracle_collapse_ws(self.inline_children(c)).strip()
                        for c in child.children
                        if c.tag in ("td", "th")
                    ]
                    if cells:
                        if header_cells is None and any(
                            c.tag == "th" for c in child.children
                        ):
                            header_cells = cells
                        else:
                            rows.append(cells)
                elif child.tag in ("thead", "tbody", "tfoot"):
                    collect_rows(child)

        collect_rows(node)
        if header_cells is None:
            if not rows:
                return ""
            header_cells = rows.pop(0)
        width = max([len(header_cells)] + [len(r) for r in rows]) if rows else len(header_cells)
        header_cells = header_cells + [""] * (width - len(header_cells))
        out = ["| " + " | ".join(header_cells) + " |"]
        out.append("| " + " | ".join(["---"] * width) + " |")
        for row in rows:
            row = row + [""] * (width - len(row))
            out.append("| " + " | ".join(row) + " |")
        return "\n".join(out)


def oracle_serialize_markdown(root: OracleNode) -> str:
    writer = OracleMarkdownWriter()
    writer.walk(root)
    return "\n\n".join(writer.blocks)


def oracle_html_to_markdown(text: str) -> str:
    root = oracle_parse_dom(text)
    oracle_strip_boilerplate(root)
    return oracle_serialize_markdown(root)


# The tests/test_properties.py DOM-parity alphabet, whitespace runs the
# serializer collapses (and NBSP, which it keeps), and the block tags
# the serializer and the boilerplate scorer treat specially.
_HTML_CHUNKS = [
    "<p>", "</p>", "<div class='x'>", '<a href="u?a=1&amp;b=2">',
    "</a>", "text ", "a &amp; b", "&lt;tag&gt;", "&#65;", "&nbsp;",
    "<br/>", "<br />", "<img src=pic.png>", "<ul><li>one<li>two</ul>",
    "<script>var x = '<div>' && 1;</script>", "</div>",
    "<style>p > a { color: red }</style>", "<!-- note -->",
    "<!-- unbalanced <div> -->", "<!doctype html>", "<?pi data?>",
    "x < y", "5<6", "<", ">", "&", "&bogus;", "&amp", "<table><tr><td>c",
    "<EM>Up</EM>", "<input value=''>", "<a b=1 c='2' d=\"3\" e>",
    "\n  ", "<h2>t</h2>", "<td>", "<span data=a/>", "<a/ >", "<a href=>",
    "<![CDATA[raw]]>", "</>", "<foo.bar:baz>", "<div\nid='n'>",
    "<script></SCRIPT >", "<script></scriptx></script>",
    "<a href==/page.html>", "<a b==='x'>", "<a b= =x>", "<a b==>",
    # whitespace runs
    " ", "  ", "\t", "\r", "\f", "\r\n", " \t ", "\n\n", "\xa0",
    "a\xa0 b", "&#9;", "&#10;&#32;", "word\tword",
    # serializer and scorer tags
    "<pre>", "</pre>", "<blockquote>", "</blockquote>", "<ol>", "</ol>",
    "<li>", "<th>", "</tr>", "<hr>", "<strong>", "</strong>", "<code>",
    "</code>", "<h1>", "</h1>", "<nav>", "</nav>", "<footer>",
    "<div class='sidebar'>", "<section id=main>", "</section>",
    "<head><title>t</title></head>", "<a href='/x'>", "<i>", "</i>",
    "<A HREF='/U'>", "<DIV CLASS='Nav' Id=x>", "&#1;", "<title>", "</title>",
]


def _dom(node):
    if node.tag is None:
        return ("#text", node.text)
    return (node.tag, sorted(node.attrs.items()),
            [_dom(c) for c in node.children])


@settings(max_examples=600, deadline=None)
@given(chunks=st.lists(st.sampled_from(_HTML_CHUNKS), max_size=30))
def test_html_to_markdown_matches_oracle(chunks):
    text = "".join(chunks)
    assert _dom(parse_dom(text)) == _dom(oracle_parse_dom(text))
    assert html_to_markdown(text) == oracle_html_to_markdown(text)


@pytest.mark.parametrize("opener", sorted(_IMPLIED_CLOSE))
def test_implied_closes_match_oracle(opener):
    """An implied close stops at table/ul/ol/div/section/body and at
    nothing else."""
    for outer in sorted(_IMPLIED_CLOSE[opener]):
        for wall in ("table", "ul", "ol", "div", "section", "body", "span",
                     "tbody", "li", "p"):
            text = (f"<{outer}>a<{wall}>b<{opener}>c</{wall}>d"
                    f"<{opener}>e<{outer}>f")
            assert _dom(parse_dom(text)) == _dom(oracle_parse_dom(text))
            assert html_to_markdown(text) == oracle_html_to_markdown(text)


_words = st.lists(st.sampled_from(
    ["word", "x", "ab", "Menu", "&amp;", "\xa0", " ", "  ", "\t", "\n",
     "long sentence of text here"]), min_size=1, max_size=6).map("".join)
_HINTS = ["", "nav", "sidebar", "content", "footer-links", "main",
          "share social", "article-body"]


def _render_block(tag, hint, kids):
    attr = f' class="{hint}"' if hint else ""
    if tag == "ul":
        return f"<ul{attr}>" + "".join(f"<li>{k}</li>" for k in kids) + "</ul>"
    if tag == "table":
        return (f"<table{attr}><tr><th>h</th></tr>"
                + "".join(f"<tr><td>{k}</td></tr>" for k in kids) + "</table>")
    return f"<{tag}{attr}>" + "".join(kids) + f"</{tag}>"


_leaf = st.one_of(
    _words,
    _words.map(lambda w: f'<a href="/l">{w}</a>'),
    _words.map(lambda w: f"<p>{w}</p>"),
    _words.map(lambda w: f"<h2>{w}</h2>"),
    _words.map(lambda w: f"<strong>{w}</strong>"),
    st.just("<img src=i.png alt=pic>"),
    st.just("<script>var s='<a>';</script>"),
)
_blocks = st.recursive(
    _leaf,
    lambda inner: st.builds(
        _render_block,
        st.sampled_from(["div", "section", "nav", "aside", "header",
                         "footer", "ul", "table", "form", "figure",
                         "fieldset", "p", "span", "a", "blockquote"]),
        st.sampled_from(_HINTS),
        st.lists(inner, max_size=4),
    ),
    max_leaves=25,
)


@settings(max_examples=400, deadline=None)
@given(blocks=st.lists(_blocks, max_size=4))
def test_nested_blocks_match_oracle(blocks):
    """Nested candidate blocks: every candidate's text, link-text and tag
    figures come from one pass, and pruning an outer block must not
    change an inner one's score."""
    text = "<html><body>" + "".join(blocks) + "</body></html>"
    assert html_to_markdown(text) == oracle_html_to_markdown(text)


def _outcome(convert, text):
    try:
        return convert(text)
    except RecursionError:
        return RecursionError


def test_deep_nesting_matches_oracle_wherever_it_converts():
    """Both kernels recurse once per nesting level.  Each inline level of
    the oracle's generator joins costs more stack than a list join, so
    the oracle gives up (``RecursionError``, a ``failed`` row) a little
    shallower; wherever it converts, the output is the same."""
    shapes = [
        lambda d: "<div>" * d + "text" + "</div>" * d,
        lambda d: "<p>" + "<span>a " * d,
        lambda d: "<ul><li>" * d + "item",
        lambda d: "<table><tr><td>" * d + "c",
    ]
    for shape in shapes:
        for depth in (50, 100, 200, 320, 340, 480):
            text = shape(depth)
            want = _outcome(oracle_html_to_markdown, text)
            if want is not RecursionError:
                assert _outcome(html_to_markdown, text) == want


def _synth_html(seeds, scales, n):
    for seed in seeds:
        for scale in scales:
            for i in range(n):
                payload = synth_page(i, seed=seed, size_scale=scale).html
                if sniff_format(payload) == FMT_HTML:
                    yield payload.decode("utf-8", errors="replace")


def test_synth_html_takes_fast_path_and_matches_oracle():
    """Synth HTML must reach the end of the fused loop: ``parse_dom``
    swallows a fast-path exception and re-parses with the stdlib, so a
    loop bug would otherwise show only as correct but slower output."""
    docs = list(_synth_html(seeds=(1, 2), scales=(1, 8), n=60))
    assert len(docs) > 120
    fallbacks = 0
    for text in docs:
        try:
            _fast_parse(text)
        except Exception:
            fallbacks += 1
        assert html_to_markdown(text) == oracle_html_to_markdown(text)
    assert fallbacks == 0
