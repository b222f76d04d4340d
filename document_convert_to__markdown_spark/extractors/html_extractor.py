# -*- coding: utf-8 -*-
"""From-scratch HTML → markdown extraction.

Replaces the reference's MarkItDown call (/root/reference/src/converter.py:555,
operator A5 in SURVEY.md §2) with an owned implementation, per the
north_star: "a from-scratch DOM parse with boilerplate-strip heuristics
(tag-density, link-text ratio, block scoring) and an HTML-to-markdown
serializer (headings, tables, lists, code fences, links)".

Three stages, all pure functions (UDF-safe, deterministic):

1. ``parse_dom``      — builds a lightweight DOM tree (void elements,
   implied closes for ``p``/``li``/``tr``/``td``) inside one scanning
   loop over clean HTML, and through the stdlib ``html.parser`` event
   stream for everything else.
2. ``strip_boilerplate`` — scores block-level subtrees by link-text
   ratio, text density (text chars per tag) and class/id/tag hints,
   figures gathered for every block in one pass; drops
   nav/footer/sidebar/cookie-banner-like blocks.
3. ``serialize_markdown`` — walks the pruned tree emitting markdown
   following the reference wrapper's conventions (ATX headings, ``-``
   bullets, pipe tables, fenced code — config.py:142-150
   MARKDOWN_CONFIG).

Output then flows through the A16 cleanup chain (cleanup.py) exactly as
the reference post-processes MarkItDown output.
"""

from __future__ import annotations

import re
from html import unescape
from html.parser import HTMLParser

# --- DOM ---------------------------------------------------------------

VOID_ELEMENTS = frozenset(
    {"area", "base", "br", "col", "embed", "hr", "img", "input", "link",
     "meta", "param", "source", "track", "wbr"}
)

# Elements whose open tag implicitly closes a currently-open element.
_IMPLIED_CLOSE = {
    "p": {"p"},
    "li": {"li"},
    "tr": {"tr", "td", "th"},
    "td": {"td", "th"},
    "th": {"td", "th"},
    "option": {"option"},
    "dt": {"dt", "dd"},
    "dd": {"dt", "dd"},
}
# Open elements an implied close does not reach past.
_IMPLIED_STOP = frozenset({"table", "ul", "ol", "div", "section", "body"})

BLOCK_TAGS = frozenset(
    {"div", "section", "article", "main", "aside", "nav", "header",
     "footer", "p", "ul", "ol", "table", "blockquote", "pre", "form",
     "h1", "h2", "h3", "h4", "h5", "h6", "figure", "fieldset"}
)

SKIP_TAGS = frozenset({"script", "style", "noscript", "template", "svg",
                       "iframe", "object", "head", "title", "meta", "link",
                       "base"})
# Open elements whose content the DOM drops (``_DomBuilder._raw_stack``).
_DROP_CONTENT = SKIP_TAGS - {"meta", "link", "base"}


class Node:
    """Minimal DOM node. ``tag is None`` marks a text node."""

    __slots__ = ("tag", "attrs", "children", "text")

    def __init__(self, tag, attrs=None, text=""):
        self.tag = tag
        self.attrs = attrs or {}
        self.children = []
        self.text = text

    def append(self, child):
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


class _DomBuilder(HTMLParser):
    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.root = Node("#document")
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
                if t in _IMPLIED_STOP:
                    break
        node = Node(tag, dict(attrs))
        self._top().append(node)
        if tag in _DROP_CONTENT:
            self._raw_stack += 1
            self.stack.append(node)
        elif tag not in VOID_ELEMENTS:
            self.stack.append(node)

    def handle_startendtag(self, tag, attrs):
        if self._raw_stack:
            return
        self._top().append(Node(tag, dict(attrs)))

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
        self._top().append(Node(None, text=data))


# --- Fast path: tokenizer and builder in one loop -----------------------
#
# ``html.parser`` spends most of the extraction budget in ``goahead``'s
# per-construct regex dance, and a DOM built through its callbacks costs
# several interpreted calls per node.  ``_fast_parse`` tokenizes the
# *clean-HTML subset* — canonical start/end tags, quoted/unquoted
# attributes, comments, doctype, PIs, script/style raw text — with
# possessive-quantifier regexes (one match per text run and the tag
# after it) and builds the DOM in the same loop: a local stack of open
# elements, a direct
# ``children.append`` and a flag for "the open element drops its
# content" (``head``, ``script``, … — ``_DomBuilder._raw_stack``, which
# never exceeds 1).  Each token applies exactly the rule the matching
# ``_DomBuilder`` callback applies (implied closes, void and skip
# elements, lenient end tags), so the DOM is the one the stdlib event
# stream builds.  Anything outside the subset (tolerant-parser quirks:
# junk in tags, ``<![`` marked sections, unterminated constructs, bogus
# end tags) raises ``_FallbackToStdlib`` and the document re-parses with
# the stdlib parser and ``_DomBuilder`` from scratch — byte-for-byte
# stdlib behavior on the weird tail.  Parity is pinned by the golden
# fixtures, a property test that cross-checks both parsers on generated
# HTML (tests/test_properties.py), the kept-oracle differential and a
# synth-corpus fast-path coverage test (tests/test_kernel_parity.py).
#
# Two stdlib behaviors deliberately replicated (html/parser.py,
# CPython 3.11): text runs between tags are ONE text node decoded with
# ``html.unescape`` (the parser itself calls ``unescape`` in
# convert_charrefs mode; a run that decodes to "" adds no node), and a
# bare ``<`` that opens no construct is a text node of its own.

class _FallbackToStdlib(Exception):
    pass


# ``=++`` mirrors stdlib attrfind_tolerant's ``=+`` (runs of equals
# signs collapse before the value: ``a==x`` parses as value "x", not
# "=x"); the value cannot then start with a quote (stdlib lookahead).
_FAST_STARTTAG = re.compile(
    r'<([a-zA-Z][a-zA-Z0-9.:_-]*+)'
    r'((?:\s++[^\s/>=]++(?:\s*+=++\s*+'
    r'(?:"[^"]*+"|\'[^\']*+\'|(?![\'"])[^\s>]++))?+)*+)'
    r'\s*+(/?+)>')
# Group 2 never matches "": an empty value is a valueless attribute.
_FAST_ATTR = re.compile(
    r'\s++([^\s/>=]++)(?:\s*+=++\s*+'
    r'("[^"]*+"|\'[^\']*+\'|(?![\'"])[^\s>]++))?+')
_FAST_ENDTAG = re.compile(r'</\s*+([a-zA-Z][-.a-zA-Z0-9:_]*+)\s*+>')
# One step of the loop: the text run up to the next ``<``, then a start
# or end tag (``_FAST_STARTTAG``'s and ``_FAST_ENDTAG``'s groups) if one
# opens there.  Groups: 1 text, 2 tag, 3 attributes, 4 "/", 5 end tag.
_FAST_STEP = re.compile(
    r'([^<]*+)(?:' + _FAST_STARTTAG.pattern
    + '|' + _FAST_ENDTAG.pattern + ')?+')
_COMMENT_CLOSE = re.compile(r'--\s*>')
_RAW_INTEREST = {t: re.compile(r'</\s*%s' % t, re.IGNORECASE)
                 for t in ("script", "style")}


def _fast_parse(data: str) -> Node:
    """The DOM ``_DomBuilder`` builds for ``data``, built in the scanning
    loop; raises ``_FallbackToStdlib`` outside the clean-HTML subset."""
    root = Node("#document")
    stack = [root]
    kids = root.children  # children of the innermost open element
    raw = False           # the innermost open element drops its content
    n = len(data)
    pos = 0
    step = _FAST_STEP.match
    find_attrs = _FAST_ATTR.findall
    while pos < n:
        m = step(data, pos)
        text, tag, raw_attrs, close, end_tag = m.groups()
        pos = m.end()
        if text and not raw:
            if "&" in text:
                text = unescape(text)
            if text:
                kids.append(Node(None, None, text))
        if tag is not None:
            tag = tag.lower()
            if not raw:
                attrs = {}
                if raw_attrs:
                    for name, v in find_attrs(raw_attrs):
                        if not v:
                            v = None
                        else:
                            if v[0] in "\"'":
                                v = v[1:-1]
                            if "&" in v:
                                v = unescape(v)
                        attrs[name.lower()] = v
                node = Node(tag, attrs)
                if close:
                    kids.append(node)
                    continue
                implied = _IMPLIED_CLOSE.get(tag)
                if implied:
                    for i in range(len(stack) - 1, 0, -1):
                        t = stack[i].tag
                        if t in implied:
                            del stack[i:]
                            kids = stack[-1].children
                            break
                        if t in _IMPLIED_STOP:
                            break
                kids.append(node)
                if tag in _DROP_CONTENT:
                    raw = True
                elif tag in VOID_ELEMENTS:
                    continue
                stack.append(node)
                kids = node.children
            elif close:
                continue
            if tag == "script" or tag == "style":
                pos = _raw_text_end(data, pos, tag)
            continue
        if end_tag is not None:
            tag = end_tag.lower()
            if raw:
                if stack[-1].tag == tag:
                    stack.pop()
                    raw = False
                    kids = stack[-1].children
                continue
            for i in range(len(stack) - 1, 0, -1):
                if stack[i].tag == tag:
                    del stack[i:]
                    kids = stack[-1].children
                    break
            # Unmatched close tag: ignored (lenient parse).
            continue
        if pos == n:
            break
        # A '<' that opens no well-formed tag.
        lt = pos
        nxt = data[lt + 1:lt + 2]
        if (nxt.isalpha() and nxt.isascii()) or nxt == "/":
            raise _FallbackToStdlib  # tolerant-parser territory
        if data.startswith("<!--", lt):
            m = _COMMENT_CLOSE.search(data, lt + 4)
            if not m:
                raise _FallbackToStdlib  # unterminated comment
            pos = m.end()  # comment content: no node
            continue
        if nxt == "!":
            if data.startswith("<![", lt):
                raise _FallbackToStdlib  # marked section scanning
            gt = data.find(">", lt + 2)
            if gt < 0:
                raise _FallbackToStdlib
            pos = gt + 1  # doctype / bogus comment: ignored
            continue
        if nxt == "?":
            gt = data.find(">", lt + 2)
            if gt < 0:
                raise _FallbackToStdlib
            pos = gt + 1  # processing instruction: ignored
            continue
        if lt + 1 < n:
            if not raw:
                kids.append(Node(None, None, "<"))  # stdlib: lone '<' is its own data
            pos = lt + 1
            continue
        raise _FallbackToStdlib  # trailing '<' at EOF
    return root


def _raw_text_end(data: str, pos: int, tag: str) -> int:
    """Where script/style raw text from ``pos`` ends, scanned exactly like
    stdlib CDATA mode: at the first ``</tag`` that parses as a real end
    tag (its start is returned, so the caller handles that end tag), or
    at EOF; mismatched end tags stay (dropped) data and the mode holds."""
    interest = _RAW_INTEREST[tag]
    n = len(data)
    while pos < n:
        m = interest.search(data, pos)
        if not m:
            return n  # unterminated raw element: rest is (dropped) data
        em = _FAST_ENDTAG.match(data, m.start())
        if em and em.group(1).lower() == tag:
            return m.start()
        gt = data.find(">", m.start() + 1)
        if gt < 0:
            raise _FallbackToStdlib  # unterminated bogus end tag at EOF
        pos = gt + 1  # stdlib: non-matching end tag is data, mode holds
    return n


def parse_dom(html_text: str) -> Node:
    """Parse HTML text into a lenient DOM tree (fast path with stdlib
    fallback — identical output either way)."""
    try:
        return _fast_parse(html_text)
    except Exception:
        pass  # _FallbackToStdlib, or any fast-path fault: stdlib decides
    builder = _DomBuilder()
    try:
        builder.feed(html_text)
        builder.close()
    except Exception:
        # Lenient by contract: whatever was built so far is the DOM.
        pass
    return builder.root


# --- Boilerplate stripping ----------------------------------------------

_BOILERPLATE_HINT = re.compile(
    r"(?:^|[-_ ])(nav|navbar|menu|sidebar|side-bar|footer|header|banner|"
    r"cookie|consent|advert|ads?|promo|share|social|breadcrumb|pagination|"
    r"related|widget|popup|modal|subscribe|newsletter)(?:$|[-_ ])",
    re.IGNORECASE,
)

_ALWAYS_DROP_TAGS = frozenset({"nav", "footer", "aside"})

# Container blocks ``strip_boilerplate`` scores.  Headings and
# paragraphs are never candidates.
_CANDIDATES = frozenset({"div", "section", "aside", "nav", "header",
                         "footer", "ul", "ol", "form", "table", "figure",
                         "fieldset"})


def _hint_match(node: Node) -> bool:
    blob = " ".join(
        str(node.attrs.get(k, "")) for k in ("class", "id", "role")
    )
    return bool(blob and _BOILERPLATE_HINT.search(blob))


def _block_stats(root: Node) -> dict:
    """``id(node)`` → ``(text_len, link_len, tags)`` for every candidate
    block, in one bottom-up pass.

    ``text_len`` is ``len(node.text_content().strip())``; ``link_len``
    sums ``len(a.text_content())`` over the outermost ``<a>``s below the
    node; ``tags`` counts the elements of its subtree, itself included.
    ``pieces`` collects the text nodes in document order, so a subtree's
    text is what it appended there.  SKIP_TAGS elements, whose text
    ``text_content`` leaves out, are leaves in ``parse_dom``'s trees:
    both builders drop their content.
    """
    pieces: list[str] = []
    append = pieces.append
    stats = {}

    def walk(node: Node):
        """(link_len, tags) of ``node``."""
        start = len(pieces)
        link = 0
        tags = 1
        for child in node.children:
            if child.tag is None:
                append(child.text)
            else:
                child_link, child_tags = walk(child)
                link += child_link
                tags += child_tags
        if node.tag == "a":
            link = sum(map(len, pieces[start:]))
        elif node.tag in _CANDIDATES:
            text_len = len("".join(pieces[start:]).strip())
            stats[id(node)] = (text_len, link, tags)
        return link, tags

    walk(root)
    return stats


def block_score(node: Node, text_len: int, link_len: int,
                tags: int) -> float:
    """Boilerplate score for a block subtree. > 0.5 → drop.

    Combines (north_star heuristics), over ``_block_stats``' figures:
    - link-text ratio: chars inside <a> / total chars
    - tag density: tags per text char (markup-heavy, text-light blocks)
    - class/id/role hints and structural tags (nav/footer/aside)
    """
    if node.tag in _ALWAYS_DROP_TAGS:
        return 1.0

    score = 0.0
    if _hint_match(node):
        score += 0.6

    if text_len == 0:
        # No text at all: markup-only block (spacer/button bar).
        return score + 0.3

    link_ratio = link_len / text_len
    if link_ratio > 0.65:
        score += 0.5
    elif link_ratio > 0.4:
        score += 0.25

    density = text_len / max(tags, 1)  # text chars per tag
    if density < 10 and text_len < 200:
        score += 0.25
    return score


def strip_boilerplate(root: Node) -> Node:
    """Prune boilerplate blocks in place and return the root.

    Headings and paragraphs are never dropped on density alone — only
    container blocks are candidates; an <h1> inside a nav still dies with
    the nav (subtree pruning).  A block is scored before anything below
    it is pruned, so its figures come from the unpruned tree, computed
    for every candidate in one pass up front.
    """
    stats = _block_stats(root)

    def prune(node: Node) -> bool:
        """Return True if node should be removed."""
        tag = node.tag
        if tag in SKIP_TAGS:
            return True
        if tag in _CANDIDATES and block_score(node, *stats[id(node)]) > 0.5:
            return True
        node.children = [c for c in node.children
                         if c.tag is None or not prune(c)]
        return False

    prune(root)
    return root


# --- Markdown serializer -------------------------------------------------

_WS_RUNS = re.compile(r"[ \t\r\n\f]+")


def _collapse_ws(text: str) -> str:
    # Single spaces only: the substitution would return ``text`` as is.
    if ("  " in text or "\n" in text or "\t" in text or "\r" in text
            or "\f" in text):
        return _WS_RUNS.sub(" ", text)
    return text


class _MarkdownWriter:
    """Tree walk → markdown string builder.

    Conventions follow the reference wrapper's output style
    (config.py:142-150): ATX headings, ``-`` bullets, ``**`` strong,
    ``*`` emphasis, ``````` fences, left-aligned pipe tables.
    """

    def __init__(self):
        self.blocks: list[str] = []

    # -- inline -----------------------------------------------------------

    def inline(self, node: Node) -> str:
        if node.tag is None:
            # convert_charrefs=True already decoded entities in the parser.
            return _collapse_ws(node.text)
        tag = node.tag
        if tag in SKIP_TAGS:
            return ""
        inner = "".join([self.inline(c) for c in node.children])
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

    def inline_children(self, node: Node) -> str:
        return "".join([self.inline(c) for c in node.children])

    # -- blocks -----------------------------------------------------------

    def emit(self, text: str):
        if text:
            self.blocks.append(text)

    def walk(self, node: Node):
        for child in node.children:
            self.block(child)

    def block(self, node: Node):
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
            text = _collapse_ws(self.inline_children(node)).strip()
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
            sub = _MarkdownWriter()
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

    def list_block(self, node: Node, ordered: bool, depth: int) -> str:
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
            text = _collapse_ws("".join(inline_parts)).strip()
            marker = f"{index}." if ordered else "-"
            indent = "  " * depth
            if text:
                lines.append(f"{indent}{marker} {text}")
            for block in nested:
                lines.append(block)
            index += 1
        return "\n".join(lines)

    def table_block(self, node: Node) -> str:
        rows: list[list[str]] = []
        header_cells: list[str] | None = None

        def collect_rows(n: Node):
            nonlocal header_cells
            for child in n.children:
                if child.tag == "tr":
                    cells = [
                        _collapse_ws(self.inline_children(c)).strip()
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


def serialize_markdown(root: Node) -> str:
    writer = _MarkdownWriter()
    writer.walk(root)
    return "\n\n".join(writer.blocks)


# --- Top-level -----------------------------------------------------------

def html_to_markdown(payload: bytes | str) -> str:
    """bytes/str of HTML → markdown (before the A16 cleanup chain)."""
    if isinstance(payload, bytes):
        text = payload.decode("utf-8", errors="replace")
    else:
        text = payload
    root = parse_dom(text)
    strip_boilerplate(root)
    return serialize_markdown(root)
