"""Minimal wikitext → markdown converter (pure Python, no deps).

Wikipedia dump pages (`sources/wikidump.py`) carry MediaWiki wikitext;
training pipelines (CCNet, the KenLM-on-Wikipedia lineage, Gopher's
wiki slice) strip it to clean prose before curation.  This implements
the high-frequency subset of the public MediaWiki markup spec
(mediawiki.org/wiki/Help:Formatting) deterministically:

- ``{{templates}}`` removed with nesting (infoboxes, citations);
- ``{| tables |}`` removed with nesting;
- ``<!-- comments -->``, ``<ref>...</ref>`` (incl. self-closing and
  attributed forms), and remaining HTML-ish tags stripped;
- ``[[File:...]]`` / ``[[Image:...]]`` / ``[[Category:...]]`` links
  removed with bracket nesting (captions contain links);
- ``[[target|label]]`` → label, ``[[target]]`` → target,
  ``[url label]`` → label, bare ``[url]`` dropped;
- ``'''''x'''''`` → ``***x***``, ``'''x'''`` → ``**x**``,
  ``''x''`` → ``*x*``;
- ``== Heading ==`` → ``## Heading`` (level = count of ``=``);
- ``*`` bullets → ``-``, ``#`` enumerations → ``1.``; definition
  ``;term`` → ``**term**``, leading ``:`` indents dropped;
- 3+ blank lines collapse to one blank line; trailing spaces strip.

This is a curation operator, NOT a reference-parity path — the
reference never sees wikitext — so the markdown dialect matches this
engine's own extractor conventions rather than any external tool.
Total function: never raises; damaged markup degrades to text.
"""

from __future__ import annotations

import re

_COMMENT_RE = re.compile(r"<!--.*?-->", re.S)
# a self-closing ref may carry '/' in an attribute (name="x/y"); the
# paired branch must not start at one, or it eats prose to the next </ref>
_REF_RE = re.compile(r"<ref\b[^>]*/>|<ref\b[^>]*(?<!/)>.*?</ref>",
                     re.S | re.I)
_TAG_RE = re.compile(r"</?[A-Za-z][^>\n]*>")
_EXT_LINK_RE = re.compile(r"\[(?:https?|ftp)://[^\s\]]+(?:\s+([^\]]*))?\]")
# heading requires a CLOSING '=' run (MediaWiki: '== H ==' is a
# heading, '==> see below' is prose — round-5 review finding)
_HEAD_RE = re.compile(r"^(={2,6})\s*(.+?)\s*=+\s*$")
_BOLD_ITALIC_RE = re.compile(r"'''''(.+?)'''''")
_BOLD_RE = re.compile(r"'''(.+?)'''")
_ITALIC_RE = re.compile(r"''(.+?)''")

# link targets removed wholesale (media/category plumbing, any case)
_DROP_LINK_PREFIXES = ("file:", "image:", "category:")


def _strip_nested(text: str, open_tok: str, close_tok: str) -> str:
    """Remove ``open_tok...close_tok`` spans with nesting; unbalanced
    opens drop to end of text (a truncated template must not leak
    megabytes of infobox into the prose)."""
    out = []
    depth = 0
    i = 0
    n = len(text)
    lo, lc = len(open_tok), len(close_tok)
    while i < n:
        if text.startswith(open_tok, i):
            depth += 1
            i += lo
        elif depth and text.startswith(close_tok, i):
            depth -= 1
            i += lc
        elif depth:
            i += 1
        else:
            out.append(text[i])
            i += 1
    return "".join(out)


def _convert_links(text: str, nested: bool = False) -> str:
    """``[[...]]`` handling with one level of nesting inside dropped
    media/category links (captions routinely contain links); links
    nested in a kept label are converted by one recursive call."""
    out = []
    i = 0
    n = len(text)
    while i < n:
        if text.startswith("[[", i):
            depth = 1
            j = i + 2
            while j < n and depth:
                if text.startswith("[[", j):
                    depth += 1
                    j += 2
                elif text.startswith("]]", j):
                    depth -= 1
                    j += 2
                else:
                    j += 1
            inner = text[i + 2:j - 2] if depth == 0 else text[i + 2:]
            low = inner.lstrip().lower()
            if not low.startswith(_DROP_LINK_PREFIXES):
                if not nested and "[[" in inner:
                    inner = _convert_links(inner, nested=True)
                label = inner.rsplit("|", 1)[-1] if "|" in inner \
                    else inner
                out.append(label)
            i = j if depth == 0 else n
        else:
            out.append(text[i])
            i += 1
    return "".join(out)


def wikitext_to_markdown(text: str) -> str:
    """Convert a wikitext page body to markdown prose.  Never raises."""
    if not text:
        return ""
    try:
        t = _COMMENT_RE.sub("", text)
        t = _REF_RE.sub("", t)
        t = _strip_nested(t, "{{", "}}")
        t = _strip_nested(t, "{|", "|}")
        t = _convert_links(t)
        t = _EXT_LINK_RE.sub(lambda m: m.group(1) or "", t)
        # line-level list/heading forms are resolved BEFORE emphasis:
        # '''bold''' at line start must not turn into **bold** first
        # and then be eaten as a '*' bullet marker
        lines = []
        for line in t.split("\n"):
            m = _HEAD_RE.match(line)
            if m:
                lines.append("#" * len(m.group(1)) + " " + m.group(2))
                continue
            if line.startswith("*"):
                body = line.lstrip("*")
                lines.append("-" * 0 + "- " + body.strip()
                             if body.strip() else "")
                continue
            if line.startswith("#"):
                body = line.lstrip("#")
                lines.append("1. " + body.strip() if body.strip()
                             else "")
                continue
            if line.startswith(";"):
                body = line[1:].strip()
                lines.append(f"**{body}**" if body else "")
                continue
            if line.startswith(":"):
                lines.append(line.lstrip(":").strip())
                continue
            lines.append(line.rstrip())
        out = "\n".join(lines)
        out = _BOLD_ITALIC_RE.sub(r"***\1***", out)
        out = _BOLD_RE.sub(r"**\1**", out)
        out = _ITALIC_RE.sub(r"*\1*", out)
        out = _TAG_RE.sub("", out)
        out = re.sub(r"\n{3,}", "\n\n", out)
        return out.strip() + ("\n" if out.strip() else "")
    except Exception:                              # noqa: BLE001
        return text
