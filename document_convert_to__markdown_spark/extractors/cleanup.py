# -*- coding: utf-8 -*-
"""Markdown/PDF cleanup chains — byte-parity with the reference.

Reproduces, regex-for-regex and in the same order, the reference's
``_optimize_pdf_content`` (/root/reference/src/converter.py:230-266) and
``_clean_markdown_content`` (/root/reference/src/converter.py:268-300).

PARITY TRAP (intentional, verified in the reference source): the
replacement strings at converter.py:291, :292 and :295 are NON-RAW Python
literals, so ``\\1`` is the octal escape ``\\x01`` — the reference emits a
literal 0x01 control byte instead of a backreference, destroying the
matched heading marker / list marker.  Byte-identical output per url
requires reproducing this bug exactly, so the replacement strings below
contain an explicit ``\\x01``.

Speed without a change of output:

- A pattern that opens with a lookbehind, like the reference's
  ``(?<!\\n)\\n…``, makes ``sre`` try it at every position of the
  text.  Here the literal comes first and the lookbehind follows it,
  ``\\n(?<!\\n\\n)…``, so ``sre`` scans for the ``\\n`` prefix and tries
  only there.  The two forms match the same spans, at the start of the
  text too: neither lookbehind can see a newline before position 0.
- Each ``sub`` is skipped when a literal that every one of its matches
  must contain is absent from the text (the guard next to it names it):
  a ``sub`` with no match returns its input unchanged.
"""

from __future__ import annotations

import re

# Precompiled patterns (the reference recompiles per call; compiled once
# here because the UDF applies them to thousands of documents per batch —
# same match semantics, pure performance).
_PDF_SINGLE_NEWLINE = re.compile(r"\n(?<!\n\n)(?!\n|[#*-]|\d+\.|\s*[•·])")
_PDF_MULTI_SPACE = re.compile(r" {2,}")
_PDF_EMPTY_PIPES = re.compile(r"\|\s*\|")
_PDF_PIPE_SPACING = re.compile(r"\s*\|\s*")

_MD_BLANK_RUNS = re.compile(r"\n{3,}")
_MD_HEADING_BEFORE = re.compile(r"\n(?<!\n\n)(#{1,6}\s)")
_MD_HEADING_AFTER = re.compile(r"(#{1,6}.*?)\n(?!\n)")
_MD_LIST_ITEM = re.compile(r"\n([*-]\s)")
_MD_TRAILING_SPACE = re.compile(r" +$", re.MULTILINE)


def optimize_pdf_content(content: str) -> str:
    """PDF-specific format fixes — converter.py:230-266 verbatim semantics.

    1. single newlines (not followed by block markers) → space
    2. collapse runs of spaces
    3. drop header/footer-ish lines (stripped length < 5 or all digits)
    4. normalize table pipes
    """
    if not content:
        return content

    content = _PDF_SINGLE_NEWLINE.sub(" ", content)
    if "  " in content:
        content = _PDF_MULTI_SPACE.sub(" ", content)

    lines = content.split("\n")
    filtered_lines = []
    for line in lines:
        line = line.strip()
        if len(line) < 5 or line.isdigit():
            continue
        filtered_lines.append(line)
    content = "\n".join(filtered_lines)

    if "|" in content:
        content = _PDF_EMPTY_PIPES.sub("|", content)
        content = _PDF_PIPE_SPACING.sub(" | ", content)
    return content


def clean_markdown_content(content: str, is_pdf: bool = False) -> str:
    """General markdown cleanup — converter.py:268-300 verbatim semantics.

    The ``\\x01`` bytes in the replacements below are deliberate: they
    reproduce the reference's non-raw ``'\\n\\n\\1'`` / ``'\\1\\n\\n'``
    replacement-literal bug (converter.py:291-295).  See module docstring.
    """
    if not content:
        return content

    if is_pdf:
        content = optimize_pdf_content(content)

    # 1. collapse ≥3 blank lines (converter.py:288)
    if "\n\n\n" in content:
        content = _MD_BLANK_RUNS.sub("\n\n", content)

    # 2. heading padding with the \x01 quirk (converter.py:291-292)
    if "#" in content:
        content = _MD_HEADING_BEFORE.sub("\n\n\x01", content)
        content = _MD_HEADING_AFTER.sub("\x01\n\n", content)

    # 3. list padding with the \x01 quirk (converter.py:295)
    content = _MD_LIST_ITEM.sub("\n\n\x01", content)

    # 4. strip trailing spaces per line (converter.py:298)
    if " \n" in content or content.endswith(" "):
        content = _MD_TRAILING_SPACE.sub("", content)

    return content.strip()
