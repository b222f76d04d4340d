# -*- coding: utf-8 -*-
"""Differential properties for the rewritten PDF insertion and tokenizer.

``insert_images_by_reference_patterns`` and ``_extract_text_spans`` were
rewritten for speed (a trigger scan over the content; one ``findall``
pass with first-byte dispatch).  The functions below are their previous
bodies, copied verbatim and kept as oracles, the way
``tests/test_cleanup.py::reference_clean`` keeps the cleanup chain: the
rewrites must agree with them on every input.
"""

import re

from hypothesis import given, settings, strategies as st

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
