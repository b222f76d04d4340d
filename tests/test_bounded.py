# -*- coding: utf-8 -*-
"""The bounded decoder (extractors/bounded.py) and what routes through it.

Differential properties use the stdlib one-shot decoders as the oracle;
the bombs are small payloads whose expansion the parent code read whole.
"""

from __future__ import annotations

import ast
import bz2
import gzip
import hashlib
import io
import lzma
import pathlib
import random
import re
import tracemalloc
import zipfile
import zlib
from unittest import mock

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from document_convert_to__markdown_spark.data import synth
from document_convert_to__markdown_spark.extractors import (
    bounded,
    extract_document,
)
from document_convert_to__markdown_spark.extractors.bounded import (
    Budget,
    DecompressionLimit,
    decompress_chunks,
    inflate,
    read_member,
)
from document_convert_to__markdown_spark.extractors.sniffer import (
    FMT_EPUB,
    FMT_UNKNOWN,
    sniff_format,
)
from document_convert_to__markdown_spark.sources.archive import (
    iter_archive_members,
)

PACKAGE = pathlib.Path(bounded.__file__).resolve().parents[1]

# codec -> (compress one member, one-shot oracle over the joined members)
CODECS = {
    "gzip": (lambda b: gzip.compress(b, mtime=0),
             lambda ms: gzip.decompress(b"".join(ms))),
    "bz2": (bz2.compress, lambda ms: bz2.decompress(b"".join(ms))),
    "xz": (lambda b: lzma.compress(b, format=lzma.FORMAT_XZ),
           lambda ms: lzma.decompress(b"".join(ms))),
}

# Members mix incompressible bytes with long runs, so one member can
# decode to many chunks and one chunk can hold many members.
_member = st.lists(
    st.one_of(st.binary(max_size=64),
              st.tuples(st.integers(0, 255), st.integers(1, 4000))
              .map(lambda t: bytes([t[0]]) * t[1])),
    max_size=6).map(b"".join)
_members = st.lists(_member, min_size=1, max_size=5)
# Small chunk sizes put member ends, magics and output caps across every
# slice boundary the 1 MiB default would only meet on huge inputs.
_chunk = st.sampled_from([1, 2, 3, 7, 64, 1 << 20])


def _stream(codec, members, cap, chunk, multi=True):
    comp = [CODECS[codec][0](m) for m in members]
    with mock.patch.object(bounded, "_CHUNK", chunk):
        out = list(decompress_chunks(codec, b"".join(comp), cap, multi))
    assert all(0 < len(c) <= chunk for c in out)
    return comp, b"".join(out)


@pytest.mark.parametrize("codec", sorted(CODECS))
class TestDecompressChunks:
    @settings(max_examples=60, deadline=None)
    @given(members=_members, chunk=_chunk)
    def test_joined_chunks_equal_oracle(self, codec, members, chunk):
        comp, got = _stream(codec, members, 1 << 40, chunk)
        assert got == CODECS[codec][1](comp)

    @pytest.mark.parametrize("extra", range(1, 6))
    def test_next_magic_split_across_input_slices(self, codec, extra):
        # the per-codec loops this replaced read a magic cut short by
        # the slice end as trailing garbage, dropping every later member
        comp = [CODECS[codec][0](b"member %d " % i * 50) for i in (1, 2)]
        with mock.patch.object(bounded, "_CHUNK", len(comp[0]) + extra):
            got = b"".join(decompress_chunks(codec, b"".join(comp), 1 << 40))
        assert got == CODECS[codec][1](comp)

    @settings(max_examples=60, deadline=None)
    @given(members=_members, chunk=_chunk, data=st.data())
    def test_cut_gives_prefix(self, codec, members, chunk, data):
        joined = b"".join(CODECS[codec][0](m) for m in members)
        cut = data.draw(st.integers(0, len(joined)))
        with mock.patch.object(bounded, "_CHUNK", chunk):
            got = b"".join(decompress_chunks(codec, joined[:cut], 1 << 40))
        comp = [CODECS[codec][0](m) for m in members]
        assert CODECS[codec][1](comp).startswith(got)

    @settings(max_examples=40, deadline=None)
    @given(members=_members, chunk=_chunk, junk=st.binary(max_size=64))
    def test_trailing_garbage_stops_cleanly(self, codec, members, chunk,
                                            junk):
        comp = [CODECS[codec][0](m) for m in members]
        # a leading NUL is no codec's magic
        data = b"".join(comp) + b"\x00" + junk
        with mock.patch.object(bounded, "_CHUNK", chunk):
            got = b"".join(decompress_chunks(codec, data, 1 << 40))
        assert got == CODECS[codec][1](comp)

    @settings(max_examples=60, deadline=None)
    @given(members=_members, chunk=_chunk, data=st.data())
    def test_cap_yields_exactly_min_cap_total(self, codec, members, chunk,
                                              data):
        total = len(b"".join(members))
        cap = data.draw(st.integers(0, total + 8))
        comp, got = _stream(codec, members, cap, chunk)
        assert got == CODECS[codec][1](comp)[:cap]
        assert len(got) == min(cap, total)

    @settings(max_examples=30, deadline=None)
    @given(members=_members, chunk=_chunk)
    def test_single_member_mode_stops_at_first_end(self, codec, members,
                                                   chunk):
        _, got = _stream(codec, members, 1 << 40, chunk, multi=False)
        assert got == members[0]

    def test_bomb_is_capped_in_bounded_memory(self, codec):
        bomb = CODECS[codec][0](b"\x00" * (64 << 20))
        tracemalloc.start()
        try:
            n = sum(len(c) for c in decompress_chunks(codec, bomb, 5 << 20))
            _, peak = tracemalloc.get_traced_memory()
        finally:
            tracemalloc.stop()
        assert n == 5 << 20
        # a quarter of the expansion; xz's decoder alone holds its 8 MiB
        # dictionary
        assert peak < 16 << 20


class TestInflate:
    @settings(max_examples=80, deadline=None)
    @given(raw=_member, data=st.data())
    def test_one_shot_is_capped_prefix(self, raw, data):
        comp = zlib.compress(raw)
        cap = data.draw(st.integers(1, len(raw) + 8))
        out, ended = inflate(comp + b"trailing", cap)
        assert out == zlib.decompress(comp)[:cap]
        if cap > len(raw):
            assert ended
        elif cap < len(raw):
            assert not ended

    @settings(max_examples=80, deadline=None)
    @given(streams=st.lists(_member, min_size=1, max_size=4), data=st.data())
    def test_budget_charges_streams_and_raises_past_it(self, streams, data):
        payload = b"p" * data.draw(st.integers(1, 200))
        budget = Budget(payload)
        assert budget.total == min(bounded.INFLATE_RATIO * len(payload),
                                   bounded.INFLATE_CEILING)
        spent = 0
        for raw in streams:
            if spent + len(raw) > budget.total:
                with pytest.raises(DecompressionLimit):
                    budget.inflate(zlib.compress(raw))
                return
            assert budget.inflate(zlib.compress(raw)) == raw
            spent += len(raw)
            assert budget.left == budget.total - spent

    def test_budget_corrupt_and_truncated_streams_are_none(self):
        budget = Budget(b"x" * 100)
        good = zlib.compress(b"hello world" * 50)
        assert budget.inflate(good[:-6]) is None
        assert budget.inflate(b"\x00not zlib") is None
        assert budget.inflate(good) == b"hello world" * 50

    def test_ceiling_caps_large_payloads(self):
        budget = Budget(b"\x00" * (bounded.INFLATE_CEILING // 50))
        assert budget.total == bounded.INFLATE_CEILING


def _zip(members, method=zipfile.ZIP_DEFLATED):
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", method) as zf:
        for name, data in members:
            zf.writestr(name, data)
    return buf.getvalue()


def _zip_streamed(name, n_mib, method=zipfile.ZIP_DEFLATED, base=None,
                  byte=b"\x00"):
    """A zip whose member ``name`` is ``n_mib`` MiB of one byte, written
    in 1 MiB pieces (never held whole); appended to ``base`` if given."""
    buf = io.BytesIO(base or b"")
    with zipfile.ZipFile(buf, "a" if base else "w", method) as zf:
        with zf.open(name, "w") as fh:
            piece = byte * (1 << 20)
            for _ in range(n_mib):
                fh.write(piece)
    return buf.getvalue()


def _traced(fn, *args):
    tracemalloc.start()
    try:
        out = fn(*args)
        _, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    return out, peak


class TestReadMember:
    @pytest.mark.parametrize("method", [zipfile.ZIP_STORED,
                                        zipfile.ZIP_DEFLATED])
    def test_roundtrip_and_cap(self, method):
        zf = zipfile.ZipFile(io.BytesIO(_zip([("a", b"abc" * 100)], method)))
        assert read_member(zf, "a", 300) == b"abc" * 100
        assert read_member(zf, zf.getinfo("a"), 300) == b"abc" * 100
        with pytest.raises(DecompressionLimit):
            read_member(zf, "a", 299)
        with pytest.raises(KeyError):
            read_member(zf, "missing", 300)

    @pytest.mark.parametrize("method", [zipfile.ZIP_BZIP2,
                                        zipfile.ZIP_LZMA])
    def test_other_methods_refused_before_inflating(self, method):
        zf = zipfile.ZipFile(io.BytesIO(_zip_streamed("m", 32, method)))
        tracemalloc.start()
        try:
            with pytest.raises(NotImplementedError,
                               match="compression method"):
                read_member(zf, "m", 1 << 40)
            _, peak = tracemalloc.get_traced_memory()
        finally:
            tracemalloc.stop()
        assert peak < 1 << 20

    def test_budget_read_charges_members(self):
        payload = _zip([("a", b"a" * 60), ("b", b"b" * 60)])
        budget = Budget(b"x")                       # 100 bytes in all
        zf = zipfile.ZipFile(io.BytesIO(payload))
        assert budget.read(zf, "a") == b"a" * 60
        assert budget.left == 40
        with pytest.raises(DecompressionLimit):
            budget.read(zf, "b")


class TestZipBombs:
    def test_docx_with_huge_media_member_fails_bounded(self):
        member = 64 << 20
        base = synth.make_docx(random.Random(3), "en", 3, 1.0)
        bomb = _zip_streamed("word/media/image9.png", member >> 20,
                             base=base)
        assert len(bomb) < 128 << 10
        doc, peak = _traced(extract_document, "https://a.example/b.docx",
                            bomb)
        assert doc.status == "failed"
        assert doc.error.startswith("DecompressionLimit: ")
        assert peak < member // 2

    def test_bzip2_member_is_a_labelled_failed_row(self):
        bomb = _zip_streamed("word/document.xml", 64, zipfile.ZIP_BZIP2)
        assert len(bomb) < 4 << 10
        doc, peak = _traced(extract_document, "https://a.example/z.docx",
                            bomb)
        assert doc.status == "failed"
        assert doc.error.startswith("NotImplementedError: ")
        assert "compression method 12" in doc.error
        assert peak < 16 << 20

    def test_archive_zip_bzip2_member_is_failed_member(self):
        blob = _zip_streamed("b.txt", 32, zipfile.ZIP_BZIP2,
                             base=_zip([("a.txt", b"A")]))
        rows, peak = _traced(list, iter_archive_members(blob, "t"))
        assert rows == [("a.txt", b"A", 1, "ok"),
                        ("b.txt", None, 32 << 20, "failed_member")]
        assert peak < 16 << 20

    @pytest.mark.parametrize("limits", [{"max_member_bytes": 100},
                                        {"max_total_bytes": 100}])
    def test_archive_zip_member_lying_about_its_size(self, limits):
        blob = bytearray(_zip([("big.bin", b"x" * 5000), ("ok", b"k")]))
        # shrink big.bin's declared size in its central directory entry
        cd = blob.rfind(b"PK\x01\x02", 0, blob.rfind(b"big.bin"))
        blob[cd + 24:cd + 28] = (10).to_bytes(4, "little")
        rows = list(iter_archive_members(bytes(blob), "t", **limits))
        assert rows == [("big.bin", None, 10, "failed_member"),
                        ("ok", b"k", 1, "ok")]

    @pytest.mark.parametrize("container", [True, False])
    def test_huge_mimetype_sniffs_bounded(self, container):
        base = (_zip([("META-INF/container.xml", b"<container/>")])
                if container else None)
        blob = _zip_streamed("mimetype", 64, base=base, byte=b"e")
        fmt, peak = _traced(sniff_format, blob)
        assert fmt == (FMT_EPUB if container else FMT_UNKNOWN)
        assert peak < 1 << 20

    def test_sniffer_survives_corrupt_and_bzip2_mimetype(self):
        good = _zip([("mimetype", b"application/epub+zip")])
        assert sniff_format(good) == FMT_EPUB
        i = good.find(b"PK\x03\x04") + 30 + len("mimetype")
        corrupt = good[:i] + b"\xff" * 8 + good[i + 8:]
        assert sniff_format(corrupt) == FMT_UNKNOWN
        bz = _zip([("mimetype", b"application/epub+zip")], zipfile.ZIP_BZIP2)
        assert sniff_format(bz) == FMT_UNKNOWN


@pytest.mark.spark
def test_bomb_row_mixed_into_run_extraction(spark):
    """One bomb among ordinary pages costs its own row only: every url
    has one row, the bomb's is ``failed``, and every other row and asset
    is byte-identical to the same run without it."""
    from document_convert_to__markdown_spark.pipeline.corpus import (
        synth_pages_df,
    )
    from document_convert_to__markdown_spark.pipeline.job import (
        run_extraction,
    )
    from document_convert_to__markdown_spark.pipeline.schemas import (
        PAGES_SCHEMA,
    )

    base = synth.make_docx(random.Random(3), "en", 3, 1.0)
    url = "https://bomb.example/media.docx"
    bomb = spark.createDataFrame(
        [(url, None, _zip_streamed("word/media/image9.png", 64, base=base),
          None, None)], PAGES_SCHEMA)
    pages = synth_pages_df(spark, 80, giant_every=0).cache()

    def run(df):
        plan = run_extraction(df, partitions=4)
        rows = plan.results.drop("elapsed_us").collect()
        assets = sorted((r["url"], r["asset_name"], r["page"],
                         hashlib.sha256(r["data"]).digest())
                        for r in plan.assets.collect())
        return rows, assets

    clean_rows, clean_assets = run(pages)
    rows, assets = run(pages.unionByName(bomb))
    by_url = {r["url"]: r for r in rows}
    assert len(rows) == len(by_url) == len(clean_rows) + 1
    got = by_url.pop(url)
    assert got["status"] == "failed"
    assert got["error"].startswith("DecompressionLimit: ")
    assert by_url == {r["url"]: r for r in clean_rows}
    assert assets == clean_assets
    pages.unpersist()


# ----------------------------------------------------------- tooling guard

# Callees that expand bytes.  Writers (compress, mode "w") stay allowed.
_BANNED = re.compile(
    r"(?:\w+\.)*(?:decompressobj|BZ2Decompressor|LZMADecompressor|BZ2File|"
    r"LZMAFile)|(?:zlib|gzip|bz2|lzma)\.(?:decompress|open)")


def _mode(call):
    for kw in call.keywords:
        if kw.arg == "mode":
            return ast.literal_eval(kw.value)
    if len(call.args) > 1 and isinstance(call.args[1], ast.Constant):
        return call.args[1].value
    return None


def _expands(call):
    callee = ast.unparse(call.func)
    mode = _mode(call)
    if callee.endswith("GzipFile"):
        return mode is None or "r" in mode
    if callee == "tarfile.open":            # "r" alone is "r:*"
        return mode is None or mode.startswith("r") and (
            mode in ("r", "r:*", "r|*") or re.search("gz|bz2|xz", mode))
    return bool(_BANNED.fullmatch(callee))


def _zipfile_names(tree):
    """Names bound to a ``zipfile.ZipFile`` in a module: ``with ... as``
    targets, assignments and parameters annotated with it."""
    def is_zipfile(node):
        return isinstance(node, ast.Call) and ast.unparse(node.func) in (
            "zipfile.ZipFile", "ZipFile")

    names = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.withitem) and is_zipfile(node.context_expr):
            if isinstance(node.optional_vars, ast.Name):
                names.add(node.optional_vars.id)
        elif isinstance(node, ast.Assign) and is_zipfile(node.value):
            names.update(t.id for t in node.targets
                         if isinstance(t, ast.Name))
        elif isinstance(node, ast.arg) and node.annotation is not None:
            if "ZipFile" in ast.unparse(node.annotation):
                names.add(node.arg)
    return names


def _violations(tree):
    zfs = _zipfile_names(tree)
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        if _expands(node):
            yield node.lineno, ast.unparse(node.func)
        elif (isinstance(node.func, ast.Attribute)
              and node.func.attr in ("read", "open")
              and isinstance(node.func.value, ast.Name)
              and node.func.value.id in zfs):
            yield node.lineno, f"zip member {node.func.attr}"


def test_no_expansion_outside_the_bounded_module():
    exempt = {PACKAGE / "extractors" / "bounded.py",
              PACKAGE / "data" / "synth.py"}      # synth only writes zips
    found = [f"{path.relative_to(PACKAGE)}:{line}: {what}"
             for path in sorted(PACKAGE.rglob("*.py")) if path not in exempt
             for line, what in _violations(
                 ast.parse(path.read_text(encoding="utf-8")))]
    assert found == []


def test_guard_sees_what_it_bans():
    src = ("import gzip, tarfile, zipfile, zlib\n"
           "def f(zf: zipfile.ZipFile, b):\n"
           "    zlib.decompressobj().decompress(b)\n"
           "    with zipfile.ZipFile(b) as z:\n"
           "        z.read('x')\n"
           "    gzip.GzipFile(fileobj=b, mode='wb')\n"
           "    tarfile.open(fileobj=b, mode='r|')\n"
           "    tarfile.open(b)\n"
           "    return zf.open('y'), zlib.decompress(b), gzip.GzipFile(b)\n")
    found = sorted(_violations(ast.parse(src)))
    assert found == [(3, "zlib.decompressobj"), (5, "zip member read"),
                     (8, "tarfile.open"), (9, "gzip.GzipFile"),
                     (9, "zip member open"), (9, "zlib.decompress")]
