"""Wikipedia multistream dump source (sources/wikidump.py) and the
wikitext → markdown converter (extractors/wikitext.py)."""

import bz2

import pytest

from document_convert_to__markdown_spark.extractors.bounded import (
    decompress_chunks,
)
from document_convert_to__markdown_spark.extractors.wikitext import (
    wikitext_to_markdown,
)
from document_convert_to__markdown_spark.sources.wikidump import (
    MAX_DECOMPRESSED_BYTES,
    build_wikidump,
    fetch_pages_by_index,
    iter_dump_pages,
    read_multistream_index,
    read_wikidump_pages,
)

ROWS = [(f"Doc {i}", 0, i + 1, "2020-01-02T03:04:05Z",
         f"Body of '''page {i}''' with [[links]] & <chars>.")
        for i in range(9)]
ROWS.append(("Talk:Noise", 1, 500, "2020-01-02T03:04:05Z", "talk"))
ROWS.append(("Redir", 0, 501, "2020-01-02T03:04:05Z",
             "#REDIRECT [[Doc 0]]", "Doc 0"))


def _bz2_chunks(data):
    """The dump scan's decode: multistream, under the per-file ceiling."""
    return decompress_chunks("bz2", data, MAX_DECOMPRESSED_BYTES)


class TestPureParse:
    def test_build_parse_roundtrip(self):
        dump, index = build_wikidump(ROWS, pages_per_stream=2)
        pages = list(iter_dump_pages(_bz2_chunks(dump)))
        assert len(pages) == len(ROWS)
        by_title = {p[0]: p for p in pages}
        assert by_title["Doc 3"][5] == ROWS[3][4]
        assert by_title["Doc 3"][2] == 4
        assert by_title["Redir"][3] == "Doc 0"  # redirect target
        assert all(p[6] == "ok" for p in pages)
        # the index maps every page to a stream that actually starts
        # with a bz2 magic
        for line in index.strip().splitlines():
            off = int(line.split(":", 1)[0])
            assert dump[off:off + 3] == b"BZh"

    def test_truncated_dump_salvages_prefix(self):
        dump, _ = build_wikidump(ROWS, pages_per_stream=2)
        sal = list(iter_dump_pages(_bz2_chunks(dump[:len(dump) * 2 // 3])))
        assert 0 < len(sal) < len(ROWS)
        assert all(p[6] == "ok" for p in sal)

    def test_never_raises_on_any_prefix(self):
        dump, _ = build_wikidump(ROWS[:4], pages_per_stream=2)
        step = max(1, len(dump) // 80)
        for cut in range(0, len(dump), step):
            list(iter_dump_pages(_bz2_chunks(dump[:cut])))

    def test_bomb_ceiling(self):
        big = bz2.compress(b"<x>" + b"\x00" * (1 << 20) + b"</x>")
        out = b"".join(decompress_chunks("bz2", big, 1000))
        assert len(out) == 1000

    def test_non_bz2_yields_nothing(self):
        assert list(_bz2_chunks(b"\xff" * 512)) == []


class TestSparkDump:
    @pytest.fixture()
    def dump_dir(self, tmp_path):
        dump, index = build_wikidump(ROWS, pages_per_stream=2)
        (tmp_path / "fixture-multistream.xml.bz2").write_bytes(dump)
        (tmp_path / "fixture-multistream-index.txt.bz2").write_bytes(
            bz2.compress(index.encode()))
        return tmp_path

    def test_read_pages_ns0_default(self, spark, dump_dir):
        df = read_wikidump_pages(
            spark, str(dump_dir / "fixture-multistream.xml.bz2"))
        rows = {r["title"]: r for r in df.collect()}
        assert "Talk:Noise" not in rows          # ns filter
        assert len(rows) == 10                   # 9 docs + redirect
        assert rows["Doc 5"]["text"] == ROWS[5][4]
        assert rows["Redir"]["redirect"] == "Doc 0"
        assert rows["Doc 5"]["url"] == "wiki://Doc_5"

    def test_read_pages_all_namespaces(self, spark, dump_dir):
        df = read_wikidump_pages(
            spark, str(dump_dir / "fixture-multistream.xml.bz2"),
            namespaces=None)
        assert df.count() == len(ROWS)

    def test_index_relation(self, spark, dump_dir):
        idx = read_multistream_index(
            spark,
            str(dump_dir / "fixture-multistream-index.txt.bz2"))
        rows = idx.collect()
        assert len(rows) == len(ROWS)
        assert all(r["offset"] is not None and r["page_id"] is not None
                   for r in rows)
        # titles containing ':' survive the limited split
        assert any(r["title"] == "Talk:Noise" for r in rows)

    def test_selective_fetch_equals_full_scan(self, spark, dump_dir):
        dump_path = str(dump_dir / "fixture-multistream.xml.bz2")
        idx = read_multistream_index(
            spark,
            str(dump_dir / "fixture-multistream-index.txt.bz2"))
        wanted = idx.filter("page_id in (2, 5, 501)")
        got = fetch_pages_by_index(spark, wanted, dump_path)
        full = read_wikidump_pages(spark, dump_path, namespaces=None) \
            .filter("page_id in (2, 5, 501)")
        assert sorted(map(tuple, got.collect())) == \
            sorted(map(tuple, full.collect()))
        assert got.count() == 3


class TestWikitext:
    def test_core_markup(self):
        md = wikitext_to_markdown(
            "'''B''' and ''i'' and '''''bi'''''.\n"
            "== H ==\n* a\n* b '''c'''\n# one\n"
            "[[T|label]] [[Plain]] [https://x.org ext]\n"
            "{{infobox|a={{nested}}}}\n{| table |}\n"
            "<ref>gone</ref><!-- gone -->tail")
        assert "**B**" in md and "*i*" in md and "***bi***" in md
        assert "## H" in md
        assert "- a" in md and "- b **c**" in md and "1. one" in md
        assert "label" in md and "Plain" in md and "ext" in md
        assert "infobox" not in md and "table" not in md
        assert "gone" not in md and "tail" in md

    def test_media_links_dropped_with_nested_caption(self):
        md = wikitext_to_markdown(
            "before [[File:X.png|thumb|cap with [[link]]]] after")
        assert md.strip() == "before  after"

    def test_unclosed_template_truncates_not_leaks(self):
        md = wikitext_to_markdown("keep {{unclosed | junk " * 1)
        assert md.strip() == "keep"

    def test_total_on_junk(self):
        import random
        rng = random.Random(7)
        for _ in range(100):
            s = "".join(rng.choice("[]{}|'=*#;:<>ab \n")
                        for _ in range(120))
            wikitext_to_markdown(s)  # must not raise


class TestCorpusBridge:
    def test_wikidump_to_corpus_shape(self, spark, tmp_path):
        from document_convert_to__markdown_spark.sources.wikidump import (
            wikidump_to_corpus,
        )

        dump, _ = build_wikidump(ROWS, pages_per_stream=3)
        p = tmp_path / "d-multistream.xml.bz2"
        p.write_bytes(dump)
        corpus = wikidump_to_corpus(read_wikidump_pages(spark, str(p)))
        rows = corpus.collect()
        # 9 articles; the redirect and the talk page are excluded
        assert len(rows) == 9
        assert corpus.columns == ["url", "warc_ts", "html", "text",
                                  "lang"]
        one = next(r for r in rows if r["url"] == "wiki://Doc_2")
        md = bytes(one["html"]).decode()
        assert "**page 2**" in md and "links" in md  # converted
        assert one["warc_ts"] is not None


class TestReviewRegressions:
    def test_null_ns_ok_pages_survive_default_filter(self, spark,
                                                     tmp_path):
        # a page with no <ns> element (older export schema) must not
        # be silently dropped by the default namespace filter
        import bz2 as _bz2

        frag = (b"<mediawiki><page><title>Old</title><id>7</id>"
                b"<revision><timestamp>2020-01-01T00:00:00Z"
                b"</timestamp><text>body</text></revision></page>"
                b"</mediawiki>")
        (tmp_path / "old-multistream.xml.bz2").write_bytes(
            _bz2.compress(frag))
        df = read_wikidump_pages(
            spark, str(tmp_path / "old-multistream.xml.bz2"))
        rows = df.collect()
        assert len(rows) == 1
        assert rows[0]["title"] == "Old" and rows[0]["ns"] is None

    def test_fetch_accounts_for_unrecoverable_pages(self, spark,
                                                    tmp_path):
        dump, index = build_wikidump(ROWS, pages_per_stream=2)
        dp = tmp_path / "f-multistream.xml.bz2"
        dp.write_bytes(dump)
        # wanted ids with one bogus offset (points at garbage)
        wanted = spark.createDataFrame(
            [(int(index.splitlines()[0].split(":")[0]), 1),
             (len(dump) - 4, 999)],          # mid-stream: not a BZh
            "offset long, page_id long")
        got = fetch_pages_by_index(spark, wanted, str(dp))
        by_id = {r["page_id"]: r["status"] for r in got.collect()}
        assert by_id[1] == "ok"
        assert by_id[999] == "failed_fetch"   # accounted, not dropped

    def test_heading_requires_closing_equals(self):
        assert "## H" in wikitext_to_markdown("== H ==")
        out = wikitext_to_markdown("==> see the table below")
        assert "##" not in out and "see the table" in out

    def test_unterminated_page_is_bounded_and_accounted(self):
        chunks = [b"<page><title>X</title>" + b"A" * (1 << 20)]
        rows = list(iter_dump_pages(iter(chunks),
                                    max_page_bytes=1 << 20))
        assert rows == [(None, None, None, None, None, None,
                         "failed_page")]

    def test_slash_bearing_self_closing_ref_keeps_prose(self):
        # a '/' inside a self-closing ref's attribute must not let the
        # paired <ref>...</ref> branch swallow prose up to the next </ref>
        md = wikitext_to_markdown(
            'A<ref name="x/y"/> keep this. B<ref>cite</ref> end')
        assert md.strip() == "A keep this. B end"

    def test_link_nested_in_kept_label_is_converted(self):
        assert wikitext_to_markdown("[[A|x [[B]] y]]").strip() == "x B y"
        assert wikitext_to_markdown("[[A|x [[B|c]] y]]").strip() == \
            "x c y"

    def test_directory_read_skips_index_keeps_split_dumps(self, spark,
                                                          tmp_path):
        dump, index = build_wikidump(ROWS, pages_per_stream=2)
        (tmp_path / "w-multistream.xml.bz2").write_bytes(dump)
        (tmp_path / "w-multistream-index.txt.bz2").write_bytes(
            bz2.compress(index.encode()))
        (tmp_path / "w-multistream1.xml-p1p41242.bz2").write_bytes(dump)
        rows = read_wikidump_pages(spark, str(tmp_path),
                                   namespaces=None).collect()
        # both dumps read; the index file yields no spurious status row
        assert len(rows) == 2 * len(ROWS)
        assert {r["status"] for r in rows} == {"ok"}

    def test_zero_page_dump_is_a_status_row(self, spark, tmp_path):
        # the status row once had 7 values for 8 columns and failed the
        # whole read instead of accounting for the empty file
        (tmp_path / "e-multistream.xml.bz2").write_bytes(
            bz2.compress(b"<mediawiki></mediawiki>"))
        rows = read_wikidump_pages(spark, str(tmp_path)).collect()
        assert [(r["title"], r["text"], r["status"]) for r in rows] == \
            [(None, None, "skipped_empty_dump")]
