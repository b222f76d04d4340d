"""Archive bundle source/sink (sources/archive.py).

Covers: zip & tar & tar.gz explode, member-extension-free payloads,
size gate, corrupt-tail salvage, never-raise on arbitrary prefixes,
deterministic shard packing, and the pack → read round trip.
"""

import gzip
import io
import os
import tarfile
import zipfile

import pytest

from document_convert_to__markdown_spark.sources.archive import (
    iter_archive_members,
    member_name_url,
    pack_tar_shards,
    read_archive_docs,
    shard_member_name,
)


def _zip_bytes(members, extra_dirs=()):
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        for d in extra_dirs:
            zf.writestr(zipfile.ZipInfo(d + "/"), b"")
        for name, data in members:
            zf.writestr(name, data)
    return buf.getvalue()


def _tar_bytes(members, gz=False, comp=None):
    import bz2
    import lzma

    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w") as tf:
        for name, data in members:
            info = tarfile.TarInfo(name)
            info.size = len(data)
            tf.addfile(info, io.BytesIO(data))
    raw = buf.getvalue()
    if gz or comp == "gz":
        return gzip.compress(raw, mtime=0)
    if comp == "bz2":
        return bz2.compress(raw)
    if comp == "xz":
        return lzma.compress(raw)
    return raw


MEMBERS = [
    ("docs/a.html", b"<html><body>alpha</body></html>"),
    ("docs/b.bin", bytes(range(256))),
    ("empty.txt", b""),
]


class TestIterArchiveMembers:
    @pytest.mark.parametrize("blob", [
        _zip_bytes(MEMBERS, extra_dirs=("docs",)),
        _tar_bytes(MEMBERS),
        _tar_bytes(MEMBERS, gz=True),
        _tar_bytes(MEMBERS, comp="bz2"),
        _tar_bytes(MEMBERS, comp="xz"),
    ], ids=["zip", "tar", "tar.gz", "tar.bz2", "tar.xz"])
    def test_roundtrip_members(self, blob):
        got = {m: (d, s)
               for m, d, _sz, s in iter_archive_members(blob, "t")}
        assert set(got) == {m for m, _ in MEMBERS}
        for name, data in MEMBERS:
            assert got[name] == (data, "ok")

    def test_zip_size_gate_without_inflation(self):
        # Declared-size gate: an over-limit member is skipped from the
        # central directory alone (its bytes are never inflated).
        blob = _zip_bytes([("big.bin", b"x" * 1024)])
        rows = list(iter_archive_members(blob, "t", max_member_bytes=100))
        assert rows == [("big.bin", None, 1024, "skipped_too_large")]

    def test_tar_size_gate(self):
        blob = _tar_bytes([("big.bin", b"y" * 1024), ("ok.txt", b"z")])
        rows = list(iter_archive_members(blob, "t", max_member_bytes=100))
        assert ("big.bin", None, 1024, "skipped_too_large") in rows
        assert ("ok.txt", b"z", 1, "ok") in rows

    def test_tar_corrupt_tail_salvages_prefix(self):
        good = _tar_bytes([("a.txt", b"A" * 600), ("b.txt", b"B" * 600)])
        # Damage the second member's header block (first header is at 0,
        # data 512..1124ish; second header follows the padded data).
        cut = 512 + 1024  # inside/at the second header region
        blob = good[:cut] + b"\xff" * 512
        rows = list(iter_archive_members(blob, "t"))
        names = [m for m, _, _, s in rows if s == "ok"]
        assert "a.txt" in names and "b.txt" not in names
        # the truncation is queryable, not silent
        assert rows[-1][3] == "failed_archive_tail"

    def test_corrupt_blob_is_failed_archive(self):
        rows = list(iter_archive_members(b"\xff" * 2048, "t"))
        assert len(rows) == 1
        assert rows[0][3].startswith("failed_archive")

    def test_empty_tar_is_skipped_empty(self):
        rows = list(iter_archive_members(_tar_bytes([]), "t"))
        assert rows == [(None, None, None, "skipped_empty_archive")]

    @pytest.mark.parametrize("base", [
        _zip_bytes(MEMBERS), _tar_bytes(MEMBERS), _tar_bytes(MEMBERS, gz=True),
        _tar_bytes(MEMBERS, comp="bz2"), _tar_bytes(MEMBERS, comp="xz"),
    ], ids=["zip", "tar", "tar.gz", "tar.bz2", "tar.xz"])
    def test_never_raises_on_any_prefix(self, base):
        # The never-raise contract, replayed over every byte prefix
        # (the same fuzz shape the EXIF/audio-tag parsers are held to).
        step = max(1, len(base) // 97)
        for cut in range(0, len(base), step):
            for row in iter_archive_members(base[:cut], "t"):
                assert row[3]  # has a status; no exception escaped

    def test_total_payload_ceiling_zip(self):
        blob = _zip_bytes([(f"m{i}", b"z" * 400) for i in range(10)])
        rows = list(iter_archive_members(blob, "t", max_total_bytes=1000))
        oks = [r for r in rows if r[3] == "ok"]
        assert 0 < len(oks) < 10
        assert rows[-1][3] == "failed_archive_ceiling"

    def test_total_payload_ceiling_tar(self):
        blob = _tar_bytes([(f"m{i}", b"z" * 400) for i in range(10)])
        rows = list(iter_archive_members(blob, "t", max_total_bytes=1000))
        assert rows[-1][3] == "failed_archive_ceiling"

    def test_member_name_roundtrip(self):
        urls = ["https://ex.com/a b?q=1&x=%2F", "archive://z!/nested/p",
                "plain", "ünïcode/→path"]
        for u in urls:
            assert member_name_url(shard_member_name(u)) == u
            assert "/" not in shard_member_name(u)


class TestSparkArchive:
    def test_read_archive_docs_mixed_dir(self, spark, tmp_path):
        root = tmp_path / "bundles"
        root.mkdir()
        (root / "one.zip").write_bytes(_zip_bytes(MEMBERS))
        (root / "two.tar").write_bytes(_tar_bytes([("c.txt", b"C")]))
        (root / "three.tar.gz").write_bytes(
            _tar_bytes([("d.txt", b"D")], gz=True))
        (root / "four.tar.bz2").write_bytes(
            _tar_bytes([("e.txt", b"E")], comp="bz2"))
        (root / "five.tar.xz").write_bytes(
            _tar_bytes([("f.txt", b"F")], comp="xz"))
        df = read_archive_docs(spark, str(root))
        rows = {(r["archive"], r["member"]): (bytes(r["html"])
                                              if r["html"] is not None
                                              else None, r["status"])
                for r in df.collect()}
        assert rows[("one.zip", "docs/a.html")] == (MEMBERS[0][1], "ok")
        assert rows[("two.tar", "c.txt")] == (b"C", "ok")
        assert rows[("three.tar.gz", "d.txt")] == (b"D", "ok")
        assert rows[("four.tar.bz2", "e.txt")] == (b"E", "ok")
        assert rows[("five.tar.xz", "f.txt")] == (b"F", "ok")
        assert len(rows) == 7

    def test_corrupt_archive_yields_status_row(self, spark, tmp_path):
        root = tmp_path / "bad"
        root.mkdir()
        (root / "junk.tar").write_bytes(b"\x00" * 100 + b"\xff" * 100)
        (root / "fine.zip").write_bytes(_zip_bytes([("x", b"X")]))
        df = read_archive_docs(spark, str(root))
        by_status = {r["archive"]: r["status"] for r in df.collect()}
        assert by_status["fine.zip"] == "ok"
        assert by_status["junk.tar"].startswith("failed_archive") or \
            by_status["junk.tar"] == "skipped_empty_archive"
        # every input file produced at least one row
        assert set(by_status) == {"junk.tar", "fine.zip"}

    def test_pack_then_read_roundtrip(self, spark, tmp_path):
        docs = [(f"https://ex.com/d{i:03d}", (f"payload-{i}" * 7).encode())
                for i in range(40)]
        df = spark.createDataFrame(docs, "url string, html binary")
        out = str(tmp_path / "shards")
        manifest = pack_tar_shards(
            df, out, target_bytes=500, num_tasks=4).collect()
        assert sum(m["n_members"] for m in manifest) == 40
        assert all(m["n_members"] >= 1 for m in manifest)
        # every shard except possibly the last of a range respects the
        # bound unless a single member exceeds it (none does here)
        assert all(m["raw_bytes"] <= 500 or m["n_members"] == 1
                   for m in manifest)
        # min/max ranges of distinct shards never interleave
        spans = sorted((m["min_url"], m["max_url"]) for m in manifest)
        for (_, hi), (lo2, _) in zip(spans, spans[1:]):
            assert hi < lo2

        back = read_archive_docs(spark, out, path_glob_filter="*.tar")
        got = {member_name_url(r["member"]): bytes(r["html"])
               for r in back.collect()}
        assert got == dict(docs)

    def test_pack_long_urls_roundtrip(self, spark, tmp_path):
        # percent-encoded urls exceed USTAR's 100-char name field —
        # PAX long-name headers must round-trip them intact
        docs = [("https://example.com/" + "p" * 180 + f"/{i}",
                 f"body{i}".encode()) for i in range(8)]
        df = spark.createDataFrame(docs, "url string, html binary")
        out = str(tmp_path / "long")
        pack_tar_shards(df, out, target_bytes=10 ** 6,
                        num_tasks=2).collect()
        back = read_archive_docs(spark, out, path_glob_filter="*.tar")
        got = {member_name_url(r["member"]): bytes(r["html"])
               for r in back.filter("status='ok'").collect()}
        assert got == dict(docs)

    def test_pack_is_deterministic(self, spark, tmp_path):
        docs = [(f"u{i:02d}", bytes([i]) * 50) for i in range(20)]
        df = spark.createDataFrame(docs, "url string, html binary")
        outs = []
        for d in ("s1", "s2"):
            out = str(tmp_path / d)
            pack_tar_shards(df, out, target_bytes=200,
                            num_tasks=2).collect()
            outs.append({f: open(os.path.join(out, f), "rb").read()
                         for f in sorted(os.listdir(out))})
        assert outs[0] == outs[1]
