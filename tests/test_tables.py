"""The table-name grammar of ``sources.tables``: one target string reads,
writes and probes a table, and names each input source the CLI reads."""

import glob
import os
import shutil

import pytest

from document_convert_to__markdown_spark.sources.tables import (
    is_catalog,
    read_pages,
    table_exists,
    table_location,
    write_table,
)


@pytest.mark.parametrize("target,catalog,location", [
    ("/data/pages", False, "/data/pages"),
    ("hdfs://nn/data/pages", False, "hdfs://nn/data/pages"),
    ("file:/data/pages", False, "file:/data/pages"),
    ("snapshot:/out/results", False, "/out/results"),
    ("warc:/crawl/*.warc.gz", False, "/crawl/*.warc.gz"),
    ("iceberg:cat.db.pages", True, "cat.db.pages"),
    ("table:pages", True, "pages"),
])
def test_target_kinds(target, catalog, location):
    assert is_catalog(target) is catalog
    assert table_location(target) == location


def _ids(df):
    return sorted(r["id"] for r in df.select("id").collect())


@pytest.mark.spark
@pytest.mark.parametrize("prefix", ["", "snapshot:"],
                         ids=["parquet", "snapshot"])
def test_write_append_read_exists(spark, tmp_path, prefix):
    target = prefix + str(tmp_path / "t")
    assert not table_exists(spark, target)
    write_table(spark.range(3), target)
    assert table_exists(spark, target)
    assert _ids(read_pages(spark, target)) == [0, 1, 2]
    write_table(spark.range(3, 5), target, "append")
    assert _ids(read_pages(spark, target)) == [0, 1, 2, 3, 4]
    write_table(spark.range(7, 8), target)
    assert _ids(read_pages(spark, target)) == [7]


@pytest.mark.spark
def test_bad_mode_and_source_targets_are_refused(spark, tmp_path):
    df = spark.range(1)
    with pytest.raises(ValueError, match="mode"):
        write_table(df, str(tmp_path / "t"), "ignore")
    with pytest.raises(ValueError, match="read-only"):
        write_table(df, f"warc:{tmp_path}/t")
    with pytest.raises(ValueError, match="read-only"):
        table_exists(spark, f"files:{tmp_path}")


@pytest.mark.spark
def test_parquet_append_sweeps_stale_temporary(spark, tmp_path):
    """Task output a killed job commit left under ``_temporary`` is
    dropped by the next append, not promoted by its commit."""
    target = str(tmp_path / "t")
    write_table(spark.range(2), target)
    scratch = str(tmp_path / "scratch")
    spark.range(100, 110).coalesce(1).write.parquet(scratch)
    task_dir = f"{target}/_temporary/0/task_20250101000000_0001_m_000000"
    os.makedirs(task_dir)
    for part in glob.glob(f"{scratch}/part-*"):
        shutil.copy(part, task_dir)

    write_table(spark.range(2, 4), target, "append")
    assert _ids(read_pages(spark, target)) == [0, 1, 2, 3]
    assert not os.path.isdir(f"{target}/_temporary")


# --- input sources: each equals the relation the CLI used to build -------

HTML = [(f"https://example.test/p{i}",
         f"<html><body><h1>Page {i}</h1><p>text {i}</p></body></html>"
         .encode()) for i in range(5)]


def _files(spark, tmp_path):
    for i, (_url, html) in enumerate(HTML):
        (tmp_path / f"doc{i}.html").write_bytes(html)
    return str(tmp_path)


def _warc(spark, tmp_path):
    from document_convert_to__markdown_spark.sources.warc import write_warc

    with open(tmp_path / "crawl.warc.gz", "wb") as fh:
        write_warc(HTML, fh, compress=True)
    return str(tmp_path)


def _wet(spark, tmp_path):
    from document_convert_to__markdown_spark.sources.warc import write_wet

    with open(tmp_path / "crawl.wet.gz", "wb") as fh:
        write_wet([(u, f"plain text of {u}") for u, _ in HTML], fh,
                  compress=True)
    return str(tmp_path)


def _archive(spark, tmp_path):
    from document_convert_to__markdown_spark.sources.archive import (
        pack_tar_shards,
    )

    df = spark.createDataFrame(HTML, "url string, html binary")
    pack_tar_shards(df, str(tmp_path), target_bytes=200, num_tasks=2).collect()
    return str(tmp_path)


def _wikidump(spark, tmp_path):
    from document_convert_to__markdown_spark.sources.wikidump import (
        build_wikidump,
    )

    rows = [(f"Doc {i}", 0, i + 1, "2020-01-02T03:04:05Z",
             f"Body of '''page {i}''' with [[links]].") for i in range(4)]
    rows.append(("Redir", 0, 9, "2020-01-02T03:04:05Z",
                 "#REDIRECT [[Doc 0]]", "Doc 0"))
    dump, _index = build_wikidump(rows, pages_per_stream=2)
    (tmp_path / "fixture-multistream.xml.bz2").write_bytes(dump)
    return str(tmp_path)


def _old_cli_files(spark, path):
    from document_convert_to__markdown_spark.sources import (
        read_pages_from_files,
    )
    return read_pages_from_files(spark, path)


def _old_cli_warc(spark, path):
    from document_convert_to__markdown_spark.sources.warc import (
        read_warc_pages,
    )
    return read_warc_pages(spark, path)


def _old_cli_wet(spark, path):
    from pyspark.sql import functions as F

    from document_convert_to__markdown_spark.sources.warc import (
        read_wet_pages,
    )
    wet = read_wet_pages(spark, path)
    return wet.select(
        "url", "warc_ts",
        F.encode("text", "utf-8").alias("html"),
        F.lit(None).cast("string").alias("text"),
        F.lit(None).cast("string").alias("lang"))


def _old_cli_archive(spark, path):
    from pyspark.sql import functions as F

    from document_convert_to__markdown_spark.sources.archive import (
        read_archive_docs,
    )
    docs = read_archive_docs(spark, path)
    return docs.select(
        "url",
        F.lit(None).cast("timestamp").alias("warc_ts"),
        "html",
        F.lit(None).cast("string").alias("text"),
        F.lit(None).cast("string").alias("lang"))


def _old_cli_wikidump(spark, path):
    from document_convert_to__markdown_spark.sources.wikidump import (
        read_wikidump_pages,
        wikidump_to_corpus,
    )
    return wikidump_to_corpus(read_wikidump_pages(spark, path))


SOURCES = {
    "files": (_files, _old_cli_files),
    "warc": (_warc, _old_cli_warc),
    "wet": (_wet, _old_cli_wet),
    "archive": (_archive, _old_cli_archive),
    "wikidump": (_wikidump, _old_cli_wikidump),
}


def _url_html(df):
    return sorted((r["url"], None if r["html"] is None else bytes(r["html"]))
                  for r in df.select("url", "html").collect())


@pytest.mark.spark
@pytest.mark.parametrize("kind", sorted(SOURCES))
def test_source_prefix_reads_what_the_cli_built(spark, tmp_path, kind):
    build, old_cli = SOURCES[kind]
    path = build(spark, tmp_path)
    got = _url_html(read_pages(spark, f"{kind}:{path}"))
    assert got
    assert all(html for _url, html in got)
    assert got == _url_html(old_cli(spark, path))
