"""One name for every table: a target string → read, write, exists.

No other module parses a target's prefix.  The grammar:

- ``iceberg:<catalog.db.table>`` / ``table:<name>`` — a catalog table
  (production's Iceberg, north rule; the sandbox has no catalog jars);
- ``snapshot:<root>`` — the snapshot-manifest table (``snapshot.py``);
- ``files:`` / ``warc:`` / ``wet:`` / ``archive:`` / ``wikidump:`` +
  ``<glob>`` — read-only sources bridged onto the pages relation;
- anything else — a parquet path/glob.

A table target plus ``/<name>`` names a table under it, so one
``out_dir`` such as ``snapshot:/out`` selects the format of every table
a job writes.  Scans keep Catalyst column pruning and predicate
pushdown: callers select only (url, html) for extraction, and filters
on ``lang``/``warc_ts`` prune partitions/row-groups before any bytes
move (SURVEY.md §4.2 "free" list).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import snapshot
from .archive import read_archive_docs
from .warc import read_warc_pages, read_wet_pages
from .wikidump import read_wikidump_pages, wikidump_to_corpus

_CATALOG = ("iceberg", "table")
_SOURCES = ("files", "warc", "wet", "archive", "wikidump")
_KINDS = (*_CATALOG, "snapshot", *_SOURCES)


def _split(target: str) -> tuple[str, str]:
    """``(kind, location)``; a bare path is ``("parquet", path)``."""
    kind, sep, location = target.partition(":")
    return (kind, location) if sep and kind in _KINDS else ("parquet", target)


def _table(target: str) -> tuple[str, str]:
    kind, location = _split(target)
    if kind in _SOURCES:
        raise ValueError(f"{target!r} names a read-only source, not a table")
    return kind, location


def is_catalog(target: str) -> bool:
    """Whether ``target`` names a catalog table."""
    return _split(target)[0] in _CATALOG


def table_location(target: str) -> str:
    """The path or name after the prefix: ``snapshot:/out`` → ``/out``."""
    return _split(target)[1]


def read_pages(spark: SparkSession, source: str) -> DataFrame:
    """Read the table or source that ``source`` names."""
    kind, location = _split(source)
    return _READERS[kind](spark, location)


def write_table(df: DataFrame, target: str, mode: str = "overwrite") -> None:
    """Commit ``df`` to ``target`` with ``mode`` ``overwrite`` or ``append``.

    A parquet append first sweeps a stale ``_temporary``: a SIGKILL
    during a previous run's v1 job commit (task files are promoted one
    rename at a time) leaves committed-but-not-promoted task outputs
    under ``target/_temporary/<jobAttempt>/task_*``, and this append's
    own job commit would promote them too, duplicating every row the
    killed run had finished but not promoted.  The writer owns the
    table (single-writer, as ``snapshot`` states), so any scratch there
    is garbage.
    """
    if mode not in ("overwrite", "append"):
        raise ValueError(f"mode must be 'overwrite' or 'append', not {mode!r}")
    kind, location = _table(target)
    if kind in _CATALOG:
        writer = df.writeTo(location)
        if mode == "append":
            writer.append()
        else:
            writer.using("iceberg").createOrReplace()
    elif kind == "snapshot":
        if mode == "append":
            snapshot.commit_append(df, location)
        else:
            snapshot.commit_overwrite(df, location)
    else:
        if mode == "append":
            fs, tmp = _hadoop(df.sparkSession, f"{location}/_temporary")
            if fs.exists(tmp):
                fs.delete(tmp, True)
        df.write.mode(mode).parquet(location)


def table_exists(spark: SparkSession, target: str) -> bool:
    """Positive missing-table probe.

    Existence is checked directly instead of catching read exceptions:
    a caught AnalysisException / FileNotFoundError can also mean a
    *corrupt* table (renamed column, missing snapshot json), and
    treating that as 'nothing there' silently redoes finished work and
    appends duplicate rows.  With the probe, any read error on an
    existing table propagates.
    """
    kind, location = _table(target)
    if kind in _CATALOG:
        return spark.catalog.tableExists(location)
    if kind == "snapshot":
        return snapshot.current_version(location) > 0
    fs, path = _hadoop(spark, location)
    return fs.exists(path)


def _hadoop(spark: SparkSession, path: str):
    """``(filesystem, path)`` of a Hadoop FS path, any scheme the
    session can read."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def read_pages_from_files(spark: SparkSession, path: str,
                          lang: str = "") -> DataFrame:
    """Directory/glob of loose files → pages DataFrame (``files:``).

    The reference's primary input is a directory walked with ``rglob``
    (main.py:57-89); this is that entry point at Spark scale, using the
    built-in ``binaryFile`` source: file path becomes the url (document
    identity), modification time the crawl timestamp, raw bytes the
    payload.  Format still comes from sniffing, never the extension.
    """
    binf = spark.read.format("binaryFile") \
        .option("recursiveFileLookup", "true").load(path)
    return binf.select(
        F.col("path").alias("url"),
        F.col("modificationTime").alias("warc_ts"),
        F.col("content").alias("html"),
        F.lit("").alias("text"),
        F.lit(lang).alias("lang"),
    )


def _read_wet(spark: SparkSession, path: str) -> DataFrame:
    # WET payloads are already-extracted plain text: they ride the pages
    # relation as text/plain bodies, through the text extractor's
    # normalization + cleanup chain.
    return read_wet_pages(spark, path).select(
        "url", "warc_ts",
        F.encode("text", "utf-8").alias("html"),
        F.lit(None).cast("string").alias("text"),
        F.lit(None).cast("string").alias("lang"))


def _read_archive(spark: SparkSession, path: str) -> DataFrame:
    # Members are keyed by their synthetic archive url; non-ok members
    # (oversized, corrupt bundles) keep null html and surface as status
    # rows through A3 validation, so every member stays accounted for.
    return read_archive_docs(spark, path).select(
        "url",
        F.lit(None).cast("timestamp").alias("warc_ts"),
        "html",
        F.lit(None).cast("string").alias("text"),
        F.lit(None).cast("string").alias("lang"))


_READERS = {
    "parquet": lambda spark, path: spark.read.parquet(path),
    **dict.fromkeys(_CATALOG, lambda spark, name: spark.read.table(name)),
    "snapshot": snapshot.read,
    "files": read_pages_from_files,
    "warc": read_warc_pages,
    "wet": _read_wet,
    "archive": _read_archive,
    "wikidump": lambda spark, path: wikidump_to_corpus(
        read_wikidump_pages(spark, path)),
}
