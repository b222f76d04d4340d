"""spark-submit entry point.

Replaces the reference's two CLIs (/root/reference/main.py:211-299 and
src/converter.py:806-881 — SURVEY.md §3.1/§3.3) with a single job:

    spark-submit --py-files doc2md.zip -m document_convert_to__markdown_spark.cli \\
        --input-table iceberg:warehouse.pages --output /out --run-id r1 [--resume]

Sandbox usage (local mode, synthetic corpus):

    python -m document_convert_to__markdown_spark.cli \\
        --n-docs 5000 --output /tmp/out --cores 8
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description="doc→markdown extraction job")
    parser.add_argument("--input-table", default=None,
                        help="pages table: iceberg:<id>, table:<name>, or parquet path")
    parser.add_argument("--input-dir", default=None,
                        help="directory/glob of loose document files "
                             "(the reference CLI's input shape)")
    parser.add_argument("--input-warc", default=None,
                        help="directory/glob of WARC archives "
                             "(.warc/.warc.gz, Common-Crawl shape)")
    parser.add_argument("--input-wet", default=None,
                        help="directory/glob of WET text archives "
                             "(.wet/.wet.gz) — conversion records enter "
                             "the pipeline as text/plain documents")
    parser.add_argument("--input-archive", default=None,
                        help="directory/glob of document bundles "
                             "(.zip/.tar/.tar.gz) — each member becomes "
                             "one page keyed archive://<file>!/<member>")
    parser.add_argument("--input-wikidump", default=None,
                        help="directory/glob of Wikipedia "
                             "pages-articles-multistream .xml.bz2 dumps "
                             "— ns-0 articles enter as markdown-"
                             "converted wikitext")
    parser.add_argument("--n-docs", type=int, default=None,
                        help="synthesize this many pages instead of reading a table")
    parser.add_argument("--seed", type=int, default=42)
    parser.add_argument("--output", default=None, help="output directory")
    parser.add_argument("--run-id", default="run")
    parser.add_argument("--resume", action="store_true",
                        help="anti-join completed urls from a prior run")
    parser.add_argument("--partitions", type=int, default=None)
    parser.add_argument("--cores", default=None,
                        help="local[N] cores (default: SPARK_GRAFT_CPUS, else "
                             "the host's CPU count)")
    parser.add_argument("--table-format", default="parquet",
                        choices=["parquet", "snapshot"],
                        help="derived-table format: plain parquet dirs or "
                             "atomic snapshot-manifest commits")
    parser.add_argument("--list-formats", action="store_true",
                        help="print supported (magic-byte-sniffed) formats "
                             "and exit")
    parser.add_argument("--curate", action="store_true",
                        help="after extraction, run the curation chain "
                             "(langid -> Gopher gate -> PII scrub -> dedup "
                             "-> paragraph dedup -> domain cap -> split -> "
                             "sequence packing) and export sharded training "
                             "JSONL under <output>/curated")
    args = parser.parse_args(argv)

    if args.list_formats:
        # get_supported_formats() analog (reference converter.py:772-787),
        # keyed by sniffed content format instead of file extension — at
        # web scale rows have no filenames.
        from .extractors import sniffer
        formats = [sniffer.FMT_HTML, sniffer.FMT_TEXT, sniffer.FMT_CSV,
                   sniffer.FMT_TSV, sniffer.FMT_JSON, sniffer.FMT_XML,
                   sniffer.FMT_RTF, sniffer.FMT_PDF, sniffer.FMT_DOCX,
                   sniffer.FMT_PPTX, sniffer.FMT_XLSX, sniffer.FMT_DOC,
                   sniffer.FMT_XLS, sniffer.FMT_PPT, sniffer.FMT_EPUB,
                   sniffer.FMT_WAV, sniffer.FMT_AIFF, sniffer.FMT_MP3,
                   sniffer.FMT_FLAC, *sorted(sniffer.IMAGE_FORMATS)]
        print(json.dumps({"supported_formats": formats}))
        return 0

    if not args.output:
        parser.error("--output is required")
    if not (args.input_table or args.n_docs or args.input_dir
            or args.input_warc or args.input_wet or args.input_archive
            or args.input_wikidump):
        parser.error("one of --input-table / --input-dir / --input-warc "
                     "/ --input-wet / --input-archive / "
                     "--input-wikidump / --n-docs is required")

    from .pipeline.session import build_session
    from .pipeline.job import run_extraction_resumable

    master = f"local[{args.cores}]" if args.cores else None
    spark = build_session("doc2md-cli", master=master)
    try:
        if args.n_docs:
            from .pipeline.corpus import synth_pages_df
            pages = synth_pages_df(spark, args.n_docs, seed=args.seed)
        elif args.input_dir:
            from .sources import read_pages_from_files
            pages = read_pages_from_files(spark, args.input_dir)
        elif args.input_warc:
            from .sources.warc import read_warc_pages
            pages = read_warc_pages(spark, args.input_warc)
        elif args.input_wet:
            from pyspark.sql import functions as F

            from .sources.warc import read_wet_pages
            wet = read_wet_pages(spark, args.input_wet)
            # WET payloads are already-extracted plain text: they ride
            # the pages relation as text/plain bodies (the sniffer
            # routes them through the text extractor's markdown
            # normalization + cleanup chain).
            pages = wet.select(
                "url", "warc_ts",
                F.encode("text", "utf-8").alias("html"),
                F.lit(None).cast("string").alias("text"),
                F.lit(None).cast("string").alias("lang"))
        elif args.input_wikidump:
            from .sources.wikidump import (
                read_wikidump_pages,
                wikidump_to_corpus,
            )
            pages = wikidump_to_corpus(
                read_wikidump_pages(spark, args.input_wikidump))
        elif args.input_archive:
            from pyspark.sql import functions as F

            from .sources.archive import read_archive_docs
            docs = read_archive_docs(spark, args.input_archive)
            # Members ride the pages relation keyed by their synthetic
            # archive url; non-ok rows (oversized members, corrupt
            # archives) keep null html and surface as skipped_*/failed
            # status rows through A3 validation — every member and
            # every broken bundle stays accounted for.
            pages = docs.select(
                "url",
                F.lit(None).cast("timestamp").alias("warc_ts"),
                "html",
                F.lit(None).cast("string").alias("text"),
                F.lit(None).cast("string").alias("lang"))
        else:
            from .sources import read_pages
            pages = read_pages(spark, args.input_table)

        t0 = time.time()
        summary = run_extraction_resumable(
            spark, pages, args.output, run_id=args.run_id,
            resume=args.resume, partitions=args.partitions,
            table_format=args.table_format,
        )
        elapsed = time.time() - t0
        n_docs = sum(summary.values())
        out = {
            "run_id": args.run_id,
            "elapsed_sec": round(elapsed, 2),
            "docs": n_docs,
            "docs_per_sec": round(n_docs / elapsed, 2) if elapsed else None,
            "status_counts": summary,
        }
        if args.curate:
            from .pipeline.curate import run_curation

            results = spark.read.parquet(f"{args.output}/results") \
                if args.table_format == "parquet" else None
            if results is None:
                from .sources import snapshot as snap
                results = snap.read(spark, f"{args.output}/results")
            out["curation_funnel"] = run_curation(
                results, f"{args.output}/curated")
        print(json.dumps(out))
        return 0 if summary.get("failed", 0) == 0 else 1
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
