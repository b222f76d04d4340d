"""spark-submit entry point.

Replaces the reference's two CLIs (/root/reference/main.py:211-299 and
src/converter.py:806-881 — SURVEY.md §3.1/§3.3) with a single job:

    spark-submit --py-files doc2md.zip -m document_convert_to__markdown_spark.cli \\
        --input iceberg:warehouse.pages --output /out --run-id r1 [--resume]

``--input`` and ``--output`` name tables in the ``sources.tables``
grammar: a bare path is parquet, ``snapshot:<root>`` the
snapshot-manifest table, ``iceberg:``/``table:`` a catalog table, and
``files:``/``warc:``/``wet:``/``archive:``/``wikidump:`` + ``<glob>``
read-only input sources.  The output takes a parquet directory or a
``snapshot:`` root.

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
    parser.add_argument("--input", default=None,
                        help="pages source: a parquet path, snapshot:<root>, "
                             "iceberg:<id>, table:<name>, or a glob of "
                             "loose files (files:), WARC (warc:), WET "
                             "(wet:), zip/tar bundles (archive:) or "
                             "Wikipedia multistream dumps (wikidump:)")
    parser.add_argument("--n-docs", type=int, default=None,
                        help="synthesize this many pages instead of reading a table")
    parser.add_argument("--seed", type=int, default=42)
    parser.add_argument("--output", default=None,
                        help="output tables: a parquet directory or "
                             "snapshot:<root>")
    parser.add_argument("--run-id", default="run")
    parser.add_argument("--resume", action="store_true",
                        help="anti-join completed urls from a prior run")
    parser.add_argument("--partitions", type=int, default=None)
    parser.add_argument("--cores", default=None,
                        help="local[N] cores (default: SPARK_GRAFT_CPUS, else "
                             "the host's CPU count)")
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
        from .extractors.extract import CONVERTERS
        print(json.dumps({"supported_formats": sorted(CONVERTERS)}))
        return 0

    if not (args.output and (args.input or args.n_docs)):
        parser.error("--output and one of --input / --n-docs are required")

    from .pipeline.job import run_extraction_resumable
    from .pipeline.session import build_session
    from .sources.tables import read_pages, table_location

    master = f"local[{args.cores}]" if args.cores else None
    spark = build_session("doc2md-cli", master=master)
    try:
        if args.n_docs:
            from .pipeline.corpus import synth_pages_df
            pages = synth_pages_df(spark, args.n_docs, seed=args.seed)
        else:
            pages = read_pages(spark, args.input)

        t0 = time.time()
        summary = run_extraction_resumable(
            spark, pages, args.output, run_id=args.run_id,
            resume=args.resume, partitions=args.partitions,
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

            results = read_pages(spark, f"{args.output}/results")
            out["curation_funnel"] = run_curation(
                results, f"{table_location(args.output)}/curated")
        print(json.dumps(out))
        return 0 if summary.get("failed", 0) == 0 else 1
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
