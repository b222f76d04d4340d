"""Soak the resumable extraction path and measure write amplification.

VERDICT.md round 1 flagged the resumable path's 2x blob write
amplification (raw written, then results/assets re-derived from it).
Round 2 writes each table exactly once from a job-lifetime cache; this
script is the evidence: it materializes a corpus, runs
``run_extraction_resumable``, and reports

    bytes_written(results+assets+ledger) / bytes(corpus input)

which should be ~1x the output payload (markdown is smaller than the
source HTML, so the ratio lands *below* 1 for this mix — round 1's
design was that ratio plus a full extra copy of every blob).  ``files``
counts each table's part-files: one commit each, written one task per
core for results and assets and one task for the ledger.

A second, ``resume=True`` call over the same pages then times the
no-op resume (``noop_resume_sec``) and reports the bytes and part-files
it added to the output (``noop_resume_bytes_added`` /
``noop_resume_files_added``, both 0: a finished job re-run reads the
status and url columns only and commits nothing).

Usage: python scripts/soak_resumable.py [n_docs] [size_scale]
Prints one JSON line; safe to rerun (fresh tmp output per run).
"""

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def du(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            fp = os.path.join(root, f)
            if os.path.isfile(fp):
                total += os.path.getsize(fp)
    return total


def part_files(path: str) -> int:
    return sum(f.startswith("part-")
               for _root, _dirs, files in os.walk(path) for f in files)


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 50_000
    size_scale = float(sys.argv[2]) if len(sys.argv) > 2 else 8.0
    from document_convert_to__markdown_spark.pipeline.session import (
        default_cores,
    )

    cores = int(default_cores())
    # Size the heap like a real executor: ~1 GB/core (the default 8g is
    # a test-suite setting; one extract task per core over ~25KB-median
    # rows with multi-MB giants need headroom for Arrow + shuffle).
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", f"{max(cores, 8)}g")

    from document_convert_to__markdown_spark.pipeline.corpus import (
        synth_pages_df,
    )
    from document_convert_to__markdown_spark.pipeline.job import (
        run_extraction_resumable,
    )
    from document_convert_to__markdown_spark.pipeline.session import (
        build_session,
    )

    spark = build_session(
        "soak-resumable", master=f"local[{cores}]",
        shuffle_partitions=cores,
    )

    work = tempfile.mkdtemp(prefix="doc2md_soak_")
    corpus = os.path.join(work, "corpus")
    out = os.path.join(work, "out")
    try:
        synth_pages_df(spark, n_docs, size_scale=size_scale) \
            .write.mode("overwrite").parquet(corpus)
        bytes_in = du(corpus)

        pages = spark.read.parquet(corpus)
        t0 = time.time()
        summary = run_extraction_resumable(spark, pages, out,
                                           run_id="soak")
        wall = time.time() - t0

        names = [name for name in ("results", "assets", "ledger")
                 if os.path.isdir(os.path.join(out, name))]
        tables = {name: du(os.path.join(out, name)) for name in names}
        files = {name: part_files(os.path.join(out, name)) for name in names}
        bytes_out = sum(tables.values())
        stray = du(out) - bytes_out  # anything else (e.g. a raw table)

        # A resume over the same pages finds every url done.
        bytes_before, files_before = du(out), part_files(out)
        t0 = time.time()
        noop_summary = run_extraction_resumable(spark, pages, out,
                                                run_id="noop", resume=True)
        noop_wall = time.time() - t0

        print(json.dumps({
            "metric": "resumable_write_amplification",
            "n_docs": n_docs,
            "size_scale": size_scale,
            "cores": cores,
            "wall_sec": round(wall, 2),
            "docs_per_sec": round(n_docs / wall, 2),
            "bytes_in": bytes_in,
            "bytes_out": bytes_out,
            "tables": tables,
            "files": files,
            "stray_bytes": stray,
            "amplification_vs_input": round(bytes_out / bytes_in, 3),
            "summary": summary,
            "noop_resume_sec": round(noop_wall, 2),
            "noop_resume_bytes_added": du(out) - bytes_before,
            "noop_resume_files_added": part_files(out) - files_before,
            "noop_resume_summary_matches": noop_summary == summary,
        }))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
