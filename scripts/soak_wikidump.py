"""Soak the Wikipedia multistream source at 10^5-page scale.

Eight part files × n/8 pages (~2 KB wikitext each, 100 pages per bz2
stream — the real dump grouping) are authored once, then:
(a) full-scan ingest through the streaming bz2 + incremental <page>
scan, parity closed-form — (rows, distinct ids, Σ crc32(text))
identical to the driver-side source; (b) 1,000 wanted pages
point-fetched through the index — per-stream seek + bounded read,
row-identical to the same subset of the full scan; (c) the
wikitext → markdown converter over every article, with a
structural output check (no template/table/ref residue).

Usage: python scripts/soak_wikidump.py [n_pages]   (default 100000)
Prints one JSON line.  Run serialized (no concurrent Spark jobs).
"""

import json
import os
import shutil
import sys
import tempfile
import time
import zlib

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _page_text(i: int) -> str:
    body = (f"'''Page {i}''' is about [[topic {i % 97}|topics]]. "
            + "lorem wiki prose ") * 40
    return (f"== Intro ==\n{body}\n"
            f"{{{{Infobox|id={i}}}}}\n* item one\n* item two\n"
            f"<ref>src {i}</ref>")


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    from document_convert_to__markdown_spark.pipeline.session import (
        default_cores,
    )

    cores = int(default_cores())
    n_parts = 8

    from pyspark.sql import functions as F

    from document_convert_to__markdown_spark.pipeline.session import (
        build_session,
    )
    from document_convert_to__markdown_spark.sources.wikidump import (
        build_wikidump,
        fetch_pages_by_index,
        read_multistream_index,
        read_wikidump_pages,
        wikitext_markdown_udf,
    )

    spark = build_session("soak-wikidump", master=f"local[{cores}]",
                          shuffle_partitions=2 * cores,
                          arrow_batch_rows=2048)
    spark.sparkContext.setLogLevel("ERROR")

    base = tempfile.mkdtemp(prefix="soak_wiki_")
    t0 = time.time()
    crc_sum = 0
    import bz2 as _bz2
    per = n // n_parts
    for p in range(n_parts):
        rows = []
        for i in range(p * per, (p + 1) * per):
            text = _page_text(i)
            crc_sum += zlib.crc32(text.encode())
            rows.append((f"Doc {i}", 0, i + 1,
                         "2021-01-02T03:04:05Z", text))
        dump, index = build_wikidump(rows, pages_per_stream=100)
        with open(f"{base}/part{p}-multistream.xml.bz2", "wb") as fh:
            fh.write(dump)
        with open(f"{base}/part{p}-multistream-index.txt.bz2",
                  "wb") as fh:
            fh.write(_bz2.compress(index.encode()))
    n = per * n_parts
    build_sec = time.time() - t0

    try:
        t1 = time.time()
        pages = read_wikidump_pages(
            spark, f"{base}/part*-multistream.xml.bz2")
        row = pages.select(
            F.count("*").alias("rows"),
            F.countDistinct("page_id").alias("ids"),
            F.sum(F.crc32(F.encode("text", "UTF-8"))).alias("crc"),
        ).head()
        scan_sec = time.time() - t1
        scan_ok = (row["rows"] == n and row["ids"] == n
                   and row["crc"] == crc_sum)

        t2 = time.time()
        conv = wikitext_markdown_udf()
        md = pages.select(conv(F.col("text")).alias("md"))
        bad_md = md.filter(
            F.col("md").contains("{{") | F.col("md").contains("{|")
            | F.col("md").contains("<ref") | F.col("md").contains("[[")
            | (F.length("md") < 100)
        ).count()
        conv_sec = time.time() - t2

        # selective fetch: 1000 wanted ids spread across all parts,
        # one dump part at a time (each part is its own file path —
        # the per-file loop mirrors per-object-store-key fetches)
        t3 = time.time()
        want = list(range(1, n + 1, max(1, n // 1000)))[:1000]
        fetched_total = 0
        mismatch = 0
        for p in range(n_parts):
            idx = read_multistream_index(
                spark, f"{base}/part{p}-multistream-index.txt.bz2")
            wanted = idx.filter(F.col("page_id").isin(want))
            got = fetch_pages_by_index(
                spark, wanted, f"{base}/part{p}-multistream.xml.bz2")
            agg = got.select(
                F.count("*").alias("k"),
                F.sum(F.crc32(F.encode("text", "UTF-8"))).alias("crc"),
            ).head()
            fetched_total += agg["k"]
            expect_crc = sum(
                zlib.crc32(_page_text(i - 1).encode())
                for i in want if p * per < i <= (p + 1) * per)
            if agg["crc"] != (expect_crc or None) and agg["k"]:
                mismatch += 1
        fetch_sec = time.time() - t3

        checks = (scan_ok and bad_md == 0
                  and fetched_total == len(want) and mismatch == 0)
        print(json.dumps({
            "metric": "wikidump_soak", "n_pages": n, "cores": cores,
            "n_parts": n_parts, "build_sec": round(build_sec, 1),
            "scan_sec": round(scan_sec, 1),
            "scan_pages_per_sec": round(n / scan_sec),
            "convert_sec": round(conv_sec, 1),
            "convert_pages_per_sec": round(n / conv_sec),
            "n_fetch_wanted": len(want),
            "n_fetched": fetched_total,
            "fetch_sec": round(fetch_sec, 1),
            "bad_markdown_rows": bad_md,
            "crc_match": bool(scan_ok), "fetch_crc_mismatch": mismatch,
            "checks": "pass" if checks else "FAIL",
        }))
        if not checks:
            sys.exit(1)
    finally:
        shutil.rmtree(base, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
