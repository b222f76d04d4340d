"""Soak the archive shard export → ingest cycle at 10^5-document scale.

``pack_tar_shards`` writes the corpus as size-bounded WebDataset-style
tar shards (range-partitioned, per-task greedy packing); ``
read_archive_docs`` explodes them back one-member-per-row.  Parity is
closed-form: (row count, distinct urls, Σ length(html), Σ crc32(html))
must be identical between the source relation and the round trip, the
manifest's member count must equal the corpus, its url spans must be
pairwise disjoint, and every read row must carry status='ok'.

Usage: python scripts/soak_archive.py [n_docs]   (default 100000)
Prints one JSON line.  Run serialized (no concurrent Spark jobs).
"""

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    from document_convert_to__markdown_spark.pipeline.session import (
        default_cores,
    )

    cores = int(default_cores())

    from pyspark.sql import functions as F

    from document_convert_to__markdown_spark.pipeline.session import (
        build_session,
    )
    from document_convert_to__markdown_spark.sources.archive import (
        pack_tar_shards,
        read_archive_docs,
    )

    spark = build_session("soak-archive", master=f"local[{cores}]",
                          shuffle_partitions=2 * cores,
                          arrow_batch_rows=2048)
    spark.sparkContext.setLogLevel("ERROR")

    # Executor-side synthesis: ~2 KB deterministic payloads whose
    # length varies with the id (so shard packing sees a realistic
    # size mix), urls long enough to exercise the PAX long-name path.
    src = (spark.range(n)
           .select(
               F.concat(F.lit("https://corpus.example/agg/segment/"),
                        F.conv(F.col("id").cast("string"), 10, 36),
                        F.lit("/doc-"), F.col("id").cast("string"))
               .alias("url"),
               F.encode(
                   F.concat(
                       F.lit("payload "), F.col("id").cast("string"),
                       F.lit(" "),
                       F.repeat(F.lit("lorem-webtext "),
                                (F.col("id") % 200 + 64).cast("int"))),
                   "UTF-8").alias("html")))

    def agg_sig(df, url_col="url", blob_col="html"):
        row = df.select(
            F.count("*").alias("rows"),
            F.countDistinct(url_col).alias("urls"),
            F.sum(F.length(blob_col)).alias("bytes"),
            F.sum(F.crc32(blob_col)).alias("crc"),
        ).head()
        return (row["rows"], row["urls"], row["bytes"], row["crc"])

    src_sig = agg_sig(src)

    out = tempfile.mkdtemp(prefix="soak_arch_")
    try:
        t0 = time.time()
        manifest = pack_tar_shards(src, out, target_bytes=64 << 20,
                                   num_tasks=2 * cores).collect()
        pack_sec = time.time() - t0
        n_shards = len(manifest)
        n_members = sum(m["n_members"] for m in manifest)
        tar_bytes = sum(m["tar_bytes"] for m in manifest)
        spans = sorted((m["min_url"], m["max_url"]) for m in manifest)
        interleaved = sum(1 for (_, hi), (lo2, _)
                          in zip(spans, spans[1:]) if hi >= lo2)

        t1 = time.time()
        back = (read_archive_docs(spark, out, path_glob_filter="*.tar")
                .select(F.url_decode("member").alias("url"),
                        "html", "status"))
        ok = F.col("status") == "ok"
        row = back.select(
            F.count(F.when(ok, 1)).alias("rows"),
            F.countDistinct(F.when(ok, F.col("url"))).alias("urls"),
            F.sum(F.when(ok, F.length("html"))).alias("bytes"),
            F.sum(F.when(ok, F.crc32("html"))).alias("crc"),
            F.count(F.when(~ok, 1)).alias("bad"),
        ).head()                       # ONE action: tars scanned once
        back_sig = (row["rows"], row["urls"], row["bytes"], row["crc"])
        n_bad = row["bad"]
        read_sec = time.time() - t1

        checks = (src_sig == back_sig and interleaved == 0
                  and n_members == n and n_bad == 0)
        print(json.dumps({
            "metric": "archive_shard_soak", "n_docs": n, "cores": cores,
            "n_shards": n_shards, "tar_mb": round(tar_bytes / 2 ** 20, 1),
            "pack_sec": round(pack_sec, 1),
            "pack_docs_per_sec": round(n / pack_sec),
            "read_sec": round(read_sec, 1),
            "read_docs_per_sec": round(n / read_sec),
            "src_sig": list(src_sig), "back_sig": list(back_sig),
            "n_interleaved": interleaved, "n_bad_status": n_bad,
            "checks": "pass" if checks else "FAIL",
        }))
        if not checks:
            sys.exit(1)
    finally:
        shutil.rmtree(out, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
