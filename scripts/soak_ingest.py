"""Soak the streaming dedup-ingest loop at 10^5-per-batch scale.

Two crawl batches stream through ``run_stream_dedup_ingest``: batch 1
bootstraps the corpus + MinHash band index; batch 2 is half exact
re-crawls of batch-1 documents (must be flagged against the persistent
index) and half novel documents (must survive and extend the index).
Embedded structure makes every output count closed-form checkable.

Usage: python scripts/soak_ingest.py [n_per_batch]   (default 100000)
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
    from document_convert_to__markdown_spark.sources import snapshot as snap
    from document_convert_to__markdown_spark.streaming.stream_job import (
        run_stream_dedup_ingest,
    )

    spark = build_session("soak-ingest", master=f"local[{cores}]",
                          shuffle_partitions=2 * cores,
                          arrow_batch_rows=2048)
    spark.sparkContext.setLogLevel("ERROR")

    # Distinct 21-word texts, injective in the id: the id itself is a
    # word (base-36), so no two ids ever share a full text; the other
    # 20 words cycle mod a prime, which gives shingle variety but —
    # lesson learned — neither uniqueness NOR near-dup separation
    # (the first version of this soak omitted the id word and drew
    # "novel" texts from the SAME cyclic generator at offset
    # 11n ≡ 99 mod 99991, so novel docs were byte-identical — and
    # with the id word would still have been 20/21-word near-dups —
    # of batch-1 docs; the dedup screen correctly flagged all of
    # them, failing the closed-form counts).  Novel batch-2 docs
    # therefore use a SECOND generator (different multiplier, stride
    # and modulus), sharing only scattered single words with batch 1:
    # far below any band threshold.
    def text(idcol, mult=31, stride=7, mod=99991):
        return F.concat(
            F.lit("doc "), F.conv(idcol.cast("string"), 10, 36),
            F.lit(" body "),
            F.array_join(F.transform(
                F.sequence(F.lit(1), F.lit(20)),
                lambda i: F.conv(((idcol * mult + i * stride) % mod)
                                 .cast("string"), 10, 36)), " "))

    batch1 = spark.range(0, n).select(
        F.col("id").alias("doc_id"), text(F.col("id")).alias("text"))
    # batch 2: even ids re-crawl batch-1 content (id/2), odd ids novel
    b2_id = F.col("id") + n
    batch2 = spark.range(0, n).select(
        b2_id.alias("doc_id"),
        F.when(F.col("id") % 2 == 0, text((F.col("id") / 2).cast("long")))
        .otherwise(text(b2_id, mult=37, stride=11, mod=99983))
        .alias("text"))

    work = tempfile.mkdtemp(prefix="doc2md_soak_ingest_")
    arrivals, corpus, index, ckpt = (f"{work}/arrivals", f"{work}/corpus",
                                     f"{work}/index", f"{work}/ckpt")
    sch = "doc_id long, text string"
    results = {}
    try:
        t0 = time.time()
        batch1.write.mode("append").parquet(arrivals)
        run_stream_dedup_ingest(spark, arrivals, corpus, index, ckpt,
                                schema=sch, timeout_sec=1800)
        results["batch1_sec"] = round(time.time() - t0, 1)

        t0 = time.time()
        batch2.write.mode("append").parquet(arrivals)
        run_stream_dedup_ingest(spark, arrivals, corpus, index, ckpt,
                                schema=sch, timeout_sec=1800)
        results["batch2_sec"] = round(time.time() - t0, 1)

        table = snap.read(spark, corpus)
        flags = {r["is_dup"]: r["n"] for r in
                 table.groupBy("is_dup").agg(F.count("*").alias("n"))
                 .collect()}
        n_bands = snap.read(spark, index).count()
        results.update({
            "rows_total": int(table.count()),
            "n_flagged": int(flags.get(True, 0)),
            "n_kept": int(flags.get(False, 0)),
            "index_bands": int(n_bands),
        })
        # closed-form checks: all n batch-1 docs kept; batch 2 flags
        # its n/2 exact re-crawls, keeps its n/2 novels
        assert results["rows_total"] == 2 * n, results
        assert results["n_flagged"] == n // 2, results
        assert results["n_kept"] == n + n // 2, results
        assert results["index_bands"] == results["n_kept"] * 8, results
        results["checks"] = "pass"
    finally:
        shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({
        "metric": "stream_dedup_ingest_soak",
        "n_per_batch": n,
        "cores": cores,
        **results,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
