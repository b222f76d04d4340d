"""Soak the round-3b/3c operators at 10^6-row scale.

Correctness is proven at sf0.01 by the driver oracles; this script
evidences the SCALE SHAPE of the new operators — snapshot delta,
chunking, robots resolution, PageRank, int8/PQ ANN, SemDeDup — over
relations generated relationally (no Python in the synth path), and
reports wall time + result cardinality per operator.  Embedded
structure makes outputs sanity-checkable (e.g. every 7th doc changed
between snapshots, 23 path sections in the robots rule set).

Usage: python scripts/soak_round3b.py [n_docs] [n_vecs]
Defaults 1,000,000 docs / 1,000,000 vectors (SemDeDup runs on a 100k
slice: its per-cell pair scoring is quadratic in cell width by design
— the cap documents the real-world knob, cells ~n/k from trained
k-means).  Prints one JSON line.  Run serialized (no concurrent Spark
jobs — CLAUDE.md bench rule).
"""

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    n_vecs = int(sys.argv[2]) if len(sys.argv) > 2 else 1_000_000
    from document_convert_to__markdown_spark.pipeline.session import (
        default_cores,
    )

    cores = int(default_cores())
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", f"{max(cores, 8)}g")

    from pyspark.sql import functions as F

    from document_convert_to__markdown_spark.operators.chunking import (
        chunk_documents,
    )
    from document_convert_to__markdown_spark.operators.delta import (
        snapshot_delta,
    )
    from document_convert_to__markdown_spark.operators.graph import pagerank
    from document_convert_to__markdown_spark.operators.quantize import (
        pq_topk, quantized_topk, train_pq_codebooks,
    )
    from document_convert_to__markdown_spark.operators.robots import (
        apply_robots,
    )
    from document_convert_to__markdown_spark.operators.similarity import (
        semdedup,
    )
    from document_convert_to__markdown_spark.pipeline.session import (
        build_session,
    )

    # Embedding/doc rows here are small (no multi-MB blobs), so larger
    # Arrow batches amortize the Python-call overhead for pq_encode /
    # semdedup (the 128-row default exists for blob-carrying pages).
    spark = build_session("soak-r3b", master=f"local[{cores}]",
                          shuffle_partitions=2 * cores,
                          arrow_batch_rows=2048)
    spark.sparkContext.setLogLevel("ERROR")

    results = {}

    def run(name, fn):
        t = time.time()
        n = fn()
        results[name] = {"rows": n, "sec": round(time.time() - t, 1)}

    # -- documents: 40 hash-derived words each, persisted ------------------
    ids = spark.range(n_docs).withColumnRenamed("id", "doc_id")
    words = F.transform(
        F.sequence(F.lit(0), F.lit(39)),
        lambda i: F.concat(F.lit("w"), F.pmod(
            F.col("doc_id") * 997 + i * 131, F.lit(5000)).cast("string")))
    docs = ids.select(
        "doc_id", F.array_join(words, " ").alias("text")).persist()
    docs.count()

    # snapshot delta: old misses every 10th id, new revises every 7th
    old = docs.filter(F.col("doc_id") % 10 != 3)
    new = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 7 == 0,
               F.concat("text", F.lit(" rev2")))
        .otherwise(F.col("text")).alias("text"))
    run("snapshot_delta", lambda: snapshot_delta(old, new).count())

    # chunking: 16-token windows advancing 12 -> 4 windows per 40-token doc
    run("chunk_documents", lambda: chunk_documents(
        docs, size=16, stride=12).count())

    # robots: 1M urls over 1000 hosts x 23 sections, 3 rules per host
    urls = docs.select(
        "doc_id",
        F.concat(F.lit("https://h"),
                 F.pmod(F.col("doc_id") * 13, F.lit(1000)).cast("string"),
                 F.lit(".site/s"),
                 F.pmod(F.col("doc_id"), F.lit(23)).cast("string"),
                 F.lit("/p"), F.col("doc_id").cast("string")).alias("url"))
    rules = spark.createDataFrame(
        [(f"h{h}.site", p, a) for h in range(1000)
         for p, a in [("/", h % 2 == 0), ("/s7", True), ("/s11", False)]],
        "host string, prefix string, allow boolean")
    run("robots_filter", lambda: apply_robots(urls, rules)
        .filter("allowed").count())

    # pagerank: 100k-host graph, ~3M page-derived edges before distinct
    edges = docs.select(
        F.pmod(F.col("doc_id") * 13, F.lit(100_000)).alias("src"),
        F.explode(F.array(
            F.pmod(F.col("doc_id") * 7 + 1, F.lit(100_000)),
            F.pmod(F.col("doc_id") * 11 + 2, F.lit(100_000)),
            F.pmod(F.col("doc_id") * 17 + 5, F.lit(100_000)),
        )).alias("dst")).filter("src <> dst")
    run("pagerank_100k_hosts_5it", lambda: pagerank(edges, n_iter=5).count())

    # -- embeddings: 64-dim hash-derived floats ----------------------------
    emb = spark.range(n_vecs).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(63)),
            lambda i: ((F.pmod(F.col("id") * 2654435761 + i * 40503,
                               F.lit(2001)) - 1000) / 1000.0).cast("float")
        ).alias("embedding"),
    ).persist()
    emb.count()
    q = [((i * 37 + 11) % 101 - 50) / 50.0 for i in range(64)]

    run("quantized_topk", lambda: quantized_topk(emb, q, k=10).count())

    # NOTE: pq_encode(...).count() would NOT measure the encode —
    # Catalyst prunes the unused codes column under count().  The
    # pq_topk run below forces train + full encode + sweep + rerank.
    books = train_pq_codebooks(emb, m=16, k=16)
    run("pq_topk_rerank", lambda: pq_topk(emb, q, books, k=10).count())

    semdedup_n = min(n_vecs, 100_000)
    run(f"semdedup_{semdedup_n // 1000}k",
        lambda: semdedup(emb.filter(F.col("vec_id") < semdedup_n),
                         threshold=0.95).filter("NOT keep").count())

    # -- round-3d operators over the same 1M docs ---------------------------
    from document_convert_to__markdown_spark.operators.dedup import (
        dedup_keep_best, incremental_dedup, minhash_bands,
    )
    from document_convert_to__markdown_spark.operators.robots import (
        frontier_schedule,
    )
    from document_convert_to__markdown_spark.operators.sampling import (
        cluster_safe_split,
    )
    from document_convert_to__markdown_spark.operators.text import (
        ngram_novelty,
    )

    run("frontier_schedule", lambda: frontier_schedule(
        urls.withColumn("host", F.pmod(F.col("doc_id") * 13, F.lit(1000))
                        .cast("string"))
        .withColumn("priority", F.col("doc_id") % 97)).count())

    # keep-best over 500k synthetic url groups (2 crawls per url)
    run("dedup_keep_best", lambda: dedup_keep_best(
        docs.withColumn("n_chars", F.length("text")),
        quality_col="n_chars",
        group_expr=F.col("doc_id") % (n_docs // 2)).count())

    # incremental screen: 10% arrivals vs the other 90% as the index
    corpus_docs = docs.filter(F.col("doc_id") % 10 != 0)
    arrivals = docs.filter(F.col("doc_id") % 10 == 0)
    idx = minhash_bands(corpus_docs).persist()
    idx.count()
    run("incremental_dedup_100k_vs_900k_index",
        lambda: incremental_dedup(arrivals, idx)
        .filter("is_dup_of_corpus").count())
    idx.unpersist()

    # bigram novelty of everything vs a 100k-doc reference slice
    run("ngram_novelty_vs_100k_ref", lambda: ngram_novelty(
        docs, docs.filter(F.col("doc_id") < 100_000))
        .filter("novelty >= 0.5").count())

    # cluster-safe split over 1M docs with 100k synthetic dup pairs
    edges = (docs.filter(F.col("doc_id") % 10 == 5)
             .select(F.col("doc_id").alias("a"),
                     (F.col("doc_id") + 1).alias("b")))
    run("cluster_safe_split", lambda: cluster_safe_split(docs, edges)
        .groupBy("split").count().count())

    print(json.dumps({
        "metric": "round3b_soak",
        "n_docs": n_docs,
        "n_vecs": n_vecs,
        "cores": cores,
        "ops": results,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
