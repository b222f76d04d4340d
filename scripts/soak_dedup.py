"""Soak the training-data curation operators at 1M documents.

The contract queries prove *correctness* at sf0.01; this script
evidences the *scale shape*: every dedup/curation operator below runs
over a 1,000,000-document relation (generated relationally — no Python
in the synth path) and reports wall time + result cardinality.  The
corpus embeds known structure so the outputs are sanity-checkable:

- exact-duplicate groups: per 1000-id block, the 20 ids with
  ``id % 50 == 17`` share one text (one 20-copy group per block), and
  the 20 ids with ``id % 50 == 23`` mutate one word of it at position
  ``id % 40`` — which cycles through 4 positions, so they form 4
  further 5-copy exact groups per block: 5 groups/block, 5000 groups
  and 35 removable copies per 1000 ids at any scale;
- near-duplicates: the mutated texts differ from the base text by one
  word → MinHash-LSH candidate pairs against the base group;
- 500 hosts for the domain cap; 5 languages for token budgeting; an
  injected boilerplate paragraph for the repeated-line rule.

Usage: python scripts/soak_dedup.py [n_docs]    (default 1,000,000)
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
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    from document_convert_to__markdown_spark.pipeline.session import (
        default_cores,
    )

    cores = int(default_cores())
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", f"{max(cores, 8)}g")

    from pyspark.sql import functions as F

    from document_convert_to__markdown_spark.pipeline.session import (
        build_session,
    )

    spark = build_session("soak-dedup", master=f"local[{cores}]",
                          shuffle_partitions=2 * cores)
    spark.sparkContext.setLogLevel("ERROR")

    # -- relational corpus synthesis (no Python rows) ---------------------
    ids = spark.range(n_docs).withColumnRenamed("id", "doc_id")
    base = F.when((F.col("doc_id") % 50).isin(17, 23),
                  F.col("doc_id") - (F.col("doc_id") % 1000) + 17) \
        .otherwise(F.col("doc_id"))
    words = F.transform(
        F.sequence(F.lit(0), F.lit(39)),
        lambda i: F.concat(F.lit("w"), F.pmod(
            F.hash(base * 997 + i), F.lit(5000)).cast("string")))
    # near-dups mutate exactly one word position
    words = F.when(
        F.col("doc_id") % 50 == 23,
        F.transform(words, lambda w, i: F.when(
            i == F.pmod(F.col("doc_id"), 40), F.concat(w, F.lit("x")))
            .otherwise(w))
    ).otherwise(words)
    docs = ids.select(
        "doc_id",
        F.array_join(words, " ").alias("text"),
        F.element_at(
            F.array(*[F.lit(x) for x in ("en", "de", "fr", "es", "zh")]),
            (F.pmod(F.hash(F.col("doc_id") * 31), 5) + 1).cast("int")
        ).alias("lang"),
        F.concat(F.lit("host"),
                 F.pmod(F.hash(F.col("doc_id") * 13), 500).cast("string"))
        .alias("source"),
    ).withColumn("n_chars", F.length("text"))

    work = tempfile.mkdtemp(prefix="doc2md_dedup_soak_")
    try:
        t0 = time.time()
        docs.write.parquet(f"{work}/documents")
        synth_sec = round(time.time() - t0, 1)
        corpus = spark.read.parquet(f"{work}/documents")

        from document_convert_to__markdown_spark.operators.dedup import (
            dedup_keep_first,
            exact_duplicates,
            lsh_candidate_pairs,
            remove_duplicate_paragraphs,
        )
        from document_convert_to__markdown_spark.operators.sampling import (
            domain_cap,
            token_budget_select_bucketed,
        )

        results = {}

        def run(name, df):
            t = time.time()
            n = df.count()
            results[name] = {"rows": n, "sec": round(time.time() - t, 1)}

        run("exact_duplicate_groups", exact_duplicates(corpus))
        run("dedup_keep_first", dedup_keep_first(corpus))

        bands = lsh_candidate_pairs(corpus)
        run("minhash_lsh_candidates", bands)

        run("domain_cap_100", domain_cap(
            corpus, domain_col="source", cap=100,
            order_cols=[F.col("n_chars").desc(), F.col("doc_id")]))

        run("token_budget_bucketed", token_budget_select_bucketed(
            corpus, budget=2_000_000))

        boiler = corpus.select(
            "doc_id",
            F.concat_ws("\n", F.substring("text", 1, 80),
                        F.lit("share this article"),
                        F.substring("text", 81, 80)).alias("text"))
        run("paragraph_dedup", remove_duplicate_paragraphs(boiler))

        print(json.dumps({
            "metric": "dedup_soak_1m",
            "n_docs": n_docs,
            "cores": cores,
            "synth_write_sec": synth_sec,
            "ops": results,
        }))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
