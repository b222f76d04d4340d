"""Soak the round-4b operators at 10^6 rows.

Three screens, each with closed-form output checks (the join screens
also carry a plain-join control timing):

1. ``salted_join`` on a pathologically skewed fact table (one hot key
   carries 50% of 10^6 rows) against a 10^4-row dim relation, with
   broadcast joins disabled so the shuffle actually happens (at real
   scale the dim side is too big / too mutable to broadcast — that is
   the operator's premise).  Checks: row count and a full-column
   checksum equal the plain shuffle join's.
2. ``bloom_prune_join`` on 10^6 facts where only ~1% match a 10^3-row
   dim: checks equality with the plain join, and reports the pruned
   row count (the shuffle the filter saved).
3. ``detect_and_decode`` (WHATWG charset sniffing) over 10^6 raw
   blobs in three deterministic encoding classes (UTF-8 BOM / plain
   UTF-8 / cp1252-fallback bytes): per-class counts are exact thirds,
   and throughput is reported (the Arrow batch path must stay in the
   millions-of-docs-per-minute regime).

Usage: python scripts/soak_round4b.py [n_facts]   (default 1000000)
Prints one JSON line.  Run serialized (no concurrent Spark jobs).
"""

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    from document_convert_to__markdown_spark.pipeline.session import (
        default_cores,
    )

    cores = int(default_cores())

    from pyspark.sql import functions as F

    from document_convert_to__markdown_spark.operators.joins import (
        bloom_might_contain,
        bloom_filter_words,
        bloom_prune_join,
        salted_join,
    )
    from document_convert_to__markdown_spark.pipeline.session import (
        build_session,
    )

    spark = build_session(
        "soak-4b", master=f"local[{cores}]",
        shuffle_partitions=2 * cores,
        # Force real shuffle joins: broadcasting the dim would bypass
        # both the skew pathology and the salting under test.
        extra_conf={"spark.sql.autoBroadcastJoinThreshold": "-1"})
    spark.sparkContext.setLogLevel("ERROR")
    results = {}

    def checksum(df):
        # bit_xor: order-independent, cannot overflow under ANSI (an
        # xxhash64 sum over 10^6 rows does).
        h = df.select(F.xxhash64(*df.columns).alias("h"))
        return h.agg(F.expr("bit_xor(h)")).collect()[0][0]

    # --- screen 1: salted join under 50% single-key skew -------------
    facts = spark.range(0, n).select(
        F.when(F.col("id") % 2 == 0, F.lit(0))
        .otherwise(F.col("id") % 10_000).alias("k"),
        F.col("id").alias("payload")).localCheckpoint()
    dims = spark.range(0, 10_000).select(
        F.col("id").alias("k"),
        F.md5(F.col("id").cast("string")).alias("attr")).localCheckpoint()

    t0 = time.time()
    plain = facts.join(dims, "k")
    results["skew_plain_rows"] = plain.count()
    results["skew_plain_checksum"] = checksum(plain)
    results["skew_plain_sec"] = round(time.time() - t0, 1)

    t0 = time.time()
    salted = salted_join(facts, dims, "k", n_salt=cores)
    results["skew_salted_rows"] = salted.count()
    results["skew_salted_checksum"] = checksum(salted)
    results["skew_salted_sec"] = round(time.time() - t0, 1)

    assert results["skew_salted_rows"] == results["skew_plain_rows"] == n
    assert results["skew_salted_checksum"] == results["skew_plain_checksum"]

    # --- screen 2: bloom pruning at ~1% selectivity -------------------
    bfacts = spark.range(0, n).select(
        (F.col("id") % 100_000).alias("k"),
        F.col("id").alias("payload")).localCheckpoint()
    bdims = spark.range(0, 1_000).select(
        (F.col("id") * 100).alias("k"),  # every 100th key matches
        F.md5(F.col("id").cast("string")).alias("attr")).localCheckpoint()

    t0 = time.time()
    bplain = bfacts.join(bdims, "k")
    results["bloom_plain_rows"] = bplain.count()
    results["bloom_plain_checksum"] = checksum(bplain)
    results["bloom_plain_sec"] = round(time.time() - t0, 1)

    t0 = time.time()
    m_bits, n_hashes = 1 << 16, 5
    words = bloom_filter_words(bdims, "k", m_bits, n_hashes)
    kept = bfacts.filter(
        bloom_might_contain(F.col("k"), words, m_bits, n_hashes))
    results["bloom_kept_rows"] = kept.count()
    bj = bloom_prune_join(bfacts, bdims, "k", m_bits=m_bits,
                          n_hashes=n_hashes)
    results["bloom_join_rows"] = bj.count()
    results["bloom_join_checksum"] = checksum(bj)
    results["bloom_sec"] = round(time.time() - t0, 1)
    results["bloom_pruned_rows"] = n - results["bloom_kept_rows"]

    # exactly 1% of fact keys match; FPs may admit a few extra rows
    # before the exact join, never lose one
    assert results["bloom_join_rows"] == results["bloom_plain_rows"] == n // 100
    assert results["bloom_join_checksum"] == results["bloom_plain_checksum"]
    assert results["bloom_kept_rows"] >= n // 100
    assert results["bloom_kept_rows"] < n // 10, "pruning too weak"

    # --- screen 3: charset sniffing over 10^6 raw blobs ---------------
    from document_convert_to__markdown_spark.operators.charset import (
        detect_and_decode,
    )

    body = F.encode(F.concat(F.lit("document body text number "),
                             F.col("id").cast("string")), "utf-8")
    blobs = spark.range(0, n).select(
        F.col("id"),
        F.when(F.col("id") % 3 == 0,
               F.concat(F.lit(b"\xef\xbb\xbf"), body))
        .when(F.col("id") % 3 == 1, body)
        .otherwise(F.concat(body, F.lit(b" caf\xe9"))).alias("payload"))

    t0 = time.time()
    decoded = detect_and_decode(blobs, blob_col="payload")
    by_class = {(r["encoding"], r["enc_how"]): r["n"] for r in
                decoded.groupBy("encoding", "enc_how")
                .agg(F.count("*").alias("n")).collect()}
    results["charset_sec"] = round(time.time() - t0, 1)
    results["charset_docs_per_sec"] = int(n / max(0.001,
                                                  results["charset_sec"]))
    assert by_class[("utf-8-sig", "bom")] == len(range(0, n, 3)), by_class
    assert by_class[("utf-8", "utf8")] == len(range(1, n, 3)), by_class
    assert by_class[("cp1252", "fallback")] == len(range(2, n, 3)), \
        by_class
    results["checks"] = "pass"

    print(json.dumps({
        "metric": "round4b_join_soak",
        "n_facts": n,
        "cores": cores,
        **results,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
