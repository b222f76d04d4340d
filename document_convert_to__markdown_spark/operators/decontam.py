"""Benchmark decontamination: flag corpus documents that share an
n-gram with an evaluation/benchmark set.

The published recipe (GPT-3 appendix C / The Pile): generate word
n-grams for both relations, hash-join corpus grams against the (much
smaller) distinct benchmark-gram set, and flag any document with a
collision.  At 100 TB the join is the whole cost, and its shape here is
the right one:

- benchmark grams are aggregated to a *distinct* relation first — for a
  real eval suite that relation is a few million rows, so Spark
  broadcasts it (AQE picks the broadcast; with an explicit
  ``F.broadcast`` when the caller knows it's small) and the corpus side
  never shuffles;
- corpus grams are produced by a higher-order-function transform over a
  tokenization that is projected ONCE (no CSE inside HOF lambdas —
  see dedup.ngram_jaccard_pairs) and exploded lazily, pipelined with
  the scan;
- the per-doc verdict is a semi-join-shaped aggregation keyed on
  doc_id — partial aggregation collapses each doc's matches map-side.

Production gram length is 13 (the GPT-3 setting); tests use a small n
because the synthetic corpus's vocabulary makes long grams collision-
free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _gram_relation(documents: DataFrame, n: int) -> DataFrame:
    """(doc_id, gram) pairs — word n-grams, distinct within doc."""
    toks = documents.select(
        "doc_id", F.split("text", " ").alias("t"))
    grams = toks.select(
        "doc_id",
        F.explode(F.expr(
            f"CASE WHEN size(t) >= {n} THEN array_distinct("
            f" transform(sequence(0, size(t) - {n}),"
            f" i -> array_join(slice(t, i + 1, {n}), ' ')))"
            f" ELSE array() END"
        )).alias("gram"),
    )
    return grams


def ngram_contamination(documents: DataFrame, benchmark: DataFrame,
                        n: int = 13,
                        broadcast_benchmark: bool = True) -> DataFrame:
    """Per-contaminated-doc overlap counts vs a benchmark relation.

    Returns (doc_id, n_contaminated_grams) for every corpus document
    sharing at least one word ``n``-gram with ``benchmark`` (both
    relations need (doc_id, text)).  Join is inner on the gram hash;
    docs with zero overlap simply don't appear — the caller anti-joins
    this result to drop contaminated docs.
    """
    bench_grams = _gram_relation(benchmark, n).select("gram").distinct()
    if broadcast_benchmark:
        bench_grams = F.broadcast(bench_grams)
    corpus_grams = _gram_relation(documents, n)
    return (
        corpus_grams.join(bench_grams, "gram")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_contaminated_grams"))
    )

