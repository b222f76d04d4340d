"""Giant-document skew routing: salted giant partitions produce identical
bytes, the ledger covers every partition and every url, and giants stay
in their own partitions."""

from pyspark.sql import functions as F

from document_convert_to__markdown_spark.extractors.extract import extract_document
from document_convert_to__markdown_spark.pipeline.corpus import synth_pages_df
from document_convert_to__markdown_spark.pipeline.job import run_extraction

GIANT_THRESHOLD = 100 * 1024  # force routing on sandbox-sized docs


def test_oversize_docs_become_status_rows_not_drops(spark):
    """Docs above the size gate must surface as skipped_too_large status
    rows (A2/A3: no silent drops) — found by a 200k-doc soak run where a
    122MB giant silently vanished from the results."""
    pages = synth_pages_df(spark, 50, giant_every=0)
    plan = run_extraction(pages, partitions=4, max_bytes=5000)
    results = plan.results.cache()

    assert results.count() == 50  # every input row present
    skipped = results.filter("status = 'skipped_too_large'")
    n_over = pages.filter(F.length("html") > 5000).count()
    assert skipped.count() == n_over and n_over > 0
    row = skipped.first()
    assert row["markdown"] is None and row["input_bytes"] > 5000
    assert row["doc_name"]  # name derived from url without touching blob
    # The ledger accounts for every url, oversize rows included.
    assert plan.ledger.agg(F.sum("m_docs")).first()[0] == 50
    results.unpersist()


def test_giant_partitions_hold_exactly_the_giants(spark):
    """Ledger rows past the first ``partitions`` belong to the salted
    giant partitions; they hold every giant and nothing else."""
    threshold = 8 * 1024
    pages = synth_pages_df(spark, 60, giant_every=0).cache()
    sizes = pages.select(F.length("html").alias("n")).collect()
    giants = [r["n"] for r in sizes if (r["n"] or 0) >= threshold]
    assert 0 < len(giants) < 60, "corpus must mix giants and normal docs"

    plan = run_extraction(pages, partitions=32, giant_threshold=threshold)
    ledger = plan.ledger.collect()
    assert sorted(r["partition_id"] for r in ledger) == list(range(34))
    giant_rows = [r for r in ledger if r["partition_id"] >= 32]
    assert sum(r["m_docs"] for r in giant_rows) == len(giants)
    assert sum(r["m_bytes"] for r in giant_rows) == sum(giants)
    pages.unpersist()


def test_giant_routing_byte_parity_and_ledger(spark):
    pages = synth_pages_df(spark, 300, giant_every=100).cache()
    n_giant = pages.filter(F.length("html") >= GIANT_THRESHOLD).count()
    assert n_giant >= 1, "corpus must contain giants for this test"

    plan = run_extraction(pages, partitions=8, giant_threshold=GIANT_THRESHOLD)
    results = plan.results.cache()

    # No row lost or duplicated by the routing.
    assert results.count() == 300
    assert results.select("url").distinct().count() == 300

    # Ledger has one metrics row per partition: 8 normal + max(1, 8//16)
    # giant.
    assert plan.ledger.count() == 9
    assert plan.ledger.agg(F.sum("m_docs")).first()[0] == 300

    # Giant-partition outputs are byte-identical to the standalone extractor
    # (routing must never change extraction semantics).
    giants = pages.filter(F.length("html") >= GIANT_THRESHOLD) \
        .select("url", "html").collect()
    giant_results = {
        r["url"]: r["md_sha256"]
        for r in results.join(
            pages.filter(F.length("html") >= GIANT_THRESHOLD).select("url"),
            "url", "left_semi").collect()
    }
    import hashlib
    for row in giants:
        doc = extract_document(row["url"], bytes(row["html"]))
        expect = hashlib.sha256(doc.markdown.encode("utf-8")).hexdigest() \
            if doc.markdown is not None else None
        assert giant_results[row["url"]] == expect
    results.unpersist()
    pages.unpersist()
