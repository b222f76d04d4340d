# -*- coding: utf-8 -*-
"""Spark pipeline tests: partitioning, skew routing, ledger, resume."""

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def pages(spark):
    from document_convert_to__markdown_spark.pipeline.corpus import synth_pages_df
    # giant_every=100 → a handful of giant docs exercise the salt path.
    return synth_pages_df(spark, 300, giant_every=100).cache()


@pytest.mark.spark
def test_extraction_counts_and_schema(spark, pages):
    from document_convert_to__markdown_spark.pipeline.job import run_extraction

    plan = run_extraction(pages, partitions=8)
    results = plan.results.cache()
    assert results.count() == 300
    statuses = {r["status"] for r in results.select("status").distinct().collect()}
    assert statuses <= {"ok", "skipped_empty", "skipped_unsupported",
                        "skipped_too_large", "failed"}
    ok = results.filter("status = 'ok'")
    assert ok.filter(F.col("markdown").isNull()).count() == 0
    assert ok.filter(F.col("md_sha256").isNull()).count() == 0
    results.unpersist()


@pytest.mark.spark
def test_ledger_partition_metrics(spark, pages):
    from document_convert_to__markdown_spark.pipeline.job import run_extraction

    plan = run_extraction(pages, partitions=8)
    ledger = plan.ledger.cache()
    total = ledger.agg(F.sum("m_docs")).first()[0]
    assert total == 300  # every doc accounted for in exactly one partition
    assert ledger.count() >= 8  # one trailer per partition (normal + giant)
    ledger.unpersist()


@pytest.mark.spark
def test_assets_exploded(spark, pages):
    from document_convert_to__markdown_spark.pipeline.job import run_extraction

    plan = run_extraction(pages, partitions=8)
    assets = plan.assets
    row = assets.first()
    if row is not None:  # corpus slice has docx/pdf images
        assert row["asset_name"].startswith("image_")
        assert row["data"] is not None


@pytest.mark.spark
def test_resume_is_idempotent(spark, pages, tmp_path):
    from document_convert_to__markdown_spark.pipeline.job import (
        run_extraction_resumable,
    )

    out = str(tmp_path / "run1")
    s1 = run_extraction_resumable(spark, pages, out, resume=False)
    s2 = run_extraction_resumable(spark, pages, out, resume=True)
    assert s1 == s2  # second run adds nothing
    n = spark.read.parquet(f"{out}/results").count()
    assert n == 300  # no duplicates


@pytest.mark.spark
def test_resume_completes_partial_run(spark, pages, tmp_path):
    from document_convert_to__markdown_spark.pipeline.job import (
        run_extraction_resumable,
    )

    out = str(tmp_path / "run2")
    half = pages.filter(F.xxhash64("url") % 2 == 0)
    run_extraction_resumable(spark, half, out, resume=False)
    partial = spark.read.parquet(f"{out}/results").count()
    assert partial < 300

    summary = run_extraction_resumable(spark, pages, out, resume=True)
    assert sum(summary.values()) == 300
    full = spark.read.parquet(f"{out}/results")
    assert full.count() == 300
    # Committed counts plus this run's observed counts = the table's.
    assert summary == {r["status"]: r["count"] for r in
                       full.groupBy("status").count().collect()}
    assert full.select("url").distinct().count() == 300


@pytest.mark.spark
def test_read_pages_from_files_directory_ingest(spark, tmp_path):
    """The reference's input shape — a directory of loose files — feeds
    the pipeline via the binaryFile source (recursive, sniffed formats,
    path as url)."""
    import random

    from document_convert_to__markdown_spark.data import synth
    from document_convert_to__markdown_spark.pipeline.job import run_extraction
    from document_convert_to__markdown_spark.sources import read_pages_from_files

    r = random.Random(5)
    (tmp_path / "sub").mkdir()
    (tmp_path / "a.html").write_bytes(synth.make_html(r, "en", 1, 1.0))
    (tmp_path / "sub" / "b.pdf").write_bytes(synth.make_pdf(r, "en", 2, 1.0))

    pages = read_pages_from_files(spark, str(tmp_path))
    assert pages.columns == ["url", "warc_ts", "html", "text", "lang"]
    plan = run_extraction(pages, partitions=2)
    rows = {r["format"]: r["status"] for r in plan.results.collect()}
    assert rows == {"html": "ok", "pdf": "ok"}


def test_spark_markdown_matches_standalone(spark, pages):
    """Distributed output == standalone extractor output, byte-for-byte."""
    import hashlib

    from document_convert_to__markdown_spark.extractors import extract_document
    from document_convert_to__markdown_spark.pipeline.job import run_extraction

    sample = pages.limit(20).collect()
    expected = {}
    for row in sample:
        doc = extract_document(row["url"], bytes(row["html"]) if row["html"] else None)
        if doc.markdown is not None:
            expected[row["url"]] = hashlib.sha256(
                doc.markdown.encode("utf-8")).hexdigest()

    urls = list(expected)
    plan = run_extraction(pages.filter(F.col("url").isin(urls)), partitions=4)
    got = {r["url"]: r["md_sha256"]
           for r in plan.results.select("url", "md_sha256").collect()
           if r["md_sha256"] is not None}
    assert got == expected


def test_curate_extracted_funnel_and_determinism(spark, tmp_path):
    """The composed curation chain over extraction results: funnel
    counts are monotone non-increasing, output rows carry every key the
    loader needs, and the whole chain is deterministic (content/url
    hash keyed — no RNG, no clock)."""
    from document_convert_to__markdown_spark.pipeline.corpus import (
        synth_pages_df,
    )
    from document_convert_to__markdown_spark.pipeline.curate import (
        curate_extracted, run_curation,
    )
    from document_convert_to__markdown_spark.pipeline.job import (
        run_extraction,
    )

    results = run_extraction(synth_pages_df(spark, 400), partitions=8) \
        .results.cache()
    curated, funnel = curate_extracted(results, paragraph_min_docs=5,
                                       domain_cap_docs=50, seq_len=512)
    stages = ["extracted_ok", "gopher_keep", "after_exact_dedup",
              "after_paragraph_dedup", "after_domain_cap", "curated"]
    assert list(funnel) == stages
    vals = [funnel[s] for s in stages]
    assert vals[0] > 0
    assert all(a >= b for a, b in zip(vals, vals[1:])), funnel
    rows = curated.collect()
    assert len(rows) == funnel["curated"]
    assert {r["split"] for r in rows} <= {"train", "val", "test"}
    assert all(r["seq_id"] >= 0 and 0 <= r["offset"] < 512 for r in rows)
    assert all(r["lang"] and r["domain"] for r in rows)

    again, funnel2 = curate_extracted(results, paragraph_min_docs=5,
                                      domain_cap_docs=50, seq_len=512)
    assert funnel2 == funnel
    assert sorted(map(tuple, again.collect())) == sorted(map(tuple, rows))

    out = str(tmp_path / "curated")
    f3 = run_curation(results, out, paragraph_min_docs=5,
                      domain_cap_docs=50, seq_len=512)
    assert f3["curated"] == funnel["curated"]
    exported = spark.read.json(f"{out}/split=*/*.txt.gz")
    assert exported.count() == funnel["curated"]
    results.unpersist()
