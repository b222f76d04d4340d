"""Shape of the resumable sink: the extraction runs once at its full
P + G width into the cache, and the three table commits are written at
the cores' width — at most ``defaultParallelism`` part-files for
``results`` and ``assets``, exactly one for the ledger — with the same
rows as the plain ``run_extraction`` plan.  A resume with nothing left
runs no extraction and commits nothing."""

import glob
import uuid
from contextlib import contextmanager

import pytest

P = 24  # P + G = 25 tasks, more than local[8]'s defaultParallelism
TABLES = ("results", "assets", "ledger")


@pytest.fixture(scope="module")
def pages(spark):
    from document_convert_to__markdown_spark.pipeline.corpus import synth_pages_df
    return synth_pages_df(spark, 200).cache()


@pytest.fixture(scope="module")
def expected(pages):
    from document_convert_to__markdown_spark.pipeline.job import run_extraction

    plan = run_extraction(pages, partitions=P)
    return {"results": _result_keys(plan.results),
            "assets": _asset_keys(plan.assets),
            "width": plan.ledger.count()}  # P + G: one row per task


def _result_keys(df):
    return sorted(tuple(r) for r in
                  df.select("url", "status", "md_sha256").collect())


def _asset_keys(df):
    return sorted((r["url"], r["asset_name"], bytes(r["data"]))
                  for r in df.select("url", "asset_name", "data").collect())


def _part_files(out):
    return {t: len(glob.glob(f"{out}/{t}/**/part-*.parquet", recursive=True))
            for t in TABLES}


@contextmanager
def _job_group(spark):
    """Yields a function listing the task count of every distinct stage
    run by the jobs of the block."""
    sc = spark.sparkContext
    group = f"sink-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    tracker = sc.statusTracker()

    def stage_widths():
        stages = {s for j in tracker.getJobIdsForGroup(group)
                  for s in tracker.getJobInfo(j).stageIds}
        infos = [tracker.getStageInfo(s) for s in stages]
        # Past spark.ui.retainedStages the status store evicts skipped
        # stages (the reused scan below the cache) first: skip those.
        return sorted(i.numTasks for i in infos if i is not None)

    try:
        yield stage_widths
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


@pytest.mark.spark
@pytest.mark.parametrize("prefix", ["", "snapshot:"],
                         ids=["parquet", "snapshot"])
def test_sink_width_extraction_width_and_parity(spark, pages, expected,
                                                tmp_path, prefix):
    """A fresh call over three quarters of the pages, a resume over all
    of them (a real tail), then a resume that finds every url done."""
    from pyspark.sql import functions as F

    from document_convert_to__markdown_spark.pipeline.job import (
        run_extraction_resumable,
    )
    from document_convert_to__markdown_spark.sources import read_pages

    cores = spark.sparkContext.defaultParallelism
    width = expected["width"]
    assert width > cores
    root = str(tmp_path / "out")
    out = prefix + root
    head = pages.filter(F.crc32("url") % 4 != 0)
    head_urls = {r["url"] for r in head.select("url").collect()}
    assert 0 < len(head_urls) < len(expected["results"])
    files = dict.fromkeys(TABLES, 0)
    for run, (src, resume) in enumerate(
            ((head, False), (pages, True), (pages, True))):
        with _job_group(spark) as stage_widths:
            run_extraction_resumable(
                spark, src, out, run_id=f"r{run}", resume=resume,
                partitions=P)
            widths = stage_widths()
        now = _part_files(root)
        new = {t: now[t] - files[t] for t in TABLES}
        files = now

        tables = {t: read_pages(spark, f"{out}/{t}") for t in TABLES}
        ledger_rows = tables["ledger"].filter(f"run_id = 'r{run}'").count()
        if run == 2:
            # The no-op resume ran no extraction and committed nothing.
            assert new == dict.fromkeys(TABLES, 0), new
            assert width not in widths, widths
            assert ledger_rows == 0
        else:
            assert 1 <= new["results"] <= cores, new
            assert new["assets"] <= cores, new
            assert new["ledger"] == 1, new
            # The extraction ran exactly once, at its full width.
            assert widths.count(width) == 1, widths
            assert ledger_rows == width

        if run == 0:
            assert _result_keys(tables["results"]) == [
                k for k in expected["results"] if k[0] in head_urls]
        else:
            assert _result_keys(tables["results"]) == expected["results"]
            assert _asset_keys(tables["assets"]) == expected["assets"]


@pytest.mark.spark
def test_noop_resume_commits_no_snapshot_version(spark, pages, tmp_path):
    """A resume that finds every url done adds no snapshot version to any
    table and returns the same totals as the call that did the work."""
    from document_convert_to__markdown_spark.pipeline.job import (
        run_extraction_resumable,
    )
    from document_convert_to__markdown_spark.sources import snapshot

    out = str(tmp_path / "snap")
    first = run_extraction_resumable(spark, pages, f"snapshot:{out}",
                                     run_id="full", partitions=P)
    versions = {t: snapshot.current_version(f"{out}/{t}") for t in TABLES}
    assert all(versions.values()), versions

    again = run_extraction_resumable(spark, pages, f"snapshot:{out}",
                                     run_id="noop", resume=True,
                                     partitions=P)
    assert again == first
    assert {t: snapshot.current_version(f"{out}/{t}")
            for t in TABLES} == versions


@pytest.mark.spark
def test_aqe_off_keeps_bytes(spark, pages, expected, tmp_path):
    """Without AQE the cache is built inside the first coalesced write,
    so the extraction runs narrower; the committed bytes stay the same."""
    from document_convert_to__markdown_spark.pipeline.job import (
        run_extraction_resumable,
    )

    key = "spark.sql.adaptive.enabled"
    before = spark.conf.get(key)
    out = str(tmp_path / "aqe_off")
    spark.conf.set(key, "false")
    try:
        run_extraction_resumable(spark, pages, out, partitions=P)
    finally:
        spark.conf.set(key, before)
    results, assets = (spark.read.parquet(f"{out}/{t}")
                       for t in ("results", "assets"))
    assert _result_keys(results) == expected["results"]
    assert _asset_keys(assets) == expected["assets"]


@pytest.mark.spark
@pytest.mark.parametrize("out", ["iceberg:db.out", "table:out"])
def test_catalog_target_is_refused(spark, pages, out):
    """Append and resume cannot be exercised against a catalog here, so
    the sink refuses one before it plans anything."""
    from document_convert_to__markdown_spark.pipeline.job import (
        run_extraction_resumable,
    )

    with pytest.raises(ValueError, match="catalog"):
        run_extraction_resumable(spark, pages, out)
