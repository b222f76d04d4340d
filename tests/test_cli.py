"""The spark-submit entry point: ``--list-formats`` and one ``--input``
run over a WARC directory."""

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_list_formats_is_the_converter_table(monkeypatch, capsys):
    """Printed from ``extract.CONVERTERS`` before any session starts."""
    from document_convert_to__markdown_spark import cli
    from document_convert_to__markdown_spark.extractors.extract import (
        CONVERTERS,
    )
    from document_convert_to__markdown_spark.pipeline import session

    def no_session(*_args, **_kwargs):
        raise AssertionError("--list-formats started a session")

    monkeypatch.setattr(session, "build_session", no_session)
    assert cli.main(["--list-formats"]) == 0
    printed = json.loads(capsys.readouterr().out)
    assert printed == {"supported_formats": sorted(CONVERTERS)}


@pytest.mark.spark
def test_warc_input_run(spark, tmp_path):
    from document_convert_to__markdown_spark.sources.warc import write_warc

    pages = [(f"https://example.test/p{i}",
              f"<html><body><h1>Page {i}</h1><p>body {i}</p></body></html>"
              .encode()) for i in range(6)]
    crawl = tmp_path / "crawl"
    crawl.mkdir()
    with open(crawl / "c.warc.gz", "wb") as fh:
        write_warc(pages, fh, compress=True)
    out = str(tmp_path / "out")

    proc = subprocess.run(
        [sys.executable, "-m", "document_convert_to__markdown_spark.cli",
         "--input", f"warc:{crawl}", "--output", out, "--cores", "2"],
        cwd=REPO, capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-2000:]
    summary = json.loads(proc.stdout.strip().splitlines()[-1])
    assert summary["status_counts"] == {"ok": len(pages)}

    results = spark.read.parquet(f"{out}/results")
    assert sorted(r["url"] for r in results.select("url").collect()) == [
        u for u, _ in pages]
