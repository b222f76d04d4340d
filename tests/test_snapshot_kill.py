"""Crash atomicity for the snapshot table format (round-5 item: the
SIGKILL matrix previously covered only plain parquet).

The snapshot commit protocol (sources/snapshot.py:_commit) is:

    1. write data files into  root/data/c{n}/
    2. write-then-rename manifest  root/_snapshots/v{n}.json
    3. write-then-rename pointer   root/_current

A kill before (3) must leave the table readable at the parent version
with no partial state visible, and a subsequent commit/resume must
converge to exactly-once rows.  Both deterministic window simulations
and a real mid-run SIGKILL are exercised.
"""

import glob
import os
import signal
import subprocess
import sys
import time

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_snapshot_crash_window_data_written_no_manifest(spark, tmp_path):
    """Kill window between steps 1 and 2: orphan data files (including a
    FileOutputCommitter _temporary) exist but no manifest — reads stay at
    the parent version and the next commit neither promotes nor lists
    the garbage."""
    from document_convert_to__markdown_spark.sources import snapshot as snap

    root = str(tmp_path / "tbl")
    df1 = spark.range(10).withColumnRenamed("id", "k")
    snap.commit_overwrite(df1, root)

    # Simulate the killed commit: partial data dir for would-be v2.
    orphan = f"{root}/data/c00002"
    df_bad = spark.range(100, 105).withColumnRenamed("id", "k")
    df_bad.write.parquet(orphan)
    os.makedirs(f"{orphan}/_temporary/0/task_x", exist_ok=True)

    assert snap.current_version(root) == 1
    assert snap.read(spark, root).count() == 10

    # Recovery commit reuses version 2; its overwrite wipes the orphan
    # data so the manifest lists only the fresh files.
    df2 = spark.range(20, 25).withColumnRenamed("id", "k")
    s = snap.commit_append(df2, root)
    assert s.version == 2
    assert snap.read(spark, root).count() == 15
    assert all("_temporary" not in f for f in s.files)
    got = {r["k"] for r in snap.read(spark, root).collect()}
    assert got == set(range(10)) | set(range(20, 25))


def test_snapshot_crash_window_manifest_written_pointer_not(spark, tmp_path):
    """Kill window between steps 2 and 3: the manifest rename landed but
    _current still points at the parent — the stale manifest must be
    invisible to readers and harmlessly superseded by the next commit."""
    import json

    from document_convert_to__markdown_spark.sources import snapshot as snap

    root = str(tmp_path / "tbl")
    df1 = spark.range(10).withColumnRenamed("id", "k")
    snap.commit_overwrite(df1, root)

    # Simulate: v2 data + manifest fully written, _current never bumped.
    orphan = f"{root}/data/c00002"
    df_bad = spark.range(100, 110).withColumnRenamed("id", "k")
    df_bad.write.parquet(orphan)
    files = sorted(glob.glob(f"{orphan}/part-*.parquet"))
    stale = {"op": "append", "parent": 1,
             "files": snap.load_snapshot(root, 1).files + files,
             "schema": df_bad.schema.jsonValue()}
    with open(f"{root}/_snapshots/v00002.json", "w") as f:
        json.dump(stale, f)

    assert snap.current_version(root) == 1
    assert snap.read(spark, root).count() == 10
    assert len(snap.versions(root)) == 1  # stale manifest unreachable

    df2 = spark.range(20, 25).withColumnRenamed("id", "k")
    s = snap.commit_append(df2, root)
    assert s.version == 2
    got = {r["k"] for r in snap.read(spark, root).collect()}
    assert got == set(range(10)) | set(range(20, 25))  # no 100..109


def test_snapshot_sigkill_then_resume_completes(spark, tmp_path):
    """Real SIGKILL mid-run with a snapshot: output, then resume:
    the manifest-atomic commit must yield exactly one row per url no
    matter where the kill lands (the snapshot twin of the parquet
    kill-resume test)."""
    n_docs = 4000
    out = str(tmp_path / "out")
    results_data = f"{out}/results/data"

    proc = subprocess.Popen(
        [sys.executable, "-m", "document_convert_to__markdown_spark.cli",
         "--n-docs", str(n_docs), "--output", f"snapshot:{out}",
         "--cores", "2", "--partitions", "16"],
        cwd=REPO, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
        start_new_session=True,
    )
    try:
        # Kill as soon as any results data file exists — with luck inside
        # the commit protocol; atomicity must hold for ANY landing spot.
        deadline = time.time() + 240
        while time.time() < deadline:
            if proc.poll() is not None:
                break  # finished before the kill — resume is a no-op
            if glob.glob(f"{results_data}/c*/part-*.parquet"):
                os.killpg(proc.pid, signal.SIGKILL)
                break
            time.sleep(0.25)
        else:
            pytest.fail("snapshot results output never appeared")
        proc.wait(timeout=60)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)

    from document_convert_to__markdown_spark.pipeline.corpus import (
        synth_pages_df,
    )
    from document_convert_to__markdown_spark.pipeline.job import (
        run_extraction_resumable,
    )
    from document_convert_to__markdown_spark.sources import snapshot as snap

    pages = synth_pages_df(spark, n_docs)
    summary = run_extraction_resumable(
        spark, pages, f"snapshot:{out}", run_id="resume", resume=True,
        partitions=16)
    assert sum(summary.values()) == n_docs

    results = snap.read(spark, f"{out}/results")
    assert results.count() == n_docs
    assert results.select("url").distinct().count() == n_docs
    assets = snap.read(spark, f"{out}/assets")
    assert (assets.count()
            == assets.select("url", "asset_name").distinct().count())
