"""SparkSession builder tuned for multi-MB binary rows.

The defaults here are the rebuild's replacement for the reference's dead
performance config (/root/reference/src/config.py:133-139): Spark supplies
real task parallelism, retry and memory management; we only tune what the
workload shape demands (SURVEY.md §4.2 item 3).
"""

from __future__ import annotations

import gc
import os
import sys
import zipimport

from pyspark.sql import SparkSession


def prepare_python_worker() -> None:
    """Cut a reused Python worker's fixed per-task cost to its documents.

    Call first thing in every Python body on the extraction path.  A
    reused worker pays two costs on every task before and after the
    body runs, whatever the batch holds:

    - ``pyspark.worker_util.setup_spark_files`` calls
      ``importlib.invalidate_caches()``; on Python 3.11 every cached
      ``zipimporter`` then re-reads the whole central directory of its
      archive (``pyspark.zip``, 3.5 MB, one importer per package
      prefix: 14-16 of them, ~0.1-0.15 s).  Dropping them from
      ``sys.path_importer_cache`` makes that call cheap; an import that
      needs one later rebuilds it from zipimport's directory cache,
      without a re-read.
    - the daemon runs a full ``gc.collect()`` after every task, over a
      heap of ~80k long-lived objects (pandas, pyarrow, pyspark, the
      extractors: 25-50 ms).  Once per process, collect and then
      ``gc.freeze()`` that heap, so later collections skip it.
    """
    cache = sys.path_importer_cache
    for path in [p for p, f in cache.items()
                 if isinstance(f, zipimport.zipimporter)]:
        del cache[path]
    if gc.get_freeze_count() == 0:
        gc.collect()
        gc.freeze()


def default_cores() -> str:
    """The N of the default ``local[N]`` master: ``SPARK_GRAFT_CPUS``
    when set, else this host's CPU count."""
    return os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 1)


def build_session(
    app_name: str = "doc2md",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    arrow_batch_rows: int = 128,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Session with AQE, Arrow, and small Arrow batches for blob rows.

    ``arrow_batch_rows`` is deliberately low (64-256): pages rows carry
    multi-MB ``html`` blobs, and an Arrow batch of the default 10k rows
    would hold gigabytes (SURVEY §4.2; the analog of the reference's
    unused ``chunk_size``/``memory_limit``).  Measured on the ~25KB-page
    bench corpus at local[32]: batch 32 → 7.81s, 128 → 7.51s,
    512 → 8.13s — 128 is the sweet spot between per-batch overhead and
    batch memory footprint.
    """
    cpus = default_cores()
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        n = int(cpus) if cpus.isdigit() else os.cpu_count() or 1
        shuffle_partitions = max(2 * n, 8)

    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return (
        builder
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                str(arrow_batch_rows))
        # Self-describing timestamps for parquet round-trips.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .getOrCreate()
    )
