"""The extraction job: Arrow-batched, one exchange, skew-salted,
lineage-checkpointed, resumable.

This is the Spark replacement for the reference's sequential batch loop
(/root/reference/main.py:126-170, converter.py:713-734 — SURVEY.md §2
A23).  One linear plan:

    pages ─ project(url, html gated by size, _len) ─ repartitionById(P + G)
          ─ mapInPandas(extract) ─ raw(kind: doc|metrics)
          ─ results / assets / ledger

Scale design (SURVEY §4.2, north rule):
- **one scan, one exchange, one Python node**: the size gate is a
  projection, not a branch — ``html`` is nulled above ``max_bytes`` so
  the blob never crosses to Python (A2), while ``_len`` still carries
  its size; the Python body emits the ``skipped_too_large`` row (A3).
- **url-hash placement**: normal rows go to ``pmod(hash(url), P)``, the
  placement ``repartition(P, url)`` gives; P ≈ 2-4 × cores.
- **salted giant-doc routing**: AQE fixes shuffle skew, not compute skew
  inside one UDF call — rows of at least ``giant_threshold`` bytes go to
  their own G = max(1, P // 16) partitions P..P+G-1, salted by
  ``xxhash64(url)``, so a giant never queues behind normal work.  Giants
  can share a task: at P < 32 there is one giant partition.
- **per-partition lineage**: each task appends one metrics trailer row
  (partition id, counts, bytes, elapsed) — the ledger that makes runs
  resumable and auditable without driver-side accumulators.  It counts
  every input row, oversize rows included.
- **resume**: pages LEFT ANTI JOIN completed urls from a previous run's
  results (idempotent url-keyed overwrite — reference analog: the
  delete-then-rewrite at image_processor.py:100-110).  A resume pays
  only for work that is left: a finished job re-run is one status-count
  query plus one url-only probe, and commits nothing.
- **no per-row Python UDFs** (input_hint mandate): the only Python
  boundary is Arrow-batched ``mapInPandas``.
- **persisted writes at the cores' width**: ``run_extraction_resumable``
  writes its three tables from the cache with one task per core (the
  ledger with one), not the extraction's P + G — each write task costs
  a file and a serial rename in the job commit.
- **a task costs its documents**: the body first calls
  ``session.prepare_python_worker()``, which cuts a reused worker's
  fixed ~0.2 s a task that ``m_elapsed_us`` never sees.
"""

from __future__ import annotations

import hashlib
import time
from collections import Counter
from dataclasses import dataclass
from functools import cached_property
from typing import Iterator, Optional

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..extractors.extract import (
    MAX_DOCUMENT_BYTES,
    STATUS_FAILED,
    STATUS_OK,
    STATUSES,
    extract_document,
    too_large_document,
)
from .schemas import EXTRACT_SCHEMA, LEDGER_COLUMNS, RESULT_COLUMNS
from .session import prepare_python_worker

# Documents larger than this route through the low-density giant path.
DEFAULT_GIANT_THRESHOLD = 4 * 1024 * 1024  # 4 MB

# Every EXTRACT_SCHEMA column null: doc and metrics rows fill in their own.
_NULL_ROW = dict.fromkeys(EXTRACT_SCHEMA.names)


def _extract_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas body: doc rows per batch + one metrics trailer row.

    Input columns are ``_gated``'s: a null ``html`` with a positive
    ``_len`` was nulled by the size gate and becomes a
    ``skipped_too_large`` row without any blob crossing to Python.
    """
    prepare_python_worker()
    from pyspark import TaskContext

    m_bytes = 0
    counts = dict.fromkeys(STATUSES, 0)
    t_part0 = time.perf_counter()

    def doc_row(url: str, payload, length: int) -> dict:
        nonlocal m_bytes
        if payload is None and length:
            doc, elapsed_us, input_bytes = too_large_document(url), 0, length
        else:
            t0 = time.perf_counter()
            payload_bytes = bytes(payload) if payload is not None else None
            doc = extract_document(url, payload_bytes)
            elapsed_us = int((time.perf_counter() - t0) * 1e6)
            input_bytes = len(payload_bytes) if payload_bytes else 0

        m_bytes += input_bytes
        counts[doc.status] += 1

        md = doc.markdown
        return {
            **_NULL_ROW,
            "kind": "doc",
            "url": doc.url,
            "doc_name": doc.doc_name,
            "format": doc.format,
            "status": doc.status,
            "error": doc.error,
            "markdown": md,
            "md_sha256": hashlib.sha256(md.encode("utf-8")).hexdigest()
            if md is not None else None,
            "n_images": doc.n_images,
            "extractor_used": doc.extractor_used,
            "elapsed_us": elapsed_us,
            "input_bytes": input_bytes,
            "assets": [
                {"name": a.name, "page": a.page, "data": a.data}
                for a in doc.assets
            ],
        }

    for pdf in batches:
        rows = [doc_row(u, p, int(n))
                for u, p, n in zip(pdf["url"], pdf["html"], pdf["_len"])]
        if rows:
            yield pd.DataFrame(rows)

    ctx = TaskContext.get()
    pid = ctx.partitionId() if ctx is not None else -1
    m_docs = sum(counts.values())
    m_ok, m_failed = counts[STATUS_OK], counts[STATUS_FAILED]
    yield pd.DataFrame([{
        **_NULL_ROW,
        "kind": "metrics",
        "partition_id": pid,
        "m_docs": m_docs, "m_ok": m_ok, "m_failed": m_failed,
        "m_skipped": m_docs - m_ok - m_failed, "m_bytes": m_bytes,
        "m_elapsed_us": int((time.perf_counter() - t_part0) * 1e6),
    }])


def _gated(pages: DataFrame, max_bytes: int) -> DataFrame:
    """``url``, ``html``, ``_len``: the size gate (A2) as a projection.

    ``html`` is nulled above ``max_bytes`` so the blob never crosses to
    Python, but the row is NOT dropped (A3: no silent drops) — ``_len``
    keeps its size for the ``skipped_too_large`` row.
    """
    length = F.coalesce(F.length("html"), F.lit(0))
    return pages.select(
        "url",
        F.when(length <= F.lit(max_bytes), F.col("html")).alias("html"),
        length.alias("_len"),
    )


@dataclass
class ExtractResult:
    """The three output tables (SURVEY §2 Part B "Sinks") over ``raw``.

    Each table's plan is built on first use: a caller that reads one
    table pays the driver's plan-building round trips for that one.
    """
    raw: DataFrame  # combined, for single-pass persistence

    @cached_property
    def results(self) -> DataFrame:
        """One row per url."""
        return (self.raw.filter(F.col("kind") == "doc")
                .select(*RESULT_COLUMNS))

    @cached_property
    def assets(self) -> DataFrame:
        """Exploded (url, asset_name, page, data)."""
        return (
            self.raw.filter((F.col("kind") == "doc") & (F.col("n_images") > 0))
            .select("url", F.explode("assets").alias("asset"))
            .select(
                "url",
                F.col("asset.name").alias("asset_name"),
                F.col("asset.page").alias("page"),
                F.col("asset.data").alias("data"),
            )
        )

    @cached_property
    def ledger(self) -> DataFrame:
        """One row per partition (lineage/metrics)."""
        return (self.raw.filter(F.col("kind") == "metrics")
                .select(*LEDGER_COLUMNS))


def run_extraction(
    pages: DataFrame,
    partitions: Optional[int] = None,
    giant_threshold: int = DEFAULT_GIANT_THRESHOLD,
    max_bytes: int = MAX_DOCUMENT_BYTES,
) -> ExtractResult:
    """Build the extraction plan over a pages DataFrame (lazy)."""
    spark = pages.sparkSession
    if partitions is None:
        partitions = max(spark.sparkContext.defaultParallelism * 3, 8)
    # Giants are ~1/10⁴ of rows (FIXTURES.md), so they get a small
    # fraction of the task count — a full `partitions` here would spawn
    # that many near-empty Python workers per run.
    giant_partitions = max(1, partitions // 16)

    sized = _gated(pages, max_bytes)
    # One exchange routes both kinds of row: pmod(hash(url), P) is the
    # placement of repartition(P, url) (deterministic even keying, north
    # rule); giants are salted into their own partitions P..P+G-1.
    pid = F.when(
        F.col("_len") >= F.lit(giant_threshold),
        F.lit(partitions)
        + F.pmod(F.xxhash64("url"), F.lit(giant_partitions)).cast("int"),
    ).otherwise(F.pmod(F.hash("url"), F.lit(partitions)))
    raw = (
        sized.repartitionById(partitions + giant_partitions, pid)
        .mapInPandas(_extract_partition, schema=EXTRACT_SCHEMA)
    )
    return ExtractResult(raw)


def run_extraction_resumable(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    run_id: str = "run",
    resume: bool = False,
    partitions: Optional[int] = None,
    giant_threshold: int = DEFAULT_GIANT_THRESHOLD,
) -> dict:
    """Execute with persistence + resume; returns summary counters.

    ``out_dir`` is a ``sources.tables`` target: the three tables are
    ``{out_dir}/results``, ``/assets`` and ``/ledger``, so a bare path
    writes parquet directories and ``snapshot:<root>`` atomic
    snapshot-manifest commits.  A fresh call overwrites them, a resume
    appends.  A catalog target is refused with ``ValueError``: a
    catalog append and resume cannot be exercised without catalog jars.

    **Single write amplification, at the cores' width**: the extraction
    runs once, at its P + G tasks, into a DISK_ONLY cache, and each
    table is written from it exactly once (bytes written ≈ results +
    assets + ledger ≈ 1x output).  ``results`` and ``assets`` are
    coalesced to ``defaultParallelism`` tasks and the ledger, P + G
    small rows, to one: every write task costs a file, a task commit
    and a serial rename in the v1 job commit (a 1,000-row parquet
    append on a 4-core VM: ~0.5 s at 13 tasks, ~0.2 s at 4 or 1), and
    reading a local cache gains nothing from the extraction's wider,
    skew-balanced split.  The extraction keeps its width only because
    adaptive execution (which ``build_session`` pins on) materialises
    the cached relation as its own query stage; with AQE off the first
    coalesced write runs the extraction inside its own few tasks —
    same bytes, narrower stage.

    Resume anti-joins pages against urls already committed to
    ``results`` — only unfinished work reruns; a finished job re-run is
    a no-op (idempotent by url key, SURVEY A20).  It first reads the
    committed status counts (the status column only), then probes
    ``pages.select("url")`` anti-joined with the done urls for one row,
    reading no blob.  With nothing left it returns the committed counts:
    no extraction plan, no cache, no Python task, and no commit to any
    table — so the ledger has no rows for such a run, and a stale
    ``_temporary`` under a parquet table waits for the next append,
    which still sweeps it.  With work left, the summary is the committed
    counts plus this run's ``observe`` counts: ``results`` is
    append-only under the run_id contract (no concurrent writer) and
    ``observe`` counts exactly the doc rows its commit writes.

    Commit order is assets → ledger → results: results is the
    done-marker, so a crash before its commit re-extracts those urls;
    their re-extracted asset rows are anti-joined against the committed
    (url, asset_name) keys before the append, keeping the assets table
    key-unique — the reference's delete-then-rewrite key semantics
    (image_processor.py:100-110) at table scope; under ``snapshot:``
    each append is atomic.
    """
    from pyspark import StorageLevel

    from ..sources.tables import (
        is_catalog,
        read_pages,
        table_exists,
        write_table,
    )

    if is_catalog(out_dir):
        raise ValueError(f"{out_dir!r}: the resumable sink writes parquet "
                         "or snapshot: tables, not catalog tables")

    results_path = f"{out_dir}/results"
    mode = "append" if resume else "overwrite"

    todo, done_counts = pages, Counter()
    if resume and table_exists(spark, results_path):
        done_table = read_pages(spark, results_path)
        # Totals cover prior runs: column pruning reads only ``status``.
        done_counts = Counter({
            r["status"]: r["count"]
            for r in done_table.groupBy("status").count().collect()})
        done = done_table.select("url")
        # The url-only probe reads no blob; nothing left, nothing runs.
        if pages.select("url").join(done, "url", "left_anti").isEmpty():
            return dict(done_counts)
        # While the done set fits the broadcast threshold this is a
        # broadcast hash join: no exchange beyond the extract one.  Past
        # it, the sort-merge anti join hash-shuffles the pages, blobs
        # included, in an exchange of its own — the extract exchange
        # routes by partition id and is not reused (checked in .explain()).
        todo = pages.join(done, "url", "left_anti")

    plan = run_extraction(todo, partitions=partitions,
                          giant_threshold=giant_threshold)

    # df.observe (SURVEY §2 A24): status counters ride along with the
    # first action — no second scan of the blobs for the summary.
    from pyspark.sql import Observation

    obs = Observation("extract_counters")
    # DISK_ONLY, not MEMORY_AND_DISK: the cached relation carries every
    # markdown/asset blob, and unrolling multi-MB rows into the columnar
    # storage-memory cache competes with Arrow/shuffle execution memory
    # exactly when the extract stage needs it most (heap pressure
    # observed on 50k+-doc soaks at default heap).  Blob relations
    # belong on executor-local scratch disk: written once, re-read
    # sequentially per consuming action, never occupying storage memory.
    raw = plan.raw.observe(obs, *[
        F.sum(F.when(F.col("status") == s, 1).otherwise(0)).alias(s)
        for s in STATUSES
    ]).persist(StorageLevel.DISK_ONLY)
    try:
        out = ExtractResult(raw)
        new_assets = out.assets
        if resume and table_exists(spark, f"{out_dir}/assets"):
            # A crash between the assets commit and the results commit
            # leaves those urls' asset rows committed but the url marked
            # unfinished; the rerun re-extracts them, so anti-join the
            # new rows against committed (url, asset_name) keys to keep
            # the table key-unique (ADVICE r2: the promised read-side
            # dedup never existed — dedup on write instead).  Column
            # pruning reads only the two key columns, never the blobs.
            committed = (read_pages(spark, f"{out_dir}/assets")
                         .select("url", "asset_name"))
            new_assets = new_assets.join(
                committed, ["url", "asset_name"], "left_anti")
        # Written at the cores' width, not P + G (docstring).
        cores = spark.sparkContext.defaultParallelism
        write_table(new_assets.coalesce(cores), f"{out_dir}/assets", mode)
        # A status no row had sums to null: keep only the counts.
        run_counts = Counter({k: v for k, v in obs.get.items() if v})
        write_table(out.ledger.withColumn("run_id", F.lit(run_id))
                    .coalesce(1), f"{out_dir}/ledger", mode)
        write_table(out.results.coalesce(cores), results_path, mode)
    finally:
        raw.unpersist()

    # ``results`` is append-only under the run_id contract (no concurrent
    # writer) and ``observe`` counted exactly the doc rows its commit
    # wrote, so the totals need no re-read.  Counter addition drops the
    # zero counts.
    return dict(done_counts + run_counts)
