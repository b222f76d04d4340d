"""Layered extraction benchmark.  See README.md beside this file.

    python3 perfbench/run.py --workload cc_mixed --seed 1 --seconds 8 --trace 0

Run from the root of a checkout.  The last line of stdout is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer ones with
``--trace 1``).  The benchmark writes only under ``perfbench/.work``.
"""

from __future__ import annotations

import argparse
import ctypes
import gc
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from collections import Counter, defaultdict
from contextlib import contextmanager
from multiprocessing import get_context, resource_tracker

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

# Corpus shape per workload (pipeline.corpus.synth_pages_df arguments).
# cc_mixed is written as ``slices`` equal slices of four parquet files
# each; a pass runs one run_extraction per slice and docs_per_s is the
# median over slices.  The per-document cost is heavy-tailed (large
# PDFs), so the rate of one whole corpus moves with the few costliest
# documents a seed happens to draw; the median slice does not.
WORKLOADS = {
    "cc_mixed": {"n_docs": 1200, "size_scale": 8.0, "slices": 3},
    "persist_resume": {"n_docs": 1000, "size_scale": 1.0},
}
FILES_PER_SLICE = 4
# Rows the one-core L0 pass times (a prefix of the corpus): all 1,200
# cc_mixed rows take ~50 s, too long for a traced run's 180 s limit.
L0_MAX_DOCS = 400
# Result columns the passes collect.  ``doc_name`` keeps the plan's
# doc-name UDF (oversize branch) from being pruned away.
RESULT_KEYS = ("url", "doc_name", "status", "md_sha256")
LEDGER_KEYS = ("elapsed_us", "m_docs", "m_elapsed_us")

END_TO_END = {"docs_per_s": "1/s", "setup_s": "s"}
PER_LAYER = {
    "extractors.docs_per_s": "1/s",
    **{f"extractors.{g}.ms_{p}": "ms"
       for g in ("html", "pdf", "docx", "other") for p in ("p50", "p99")},
    **{f"extractors.{s}.ms": "ms"
       for s in ("sniff", "html_convert", "pdf_convert", "docx_convert",
                 "insertion", "cleanup", "doc_name")},
    "extractors.stage_coverage": "ratio",
    "extractors.stage_docs": "count",
    "extractors.stage_parity_failures": "count",
    "extractors.mp_docs_per_s": "1/s",
    "job.spark_efficiency": "ratio",
    "job.scan_s": "s",
    "job.exchange_s": "s",
    "job.handoff_s": "s",
    "job.plan_scans": "count",
    "job.plan_exchanges": "count",
    "job.plan_python_nodes": "count",
    "job.shuffle_write_mb": "MB",
    "job.extract_busy": "ratio",
    "job.python_overhead_share": "ratio",
    "job.task_skew": "ratio",
    "job.partition_skew": "ratio",
    "job.giant_docs": "count",
    "sink.extra_s": "s",
    "sink.mb_written": "MB",
    "sink.files_written": "count",
    "resume.tail_s": "s",
    "resume.rows_reextracted": "count",
    "resume_s": "s",
    "setup.session_s": "s",
    "setup.corpus_s": "s",
    "setup.golden_s": "s",
    "setup.warmup_s": "s",
    "peak_rss_mb": "MB",
    "error_rate": "ratio",
    "trace.overhead": "ratio",
}


def log(*parts):
    print("[perfbench]", *parts, file=sys.stderr, flush=True)


def identity_batches(batches):
    """Arrow hand-off control: pandas batches in, the same batches out."""
    yield from batches


class Bench:
    def __init__(self, args, cores, work):
        from spans import Tracer

        self.workload = args.workload
        self.cfg = WORKLOADS[args.workload]
        self.seed = args.seed
        self.seconds = args.seconds
        self.traced = bool(args.trace)
        self.cores = cores
        self.work = work
        self.corpus = os.path.join(work, "corpus")
        self.tracer = Tracer(f"{args.workload}-seed{args.seed}", self.traced)
        self.spark = None
        self.metrics = {}
        self.attempted = 0
        self.errors = Counter()

    # ---- Spark session -------------------------------------------------
    def start_session(self):
        from document_convert_to__markdown_spark.pipeline.session import build_session

        tmp = os.path.join(self.work, "tmp")
        self.spark = build_session(app_name="perfbench", extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        })
        self.spark.sparkContext.setLogLevel("ERROR")

    def close(self):
        """Stop Spark, then the gateway JVM, and wait for it to exit.

        What the JVM leaves behind (Python workers, the launcher's
        shell) is re-parented to this process and reaped by
        ``reap_children``.
        """
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if gateway is None:
            return
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        SparkContext._gateway = SparkContext._jvm = None

    # ---- set-up --------------------------------------------------------
    def materialize(self):
        from document_convert_to__markdown_spark.pipeline.corpus import synth_pages_df

        n, scale = self.cfg["n_docs"], self.cfg["size_scale"]
        if self.workload == "persist_resume":
            # Ten files of n/8 rows: spark.range splits row ids evenly and
            # in order, so the first eight files hold exactly rows 0..n-1.
            df = synth_pages_df(self.spark, n + n // 4, seed=self.seed,
                                partitions=10, size_scale=scale)
        else:
            # One file per partition, rows in order: slice j is files
            # 4j..4j+3.
            df = synth_pages_df(self.spark, n, seed=self.seed, size_scale=scale,
                                partitions=self.cfg["slices"] * FILES_PER_SLICE)
        df.write.mode("overwrite").parquet(self.corpus)

    def corpus_files(self):
        return sorted(os.path.join(self.corpus, p) for p in os.listdir(self.corpus)
                      if p.endswith(".parquet"))

    def head_files(self):
        """persist_resume: the files holding the first n_docs rows."""
        return self.corpus_files()[:8]

    def slice_files(self, j):
        """cc_mixed: the files of slice ``j``."""
        return self.corpus_files()[j * FILES_PER_SLICE:(j + 1) * FILES_PER_SLICE]

    def job_files(self):
        """Input of the traced run_extraction action and the control plans."""
        if self.workload == "persist_resume":
            return self.head_files()
        return self.slice_files(0)

    def golden_replay(self):
        """The pinned golden pages through run_extraction + golden_compare."""
        from document_convert_to__markdown_spark.data.fixtures import fixture_pages
        from document_convert_to__markdown_spark.pipeline.golden import golden_compare
        from document_convert_to__markdown_spark.pipeline.job import run_extraction
        from document_convert_to__markdown_spark.pipeline.schemas import (
            GOLDEN_SCHEMA,
            PAGES_SCHEMA,
        )

        with open(os.path.join(ROOT, "tests", "golden_fixtures.json")) as f:
            pinned = json.load(f)
        pages = self.spark.createDataFrame(
            [(url, None, payload, "", "en") for url, payload in fixture_pages()],
            schema=PAGES_SCHEMA)
        golden = self.spark.createDataFrame(
            [(r["url"], None, r["golden_sha256"], r["n_images"], r["format"])
             for r in pinned], schema=GOLDEN_SCHEMA)
        # The empty fixture is skipped by design (tests/test_golden.py).
        # Cached so golden_compare's missing-url anti-join does not run
        # the extraction a second time.
        results = run_extraction(pages).results.filter("status = 'ok'").cache()
        report = golden_compare(results, golden.filter("format <> 'empty'"))
        results.unpersist()
        self.attempted += report.n_golden
        self.errors["golden_mismatch"] += report.n_golden - report.n_matched

    def warmup(self):
        """The workload's own calls, once: persist_resume over one file of
        the corpus, cc_mixed over its first slice (one file left the first
        measured pass 10-20% slower than the next)."""
        from document_convert_to__markdown_spark.pipeline.job import (
            run_extraction,
            run_extraction_resumable,
        )

        if self.workload == "persist_resume":
            pages = self.spark.read.parquet(self.corpus_files()[0])
            run_extraction_resumable(self.spark, pages,
                                     os.path.join(self.work, "warmup"))
        else:
            pages = self.spark.read.parquet(*self.slice_files(0))
            run_extraction(pages).results.select(*RESULT_KEYS).collect()

    def setup(self):
        with self.tracer.span("setup") as whole:
            for part, step in (("session", self.start_session),
                               ("corpus", self.materialize),
                               ("golden", self.golden_replay),
                               ("warmup", self.warmup)):
                with self.tracer.span(f"setup.{part}") as s:
                    step()
                self.metrics[f"setup.{part}_s"] = s.seconds
        self.metrics["setup_s"] = whole.seconds
        log(f"setup {whole.seconds:.2f}s",
            {k: round(v, 2) for k, v in self.metrics.items() if k.startswith("setup.")})

    # ---- workload passes -----------------------------------------------
    def _group(self, name):
        self.spark.sparkContext.setJobGroup(name, name)
        return self.tracer.span(name)

    def extract_pass(self, src, group="job.run_extraction", collect_raw=False):
        """run_extraction over the parquet paths ``src``; returns (seconds, rows, df)."""
        from document_convert_to__markdown_spark.pipeline.job import run_extraction

        with self._group(group) as s:
            plan = run_extraction(self.spark.read.parquet(*src))
            if collect_raw:
                df = plan.raw.select("kind", *RESULT_KEYS, *LEDGER_KEYS)
            else:
                df = plan.results.select(*RESULT_KEYS)
            rows = df.collect()
        return s.seconds, rows, df

    def persist_pass(self, k):
        """Fresh write of N rows, resume over N + N/4, then a no-op resume."""
        from document_convert_to__markdown_spark.pipeline.job import (
            run_extraction_resumable,
        )

        out = os.path.join(self.work, f"out{k}")
        calls = (("sink.write", self.head_files(), False),
                 ("resume.tail", [self.corpus], True),
                 ("resume.noop", [self.corpus], True))
        seconds = {}
        for run_id, (name, src, resume) in enumerate(calls, 1):
            with self._group(name) as s:
                run_extraction_resumable(
                    self.spark, self.spark.read.parquet(*src), out,
                    run_id=f"r{run_id}", resume=resume)
            seconds[name] = s.seconds
            if name == "sink.write" and self.tracer.enabled:
                files = [os.path.join(d, f) for d, _, fs in os.walk(out) for f in fs]
                self.metrics["sink.files_written"] = sum(
                    1 for f in files if os.path.basename(f).startswith("part-"))
                self.metrics["sink.mb_written"] = sum(
                    os.path.getsize(f) for f in files) / 1e6
        return seconds, out

    def one_pass(self, k):
        """One pass of the workload.

        Returns (output to check, call seconds, {rate key: docs/s}): one
        rate per slice for cc_mixed; for persist_resume one rate, the
        N + N/4 result rows over the whole pass.
        """
        if self.workload == "cc_mixed":
            out, rates = [], {}
            for j in range(self.cfg["slices"]):
                s, rows, _ = self.extract_pass(self.slice_files(j))
                out += [(r.url, r.status, r.md_sha256) for r in rows]
                rates[j] = len(rows) / s
            return out, {}, rates
        t0 = time.perf_counter()
        seconds, out = self.persist_pass(k)
        n = self.cfg["n_docs"]
        return out, seconds, {"pass": (n + n // 4) / (time.perf_counter() - t0)}

    @contextmanager
    def untraced(self, name):
        """One span around a block whose inner calls are not traced."""
        with self.tracer.span(name) as whole:
            self.tracer.enabled = False
            try:
                yield whole
            finally:
                self.tracer.enabled = self.traced

    def measure(self, outputs):
        """Closed loop: whole passes, one at a time, until --seconds have
        passed (at least one).  docs_per_s is the median over rate keys
        (slices) of each key's median over passes."""
        from sparkstats import RssSampler

        rates, noop_s = defaultdict(list), []
        t0 = time.perf_counter()
        with RssSampler(os.getpid()) as rss:
            while True:
                with self.tracer.span("pass") as p:
                    out, seconds, pass_rates = self.one_pass(len(outputs))
                outputs.append(out)
                for key, rate in pass_rates.items():
                    rates[key].append(rate)
                if "resume.noop" in seconds:
                    noop_s.append(seconds["resume.noop"])
                log(f"pass {len(outputs) - 1}: {p.seconds:.2f}s, docs/s",
                    {k: round(v, 1) for k, v in pass_rates.items()})
                if time.perf_counter() - t0 >= self.seconds:
                    break
        self.metrics["docs_per_s"] = statistics.median(
            statistics.median(r) for r in rates.values())
        if noop_s:
            self.metrics["resume_s"] = statistics.median(noop_s)
        self.metrics["peak_rss_mb"] = rss.peak / 1e6
        log(f"window: {len(outputs)} passes, peak RSS {rss.peak / 1e6:.0f} MB")

    # ---- traced extras -------------------------------------------------
    def traced_job(self):
        """run_extraction over the extraction input, with outside-in counters.

        Collects ``raw`` (doc rows plus the per-partition ledger rows) in
        one action, so the ledger-derived figures need no second pass.
        """
        from sparkstats import StatusApi, plan_counts

        src = self.job_files()
        seconds, rows, df = self.extract_pass(src, "job.extract", collect_raw=True)
        self.metrics.update(plan_counts(df))
        self.metrics.update(StatusApi(self.spark.sparkContext).group_stats(
            "job.extract", seconds, self.cores))
        docs = [r for r in rows if r["kind"] == "doc"]
        ledger = [r for r in rows if r["kind"] == "metrics"]
        self._ledger_metrics(sum(r["elapsed_us"] for r in docs), ledger)
        return src, seconds, [(r["url"], r["status"], r["md_sha256"]) for r in docs]

    def _ledger_metrics(self, doc_elapsed_us, ledger):
        busy = [r["m_elapsed_us"] for r in ledger if r["m_docs"]]
        total = sum(r["m_elapsed_us"] for r in ledger)
        self.metrics["job.python_overhead_share"] = (
            1 - doc_elapsed_us / total if total else 0.0)
        med = statistics.median(busy) if busy else 0
        self.metrics["job.partition_skew"] = max(busy) / med if med else 0.0

    def control_plans(self, src):
        """Scan, + url-hash exchange, + identity Arrow hand-off, same parquet."""
        from pyspark.sql import functions as F

        pages = self.spark.read.parquet(*src).select("url", "html")
        parts = max(self.spark.sparkContext.defaultParallelism * 3, 8)
        exchanged = pages.repartition(parts, F.col("url"))
        plans = {
            "job.scan_s": pages,
            "job.exchange_s": exchanged,
            "job.handoff_s": exchanged.mapInPandas(identity_batches,
                                                   schema=pages.schema),
        }
        with self.tracer.span("control"):
            for key, df in plans.items():
                with self._group(f"control.{key.split('.')[1][:-2]}") as s:
                    df.agg(F.sum(F.length("html"))).collect()
                self.metrics[key] = s.seconds

    # ---- correctness ---------------------------------------------------
    def check_rows(self, rows, oracle, label):
        """Every oracle url exactly once, with the oracle's (status, digest)."""
        counts = Counter(url for url, _, _ in rows)
        self.attempted += len(oracle)
        self.errors[f"{label}.missing"] += sum(1 for u in oracle if u not in counts)
        self.errors[f"{label}.duplicated"] += sum(c - 1 for c in counts.values() if c > 1)
        self.errors[f"{label}.wrong_digest"] += sum(
            1 for url, status, sha in rows if oracle.get(url) != (status, sha))

    def check_tables(self, out, oracle, head_urls):
        """Committed tables: oracle rows, unique keys, exact resume work.

        Reads the parquet files directly, so checking adds no Spark jobs.
        """
        import pyarrow.parquet as pq

        def table(name, columns):
            return pq.read_table(f"{out}/{name}", columns=columns).to_pylist()

        rows = [(r["url"], r["status"], r["md_sha256"])
                for r in table("results", ["url", "status", "md_sha256"])]
        self.check_rows(rows, oracle, "persist")
        keys = Counter((r["url"], r["asset_name"])
                       for r in table("assets", ["url", "asset_name"]))
        self.errors["persist.asset_key_dup"] += sum(c - 1 for c in keys.values())
        by_run = Counter()
        for r in table("ledger", ["run_id", "m_docs"]):
            by_run[r["run_id"]] += r["m_docs"]
        tail = len(oracle) - len(head_urls)
        self.metrics["resume.rows_reextracted"] = by_run["r2"]
        for run_id, want in (("r1", len(head_urls)), ("r2", tail), ("r3", 0)):
            self.errors["persist.ledger_docs"] += by_run[run_id] != want

    # ---- the run -------------------------------------------------------
    def run(self):
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        import kernels
        from document_convert_to__markdown_spark.pipeline.job import (
            DEFAULT_GIANT_THRESHOLD,
        )

        outputs = []
        with self.tracer.span("workload", workload=self.workload, seed=self.seed):
            self.setup()
            with self.untraced("window"):  # end-to-end numbers: tracing off
                self.measure(outputs)

            if self.traced:
                # trace.overhead: a traced pass against the untraced pass
                # just before it, both after the window (equally warm).
                # The spans sit outside the Spark calls, so this is ~1.
                with self.untraced("pass") as base:
                    outputs.append(self.one_pass(len(outputs))[0])
                with self.tracer.span("pass", traced=True) as p:
                    out, seconds, _ = self.one_pass(len(outputs))
                outputs.append(out)
                self.metrics["trace.overhead"] = p.seconds / base.seconds
                src, job_s, job_rows = self.traced_job()
                if self.workload == "persist_resume":
                    self.metrics["resume.tail_s"] = seconds["resume.tail"]
                    self.metrics["sink.extra_s"] = seconds["sink.write"] - job_s
                self.control_plans(src)

            table = pq.read_table(self.corpus, columns=["url", "html"])
            rows = list(zip(table.column("url").to_pylist(),
                            table.column("html").to_pylist()))
            sizes = pc.binary_length(table.column("html"))
            self.metrics["job.giant_docs"] = pc.sum(
                pc.greater_equal(sizes, DEFAULT_GIANT_THRESHOLD)).as_py() or 0

            if self.traced:
                with self.tracer.span("extractors.l0"):
                    self.metrics.update(kernels.staged_l0(rows[:L0_MAX_DOCS],
                                                          self.tracer))
            with self.tracer.span("extractors.mp"):
                ctx = get_context("spawn")
                pool = ctx.Pool(self.cores)
                try:
                    pool.map(kernels.warm, range(self.cores))
                    oracle, mp_wall = kernels.run_oracle(pool, rows, 4 * self.cores)
                finally:
                    pool.close()
                    pool.join()
            self.metrics["extractors.mp_docs_per_s"] = len(rows) / mp_wall
            self.metrics["job.spark_efficiency"] = (
                self.metrics["docs_per_s"] / self.metrics["extractors.mp_docs_per_s"])

            def urls(files):
                return {url for f in files for url in
                        pq.read_table(f, columns=["url"]).column("url").to_pylist()}

            with self.tracer.span("check"):
                for out in outputs:
                    if self.workload == "cc_mixed":
                        self.check_rows(out, oracle, "cc")
                    else:
                        self.check_tables(out, oracle, urls(self.head_files()))
                if self.traced:
                    self.check_rows(job_rows, {u: oracle[u] for u in urls(src)}, "job")

        failed = sum(self.errors.values())
        self.metrics["error_rate"] = failed / self.attempted
        if failed:
            log("errors:", {k: v for k, v in self.errors.items() if v})
        if self.traced:
            path = os.path.join(WORK, f"trace-{self.tracer.trace_id}.json")
            self.tracer.write(path)
            log("trace written to", os.path.relpath(path, ROOT))
            log("self time (s):", {k: round(v, 3) for k, v in
                                   sorted(self.tracer.self_times().items())})
        wanted = PER_LAYER if self.traced else END_TO_END
        return {
            "correct": failed == 0,
            "attempted": self.attempted,
            "failed": failed,
            "metrics": {k: {"value": self.metrics.get(k, 0), "unit": unit}
                        for k, unit in wanted.items()},
        }


def stop_resource_tracker():
    """Stop multiprocessing's resource tracker and reap it.

    The spawn pool starts the tracker, which otherwise exits only on EOF
    after this process has gone, so it would outlive the run.  The pool's
    semaphores are freed first: their finalizers would start it again.
    """
    gc.collect()
    resource_tracker._resource_tracker._stop()


def become_subreaper():
    """Make processes orphaned below this one re-parent here, not to init.

    spark-class runs its launcher in a process substitution and then
    execs the JVM, so the launcher's shell can sit as an unreaped child
    of the JVM; the JVM's Python workers may outlive it briefly.  Both
    would be left to init when the JVM exits; as a subreaper this
    process gets them and ``reap_children`` waits for them.
    """
    PR_SET_CHILD_SUBREAPER = 36
    if ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0):
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def reap_children(timeout_s=30.0):
    """Reap every remaining child; kill any still running at the deadline."""
    from sparkstats import process_tree

    deadline = time.monotonic() + timeout_s
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() > deadline:
            for pid in process_tree(os.getpid())[1:]:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1,
                    help="corpus seed for synth_pages_df (non-negative)")
    ap.add_argument("--seconds", type=float, required=True,
                    help="measure whole passes until this many seconds have passed")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0,
                    help="1: traced run printing the per-layer metrics")
    args = ap.parse_args(argv)
    if args.seed < 0:
        ap.error("--seed must be non-negative")
    return args


def main(argv=None):
    args = parse_args(argv)
    cores = len(os.sched_getaffinity(0))
    # Spark's Python workers and the pool's spawned workers inherit this
    # environment; without the checkout on PYTHONPATH every Spark task
    # fails with ModuleNotFoundError when run from outside the repo root.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)       # local[nproc]
    sys.path.insert(0, ROOT)
    import document_convert_to__markdown_spark  # noqa: F401  fail fast outside a checkout

    work = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    become_subreaper()
    bench = Bench(args, cores, work)
    result = None
    try:
        result = bench.run()
    except Exception:
        # Handled here so the traceback's frames (and the pool's
        # semaphores they hold) are freed before the clean-up below.
        traceback.print_exc()
    finally:
        try:
            bench.close()
        finally:
            stop_resource_tracker()
            reap_children()
            shutil.rmtree(work, ignore_errors=True)
    if result is None:
        return 1
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
