"""Structured Streaming front-end for the extraction pipeline.

The reference is strictly batch (SURVEY.md §2 Part B "Streaming:
absent"), but at 10^12-document scale new Common-Crawl snapshots arrive
continuously; the Spark-native shape is a file/Iceberg *stream* into the
same extraction logic the batch job uses:

    readStream(pages) ─ project(size gate) ─ mapInPandas(extract)
                      ─ results ─ writeStream

Checkpoint semantics come from Spark itself: the streaming checkpoint
(WAL + source offsets) makes the run **resumable exactly-once at the
input-file granularity** — a crash mid-run resumes from the last
committed micro-batch with no duplicate extraction.  This complements
the batch layer's url-keyed anti-join resume (pipeline/job.py): batch
resume recovers *within* a snapshot, the stream checkpoint recovers
*across* arrivals.

Watermarked windowed metrics (`stream_window_metrics`) demonstrate
late-data handling over `warc_ts`: per-window/per-format doc and byte
counts, tolerating `watermark_delay` of out-of-order crawl timestamps.

Everything here reuses the batch extractor body — one code path to keep
byte-parity guarantees identical between batch and streaming.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..extractors.extract import MAX_DOCUMENT_BYTES
from ..pipeline.job import _extract_partition, _gated
from ..pipeline.schemas import EXTRACT_SCHEMA, PAGES_SCHEMA, RESULT_COLUMNS


# One shared DDL for the events stream — six call sites read this
# source; a missed copy on schema evolution silently yields all-null
# columns (review r3c).
EVENTS_STREAM_SCHEMA = ("event_id long, ts timestamp, user_id long, "
                        "event_type string, value double, props string")


def _as_stream_source(path: str) -> str:
    """File-source streaming needs a directory (or glob) whose base path
    is a directory.  For a single parquet *file*, rewrite the final
    ``.parquet`` into the one-character glob class ``[.]parquet`` — it
    matches exactly that file while the inferred basePath becomes the
    parent directory.  (Replaces round 1's tempdir+symlink trick, which
    the driver environment could not follow — VERDICT.md "do this" #2.)
    """
    import os

    if os.path.isfile(path) and path.endswith(".parquet"):
        return path[: -len(".parquet")] + "[.]parquet"
    return path


def stream_extract_df(
    spark: SparkSession,
    input_path: str,
    max_files_per_trigger: Optional[int] = None,
    max_bytes: int = MAX_DOCUMENT_BYTES,
    source_format: str = "parquet",
) -> DataFrame:
    """Streaming extraction plan over arriving pages.

    ``source_format="parquet"``: a directory of pages-schema parquet —
    the sandbox stand-in for an Iceberg incremental scan
    (`spark.readStream.format("iceberg")` on a real cluster — same plan
    shape, different source).  ``source_format="warc"``: a directory of
    Common-Crawl-shaped ``.warc``/``.warc.gz`` archives, exploded to
    pages by ``sources.warc.read_warc_pages_stream`` — the
    continuous-crawl ingest path.  Giant-doc routing is not split into
    a second branch here: the micro-batch boundary itself bounds skew
    (small ``maxFilesPerTrigger`` keeps any one batch's giant count
    low).

    Batch/stream parity for the size gate: the same gated projection
    as run_extraction (``pipeline.job._gated``), with no exchange.
    Oversize documents are NOT filtered away — their ``html`` is nulled
    before Python, and the extractor body emits a blob-free
    ``skipped_too_large`` status row for each (no silent row drops).
    """
    if source_format == "warc":
        from ..sources.warc import read_warc_pages_stream

        pages = read_warc_pages_stream(
            spark, input_path, max_files_per_trigger=max_files_per_trigger)
    else:
        reader = spark.readStream.schema(PAGES_SCHEMA)
        if max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger",
                                   max_files_per_trigger)
        pages = reader.parquet(_as_stream_source(input_path))

    raw = _gated(pages, max_bytes).mapInPandas(
        _extract_partition, schema=EXTRACT_SCHEMA)
    return raw.filter(F.col("kind") == "doc").select(*RESULT_COLUMNS)


def run_stream_extraction(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    available_now: bool = True,
    max_files_per_trigger: Optional[int] = None,
    max_bytes: int = MAX_DOCUMENT_BYTES,
    source_format: str = "parquet",
):
    """Run the stream to parquet; returns the StreamingQuery.

    ``available_now=True`` drains everything currently in the source and
    stops — batch-like semantics with streaming's checkpoint/resume
    guarantees (the test-and-sandbox mode).  ``False`` runs continuous
    micro-batches for a live ingest.  Re-running with the same
    checkpoint only processes files added since the last commit.
    """
    results = stream_extract_df(spark, input_path, max_files_per_trigger,
                                max_bytes=max_bytes,
                                source_format=source_format)
    writer = (
        results.writeStream
        .format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_window_metrics(
    spark: SparkSession,
    input_path: str,
    window: str = "1 hour",
    watermark_delay: str = "2 hours",
) -> DataFrame:
    """Watermarked per-window ingest metrics (streaming aggregation).

    Groups arriving pages into event-time windows on ``warc_ts`` with a
    late-data watermark: crawl records up to ``watermark_delay`` out of
    order still land in their window; older ones are dropped and state
    for closed windows is reclaimed (bounded state at unbounded input —
    the property that matters at 10^12 rows).
    """
    pages = spark.readStream.schema(PAGES_SCHEMA).parquet(input_path)
    return (
        pages.withWatermark("warc_ts", watermark_delay)
        .groupBy(F.window("warc_ts", window).alias("w"), "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.coalesce(F.length("html"), F.lit(0))).alias("total_bytes"),
        )
        .select("w.start", "w.end", "lang", "n_docs", "total_bytes")
    )


def stream_dedup_user_counts(spark: SparkSession, events_path: str) -> DataFrame:
    """Streaming exact dedup (the crawl-ingest pattern: repeated urls
    across arrivals keep only their first occurrence) demonstrated on the
    events table: distinct users per event_type via stream-side
    ``dropDuplicates`` state.

    Drained, the result equals batch ``count(DISTINCT ...)`` — the DuckDB
    oracle.  At scale the dedup state is hash-partitioned by key across
    the state store; unbounded-state form — the production crawl feed
    uses ``stream_dedup_within_watermark`` below, whose state expires.
    """
    events = (
        spark.readStream
        .schema(EVENTS_STREAM_SCHEMA)
        .parquet(_as_stream_source(events_path))
    )
    agg = (
        events.select("event_type", "user_id")
        .dropDuplicates(["event_type", "user_id"])
        .groupBy("event_type")
        .agg(F.count("*").alias("n_distinct_users"))
    )
    return drain_stream_agg(agg, "stream_dedup_users",
                            state_partitions=8)


def stream_dedup_within_watermark(
    stream: DataFrame,
    keys: list[str],
    ts_col: str,
    delay: str,
) -> DataFrame:
    """Bounded-state streaming dedup — the production continuous-crawl
    form (VERDICT r2 next-round #4; named in stream_dedup_user_counts
    since round 2, now implemented).

    ``dropDuplicatesWithinWatermark`` keeps a key's dedup state only
    until the event-time watermark passes that key's timestamp plus
    ``delay``, then evicts it: on a true unbounded crawl feed the state
    store holds O(keys seen within the watermark horizon), not O(all
    keys ever) — the property plain ``dropDuplicates`` lacks.  The
    trade: a url re-crawled after the horizon is admitted again (which
    is usually *wanted* — a fresh crawl of an old page is new content).
    """
    return (
        stream.withWatermark(ts_col, delay)
        .dropDuplicatesWithinWatermark(keys)
    )


def stream_dedup_users_watermarked(spark: SparkSession, events_path: str,
                                   delay: str = "365 days") -> DataFrame:
    """Watermarked streaming dedup drained to a batch aggregate.

    Events deduped on (event_type, user_id) with watermark-bounded
    state, emitted append-mode to a memory sink, then aggregated as a
    batch — two stages so the stateful dedup is not chained with a
    complete-mode aggregate in one query.  With ``delay`` covering the
    whole synthetic corpus span nothing is evicted during the drain, so
    the result equals batch ``count(DISTINCT ...)`` — the DuckDB
    oracle.  (Production uses hours; the eviction behavior itself is
    pinned by tests/test_streaming.py's three-drain re-admission test.)
    """
    events = (
        spark.readStream
        .schema(EVENTS_STREAM_SCHEMA)
        .parquet(_as_stream_source(events_path))
    )
    deduped = stream_dedup_within_watermark(
        events.select("event_type", "user_id", "ts"),
        keys=["event_type", "user_id"], ts_col="ts", delay=delay)
    rows = drain_stream_agg(deduped, "stream_dedup_users_wm",
                            output_mode="append", state_partitions=8)
    return (
        rows.groupBy("event_type")
        .agg(F.count("*").alias("n_distinct_users"))
    )


def drain_stream_agg(agg: DataFrame, name: str,
                     output_mode: str = "complete",
                     state_partitions: int | None = None) -> DataFrame:
    """Run a streaming query to completion (availableNow) into a memory
    sink and return the result as a batch DataFrame.

    Complete-mode (aggregations) + availableNow drains everything
    currently in the source, so the result is deterministic and
    oracle-comparable — the harness path that lets streaming operators
    face the same DuckDB check as batch ones.  ``output_mode="append"``
    is the row-stream form (e.g. watermarked dedup output).

    ``state_partitions`` sizes the stateful-operator shuffle for THIS
    query: ``spark.sql.shuffle.partitions`` is captured at query start
    and frozen into the checkpoint, so a short availableNow drain over
    a session-default 64 partitions pays 64 × (n state stores) ×
    (n micro-batches) store init/commit rounds of pure fixed cost —
    the round-4 bench showed a stream-stream outer join spending ~20 s
    on ~10⁴ events exactly this way.  A continuous production query
    sizes this to its steady-state throughput instead; results are
    partition-count independent either way.  The session value is
    restored after start (it is only read at plan time).
    """
    spark = agg.sparkSession
    conf_key = "spark.sql.shuffle.partitions"
    saved = spark.conf.get(conf_key)
    if state_partitions is not None:
        spark.conf.set(conf_key, str(state_partitions))
    try:
        q = (
            agg.writeStream.format("memory").queryName(name)
            .outputMode(output_mode).trigger(availableNow=True).start()
        )
    finally:
        if state_partitions is not None:
            spark.conf.set(conf_key, saved)
    # Bounded wait: availableNow drains in seconds at test scale; if the
    # source stalls, fail loudly — a stopped-short drain would surface
    # truncated aggregates as if they were complete (review r2).
    if not q.awaitTermination(120):
        q.stop()
        raise TimeoutError("stream drain exceeded 120s; aggregate would "
                           "be partial")
    return spark.table(name)


def stream_events_daily(spark: SparkSession, events_path: str) -> DataFrame:
    """Watermarked 1-day tumbling-window rollup of the events stream.

    Exactly SQL-expressible once drained: window start == day truncation
    — the DuckDB oracle is a plain ``date_trunc('day', ts)`` GROUP BY.
    """
    events = (
        spark.readStream
        .schema(EVENTS_STREAM_SCHEMA)
        .parquet(_as_stream_source(events_path))
    )
    agg = (
        events.withWatermark("ts", "1 day")
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd").alias("day"),
            "event_type", "n_events", "total_value",
        )
    )
    return drain_stream_agg(agg, "stream_events_daily",
                            state_partitions=8)


def stream_stream_attribution(spark: SparkSession, events_path: str,
                              horizon: str = "2 hours",
                              delay: str = "365 days") -> DataFrame:
    """Watermarked stream-stream inner join — the attribution pattern
    (purchase within ``horizon`` after a click by the same user), the
    one streaming operator family the suite didn't yet cover.

    Both sides carry watermarks and the join condition carries the
    time-range bound, so Spark can size the join state: a click's state
    row is droppable once the buy-side watermark passes
    ``click_ts + horizon`` — bounded state on an unbounded feed, the
    same property ``stream_dedup_within_watermark`` gives dedup.  At
    crawl scale the identical shape joins a page-fetch stream to a
    robots/seen-url stream within a freshness horizon.

    Drained with availableNow over the static events table nothing is
    evicted mid-run, so the pair set equals the batch interval join —
    the DuckDB oracle.  That equality must hold even when availableNow
    splits a multi-file source across several micro-batches (each batch
    advances both watermarks): the default ``delay`` therefore covers
    the source's full time span, so no click state can be evicted
    before a later-file purchase arrives (ADVICE r3).  On a true
    unbounded feed the caller sets ``delay`` to the real lateness bound
    — that is what sizes the join state; the drain harness trades that
    bound for batch-equality.  Emitted append-mode, then aggregated per
    user AFTER the drain (stream-stream joins can't chain a
    complete-mode agg in one query).
    """
    schema = EVENTS_STREAM_SCHEMA
    src = _as_stream_source(events_path)
    clicks = (
        spark.readStream.schema(schema).parquet(src)
        .filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"),
                F.col("ts").alias("click_ts"),
                F.col("event_id").alias("click_id"))
        .withWatermark("click_ts", delay)
    )
    buys = (
        spark.readStream.schema(schema).parquet(src)
        .filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("b_user"),
                F.col("ts").alias("buy_ts"),
                F.col("event_id").alias("buy_id"))
        .withWatermark("buy_ts", delay)
    )
    pairs = clicks.join(
        buys,
        F.expr(f"c_user = b_user AND buy_ts >= click_ts "
               f"AND buy_ts <= click_ts + interval {horizon}"),
        "inner",
    )
    rows = drain_stream_agg(pairs, "stream_stream_attr",
                            output_mode="append", state_partitions=8)
    return (
        rows.groupBy(F.col("c_user").alias("user_id"))
        .agg(F.count("*").alias("n_pairs"),
             F.sum("click_id").alias("sum_click_id"),
             F.sum("buy_id").alias("sum_buy_id"))
    )


def stream_stream_attribution_outer(spark: SparkSession, events_path: str,
                                    horizon: str = "2 hours",
                                    delay: str = "1 hour") -> DataFrame:
    """Watermarked LEFT OUTER stream-stream join — the abandonment
    pattern (every click emits: either its in-horizon purchases, or a
    null-buy row once the click's match window has provably closed).

    This is the one stream-stream join form with genuinely different
    state semantics from the inner join (`stream_stream_attribution`):
    unmatched left rows are held in state and emitted with nulls only
    when the global watermark — ``min(max click_ts, max buy_ts) -
    delay`` under Spark's default min multiple-watermark policy —
    passes ``click_ts + horizon``, i.e. when no future purchase could
    still match.  Bounded state on an unbounded feed, AND a completeness
    guarantee the inner join can't give: silence is reported, not
    dropped.  At crawl scale the same shape reports fetched pages that
    never got a parse result within the freshness horizon.

    Drained with availableNow over a single-file source (the
    ``_as_stream_source`` contract here — one data batch, then the
    final no-data micro-batch that advances the watermark and flushes
    expired state) the emitted set is deterministic and exactly
    SQL-expressible; a multi-file out-of-order source could evict a
    click mid-run before a later file delivered its in-horizon
    purchase, which is correct streaming semantics but not the batch
    join the oracle replays:

    - matched rows  = the batch interval join, unconditionally;
    - null-buy rows = clicks with no in-horizon purchase AND
      ``click_ts + horizon < final watermark``.

    Clicks younger than that emit nothing in the drain (their window
    is still open); the DuckDB oracle replays the same cut.  ``delay``
    here is a real lateness bound, NOT the span-covering drain crutch
    the inner join's oracle harness uses — the whole point is watching
    state expire.  Aggregated per user after the drain.
    """
    schema = EVENTS_STREAM_SCHEMA
    src = _as_stream_source(events_path)
    clicks = (
        spark.readStream.schema(schema).parquet(src)
        .filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"),
                F.col("ts").alias("click_ts"),
                F.col("event_id").alias("click_id"))
        .withWatermark("click_ts", delay)
    )
    buys = (
        spark.readStream.schema(schema).parquet(src)
        .filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("b_user"),
                F.col("ts").alias("buy_ts"),
                F.col("event_id").alias("buy_id"))
        .withWatermark("buy_ts", delay)
    )
    # state_partitions=8: a one-batch drain over the session default
    # (64) spends ~20 s of pure state-store init/commit fixed cost on
    # ~10⁴ events (round-4 bench outlier); 8 keeps all 4 join state
    # stores × partitions × micro-batches proportionate to the drain.
    rows = drain_stream_agg(
        clicks.join(
            buys,
            F.expr(f"c_user = b_user AND buy_ts >= click_ts "
                   f"AND buy_ts <= click_ts + interval {horizon}"),
            "leftOuter",
        ),
        "stream_stream_attr_outer", output_mode="append",
        state_partitions=8)
    return (
        rows.groupBy(F.col("c_user").alias("user_id"))
        .agg(F.count("buy_id").alias("n_matched"),
             F.sum(F.when(F.col("buy_id").isNull(), 1)
                   .otherwise(0)).alias("n_expired_unmatched"),
             F.sum("click_id").alias("sum_click_id"),
             F.coalesce(F.sum("buy_id"), F.lit(0)).alias("sum_buy_id"))
    )


def run_stream_merge(spark: SparkSession, input_path: str, root: str,
                     checkpoint: str, key: str = "url",
                     schema: str = ("url string, warc_ts timestamp, "
                                    "html binary, text string, lang string"),
                     order_col: Optional[str] = "warc_ts",
                     timeout_sec: int = 300) -> None:
    """Continuous-crawl upsert sink: stream arriving page files into the
    snapshot table via ``foreachBatch`` + ``merge_upsert`` — the
    streaming end of the incremental loop (``snapshot_delta`` reads
    diffs, ``merge_upsert`` writes them; this wires an unbounded feed
    into the writer).

    Semantics per micro-batch: rows are deduped to one-per-key first
    (latest ``order_col`` wins, ties to the key's max — a url recrawled
    twice inside one batch must not insert twice), then matched keys
    replace and new keys insert.  ACROSS batches the same rule holds
    (ADVICE r3): a matched key is replaced only when the arriving row's
    ``order_col`` is strictly newer than the committed one (the
    ``MERGE WHEN MATCHED AND u.ts > t.ts`` guard) — so an out-of-order
    file drop (an older crawl processed after a newer one) can never
    regress a key to stale content; equal-or-older arrivals keep the
    committed row.  With ``order_col=None`` there is no recency notion
    and last-batch-wins applies — callers must then guarantee
    time-ordered arrival.  The streaming checkpoint makes the
    pipeline resumable exactly-once at file granularity: a second
    availableNow run over the same directory processes only files the
    WAL hasn't committed (pinned by test).  Iceberg form:
    ``writeStream.foreachBatch(λ: MERGE INTO)`` — identical shape.
    """
    from ..sources import snapshot as snap
    from pyspark.sql import Window

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        # deterministic tiebreak: two fetches of the same key with the
        # same order_col value (or no order_col at all) must not let
        # shuffle order pick the winner — rank ties by the md5 of the
        # full row payload (to_json base64-encodes binary), so reruns
        # of identical input commit identical tables (review r3b).
        payload = F.md5(F.to_json(F.struct(
            *[c for c in batch_df.columns if c != key])))
        order = ([F.col(order_col).desc_nulls_last()]
                 if order_col is not None else []) + [payload]
        w = Window.partitionBy(key).orderBy(*order)
        batch_df = (batch_df.withColumn("_rn", F.row_number().over(w))
                    .filter(F.col("_rn") == 1).drop("_rn"))
        if snap.current_version(root) == 0:
            snap.commit_overwrite(batch_df, root)
        else:
            if order_col is not None:
                # cross-batch recency guard: drop arrivals not strictly
                # newer than the committed row for their key (matched
                # keys only — unmatched keys have _cur_ord null and
                # always insert).  The committed side is projected to
                # (key, order_col) before the join, so the guard never
                # shuffles page payloads.
                cur = (snap.read(batch_df.sparkSession, root)
                       .select(F.col(key),
                               F.col(order_col).alias("_cur_ord")))
                batch_df = (
                    batch_df.join(cur, key, "left")
                    .filter(F.col("_cur_ord").isNull()
                            | (F.col(order_col).isNotNull()
                               & (F.col(order_col) > F.col("_cur_ord"))))
                    .drop("_cur_ord"))
            # per-batch dedup above guarantees key uniqueness — skip
            # merge_upsert's validation aggregation on the hot path
            snap.merge_upsert(batch_df.sparkSession, root, batch_df,
                              key=key, validate=False)

    q = (
        spark.readStream.schema(schema)
        .parquet(_as_stream_source(input_path))
        .writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_sec):
        q.stop()
        raise TimeoutError("stream merge drain exceeded timeout; table "
                           "state would be partial")


def run_stream_dedup_ingest(spark: SparkSession, input_path: str,
                            corpus_root: str, index_root: str,
                            checkpoint: str,
                            schema: str = "doc_id long, text string",
                            min_band_hits: int = 2,
                            timeout_sec: int = 300) -> None:
    """Continuous-crawl dedup ingest: the full production loop wired
    end-to-end — arriving documents stream through ``foreachBatch``,
    each micro-batch is (a) deduped within itself (exact, keep min
    doc_id), (b) screened against the PERSISTENT MinHash band index of
    everything already accepted (``operators.dedup.incremental_dedup``
    — per-batch work O(batch), never O(corpus)), and (c) the survivors
    are appended to the corpus snapshot table while their band rows
    extend the index table, so the NEXT batch screens against them too.

    This is the shape a 10^12-document corpus actually maintains: the
    corpus text is write-only (never re-read for dedup), the index
    carries 3 small ints per band row and is pre-bucketed by
    (band, band_hash) in storage at scale, and the work per crawl
    batch is proportional to the batch.  Crash safety composes from
    the parts: the streaming checkpoint gives file-granularity
    exactly-once for arrivals; corpus-then-index commit order means a
    crash between the two commits re-screens the batch against a
    slightly stale index on replay — duplicates it re-admits are
    bounded by that one batch (the same at-least-once-append trade
    Iceberg streaming ingest makes without multi-table transactions).

    Keep-first composes across granularities: an exact in-batch copy is
    flagged against the batch's min-doc_id keeper; a batch-2 copy of a
    batch-1 survivor is flagged because batch 1's bands are already
    committed.  No arrival is ever silently dropped — every input row
    lands in the corpus table, rejected ones with ``is_dup=true`` and
    ``dup_of`` (the in-batch keeper or the corpus doc); the curation
    read filters on the flag.  ``n_corpus_hits`` is 0 for in-batch
    exact dups (they never reach the index screen).
    """
    from ..operators.dedup import incremental_dedup, minhash_bands
    from ..sources import snapshot as snap

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        # exact in-batch dedup, keep-first by doc_id — flag, don't
        # drop.  Hash coalesce(text, ''): md5(NULL) is NULL and an
        # equi-join never matches NULL keys, so a null-text arrival
        # would otherwise vanish entirely (violating the no-silent-
        # drops invariant); folding null into the empty-text group
        # keeps every row and dedups empty content consistently.
        exact_h = F.md5(F.coalesce(F.col("text"), F.lit("")))
        keepers = (batch_df.select(exact_h.alias("_h"), "doc_id")
                   .groupBy("_h").agg(F.min("doc_id").alias("_keeper")))
        flagged = (batch_df.withColumn("_h", exact_h)
                   .join(keepers, "_h").persist())
        batch_dups = flagged.filter(
            F.col("doc_id") != F.col("_keeper")).select(
            *batch_df.columns,
            F.lit(True).alias("is_dup"),
            F.lit(0).cast("long").alias("n_corpus_hits"),
            F.col("_keeper").alias("dup_of"))
        uniq = (flagged.filter(F.col("doc_id") == F.col("_keeper"))
                .select(*batch_df.columns))
        # ONE Arrow signature pass per batch: these bands feed both
        # the index screen and the survivor index append below
        # (review finding: recomputing minhash for the append doubled
        # the dominant per-batch cost).
        uniq_bands = minhash_bands(uniq).persist()
        if snap.current_version(index_root) > 0:
            idx = snap.read(batch_df.sparkSession, index_root)
            screened = incremental_dedup(
                uniq, idx, min_band_hits=min_band_hits,
                arrival_bands=uniq_bands) \
                .withColumnRenamed("is_dup_of_corpus", "is_dup")
        else:
            screened = uniq.select(
                "*",
                F.lit(False).alias("is_dup"),
                F.lit(0).cast("long").alias("n_corpus_hits"),
                F.lit(None).cast("long").alias("dup_of"),
            )
        screened = screened.unionByName(batch_dups).persist()
        survivors = (screened.filter(~F.col("is_dup"))
                     .select(*batch_df.columns))
        # corpus first (audit rows incl. flagged dups), then index
        # (survivor bands only) — see crash-ordering note above.
        if snap.current_version(corpus_root) == 0:
            snap.commit_overwrite(screened, corpus_root)
        else:
            snap.commit_append(screened, corpus_root)
        new_bands = uniq_bands.join(
            survivors.select("doc_id"), "doc_id", "left_semi")
        if snap.current_version(index_root) == 0:
            snap.commit_overwrite(new_bands, index_root)
        else:
            snap.commit_append(new_bands, index_root)
        screened.unpersist()
        uniq_bands.unpersist()
        flagged.unpersist()

    q = (
        spark.readStream.schema(schema)
        .parquet(_as_stream_source(input_path))
        .writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_sec):
        q.stop()
        raise TimeoutError("stream dedup ingest exceeded timeout; corpus/"
                           "index state would be partial")
