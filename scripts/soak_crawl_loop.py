"""End-to-end incremental crawl loop: index → delta → point-fetch →
extract → MERGE.

This is the engine's flagship 100 TB shape, run whole: you never
rescan the archive — each new crawl segment ships a CDX index; the
loop anti-joins the index against the snapshot table's committed
urls, point-fetches ONLY the new captures out of the member-framed
WARC (seek+read of single gzip members — ``fetch_warc_by_index``),
extracts them, and MERGEs the results into the snapshot.

Two segments with embedded structure make every count closed-form:

- segment 1: ``n`` fresh documents;
- segment 2: ``n`` captures, half re-crawls of segment-1 urls
  (byte-identical content) and half new urls.

Checks: segment 1 fetches+extracts n; segment 2 fetches exactly n/2
(the re-crawled half never touches the archive — the anti-join killed
it index-side, at ~100 bytes/row instead of ~100 KB/row); the final
table holds 3n/2 rows, all ``status='ok'``, and the markdown hashes
equal a direct batch extraction of the same corpus (byte parity
through the loop).

Round 5 adds an INJECTED MID-LOOP KILL (VERDICT r4 item 8): after
segment 2 lands, the table is rewound to the state a SIGKILL during
segment 2's merge commit leaves behind — data files and manifest
written, ``_current`` never bumped, plus committer scratch debris —
and the loop re-runs the segment.  The recovery run must re-fetch
exactly the crashed half (anti-join sees only segment 1 committed),
converge the table back to 3n/2 rows with zero duplicate urls, and
leave no crash debris visible to readers.

Usage: python scripts/soak_crawl_loop.py [n_per_segment]  (default 2000)
Prints one JSON line.  Run serialized (no concurrent Spark jobs).
"""

import datetime
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 2000
    from document_convert_to__markdown_spark.pipeline.session import (
        default_cores,
    )

    cores = int(default_cores())

    from pyspark.sql import functions as F

    from document_convert_to__markdown_spark.data.synth import synth_page
    from document_convert_to__markdown_spark.pipeline.job import (
        run_extraction,
    )
    from document_convert_to__markdown_spark.pipeline.session import (
        build_session,
    )
    from document_convert_to__markdown_spark.sources import snapshot as snap
    from document_convert_to__markdown_spark.sources.cdx import (
        read_cdx,
        write_cdx,
    )
    from document_convert_to__markdown_spark.sources.warc import (
        fetch_warc_by_index,
        write_warc_members,
    )

    spark = build_session("soak-crawl-loop", master=f"local[{cores}]",
                          shuffle_partitions=2 * cores)
    spark.sparkContext.setLogLevel("ERROR")

    work = tempfile.mkdtemp(prefix="doc2md_crawlloop_")
    table = f"{work}/table"
    t_start = datetime.datetime(2024, 1, 1)
    results = {}

    def write_segment(seg: int, doc_ids: list) -> str:
        """One crawl segment: member-framed WARC shards + a CDX index."""
        seg_dir = f"{work}/seg{seg}"
        os.makedirs(seg_dir)
        caps = []
        shard_size = max(1, len(doc_ids) // 8)
        for s in range(0, len(doc_ids), shard_size):
            chunk = doc_ids[s:s + shard_size]
            fname = f"crawl-{seg}-{s // shard_size:03d}.warc.gz"
            rows = [(synth_page(d).url, synth_page(d).html)
                    for d in chunk]
            with open(f"{seg_dir}/{fname}", "wb") as fh:
                manifest = write_warc_members(rows, fh)
            for (url, off, ln), d in zip(manifest, chunk):
                ts14 = (t_start + datetime.timedelta(seconds=d)) \
                    .strftime("%Y%m%d%H%M%S")
                caps.append((f"surt)/{d}", ts14, {
                    "url": url, "mime": "text/html", "status": "200",
                    "digest": "-", "length": str(ln),
                    "offset": str(off), "filename": fname,
                }))
        with open(f"{seg_dir}/index.cdx.gz", "wb") as fh:
            write_cdx(caps, fh, compress=True)
        return seg_dir

    def ingest_segment(seg_dir: str) -> dict:
        """The loop body: index → anti-join → point-fetch → extract →
        MERGE."""
        t0 = time.time()
        captures = read_cdx(spark, f"{seg_dir}/index.cdx.gz") \
            .filter(F.col("status") == "200")
        try:
            have = snap.read(spark, table).select("url")
            todo = captures.join(have, "url", "left_anti")
        except FileNotFoundError:
            todo = captures
        n_todo = todo.count()
        pages = fetch_warc_by_index(spark, todo, seg_dir)
        res = run_extraction(pages, partitions=cores).results \
            .select("url", "status", "markdown", "md_sha256")
        if snap.current_version(table) == 0:
            snap.commit_append(res, table)   # bootstrap commit
        else:
            snap.merge_upsert(spark, table, res, key="url")
        return {"fetched": n_todo, "sec": round(time.time() - t0, 1)}

    try:
        seg1 = write_segment(1, list(range(n)))
        # segment 2: first half re-crawls 0..n/2-1, second half new
        seg2 = write_segment(2, list(range(n // 2))
                             + list(range(n, n + n // 2)))

        r1 = ingest_segment(seg1)
        results["seg1_fetched"] = r1["fetched"]
        results["seg1_sec"] = r1["sec"]
        r2 = ingest_segment(seg2)
        results["seg2_fetched"] = r2["fetched"]
        results["seg2_sec"] = r2["sec"]

        final = snap.read(spark, table)
        results["table_rows"] = final.count()
        results["n_ok"] = final.filter("status = 'ok'").count()
        # The synthetic corpus deliberately contains a few empty /
        # unsupported documents; they must surface as skipped_* status
        # rows (no silent drops, no failures), not as 'ok'.
        results["n_skipped"] = final.filter(
            "status like 'skipped%'").count()
        results["n_failed"] = final.filter("status = 'failed'").count()

        # Byte parity: the loop's markdown hashes == a direct batch
        # extraction of the same corpus.
        from document_convert_to__markdown_spark.pipeline.corpus import (
            synth_pages_df,
        )
        all_ids = list(range(n)) + list(range(n, n + n // 2))
        direct = run_extraction(
            synth_pages_df(spark, len(all_ids)), partitions=cores
        ).results.select("url", F.col("md_sha256").alias("want_sha"))
        joined = final.join(direct, "url")
        results["n_sha_match"] = joined.filter(
            "md_sha256 <=> want_sha").count()

        assert results["seg1_fetched"] == n, results
        assert results["seg2_fetched"] == n // 2, results  # delta only
        assert results["table_rows"] == n + n // 2, results
        assert results["n_ok"] + results["n_skipped"] \
            == results["table_rows"], results
        assert results["n_failed"] == 0, results
        assert results["n_sha_match"] == results["table_rows"], results

        # --- injected mid-loop kill (round 5) -------------------------
        # Rewind to the exact state a SIGKILL inside segment 2's merge
        # commit leaves: the commit's data dir and manifest are on disk
        # but _current still points at the segment-1 version (the
        # pointer rename is the atomic step), plus FileOutputCommitter
        # scratch debris under the next commit dir.
        v_crash = snap.current_version(table)
        with open(f"{table}/_current", "w") as fh:
            fh.write(str(v_crash - 1))
        debris = f"{table}/data/c{v_crash:05d}/_temporary/0/task_dead"
        os.makedirs(debris, exist_ok=True)
        with open(f"{debris}/part-zombie.parquet", "wb") as fh:
            fh.write(b"\x00" * 16)

        rows_seen_crashed = snap.read(spark, table).count()
        results["kill_rows_visible_after_crash"] = rows_seen_crashed

        r3 = ingest_segment(seg2)   # the recovery re-run of the loop
        results["kill_refetched"] = r3["fetched"]
        results["kill_recover_sec"] = r3["sec"]
        final2 = snap.read(spark, table)
        results["kill_rows"] = final2.count()
        results["kill_distinct_urls"] = \
            final2.select("url").distinct().count()
        joined2 = final2.join(direct, "url")
        results["kill_sha_match"] = joined2.filter(
            "md_sha256 <=> want_sha").count()

        # crash leaves the parent version readable, nothing partial
        assert rows_seen_crashed == n, results
        # recovery re-fetches exactly the crashed half, nothing more
        assert results["kill_refetched"] == n // 2, results
        # converged: no duplicate urls, byte parity holds
        assert results["kill_rows"] == n + n // 2, results
        assert results["kill_distinct_urls"] == n + n // 2, results
        assert results["kill_sha_match"] == results["kill_rows"], results
        results["checks"] = "pass"
    finally:
        shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({
        "metric": "crawl_loop_soak",
        "n_per_segment": n,
        "cores": cores,
        **results,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
