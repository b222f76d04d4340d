"""Benchmark harness — prints ONE JSON line.

Headline metric: docs/sec markdown-extraction throughput over a
deterministic synthetic pages corpus (the BASELINE.json metric), plus
per-query wall times for the SQL-expressible operator suite at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1).

Env:
  SPARK_GRAFT_SF_DIR   sf directory (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS     local[N] cores (default: this host's CPU count)
  BENCH_N_DOCS         synthetic corpus size (default 8000)

Scaling evidence (north rule, N vs 4N): scripts/bench_scaling.py runs
the extraction job at local[1]/[4]/[8]/[32] in interleaved rounds and
writes BENCH.md (primary pair 1 -> 4 cores).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# The per-query subset benched (fast, shuffle/join/window/udf coverage).
BENCH_QUERIES = [
    "tpch_q1_pricing",
    "tpch_q3_topk",
    "tpch_q5_region_revenue",
    # round-5: the TPC-H tail (VERDICT r4 "what's missing" #4 — a
    # regression here was invisible round-over-round)
    "tpch_q4_order_priority",
    "tpch_q6_revenue_delta",
    "tpch_q13_custdist",
    "tpch_q14_promo",
    # round-5: dedup/ANN variants previously unbenched
    "dedup_simhash",
    "neardup_pipeline",
    "ann_lsh_topk",
    "window_topk_docs",
    "sessionize_events",
    "dedup_exact",
    "dedup_minhash_lsh",
    "neardup_embedding_cosine",
    "ann_topk_cosine",
    "ann_ivf_topk",
    "text_langid",
    "token_stats",
    "text_winnow_fps",
    "extract_cleanup_chain",
    "dataset_split",
    "curation_pipeline",
    # round-2 curation gates
    "filter_repetition_stats",
    "filter_gopher_summary",
    "pii_scrub_audit",
    "decontaminate_benchmark",
    "domain_cap",
    "weighted_sample",
    "token_budget_select",
    "asof_join_attribution",
    "interval_join_errors",
    "tfidf_cosine_pairs",
    "sketch_distinct",
    # round-3 operators
    "dedup_paragraphs",
    "dedup_substring_spans",
    "bpe_tokenize",
    "bm25_topk",
    "url_canonicalize",
    "text_lm_quality",
    "pack_sequences",
    "dsir_select",
    # round-3b operators (quality_classifier excluded: 10-epoch
    # training loop is a multi-job benchmark of its own, not a query)
    "snapshot_delta",
    "chunk_documents",
    "quantized_ann",
    "host_pagerank",
    "semdedup_prune",
    "pq_ann_topk",
    # round-3c/3d operators (VERDICT r3 item 6: absent from the bench
    # list meant a future regression in them was invisible)
    "frontier_schedule",
    "dedup_keep_best",
    "cluster_safe_split",
    "dedup_incremental",
    "text_ngram_novelty",
    "udaf_harmonic_mean",
    # round-4
    "lm_quality_scalable",
    "robots_filter",
    "topk_terms_sketch",
    "snapshot_take_down",
    "dedup_clusters_star",
    "snapshot_changelog",
    "robots_parse_rules",
    "stats_pruned_scan",
    # round-4b join hardening + hybrid retrieval + WET ingest
    "skew_salted_join",
    "bloom_prune_join",
    "hybrid_rrf_retrieval",
    "wet_ingest",
    "wet_datasource_scan",
    # round-5k: tar-shard export -> archive ingest round trip
    "archive_shard_roundtrip",
    "archive_datasource_rw",
    # round-5l: Wikipedia multistream dump ingest + index point reads
    "wikidump_ingest",
    "stream_stream_outer_join",
    "cdx_ingest",
    "cdx_selective_fetch",
    "charset_decode",
    "snapshot_schema_evolution",
    "sitemap_discovery",
    # round-5: the previously-unbenched heavies (VERDICT r4 item 5 — a
    # regression in them was invisible round-over-round), including the
    # four availableNow streaming drains and the training loop.
    "quality_classifier",
    "snapshot_merge",
    "zorder_layout",
    "sketch_union_hll",
    "variant_semistructured",
    "ann_truncated_recall",
    "temperature_resample",
    "stream_window_events",
    "stream_dedup_users",
    "stream_dedup_watermarked",
    "stream_sessionize_stateful",
    # round-5 multimodal: perceptual-hash image near-dup (real PNG
    # decode), GIF-vs-PNG codec parity, spectral audio fingerprint
    "image_dhash_neardup",
    "multimodal_gif_decode",
    "audio_spectral_hash",
    "multimodal_frame_sample",
    "multimodal_media_meta",
    # round-5b: baseline JPEG decode (444/420/RST/gray) and MJPEG AVI
    # demux through the from-scratch T.81 pipeline
    "multimodal_jpeg_decode",
    "video_mjpeg_demux",
    # round-5f: progressive (SOF2) JPEG vs baseline pixel parity, and
    # Adam7/16-bit/sub-byte PNG variants vs plain-8-bit parity
    "multimodal_jpeg_progressive",
    "multimodal_png_depths",
    "multimodal_codec_variants",
    # round-5c: ICO (favicon) container walk vs PNG pixel parity
    "multimodal_ico_decode",
    "multimodal_webp_decode",
    "multimodal_vp8_decode",
    # round-5i: tiled/planar/palette/sub-byte/16-bit TIFF layouts
    "multimodal_tiff_layouts",
    # round-5i: EXIF parse + orientation-normalized dHash
    "image_exif_orientation",
    # round-5i: ID3/Vorbis/RIFF-INFO audio provenance tags
    "audio_tags_scan",
    # round-5i: SRT/WebVTT cue explosion
    "caption_cues_scan",
    # round-5i: OpenGraph/JSON-LD/canonical page-metadata enrichment
    "page_metadata_scan",
    # round-5j: ISO-BMFF/EBML/Ogg video-container metadata scan
    "video_container_meta",
    # round-5j: HEIF/AVIF brand routing + ispe dims
    "heif_image_meta",
    # round-5j: XMP rights/licensing scan across four carriers
    "xmp_rights_scan",
    # round-5j: ID3/FLAC cover-art extraction -> image dHash dedup
    "audio_cover_art_dedup",
    # round-5g: animated-PNG compositing (acTL/fcTL/fdAT, Porter-Duff
    # OVER, dispose background/previous)
    "multimodal_apng_decode",
    # round-5g: FLAC-vs-WAV spectral-fingerprint parity through the
    # from-scratch RFC 9639 decoder
    "audio_flac_decode",
    # round-5g: animated-WebP (ANMF) compositing — the animation trio
    "multimodal_webp_anim",
    # stream_dedup_ingest excluded: two full streaming drains + 4
    # snapshot commits (~44s at sf0.1) is a soak, not a query; its
    # components (dedup_incremental, minhash bands, snapshot commits)
    # are each benched above.
]


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from document_convert_to__markdown_spark.pipeline.session import (
        default_cores,
    )

    cpus = int(default_cores())
    n_docs = int(os.environ.get("BENCH_N_DOCS", "8000"))
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    import __spark_entry__ as entrymod
    from document_convert_to__markdown_spark.pipeline.corpus import synth_pages_df
    from document_convert_to__markdown_spark.pipeline.job import run_extraction
    from document_convert_to__markdown_spark.pipeline.session import build_session

    spark = build_session("bench", master=f"local[{cpus}]",
                          shuffle_partitions=2 * cpus)
    spark.sparkContext.setLogLevel("ERROR")

    t_all0 = time.time()

    # --- headline: extraction throughput over the synthetic corpus -------
    # Corpus is materialized to parquet once (deterministic, reused across
    # bench runs) so the measured window is the production shape:
    # parquet scan → repartition → Arrow extract.
    corpus_path = f"/tmp/doc2md_bench_pages_{n_docs}_s42"
    if not os.path.exists(f"{corpus_path}/_SUCCESS"):
        synth_pages_df(spark, n_docs, partitions=3 * cpus) \
            .write.mode("overwrite").parquet(corpus_path)
    pages = spark.read.parquet(corpus_path)

    # Best-of over interleaved rounds (VERDICT r2 #9, hardened r5 #3):
    # the sandbox VM has 10-40% noisy-neighbor windows, and a single
    # pass let that drift masquerade as round-over-round regressions
    # (the r03→r04 headline swung 2,997→1,954 docs/s with zero code
    # change on the path).  The extraction measurement is now INSIDE
    # the round loop — one sample per round, interleaved with the
    # query sweep so a noise window can't sit on all extraction
    # samples — and every per-round value plus the spread is emitted
    # so a real regression is distinguishable from a noisy window.
    # Round 1 also doubles as JIT warm-up.
    rounds = int(os.environ.get("BENCH_ROUNDS", "3"))

    queries = entrymod.queries()
    extract_secs: list[float] = []
    q_times: dict[str, float] = {}
    n_done = 0
    for _ in range(rounds):
        t0 = time.time()
        plan = run_extraction(pages, partitions=cpus)
        n_done = plan.results.filter("status is not null").count()
        extract_secs.append(round(time.time() - t0, 3))

        for name in BENCH_QUERIES:
            fn = queries[name]
            t0 = time.time()
            df = fn(spark, sf_dir)
            df.count()  # force full execution
            took = round(time.time() - t0, 3)
            if name not in q_times or took < q_times[name]:
                q_times[name] = took
    extract_sec = min(extract_secs)
    docs_per_sec = round(n_done / extract_sec, 2)

    total_sec = round(time.time() - t_all0, 2)
    print(json.dumps({
        "metric": "extraction_docs_per_sec",
        "value": total_sec,
        "unit": "sec",
        "docs_per_sec": docs_per_sec,
        "extract_docs": n_done,
        "extract_sec": round(extract_sec, 2),
        "extract_secs_all_rounds": extract_secs,
        # spread = slowest/fastest round (round 1 is structurally cold:
        # JIT + code shipping, typically 3-7x); warm spread excludes it
        # — >1.3 there means a noisy window hit the run and the best-of
        # is the trustworthy sample.
        "extract_spread": round(max(extract_secs) / min(extract_secs), 2),
        "extract_spread_warm": (
            round(max(extract_secs[1:]) / min(extract_secs[1:]), 2)
            if len(extract_secs) > 2 else None),
        "cores": cpus,
        "rounds": rounds,
        "queries": q_times,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
