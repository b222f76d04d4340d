"""Physical-plan audits: the scale properties SURVEY §4 claims must be
visible in `.explain` — pushdown, pruning, broadcast, shuffle count.

These tests pin the *plan shape*, not timings: a regression that adds a
shuffle or un-broadcasts a dim join fails here long before it is slow
enough to notice on sandbox data.
"""

import contextlib
import io

import pytest
from pyspark.sql import functions as F


def plan_str(df, mode="formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


@pytest.fixture(scope="module")
def sf(scope="module"):
    return "/root/testdata/sf0.01"


def test_size_filter_pushed_to_scan(spark, sf):
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    df = docs.filter(F.col("n_chars") <= 3000).select("doc_id", "n_chars")
    plan = plan_str(df)
    assert "PushedFilters: [IsNotNull(n_chars), LessThanOrEqual(n_chars,3000)" \
        in plan, plan


def test_column_pruning_reaches_scan(spark, sf):
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    df = docs.select("doc_id", "lang")
    plan = plan_str(df)
    # ReadSchema lists only the projected columns — no text blob read.
    assert "ReadSchema: struct<doc_id:bigint,lang:string>" in plan, plan


def test_tpch_q5_broadcasts_dims(spark, sf):
    import __spark_entry__ as e

    plan = plan_str(e.queries()["tpch_q5_region_revenue"](spark, sf))
    # nation/region arrive via broadcast, never a shuffle.
    assert "BroadcastHashJoin" in plan, plan
    assert plan.count("BroadcastExchange") >= 2, plan


def test_brute_force_topk_no_shuffle(spark, sf):
    from document_convert_to__markdown_spark.operators.similarity import (
        brute_force_topk,
    )

    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    plan = plan_str(brute_force_topk(emb, [0.1] * 64, k=10))
    # top-k is TakeOrderedAndProject: partial top-k per partition, one
    # driver merge — no global sort exchange.
    assert "TakeOrderedAndProject" in plan, plan
    assert "Exchange" not in plan, plan


def test_extraction_single_shuffle_and_pruning(spark):
    from document_convert_to__markdown_spark.pipeline.corpus import synth_pages_df
    from document_convert_to__markdown_spark.pipeline.job import run_extraction

    pages = synth_pages_df(spark, 50, partitions=4)
    pages_path = "/tmp/doc2md_plan_pages"
    pages.write.mode("overwrite").parquet(pages_path)
    plan = plan_str(
        run_extraction(spark.read.parquet(pages_path), partitions=8).results,
        mode="simple",
    )
    # One scan, one exchange routing normal and giant rows by partition
    # id, one Python node — the size gate is a projection, not a branch,
    # and nothing shuffles after the UDF.
    assert plan.count("FileScan") == 1, plan
    assert plan.count("Exchange") == 1, plan
    assert "Exchange shufflepartitionidpassthrough" in plan, plan
    assert plan.count("MapInPandas") == 1, plan
    assert "ArrowEvalPython" not in plan, plan
    assert "BatchEvalPython" not in plan, plan
    # Only url+html leave the scan: text/lang/warc_ts pruned.
    assert "ReadSchema: struct<url:string,html:binary>" in plan, plan


def test_partition_pruning_on_lang(spark, tmp_path):
    """Hive-style lang partitions: a lang filter must become a
    PartitionFilter (skipped directories), not a row filter."""
    from document_convert_to__markdown_spark.pipeline.corpus import synth_pages_df

    path = str(tmp_path / "pages_by_lang")
    synth_pages_df(spark, 200, partitions=4) \
        .write.partitionBy("lang").parquet(path)
    df = spark.read.parquet(path).filter(F.col("lang") == "en") \
        .select("url", "lang")
    plan = plan_str(df, mode="simple")
    assert "PartitionFilters: [isnotnull(lang" in plan, plan
    assert "(lang" in plan.split("PartitionFilters")[1][:80], plan
    # the lang predicate must NOT appear as a post-scan row Filter
    assert "PushedFilters: []" in plan, plan


def test_bucketed_join_eliminates_shuffle(spark, sf):
    """Pre-bucketed tables on the join key co-locate: the join plan has
    no Exchange — the 100TB pattern for repeated url-keyed joins
    (results x golden, results x assets)."""
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    spark.sql("DROP TABLE IF EXISTS docs_bucketed_a")
    spark.sql("DROP TABLE IF EXISTS docs_bucketed_b")
    docs.select("doc_id", "lang").write.bucketBy(8, "doc_id") \
        .sortBy("doc_id").saveAsTable("docs_bucketed_a")
    docs.select("doc_id", "n_chars").write.bucketBy(8, "doc_id") \
        .sortBy("doc_id").saveAsTable("docs_bucketed_b")

    a = spark.table("docs_bucketed_a")
    b = spark.table("docs_bucketed_b")
    joined = a.join(b, "doc_id")
    # Disable auto-broadcast: at 100TB neither side broadcasts; the point
    # is that bucket co-location replaces the shuffle, not the small-table
    # shortcut.
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = plan_str(joined, mode="simple")
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan
        assert joined.count() == docs.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)


def test_exact_dedup_partial_agg(spark, sf):
    from document_convert_to__markdown_spark.operators.dedup import (
        exact_duplicates,
    )

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    plan = plan_str(exact_duplicates(docs), mode="simple")
    # Map-side partial aggregation: two HashAggregates around one
    # exchange keyed on the md5, so text never crosses the shuffle.
    assert plan.count("HashAggregate") == 2, plan
    assert "Exchange hashpartitioning(text_hash" in plan, plan
    assert "text#" not in plan.split("Exchange")[0], plan


def test_decontamination_broadcasts_benchmark(spark, sf):
    """Benchmark grams must broadcast — the corpus side never shuffles
    for the join (only the final per-doc aggregation exchanges)."""
    from document_convert_to__markdown_spark.operators.decontam import (
        ngram_contamination,
    )

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    p = plan_str(ngram_contamination(corpus, bench, n=4))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_interval_join_is_hash_join(spark, sf):
    """The BETWEEN predicate must ride a binned hash equi-join — never
    a nested-loop/cartesian plan."""
    from document_convert_to__markdown_spark.operators.asof import (
        interval_join,
    )

    ev = spark.read.parquet(f"{sf}/events.parquet")
    clicks = ev.filter("event_type = 'click'").select(
        "user_id",
        (F.col("ts") - F.expr("INTERVAL 15 MINUTES")).alias("start"),
        (F.col("ts") + F.expr("INTERVAL 15 MINUTES")).alias("end"))
    errors = ev.filter("event_type = 'error'").select("user_id", "ts")
    p = plan_str(interval_join(errors, clicks, point_col="ts",
                               by="user_id"))
    assert "HashJoin" in p
    assert "NestedLoop" not in p and "Cartesian" not in p


def test_asof_join_single_shuffle(spark, sf):
    """The union-window as-of plan exchanges exactly once (on the key)."""
    from document_convert_to__markdown_spark.operators.asof import asof_join

    ev = spark.read.parquet(f"{sf}/events.parquet")
    clicks = ev.filter("event_type = 'click'") \
        .select("event_id", "user_id", "ts")
    views = ev.filter("event_type = 'view'").select("user_id", "ts", "value")
    p = plan_str(asof_join(clicks, views, on="ts", by="user_id",
                           right_cols=["value"]), mode="simple")
    assert p.count("Exchange hashpartitioning") == 1


def test_paragraph_dedup_broadcasts_dups_and_prunes_text(spark, sf):
    """Duplicate-paragraph removal: the dup-hash set arrives by
    broadcast (boilerplate is few distinct strings), and the
    distinct-doc count shuffles only (para_hash, doc_id) — paragraph
    text never crosses that exchange."""
    from document_convert_to__markdown_spark.operators.dedup import (
        remove_duplicate_paragraphs,
    )

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    aug = docs.select(
        "doc_id",
        F.concat_ws("\n", F.substring("text", 1, 60), F.lit("boiler"),
                    F.substring("text", 31, 60)).alias("text"))
    p = plan_str(remove_duplicate_paragraphs(aug), mode="simple")
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, p
    # count side exchanges on (para_hash[, doc_id]) only; para text is
    # projected away before both count exchanges.
    count_side = p.split("BroadcastExchange")[1]
    for ex in count_side.split("Exchange hashpartitioning")[1:]:
        head = ex[:60]
        assert "para_hash#" in head, p
        assert "para#" not in head, p


def test_url_canonicalize_is_pure_codegen_projection(spark, sf):
    """canonicalize_url is a single whole-stage-codegen projection —
    no shuffle, no Python, runs at scan speed on all 10^12 rows."""
    from document_convert_to__markdown_spark.functions.url import (
        canonicalize_url,
    )

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    df = docs.select(canonicalize_url(
        F.concat(F.lit("https://Ex.com/"), F.col("doc_id").cast("string"))
    ).alias("u"))
    p = plan_str(df, mode="simple")
    assert "Exchange" not in p, p
    assert "*(1)" in p, p  # whole-stage codegen stage
    assert "Python" not in p and "BatchEval" not in p, p


def test_neardup_auto_mode_keeps_grouped_map_and_no_cartesian(spark, sf):
    """Auto sub-bucketing adds the width join but must stay two
    grouped-map branches over hash exchanges — no cartesian, no
    nested-loop, and the width relation joins on label (the same key
    the groupBys shuffle on)."""
    from document_convert_to__markdown_spark.operators.similarity import (
        neardup_pairs_cosine,
    )

    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    p = plan_str(neardup_pairs_cosine(emb, threshold=0.35), mode="simple")
    assert p.count("FlatMapGroupsInPandas") == 2, p
    assert "Cartesian" not in p and "NestedLoop" not in p, p


def test_lm_score_partial_aggs_and_tiny_cross_join(spark, sf):
    """ngram_lm_score: gram-count aggregations partial-combine map-side
    (only (gram, count) crosses each exchange), the model joins by gram
    key, and the only nested-loop join is the broadcast of the 1-row
    vocabulary relation — never a corpus-sized cartesian."""
    from document_convert_to__markdown_spark.operators.text import (
        ngram_lm_score,
    )

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    p = plan_str(ngram_lm_score(docs), mode="simple")
    # partial + final HashAggregate pairs for unigram, bigram and vocab
    assert p.count("HashAggregate") >= 6, p
    # the vocab cross join broadcasts one row; no cartesian product
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" in p, p
    assert p.count("BroadcastNestedLoopJoin") == 1, p


def test_domain_cap_two_bounded_windows(spark, sf):
    """Salted top-k: exactly two exchanges — (domain, salt) then domain
    over the cap-bounded survivors."""
    from document_convert_to__markdown_spark.operators.sampling import (
        domain_cap,
    )

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    p = plan_str(domain_cap(docs, domain_col="source", cap=10,
                            order_cols=[F.col("n_chars").desc(),
                                        F.col("doc_id")]), mode="simple")
    assert p.count("Exchange hashpartitioning") == 2


def test_substring_span_dedup_broadcasts_dups_and_prunes_text(spark, sf):
    """ExactSubstr span removal: the duplicated-window-hash set arrives
    by broadcast (most windows are unique, the dup set is tiny) and the
    distinct-doc count exchange carries (h, doc_id) only — neither the
    word array nor document text crosses it."""
    from document_convert_to__markdown_spark.operators.dedup import (
        remove_duplicate_spans,
    )

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    aug = docs.select(
        "doc_id",
        F.concat_ws(" ", F.substring("text", 1, 60),
                    F.lit("one two three four five six seven eight nine"),
                    F.substring("text", 61, 60)).alias("text"))
    p = plan_str(remove_duplicate_spans(aug, n=8, min_docs=5),
                 mode="simple")
    assert "BroadcastHashJoin" in p, p
    assert "CartesianProduct" not in p and "NestedLoop" not in p, p
    # every hash-count exchange is keyed on the window hash h, and the
    # word array / raw text never ride those exchanges
    count_side = p.split("BroadcastExchange")[1]
    for ex in count_side.split("Exchange hashpartitioning")[1:]:
        head = ex[:60]
        if "h#" in head:
            assert "w#" not in head and "text#" not in head, p


def test_provenance_scans_are_exchange_free(spark, sf):
    """Round-5i header scans (media_exif / media_tags / caption_cues /
    page_metadata) must stay one narrow mapInPandas pass: scan →
    project → Arrow eval, NO Exchange — at 10^9 rows any shuffle here
    would dominate the job for what is a per-row header parse."""
    from document_convert_to__markdown_spark.operators.multimodal import (
        caption_cues, media_exif, media_tags, media_video, media_xmp,
    )
    from document_convert_to__markdown_spark.operators.pagemeta import (
        page_metadata,
    )

    docs = spark.read.parquet(f"{sf}/documents.parquet") \
        .selectExpr("cast(doc_id as string) as url",
                    "cast(text as binary) as data",
                    "text as html")
    for op, col in ((media_exif, None), (media_tags, None),
                    (caption_cues, None), (media_video, None),
                    (media_xmp, None), (page_metadata, "html")):
        out = op(docs) if col is None else op(docs, html_col=col)
        plan = plan_str(out)
        assert "Exchange" not in plan, (op.__name__, plan)
        assert "ArrowEvalPython" in plan or "MapInPandas" in plan, \
            (op.__name__, plan)


def test_archive_read_is_exchange_free(spark, tmp_path):
    """Archive member explosion (sources/archive.py) must go scan →
    mapInPandas with NO Exchange between them — at 100k-archive scale
    a shuffle of raw bundle bytes would double the job's IO for
    nothing (one archive = one task is the whole contract)."""
    import tarfile

    from document_convert_to__markdown_spark.sources.archive import (
        read_archive_docs,
    )

    p = tmp_path / "b.tar"
    with tarfile.open(p, "w") as tf:
        info = tarfile.TarInfo("m.txt")
        info.size = 1
        import io as _io
        tf.addfile(info, _io.BytesIO(b"x"))
    df = read_archive_docs(spark, str(tmp_path), path_glob_filter="*.tar")
    plan = plan_str(df)
    assert "Exchange" not in plan, plan
    assert "MapInPandas" in plan or "ArrowEvalPython" in plan, plan


def test_shard_pack_single_range_exchange(spark):
    """pack_tar_shards must cost exactly one range Exchange (the
    url-range assignment) and an in-partition sort — no global sort,
    no second shuffle: shard packing scales as one pass."""
    from document_convert_to__markdown_spark.sources.archive import (
        pack_tar_shards,
    )

    df = spark.range(100).selectExpr(
        "cast(id as string) as url",
        "encode(cast(id as string), 'UTF-8') as html")
    out = pack_tar_shards(df, "/tmp/_plan_probe_shards",
                          target_bytes=10 ** 6, num_tasks=4)
    plan = plan_str(out, mode="simple")
    assert plan.count("Exchange") == 1, plan
    assert "rangepartitioning" in plan.lower(), plan
    # the Sort's global flag prints as the second argument:
    # "[url ASC NULLS FIRST], false, 0" = partition-local sort
    assert "Sort" in plan and "], false, 0" in plan, plan


def test_wikidump_read_is_exchange_free(spark, tmp_path):
    """Dump ingest must go scan → mapInPandas → filter with NO
    Exchange (one dump file = one task; the ns filter is a narrow
    post-projection)."""
    from document_convert_to__markdown_spark.sources.wikidump import (
        build_wikidump,
        read_wikidump_pages,
    )

    dump, _ = build_wikidump(
        [("T", 0, 1, "2020-01-01T00:00:00Z", "x")])
    (tmp_path / "d-multistream.xml.bz2").write_bytes(dump)
    plan = plan_str(read_wikidump_pages(spark, str(tmp_path)))
    assert "Exchange" not in plan, plan
    assert "MapInPandas" in plan, plan


def test_wikidump_fetch_single_offset_exchange(spark, tmp_path):
    """Index-driven point reads cost exactly one Exchange (the
    per-offset task assignment) — never a scan of the dump, never a
    window over the index."""
    import bz2 as _bz2

    from document_convert_to__markdown_spark.sources.wikidump import (
        build_wikidump,
        fetch_pages_by_index,
        read_multistream_index,
    )

    dump, index = build_wikidump(
        [(f"T{i}", 0, i + 1, "2020-01-01T00:00:00Z", "x")
         for i in range(6)], pages_per_stream=2)
    dp = tmp_path / "d-multistream.xml.bz2"
    dp.write_bytes(dump)
    ip = tmp_path / "d-multistream-index.txt.bz2"
    ip.write_bytes(_bz2.compress(index.encode()))
    idx = read_multistream_index(spark, str(ip))
    out = fetch_pages_by_index(spark, idx.filter("page_id in (1, 5)"),
                               str(dp))
    plan = plan_str(out, mode="simple")
    assert plan.count("Exchange") == 1, plan
    assert "Window" not in plan, plan
