"""Web-corpus curation gates: repetition stats, Gopher rules, PII
scrub, benchmark decontamination, per-domain caps."""

from pyspark.sql import functions as F

from document_convert_to__markdown_spark.operators.decontam import (
    ngram_contamination,
)
from document_convert_to__markdown_spark.operators.filters import (
    gopher_filter_summary,
    gopher_keep,
    pii_scrub,
    repetition_stats,
)
from document_convert_to__markdown_spark.operators.sampling import domain_cap


def _docs(spark):
    return spark.read.parquet("/root/testdata/sf0.01/documents.parquet")


# --------------------------------------------------------------------------
# repetition / Gopher
# --------------------------------------------------------------------------

def test_repetition_stats_detects_planted_repeats(spark):
    rows = [
        (1, "the and of a b c d e f g h i j", "en"),   # varied
        (2, "spam spam spam spam spam spam spam", "en"),  # degenerate
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    out = {r["lang"]: r for r in repetition_stats(df).collect()}
    en = out["en"]
    assert en["n_docs"] == 2
    # doc 2: 7 tokens, 1 distinct -> dupf 6/7; top bigram 6/6
    assert en["n_repetitive"] == 1
    assert 0 < en["dup_word_frac"] < 1


def test_repetition_stats_covers_corpus(spark):
    out = repetition_stats(_docs(spark))
    assert out.count() == 5  # one row per lang
    row = out.filter("lang = 'en'").first()
    assert 0.0 <= row["top_bigram_frac"] <= 1.0


def test_gopher_filter_partitions_corpus(spark):
    docs = _docs(spark)
    summary = gopher_filter_summary(docs)
    total = summary.agg(F.sum("n_docs")).first()[0]
    assert total == docs.count()  # every doc gets exactly one verdict
    kept = gopher_keep(docs)
    keep_total = (summary.filter("gopher_verdict = 'keep'")
                  .agg(F.sum("n_docs")).first()[0]) or 0
    assert kept.count() == keep_total
    assert kept.columns == docs.columns  # original schema back


def test_gopher_flags_word_count_floor(spark):
    df = spark.createDataFrame(
        [(1, "too short", "en")], ["doc_id", "text", "lang"])
    out = gopher_filter_summary(df).first()
    assert out["gopher_verdict"] == "too_few_words"


# --------------------------------------------------------------------------
# PII scrub
# --------------------------------------------------------------------------

def test_pii_scrub_replaces_and_counts(spark):
    df = spark.createDataFrame(
        [(1, "mail bob.smith+x@corp.example.org from 192.168.0.1 "
             "call 555-0199 twice 555-0200")],
        ["doc_id", "text"])
    row = pii_scrub(df).first()
    assert row["n_email"] == 1
    assert row["n_ip"] == 1
    assert row["n_phone"] == 2
    s = row["text_scrubbed"]
    assert "<EMAIL>" in s and "<IP>" in s and s.count("<PHONE>") == 2
    assert "bob.smith" not in s and "192.168" not in s


def test_pii_scrub_international_phone_family(spark):
    """The broadened family (VERDICT r2 #6): +cc, parens, dot/dash
    separators all scrub; space-separated bare digit runs do not."""
    df = spark.createDataFrame(
        [(1, "a +1-202-555-0133 b (415) 555-0134 c 415.555.0135 "
             "d 555-123-4567 e 555-0136"),
         (2, "figures 100 200 3000 and range 1234-5678901")],
        ["doc_id", "text"])
    rows = {r["doc_id"]: r for r in pii_scrub(df).collect()}
    assert rows[1]["n_phone"] == 5
    assert rows[1]["text_scrubbed"].count("<PHONE>") == 5
    for frag in ("202-555", "(415)", "415.555", "123-4567", "555-0136"):
        assert frag not in rows[1]["text_scrubbed"]
    # no false positives on figure lists / long numeric ranges
    assert rows[2]["n_phone"] == 0
    assert rows[2]["text_scrubbed"] == rows[2]["text"]


def test_pii_scrub_noop_on_clean_text(spark):
    docs = _docs(spark).limit(50)
    out = pii_scrub(docs)
    assert out.filter("n_email + n_ip + n_phone > 0").count() == 0
    assert out.filter("text_scrubbed <> text").count() == 0


# --------------------------------------------------------------------------
# decontamination
# --------------------------------------------------------------------------

def test_decontamination_flags_overlap_only(spark):
    corpus = spark.createDataFrame(
        [(1, "a b c d e f g h"),        # contains benchmark 4-gram c d e f
         (2, "z y x w v u t s")],       # disjoint
        ["doc_id", "text"])
    bench = spark.createDataFrame(
        [(100, "q r c d e f q r")], ["doc_id", "text"])
    hits = ngram_contamination(corpus, bench, n=4)
    got = {r["doc_id"]: r["n_contaminated_grams"] for r in hits.collect()}
    assert got == {1: 1}


def test_decontamination_counts_distinct_grams_per_doc(spark):
    # repeated overlap gram in one doc counts once (distinct-within-doc)
    corpus = spark.createDataFrame(
        [(1, "c d e f c d e f")], ["doc_id", "text"])
    bench = spark.createDataFrame([(2, "c d e f")], ["doc_id", "text"])
    hits = ngram_contamination(corpus, bench, n=4).collect()
    assert hits[0]["n_contaminated_grams"] == 1


# --------------------------------------------------------------------------
# domain cap
# --------------------------------------------------------------------------

def test_domain_cap_matches_single_window(spark):
    """The salted two-stage top-k must equal the naive one-window form."""
    from pyspark.sql import Window

    docs = _docs(spark)
    order = [F.col("n_chars").desc(), F.col("doc_id")]
    capped = domain_cap(docs, domain_col="source", cap=10, order_cols=order)

    w = Window.partitionBy("source").orderBy(*order)
    naive = (docs.withColumn("rn", F.row_number().over(w))
             .filter("rn <= 10"))
    a = capped.select("source", "doc_id", "rn")
    b = naive.select("source", "doc_id", "rn")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_domain_cap_respects_cap(spark):
    capped = domain_cap(_docs(spark), domain_col="source", cap=3,
                        order_cols=[F.col("doc_id")])
    per = capped.groupBy("source").count().collect()
    assert per and all(r["count"] <= 3 for r in per)


# --------------------------------------------------------------------------
# weighted sampling / token budget
# --------------------------------------------------------------------------

def test_weighted_sample_deterministic_and_monotone(spark):
    from document_convert_to__markdown_spark.operators.sampling import (
        weighted_sample,
    )

    docs = _docs(spark).withColumn(
        "w", F.least(F.lit(1.0), F.col("n_chars") / F.lit(400.0)))
    a = weighted_sample(docs, "w").select("doc_id")
    b = weighted_sample(docs.repartition(13), "w").select("doc_id")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0

    # weight 1.0 keeps everything; weight 0.0 keeps nothing
    assert weighted_sample(docs.withColumn("w", F.lit(1.0)), "w").count() \
        == docs.count()
    assert weighted_sample(docs.withColumn("w", F.lit(0.0)), "w").count() == 0


def test_token_budget_bucketed_equals_naive(spark):
    from document_convert_to__markdown_spark.operators.sampling import (
        token_budget_select,
        token_budget_select_bucketed,
    )

    docs = _docs(spark)
    for budget in (500, 10_000, 10_000_000):
        naive = token_budget_select(docs, budget) \
            .select("lang", "doc_id", "cum_tokens")
        bucketed = token_budget_select_bucketed(docs, budget) \
            .select("lang", "doc_id", "cum_tokens")
        assert naive.exceptAll(bucketed).count() == 0
        assert bucketed.exceptAll(naive).count() == 0


def test_token_budget_respects_budget(spark):
    from document_convert_to__markdown_spark.operators.sampling import (
        token_budget_select_bucketed,
    )

    kept = token_budget_select_bucketed(_docs(spark), budget=5000)
    per_lang = kept.groupBy("lang").agg(F.sum("n_chars").alias("tot")) \
        .collect()
    assert per_lang and all(r["tot"] <= 5000 for r in per_lang)
    assert kept.agg(F.max("cum_tokens")).first()[0] <= 5000


def test_pii_counts_equal_actual_replacements(spark):
    """Overlapping patterns: the email pass consumes '555-1234@x.com'
    whole, so no phone tag is inserted and n_phone must be 0 —
    counts are taken on the progressively scrubbed text (review r2)."""
    df = spark.createDataFrame(
        [(1, "reach 555-1234@example.com today")], ["doc_id", "text"])
    row = pii_scrub(df).first()
    assert row["n_email"] == 1
    assert row["n_phone"] == 0
    assert row["text_scrubbed"] == "reach <EMAIL> today"
    assert row["text_scrubbed"].count("<PHONE>") == 0
