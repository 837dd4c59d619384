"""Unit tests for the corpus-hygiene operators: PII redaction,
repetition profiling, benchmark-contamination detection."""

from __future__ import annotations

from pyspark.sql import functions as F

from vector_db_ingestor_spark.operators.text_analysis import (
    contamination_report,
    redact_pii,
    repetition_stats,
)


def test_redact_pii_scrubs_and_counts(spark):
    df = spark.createDataFrame(
        [
            (1, "reach me at jane.doe+x@corp.example.org or 555-0199 thanks"),
            (2, "two mails a@b.io c.d@e-f.net and no phone"),
            (3, "nothing sensitive here"),
            (4, "edge: 555-12345 is not a phone, 12-3456 neither"),
        ],
        "id int, txt string",
    )
    rows = {r.id: r for r in redact_pii(df, "txt").collect()}
    assert rows[1].n_emails == 1 and rows[1].n_phones == 1
    assert "[EMAIL]" in rows[1].redacted and "[PHONE]" in rows[1].redacted
    assert "jane" not in rows[1].redacted and "0199" not in rows[1].redacted
    assert rows[2].n_emails == 2 and rows[2].n_phones == 0
    assert rows[3].redacted == "nothing sensitive here"
    # \b word boundaries: 555-12345 must NOT be redacted as a phone
    assert rows[4].n_phones == 0 and "555-12345" in rows[4].redacted


def test_repetition_stats_profile(spark):
    df = spark.createDataFrame(
        [
            (1, "spam spam spam eggs"),
            (2, "all tokens unique here"),
            (3, "tie tie blue blue"),  # tie -> lexicographically smallest wins
        ],
        "doc_id int, text string",
    )
    rows = {r.doc_id: r for r in repetition_stats(df).collect()}
    assert rows[1].n_tokens == 4 and rows[1].n_distinct == 2
    assert rows[1].top_token == "spam" and rows[1].top_count == 3
    assert rows[1].rep_ratio == 0.5
    assert rows[2].rep_ratio == 0.0 and rows[2].top_count == 1
    assert rows[3].top_token == "blue"


def test_contamination_report_overlap_and_self_exclusion(spark):
    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps"),
            (2, "quick brown goats graze quietly"),
            (3, "completely disjoint token salad"),
            (10, "the quick brown fox benchmark"),
        ],
        "doc_id int, text string",
    )
    eval_docs = corpus.filter(F.col("doc_id") == 10)
    rows = {r.doc_id: r for r in contamination_report(corpus, eval_docs, n=2).collect()}
    # doc 1 shares bigrams: "the quick", "quick brown", "brown fox"
    assert rows[1].n_shared_grams == 3 and rows[1].n_eval_docs == 1
    # doc 2 shares "quick brown" only
    assert rows[2].n_shared_grams == 1
    # disjoint doc absent; the eval doc never contaminates itself
    assert 3 not in rows and 10 not in rows


def test_repetition_stats_empty_and_whitespace_docs(spark):
    df = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "one")], "doc_id int, text string"
    )
    rows = {r.doc_id: r for r in repetition_stats(df).collect()}
    # split("") yields [""]: the empty token is still counted once —
    # same convention as DuckDB string_split_regex, so the oracle and
    # the doc-stats queries agree on this shape
    assert rows[1].n_tokens == 1 and rows[1].rep_ratio == 0.0
    assert rows[2].n_tokens == 1
    assert rows[3].top_token == "one"


def test_contamination_short_docs_no_crash(spark):
    # docs shorter than the n-gram width have no grams (word_shingles_sql
    # guard) and must neither crash under ANSI mode nor contaminate
    corpus = spark.createDataFrame(
        [(1, "tiny"), (2, "benchmark words here repeated words here")],
        "doc_id int, text string",
    )
    eval_docs = spark.createDataFrame(
        [(10, "words here everywhere")], "doc_id int, text string"
    )
    rows = {r.doc_id: r for r in contamination_report(corpus, eval_docs, n=2).collect()}
    assert 1 not in rows
    assert rows[2].n_shared_grams == 1  # "words here"


def test_redact_pii_null_text(spark):
    df = spark.createDataFrame([(1, None)], "id int, txt string")
    r = redact_pii(df, "txt").collect()[0]
    # nulls propagate (no crash, no spurious counts)
    assert r.redacted is None and r.n_emails is None
