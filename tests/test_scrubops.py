"""Behavioral tests for the corpus-scrubbing operators (q50/q51/q52) on
constructed frames — the sf0.001 oracle equality lives in
test_queries_oracle.py; these pin that each signal actually FIRES on the
pathology it exists to catch."""

import pyspark.sql.functions as F
import pytest


def _docs(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )


@pytest.fixture()
def tmp_docs(spark, tmp_path):
    def write(rows):
        p = str(tmp_path / "documents.parquet")
        _docs(spark, rows).write.mode("overwrite").parquet(p)
        return str(tmp_path)

    return write


def test_q50_flags_repetitive_doc(spark, tmp_docs):
    from tableextraction_spark.queries.scrubops import q50_repetition_quality

    sf = tmp_docs(
        [
            (1, "spam ham " * 30, "en", "s", 240),        # one bigram dominates
            (2, "a b c d e f g h i j k l m n o p", "en", "s", 31),
            (3, "x", "en", "s", 1),                        # <2 words: no grams
        ]
    )
    out = {r.doc_id: r for r in q50_repetition_quality(spark, sf).collect()}
    assert out[1].repetitive == 1
    assert out[1].top_bigram_frac > 0.4
    assert out[1].dup_trigram_frac > 0.9
    assert out[2].repetitive == 0 and out[2].dup_trigram_frac == 0.0
    assert out[3].top_bigram_frac == 0.0 and out[3].dup_trigram_frac == 0.0


def test_q51_counts_cross_corpus_duplicate_chunks(spark, tmp_docs):
    from tableextraction_spark.queries.scrubops import q51_chunk_dedup_stats

    boiler = "all rights reserved copyright notice terms of use apply here"
    uniq1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    uniq2 = "one two three four five six seven eight nine ten"
    sf = tmp_docs(
        [
            (1, f"{boiler} {uniq1}", "en", "s", 100),
            (2, f"{boiler} {uniq2}", "en", "s", 100),
            (3, uniq2 + " extra", "en", "s", 60),
        ]
    )
    out = {r.doc_id: r for r in q51_chunk_dedup_stats(spark, sf).collect()}
    # the 10-word boilerplate chunk repeats across docs 1 and 2
    assert out[1].n_chunks == 2 and out[1].n_dup_chunks == 1
    assert out[1].kept_bp == 5000
    # doc 2: boilerplate duplicates doc 1, its uniq2 chunk duplicates doc 3
    assert out[2].n_chunks == 2 and out[2].n_dup_chunks == 2
    assert out[2].kept_bp == 0
    # doc 3's first chunk equals doc 2's second chunk (same 10 words);
    # its 1-word tail chunk is unique
    assert out[3].n_chunks == 2 and out[3].n_dup_chunks == 1


def test_q52_masks_every_pii_form_and_only_pii(spark):
    from tableextraction_spark.queries.scrubops import scrub_pii

    df = spark.createDataFrame(
        [
            ("reach me at jane.doe+x@sub.example.org or 203.0.113.7",),
            ("call 555-123-4567 twice 555-123-4567",),
            ("version 1.2 costs $3-4 no pii here",),
        ],
        "t string",
    )
    got = [r.m for r in df.select(scrub_pii(F.col("t")).alias("m")).collect()]
    assert got[0] == "reach me at <EMAIL> or <IP>"
    assert got[1] == "call <PHONE> twice <PHONE>"  # replaces ALL occurrences
    assert got[2] == "version 1.2 costs $3-4 no pii here"  # untouched
