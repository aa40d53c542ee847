"""Spark end-to-end: synthetic corpus → extract_spans → span-sequence equality
(kind, text, media_ref, order) against the plan-derived golden spans — the
BASELINE.json invariant — plus resume and metrics tests."""

import pytest

from tableextraction_spark.fixtures import gen_corpus
from tableextraction_spark.pipeline import (
    BLOBS_SCHEMA,
    DOCS_SCHEMA,
    extract_spans,
)

N_DOCS = 10  # includes doc 5 — the 10-page skew doc


@pytest.fixture(scope="module")
def corpus(spark):
    docs, blobs, expected = gen_corpus(N_DOCS)
    return (
        spark.createDataFrame(docs, DOCS_SCHEMA).repartition(4),
        spark.createDataFrame(blobs, BLOBS_SCHEMA).repartition(4),
        expected,
    )


def _span_tuples(rows):
    out = {}
    for r in rows:
        spans = sorted(r.spans, key=lambda s: s.offset if hasattr(s, "offset") else s["offset"])
        out[r.doc_id] = [
            (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in map(dict, map(lambda x: x.asDict() if hasattr(x, "asDict") else x, spans))
        ]
    return out


def _expected_tuples(expected):
    return {
        e["doc_id"]: [
            (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in e["spans"]
        ]
        for e in expected
    }


def test_extract_spans_equality(spark, corpus):
    docs_df, blobs_df, expected = corpus
    out = extract_spans(spark, docs_df, blobs_df).collect()
    got = _span_tuples(out)
    exp = _expected_tuples(expected)
    assert set(got) == set(exp)
    for doc_id in exp:
        assert got[doc_id] == exp[doc_id], f"span mismatch in {doc_id}"


def test_resume_anti_join_skips_committed(spark, corpus):
    docs_df, blobs_df, expected = corpus
    from pyspark.sql import functions as F

    committed = extract_spans(
        spark, docs_df.where(F.col("doc_id") < "doc-000004"), blobs_df
    )  # pretend the first 4 docs are done (deterministic subset)
    remaining = extract_spans(spark, docs_df, blobs_df, committed=committed)
    done_ids = {r.doc_id for r in committed.select("doc_id").collect()}
    rem_ids = {r.doc_id for r in remaining.select("doc_id").collect()}
    assert rem_ids == {e["doc_id"] for e in expected} - done_ids
    # union of the two runs still satisfies the invariant (idempotent resume)
    got = _span_tuples(committed.collect() + remaining.collect())
    assert got == _expected_tuples(expected)


def test_metrics_lineage(spark, corpus, tmp_path):
    from tableextraction_spark.pipeline import run_to_parquet

    docs_df, blobs_df, expected = corpus
    mpath = str(tmp_path / "metrics")
    run_to_parquet(spark, docs_df, blobs_df, str(tmp_path / "out"),
                   metrics_path=mpath, run_id="t1")
    m = spark.read.parquet(mpath)
    agg = m.groupBy("run_id").sum("pages_decoded", "tables_detected", "errors").collect()[0]
    n_pages = sum(1 for e in expected for s in e["spans"] if s["kind"] == "media")
    n_tables = sum(1 for e in expected for s in e["spans"] if s["kind"] == "table")
    assert agg["run_id"] == "t1"
    assert agg["sum(pages_decoded)"] == n_pages
    assert agg["sum(tables_detected)"] == n_tables
    assert agg["sum(errors)"] == 0
    assert m.count() >= 1  # per-partition rows exist


def test_run_to_parquet_persists_nothing(spark, corpus, tmp_path, monkeypatch):
    """Lineage rides the spans write: no persist/cache anywhere in the job
    (the metrics used to pin the tables and rewritten frames), and no RDD
    is left pinned afterwards."""
    from pyspark.sql import DataFrame

    from tableextraction_spark.pipeline import run_to_parquet

    def refuse(self, *a, **k):
        raise AssertionError("run_to_parquet persisted a frame")

    monkeypatch.setattr(DataFrame, "persist", refuse)
    monkeypatch.setattr(DataFrame, "cache", refuse)
    docs_df, blobs_df, _ = corpus
    sc = spark.sparkContext
    before = set(sc._jsc.getPersistentRDDs().keySet().toArray())
    run_to_parquet(
        spark,
        docs_df,
        blobs_df,
        str(tmp_path / "out"),
        metrics_path=str(tmp_path / "metrics"),
        resume=False,
        html=True,
    )
    after = set(sc._jsc.getPersistentRDDs().keySet().toArray())
    assert after == before, "run_to_parquet left an RDD pinned"


def test_corrupt_blob_isolated_not_fatal(spark, corpus):
    docs_df, blobs_df, expected = corpus
    from pyspark.sql import functions as F

    # corrupt one page's payload: that page yields an error row; every other
    # document is still extracted correctly (per-row failure isolation)
    bad_ref = blobs_df.select("media_ref").orderBy("media_ref").limit(1).collect()[0][0]
    broken = blobs_df.withColumn(
        "content",
        F.when(F.col("media_ref") == bad_ref, F.lit(b"\x00garbage")).otherwise(
            F.col("content")
        ),
    )
    out = extract_spans(spark, docs_df, broken)
    got = _span_tuples(out.collect())
    exp = _expected_tuples(expected)
    bad_docs = {r.doc_id for r in blobs_df.where(F.col("media_ref") == bad_ref).collect()}
    for doc_id in exp:
        if doc_id not in bad_docs:
            assert got[doc_id] == exp[doc_id]
