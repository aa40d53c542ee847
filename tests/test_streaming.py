"""Structured-Streaming extraction: files arriving in two waves are processed
exactly once each, and the union satisfies the span-equality invariant."""

from tableextraction_spark.fixtures import gen_corpus
from tableextraction_spark.pipeline import BLOBS_SCHEMA, DOCS_SCHEMA
from tableextraction_spark.streaming import run_stateful


def _tuples(rows):
    return {
        r.doc_id: [
            (s.kind, s.text, s.media_ref, s.offset)
            for s in sorted(r.spans, key=lambda s: s.offset)
        ]
        for r in rows
    }


def test_stateful_two_waves_exactly_once(spark, tmp_path):
    docs, blobs, expected = gen_corpus(8)
    docs_df = spark.createDataFrame(docs, DOCS_SCHEMA)
    blobs_dir = str(tmp_path / "blobs_in")
    out = str(tmp_path / "spans_out")
    ckpt = str(tmp_path / "ckpt")

    wave1_ids = {d["doc_id"] for d in docs[:5]}
    wave1 = [b for b in blobs if b["doc_id"] in wave1_ids]
    wave2 = [b for b in blobs if b["doc_id"] not in wave1_ids]

    # wave 1 lands → drain
    spark.createDataFrame(wave1, BLOBS_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(blobs_dir)
    run_stateful(spark, blobs_dir, docs_df, out, ckpt)
    first = spark.read.parquet(out).collect()
    assert {r.doc_id for r in first} == wave1_ids

    # wave 2 lands → drain again with the same checkpoint
    spark.createDataFrame(wave2, BLOBS_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(blobs_dir)
    run_stateful(spark, blobs_dir, docs_df, out, ckpt)
    final = spark.read.parquet(out).collect()

    # exactly once: 8 docs, no duplicates, all span-equal to golden
    assert len(final) == 8
    got = _tuples(final)
    exp = {
        e["doc_id"]: [
            (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in e["spans"]
        ]
        for e in expected
    }
    assert got == exp

    # idempotence: draining a third time with nothing new appends nothing
    run_stateful(spark, blobs_dir, docs_df, out, ckpt)
    assert spark.read.parquet(out).count() == 8
