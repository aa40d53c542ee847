"""Stateful streaming assembly: a document whose pages straddle micro-batches
(and separate runs) still yields exactly ONE correct span row — the
completeness check holds it in state until every page arrived."""

import json

import pandas as pd

from tableextraction_spark.fixtures import gen_corpus
from tableextraction_spark.operators import TABLES_SCHEMA, assemble_spans_sql
from tableextraction_spark.pipeline import BLOBS_SCHEMA, DOCS_SCHEMA
from tableextraction_spark.streaming.stateful_assembly import _update_doc, run_stateful


def _tuples(rows):
    return {
        r.doc_id: [
            (s.kind, s.text, s.media_ref, s.offset)
            for s in sorted(r.spans, key=lambda s: s.offset)
        ]
        for r in rows
    }


def _exp_tuples(expected):
    return {
        e["doc_id"]: [
            (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in e["spans"]
        ]
        for e in expected
    }


def _span(kind, text, offset, media_ref=""):
    return {"kind": kind, "text": text, "media_ref": media_ref, "offset": offset}


# crafted docs: a raw html span next to a media page; out-of-order offsets;
# a media page with two objects (listed out of obj_no order) and one with
# none; page markers (obj_no = -1) and error rows that must not become spans
_MERGE_DOCS = {
    "d1": [
        _span("text", "intro", 0),
        _span("html", "<p>raw</p>", 1),
        _span("media", "", 2, "m1"),
    ],
    "d2": [
        _span("text", "tail", 3),
        _span("media", "", 1, "m3"),
        _span("text", "head", 0),
        _span("media", "", 2, "m2"),
    ],
    "d3": [_span("media", "", 0, "m4"), _span("html", "<b>x</b>", 1)],
}
# (doc_id, media_ref, page_no, obj_no, kind, payload, error)
_MERGE_OBJS = [
    ("d1", "m1", 0, -1, None, None, None),
    ("d1", "m1", 0, 0, "table", '{"t": 1}', None),
    ("d2", "m2", 1, 1, "plot", '{"p": 2}', None),
    ("d2", "m2", 1, -1, None, None, None),
    ("d2", "m2", 1, 0, "table", '{"t": 2}', None),
    ("d2", "m3", 0, -1, None, None, None),
    ("d3", "m4", 0, 0, "table", '{"bad": 1}', "ValueError('late')"),
    ("d3", "m4", 0, -1, None, None, "ValueError('decode')"),
]


class _FreshState:
    exists = False

    def update(self, _value):
        raise AssertionError("every crafted doc is complete in one batch")

    def remove(self):
        pass


def test_stateful_merge_matches_batch_assembly(spark):
    """The streaming state function (merge_doc_spans) and the batch
    Catalyst assembly give the same spans for the same doc and object rows."""
    rows = [
        {"doc_id": d, "media_ref": ref, "page_no": pno, "obj_no": obj,
         "kind": kind, "n_items": 0, "payload": payload, "error": err,
         "wall_ms": 0}
        for d, ref, pno, obj, kind, payload, err in _MERGE_OBJS
    ]
    docs_df = spark.createDataFrame(
        [{"doc_id": d, "spans": spans} for d, spans in _MERGE_DOCS.items()],
        DOCS_SCHEMA,
    )
    batch = _tuples(
        assemble_spans_sql(docs_df, spark.createDataFrame(rows, TABLES_SCHEMA)).collect()
    )

    stream = {}
    for d, spans in _MERGE_DOCS.items():
        pdf = pd.DataFrame([r for r in rows if r["doc_id"] == d])
        pdf["spans_json"] = json.dumps(spans)
        pdf["n_pages"] = sum(s["kind"] == "media" for s in spans)
        (out,) = _update_doc((d,), [pdf], _FreshState())
        stream[d] = [
            (s["kind"], s["text"], s["media_ref"], s["offset"])
            for s in out.loc[0, "spans"]
        ]
    assert stream == batch
    assert batch["d1"][1] == ("html", "<p>raw</p>", "", 1)
    assert [k for k, *_ in batch["d2"]] == ["text", "media", "media", "table", "plot", "text"]
    assert [k for k, *_ in batch["d3"]] == ["media", "html"]


def test_split_doc_across_microbatches_one_row(spark, tmp_path):
    # doc 5 is the 10-page skew doc — split its pages across two FILES and
    # force one file per micro-batch, so assembly sees it in two batches
    docs, blobs, expected = gen_corpus(8)
    docs_df = spark.createDataFrame(docs, DOCS_SCHEMA)
    blobs_dir = str(tmp_path / "blobs_in")
    out = str(tmp_path / "spans_out")
    ckpt = str(tmp_path / "ckpt")

    split = [b for b in blobs if b["doc_id"] == "doc-000005"]
    rest = [b for b in blobs if b["doc_id"] != "doc-000005"]
    assert len(split) >= 4, "need a multi-page doc to split"
    half = len(split) // 2
    for wave in (rest + split[:half], split[half:]):
        spark.createDataFrame(wave, BLOBS_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(blobs_dir)
    run_stateful(spark, blobs_dir, docs_df, out, ckpt, max_files_per_trigger=1)

    rows = spark.read.parquet(out).collect()
    assert len(rows) == 8  # one row per doc — no partial duplicates
    assert _tuples(rows) == _exp_tuples(expected)


def test_incomplete_doc_held_until_later_run(spark, tmp_path):
    # pages split across two RUNS against the same checkpoint: run 1 must
    # emit nothing for the incomplete doc; run 2 completes it exactly once
    docs, blobs, expected = gen_corpus(3)
    docs_df = spark.createDataFrame(docs, DOCS_SCHEMA)
    blobs_dir = str(tmp_path / "blobs_in")
    out = str(tmp_path / "spans_out")
    ckpt = str(tmp_path / "ckpt")

    victim = "doc-000001"
    vic = [b for b in blobs if b["doc_id"] == victim]
    rest = [b for b in blobs if b["doc_id"] != victim]
    hold_back = vic[-1:]
    wave1 = rest + vic[:-1]

    spark.createDataFrame(wave1, BLOBS_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(blobs_dir)
    run_stateful(spark, blobs_dir, docs_df, out, ckpt)
    first = spark.read.parquet(out).collect()
    assert victim not in {r.doc_id for r in first}
    assert len(first) == 2

    spark.createDataFrame(hold_back, BLOBS_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(blobs_dir)
    run_stateful(spark, blobs_dir, docs_df, out, ckpt)
    final = spark.read.parquet(out).collect()
    assert len(final) == 3
    assert _tuples(final) == _exp_tuples(expected)


def test_text_only_doc_emitted_once_across_runs(spark, tmp_path):
    # a doc with ZERO media pages never appears in the blobs stream; the
    # marker-guarded batch write must emit it exactly once across two runs
    docs, blobs, expected = gen_corpus(2)
    docs.append(
        {
            "doc_id": "textonly",
            "spans": [
                {"kind": "text", "text": "hello", "media_ref": "", "offset": 0},
                {"kind": "text", "text": "world", "media_ref": "", "offset": 1},
            ],
        }
    )
    docs_df = spark.createDataFrame(docs, DOCS_SCHEMA)
    blobs_dir = str(tmp_path / "blobs_in")
    out = str(tmp_path / "spans_out")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame(blobs, BLOBS_SCHEMA).coalesce(1).write.parquet(blobs_dir)
    run_stateful(spark, blobs_dir, docs_df, out, ckpt)
    run_stateful(spark, blobs_dir, docs_df, out, ckpt)  # restart: no dup
    rows = spark.read.parquet(out).collect()
    assert len(rows) == 3
    got = _tuples(rows)
    assert got["textonly"] == [("text", "hello", "", 0), ("text", "world", "", 1)]


def test_null_span_fields_survive_state_roundtrip(spark, tmp_path):
    # to_json drops null fields; the state function must normalize instead
    # of KeyError-crash-looping on checkpointed state
    docs, blobs, _ = gen_corpus(1)
    assert docs[0]["doc_id"] == "doc-000000"
    docs[0]["spans"][0] = {
        "kind": "text",
        "text": None,
        "media_ref": None,
        "offset": 0,
    }
    docs_df = spark.createDataFrame(docs, DOCS_SCHEMA)
    blobs_dir = str(tmp_path / "blobs_in")
    out = str(tmp_path / "spans_out")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame(blobs, BLOBS_SCHEMA).coalesce(1).write.parquet(blobs_dir)
    run_stateful(spark, blobs_dir, docs_df, out, ckpt)
    rows = spark.read.parquet(out).collect()
    assert len(rows) == 1
    first = sorted(rows[0].spans, key=lambda s: s.offset)[0]
    assert (first.kind, first.text, first.media_ref) == ("text", "", "")


def test_duplicate_blob_file_within_run_single_row(spark, tmp_path):
    """A duplicate blob file (re-upload under a new filename) re-completes a
    doc in a LATER micro-batch of the same run; the sink's within-run id
    tracking must still emit exactly one row."""
    docs, blobs, expected = gen_corpus(2)
    one_pagers = [b for b in blobs if b["doc_id"] == "doc-000000"]
    docs_df = spark.createDataFrame(docs, DOCS_SCHEMA)
    blobs_dir = str(tmp_path / "blobs_in")
    out = str(tmp_path / "spans_out")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame(blobs, BLOBS_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(blobs_dir)
    # duplicate file lands before the run starts → later micro-batch
    spark.createDataFrame(one_pagers, BLOBS_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(blobs_dir)
    run_stateful(spark, blobs_dir, docs_df, out, ckpt, max_files_per_trigger=1)
    rows = spark.read.parquet(out).collect()
    assert sorted(r.doc_id for r in rows) == sorted(e["doc_id"] for e in expected)
    assert _tuples(rows) == _exp_tuples(expected)


def test_crash_debris_output_dir_treated_as_first_run(spark, tmp_path):
    """out_path holding only a _temporary dir (crashed first write) must be
    treated as 'nothing committed', not a permanent abort."""
    import os

    from tableextraction_spark.streaming.sink import IdempotentSink

    out = str(tmp_path / "spans_out")
    os.makedirs(os.path.join(out, "_temporary"))
    sink = IdempotentSink(spark, out)
    assert sink.committed is None
    sink.close()


def test_corrupt_output_aborts_not_silently_disables_dedup(spark, tmp_path):
    """A non-'missing' read failure (corrupt footer) must raise — silent
    fallback would reopen the duplicate-row window."""
    import pytest

    from tableextraction_spark.streaming.sink import IdempotentSink

    out = tmp_path / "spans_out"
    out.mkdir()
    (out / "part-00000.parquet").write_bytes(b"not a parquet file at all")
    with pytest.raises(Exception):
        IdempotentSink(spark, str(out))


def test_sink_within_run_dedup_is_executor_side_and_exact(spark, tmp_path):
    """r4 verdict item 4: the batch path must not round-trip ids through the
    driver.  DataFrame.collect/toPandas/toLocalIterator are poisoned for the
    duration of every append — any driver materialization raises — while
    crash-replay-shaped batches still come out exactly-once."""
    import pyspark.sql.dataframe as _dfmod

    from tableextraction_spark.streaming.sink import IdempotentSink

    out = str(tmp_path / "spans_out")
    sink = IdempotentSink(spark, out)
    assert not hasattr(sink, "_bloom")  # driver-side id state is gone

    def _poisoned(self, *a, **k):  # pragma: no cover - raising is the test
        raise AssertionError("driver materialization in the batch path")

    real = {n: getattr(_dfmod.DataFrame, n)
            for n in ("collect", "toPandas", "toLocalIterator")}
    for batch in range(6):
        ids = [f"doc-{batch:02d}-{i:03d}" for i in range(40)]
        # replay half the PREVIOUS batch inside this one (crash-replay shape)
        if batch:
            ids += [f"doc-{batch-1:02d}-{i:03d}" for i in range(20)]
        df = spark.createDataFrame([(i, "x") for i in ids],
                                   "doc_id string, payload string")
        for n in real:
            setattr(_dfmod.DataFrame, n, _poisoned)
        try:
            sink.append_new_docs(df)
        finally:
            for n, fn in real.items():
                setattr(_dfmod.DataFrame, n, fn)
    # driver holds O(#batches) frame references, not O(ids) of data
    assert len(sink._run_id_frames) == 6
    rows = spark.read.parquet(out).collect()
    got = sorted(r.doc_id for r in rows)
    want = sorted(f"doc-{b:02d}-{i:03d}" for b in range(6) for i in range(40))
    assert got == want  # exactly once each, despite the replays
    sink.close()


def test_sink_cross_run_snapshot_still_dedups(spark, tmp_path):
    from tableextraction_spark.streaming.sink import IdempotentSink

    out = str(tmp_path / "spans_out")
    s1 = IdempotentSink(spark, out)
    s1.append_new_docs(
        spark.createDataFrame([("a", 1), ("b", 1)], "doc_id string, v int")
    )
    s1.close()
    s2 = IdempotentSink(spark, out)  # new run: snapshot holds a, b
    s2.append_new_docs(
        spark.createDataFrame([("b", 2), ("c", 2)], "doc_id string, v int")
    )
    s2.close()
    rows = spark.read.parquet(out).collect()
    assert sorted((r.doc_id, r.v) for r in rows) == [("a", 1), ("b", 1), ("c", 2)]


def test_sink_null_doc_id_does_not_crash(spark, tmp_path):
    """Review regression: a NULL doc_id reached _Bloom.might_contain and
    raised AttributeError, failing the whole streaming batch."""
    from tableextraction_spark.streaming.sink import IdempotentSink

    out = str(tmp_path / "spans_out")
    sink = IdempotentSink(spark, out)
    sink.append_new_docs(
        spark.createDataFrame(
            [("a", 1), (None, 2), ("b", 3)], "doc_id string, v int"
        )
    )
    sink.append_new_docs(
        spark.createDataFrame([(None, 4)], "doc_id string, v int")
    )
    rows = spark.read.parquet(out).collect()
    assert sorted(r.v for r in rows) == [1, 2, 3, 4]
    sink.close()
