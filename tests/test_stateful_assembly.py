"""Stateful streaming assembly: a document whose pages straddle micro-batches
(and separate runs) still yields exactly ONE correct span row — the
completeness check holds it in state until every page arrived."""

import pandas as pd

from tableextraction_spark.fixtures import gen_corpus
from tableextraction_spark.operators import TABLES_SCHEMA
from tableextraction_spark.pipeline import BLOBS_SCHEMA, DOCS_SCHEMA
from tableextraction_spark.streaming.stateful_assembly import _update_doc, run_stateful


def _tuples(rows):
    return {
        r.doc_id: None if r.spans is None else [
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


def _row(**over):
    row = {"doc_id": "d", "media_ref": "m", "page_no": 0, "obj_no": -1,
           "kind": None, "n_items": 0, "payload": None, "error": None,
           "wall_ms": 3}
    return {**row, **over}


class _State:
    """In-memory stand-in for GroupState."""

    def __init__(self):
        self.value = None

    @property
    def exists(self):
        return self.value is not None

    @property
    def get(self):
        return self.value

    def update(self, value):
        self.value = value

    def remove(self):
        self.value = None


def test_update_doc_holds_incomplete_doc_then_emits_rows_unchanged():
    """The state function only groups: a doc short of its page count stays
    in state and emits nothing; the page that completes it emits every
    buffered TABLES_SCHEMA row (markers and errors too) as it came in."""
    first = [
        _row(media_ref="m0"),
        _row(media_ref="m0", obj_no=0, kind="table", n_items=4, payload='{"t": 1}'),
    ]
    second = [
        _row(media_ref="m1", page_no=1, error="ValueError: bad", wall_ms=9),
    ]
    state = _State()

    def batch(rows):
        return pd.DataFrame([{**r, "n_pages": 2} for r in rows])

    assert list(_update_doc(("d",), [batch(first)], state)) == []
    assert state.exists
    seen, _buffered, n_pages = state.get
    assert (seen, n_pages) == ([0], 2)

    (out,) = _update_doc(("d",), [batch(second)], state)
    assert not state.exists
    assert list(out.columns) == [f.split()[0] for f in TABLES_SCHEMA.split(", ")]
    assert out.to_dict("records") == first + second


def _parity_corpus():
    """Docs and blob files covering every assembly case the stream meets:
    doc 1's pages split over two blob files (two micro-batches), a raw html
    span next to a media page, out-of-order offsets, a null text/media_ref
    span, a corrupt blob page, a text-only doc and a null-spans doc."""
    from tableextraction_spark.fixtures.html_gen import gen_html_doc

    docs, blobs, _ = gen_corpus(3)
    h_in, _ = gen_html_doc(9)
    markup = next(s["text"] for s in h_in["spans"] if s["kind"] == "html")
    spans = [dict(s) for s in docs[0]["spans"]]
    spans.insert(3, _span("html", markup, 0))  # right after media p000
    spans.append({"kind": "text", "text": None, "media_ref": None, "offset": 0})
    for i, sp in enumerate(spans):
        sp["offset"] = i
    docs[0] = {"doc_id": docs[0]["doc_id"], "spans": spans[::-1]}
    docs += [
        {"doc_id": "textonly", "spans": [_span("text", "hello", 1),
                                         _span("text", "world", 0)]},
        {"doc_id": "nullspans", "spans": None},
    ]
    bad = next(b for b in blobs if b["doc_id"] == "doc-000002" and b["page_no"] == 1)
    bad["content"] = b"not an image at all"
    split = [b for b in blobs if b["doc_id"] == "doc-000001"]
    waves = [[b for b in blobs if b not in split[1:]], split[1:]]
    return docs, blobs, waves


def test_stateful_merge_matches_batch_assembly(spark, tmp_path):
    """run_stateful's rows equal extract_spans's for the same docs and
    blobs, with html off and on — the stream assembles with the batch
    job's own assemble_spans_sql."""
    from tableextraction_spark.pipeline import extract_spans

    docs, blobs, waves = _parity_corpus()
    docs_df = spark.createDataFrame(docs, DOCS_SCHEMA)
    blobs_dir = str(tmp_path / "blobs_in")
    for wave in waves:
        spark.createDataFrame(wave, BLOBS_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(blobs_dir)
    blobs_df = spark.createDataFrame(blobs, BLOBS_SCHEMA)
    got = {}
    for html in (False, True):
        batch = extract_spans(spark, docs_df, blobs_df, html=html).collect()
        out = str(tmp_path / f"out_{html}")
        run_stateful(spark, blobs_dir, docs_df, out, str(tmp_path / f"ck_{html}"),
                     max_files_per_trigger=1, html=html)
        stream = spark.read.parquet(out).collect()
        assert len(stream) == len(docs)
        got[html] = _tuples(stream)
        assert got[html] == _tuples(batch), f"html={html}"
    for html in (False, True):
        assert got[html]["nullspans"] is None
        assert ("text", None, None) in [t[:3] for t in got[html]["doc-000000"]]
        assert [t for _k, t, _m, _o in got[html]["textonly"]] == ["world", "hello"]
    assert "html" in [t[0] for t in got[False]["doc-000000"]]
    assert "html" not in [t[0] for t in got[True]["doc-000000"]]


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
    # a span with null text/media_ref comes out of the stream exactly as
    # batch emits it: nulls stay null
    from tableextraction_spark.pipeline import extract_spans

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
    batch = extract_spans(
        spark, docs_df, spark.createDataFrame(blobs, BLOBS_SCHEMA)
    ).collect()
    assert _tuples(rows) == _tuples(batch)
    first = sorted(rows[0].spans, key=lambda s: s.offset)[0]
    assert (first.kind, first.text, first.media_ref) == ("text", None, None)


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
