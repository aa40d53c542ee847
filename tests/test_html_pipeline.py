"""End-to-end HTML main-content extraction through the Spark pipeline:
mixed raster+markup corpora, raster-path no-regression with the html flag
on, and per-row failure isolation."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from tableextraction_spark.fixtures import gen_corpus
from tableextraction_spark.fixtures.html_gen import gen_html_doc
from tableextraction_spark.pipeline import BLOBS_SCHEMA, DOCS_SCHEMA, extract_spans

N_RASTER = 6
N_HTML = 8


def _tuples(rows):
    return {
        r["doc_id"]: [
            (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]
        ]
        for r in rows
    }


@pytest.fixture(scope="module")
def mixed(spark):
    """Raster docs (pages→tables) + html docs (markup→main content) in ONE
    docs table — the north rule's interleaved corpus, both media kinds."""
    rdocs, blobs, rexp = gen_corpus(N_RASTER)
    hdocs, hexp = zip(*(gen_html_doc(i) for i in range(N_HTML)))
    docs_df = spark.createDataFrame(rdocs + list(hdocs), DOCS_SCHEMA).repartition(4)
    blobs_df = spark.createDataFrame(blobs, BLOBS_SCHEMA).repartition(4)
    expected = {r["doc_id"]: r for r in rexp + list(hexp)}
    return docs_df, blobs_df, expected


def test_mixed_corpus_span_equality(spark, mixed):
    docs_df, blobs_df, expected = mixed
    out = _tuples(extract_spans(spark, docs_df, blobs_df, html=True).collect())
    assert set(out) == set(expected)
    for doc_id, exp in expected.items():
        exp_t = [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in exp["spans"]]
        assert out[doc_id] == exp_t, doc_id


def test_html_flag_noop_on_raster_corpus(spark):
    """html=True on a corpus with no html spans changes nothing."""
    rdocs, blobs, _ = gen_corpus(N_RASTER)
    docs_df = spark.createDataFrame(rdocs, DOCS_SCHEMA)
    blobs_df = spark.createDataFrame(blobs, BLOBS_SCHEMA)
    off = _tuples(extract_spans(spark, docs_df, blobs_df).collect())
    on = _tuples(extract_spans(spark, docs_df, blobs_df, html=True).collect())
    assert off == on


def test_html_off_passes_raw_span_through(spark):
    """Without the flag, html spans survive untouched (no silent drop)."""
    hdocs, _ = zip(*(gen_html_doc(i) for i in range(2)))
    docs_df = spark.createDataFrame(list(hdocs), DOCS_SCHEMA)
    out = _tuples(extract_spans(spark, docs_df, None).collect())
    for d in hdocs:
        assert out[d["doc_id"]] == [
            (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in d["spans"]
        ]


def test_html_failure_isolated_per_row(spark, monkeypatch):
    """A payload that crashes the extractor yields an error row, not a task
    failure; the document's other spans still assemble."""
    import tableextraction_spark.htmlx as htmlx
    from tableextraction_spark.operators.html_extract import _parse_batches

    real = htmlx.extract_main_spans

    def boom(markup):
        if "BOOM" in markup:
            raise ValueError("kernel crash")
        return real(markup)

    monkeypatch.setattr(htmlx, "extract_main_spans", boom)
    pdf = pd.DataFrame(
        {
            "doc_id": ["d1", "d2"],
            "src_offset": [0, 0],
            "html": ["<p>BOOM</p>", "<p>fine</p>"],
        }
    )
    out = pd.concat(list(_parse_batches([pdf])))
    errs = out[out["error"].notna()]
    ok = out[out["error"].isna()]
    assert list(errs["doc_id"]) == ["d1"] and list(errs["obj_no"]) == [-1]
    assert list(ok["doc_id"]) == ["d2"] and list(ok["text"]) == ["fine"]


def test_rewrite_drops_failed_markup_span(monkeypatch):
    """The in-place rewrite drops an html span whose extractor raises (like
    a corrupt blob page), keeps its neighbours with offsets renumbered
    0..n-1, and counts the failure in ``html_errors``."""
    import tableextraction_spark.htmlx as htmlx
    from tableextraction_spark.operators.html_extract import _rewrite_batches

    real = htmlx.extract_main_spans

    def boom(markup):
        if "BOOM" in markup:
            raise ValueError("kernel crash")
        return real(markup)

    monkeypatch.setattr(htmlx, "extract_main_spans", boom)
    spans = [
        {"kind": "text", "text": "pre", "media_ref": "", "offset": 0},
        {"kind": "html", "text": "<p>BOOM</p>", "media_ref": "", "offset": 1},
        {"kind": "html", "text": "<p>fine</p>", "media_ref": "", "offset": 2},
        {"kind": "text", "text": "post", "media_ref": "", "offset": 3},
    ]
    pdf = pd.DataFrame({"doc_id": ["d1"], "spans": [spans]})
    (row,) = pd.concat(list(_rewrite_batches([pdf]))).to_dict("records")
    assert [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in row["spans"]] == [
        ("text", "pre", "", 0),
        ("text", "fine", "", 1),
        ("text", "post", "", 2),
    ]
    assert (row["html_errors"], row["html_parsed"]) == (1, 1)


def test_html_plan_zero_exchanges(spark):
    """Plan audit: a markup-only corpus is scan → mapInPandas → sink with
    ZERO exchanges — no shuffle, no join, no aggregate anywhere in the
    executed plan ("markup never shuffles")."""
    hdocs, _ = zip(*(gen_html_doc(i) for i in range(2)))
    docs_df = spark.createDataFrame(list(hdocs), DOCS_SCHEMA)
    plan = extract_spans(spark, docs_df, None, html=True)._jdf.queryExecution().executedPlan().toString()
    for op in ("Exchange", "CartesianProduct", "SortMergeJoin", "BroadcastHashJoin",
               "HashAggregate", "ObjectHashAggregate"):
        assert op not in plan, f"{op} leaked into the markup-only plan:\n{plan}"
    assert "MapInPandas" in plan


def test_interleaved_doc_with_both_html_and_media(spark):
    """One document carrying BOTH a markup span and a raster page: table
    objects append after the media span, html extraction replaces the html
    span, offsets renumber across the whole merged sequence."""
    rdocs, blobs, rexp = gen_corpus(1)
    hdoc, hexp = gen_html_doc(0)
    spans = list(rdocs[0]["spans"])
    h = dict(hdoc["spans"][[s["kind"] for s in hdoc["spans"]].index("html")])
    h["offset"] = len(spans)
    spans.append(h)
    doc = {"doc_id": rdocs[0]["doc_id"], "spans": spans}
    docs_df = spark.createDataFrame([doc], DOCS_SCHEMA)
    blobs_df = spark.createDataFrame(blobs, BLOBS_SCHEMA)
    out = _tuples(extract_spans(spark, docs_df, blobs_df, html=True).collect())

    # golden: raster expected spans, then the html block spans (html span was
    # appended last); intro/tail text spans of the html fixture are NOT in
    # this doc — only the html span itself was grafted in
    from tableextraction_spark.fixtures.html_gen import (
        expected_block_spans,
        plan_html_doc,
    )

    del hexp  # unused: goldens come straight from the plan
    exp = [(s["kind"], s["text"], s["media_ref"]) for s in rexp[0]["spans"]]
    exp += [
        (s["kind"], s["text"], s["media_ref"])
        for s in expected_block_spans(plan_html_doc(0))
    ]
    got = [(k, t, m) for (k, t, m, _o) in out[rdocs[0]["doc_id"]]]
    assert got == exp
    offsets = [o for (_k, _t, _m, o) in out[rdocs[0]["doc_id"]]]
    assert offsets == list(range(len(offsets)))


def test_stateful_attach_html_media_matches_batch(spark, tmp_path):
    """attach_html_media=True: an html doc whose <img src> names a corpus
    blob gets that blob's detected tables attached in STREAMING mode, and the
    row matches the batch pipeline's output for the same doc byte-for-byte.
    Default mode (attach off) must emit the doc batch-side without tables."""
    from tableextraction_spark.streaming.stateful_assembly import run_stateful

    rdocs, blobs, _ = gen_corpus(1)
    ref = blobs[0]["media_ref"]
    doc = {
        "doc_id": "html-img-doc",
        "spans": [
            {
                "kind": "html",
                "text": (
                    "<p>intro words about the scanned figure below</p>"
                    f"<img src='{ref}'>"
                    "<p>closing remarks after the figure</p>"
                ),
                "media_ref": "",
                "offset": 0,
            }
        ],
    }
    # only the first page's blob, re-keyed to the html doc
    blob = {**blobs[0], "doc_id": "html-img-doc"}
    docs_df = spark.createDataFrame([doc], DOCS_SCHEMA)
    blobs_df = spark.createDataFrame([blob], BLOBS_SCHEMA)

    batch = _tuples(extract_spans(spark, docs_df, blobs_df, html=True).collect())
    assert any(k == "table" for (k, _t, _m, _o) in batch["html-img-doc"]), (
        "fixture broken: batch attached no table"
    )

    blobs_dir = str(tmp_path / "blobs_in")
    spark.createDataFrame([blob], BLOBS_SCHEMA).coalesce(1).write.parquet(blobs_dir)
    out = str(tmp_path / "out_attach")
    run_stateful(
        spark, blobs_dir, docs_df, out, str(tmp_path / "ckpt_attach"),
        html=True, attach_html_media=True,
    )
    rows = spark.read.parquet(out).collect()
    assert _tuples([r.asDict(recursive=True) for r in rows]) == batch

    # default semantics unchanged: doc emits batch-side, no tables attached
    out2 = str(tmp_path / "out_default")
    run_stateful(
        spark, blobs_dir, docs_df, out2, str(tmp_path / "ckpt_default"), html=True
    )
    rows2 = _tuples(
        [r.asDict(recursive=True) for r in spark.read.parquet(out2).collect()]
    )
    assert not any(k == "table" for (k, _t, _m, _o) in rows2["html-img-doc"])


def test_stateful_streaming_html_split_pages(spark, tmp_path):
    """Streaming parity: a paged doc carrying an html span, pages split
    across micro-batches, plus a text-only html doc — run_stateful(html=True)
    emits exactly one golden row each."""
    from tableextraction_spark.fixtures.html_gen import (
        expected_block_spans,
        plan_html_doc,
    )
    from tableextraction_spark.streaming.stateful_assembly import run_stateful

    rdocs, blobs, rexp = gen_corpus(6)  # doc 5 = 10-page skew doc
    paged = dict(rdocs[5])
    h_in, _ = gen_html_doc(3)
    hspan = next(s for s in h_in["spans"] if s["kind"] == "html")
    paged_spans = list(paged["spans"]) + [{**hspan, "offset": len(paged["spans"])}]
    paged = {"doc_id": paged["doc_id"], "spans": paged_spans}
    text_doc, text_exp = gen_html_doc(4)

    docs_df = spark.createDataFrame(
        rdocs[:5] + [paged, text_doc], "doc_id string, spans array<struct<"
        "kind string, text string, media_ref string, offset int>>"
    )
    blobs_dir = str(tmp_path / "blobs_in")
    out = str(tmp_path / "spans_out")
    ckpt = str(tmp_path / "ckpt")
    split = [b for b in blobs if b["doc_id"] == paged["doc_id"]]
    rest = [b for b in blobs if b["doc_id"] != paged["doc_id"]]
    half = len(split) // 2
    from tableextraction_spark.pipeline import BLOBS_SCHEMA

    for wave in (rest + split[:half], split[half:]):
        spark.createDataFrame(wave, BLOBS_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(blobs_dir)
    run_stateful(spark, blobs_dir, docs_df, out, ckpt, max_files_per_trigger=1,
                 html=True)

    rows = spark.read.parquet(out).collect()
    assert len(rows) == 7  # one row per doc, no partials
    got = {
        r.doc_id: [
            (s.kind, s.text, s.media_ref)
            for s in sorted(r.spans, key=lambda s: s.offset)
        ]
        for r in rows
    }
    # paged doc: raster goldens then html block spans (html span was last)
    exp_paged = [(s["kind"], s["text"], s["media_ref"]) for s in rexp[5]["spans"]]
    exp_paged += [
        (s["kind"], s["text"], s["media_ref"])
        for s in expected_block_spans(plan_html_doc(3))
    ]
    assert got[paged["doc_id"]] == exp_paged
    # text-only html doc: full html-fixture goldens
    assert got[text_doc["doc_id"]] == [
        (s["kind"], s["text"], s["media_ref"]) for s in text_exp["spans"]
    ]


def test_incremental_streaming_html(spark, tmp_path):
    """run_incremental(html=True): per-batch docs get their markup spans
    replaced, same as batch."""
    from tableextraction_spark.fixtures.html_gen import (
        expected_block_spans,
        plan_html_doc,
    )
    from tableextraction_spark.streaming.incremental import run_incremental

    rdocs, blobs, rexp = gen_corpus(2)
    h_in, _ = gen_html_doc(9)
    hspan = next(s for s in h_in["spans"] if s["kind"] == "html")
    doc0 = {
        "doc_id": rdocs[0]["doc_id"],
        "spans": list(rdocs[0]["spans"]) + [{**hspan, "offset": len(rdocs[0]["spans"])}],
    }
    docs_df = spark.createDataFrame([doc0, rdocs[1]], DOCS_SCHEMA)
    blobs_dir = str(tmp_path / "blobs_in")
    spark.createDataFrame(blobs, BLOBS_SCHEMA).coalesce(1).write.parquet(blobs_dir)
    out = str(tmp_path / "spans_out")
    run_incremental(spark, blobs_dir, docs_df, out, str(tmp_path / "ckpt"), html=True)

    rows = spark.read.parquet(out).collect()
    got = {
        r.doc_id: [
            (s.kind, s.text, s.media_ref)
            for s in sorted(r.spans, key=lambda s: s.offset)
        ]
        for r in rows
    }
    exp0 = [(s["kind"], s["text"], s["media_ref"]) for s in rexp[0]["spans"]]
    exp0 += [
        (s["kind"], s["text"], s["media_ref"])
        for s in expected_block_spans(plan_html_doc(9))
    ]
    assert got[doc0["doc_id"]] == exp0
    assert got[rdocs[1]["doc_id"]] == [
        (s["kind"], s["text"], s["media_ref"]) for s in rexp[1]["spans"]
    ]


def test_html_lineage_metrics(spark, tmp_path):
    """metrics_path + html=True writes a second stage's per-partition
    counters (html_extract) next to the decode stage's, same schema."""
    rdocs, blobs, _ = gen_corpus(2)
    hdocs, _ = zip(*(gen_html_doc(i) for i in range(3)))
    docs_df = spark.createDataFrame(rdocs + list(hdocs), DOCS_SCHEMA)
    blobs_df = spark.createDataFrame(blobs, BLOBS_SCHEMA)
    mpath = str(tmp_path / "metrics")
    extract_spans(
        spark, docs_df, blobs_df, html=True, metrics_path=mpath, run_id="h1"
    ).write.format("noop").mode("overwrite").save()
    m = spark.read.parquet(mpath)
    stages = {r.stage for r in m.select("stage").distinct().collect()}
    assert stages == {"decode_detect_ocr", "html_extract"}
    h = m.where(F.col("stage") == "html_extract")
    agg = h.groupBy().sum("docs_processed", "pages_decoded", "errors").collect()[0]
    assert agg[0] >= 3  # 3 html docs parsed (partition-sum is an upper bound)
    assert agg[1] == 3  # one html span per fixture doc
    assert agg[2] == 0


def test_multiple_html_spans_per_doc(spark):
    """A doc may interleave SEVERAL markup spans with text: each is replaced
    at its own position, order preserved, offsets contiguous."""
    doc = {
        "doc_id": "multi",
        "spans": [
            {"kind": "text", "text": "intro", "media_ref": "", "offset": 0},
            {"kind": "html", "text": "<p>first block</p><p>second</p>",
             "media_ref": "", "offset": 1},
            {"kind": "text", "text": "middle", "media_ref": "", "offset": 2},
            {"kind": "html",
             "text": "<nav><a href='/'>x</a></nav><p>third</p><img src='im-9'>",
             "media_ref": "", "offset": 3},
        ],
    }
    docs_df = spark.createDataFrame([doc], DOCS_SCHEMA)
    out = _tuples(extract_spans(spark, docs_df, None, html=True).collect())
    assert out["multi"] == [
        ("text", "intro", "", 0),
        ("text", "first block", "", 1),
        ("text", "second", "", 2),
        ("text", "middle", "", 3),
        ("text", "third", "", 4),
        ("media", "", "im-9", 5),
    ]


def test_null_spans_doc_survives_rewrite(spark):
    """A doc with a NULL spans array must not kill the rewrite task — it
    degrades like the Catalyst assembly (null in → null out), and other
    docs in the same batch are unaffected."""
    from tableextraction_spark.operators.html_extract import rewrite_html_spans

    docs = spark.createDataFrame(
        [("nullguy", None),
         ("ok", [{"kind": "html", "text": "<p>x</p>", "media_ref": "", "offset": 0}])],
        DOCS_SCHEMA,
    )
    rows = {r.doc_id: r for r in rewrite_html_spans(docs).collect()}
    assert rows["nullguy"].spans is None
    assert [(s.kind, s.text) for s in rows["ok"].spans] == [("text", "x")]


def test_incremental_emits_blobless_docs(spark, tmp_path):
    """run_incremental must emit docs that never appear in the blob stream
    (markup-only / text-only) — previously they were dropped forever."""
    from tableextraction_spark.streaming.incremental import run_incremental

    rdocs, blobs, rexp = gen_corpus(2)
    hdoc, hexp = gen_html_doc(5)         # markup-only: no media spans
    tdoc = {"doc_id": "textonly", "spans": [
        {"kind": "text", "text": "just text", "media_ref": "", "offset": 0}]}
    docs_df = spark.createDataFrame(rdocs + [hdoc, tdoc], DOCS_SCHEMA)
    blobs_dir = str(tmp_path / "blobs_in")
    spark.createDataFrame(blobs, BLOBS_SCHEMA).coalesce(1).write.parquet(blobs_dir)
    out = str(tmp_path / "spans_out")
    run_incremental(spark, blobs_dir, docs_df, out, str(tmp_path / "ckpt"), html=True)

    rows = {r.doc_id: r for r in spark.read.parquet(out).collect()}
    assert set(rows) == {d["doc_id"] for d in rdocs} | {hdoc["doc_id"], "textonly"}
    got_h = [(s.kind, s.text, s.media_ref) for s in rows[hdoc["doc_id"]].spans]
    assert got_h == [(s["kind"], s["text"], s["media_ref"]) for s in hexp["spans"]]
    assert [(s.kind, s.text) for s in rows["textonly"].spans] == [("text", "just text")]

    # rerun = no duplicates
    run_incremental(spark, blobs_dir, docs_df, out, str(tmp_path / "ckpt"), html=True)
    assert spark.read.parquet(out).count() == 4


def test_streaming_emits_null_spans_docs(spark, tmp_path):
    """A NULL-spans doc (batch emits it) must also come out of both
    streaming modes instead of vanishing in the media-count filters."""
    from tableextraction_spark.streaming.incremental import run_incremental
    from tableextraction_spark.streaming.stateful_assembly import run_stateful

    rdocs, blobs, _ = gen_corpus(1)
    docs_df = spark.createDataFrame(
        rdocs + [{"doc_id": "nullguy", "spans": None}], DOCS_SCHEMA
    )
    blobs_dir = str(tmp_path / "blobs_in")
    spark.createDataFrame(blobs, BLOBS_SCHEMA).coalesce(1).write.parquet(blobs_dir)

    out1 = str(tmp_path / "out_inc")
    run_incremental(spark, blobs_dir, docs_df, out1, str(tmp_path / "ck1"), html=True)
    assert "nullguy" in {r.doc_id for r in spark.read.parquet(out1).collect()}

    out2 = str(tmp_path / "out_st")
    run_stateful(spark, blobs_dir, docs_df, out2, str(tmp_path / "ck2"), html=True)
    assert "nullguy" in {r.doc_id for r in spark.read.parquet(out2).collect()}
    # html=False branch too (the non-rewrite n_pages expression)
    out3 = str(tmp_path / "out_st2")
    run_stateful(spark, blobs_dir, docs_df, out3, str(tmp_path / "ck3"))
    assert "nullguy" in {r.doc_id for r in spark.read.parquet(out3).collect()}


def test_harvest_operators_plan_is_narrow(spark):
    """Plan audit: the object-row and outlink harvest operators are
    explode→filter→mapInPandas — zero exchanges, zero joins, zero
    aggregates (the shuffle, if any, belongs to the CONSUMER)."""
    from tableextraction_spark.operators.html_extract import (
        extract_html_objects,
        extract_outlinks,
    )

    hdocs, _ = zip(*(gen_html_doc(i) for i in range(2)))
    docs_df = spark.createDataFrame(list(hdocs), DOCS_SCHEMA)
    for op in (extract_html_objects, extract_outlinks):
        plan = op(docs_df)._jdf.queryExecution().executedPlan().toString()
        for bad in ("Exchange", "SortMergeJoin", "BroadcastHashJoin",
                    "HashAggregate", "ObjectHashAggregate", "CartesianProduct"):
            assert bad not in plan, f"{bad} in {op.__name__} plan:\n{plan}"
        assert "MapInPandas" in plan
