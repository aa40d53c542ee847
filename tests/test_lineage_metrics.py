"""Lineage metrics written by ``run_to_parquet`` from the spans write's own
pass: the observed per-partition summary rows must equal a per-partition
``groupBy`` over the very rows each stage emitted in that pass (the
aggregation the pipeline ran as separate executions before it folded the
counters into the stage UDFs), duplicates fold to one row, summary rows
never reach the spans, and a first run reads nothing to find out."""

import json

import pytest
from pyspark.sql import Observation, Row
from pyspark.sql import functions as F

from tableextraction_spark import pipeline
from tableextraction_spark.fixtures import gen_corpus
from tableextraction_spark.fixtures.html_gen import gen_html_doc
from tableextraction_spark.operators import html_extract, metrics
from tableextraction_spark.pipeline import BLOBS_SCHEMA, DOCS_SCHEMA, run_to_parquet

COLS = ["stage", "partition_id", *metrics.COUNTERS]


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    """Mixed-codec raster docs (one page corrupt → an error row) plus html
    docs in one docs table; the blobs both as a frame and as a path."""
    rdocs, blobs, _ = gen_corpus(8, codec="mixed")
    hdocs, _ = zip(*(gen_html_doc(i) for i in range(6)))
    blobs[0] = {**blobs[0], "content": b"\x00garbage"}
    docs_df = spark.createDataFrame(rdocs + list(hdocs), DOCS_SCHEMA).repartition(3)
    blobs_df = spark.createDataFrame(blobs, BLOBS_SCHEMA).repartition(4)
    blobs_path = str(tmp_path_factory.mktemp("lineage") / "blobs")
    blobs_df.write.parquet(blobs_path)
    return docs_df, {"frame": blobs_df, "path": blobs_path}


def decode_oracle(tables):
    return tables.groupBy("partition_id").agg(
        F.lit(metrics.DECODE_STAGE).alias("stage"),
        F.countDistinct("doc_id").alias("docs_processed"),
        F.countDistinct("media_ref").alias("pages_decoded"),
        F.sum((F.col("kind") == "table").cast("long")).alias("tables_detected"),
        F.sum((F.col("kind") == "plot").cast("long")).alias("plots_detected"),
        F.sum(F.when(F.col("kind") == "table", F.col("n_items")).otherwise(0))
        .cast("long").alias("cells_ocrd"),
        F.sum(F.col("error").isNotNull().cast("long")).alias("errors"),
        F.sum("wall_ms").cast("long").alias("wall_ms"),
    )


def html_oracle(rewritten):
    return (
        rewritten.where((F.col("html_parsed") > 0) | (F.col("html_errors") > 0))
        .groupBy("partition_id")
        .agg(
            F.lit(metrics.HTML_STAGE).alias("stage"),
            F.countDistinct("doc_id").alias("docs_processed"),
            F.sum("html_parsed").cast("long").alias("pages_decoded"),
            F.sum("html_tables").cast("long").alias("tables_detected"),
            F.lit(0).cast("long").alias("plots_detected"),
            F.sum("html_others").cast("long").alias("cells_ocrd"),
            F.sum("html_errors").cast("long").alias("errors"),
            F.lit(None).cast("long").alias("wall_ms"),
        )
    )


def _tap_stage_outputs(monkeypatch):
    """Observe every row the decode and html stages emit, in the same
    execution that writes the spans → {stage: (Observation, schema)}."""
    taps = {}

    def tap(stage, df):
        obs = Observation()
        taps[stage] = (obs, df.schema)
        return df.observe(obs, F.collect_list(F.struct(*df.columns)).alias("rows"))

    assemble = pipeline.assemble_spans_sql
    monkeypatch.setattr(
        pipeline, "assemble_spans_sql",
        lambda todo, tables: assemble(todo, tap(metrics.DECODE_STAGE, tables)),
    )
    rewrite = html_extract.rewrite_html_spans
    monkeypatch.setattr(
        html_extract, "rewrite_html_spans",
        lambda docs, lineage=False: tap(metrics.HTML_STAGE, rewrite(docs, lineage=lineage)),
    )
    return taps


def _rows(df):
    """Sorted metrics tuples; html wall_ms is a timing, so it is blanked."""
    out = []
    for r in df.select(*COLS).collect():
        d = r.asDict()
        if d["stage"] == metrics.HTML_STAGE:
            d["wall_ms"] = None
        out.append(tuple(d[c] for c in COLS))
    return sorted(out)


@pytest.mark.parametrize("scan", ["frame", "path"])
def test_metrics_equal_groupby_oracle(spark, corpus, tmp_path, monkeypatch, scan):
    docs_df, blobs = corpus
    taps = _tap_stage_outputs(monkeypatch)
    mpath = str(tmp_path / "metrics")
    run_to_parquet(spark, docs_df, blobs[scan], str(tmp_path / "out"),
                   metrics_path=mpath, run_id="eq1", html=True)
    emitted = {
        stage: spark.createDataFrame(metrics.observed_rows(obs), schema)
        for stage, (obs, schema) in taps.items()
    }
    tables = emitted[metrics.DECODE_STAGE].where(
        F.col("obj_no") != metrics.LINEAGE_OBJ_NO
    )
    rewritten = emitted[metrics.HTML_STAGE].where(F.col("lineage").isNull())
    want = _rows(decode_oracle(tables).unionByName(html_oracle(rewritten)))

    got = spark.read.parquet(mpath)
    assert _rows(got) == want
    assert {r.stage for r in got.collect()} == {metrics.DECODE_STAGE, metrics.HTML_STAGE}
    assert sum(r[-2] for r in want if r[0] == metrics.DECODE_STAGE) == 1  # the corrupt page
    assert {r.run_id for r in got.collect()} == {"eq1"}
    assert all(r.committed_at is not None for r in got.collect())
    # the html stage reports its real in-UDF time, not a literal 0
    html_ms = [r.wall_ms for r in got.where(F.col("stage") == metrics.HTML_STAGE).collect()]
    assert all(ms >= 0 for ms in html_ms) and sum(html_ms) > 0


def test_markup_only_corpus_writes_html_lineage(spark, tmp_path):
    """blobs=None: the html stage alone reports, and nothing else runs."""
    hdocs, _ = zip(*(gen_html_doc(i) for i in range(4)))
    docs_df = spark.createDataFrame(list(hdocs), DOCS_SCHEMA)
    mpath = str(tmp_path / "metrics")
    run_to_parquet(spark, docs_df, None, str(tmp_path / "out"),
                   metrics_path=mpath, html=True)
    m = spark.read.parquet(mpath).collect()
    assert {r.stage for r in m} == {metrics.HTML_STAGE}
    assert sum(r.pages_decoded for r in m) == 4
    assert spark.read.parquet(str(tmp_path / "out")).count() == 4


def test_duplicate_summary_rows_fold_to_one(spark):
    """A re-run map stage or a speculative task re-sends its partition's
    summary row: one metrics row per (stage, partition_id) all the same."""
    c = {k: 2 for k in metrics.COUNTERS}
    rows = [
        Row(stage=metrics.DECODE_STAGE, partition_id=0, counters=json.dumps(c)),
        Row(stage=metrics.DECODE_STAGE, partition_id=1, counters=json.dumps(c)),
        Row(stage=metrics.DECODE_STAGE, partition_id=0,
            counters=json.dumps({**c, "wall_ms": 9})),
        Row(stage=metrics.HTML_STAGE, partition_id=0, counters=json.dumps(c)),
    ]
    got = metrics.metrics_frame(spark, rows, "dup").collect()
    keys = sorted((r.stage, r.partition_id) for r in got)
    assert keys == [(metrics.DECODE_STAGE, 0), (metrics.DECODE_STAGE, 1),
                    (metrics.HTML_STAGE, 0)]
    assert all(r.pages_decoded == 2 and r.run_id == "dup" for r in got)


def test_summary_rows_never_reach_the_spans(spark, corpus, tmp_path):
    """The lineage-enabled plan writes exactly the spans of the plain one."""
    docs_df, blobs = corpus
    plain = pipeline.extract_spans(spark, docs_df, blobs["path"], html=True)
    out = str(tmp_path / "out")
    run_to_parquet(spark, docs_df, blobs["path"], out,
                   metrics_path=str(tmp_path / "m"), html=True)

    def spans(df):
        return sorted((r.doc_id, str(r.spans)) for r in df.collect())

    assert spans(spark.read.parquet(out)) == spans(plain)


def test_first_run_probe_reads_nothing(spark, tmp_path, monkeypatch):
    """A missing output, or one holding only crash debris, is a first run
    decided on the filesystem — no read, so no failed analysis (each of
    which logs a listener ERROR once a session has used ``observe``).
    A corrupt output still aborts."""
    import os

    from pyspark.sql.readwriter import DataFrameReader

    from tableextraction_spark.streaming.sink import read_committed

    debris = tmp_path / "debris"
    os.makedirs(debris / "_temporary")
    (debris / "_SUCCESS").write_bytes(b"")

    def refuse(self, *a, **k):
        raise AssertionError("probe read a missing output")

    with monkeypatch.context() as mp:
        mp.setattr(DataFrameReader, "parquet", refuse)
        assert read_committed(spark, str(tmp_path / "missing")) is None
        assert read_committed(spark, str(debris)) is None
    corrupt = tmp_path / "corrupt"
    corrupt.mkdir()
    (corrupt / "part-00000.parquet").write_bytes(b"not parquet")
    with pytest.raises(Exception):
        read_committed(spark, str(corrupt))
