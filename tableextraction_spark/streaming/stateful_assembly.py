"""Stateful streaming extraction: documents whose pages straddle micro-batches.

The page stream feeds ``applyInPandasWithState`` keyed by ``doc_id``.  The
state function only GROUPS: it buffers each doc's detected-object rows
(``TABLES_SCHEMA``: page markers, error rows and objects, unfiltered) plus
the set of pages seen, and emits the buffered rows once the seen-page count
reaches the page count the document's own media spans declare (the
completeness check; the expected count rides in on a stream-static join with
the docs table).  No watermark clock is needed because completeness is
structural, not temporal: a doc with pages in flight simply stays in state.

Each micro-batch then runs the batch job's own Catalyst assembly,
``assemble_spans_sql(docs ⋉ batch, batch)``, so batch and stream share one
assembly (it drops markers and error rows, so error pages count toward
completeness but contribute no object spans).  Span text never passes
through state.  The decode stage is the same fused ``mapInArrow`` as batch.

``html=True`` extracts main content from markup spans exactly like batch:
the docs table is rewritten ONCE per run (in-place span replacement,
`operators/html_extract.py::rewrite_html_spans` — zero-shuffle) before it
feeds both the text-only batch write and the micro-batch assembly.  By
default the completeness check counts ORIGINAL media spans (the rewrite's
``n_pages`` column), never html-extracted ``<img>`` spans — a dangling
<img> ref (the normal web case) would deadlock the doc in state.  The
default streaming semantic is therefore: html-extracted media spans do not
gate completeness, and a doc with no NATIVE media spans emits batch-side
(un-attached).  Opt in with ``attach_html_media=True`` when the corpus
guarantees every ``<img src>`` resolves to a blob that WILL arrive on the
stream: completeness then counts media spans of the REWRITTEN document
(native + html-extracted), those blobs' detected tables attach exactly like
native pages, and the output matches the batch pipeline's for the same doc.
Blob rows backing html refs must carry doc_id and a page_no distinct within
the doc, like native pages.

``trigger(availableNow=True)`` drains everything pending and stops, which is
both the test mode and the production catch-up mode.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators import TABLES_SCHEMA, assemble_spans_sql
from ..operators.decode_detect import make_decode_detect_ocr
from ..pipeline import BLOBS_SCHEMA

_COLUMNS = [f.split()[0] for f in TABLES_SCHEMA.split(", ")]
STATE_SCHEMA = f"seen array<int>, rows array<struct<{TABLES_SCHEMA}>>, n_pages int"


def _update_doc(key, pdfs, state: GroupState):
    seen, rows, n_pages = state.get if state.exists else ([], [], None)
    seen, rows = set(seen), list(rows)
    for pdf in pdfs:
        # every row carries the doc's n_pages; max() also takes an empty chunk
        n_pages = max(pdf["n_pages"], default=n_pages)
        seen.update(pdf["page_no"])  # markers/errors/objects all mark the page
        rows += pdf[_COLUMNS].itertuples(index=False, name=None)
    if n_pages is not None and len(seen) >= n_pages:
        state.remove()
        yield pd.DataFrame(rows, columns=_COLUMNS)
    else:
        state.update((sorted(seen), rows, n_pages))


def run_stateful(
    spark: SparkSession,
    blobs_dir: str,
    docs: DataFrame,
    out_path: str,
    checkpoint: str,
    classify: bool = False,
    max_files_per_trigger: int = 16,
    html: bool = False,
    attach_html_media: bool = False,
) -> None:
    """Drain blob files → exactly one (doc_id, spans) row per COMPLETE doc.

    Text-only documents (no media pages, hence no blob rows) are emitted by
    a per-run batch write; paged documents emit from state when their
    declared page count completes.  Every write anti-joins the committed
    output, so reruns, crash-replayed micro-batches, and late-arriving
    text-only docs are all handled exactly-once-effective.  Incomplete
    documents stay in the state store and complete on a later run against
    the same checkpoint.
    """
    from .sink import IdempotentSink

    # Dedup set = run-start committed snapshot + ids appended within this
    # run (sink.py) — crash-replayed batches, re-runs, AND duplicate blob
    # files re-completing a doc later in the same run all become no-ops.
    # (The parquet STREAMING sink would give replay-idempotence via its
    # _spark_metadata log, but that log also hides batch-written files
    # from readers; an Iceberg sink makes the appends transactional at
    # deployment.)
    sink = IdempotentSink(spark, out_path)

    # ``base``: docs (html spans already replaced by the zero-shuffle
    # rewrite) with n_pages, the page count completeness waits for.
    # null-safe: NULL spans size to -1/NULL and would match neither the ==0
    # (text-only emit) nor the >0 (state) branch — the doc would silently
    # vanish; batch emits it with NULL spans
    n_media = (
        F.when(F.col("spans").isNull(), F.lit(0))
        .otherwise(F.expr("size(filter(spans, s -> s.kind = 'media'))"))
    )
    if html:
        from ..operators.html_extract import rewrite_html_spans

        docs = rewrite_html_spans(docs)
    # default: the rewrite's ORIGINAL media-span count (html-extracted <img>
    # spans have no blob pages behind them); attach_html_media: the
    # REWRITTEN doc's media spans gate like native pages (module docstring)
    n_pages = F.col("n_pages") if html and not attach_html_media else n_media
    # the static side of a stream-static join is re-evaluated every
    # micro-batch — cache it so the DOM parse runs once per run, not per batch
    base = docs.select("doc_id", "spans", n_pages.alias("n_pages")).persist()

    # Text-only documents (zero media spans) never appear in the blobs
    # stream, so state-based completeness would silently drop them; emit
    # NEW ones batch-side every run (late arrivals included).  Pruning
    # BEFORE assembly keeps the steady-state run O(committed-id scan) when
    # nothing new arrived.
    text_only = base.where(F.col("n_pages") == 0).select("doc_id", "spans")
    if sink.committed is not None:
        text_only = text_only.join(sink.committed, "doc_id", "left_anti")
    empty_tables = spark.createDataFrame([], TABLES_SCHEMA)
    sink.append_new_docs(assemble_spans_sql(text_only, empty_tables))

    stream = (
        spark.readStream.schema(BLOBS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(blobs_dir)
    )
    tables = stream.select(
        "doc_id", "media_ref", "page_no", "content"
    ).mapInArrow(make_decode_detect_ocr(classify), TABLES_SCHEMA)
    completed = (
        # stream-static join; text-only docs are handled batch-side above —
        # if a stray blob row carried their doc_id, state's `seen >= 0`
        # would emit a duplicate
        tables.join(base.select("doc_id", "n_pages").where("n_pages > 0"), "doc_id")
        .groupBy("doc_id")
        .applyInPandasWithState(
            _update_doc,
            TABLES_SCHEMA,
            STATE_SCHEMA,
            "append",
            GroupStateTimeout.NoTimeout,
        )
    )

    def write_batch(batch: DataFrame, _epoch: int) -> None:
        # read twice below: persist so the state operator runs once
        batch.persist()
        try:
            done = base.join(batch.select("doc_id"), "doc_id", "left_semi")
            sink.append_new_docs(assemble_spans_sql(done, batch))
        finally:
            batch.unpersist()

    # foreachBatch + the idempotent sink, NOT the parquet streaming sink:
    # that sink's _spark_metadata log makes the directory readable only
    # through the log (hiding the batch-written text-only rows), and the
    # dedup anti-joins restore the idempotent replay a blind append loses
    try:
        (
            completed.writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    finally:
        base.unpersist()
        sink.close()
