"""HTML main-content extraction as batched Spark stages.

Input spans of kind ``html`` carry raw markup in ``text``; the DOM kernel
(htmlx.py) turns each into ordered text/table/media spans.  Two forms:

* :func:`rewrite_html_spans` — **the pipeline hot path**.  The markup lives
  INSIDE the docs row, so no join is needed at all: one ``mapInPandas`` over
  the docs scan replaces each html span in place and renumbers offsets —
  the whole html path is scan → map → output with ZERO exchanges ("markup
  never shuffles", the same design point as the raster path's "pixels never
  shuffle").  Measured against the object-row + groupBy + join formulation
  on a 240k-doc corpus: 2.3× the throughput at local[16] (18.0k vs 7.9k
  docs/s) and 4→16-core scaling 0.94 vs 0.55 — the aggregate/join variant's
  shuffle+sort of doc content was the whole scaling loss.  Per-doc lineage
  counters ride along as columns, and ``lineage=True`` folds them into one
  summary row per partition (operators/metrics.py).

* :func:`extract_html_objects` — the relational form: one row per extracted
  span keyed by (doc_id, src_offset), for queries whose target is the
  extracted objects themselves (e.g. harvesting `<table>` structures
  corpus-wide without assembling documents).

Shared properties: a multi-MB html payload is one Arrow row (pandas batches
bound memory via ``spark.sql.execution.arrow.maxRecordsPerBatch``,
session.py); per-row failure isolation mirrors the raster decode stage
(`operators/decode_detect.py`) — a crashing payload yields an error
row/counter, never a task failure.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

HTML_OBJS_SCHEMA = (
    "doc_id string, src_offset int, obj_no int, kind string, text string, "
    "media_ref string, error string"
)

_COLS = ["doc_id", "src_offset", "obj_no", "kind", "text", "media_ref", "error"]


def _html_spans(docs: DataFrame) -> DataFrame:
    """Shared projection: one (doc_id, src_offset, html) row per markup span."""
    return (
        docs.select("doc_id", F.explode("spans").alias("s"))
        .where(F.col("s.kind") == "html")
        .select(
            "doc_id",
            F.col("s.offset").alias("src_offset"),
            F.col("s.text").alias("html"),
        )
    )


def _null_offset(off) -> bool:
    """Shared guard: a null src_offset arrives as None/NaN; int() on it would
    kill the task, and a sentinel offset would name no span — callers emit
    an observable error row instead."""
    return off is None or pd.isna(off)

# DOCS_SCHEMA + per-doc lineage counters (+ n_pages: the ORIGINAL media-span
# count, needed by the stateful-streaming completeness check, which must not
# count html-extracted <img> media spans — no blob pages back them)
REWRITE_SCHEMA = (
    "doc_id string, spans array<struct<kind string, text string, "
    "media_ref string, offset int>>, n_pages int, "
    "html_parsed int, html_errors int, html_tables int, html_others int"
)


def _parse_batches(batches):
    from ..htmlx import extract_main_spans

    for pdf in batches:
        rows = []
        for doc_id, off, markup in zip(pdf["doc_id"], pdf["src_offset"], pdf["html"]):
            if _null_offset(off):  # see _null_offset
                rows.append(
                    (doc_id, -1, -1, "error", "", "", "null src_offset")
                )
                continue
            off = int(off)
            try:
                spans = extract_main_spans(markup or "")
            except Exception as exc:  # noqa: BLE001 — per-row isolation
                rows.append((doc_id, off, -1, "error", "", "", repr(exc)[:500]))
                continue
            for i, s in enumerate(spans):
                rows.append(
                    (doc_id, off, i, s["kind"], s["text"], s["media_ref"], None)
                )
        yield pd.DataFrame(rows, columns=_COLS)


def extract_html_objects(docs: DataFrame) -> DataFrame:
    """docs (doc_id, spans) → one row per main-content span extracted from
    each kind='html' input span: (doc_id, src_offset, obj_no, kind, text,
    media_ref, error)."""
    return _html_spans(docs).mapInPandas(_parse_batches, HTML_OBJS_SCHEMA).withColumn(
        "partition_id", F.spark_partition_id()
    )


def _rewrite_batches(batches):
    from ..htmlx import extract_main_spans

    for pdf in batches:
        out = []
        for doc_id, spans in zip(pdf["doc_id"], pdf["spans"]):
            new_spans, n_pages = [], 0
            parsed = errors = tables = others = 0
            # a null spans array (or null offsets) must degrade like the
            # Catalyst assembly does (null in → null out), not kill the task
            if spans is None:
                out.append(
                    {"doc_id": doc_id, "spans": None, "n_pages": 0,
                     "html_parsed": 0, "html_errors": 0, "html_tables": 0,
                     "html_others": 0}
                )
                continue
            order = lambda s: s["offset"] if s["offset"] is not None else -1  # noqa: E731
            for s in sorted(spans, key=order):
                if s["kind"] == "media":
                    n_pages += 1
                if s["kind"] != "html":
                    new_spans.append(
                        {"kind": s["kind"], "text": s["text"],
                         "media_ref": s["media_ref"]}
                    )
                    continue
                try:
                    extracted = extract_main_spans(s["text"] or "")
                except Exception:  # noqa: BLE001 — per-row isolation
                    errors += 1
                    continue  # failed markup span drops, doc survives
                parsed += 1
                for e in extracted:
                    if e["kind"] == "table":
                        tables += 1
                    else:
                        others += 1
                    new_spans.append(
                        {"kind": e["kind"], "text": e["text"],
                         "media_ref": e["media_ref"]}
                    )
            out.append(
                {
                    "doc_id": doc_id,
                    "spans": [
                        {**sp, "offset": i} for i, sp in enumerate(new_spans)
                    ],
                    "n_pages": n_pages,
                    "html_parsed": parsed,
                    "html_errors": errors,
                    "html_tables": tables,
                    "html_others": others,
                }
            )
        yield pd.DataFrame(
            out,
            columns=["doc_id", "spans", "n_pages", "html_parsed",
                     "html_errors", "html_tables", "html_others"],
        )


def _rewrite_with_lineage(batches):
    """``_rewrite_batches`` plus the partition's lineage summary row; the
    global lookup keeps ``_rewrite_batches`` wrappable by name."""
    from .metrics import fold_html_lineage

    return fold_html_lineage(_rewrite_batches(batches))


def rewrite_html_spans(docs: DataFrame, lineage: bool = False) -> DataFrame:
    """docs (doc_id, spans) → same rows with every kind='html' span replaced
    in place by its extracted main-content spans, offsets renumbered, plus
    per-doc lineage counter columns (REWRITE_SCHEMA).  ``lineage=True``
    adds a ``lineage`` string column: null on every doc row, the counters
    JSON on the one summary row per partition (operators/metrics.py) —
    callers must filter that row out before using the docs.

    One narrow map over the docs scan — no explode, no join, no shuffle.
    Note the semantic of extracted ``media`` spans: they become first-class
    input spans to the downstream assembly, so an ``<img src>`` that names a
    media_ref present in the blobs table gets its detected tables attached,
    exactly like a native media span (``n_pages`` deliberately counts only
    ORIGINAL media spans, so the streaming completeness check is unaffected).
    """
    fn, schema = (
        (_rewrite_with_lineage, REWRITE_SCHEMA + ", lineage string")
        if lineage else (_rewrite_batches, REWRITE_SCHEMA)
    )
    return docs.select("doc_id", "spans").mapInPandas(fn, schema).withColumn(
        "partition_id", F.spark_partition_id()
    )


OUTLINKS_SCHEMA = (
    "doc_id string, src_offset int, link_no int, href string, norm string, "
    "anchor string, error string"
)


def _link_batches(batches):
    from ..htmlx import extract_links

    for pdf in batches:
        rows = []
        for doc_id, off, markup in zip(pdf["doc_id"], pdf["src_offset"], pdf["html"]):
            if _null_offset(off):
                rows.append((doc_id, -1, -1, "", "", "", "null src_offset"))
                continue
            off = int(off)
            try:
                links = extract_links(markup or "")
            except Exception as exc:  # noqa: BLE001 — per-row isolation
                rows.append((doc_id, off, -1, "", "", "", repr(exc)[:500]))
                continue
            for i, ln in enumerate(links):
                rows.append(
                    (doc_id, off, i, ln["href"], ln["norm"], ln["text"], None)
                )
        yield pd.DataFrame(
            rows,
            columns=[
                "doc_id", "src_offset", "link_no", "href", "norm", "anchor", "error",
            ],
        )


def extract_outlinks(docs: DataFrame) -> DataFrame:
    """docs (doc_id, spans) → one row per anchor in each kind='html' span,
    in document order: (doc_id, src_offset, link_no, href, norm, anchor).
    ``href`` is the raw attribute; ``norm`` is the crawl-ready URL (resolved
    against the page's ``<base href>``, normalized by `htmlx.normalize_url`)
    — dedup the frontier on ``norm``, never on ``href``.

    The link-graph / crawl-frontier view: unlike the main-content rewrite
    this KEEPS boilerplate anchors (nav/footer/related links are exactly
    what a link graph wants — `htmlx.extract_links`).  Narrow plan: explode
    → filter → mapInPandas, no shuffle; feeds URL-frontier dedup, host
    aggregation, or PageRank-style link tables downstream."""
    return _html_spans(docs).mapInPandas(_link_batches, OUTLINKS_SCHEMA).withColumn(
        "partition_id", F.spark_partition_id()
    )
