"""Per-partition lineage + counters (FIXTURES.md §5 schema).

The reference only has commented-out ``logging`` calls
(``table_extraction/detection.py:13-17``); the north rule requires real
per-partition lineage: pages decoded, tables detected, cells OCR'd, errors.

One pass: each stage folds its partition's counters inside the UDF it
already runs (:func:`fold_decode_lineage` over the decode stage's output
batches, :func:`fold_html_lineage` over the html rewrite's) and, after the
partition's last batch, emits ONE summary row carrying them as JSON — only
for partitions that emitted any row.  For ``pipeline.run_to_parquet`` the
plan gets a ``DataFrame.observe`` right after each stage
(:func:`observe_lineage`), so the summary rows are collected by the same
execution that writes the spans; after the spans commit they are appended
as metrics rows (:func:`metrics_frame`).
No persist, no second scan or parse, no ``countDistinct`` exchange.

Counter semantics: ``pages_decoded`` / ``tables_detected`` / ``cells_ocrd`` /
``errors`` / ``wall_ms`` are additive across partitions (global total =
sum).  ``docs_processed`` is a per-partition distinct count — a document
whose pages land in several partitions is counted in each, so the global
sum is an upper bound, not a distinct count (use the spans output for exact
doc counts).  Decode ``wall_ms`` is Σ per-page decode+detect+OCR time; html
``wall_ms`` is the partition's time inside the rewrite generator.
"""

from __future__ import annotations

import json
import time
from collections.abc import Iterable, Iterator

import pyarrow as pa
import pyarrow.compute as pc

from .decode_detect import _FIELDS

METRICS_SCHEMA = (
    "run_id string, stage string, partition_id int, docs_processed long, "
    "pages_decoded long, tables_detected long, plots_detected long, "
    "cells_ocrd long, errors long, wall_ms long, committed_at timestamp"
)
COUNTERS = (
    "docs_processed", "pages_decoded", "tables_detected", "plots_detected",
    "cells_ocrd", "errors", "wall_ms",
)
DECODE_STAGE = "decode_detect_ocr"
HTML_STAGE = "html_extract"
# kind of the decode stage's summary row (obj_no < 0: assembly drops it)
LINEAGE_KIND = "lineage"
LINEAGE_OBJ_NO = -2
# longest wait for the listener bus to report an observation
OBSERVE_TIMEOUT_S = 300


def fold_decode_lineage(
    batches: Iterable[pa.RecordBatch], partition_id: int | None = None
) -> Iterator[pa.RecordBatch]:
    """Pass the decode stage's output batches through, then yield one
    summary row (TABLES_SCHEMA, ``kind = 'lineage'``, counters JSON in
    ``payload``) when any row went by.  ``partition_id`` is appended as a
    last column when the caller's schema carries it (the python scan)."""
    docs: set = set()
    pages: set = set()
    n = dict.fromkeys(COUNTERS, 0)
    rows = 0
    for b in batches:
        rows += b.num_rows
        docs.update(b.column("doc_id").to_pylist())
        pages.update(b.column("media_ref").to_pylist())
        kind = b.column("kind")
        is_table = pc.fill_null(pc.equal(kind, "table"), False)
        n["tables_detected"] += pc.sum(is_table).as_py() or 0
        n["plots_detected"] += pc.sum(pc.equal(kind, "plot")).as_py() or 0
        n["cells_ocrd"] += pc.sum(pc.filter(b.column("n_items"), is_table)).as_py() or 0
        n["errors"] += pc.sum(pc.is_valid(b.column("error"))).as_py() or 0
        n["wall_ms"] += pc.sum(b.column("wall_ms")).as_py() or 0
        yield b
    if not rows:
        return
    docs.discard(None)
    pages.discard(None)
    n["docs_processed"], n["pages_decoded"] = len(docs), len(pages)
    fields = list(_FIELDS)
    values = {"obj_no": LINEAGE_OBJ_NO, "kind": LINEAGE_KIND,
              "payload": json.dumps(n), "n_items": 0, "wall_ms": n["wall_ms"]}
    if partition_id is not None:
        fields.append(("partition_id", pa.int32()))
        values["partition_id"] = partition_id
    yield pa.RecordBatch.from_arrays(
        [pa.array([values.get(name)], type=t) for name, t in fields],
        schema=pa.schema(fields),
    )


def fold_html_lineage(frames: Iterable) -> Iterator:
    """Pass the html rewrite's output frames through with a null
    ``lineage`` column, then yield one summary row whose ``lineage`` holds
    the counters JSON, when any doc parsed or failed a markup span.
    ``wall_ms`` is the time spent producing the frames (input read + parse
    + extract), not the time the consumer holds them."""
    import pandas as pd

    docs: set = set()
    n = dict.fromkeys(COUNTERS, 0)
    it = iter(frames)
    wall = 0.0
    while True:
        t0 = time.perf_counter()
        pdf = next(it, None)
        wall += time.perf_counter() - t0
        if pdf is None:
            break
        touched = (pdf["html_parsed"] > 0) | (pdf["html_errors"] > 0)
        docs.update(pdf["doc_id"][touched].dropna())
        n["pages_decoded"] += int(pdf["html_parsed"].sum())
        n["tables_detected"] += int(pdf["html_tables"].sum())
        n["cells_ocrd"] += int(pdf["html_others"].sum())
        n["errors"] += int(pdf["html_errors"].sum())
        pdf["lineage"] = None
        yield pdf
    if not docs and not n["pages_decoded"] and not n["errors"]:
        return
    n["docs_processed"], n["wall_ms"] = len(docs), int(wall * 1000)
    yield pd.DataFrame([{
        "doc_id": None, "spans": None, "n_pages": 0, "html_parsed": 0,
        "html_errors": 0, "html_tables": 0, "html_others": 0,
        "lineage": json.dumps(n),
    }])


def observe_lineage(df, stage: str, marker, counters):
    """→ (``df`` observed, Observation).  The observation collects
    (stage, partition_id, counters JSON) of the rows where ``marker``
    holds, during whatever action consumes the returned frame."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    row = F.struct(
        F.lit(stage).alias("stage"), "partition_id", counters.alias("counters")
    )
    return df.observe(obs, F.collect_list(F.when(marker, row)).alias("rows")), obs


def observed_rows(obs) -> list:
    """The observation's rows, once the action that consumed the observed
    frame has been reported (over the listener bus, so a few ms after the
    action returns).  A stage the optimizer proved empty and pruned
    reports an empty row: no rows.  Bounded, because ``Observation.get``
    waits forever for a report that never comes."""
    fut = obs._jo.future()
    deadline = time.monotonic() + OBSERVE_TIMEOUT_S
    while not fut.isCompleted():
        if time.monotonic() > deadline:
            raise TimeoutError(
                f"lineage observation not reported within {OBSERVE_TIMEOUT_S} s"
            )
        time.sleep(0.005)
    if obs._jo.getRow().size() == 0:
        return []
    return obs.get["rows"]


def metrics_frame(spark, rows: Iterable, run_id: str):
    """Observed (stage, partition_id, counters) rows → FIXTURES.md §5
    metrics rows, one per (stage, partition_id): a re-run map stage or a
    speculative task re-sends its partition's summary row, and the first
    copy wins.  Built from pandas (Arrow → JVM, no Python worker)."""
    import datetime

    import pandas as pd

    folded: dict[tuple, dict] = {}
    for r in rows:
        folded.setdefault((r["stage"], r["partition_id"]), json.loads(r["counters"]))
    now = pd.Timestamp(datetime.datetime.now(datetime.timezone.utc))
    pdf = pd.DataFrame(
        [
            {"run_id": run_id, "stage": stage, "partition_id": pid,
             **{c: int(counters[c]) for c in COUNTERS}, "committed_at": now}
            for (stage, pid), counters in sorted(folded.items())
        ],
        columns=["run_id", "stage", "partition_id", *COUNTERS, "committed_at"],
    )
    return spark.createDataFrame(pdf, METRICS_SCHEMA)
