"""Fused decode → detect → OCR → per-object assembly as one Arrow batch stage.

Covers reference stages A–F at the per-object level
(``table_extraction/extractor.py:24-68``): page decode
(``preprocessing.py:10-62``), gray/binarize (``:81-112``), line detection +
node/cell geometry (``detection.py:221-604``), template OCR
(``recognition.py:167-238`` role), per-table structure build
(``builder.py:11-426`` + ``export.py:21-74``), and plot digitization
(``plot_processing/PlotProcessing.ipynb`` — the reference's table|plot class
split) — all inside one Arrow batch UDF so page pixels cross process
boundaries at most once and **never shuffle**: only small JSON rows leave
the stage.

Payload access is zero-copy: binary cells are sliced as memoryviews of the
Arrow data buffer (an ``as_py()`` bytes copy per 0.5 MB page measured ~3× the
whole-stage cost at 14k pages) and NumPy views them directly.

Per-row failure isolation (reference wraps each stage in try/except returning
False, ``extractor.py:27-66``): a failing page emits an ``error`` row instead
of aborting the task.  Each successfully decoded page emits a page-marker row
(``obj_no = -1``) carrying the page's wall time so page/object/cell counters
survive into the lineage metrics even for empty pages.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa

TABLES_SCHEMA = (
    "doc_id string, media_ref string, page_no int, obj_no int, kind string, "
    "n_items int, payload string, error string, wall_ms long"
)

_FIELDS = [
    ("doc_id", pa.string()),
    ("media_ref", pa.string()),
    ("page_no", pa.int32()),
    ("obj_no", pa.int32()),
    ("kind", pa.string()),
    ("n_items", pa.int32()),
    ("payload", pa.string()),
    ("error", pa.string()),
    ("wall_ms", pa.int64()),
]


def _binary_views(col: pa.Array) -> list[memoryview]:
    """Zero-copy memoryview slices of a (Large)Binary array's data buffer."""
    bufs = col.buffers()
    off_dtype = np.int64 if pa.types.is_large_binary(col.type) else np.int32
    offsets = np.frombuffer(bufs[1], dtype=off_dtype)[
        col.offset : col.offset + len(col) + 1
    ]
    data = memoryview(bufs[2])
    return [data[offsets[i] : offsets[i + 1]] for i in range(len(col))]


def process_content_rows(
    batch: pa.RecordBatch, classify: bool = False, partition_id: int | None = None
) -> pa.RecordBatch | None:
    """(doc_id, media_ref, page_no, content) rows → per-page/per-object rows."""
    import time

    from ..kernel.page import extract_objects
    from ..media import iter_pages

    doc_ids = batch.column("doc_id").to_pylist()
    refs = batch.column("media_ref").to_pylist()
    page_nos = batch.column("page_no").to_pylist()
    payloads = _binary_views(batch.column("content"))
    rows: list[tuple] = []
    for i in range(batch.num_rows):
        did, ref, pno = doc_ids[i], refs[i], int(page_nos[i])
        # multi-page payloads (TIFF IFD chains, multi-page PDFs) expand
        # 1→N here; obj_no runs GLOBALLY across the payload's pages so the
        # assemble stage's (media_ref, obj_no) sort keeps page order
        # without needing page_no in its key.  Single-page payloads keep
        # the caller's page_no; multi-page ones use the in-payload index.
        obj_counter = 0
        pages_done = 0
        t0 = time.perf_counter()
        try:
            for pidx, npages, page in iter_pages(payloads[i]):
                objects = extract_objects(page, classify=classify)
                out_pno = pno if npages == 1 else pidx
                ms = int((time.perf_counter() - t0) * 1000)
                # page marker carries the page's decode+detect+ocr wall time
                rows.append((did, ref, out_pno, -1, None, 0, None, None, ms))
                pages_done += 1
                for kind, n_items, payload in objects:
                    rows.append(
                        (did, ref, out_pno, obj_counter, kind, n_items,
                         payload, None, 0)
                    )
                    obj_counter += 1
                t0 = time.perf_counter()
        except Exception as exc:  # per-row failure isolation: pages already
            # emitted from this payload stand; the error row names the
            # FAILING page (pages_done = its in-payload index) so its key
            # never collides with an emitted success marker
            ms = int((time.perf_counter() - t0) * 1000)
            err_pno = pno if pages_done == 0 else pages_done
            rows.append(
                (did, ref, err_pno, -1, None, 0, None,
                 f"{type(exc).__name__}: {exc}", ms)
            )
            continue
        if pages_done == 0:
            # a structurally-valid container with zero pages (e.g. an empty
            # PDF /Kids) must leave a trace, not silently vanish
            ms = int((time.perf_counter() - t0) * 1000)
            rows.append(
                (did, ref, pno, -1, None, 0, None,
                 "ValueError: payload decoded to zero pages", ms)
            )
    if not rows:
        return None
    fields = list(_FIELDS)
    if partition_id is not None:
        rows = [r + (partition_id,) for r in rows]
        fields.append(("partition_id", pa.int32()))
    cols = list(zip(*rows))
    return pa.RecordBatch.from_arrays(
        [pa.array(c, type=t) for c, (_n, t) in zip(cols, fields)],
        schema=pa.schema(fields),
    )


def make_decode_detect_ocr(classify: bool = False, lineage: bool = False):
    """mapInArrow fn over (doc_id, media_ref, page_no, content) blob rows.

    ``classify=True`` enables the reference's optional fuzzy-keyword table
    filter (``recognition.py:78-97`` placement: between OCR and structure
    assembly); dropped tables don't get a row, exactly like
    ``filter_tables_by_classification`` drops crops.  ``lineage=True``
    appends the partition's lineage summary row (operators/metrics.py).
    """

    def decode_rows(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            out = process_content_rows(batch, classify=classify)
            if out is not None:
                yield out

    def decode_fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from .metrics import fold_decode_lineage

        return fold_decode_lineage(decode_rows(batches))

    return decode_fn if lineage else decode_rows
