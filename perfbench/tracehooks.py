"""Worker-side span recording for the traced run, from outside the program.

Started as the PySpark daemon (``spark.python.daemon.module``): the
wrappers are installed in the daemon, before it forks its workers, and each
wraps a name where the program looks it up at call time.  Spans are
buffered in worker memory and appended to
``$PERFBENCH_TRACE_DIR/spans-<pid>.jsonl`` once per Arrow batch, one JSON
list per span::

    [name, id, parent_id, start_s, end_s, key, count, stage, partition]

``key`` is the page's ``media_ref`` or the doc's ``doc_id``; ``count`` is
the work the call did (pages, cells, rows), or 0.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
from time import perf_counter

ENV = "PERFBENCH_TRACE_DIR"

# kernel.page names that extract_objects calls through its module globals
KERNEL_CALLEES = (
    "grayzation", "binarize", "detect_segments", "cluster_tables",
    "intersect_lines", "snap_nodes", "dedup_grid_fixpoint", "cells_from_nodes",
)


class Recorder:
    """Span buffer, parent stack and the identifiers of the current row."""

    def __init__(self, out_dir: str):
        self.out_dir = out_dir
        self.buf: list[list] = []
        self.stack: list[int] = []
        self.ids = itertools.count(1)
        self.refs: list = []  # media_refs of the current batch, row order
        self.row = 0
        self.key = None  # media_ref / doc_id the running call works on
        self.html_keys = iter(())

    def open(self) -> tuple[int, int | None, float]:
        sid = next(self.ids)
        parent = self.stack[-1] if self.stack else None
        self.stack.append(sid)
        return sid, parent, perf_counter()

    def close(self, name, sid, parent, t0, key=None, count=0, stage=-1, part=-1):
        t1 = perf_counter()
        self.stack.pop()
        self.buf.append([name, sid, parent, t0, t1, key, count, stage, part])

    def flush(self):
        if not self.buf:
            return
        lines = "".join(json.dumps(s) + "\n" for s in self.buf)
        with open(os.path.join(self.out_dir, f"spans-{os.getpid()}.jsonl"), "a") as f:
            f.write(lines)
        self.buf.clear()

    def timed(self, name, fn, count=None):
        """Wrap ``fn``; the span is keyed by the current row's identifier."""

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            sid, parent, t0 = self.open()
            out = None
            try:
                out = fn(*args, **kwargs)
                return out
            finally:
                n = count(args, out) if count and out is not None else 0
                self.close(name, sid, parent, t0, self.key, n)

        return wrapper

    def udf(self, fn):
        """``process_content_rows``: one span per Arrow batch, then flush."""

        @functools.wraps(fn)
        def wrapper(batch, *args, **kwargs):
            from pyspark import TaskContext

            tc = TaskContext.get()
            stage, part = (tc.stageId(), tc.partitionId()) if tc else (-1, -1)
            self.refs = batch.column("media_ref").to_pylist()
            self.row = 0
            sid, parent, t0 = self.open()
            try:
                return fn(batch, *args, **kwargs)
            finally:
                self.close("udf", sid, parent, t0, None, batch.num_rows, stage, part)
                self.flush()

        return wrapper

    def pages(self, fn):
        """``media.iter_pages``: each ``next()`` is a decode span."""

        @functools.wraps(fn)
        def wrapper(payload):
            ref = self.refs[self.row] if self.row < len(self.refs) else None
            self.row += 1
            self.key = ref
            it = fn(payload)
            while True:
                sid, parent, t0 = self.open()
                try:
                    item = next(it)
                except StopIteration:
                    self.close("decode", sid, parent, t0, ref, 0)
                    return
                except BaseException:
                    self.close("decode", sid, parent, t0, ref, 0)
                    raise
                self.close("decode", sid, parent, t0, ref, 1)
                self.key = ref
                yield item

        return wrapper

    def ocr_resolver(self, resolve):
        @functools.wraps(resolve)
        def wrapper(*args, **kwargs):
            return self.timed("ocr", resolve(*args, **kwargs), count=lambda a, out: len(out))

        return wrapper

    def html_batches(self, fn):
        """``html_extract._rewrite_batches``: one span per pandas batch
        (from its arrival to its output), keys for the markup spans in it,
        then flush."""

        @functools.wraps(fn)
        def wrapper(batches):
            state = {}

            def feed():
                for pdf in batches:
                    ids = [
                        d for d, spans in zip(pdf["doc_id"], pdf["spans"])
                        if spans is not None
                        for s in spans if s["kind"] == "html"
                    ]
                    self.html_keys = iter(ids)
                    state["n"] = len(pdf)
                    state["open"] = self.open()
                    yield pdf

            for out in fn(feed()):
                sid, parent, t0 = state.pop("open")
                self.close("html.udf", sid, parent, t0, None, state["n"])
                self.flush()
                yield out

        return wrapper

    def html_extract(self, fn):
        @functools.wraps(fn)
        def wrapper(markup):
            self.key = next(self.html_keys, None)
            sid, parent, t0 = self.open()
            try:
                return fn(markup)
            finally:
                self.close("html.extract", sid, parent, t0, self.key, 1)

        return wrapper


def install(out_dir: str) -> Recorder:
    from tableextraction_spark import htmlx, media
    from tableextraction_spark.kernel import assemble, page, plots
    from tableextraction_spark.operators import decode_detect, html_extract
    from tableextraction_spark.sources import media_parquet

    rec = Recorder(out_dir)
    media.iter_pages = rec.pages(media.iter_pages)
    page.extract_objects = rec.timed("kernel", page.extract_objects, count=lambda a, out: 1)
    for name in KERNEL_CALLEES:
        count = (lambda a, out: len(out)) if name == "cells_from_nodes" else None
        setattr(page, name, rec.timed(name, getattr(page, name), count=count))
    page.resolve_ocr = rec.ocr_resolver(page.resolve_ocr)
    assemble.assemble_table = rec.timed("assemble_table", assemble.assemble_table, count=lambda a, out: 1)
    plots.digitize_plot = rec.timed("digitize_plot", plots.digitize_plot, count=lambda a, out: 1)
    htmlx.extract_main_spans = rec.html_extract(htmlx.extract_main_spans)
    htmlx.parse_html = rec.timed("html.parse", htmlx.parse_html, count=lambda a, out: 1)
    html_extract._rewrite_batches = rec.html_batches(html_extract._rewrite_batches)
    # one wrapper for both bindings, so a batch is never counted twice
    traced_udf = rec.udf(decode_detect.process_content_rows)
    decode_detect.process_content_rows = traced_udf
    media_parquet.process_content_rows = traced_udf
    return rec


if __name__ == "__main__":
    install(os.environ[ENV])
    from pyspark.daemon import manager

    manager()
