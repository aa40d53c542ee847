"""Per-layer metrics of one traced job, from worker spans and the event log."""

from __future__ import annotations

import glob
import json
import os
import statistics

CODECS = ("img1", "png", "jpeg", "gif", "bmp", "pdf", "pdfscan", "tiff", "jp2")
# per-layer metrics in report order, with units (BENCHMARK.json lists the same)
PER_LAYER = (
    [("scan.tasks", "count"), ("scan.task_skew", "ratio"), ("scan.pages_skipped", "count"),
     ("sink.bytes", "bytes"), ("sink.ms", "ms")]
    + [(f"decode.{c}.{k}", u) for c in CODECS for k, u in (("ms_per_page", "ms"), ("pages", "count"))]
    + [("kernel.binarize.ms_per_page", "ms"), ("kernel.lines.ms_per_page", "ms"),
       ("kernel.grid.ms_per_page", "ms"), ("kernel.plots.ms_per_page", "ms"),
       ("kernel.assemble.ms_per_table", "ms"), ("kernel.tables", "count"), ("kernel.cells", "count"),
       ("ocr.ms_per_cell", "ms"), ("ocr.cells", "count"),
       ("udf.self_ms_per_page", "ms"), ("resume.decode_ratio", "ratio"),
       ("html.parse.ms_per_doc", "ms"), ("html.extract.ms_per_doc", "ms"), ("html.docs", "count"),
       ("engine.overhead_frac", "ratio"), ("engine.shuffle_bytes", "bytes"), ("engine.gc_ms", "ms"),
       ("trace.overhead", "ratio")]
)
GRID = ("cluster_tables", "intersect_lines", "snap_nodes", "dedup_grid_fixpoint", "cells_from_nodes")


def load_spans(trace_dir: str) -> list[dict]:
    spans = []
    for path in glob.glob(os.path.join(trace_dir, "spans-*.jsonl")):
        pid = os.path.basename(path)[6:-6]
        with open(path) as f:
            for line in f:
                name, sid, parent, t0, t1, key, count, stage, part = json.loads(line)
                spans.append({
                    "id": (pid, sid), "parent": (pid, parent) if parent else None,
                    "name": name, "ms": (t1 - t0) * 1000, "key": key,
                    "count": count, "stage": stage, "part": part,
                })
    return spans


def self_ms(spans: list[dict]) -> dict:
    """span id → duration minus the part its child spans cover."""
    own = {s["id"]: s["ms"] for s in spans}
    for s in spans:
        if s["parent"] in own:
            own[s["parent"]] -= s["ms"]
    return own


def check_span_tree(spans: list[dict]) -> None:
    """Per Arrow batch: the summed self-times of all spans below a
    ``process_content_rows`` (or html batch) span stay within its time."""
    own = self_ms(spans)
    by_id = {s["id"]: s for s in spans}
    below: dict = {}
    for s in spans:
        p = s["parent"]
        while p is not None and p in by_id:
            below[p] = below.get(p, 0.0) + own[s["id"]]
            p = by_id[p]["parent"]
    for s in spans:
        if s["name"] in ("udf", "html.udf") and below.get(s["id"], 0.0) > s["ms"] + 1e-3:
            raise RuntimeError(
                f"span tree: children of {s['name']} {s['id']} sum to "
                f"{below[s['id']]:.3f} ms > its {s['ms']:.3f} ms"
            )


def load_events(event_dir: str, group: str) -> list[dict]:
    """Task-end events of the jobs run under job group ``group``."""
    stages: set[int] = set()
    tasks = []
    for path in filter(os.path.isfile, glob.glob(os.path.join(event_dir, "*"))):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    if (ev.get("Properties") or {}).get("spark.jobGroup.id") == group:
                        stages.update(ev["Stage IDs"])
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(ev)
    return [t for t in tasks if t["Stage ID"] in stages]


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def layer_metrics(spans, tasks, meta: dict, *, wall_s: float, untraced_s: float,
                  cores: int, todo_pages: int, pages_listed: int) -> dict:
    own = self_ms(spans)

    def total(*names):
        return sum(s["ms"] for s in spans if s["name"] in names)

    def calls(name):
        return [s for s in spans if s["name"] == name]

    m: dict[str, float] = {}
    decode = calls("decode")
    pages = sum(s["count"] for s in decode)
    for codec in CODECS:
        mine = [s for s in decode if s["key"] and meta[s["key"][2 : s["key"].rindex("-p")]]["codec"] == codec]
        n = sum(s["count"] for s in mine)
        m[f"decode.{codec}.ms_per_page"] = _ratio(sum(s["ms"] for s in mine), n)
        m[f"decode.{codec}.pages"] = n
    kpages = len(calls("kernel"))
    m["kernel.binarize.ms_per_page"] = _ratio(total("grayzation", "binarize"), kpages)
    m["kernel.lines.ms_per_page"] = _ratio(total("detect_segments"), kpages)
    m["kernel.grid.ms_per_page"] = _ratio(total(*GRID), kpages)
    m["kernel.plots.ms_per_page"] = _ratio(total("digitize_plot"), kpages)
    tables = len(calls("assemble_table"))
    m["kernel.assemble.ms_per_table"] = _ratio(total("assemble_table"), tables)
    m["kernel.tables"] = tables
    m["kernel.cells"] = sum(s["count"] for s in calls("cells_from_nodes"))
    cells = sum(s["count"] for s in calls("ocr"))
    m["ocr.ms_per_cell"] = _ratio(total("ocr"), cells)
    m["ocr.cells"] = cells
    udf_ms = total("udf")
    m["udf.self_ms_per_page"] = _ratio(udf_ms - total("decode", "kernel"), pages)
    m["resume.decode_ratio"] = _ratio(pages, todo_pages)
    m["scan.pages_skipped"] = max(0, pages_listed - sum(s["count"] for s in calls("udf")))
    docs = len(calls("html.extract"))
    m["html.parse.ms_per_doc"] = _ratio(total("html.parse"), docs)
    m["html.extract.ms_per_doc"] = _ratio(sum(own[s["id"]] for s in calls("html.extract")), docs)
    m["html.docs"] = docs

    scan_stages = {s["stage"] for s in calls("udf")}
    scan = [t for t in tasks if t["Stage ID"] in scan_stages]
    durs = [t["Task Info"]["Finish Time"] - t["Task Info"]["Launch Time"] for t in scan]
    m["scan.tasks"] = len(scan)
    m["scan.task_skew"] = _ratio(max(durs), statistics.median(durs)) if durs else 0.0

    def tm(t, *path):
        v = t.get("Task Metrics") or {}
        for p in path:
            v = v.get(p, 0) if isinstance(v, dict) else 0
        return v or 0

    written = {}
    for t in tasks:
        written[t["Stage ID"]] = written.get(t["Stage ID"], 0) + tm(t, "Output Metrics", "Bytes Written")
    m["sink.bytes"] = sum(written.values())
    m["sink.ms"] = sum(tm(t, "Executor Run Time") for t in tasks if written[t["Stage ID"]] > 0)
    m["engine.shuffle_bytes"] = sum(tm(t, "Shuffle Write Metrics", "Shuffle Bytes Written") for t in tasks)
    m["engine.gc_ms"] = sum(tm(t, "JVM GC Time") for t in tasks)
    in_udf = udf_ms + total("html.udf")
    m["engine.overhead_frac"] = 1 - in_udf / (wall_s * 1000 * cores)
    m["trace.overhead"] = wall_s / untraced_s - 1
    return m


def tables_text(spans, m: dict, workload: str) -> str:
    """Human-readable per-layer and per-codec decode tables."""
    rows = []
    layers = [
        ("decode (media + codecs)", ("decode",), None),
        ("kernel: binarize", ("grayzation", "binarize"), None),
        ("kernel: lines", ("detect_segments",), None),
        ("kernel: grid/cells", GRID, None),
        ("ocr", ("ocr",), None),
        ("kernel: assemble", ("assemble_table",), None),
        ("kernel: plots", ("digitize_plot",), None),
        ("htmlx: parse", ("html.parse",), None),
        ("htmlx: extract (self)", ("html.extract",), "self"),
        ("operators: udf (self)", ("udf",), "udf"),
    ]
    own = self_ms(spans)
    kernel_ms = sum(s["ms"] for s in spans if s["name"] == "kernel")
    decode_ms = sum(s["ms"] for s in spans if s["name"] == "decode")
    for label, names, how in layers:
        mine = [s for s in spans if s["name"] in names]
        if how == "self":
            ms = sum(own[s["id"]] for s in mine)
        elif how == "udf":
            ms = sum(s["ms"] for s in mine) - kernel_ms - decode_ms
        else:
            ms = sum(s["ms"] for s in mine)
        rows.append(f"  {label:<26}{sum(s['count'] for s in mine) if names == ('decode',) else len(mine):>8}{ms:>12.1f}")
    out = [f"[{workload}] per-layer (traced job; decode counts pages)",
           f"  {'layer':<26}{'calls':>8}{'total ms':>12}"] + rows
    out.append(f"  {'codec':<10}{'pages':>8}{'ms/page':>10}")
    for codec in CODECS:
        n = m[f"decode.{codec}.pages"]
        if n:
            out.append(f"  {codec:<10}{n:>8}{m[f'decode.{codec}.ms_per_page']:>10.2f}")
    out.append(f"  engine.overhead_frac {m['engine.overhead_frac']:.3f}   "
               f"tracing overhead {m['trace.overhead']:+.3f}")
    return "\n".join(out)
