"""Golden check of one finished job, run untimed after every timed run.

A doc fails when its written spans differ from the plan-derived golden
under (kind, text, media_ref, order), when it is missing or written more
than once, or — counted per error — when the lineage table holds errors.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq


def _read(path: str):
    files = sorted(
        os.path.join(path, f) for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    )
    return [row for f in files for row in pq.read_table(f).to_pylist()]


def written_spans(out_path: str) -> dict[str, list]:
    """doc_id → list of span lists (one per written row)."""
    got: dict[str, list] = {}
    for row in _read(out_path):
        spans = sorted(row["spans"] or [], key=lambda s: s["offset"])
        got.setdefault(row["doc_id"], []).append(
            [(s["kind"], s["text"], s["media_ref"]) for s in spans]
        )
    return got


def lineage_errors(metrics_path: str | None) -> int:
    if metrics_path is None or not os.path.isdir(metrics_path):
        return 0
    return sum(int(r["errors"] or 0) for r in _read(metrics_path))


def failed_docs(got: dict[str, list], golden: dict[str, list], todo: set[str]) -> list[str]:
    """Docs of ``todo`` whose output is not exactly one golden-equal row,
    plus any doc written that the job should not have written."""
    bad = [d for d in sorted(todo) if got.get(d) != [golden[d]]]
    expected = set(golden)
    bad += sorted(d for d, rows in got.items() if d not in expected or (d not in todo and len(rows) != 1))
    return bad


def check_job(out_path: str, metrics_path: str | None, golden: dict, todo: set[str]) -> tuple[int, dict]:
    """→ (failed count, written spans).  Also proves the check can fail:
    one doctored golden row must be caught, or this raises."""
    got = written_spans(out_path)
    bad = failed_docs(got, golden, todo)
    intact = sorted(todo - set(bad))
    if not intact:
        return len(todo), got
    victim = intact[0]
    doctored = dict(golden)
    doctored[victim] = golden[victim][:-1] + [("text", "doctored", "")]
    caught = failed_docs(got, doctored, todo)
    if set(caught) - set(bad) != {victim}:
        raise RuntimeError(f"golden self-test: doctored row for {victim} not caught")
    return min(len(todo), len(bad) + lineage_errors(metrics_path)), got
