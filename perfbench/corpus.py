"""Seeded benchmark inputs: parquet docs/blobs tables plus their golden spans.

The corpus is 36 media docs rotating the nine ``mixed`` codecs plus 360
html-markup docs (bench.py's 1:10 doc ratio).  A seed picks the doc-number
range starting at :func:`first_doc`; ``fixtures.generate.gen_doc`` and
``fixtures.html_gen.gen_html_doc`` are pure in the doc number, so the same
seed always gives the same tables.  The program under test only ever sees
the written parquet.

Layout follows ``fixtures.spark_gen.write_blobs``: ``min(n, nproc)`` part
files with docs dealt round-robin (what ``range(n).repartition(parts)``
does) and ~8 MB row groups, so the python-native scan sees the same split
structure a Spark-written media table gives it.

Generated tables are cached under the work directory, keyed by seed, first
doc and sizes; the manifest holds a hash of ``tableextraction_spark/
fixtures/`` plus every package module generation loaded, and a mismatch
regenerates (a changed encoder regenerates its inputs).
"""

from __future__ import annotations

import hashlib
import json
import os
import pickle
import shutil
import subprocess
import sys
import time

import pyarrow as pa
import pyarrow.parquet as pq

ROW_GROUP_BYTES = 8 * 1024 * 1024  # fixtures.spark_gen.MEDIA_ROW_GROUP_BYTES
MEDIA_DOCS, HTML_DOCS = 36, 360
WARMUP_HTML = 8
DOC_RANGE = 1_000_000
# The fixtures' doc-number rotations repeat every 2070 docs: 9 codecs, the
# 1-in-23 ten-page skew doc, and pdfscan's 5 archive codecs × 6 crypt
# modes.  Every seed's docs sit at the same phases of that cycle, so every
# seed gets the same codec mix and skew-doc position.  Phase 84 puts exactly
# one skew doc among 36 media docs, a tiff (G4 fax) one: a jp2 skew doc
# would add ~8 s of serial generation to every run.
CYCLE, PHASE = 2070, 84
# relative generation cost per media page, for dealing docs to children only
GEN_COST = {"jp2": 4.0, "jpeg": 3.0, "gif": 1.2, "pdfscan": 1.2}
WARMUP_SEED = 0  # fixed, seed-independent warm-up inputs (cached per checkout)

SPAN = pa.struct(
    [("kind", pa.string()), ("text", pa.string()),
     ("media_ref", pa.string()), ("offset", pa.int32())]
)
DOCS = pa.schema([("doc_id", pa.string()), ("spans", pa.list_(SPAN))])
BLOBS = pa.schema(
    [("media_ref", pa.string()), ("doc_id", pa.string()),
     ("page_no", pa.int32()), ("content", pa.binary())]
)


def source_hash(root: str, modules: list[str]) -> str:
    """Hash of fixtures/*.py plus the given package modules (the ones a
    generation run loaded, recorded in the cache manifest)."""
    fixtures = os.path.join("tableextraction_spark", "fixtures")
    files = {
        os.path.join(fixtures, f)
        for f in os.listdir(os.path.join(root, fixtures))
        if f.endswith(".py")
    } | set(modules)
    h = hashlib.sha256()
    for rel in sorted(files):
        h.update(rel.encode())
        try:
            with open(os.path.join(root, rel), "rb") as f:
                h.update(f.read())
        except OSError:
            h.update(b"<missing>")
    return h.hexdigest()[:16]


def _gen_docs(root: str, media_nums: list[int], html_nums: list[int]):
    """Generate docs → ([(doc_no, doc, blobs, golden, codec)], package
    modules loaded)."""
    sys.path.insert(0, root)
    from tableextraction_spark.fixtures.generate import _MIXED_CODECS, gen_doc
    from tableextraction_spark.fixtures.html_gen import gen_html_doc

    out = []
    for n in media_nums:
        doc, blobs, exp = gen_doc(n, codec="mixed")
        out.append((n, doc, blobs, exp, _MIXED_CODECS[n % len(_MIXED_CODECS)]))
    for n in html_nums:
        doc, exp = gen_html_doc(n)
        out.append((n, doc, [], exp, "html"))
    loaded = sorted(
        os.path.relpath(m.__file__, root)
        for name, m in list(sys.modules.items())
        if name.startswith("tableextraction_spark") and getattr(m, "__file__", None)
    )
    return out, loaded


def _generate(root: str, shares: list[tuple[list[int], list[int]]], tmp: str):
    """Run each (media, html) share in its own child interpreter, all at
    once; → [(rows, modules)] per share.  Plain subprocesses that exchange
    pickle files, so no helper process outlives generation; every child is
    waited for, and killed first if a sibling failed."""
    procs = []
    try:
        for i, share in enumerate(shares):
            src, dst = os.path.join(tmp, f"gen-{i}.in"), os.path.join(tmp, f"gen-{i}.out")
            with open(src, "wb") as f:
                pickle.dump((root,) + share, f)
            procs.append((subprocess.Popen([sys.executable, os.path.abspath(__file__), src, dst]), dst))
        for proc, _ in procs:
            if proc.wait() != 0:
                raise RuntimeError(f"input generation child exited with {proc.returncode}")
    finally:
        for proc, _ in procs:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    results = []
    for _, dst in procs:
        with open(dst, "rb") as f:
            results.append(pickle.load(f))
    for name in os.listdir(tmp):
        if name.startswith("gen-"):
            os.remove(os.path.join(tmp, name))
    return results


def _write_part(rows, docs_path: str, blobs_path: str) -> None:
    """One part file pair; blob row groups close at ~ROW_GROUP_BYTES."""
    pq.write_table(pa.Table.from_pylist([r[1] for r in rows], schema=DOCS), docs_path)
    blobs = [b for r in rows for b in r[2]]
    if not blobs:
        return
    with pq.ParquetWriter(blobs_path, BLOBS) as w:
        group, size = [], 0
        for b in blobs:
            group.append(b)
            size += len(b["content"])
            if size >= ROW_GROUP_BYTES or b is blobs[-1]:
                w.write_table(pa.Table.from_pylist(group, schema=BLOBS), row_group_size=len(group))
                group, size = [], 0


def _write_committed(golden: dict, media_ids: list[str], html_ids: list[str], path: str):
    """The first ¾ of the media and of the html docs (in generation order)
    as an already-committed spans table — what an interrupted run leaves."""
    done = media_ids[: 3 * len(media_ids) // 4] + html_ids[: 3 * len(html_ids) // 4]
    os.makedirs(path)
    rows = [golden[d] for d in done]
    pq.write_table(pa.Table.from_pylist(rows, schema=DOCS), os.path.join(path, "part-0.parquet"))
    return sorted(done)


def first_doc(seed: int) -> int:
    """Seed s → first doc number: s·10^6 rounded up to the cycle, plus PHASE."""
    return CYCLE * -(-seed * DOC_RANGE // CYCLE) + PHASE


def media_docs(first: int, n: int) -> list[int]:
    """Doc numbers of the n media docs: position p takes the first of
    ``first + p + k·CYCLE`` (k = 0, 1, …) whose plan has the position's page
    count — 10 for a skew doc, else ``1 + (p + p // 9) % 3``, which gives each
    codec 7–9 pages and each part file a different mix.  Every seed then has
    the same codecs, page counts and split layout; only content differs."""
    from tableextraction_spark.fixtures.generate import SKEW_PAGES, plan_doc

    out = []
    for p in range(n):
        want = 1 + (p + p // 9) % 3
        k = first + p
        while len(plan_doc(k)["pages"]) not in (want, SKEW_PAGES):
            k += CYCLE
        out.append(k)
    return out


def warmup_docs(first: int, parts: int) -> list[int]:
    """Doc numbers of the warm-up media docs: for each codec in turn,
    ``parts`` one-page docs of it, the first ones at or after ``first``.
    Dealt round-robin into ``parts`` files, every file then holds one page
    of every codec, so every scan task's worker imports and runs every
    codec, at the cost of one page each."""
    from tableextraction_spark.fixtures.generate import _MIXED_CODECS, plan_doc

    out = []
    for c in range(len(_MIXED_CODECS)):
        n = first + (c - first) % len(_MIXED_CODECS)
        found = []
        while len(found) < parts:
            if len(plan_doc(n)["pages"]) == 1:
                found.append(n)
            n += len(_MIXED_CODECS)
        out += found
    return out


def build(root: str, cache_dir: str, seed: int, nproc: int, log, warmup=False) -> dict:
    """Materialise (or reuse) the seed's corpus, or with ``warmup`` the
    fixed warm-up corpus; returns paths and metadata."""
    from tableextraction_spark.fixtures.generate import _MIXED_CODECS, plan_doc

    n_media, n_html = (len(_MIXED_CODECS) * nproc, WARMUP_HTML) if warmup else (MEDIA_DOCS, HTML_DOCS)
    seed = WARMUP_SEED if warmup else seed
    first = first_doc(seed)
    key = f"mixed{'-warm' if warmup else ''}-s{seed}-d{first}-m{n_media}-h{n_html}"
    base = os.path.join(cache_dir, key)
    manifest = os.path.join(base, "manifest.json")
    if os.path.exists(manifest):
        with open(manifest) as f:
            info = json.load(f)
        if info["source_hash"] == source_hash(root, info["modules"]):
            log(f"inputs {key}: cached")
            return info
    shutil.rmtree(base, ignore_errors=True)
    tmp = base + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "docs"))
    os.makedirs(os.path.join(tmp, "blobs"))
    t0 = time.perf_counter()
    media = warmup_docs(first, nproc) if warmup else media_docs(first, n_media)
    html = list(range(first, first + n_html))

    def cost(n):
        return GEN_COST.get(_MIXED_CODECS[n % len(_MIXED_CODECS)], 0.1) * len(plan_doc(n)["pages"])

    # deal the media docs, most expensive first, to the least-loaded share
    # so the children finish together; html docs are cheap and dealt evenly
    shares = [([], html[i::nproc]) for i in range(nproc)]
    load = [0.0] * nproc
    for n in sorted(media, key=cost, reverse=True):
        i = load.index(min(load))
        shares[i][0].append(n)
        load[i] += cost(n)
    results = _generate(root, [s for s in shares if s[0] or s[1]], tmp)
    modules = sorted({m for _, mods in results for m in mods})
    media_rows = {r[0]: r for rows, _ in results for r in rows if r[4] != "html"}
    html_rows = {r[0]: r for rows, _ in results for r in rows if r[4] == "html"}
    media_rows = [media_rows[n] for n in media]
    html_rows = [html_rows[n] for n in html]
    parts = min(nproc, max(n_media, n_html))
    for p in range(parts):
        _write_part(media_rows[p::parts] + html_rows[p::parts],
                    os.path.join(tmp, "docs", f"part-{p:05d}.parquet"),
                    os.path.join(tmp, "blobs", f"part-{p:05d}.parquet"))
    rows = media_rows + html_rows
    golden = {r[1]["doc_id"]: r[3] for r in rows}
    with open(os.path.join(tmp, "golden.jsonl"), "w") as f:
        for g in golden.values():
            f.write(json.dumps(g) + "\n")
    committed = _write_committed(
        golden, [r[1]["doc_id"] for r in media_rows], [r[1]["doc_id"] for r in html_rows],
        os.path.join(tmp, "committed"),
    )
    info = {
        "key": key,
        "modules": modules,
        "source_hash": source_hash(root, modules),
        "docs": os.path.join(base, "docs"),
        "blobs": os.path.join(base, "blobs"),
        "golden": os.path.join(base, "golden.jsonl"),
        "committed": os.path.join(base, "committed"),
        "committed_ids": committed,
        "meta": {r[1]["doc_id"]: {"codec": r[4], "pages": len(r[2])} for r in rows},
        "n_pages": sum(len(r[2]) for r in rows),
    }
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(info, f)
    os.rename(tmp, base)
    log(f"inputs {key}: generated in {time.perf_counter() - t0:.1f} s "
        f"({len(rows)} docs, {info['n_pages']} pages)")
    return info


def load_golden(info: dict) -> dict[str, list[tuple]]:
    """doc_id → golden spans as (kind, text, media_ref) in offset order."""
    out = {}
    with open(info["golden"]) as f:
        for line in f:
            g = json.loads(line)
            spans = sorted(g["spans"], key=lambda s: s["offset"])
            out[g["doc_id"]] = [(s["kind"], s["text"], s["media_ref"]) for s in spans]
    return out


if __name__ == "__main__":  # one generation child: pickle in → pickle out
    with open(sys.argv[1], "rb") as f:
        args = pickle.load(f)
    result = _gen_docs(*args)
    with open(sys.argv[2], "wb") as f:
        pickle.dump(result, f)
