"""Benchmark harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
    {"metric": ..., "value": <total sec>, "unit": "sec",
     "queries": {name: sec, ...}, "sf": ...,
     "extract_docs_per_sec": ..., "extract_pages_per_sec": ...}

The extraction corpus (BASELINE.json input_hint shape) is synthesized
deterministically and materialized to parquet once per scale (cached under
/tmp/tablex_bench), so the timed extraction run reads parquet → pipeline →
count, exactly like a production run reads Iceberg — generation cost is not
counted.  Scaling-efficiency evidence (local[8] vs local[32]) is produced by
tools/bench_scaling.py and recorded in BASELINE.md.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "q01_pricing_summary",
    "q03_segment_revenue",
    "q05_top2_orders_per_customer",
    "q06_sessionize",
    "q13_minhash_signature",
    "q14_minhash_band_pairs",
    "q20_ann_cosine_topk",
    "q22_embedding_near_dups",
    "q26_ivf_ann",
    "q27_winnow_fingerprint",
    "q31_embedding_multiband_near_dups",
]

BENCH_ROOT = os.environ.get("TABLEX_BENCH_DIR", "/tmp/tablex_bench")

# Zero-IPC pool pages/s at 32 cores measured in a certified-quiet window
# (loadavg < 2 on the idle 32-thread box, best-of-2, r4): the denominator
# for window_cert.pool_health.  ~1.0 means the artifact's window matches
# the clean reference; ≪1.0 means host contention depressed everything.
POOL_CLEAN_REFERENCE = 5900.0


def _prev_round_queries() -> tuple[int | None, dict[str, float]]:
    """Newest BENCH_r{N}.json next to this file → (round, per-query secs)."""
    here = os.path.dirname(os.path.abspath(__file__))
    best_n, best = None, {}
    for f in os.listdir(here):
        m = re.fullmatch(r"BENCH_r(\d+)\.json", f)
        if not m:
            continue
        n = int(m.group(1))
        if best_n is None or n > best_n:
            try:
                obj = json.load(open(os.path.join(here, f)))
            except (OSError, json.JSONDecodeError):
                continue
            parsed = obj.get("parsed", obj)
            qs = parsed.get("queries") if isinstance(parsed, dict) else None
            if qs:
                best_n, best = n, qs
    return best_n, best


def _consume(df) -> None:
    """Force FULL computation of a DataFrame for timing.

    NOT ``count()``: Catalyst legitimately eliminates a left outer join with
    a unique right key (row count is preserved) and prunes unused aggregate
    expressions under a count, so ``extract_spans(...).count()`` never runs
    the decode stage at all.  The ``noop`` sink consumes every row end-to-end
    like a real write, minus the I/O.

    Cache discipline lives in the CALLER (clear between queries, never
    between the timed passes of one query): pass 2 must reuse the plan
    cache pass 1 built — that reuse is part of the r1-comparable
    methodology — while stale caches from a PREVIOUS query must not pin
    storage memory for the rest of the suite.
    """
    df.write.format("noop").mode("overwrite").save()


_CORPUS_VERSION = "v9"  # bump when a codec's fixture output changes (v9: every third scanned PDF is encrypted - rc4-128/aes-128/aes-256)
# (v2: 'mixed' rotation grew a 7th format — pdfscan/CCITT — in round 4;
#  v3: an 8th — G4 TIFF, the fax-archive shape;
#  v4: the pdfscan slot rotates its archive codec — every third scanned
#  PDF is JBIG2 (MQ-coded generic region) instead of CCITT G4;
#  v5: the rotation gains JBIG2 symbol/text mode with /JBIG2Globals —
#  the jbig2enc scanner-output shape — as every fourth scanned PDF;
#  v6: a 9th format — reversible-5/3 JPEG 2000 (from-scratch T.800);
#  v7: jp2 pages encode at 5 decomposition levels — the kakadu/openjpeg
#  default, and the cheap shape for document pages;
#  v8: the pdfscan slot rotates a fifth archive codec — JPX (JPEG 2000
#  inside PDF, /JPXDecode) — every fifth scanned PDF)


def ensure_corpus(spark, n_docs: int, codec: str = "img1") -> tuple[str, str]:
    """Materialize the synthetic corpus parquet once per (n_docs, codec)."""
    tag = (
        f"n{n_docs}" if codec == "img1"
        else f"{codec}_{_CORPUS_VERSION}_n{n_docs}"
    )
    base = os.path.join(BENCH_ROOT, tag)
    docs_path, blobs_path = f"{base}/docs.parquet", f"{base}/blobs.parquet"
    marker = f"{base}/_READY"
    if not os.path.exists(marker):
        from tableextraction_spark.fixtures.spark_gen import (
            blobs_dataframe,
            docs_dataframe,
            write_blobs,
        )

        docs_dataframe(spark, n_docs).write.mode("overwrite").parquet(docs_path)
        write_blobs(blobs_dataframe(spark, n_docs, codec=codec), blobs_path)
        open(marker, "w").close()
    return docs_path, blobs_path


def ensure_html_corpus(spark, n_docs: int) -> str:
    """Materialize the HTML-document corpus parquet once per (n_docs)."""
    base = os.path.join(BENCH_ROOT, f"html_n{n_docs}")
    docs_path = f"{base}/docs.parquet"
    marker = f"{base}/_READY"
    if not os.path.exists(marker):
        from tableextraction_spark.fixtures.html_gen import html_docs_dataframe

        html_docs_dataframe(spark, n_docs).write.mode("overwrite").parquet(docs_path)
        open(marker, "w").close()
    return docs_path


def bench_html(spark, n_docs: int, passes: int = 2) -> dict:
    """HTML main-content extraction throughput (markup spans → clean spans)."""
    from tableextraction_spark.pipeline import extract_spans

    docs_path = ensure_html_corpus(spark, n_docs)
    docs = spark.read.parquet(docs_path)
    _consume(extract_spans(spark, docs, None, html=True))  # warm pass
    dt = float("inf")
    for _ in range(passes):
        t0 = time.time()
        _consume(extract_spans(spark, docs, None, html=True))
        dt = min(dt, time.time() - t0)
    return {
        "sec": round(dt, 3),
        "n_docs": n_docs,
        "docs_per_sec": round(n_docs / dt, 2),
    }


def bench_interleaved(spark, n_media: int, n_html: int, passes: int = 2) -> dict:
    """The north rule's corpus shape verbatim: ONE docs table interleaving
    media docs (payload format rotating per doc across
    IMG1/PNG/JPEG/GIF/BMP/%PDF/%PDF-scan/TIFF — codec='mixed') and html-markup docs,
    through ONE extract_spans(html=True) call."""
    from tableextraction_spark.pipeline import extract_spans

    docs_path, blobs_path = ensure_corpus(spark, n_media, codec="mixed")
    html_path = ensure_html_corpus(spark, n_html)
    docs = spark.read.parquet(docs_path).unionByName(
        spark.read.parquet(html_path)
    )
    n_pages = spark.read.parquet(blobs_path).count()
    _consume(extract_spans(spark, docs, blobs_path, html=True))  # warm pass
    dt = float("inf")
    for _ in range(passes):
        t0 = time.time()
        _consume(extract_spans(spark, docs, blobs_path, html=True))
        dt = min(dt, time.time() - t0)
    n = n_media + n_html
    return {
        "sec": round(dt, 3),
        "n_docs": n,
        "n_media_docs": n_media,
        "n_html_docs": n_html,
        "n_pages": n_pages,
        "docs_per_sec": round(n / dt, 2),
    }


def bench_extraction(spark, n_docs: int, passes: int = 2, codec: str = "img1") -> dict:
    from tableextraction_spark.pipeline import extract_spans

    docs_path, blobs_path = ensure_corpus(spark, n_docs, codec=codec)
    docs = spark.read.parquet(docs_path)
    n_pages = spark.read.parquet(blobs_path).count()  # metadata-only, untimed
    # One full untimed pass: warms the OS page cache on the blob parquet
    # (the bench dir is disk-backed), spins up + imports numpy in all 32
    # Python workers, and JITs the JVM paths.  Measured: cold 16.5 s vs
    # steady-state 4-5 s on the same corpus — a production job runs for
    # hours, so steady-state is the honest throughput.  best-of-N TIMED
    # passes then filters host noise; the wide sf1-equivalent corpus
    # amortizes noise by length, so passes=1 suffices there (the warm pass
    # is still required — it is what makes the single timed pass warm).
    _consume(extract_spans(spark, docs, blobs_path))
    dt = float("inf")
    for _ in range(passes):
        t0 = time.time()
        _consume(extract_spans(spark, docs, blobs_path))
        dt = min(dt, time.time() - t0)
    n_rows = n_docs
    return {
        "sec": round(dt, 3),
        "n_docs": n_docs,
        "n_pages": n_pages,
        "out_rows": n_rows,
        "docs_per_sec": round(n_docs / dt, 2),
        "pages_per_sec": round(n_pages / dt, 2),
    }


def _pool_baseline(cores: int, reps: int = 2) -> float | None:
    """Zero-IPC multiprocessing pages/s of the bare kernel at `cores` — the
    hardware-health probe from tools/bench_scaling.py, run in its own clean
    process BEFORE Spark starts.  Recording it (plus loadavg) inside the
    bench artifact makes the artifact self-certifying: a contended window
    shows up as a depressed pool number / high loadavg right next to the
    query timings it depressed, instead of needing BASELINE.md prose to
    adjudicate (the r3 artifact regressed 1.3-2.4x uniformly on unchanged
    code and could not prove it was the host)."""
    import subprocess

    from tools.bench_scaling import _POOL_CHILD, REPO

    try:
        out = subprocess.run(
            [sys.executable, "-c", _POOL_CHILD.format(repo=REPO),
             str(cores), str(reps)],
            capture_output=True, text=True, check=True, cwd=REPO, timeout=600,
        )
        return json.loads(out.stdout.strip().splitlines()[-1])["pages_per_sec"]
    except Exception:
        return None  # certification is evidence, never a bench failure


def bench_grits(spark, n_docs: int = 512) -> float:
    """Mean GriTS-content of extracted vs plan-derived golden tables — the
    measured structure-recovery quality headline beside ivf_recall_at10.
    Span equality is already hard-gated (q24/q46), so goldens score 1.0;
    the value is the continuous signal if extraction ever degrades (a
    dropped row scores ~0.x, not a binary red).  Table pairs align on
    (doc_id, span offset); a table missing from either side scores 0."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    from tableextraction_spark.fixtures.spark_gen import (
        blobs_dataframe,
        docs_dataframe,
        expected_dataframe,
    )
    from tableextraction_spark.kernel.grits import table_similarity
    from tableextraction_spark.pipeline import extract_spans

    out = extract_spans(
        spark, docs_dataframe(spark, n_docs), blobs_dataframe(spark, n_docs)
    )

    def tables(df, col):
        return (
            df.selectExpr("doc_id", "explode(spans) AS s")
            .where("s.kind = 'table'")
            .selectExpr("doc_id", "s.offset AS off", f"s.text AS {col}")
        )

    def _sim(a, b):  # Arrow-batched Series → Series (annotation-free: pd is
        # a local import, so typing-based inference can't resolve it)
        return pd.Series(
            [
                table_similarity(x, y) if (x is not None and y is not None) else 0.0
                for x, y in zip(a, b)
            ]
        )

    sim = pandas_udf(_sim, "double")

    row = (
        tables(out, "a")
        .join(tables(expected_dataframe(spark, n_docs), "b"), ["doc_id", "off"], "full")
        .agg(F.avg(sim("a", "b")).alias("g"))
        .collect()[0]
    )
    return round(float(row.g), 4)


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else 0.1

    loadavg_start = tuple(round(x, 2) for x in os.getloadavg())
    pool_pps = _pool_baseline(int(cpus))

    from tableextraction_spark.queries import REGISTRY
    from tableextraction_spark.session import get_spark

    spark = get_spark(app="bench", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(10).count()  # JVM warmup outside any timing

    timings: dict[str, float] = {}
    for name in HEADLINE:
        fn, _sql = REGISTRY[name]
        best = float("inf")
        # best-of-3: first run pays scan/cache warmup; the extra repeat
        # (vs r1/r2's best-of-2) filters host noise on the sub-second
        # queries — min can only drop, so r2 comparisons stay conservative
        for _ in range(3):
            t0 = time.time()
            _consume(fn(spark, sf_dir))
            best = min(best, time.time() - t0)
        timings[name] = round(best, 3)
        # release this query's .cache() frames before the next query
        spark.catalog.clearCache()

    # the extraction corpus must be big enough that steady-state decode
    # dominates scheduling latency (~7k pages ≈ 6-12 s at local[32]);
    # generated once and cached under TABLEX_BENCH_DIR.  n_docs matches
    # round 1 exactly so the per-query delta below is apples-to-apples.
    n_docs = int(os.environ.get("TABLEX_BENCH_DOCS", "0")) or max(
        64, int(round(sf * 30000))
    )
    ext = bench_extraction(spark, n_docs)
    timings["q00_extract_spans"] = ext["sec"]

    # sf1-equivalent corpus width (10× docs at sf0.1): fixed costs — task
    # launch, Python worker reuse, scan planning — drop below 10% of wall,
    # so docs/sec here is the honest steady-state throughput headline
    sf1_docs = int(os.environ.get("TABLEX_BENCH_SF1_DOCS", "0")) or max(
        640, int(round(sf * 300000))
    )
    ext_sf1 = bench_extraction(spark, sf1_docs, passes=1)

    # PDF→spans headline (BASELINE.json's metric line verbatim): every blob
    # is a %PDF rasterized by the from-scratch pdfx lane.  Sized so decode
    # work dominates the ~3 s fixed pipeline floor at local[32]: with the
    # glyph geometry cache the interpreter runs ~200 pages/s/core, so the
    # old 1k-doc corpus measured the floor, not the lane (217 vs 569
    # docs/s at 1k vs 4k docs, measured)
    pdf_docs = int(os.environ.get("TABLEX_BENCH_PDF_DOCS", "0")) or max(
        64, int(round(sf * 40000))
    )
    ext_pdf = bench_extraction(spark, pdf_docs, codec="pdf")

    # HTML main-content extraction headline (north rule: "HTML boilerplate
    # strip … DOM heuristics"): markup-only corpus, sized so the parse stage
    # dominates fixed costs (~1 ms/doc/core → ≥3 s at local[32])
    n_html = int(os.environ.get("TABLEX_BENCH_HTML_DOCS", "0")) or max(
        2048, int(round(sf * 1200000))
    )
    ext_html = bench_html(spark, n_html)
    timings["q40_html_extract"] = ext_html["sec"]

    # interleaved headline: media (all six payload formats, rotating) +
    # html markup in ONE docs table through ONE extract_spans call — the
    # north rule's corpus shape, not a per-lane benchmark
    n_mixed = int(os.environ.get("TABLEX_BENCH_MIXED_DOCS", "0")) or max(
        48, int(round(sf * 20000))
    )
    n_mixed_html = int(os.environ.get("TABLEX_BENCH_MIXED_HTML", "0")) or max(
        48, int(round(sf * 200000))
    )
    ext_mix = bench_interleaved(spark, n_mixed, n_mixed_html)

    # structure-recovery quality headline (see bench_grits)
    grits = bench_grits(spark)

    # ANN quality headline: mean recall@10 of the IVF probe vs exact top-k
    recall_rows = REGISTRY["q32_ivf_recall_at10"][0](spark, sf_dir).collect()
    recall = round(
        sum(r.recall_at_k for r in recall_rows) / max(1, len(recall_rows)), 4
    )

    prev_n, prev_q = _prev_round_queries()
    deltas = {
        name: round(timings[name] / prev_q[name], 3)
        for name in timings
        if name in prev_q and prev_q[name]
    }

    result = {
        "metric": "headline query suite wall time (extraction + relational/text/vector ops)",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cpus": int(cpus),
        "extract_docs_per_sec": ext["docs_per_sec"],
        "extract_pages_per_sec": ext["pages_per_sec"],
        "extract_n_docs": ext["n_docs"],
        "extract_n_pages": ext["n_pages"],
        "extract_sf1_docs_per_sec": ext_sf1["docs_per_sec"],
        "extract_sf1_pages_per_sec": ext_sf1["pages_per_sec"],
        "extract_sf1_n_docs": ext_sf1["n_docs"],
        "extract_sf1_n_pages": ext_sf1["n_pages"],
        "extract_pdf_docs_per_sec": ext_pdf["docs_per_sec"],
        "extract_pdf_pages_per_sec": ext_pdf["pages_per_sec"],
        "extract_pdf_n_docs": ext_pdf["n_docs"],
        "html_docs_per_sec": ext_html["docs_per_sec"],
        "html_n_docs": ext_html["n_docs"],
        "interleaved_docs_per_sec": ext_mix["docs_per_sec"],
        "interleaved_n_docs": ext_mix["n_docs"],
        "interleaved_n_media": ext_mix["n_media_docs"],
        "interleaved_n_pages": ext_mix["n_pages"],
        "ivf_recall_at10": recall,
        "grits_content_golden": grits,
        "prev_round": prev_n,
        "deltas_vs_prev": deltas,
        # window self-certification (see _pool_baseline): loadavg around the
        # run + the zero-IPC hardware probe, with the clean-window reference
        # from BASELINE.md so the artifact adjudicates itself
        "window_cert": {
            "loadavg_start": loadavg_start,
            "loadavg_end": tuple(round(x, 2) for x in os.getloadavg()),
            "pool_pages_per_sec": pool_pps,
            "pool_clean_reference_32c": POOL_CLEAN_REFERENCE,
            # reference was measured at 32 cores; health is only meaningful
            # at the same level (SMT makes per-core rate level-dependent)
            "pool_health": (
                round(pool_pps / POOL_CLEAN_REFERENCE, 3)
                if pool_pps and int(cpus) == 32 else None
            ),
        },
    }
    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main()
