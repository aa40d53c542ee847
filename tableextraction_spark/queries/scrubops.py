"""Corpus-scrubbing operators: the quality / hygiene passes a training-data
pipeline runs between extraction and packing — Gopher-style repetition
signals, CCNet-style cross-corpus chunk dedup, and PII masking.

Like textops/pipelineops: pure Catalyst expressions (no Python UDFs), every
operator with an exact DuckDB oracle.  At 100 TB each runs as
scan → project → explode → partial-agg groupBy keyed on doc_id (+gram/hash):
the explodes multiply rows ~n_words× but each exploded row is a few tens of
bytes, and the doc_id-keyed aggregations combine map-side, so the shuffles
move gram *counts*, not text.  Nothing collects to the driver.

Public sources for the semantics (patterns only, re-derived here):
- Repetition filters: Rae et al., "Scaling Language Models: Methods,
  Analysis & Insights from Training Gopher" (arXiv:2112.11446), §A1.1 —
  duplicate n-gram fraction and most-frequent-n-gram fraction thresholds.
- Chunk-level corpus dedup: Wenzek et al., "CCNet: Extracting High Quality
  Monolingual Datasets from Web Crawl Data" (arXiv:1911.00359) — paragraph
  hash dedup across shards.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .common import load
from .textops import _WORDS, _WORDS_DUCK

# --- q50: repetition-quality signals (Gopher §A1.1, word-count variant) ---
#
# The fixture corpus has no newlines, so the line-based Gopher rules are
# re-expressed over word n-grams (documented deviation): `top_bigram_frac`
# is the share of all bigram OCCURRENCES taken by the single most frequent
# bigram, `dup_trigram_frac` the share of trigram occurrences that are
# repeats of an earlier trigram (1 - distinct/total).  Both are exact
# relational aggregates — explode grams, count per (doc_id, gram), then one
# doc_id-keyed agg — not sketches, so Spark and DuckDB agree bit-for-bit
# after ROUND(.., 4).
#
# Thresholds: Gopher flags top-2-gram char-fraction > 0.20 and duplicate
# 3-gram char-fraction > 0.18; on count-fractions over this vocabulary we
# use the same spirit scaled to the corpus (see tests for the distribution).

TOP_BG_MAX = 0.10   # most frequent bigram owns >10% of bigram occurrences
DUP_TG_MAX = 0.20   # >20% of trigram occurrences are repeats


def q50_repetition_quality(spark, sf_dir):
    w = load(spark, sf_dir, "documents").selectExpr(
        "doc_id", f"{_WORDS} AS words"
    )
    # materialize grams as columns, THEN explode — same plan-hygiene rule as
    # textops (inline split inside a lambda is O(n²) per doc)
    grams = w.selectExpr(
        "doc_id",
        "size(words) AS n_words",
        """CASE WHEN size(words) >= 2
                THEN transform(sequence(0, size(words) - 2),
                               i -> concat_ws(' ', words[i], words[i+1]))
                ELSE array() END AS bgs""",
        """CASE WHEN size(words) >= 3
                THEN transform(sequence(0, size(words) - 3),
                               i -> concat_ws(' ', words[i], words[i+1], words[i+2]))
                ELSE array() END AS tgs""",
    )
    bg_counts = (
        grams.select("doc_id", F.explode("bgs").alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("max_bg"), F.sum("c").alias("n_bg"))
    )
    tg_counts = (
        grams.select("doc_id", F.explode("tgs").alias("g"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tg"),
            F.countDistinct("g").alias("d_tg"),
        )
    )
    base = grams.select("doc_id", "n_words")
    return (
        base.join(bg_counts, "doc_id", "left")
        .join(tg_counts, "doc_id", "left")
        .selectExpr(
            "doc_id",
            "n_words",
            "ROUND(COALESCE(max_bg / CAST(n_bg AS DOUBLE), 0.0), 4)"
            " AS top_bigram_frac",
            "ROUND(COALESCE(1.0 - d_tg / CAST(n_tg AS DOUBLE), 0.0), 4)"
            " AS dup_trigram_frac",
        )
        .selectExpr(
            "*",
            f"CAST(top_bigram_frac > {TOP_BG_MAX} OR"
            f" dup_trigram_frac > {DUP_TG_MAX} AS INT) AS repetitive",
        )
    )


Q50_SQL = f"""
WITH w AS (SELECT doc_id, {_WORDS_DUCK} AS words FROM documents),
g AS (SELECT doc_id, len(words) AS n_words,
             CASE WHEN len(words) >= 2
                  THEN list_transform(range(1, len(words)),
                                      i -> words[i] || ' ' || words[i+1])
                  ELSE [] END AS bgs,
             CASE WHEN len(words) >= 3
                  THEN list_transform(range(1, len(words) - 1),
                       i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])
                  ELSE [] END AS tgs
      FROM w),
bgx AS (SELECT doc_id, unnest(bgs) AS gr FROM g),
bgc AS (SELECT doc_id, MAX(c) AS max_bg, SUM(c) AS n_bg FROM
          (SELECT doc_id, gr, COUNT(*) AS c FROM bgx GROUP BY 1, 2)
        GROUP BY 1),
tgx AS (SELECT doc_id, unnest(tgs) AS gr FROM g),
tgc AS (SELECT doc_id, COUNT(*) AS n_tg, COUNT(DISTINCT gr) AS d_tg
        FROM tgx GROUP BY 1)
SELECT doc_id, n_words, top_bigram_frac, dup_trigram_frac,
       CAST(top_bigram_frac > {TOP_BG_MAX} OR
            dup_trigram_frac > {DUP_TG_MAX} AS INT) AS repetitive
FROM (
  SELECT g.doc_id, g.n_words,
         ROUND(COALESCE(bgc.max_bg / CAST(bgc.n_bg AS DOUBLE), 0.0), 4)
           AS top_bigram_frac,
         ROUND(COALESCE(1.0 - tgc.d_tg / CAST(tgc.n_tg AS DOUBLE), 0.0), 4)
           AS dup_trigram_frac
  FROM g LEFT JOIN bgc ON g.doc_id = bgc.doc_id
         LEFT JOIN tgc ON g.doc_id = tgc.doc_id)
"""


# --- q51: cross-corpus chunk dedup (CCNet paragraph dedup, 10-word chunks) ---
#
# CCNet hashes each paragraph and drops paragraphs whose hash repeats across
# the whole crawl (boilerplate survives any per-document filter; only a
# corpus-wide count catches it).  No newlines in the fixture corpus → the
# unit is a 10-word chunk.  Shape at scale: explode chunks (rows ≈ n_words/10
# per doc), md5 them, ONE corpus-wide groupBy(hash) with map-side partials
# (the count table is tiny: distinct hashes × 24 B), broadcast-or-shuffle
# join back, then a doc_id-keyed re-agg.  The text itself crosses the wire
# once, as 32-hex hashes.

CHUNK_WORDS = 10


def q51_chunk_dedup_stats(spark, sf_dir):
    w = load(spark, sf_dir, "documents").selectExpr(
        "doc_id", f"{_WORDS} AS words"
    )
    chunks = w.selectExpr(
        "doc_id",
        f"explode(sequence(0, CAST(ceil(size(words) / {CHUNK_WORDS}.0) AS INT) - 1))"
        " AS c",
        "words",
    ).selectExpr(
        "doc_id",
        f"md5(concat_ws(' ', slice(words, c * {CHUNK_WORDS} + 1, {CHUNK_WORDS})))"
        " AS h",
    )
    corpus = chunks.groupBy("h").agg(F.count(F.lit(1)).alias("n_corpus"))
    return (
        chunks.join(corpus, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.expr("CAST(n_corpus > 1 AS INT)")).alias("n_dup_chunks"),
        )
        .selectExpr(
            "doc_id",
            "n_chunks",
            "n_dup_chunks",
            # basis points by integer division: exact on both engines
            "(n_chunks - n_dup_chunks) * 10000 DIV n_chunks AS kept_bp",
        )
    )


Q51_SQL = f"""
WITH w AS (SELECT doc_id, {_WORDS_DUCK} AS words FROM documents),
cx AS (SELECT doc_id, unnest(range(0,
              CAST(ceil(len(words) / {CHUNK_WORDS}.0) AS INT))) AS c, words
       FROM w),
ch AS (SELECT doc_id,
              md5(array_to_string(list_slice(words, c * {CHUNK_WORDS} + 1,
                                             c * {CHUNK_WORDS} + {CHUNK_WORDS}),
                                  ' ')) AS h
       FROM cx),
corpus AS (SELECT h, COUNT(*) AS n_corpus FROM ch GROUP BY 1)
SELECT doc_id, n_chunks, n_dup_chunks,
       CAST((n_chunks - n_dup_chunks) * 10000 // n_chunks AS BIGINT) AS kept_bp
FROM (
  SELECT ch.doc_id, COUNT(*) AS n_chunks,
         SUM(CAST(corpus.n_corpus > 1 AS INT)) AS n_dup_chunks
  FROM ch JOIN corpus ON ch.h = corpus.h
  GROUP BY 1)
"""


# --- q52: PII masking (email / IPv4 / phone → typed placeholders) ---
#
# The scrub every released corpus runs.  The fixture text is PII-free, so
# the query INJECTS deterministic PII derived from doc_id (an email, an
# IPv4, a phone number appended to the text), masks with the three regexes,
# and emits the masked text's md5 — the oracle match proves both engines
# masked identically; the flags prove each pattern fired.  Masking order
# matters and is fixed: email first (its domain would otherwise never match
# the IP pattern, but the reverse order would let an IP-in-local-part
# email leak), then IP, then phone.
#
# Patterns are RE2 ∩ java.util.regex safe (no backrefs, no lookaround):

PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}"
PII_PHONE = r"\d{3}-\d{3}-\d{4}"

_INJECT_SPARK = (
    "concat(text, ' mail u', doc_id, '@example.com ip 10.',"
    " doc_id % 256, '.0.1 tel 555-867-5309')"
)
_INJECT_DUCK = (
    "text || ' mail u' || doc_id || '@example.com ip 10.' ||"
    " (doc_id % 256) || '.0.1 tel 555-867-5309'"
)


def scrub_pii(col):
    """Mask email → <EMAIL>, IPv4 → <IP>, phone → <PHONE> in that order.
    Reusable on any text column; pure Catalyst regexp_replace chain."""
    c = F.regexp_replace(col, PII_EMAIL, "<EMAIL>")
    c = F.regexp_replace(c, PII_IPV4, "<IP>")
    return F.regexp_replace(c, PII_PHONE, "<PHONE>")


def q52_pii_scrub(spark, sf_dir):
    d = load(spark, sf_dir, "documents").selectExpr(
        "doc_id", f"{_INJECT_SPARK} AS raw"
    )
    masked = d.select("doc_id", scrub_pii(F.col("raw")).alias("masked"))
    return masked.selectExpr(
        "doc_id",
        "md5(masked) AS masked_md5",
        "CAST(masked LIKE '%<EMAIL>%' AS INT) AS has_email",
        "CAST(masked LIKE '%<IP>%' AS INT) AS has_ip",
        "CAST(masked LIKE '%<PHONE>%' AS INT) AS has_phone",
    )


Q52_SQL = f"""
WITH raw AS (SELECT doc_id, {_INJECT_DUCK} AS raw FROM documents),
m AS (SELECT doc_id,
             regexp_replace(regexp_replace(regexp_replace(raw,
               '{PII_EMAIL}', '<EMAIL>', 'g'),
               '{PII_IPV4}', '<IP>', 'g'),
               '{PII_PHONE}', '<PHONE>', 'g') AS masked
      FROM raw)
SELECT doc_id, md5(masked) AS masked_md5,
       CAST(masked LIKE '%<EMAIL>%' AS INT) AS has_email,
       CAST(masked LIKE '%<IP>%' AS INT) AS has_ip,
       CAST(masked LIKE '%<PHONE>%' AS INT) AS has_phone
FROM m
"""


QUERIES = {
    "q50_repetition_quality": (q50_repetition_quality, Q50_SQL),
    "q51_chunk_dedup_stats": (q51_chunk_dedup_stats, Q51_SQL),
    "q52_pii_scrub": (q52_pii_scrub, Q52_SQL),
}
