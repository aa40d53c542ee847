"""WARC ingestion as a driver-contract query (empty-on-success).

q53 gates ``sources/warc.py`` the way q47/q48 gate the multimodal lanes: a
deterministic crawl — real per-record-gzip WARC files holding HTTP
responses in both plain and chunked+gzip-body transfer forms — is
synthesized DISTRIBUTED (mapInPandas over a range frame, no driver bytes),
run through the real ``warc_to_docs`` stage, and compared against
expectations computed RELATIONALLY from the same index arithmetic,
including an in-plan md5 of each expected payload (so the whole
encode → gzip-member walk → record parse → dechunk → gunzip → payload
chain is what's verified).  Rows = failed checks.

Scale shape: generation and parsing are per-file map work; the verify join
keys on url (unique per record) — at a real 100 TB crawl the same plan is
scan → mapInPandas → filter, and the check frame drops out.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import functions as F

from .common import sf_of

FILES_SCHEMA = "path string, content binary"


def _n_files_for(sf_dir: str) -> int:
    sf = sf_of(sf_dir)
    return max(8, min(48, int(round(sf * 1500))))


def _html_body(i: int, j: int) -> str:
    # deterministic, length varies with the lattice so chunk boundaries move
    words = " ".join(f"w{i}x{j}n{k}" for k in range(20 + 7 * ((i + j) % 5)))
    return f"<html><head><title>d{i}-{j}</title></head><body>{words}</body></html>"


def _warc_batches(batches: Iterator) -> Iterator:
    import pandas as pd

    from ..sources.warc import (
        encode_http_response,
        encode_warc,
        encode_warc_record,
    )

    for pdf in batches:
        rows = []
        for i in pdf["i"]:
            i = int(i)
            recs = [encode_warc_record("warcinfo", b"software: q53-fixture")]
            for j in range(2 + i % 3):
                recs.append(
                    encode_warc_record(
                        "response",
                        encode_http_response(
                            _html_body(i, j).encode(),
                            chunked=bool((i + j) % 2),
                            gzip_body=bool((i + j) % 2),
                        ),
                        url=f"http://site{i}.example/p{j}",
                        record_id=f"{i}-{j}",
                    )
                )
            recs.append(
                encode_warc_record(
                    "response",
                    encode_http_response(
                        b"gone", status=404, content_type="text/plain"
                    ),
                    url=f"http://site{i}.example/missing",
                    record_id=f"{i}-404",
                )
            )
            recs.append(
                encode_warc_record(
                    "request", b"GET / HTTP/1.1\r\n\r\n",
                    url=f"http://site{i}.example/p0",
                )
            )
            # rotate the two crawl container layouts through the gate:
            # per-record gzip members (Common Crawl) and zstd frames
            # (IIPC warc-zstd) — identical record content either way
            if i % 3 == 2:
                rows.append(
                    (f"crawl/part-{i:04d}.warc.zst",
                     encode_warc(recs, compression="zstd"))
                )
            else:
                rows.append((f"crawl/part-{i:04d}.warc.gz", encode_warc(recs)))
        yield pd.DataFrame(rows, columns=["path", "content"])


def q53_warc_ingest_verify(spark, sf_dir):
    from ..sources.warc import warc_to_docs

    n = _n_files_for(sf_dir)
    idx = spark.range(n).select(F.col("id").cast("int").alias("i"))
    files = idx.mapInPandas(_warc_batches, FILES_SCHEMA)
    docs = warc_to_docs(spark, files)

    # --- expected per-record payload md5, built IN-PLAN from the same
    # lattice arithmetic (mirror of _html_body) ---
    exp = (
        idx.select(
            "i", F.explode(F.sequence(F.lit(0), F.lit(1) + F.col("i") % 3)).alias("j")
        )
        .select(
            F.concat(
                F.lit("http://site"), "i", F.lit(".example/p"), "j"
            ).alias("url"),
            F.expr(
                "concat('<html><head><title>d', i, '-', j, "
                "'</title></head><body>', "
                "array_join(transform(sequence(0, 19 + 7 * ((i + j) % 5)), "
                "k -> concat('w', i, 'x', j, 'n', k)), ' '), "
                "'</body></html>')"
            ).alias("want_html"),
        )
        .select("url", F.md5(F.col("want_html").cast("binary")).alias("want_md5"))
    )
    got = docs.where(F.col("content_type") == "text/html").select(
        "url",
        F.md5("payload").alias("got_md5"),
        F.col("http_status").alias("got_status"),
    )
    payload_bad = (
        got.join(exp, "url", "full")
        .where(
            ~F.col("got_md5").eqNullSafe(F.col("want_md5"))
            | ~F.col("got_status").eqNullSafe(F.lit(200))
        )
        .select(
            "url",
            F.lit("payload_md5_or_status").alias("check"),
            F.col("got_md5").alias("got"),
            F.col("want_md5").alias("want"),
        )
    )

    # --- per-file shape: html records = 2 + i%3, one 404, zero error rows ---
    want_shape = idx.select(
        F.concat(
            F.lit("crawl/part-"), F.lpad(F.col("i").cast("string"), 4, "0"),
            # mirror of the generator's container rotation (gz / zst)
            F.when(F.col("i") % 3 == 2, ".warc.zst").otherwise(".warc.gz"),
        ).alias("warc_path"),
        (F.lit(2) + F.col("i") % 3).cast("long").alias("want_html_records"),
        F.lit(1).cast("long").alias("want_404"),
        F.lit(0).cast("long").alias("want_errors"),
    )
    got_shape = docs.groupBy("warc_path").agg(
        F.sum(F.expr("CAST(content_type = 'text/html' AS INT)")).alias("got_html_records"),
        F.sum(F.expr("CAST(http_status = 404 AS INT)")).alias("got_404"),
        F.sum(F.expr("CAST(error IS NOT NULL AS INT)")).alias("got_errors"),
    )
    shape_checks = [
        ("html_records", "got_html_records", "want_html_records"),
        ("rows_404", "got_404", "want_404"),
        ("error_rows", "got_errors", "want_errors"),
    ]
    shape_arr = F.array(
        *[
            F.struct(
                F.lit(name).alias("check"),
                F.col(g).cast("string").alias("got"),
                F.col(w).cast("string").alias("want"),
            )
            for name, g, w in shape_checks
        ]
    )
    shape_bad = (
        got_shape.join(want_shape, "warc_path", "full")
        .select(F.col("warc_path").alias("url"), F.explode(shape_arr).alias("c"))
        .where(~F.col("c.got").eqNullSafe(F.col("c.want")))
        .select("url", "c.check", "c.got", "c.want")
    )
    return payload_bad.unionByName(shape_bad)


Q53_SQL = """
SELECT CAST(NULL AS VARCHAR) AS url, CAST(NULL AS VARCHAR) AS check,
       CAST(NULL AS VARCHAR) AS got, CAST(NULL AS VARCHAR) AS want
WHERE 1 = 0
"""


# --- q56: CDX urlkey canonicalization, TRUE cross-engine oracle ---
#
# Two INDEPENDENT implementations of the same pywb-subset SURT rules —
# Catalyst expressions (sources/warc.cdx_urlkey) vs DuckDB SQL below —
# over an identical deterministic URL lattice, value-hash compared by the
# driver.  Unlike the empty-on-success gates, a canonicalization bug on
# either side cannot cancel out.

_CDX_SCHEMES = ("http", "https")
_CDX_HOSTS = (
    "Example.COM",
    "sub.Ex-Archive.org",
    "www.News.example",
    "WWW2.data.Example.co.uk",
    "user:Pass@cdn.example",  # userinfo must strip from the key
    "192.168.0.1",  # IPv4: passes through unreversed (pywb parity)
    "[2001:DB8::1]",  # bracketed IPv6: unreversed, port rule past the ]
)
_CDX_PORTS = ("", ":80", ":443", ":8080")
_CDX_PATHS = ("", "/Path/To/Page", "/index.html")
_CDX_QUERIES = ("", "?b=2&a=1", "?z=9&m=3&a=1#Frag", "?single=1")
_CDX_N = 336  # 4×lcm(2,7,4,3): a dense mix of every slot pairing


def _cdx_pick(vals, k):
    return F.element_at(
        F.array(*[F.lit(v) for v in vals]), (F.col("i") % k + 1).cast("int")
    )


def q56_cdx_urlkey_verify(spark, sf_dir):
    """CDX urlkey over the canonicalization lattice (scheme × host-case ×
    www-prefix × port × path × query-order × fragment).  Fixed-size
    corpus: the lattice covers the rule space; scale belongs to q53."""
    from ..sources.warc import cdx_urlkey

    idx = spark.range(_CDX_N).select(F.col("id").alias("i"))
    url = F.concat(
        _cdx_pick(_CDX_SCHEMES, 2),
        F.lit("://"),
        _cdx_pick(_CDX_HOSTS, 7),
        _cdx_pick(_CDX_PORTS, 4),
        _cdx_pick(_CDX_PATHS, 3),
        _cdx_pick(_CDX_QUERIES, 4),
    )
    return idx.select(
        "i", url.alias("url"), cdx_urlkey(url).alias("urlkey")
    )


Q56_SQL = """
WITH lat AS (
  SELECT i,
    (['http','https'])[(i % 2) + 1] || '://' ||
    (['Example.COM','sub.Ex-Archive.org','www.News.example',
      'WWW2.data.Example.co.uk','user:Pass@cdn.example',
      '192.168.0.1','[2001:DB8::1]'])[(i % 7) + 1] ||
    (['', ':80', ':443', ':8080'])[(i % 4) + 1] ||
    (['', '/Path/To/Page', '/index.html'])[(i % 3) + 1] ||
    (['', '?b=2&a=1', '?z=9&m=3&a=1#Frag', '?single=1'])[(i % 4) + 1]
      AS url
  FROM (SELECT unnest(range(336)) AS i)
), c AS (
  SELECT i, url,
    regexp_replace(regexp_replace(lower(url), '#.*$', ''),
                   '^https?://', '') AS u
  FROM lat
), parts AS (
  SELECT i, url,
    regexp_extract(u, '^([^/?]*)', 1) AS hostport,
    regexp_replace(u, '^[^/?]*', '') AS pathq
  FROM c
), hp AS (
  SELECT i, url, pathq,
    regexp_replace(regexp_replace(regexp_replace(hostport, '^[^@]*@', ''),
                   ':[0-9]+$', ''), '^www[0-9]*\\.', '') AS host,
    regexp_extract(regexp_replace(hostport, '^[^@]*@', ''),
                   ':([0-9]+)$', 1) AS port
  FROM parts
)
SELECT i, url,
  CASE WHEN regexp_matches(host, '^\\d{1,3}(\\.\\d{1,3}){3}$')
            OR host LIKE '[%'
       THEN host  -- IP hosts pass through unreversed (pywb parity)
       ELSE array_to_string(list_reverse(string_split(host, '.')), ',')
  END
  || CASE WHEN port IN ('', '80', '443') THEN '' ELSE ':' || port END
  || ')'
  || CASE WHEN regexp_extract(pathq, '^([^?]*)', 1) = ''
          THEN '/' ELSE regexp_extract(pathq, '^([^?]*)', 1) END
  || CASE WHEN regexp_extract(pathq, '\\?(.*)$', 1) = '' THEN ''
          ELSE '?' || array_to_string(
                 list_sort(string_split(
                   regexp_extract(pathq, '\\?(.*)$', 1), '&')), '&') END
  AS urlkey
FROM hp
"""


QUERIES = {
    "q53_warc_ingest_verify": (q53_warc_ingest_verify, Q53_SQL),
    "q56_cdx_urlkey_verify": (q56_cdx_urlkey_verify, Q56_SQL),
}
