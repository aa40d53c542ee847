"""spark-submit job entry (north rule: packaged for ``spark-submit --py-files``).

    tools/make_submit_zip.sh                       # → dist/tablex.zip
    spark-submit --py-files dist/tablex.zip \\
        dist/job_main.py --docs s3://…/docs --blobs s3://…/blobs \\
        --out s3://…/spans --metrics s3://…/metrics [--classify] [--no-resume]

Replaces the reference's NiceGUI upload driver (``main.py:20-56``) with a
cluster job: resume-aware, idempotent, lineage-writing.
"""

from __future__ import annotations

import argparse

from pyspark.sql import SparkSession


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(description="tablex-spark extraction job")
    p.add_argument("--docs", required=True, help="input docs table path (parquet)")
    p.add_argument("--blobs", required=True, help="media blobs table path (parquet)")
    p.add_argument("--out", required=True, help="output spans table path")
    p.add_argument("--metrics", default=None, help="lineage metrics table path")
    p.add_argument("--no-resume", action="store_true", help="reprocess everything")
    p.add_argument("--classify", action="store_true",
                   help="enable the fuzzy-keyword table filter")
    p.add_argument("--html", action="store_true",
                   help="extract main content from spans of kind 'html' "
                        "(DOM boilerplate strip, in-place span replacement)")
    args = p.parse_args(argv)

    # under spark-submit the session/master/memory come from the submit conf;
    # builder.getOrCreate() picks them up (local fallback for ad-hoc runs).
    # apply_engine_conf then layers on the engine's runtime SQL confs — a
    # bare session's 4096-row vectorized reader batch OOMs a 1g driver on
    # ~0.5 MB binary cells (seen in the packaging smoke test).
    spark = SparkSession.builder.appName("tablex-extract").getOrCreate()

    from .pipeline import run_to_parquet
    from .session import apply_engine_conf
    from .sources import NATIVE_ICEBERG_SCHEME, is_path, read_table

    apply_engine_conf(spark)
    docs = read_table(spark, args.docs)
    # path form → python-native media scan (pixels stay in Python);
    # catalog-table form (Iceberg) → JVM scan DataFrame.  Pass the session
    # so configured-catalog refs (hyphenated / nested-namespace) route the
    # same way --docs does through read_table.
    # the python scan auto-detects a native-Iceberg layout on a plain
    # path, so an explicit iceberg+file: blobs ref sheds its scheme —
    # but the scheme is a CLAIM of snapshot-isolated reads, so a dir
    # without a committed table fails loudly instead of silently
    # degrading to a raw directory scan (orphaned files included)
    blobs_ref = args.blobs
    if blobs_ref.startswith(NATIVE_ICEBERG_SCHEME):
        from .sources.iceberg_native import is_native_table_dir

        blobs_ref = blobs_ref[len(NATIVE_ICEBERG_SCHEME):]
        if not is_native_table_dir(blobs_ref):
            raise ValueError(
                f"--blobs {args.blobs}: no committed native Iceberg table "
                f"at {blobs_ref}"
            )
    blobs = (
        blobs_ref if is_path(blobs_ref, spark) else read_table(spark, blobs_ref)
    )
    run_to_parquet(
        spark,
        docs,
        blobs,
        args.out,
        metrics_path=args.metrics,
        resume=not args.no_resume,
        classify=args.classify,
        html=args.html,
    )
    spark.stop()


if __name__ == "__main__":
    main()
