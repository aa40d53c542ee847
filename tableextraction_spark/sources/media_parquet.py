"""Python-native media scan: pixels never enter the JVM.

Rationale (measured at 14k pages, local[32]): the conventional path —
JVM parquet scan → Arrow IPC to the Python worker → per-cell ``as_py()``
copy — moves every ~0.5 MB page payload through two extra hops and tops out
at ~250-700 pages/sec, while the decode kernel alone sustains ~2100 pages/sec
across the same cores.  For binary media columns the JVM adds no value (no
predicates to push, no columnar compute), so this source hands the Python
workers *(file, row_group)* splits and they read the parquet row groups
directly with pyarrow C++ and decode in the same task.  The JVM only
schedules splits and receives the tiny per-table JSON rows.

This is the same architecture Petastorm/NVTabular use for ML media ingest,
expressed with plain ``mapInArrow``.  Row groups are the split unit — the
same granularity a JVM scan would use — so skew/parallelism behavior is
unchanged, and the splits DataFrame round-robins across the cluster.
"""

from __future__ import annotations

import json
import os
from bisect import bisect_left

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

from ..operators.decode_detect import TABLES_SCHEMA, process_content_rows


def _iceberg_snapshot(path: str) -> tuple[dict, list | None] | None:
    """When ``path`` is an Iceberg table directory (has metadata/
    v*.metadata.json), resolve the CURRENT snapshot via the jar-less reader
    (sources/iceberg_native.py) → (snapshot dict, current schema fields);
    otherwise None and the caller treats ``path`` as a plain parquet
    dataset.  This is what lets the python-native media scan — and
    therefore the whole extraction pipeline — read the north rule's Iceberg
    corpus layout directly, merge-on-read position AND equality deletes
    included: snapshot isolation comes from the metadata chain (a
    concurrent append publishes a NEW metadata version; this listing is a
    consistent view).  The schema fields drive FIELD-ID column resolution:
    a column renamed after a file was written still reads correctly, and a
    column added later null-fills (iceberg_native.resolve_columns)."""
    from .iceberg_native import (
        is_native_table_dir,
        read_table_snapshot,
        table_schema,
    )

    if not is_native_table_dir(path):
        return None
    return read_table_snapshot(path), table_schema(path)


# the four columns the decode stage consumes, with their null-fill types.
# doc_id and content are REQUIRED (a scan without payload or identity is
# meaningless); media_ref/page_no may be null-filled for pre-add files.
_SCAN_COLS = ("doc_id", "media_ref", "page_no", "content")
_REQUIRED_COLS = ("doc_id", "content")
_NULL_TYPES = {"media_ref": "string", "page_no": "long"}
# equality deletes may target any non-payload scan column; a delete over a
# column this scan does not read cannot be applied → loud error, never
# phantom rows
_EQ_DELETABLE = ("doc_id", "media_ref", "page_no")

# per-executor cache of equality-delete key sets: (path, ids) → frozenset of
# value tuples.  Delete files are small relative to data (they hold deleted
# KEYS), and every task over the same table would otherwise re-read them;
# bounded — cleared wholesale past 64 files (a snapshot rarely carries more;
# correctness never depends on a hit)
_EQ_KEY_CACHE: dict[tuple, frozenset] = {}


def _eq_delete_keys(path: str, ids: tuple[int, ...]) -> frozenset:
    """Key tuples of one equality-delete parquet, columns resolved by
    ``PARQUET:field.id`` (the ids travel in the manifest entry), name-order
    fallback for id-less writers.  Null delete values match null row values
    (spec's null-safe equality) — tuples carry None through naturally."""
    key = (path, ids)
    got = _EQ_KEY_CACHE.get(key)
    if got is not None:
        return got
    t = pq.read_table(path)
    by_id: dict[int, str] = {}
    for fld in t.schema:
        fid = (fld.metadata or {}).get(b"PARQUET:field.id")
        if fid is not None:
            try:
                by_id[int(fid)] = fld.name
            except ValueError:
                pass
    cols = []
    for i, fid in enumerate(ids):
        name = by_id.get(fid)
        if name is None:
            if by_id:
                raise ValueError(
                    f"equality-delete file {path} carries field ids but "
                    f"not {fid} — cannot resolve delete column"
                )
            name = t.schema.names[i]  # id-less writer: positional order
        cols.append(name)
    keys = frozenset(
        zip(*(t.column(c).to_pylist() for c in cols))
        if cols else ()
    )
    if len(_EQ_KEY_CACHE) >= 64:
        _EQ_KEY_CACHE.clear()
    _EQ_KEY_CACHE[key] = keys
    return keys


def _partition_pruned(
    data_files: list[dict],
    spec_fields: list[dict],
    schema_fields: list | None,
    keep_doc_ids,
) -> list[dict]:
    """Drop data files whose partition value proves they hold NO kept
    doc_id — the Iceberg-native analogue of partition pruning for the
    resume prune's pushed id set.  A spec field qualifies when its source
    column is doc_id and its transform is one this reader can evaluate
    (identity / bucket[N] / truncate[W]); kept ids map to at most
    |keep| distinct partition values, so membership is a set probe.
    Files with a missing/None partition value are never pruned (unknown ≠
    excluded), and an unevaluable transform skips pruning entirely —
    over-scan is correct, mis-pruning is not."""
    if not spec_fields or not schema_fields or keep_doc_ids is None:
        return data_files
    from .iceberg_native import apply_transform

    doc_fid = next(
        (f["id"] for f in schema_fields if f["name"] == "doc_id"), None
    )
    if doc_fid is None:
        return data_files
    for sf in spec_fields:
        if sf.get("source-id") != doc_fid:
            continue
        try:
            kept_vals = {
                apply_transform(sf["transform"], d) for d in keep_doc_ids
            }
        except NotImplementedError:
            continue
        data_files = [
            f
            for f in data_files
            if f.get("partition", {}).get(sf["name"]) is None
            or f["partition"][sf["name"]] in kept_vals
        ]
    return data_files


def _fragment_colmap(physical_schema, schema_fields) -> str:
    """JSON ``{current_name: physical_name|null}`` for one file, or ""
    when it is the identity map (the overwhelmingly common case — avoids
    shipping a JSON blob per split).  Tables without a recorded schema
    (minimal fixtures / pre-schema layouts) keep pure name-based reads."""
    from .iceberg_native import resolve_columns

    if schema_fields is None:
        return ""
    cmap = resolve_columns(physical_schema, list(_SCAN_COLS), schema_fields)
    missing = [c for c in _REQUIRED_COLS if cmap.get(c) is None]
    if missing:
        raise ValueError(
            f"Iceberg schema resolution: required column(s) {missing} have "
            "no physical column in a data file (field id absent) — refusing "
            "a scan that would fabricate identities or payloads"
        )
    if all(cmap.get(c) == c for c in _SCAN_COLS):
        return ""
    return json.dumps(cmap)


def list_row_groups(
    path: str, keep_doc_ids: frozenset[str] | set[str] | None = None
) -> list[tuple]:
    """Enumerate (file, row_group, num_rows, byte_size, local_deletes,
    colmap_json, eq_deletes_json) splits of a parquet dataset (driver-side,
    metadata only).  ``local_deletes`` is the row group's position-delete
    rows (row-group-local indices) when the path is a merge-on-read Iceberg
    table; ``eq_deletes_json`` the equality-delete files applicable to this
    data file (sequence-number rule) — tasks load each delete file's key
    set once per executor and value-filter; empty otherwise.

    With ``keep_doc_ids``, row groups whose ``doc_id`` min/max statistics
    exclude every kept id are pruned here — the resume path then skips the
    READ of committed row groups, not just their decode.  This is the same
    stats-pruning a JVM parquet scan does for pushed filters, applied to the
    python-native scan; it is most effective when the media table is written
    doc_id-clustered (ours is: pages are generated in doc order).
    """
    keep_sorted = sorted(keep_doc_ids) if keep_doc_ids is not None else None
    res = _iceberg_snapshot(path)
    if res is not None:
        snap, schema_fields = res
        data_files = _partition_pruned(
            snap["data_files"], snap["partition_spec"], schema_fields,
            keep_doc_ids,
        )
        iceberg_files = [f["path"] for f in data_files]
        pos_deletes = snap["position_deletes"]
        eq_deletes = snap["equality_deletes"]
        file_seq = {
            os.path.abspath(f["path"]): f["sequence_number"]
            for f in data_files
        }
    else:
        iceberg_files, pos_deletes, schema_fields = None, {}, None
        eq_deletes, file_seq = [], {}
    if eq_deletes:
        # resolve each delete's equality field ids → CURRENT column names
        # once (driver-side); the per-task reader re-resolves the delete
        # parquet's physical columns by the same ids
        name_by_id = (
            {f["id"]: f["name"] for f in schema_fields}
            if schema_fields else {}
        )
        for d in eq_deletes:
            cols = [name_by_id.get(i) for i in d["equality_ids"]]
            bad = [
                (i, c)
                for i, c in zip(d["equality_ids"], cols)
                if c is None or c not in _EQ_DELETABLE
            ]
            if bad:
                raise NotImplementedError(
                    f"Iceberg equality delete {d['path']} targets field "
                    f"ids {bad} outside the scan's readable columns "
                    f"{_EQ_DELETABLE} — cannot apply, refusing phantom rows"
                )
            d["cols"] = cols
    if iceberg_files is not None and not iceberg_files:
        return []  # Iceberg table with no snapshot yet (or fully pruned)
    if pos_deletes:
        # normalize so textual path differences (relative vs absolute,
        # file: scheme) cannot SILENTLY skip a delete → phantom rows.
        # MERGE on collision — two delete files can reference one data file
        # under different spellings; overwriting would resurrect rows
        norm: dict[str, list[int]] = {}
        for k, v in pos_deletes.items():
            a = os.path.abspath(k)
            norm[a] = sorted(set(norm[a]) | set(v)) if a in norm else list(v)
        pos_deletes = norm
    ds = pq.ParquetDataset(iceberg_files if iceberg_files is not None else path)
    splits: list[tuple[str, int, int, int, tuple[int, ...]]] = []
    for frag in ds.fragments:
        meta = frag.metadata or pq.ParquetFile(frag.path).metadata
        if meta.num_row_groups == 0:
            continue  # empty part file (zero-row commit) — nothing to scan
        file_dels = (
            pos_deletes.pop(os.path.abspath(frag.path), ())
            if pos_deletes else ()
        )
        cmap_json = (
            _fragment_colmap(frag.physical_schema, schema_fields)
            if iceberg_files is not None else ""
        )
        eq_json = ""
        if eq_deletes:
            seq = file_seq.get(os.path.abspath(frag.path), 0)
            applicable = [
                {"path": d["path"], "ids": d["equality_ids"],
                 "cols": d["cols"]}
                for d in eq_deletes
                # spec: equality deletes hit STRICTLY OLDER rows only —
                # a row added in the same commit as the delete survives
                if d["sequence_number"] > seq
            ]
            if applicable:
                eq_json = json.dumps(applicable)
        doc_phys = json.loads(cmap_json)["doc_id"] if cmap_json else "doc_id"
        # resolve against the parquet LEAF-column order, not the Arrow field
        # index — they diverge as soon as a nested column precedes doc_id,
        # and a wrong index would silently prune on another column's stats
        doc_idx = next(
            (
                i for i in range(meta.row_group(0).num_columns)
                if meta.row_group(0).column(i).path_in_schema == doc_phys
            ),
            None,
        )
        if doc_idx is None:
            raise ValueError(
                f"media table {frag.path} has no 'doc_id' leaf column"
            )
        rg_start = 0
        for rg in range(meta.num_row_groups):
            g = meta.row_group(rg)
            start, rg_start = rg_start, rg_start + g.num_rows
            if keep_sorted is not None:
                stats = meta.row_group(rg).column(doc_idx).statistics
                if stats is not None and stats.has_min_max:
                    lo, hi = stats.min, stats.max
                    i = bisect_left(keep_sorted, lo)
                    # no kept id in [lo, hi] → every row is committed
                    if i == len(keep_sorted) or keep_sorted[i] > hi:
                        continue
            if file_dels:
                a = bisect_left(file_dels, start)
                b = bisect_left(file_dels, rg_start)
                dels = tuple(p - start for p in file_dels[a:b])
            else:
                dels = ()
            splits.append(
                (frag.path, rg, g.num_rows, g.total_byte_size, dels,
                 cmap_json, eq_json)
            )
    # deletes whose data file is not in the scan are IGNORED per the
    # Iceberg spec — dangling delete files routinely survive compaction
    # (rewrite_data_files leaves them until dangling-delete removal runs),
    # so a leftover here is normal table state, not an error
    return splits


def detect_tables_python_scan(
    spark: SparkSession,
    blobs_path: str,
    classify: bool = False,
    keep_doc_ids: frozenset[str] | set[str] | None = None,
    lineage: bool = False,
) -> DataFrame:
    """(file, row_group) splits → fused python-side read+decode+detect+OCR.

    Output schema/content identical to ``pipeline.detect_tables`` on a JVM
    scan of the same table (asserted in tests).  ``lineage=True`` appends
    each partition's lineage summary row (operators/metrics.py); only
    ``pipeline`` asks for it.

    ``keep_doc_ids`` is the resume prune: when given (the broadcast *todo*
    set), rows of other documents are dropped after the cheap column read
    but BEFORE the decode kernel — a rerun of a completed job reads metadata
    and doc_id strings only, decoding nothing.  At extreme todo cardinality
    the caller skips the broadcast (see pipeline.RESUME_PRUNE_MAX); the
    deploy-time upgrade is doc_id-clustered media row groups pruned via
    parquet min/max stats at :func:`list_row_groups` time.
    """
    splits = list_row_groups(blobs_path, keep_doc_ids=keep_doc_ids)
    par = spark.sparkContext.defaultParallelism
    # IMPORTANT: parallelize with fixed slices, NOT repartition().  The
    # splits rows are ~50 bytes, so an exchange here looks like a few KB to
    # AQE and gets coalesced to ~1 partition — but each row expands to tens
    # of MB of decode work.  A parallelized RDD pins the partitioning where
    # AQE cannot (correctly, per its cost model) wreck it.
    #
    # Sub-row-group splits when row groups are COARSE relative to the
    # cluster: small-payload media (vector PDFs at ~15 KB/page vs pixel
    # pages at ~1 MB) packs hundreds of rows per 8 MB row group, so a
    # 4k-doc corpus yields ~32 tasks of ~290 decode-heavy pages — a 2-wave
    # tail at 16 cores (measured: PDF-lane scaling 0.714 raw vs 0.836 on
    # the pixel lane, pool 0.97).  Target ≈4·par slices: ≥4 waves keeps the
    # straggler tail under ~¼ wave.  Each slice re-reads its row group's
    # ~8 MB column chunk up to its row window — read amplification is
    # pennies next to the per-row decode this path exists for.
    if 0 < len(splits) < 4 * par:
        k_target = -(-4 * par // len(splits))  # ceil
        expanded = []
        for path, rg, nrows, nbytes, dels, cmap, eqj in splits:
            # keep slices ≥8 rows: even 8 pages is ~0.2 s of decode — real
            # work per task — while hostile/tiny row groups stay unsliced.
            # Sub-split only SMALL-payload groups (<64 KB/row): each slice
            # re-decodes the column chunk up to its window, which is pennies
            # next to per-row decode for 15 KB vector pages but a measured
            # ~1.2× scan tax for ~1 MB pixel pages whose decode is cheap
            small = nbytes < 65536 * max(1, nrows)
            k = min(k_target, max(1, nrows // 8)) if small else 1
            for s in range(k):
                # ship each slice ONLY its window's deletes (same bisect
                # trick as the per-row-group cut above) — k copies of a
                # large delete list would serialize k× through the driver
                lo, hi = s * nrows // k, (s + 1) * nrows // k
                a = bisect_left(dels, lo)
                b = bisect_left(dels, hi)
                expanded.append((path, rg, s, k, list(dels[a:b]), cmap, eqj))
    else:
        expanded = [(path, rg, 0, 1, list(dels), cmap, eqj)
                    for path, rg, _n, _b, dels, cmap, eqj in splits]
    # Slice count: one task per split while that stays cheap (row groups
    # are written ~8 MB ≈ uniform work, so 1:1 gives perfectly even tasks —
    # measured 10% faster at local[16] than 73 splits / 64 slices, where
    # contiguous slicing hands 9 tasks a double share and they become the
    # stage tail).  Beyond 16·par splits, per-task overhead dominates the
    # ≤1-row-group imbalance, so fall back to 4·par contiguous slices
    # (avg ≥4 row groups/slice → ≤25% skew).
    if len(expanded) <= 16 * par:
        n_slices = max(1, len(expanded))
    else:
        n_slices = 4 * par
    rdd = spark.sparkContext.parallelize(expanded, n_slices)
    sdf = spark.createDataFrame(
        rdd,
        "path string, rg int, sl int, k int, dels array<long>, "
        "cmap string, eq string",
    )
    bc_keep = (
        spark.sparkContext.broadcast(frozenset(keep_doc_ids))
        if keep_doc_ids is not None
        else None
    )

    def scan_rows(batches, pid):
        for b in batches:
            paths = b.column("path").to_pylist()
            rgs = b.column("rg").to_pylist()
            sls = b.column("sl").to_pylist()
            ks = b.column("k").to_pylist()
            delss = b.column("dels").to_pylist()
            cmaps = b.column("cmap").to_pylist()
            eqs = b.column("eq").to_pylist()
            for path, rg, sl, k, dels, cmap_j, eq_j in zip(
                paths, rgs, sls, ks, delss, cmaps, eqs
            ):
                delset = set(dels) if dels else None
                # equality deletes applicable to this data file: each is
                # (key columns in equality_ids order, executor-cached key
                # set); rows whose key tuple is in the set are dropped
                eq_specs = (
                    [
                        (d["cols"], _eq_delete_keys(
                            d["path"], tuple(d["ids"])))
                        for d in json.loads(eq_j)
                    ]
                    if eq_j else None
                )
                # field-id column resolution (Iceberg schema evolution):
                # cmap maps current names → this file's physical names
                # (None = column added after the file was written)
                cmap = json.loads(cmap_j) if cmap_j else None
                read_cols = (
                    [cmap[c] for c in _SCAN_COLS if cmap[c] is not None]
                    if cmap else list(_SCAN_COLS)
                )
                # stream the row group in bounded batches — a media row group
                # can hold hundreds of MB of pixels; never materialize it
                pf = pq.ParquetFile(path)
                nrows = pf.metadata.row_group(rg).num_rows
                lo = sl * nrows // k  # this slice owns rows [lo, hi)
                hi = (sl + 1) * nrows // k
                off = 0
                for rb in pf.iter_batches(
                    batch_size=64,
                    row_groups=[rg],
                    columns=read_cols,
                ):
                    b_lo, b_hi = off, off + rb.num_rows
                    off = b_hi
                    if cmap:
                        # physical → current names, null-filling added cols
                        arrs = []
                        for c in _SCAN_COLS:
                            phys = cmap[c]
                            if phys is None:
                                arrs.append(pa.nulls(
                                    rb.num_rows,
                                    type=pa.int64()
                                    if _NULL_TYPES.get(c) == "long"
                                    else pa.string(),
                                ))
                            else:
                                arrs.append(
                                    rb.column(rb.schema.get_field_index(phys))
                                )
                        rb = pa.RecordBatch.from_arrays(
                            arrs, names=list(_SCAN_COLS)
                        )
                    if b_hi <= lo:
                        continue  # before this slice's window
                    if b_lo >= hi:
                        break  # past it — stop reading
                    base = max(lo, b_lo)
                    if b_lo < lo or b_hi > hi:
                        rb = rb.slice(base - b_lo, min(hi, b_hi) - base)
                    if delset is not None:
                        # merge-on-read: drop position-deleted rows BEFORE
                        # any value filter (positions are row-group-local
                        # and must be resolved against original offsets)
                        keep_idx = [
                            i for i in range(rb.num_rows)
                            if (base + i) not in delset
                        ]
                        if not keep_idx:
                            continue
                        if len(keep_idx) < rb.num_rows:
                            rb = rb.take(pa.array(keep_idx, type=pa.int32()))
                    if eq_specs:
                        # merge-on-read equality deletes: null-safe tuple
                        # match against the delete file's key set
                        drop = [False] * rb.num_rows
                        for cols, keys in eq_specs:
                            if not keys:
                                continue
                            vals = [rb.column(c).to_pylist() for c in cols]
                            for i, tup in enumerate(zip(*vals)):
                                if tup in keys:
                                    drop[i] = True
                        if any(drop):
                            keep_idx = [
                                i for i, d in enumerate(drop) if not d
                            ]
                            if not keep_idx:
                                continue
                            rb = rb.take(pa.array(keep_idx, type=pa.int32()))
                    if bc_keep is not None:
                        keep = bc_keep.value
                        idx = [
                            i for i, d in enumerate(
                                rb.column("doc_id").to_pylist())
                            if d in keep
                        ]
                        if not idx:
                            continue  # whole batch already committed
                        if len(idx) < rb.num_rows:
                            rb = rb.take(pa.array(idx, type=pa.int32()))
                    out = process_content_rows(rb, classify=classify, partition_id=pid)
                    if out is not None:
                        yield out

    def read_and_process(batches):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId() if TaskContext.get() else -1
        if not lineage:
            return scan_rows(batches, pid)
        from ..operators.metrics import fold_decode_lineage

        return fold_decode_lineage(scan_rows(batches, pid), pid)

    schema = TABLES_SCHEMA + ", partition_id int"
    return sdf.mapInArrow(read_and_process, schema)
