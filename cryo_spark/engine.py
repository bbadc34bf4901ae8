"""Encode / decode / freeze — the Spark jobs of the engine.

Shape of the pipeline (cryo's freeze lifecycle re-expressed Spark-first,
/root/reference/crates/freeze/src/freeze.rs:26-77):

  plan chunks (driver, deterministic)            -> layout.plan_chunks
  assign + pack + resume-filter (fused, no join) -> mapInArrow(_pack_assign)
  co-locate each chunk                           -> ONE shuffle: repartition(shuffle_key)
  per-chunk encode + the task's own file writes  -> mapInArrow(_write_kernel): numpy
                                                    kernels, pyarrow parquet writer
  commit (driver)                                -> _write_run: rename files into
                                                    place, tombstones, manifest, log

Every per-value operation happens inside numpy/pyarrow kernels — no
per-row Python (BASELINE.json:input_hint). The encoded table is one row
per (chunk × column): the reference's one-file-per-(datatype×partition)
layout (/root/reference/crates/freeze/src/types/files.rs:63-105) with
the file replaced by a binary payload cell keyed by (partition_id,
chunk_id, column). As in the reference, the worker that encodes a
chunk writes its file: no payload byte travels back to the JVM.
"""

from __future__ import annotations

import dataclasses
import os
import re
import time
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import hashing, layout, readview, snapshots, tablespec
from .arrowutil import amap
from .codecs import choose_float, choose_int, choose_str, decode_any, encode_any
from .codecs.bits import get_blob, put_blob
from .sources.parquet_arrow import HIVE_NULL
from .tablespec import SEQUENCES, ColumnSpec, TableSpec


def _manifest_rows(enc: pa.Table, plan_fp: str) -> pa.Table:
    """The one manifest projection every writer commits: the encoded
    rows minus their payload, the run's plan fingerprint stamped, and
    the bloom BYTES left side-located.

    The blooms dominated manifest size (~130 KB/chunk — ~6 TB of
    metadata ride-along at a 100 TB corpus, r4 verdict) yet only the
    point-lookup / contains / purge paths ever read them. The encoded
    files carry every bloom (per-chunk metadata riding the data), so the
    manifest keeps the SLOT (schema unchanged) but writes NULL bytes;
    pruning paths read the blooms from the read view's encoded files,
    key-metadata columns only (:func:`read_bloom_stats`) — fetched only
    when a point lookup actually runs.
    """
    n = enc.num_rows
    return pa.table(
        [pa.nulls(n, pa.binary()) if c == "key_bloom" else enc.column(c)
         for c in MANIFEST_COLUMNS] + [pa.array([plan_fp] * n, pa.string())],
        names=[*MANIFEST_COLUMNS, "plan_id"])


SEQUENCES_DDL = SEQUENCES.spark_ddl()  # "doc_id string, tokens array<int>, ..."


# ---------------------------------------------------------------------------
# per-chunk kernels (run inside executors via applyInArrow — the grouped
# data never touches pandas: a pandas conversion of array<int> allocates
# one ndarray per row, which measured ~6x slower than the zero-copy
# Arrow ListArray flatten used here)
# ---------------------------------------------------------------------------

_ENCODED_PA_SCHEMA = pa.schema(
    [
        ("partition_id", pa.int32()),
        ("chunk_id", pa.int32()),
        ("column", pa.string()),
        ("codec_id", pa.string()),
        ("n_rows", pa.int64()),
        ("n_values", pa.int64()),
        ("raw_bytes", pa.int64()),
        ("enc_bytes", pa.int64()),
        ("min_doc_id", pa.string()),
        ("max_doc_id", pa.string()),
        # zone map: per-(chunk x column) value min/max in a portable
        # string form (decimal for ints, repr for floats, the value
        # itself for strings); None when unavailable (all-null chunk,
        # binary/media payloads). The manifest carries these, so a
        # filtered read prunes whole chunks before touching payloads —
        # the parquet row-group statistics idiom applied to this layout.
        ("min_value", pa.string()),
        ("max_value", pa.string()),
        # key Bloom filter (hashing.bloom_build), on the key column's
        # row only: chunk placement is hash-bucketed, so key RANGES span
        # the whole space and zone maps can't prune point lookups; the
        # bloom restores O(matching chunks) point reads (~10 bits/key,
        # ~1% FP) — the parquet bloom-filter idiom for this layout
        ("key_bloom", pa.binary()),
        ("wall_ms", pa.float64()),
        ("status", pa.string()),
        ("payload", pa.binary()),
    ]
)
_DDL_TYPES = {pa.int32(): "int", pa.int64(): "long", pa.string(): "string",
              pa.binary(): "binary", pa.float64(): "double"}
ENCODED_DDL = ", ".join(f"{f.name} {_DDL_TYPES[f.type]}"
                        for f in _ENCODED_PA_SCHEMA)
MANIFEST_COLUMNS = _ENCODED_PA_SCHEMA.names[:-1]  # all but the payload
# read_encoded's rows, and the manifest's declared read schema: no
# schema-inference job, and ``run`` is the ``run=`` dir name verbatim, a
# partition column whose filters prune dirs (inference would type a
# numeric-looking legacy run id as a number, value and type)
ENCODED_RUN_DDL = ENCODED_DDL + ", run string"
MANIFEST_DDL = ", ".join(f"{f.name} {_DDL_TYPES[f.type]}"
                         for f in _ENCODED_PA_SCHEMA
                         if f.name in MANIFEST_COLUMNS) \
    + ", plan_id string, run string"


def _frame_validity(payload: bytes, arr) -> bytes:
    """Prefix a column payload with its null bitmap.

    Layout: flag byte (0 = no nulls, payload follows verbatim; 1 = a
    little-endian packed validity-bit blob precedes the payload). The
    codecs stay null-free — they see null slots as zero/empty filler —
    and decode restores the bitmap, so null vs empty survives the round
    trip bit-identically (the reference's Option<T> columns, e.g.
    /root/reference/crates/freeze/src/types/dataframes/creation.rs:60-101,
    keep the same distinction)."""
    if getattr(arr, "null_count", 0) == 0:
        return b"\x00" + payload
    bits = np.packbits(
        arr.is_valid().to_numpy(zero_copy_only=False), bitorder="little"
    )
    parts: list[bytes] = [b"\x01"]
    put_blob(parts, bits.tobytes())
    parts.append(payload)
    return b"".join(parts)


def _split_validity(payload, n_rows: int):
    """Inverse of :func:`_frame_validity` -> (valid_mask | None, rest)."""
    buf = memoryview(payload)
    if buf[0] == 0:
        return None, buf[1:]
    blob, pos = get_blob(buf[1:], 0)
    valid = np.unpackbits(
        np.frombuffer(blob, dtype=np.uint8), bitorder="little"
    )[:n_rows].astype(bool)
    return valid, buf[1:][pos:]


def _pack_list_binary(arr, col: ColumnSpec):
    """ListArray -> per-row binary reinterpreting the values buffer.

    Free: offsets scale by the item size (offsets buffer rewritten, 4
    bytes/row), the data buffer is shared. Null list rows keep their
    validity on the binary column (null must decode back as null, not
    empty); null ELEMENTS have no fixed-width representation — to_numpy
    would silently turn them into NaN->garbage — so they fail fast.
    """
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if arr.values.null_count:
        raise ValueError(
            f"null {col.name} elements are not supported "
            f"({col.name} must be {col.kind} with non-null items)"
        )
    item = col.item_dtype
    offs = arr.offsets.to_numpy().astype(np.int64)
    vals = arr.values.to_numpy(zero_copy_only=False).astype(item, copy=False)
    base = offs[0]
    validity = None
    if arr.null_count:
        validity = pa.py_buffer(np.packbits(
            arr.is_valid().to_numpy(zero_copy_only=False),
            bitorder="little",
        ).tobytes())
    return pa.Array.from_buffers(
        pa.binary(),
        len(arr),
        [validity,
         pa.py_buffer(((offs - base) * item.itemsize).astype(np.int32).tobytes()),
         pa.py_buffer(vals[base:].tobytes() if base else vals.tobytes())],
        null_count=arr.null_count,
    )


def _pack_assign(lut_b, n_buckets: int, keep_mask: np.ndarray | None = None,
                 chunk_id_offset: int = 0,
                 part_keys: np.ndarray | None = None,
                 spec: TableSpec = SEQUENCES,
                 bounds: dict | None = None):
    """Kernel factory: assign (partition_id, chunk_id) + pack lists to binary.

    One fused pre-shuffle pass. Assignment is a numpy hash + gather
    against the broadcast chunk-plan lookup (layout.assign_arrays) — no
    JVM join, no per-run broadcast exchange. Packing: shuffling list
    columns is the hidden cost of the naive plan — the post-shuffle
    row->Arrow conversion boxes every element through the JVM
    ArrowWriter (measured ~8x slower end-to-end); binary rows shuffle at
    memcpy speed (_pack_list_binary).

    ``keep_mask`` (bool per chunk_id) implements resume: rows of
    already-committed chunks are dropped here, before any bytes move.
    """

    def fn(batches):
        for b in batches:
            t = pa.Table.from_batches([b]).combine_chunks()
            key_str = tablespec.key_strings(t, spec)
            src = tablespec.partition_values(t, spec)
            pid, cid = layout.assign_arrays(
                key_str, src, lut_b.value, n_buckets, bounds=bounds,
                knum=None if bounds is None else layout.key_nums(t, spec),
                wnum=(tablespec.row_weights(t, spec)
                      if layout._is_zorder(bounds) else None))
            if keep_mask is not None:
                keep = keep_mask[cid]
                if not keep.all():
                    sel = np.flatnonzero(keep)
                    if not len(sel):
                        continue
                    t = t.take(pa.array(sel)).combine_chunks()
                    pid, cid = pid[sel], cid[sel]
            if chunk_id_offset:
                cid = cid + np.int32(chunk_id_offset)
            if part_keys is not None:
                skey = part_keys[cid % len(part_keys)]
            else:
                skey = cid
            arrays = [
                _pack_list_binary(t.column(c.name), c) if c.is_list
                else t.column(c.name).combine_chunks()
                for c in spec.columns
            ]
            arrays += [pa.array(pid, pa.int32()), pa.array(cid, pa.int32()),
                       pa.array(skey.astype(np.int32), pa.int32())]
            yield pa.RecordBatch.from_arrays(
                arrays,
                names=[c.name for c in spec.columns]
                + ["partition_id", "chunk_id", "shuffle_key"],
            )

    return fn


def _encode_partition(spec: TableSpec = SEQUENCES):
    """mapInArrow kernel: group one shuffle partition's rows by chunk in numpy.

    The repartition on (partition_id, chunk_id) guarantees every chunk's
    rows land in exactly one Spark partition, so grouping inside the
    partition is correct — and skips the JVM per-group sort + row
    conversion machinery of groupBy().applyInArrow() (measured ~1.9s of
    the reduce stage at local[16] with a no-op kernel, vs ~0.5s of
    actual codec work). Chunks land round-robin on _n_parts partitions,
    so a partition holds at most 32 chunks (target_tokens × int32 ≈
    8 MiB each at the default target) and materializing it is bounded
    regardless of total data size.
    """
    schema = spec.packed_pa_schema()

    def fn(batches):
        tbl = pa.Table.from_batches(list(batches), schema=schema)
        for enc in _encoded_chunks(tbl, spec):
            yield from enc.to_batches()

    return fn


def _encoded_chunks(tbl: pa.Table, spec: TableSpec):
    """The encoded rows of each chunk of one shuffle partition's packed
    rows, one table per chunk: the generator behind both the in-memory
    :func:`encode` and the encode+write task (:func:`_write_kernel`)."""
    if tbl.num_rows == 0:
        return
    for _, chunk in _groups(tbl, _chunk_ids(tbl)):
        try:
            yield _encode_chunk(chunk, spec)
        except Exception as e_:  # noqa: BLE001 — chunk-level fault isolation
            # one poisoned chunk must not kill a 10^12-sequence job:
            # emit a failed manifest row instead (the reference counts
            # errored partitions the same way,
            # crates/freeze/src/freeze.rs:149-168 /
            # types/summaries.rs:21-31); resume retries it because only
            # status='ok' rows mark a chunk done
            yield _failed_chunk_row(chunk, e_, spec)


def _chunk_ids(tbl: pa.Table) -> np.ndarray:
    return tbl.column("chunk_id").to_numpy(zero_copy_only=False)


def _groups(tbl: pa.Table, key: np.ndarray):
    """(key, rows) per distinct ``key`` value — a stable in-partition
    group-by (every chunk's rows sit in one partition or file)."""
    order = np.argsort(key, kind="stable")
    key = key[order]
    starts = np.flatnonzero(np.r_[True, key[1:] != key[:-1]])
    ends = np.r_[starts[1:], len(key)]
    tbl = tbl.take(pa.array(order)).combine_chunks()
    for s, e in zip(starts, ends):
        yield key[s], tbl.slice(int(s), int(e - s))


ENC_BLOCK_BYTES = 8 << 20  # encoded-file row-group target (see _write_encoded)
# blob cells no reader filters on: their min/max would only bloat footers
_NO_STATS = ("payload", "key_bloom")
# the one row an encode+write task returns (_write_task_files): the
# hidden names of the files it wrote under its run's encoded dir, and
# the run-summary sums of its rows
_COMMIT_DDL = ("files array<string>, manifest string, tokens long, "
               "enc_bytes long, raw_bytes long, n_ok long, n_failed long")
# a task attempt's file, hidden until the driver commits it
_STAGED = re.compile(r"\.(?:part|manifest)-(\d+)-a\d+\.parquet")


def _write_encoded(fs, path: str, t: pa.Table, block_bytes: int) -> None:
    """Write ``t``, encoded rows sorted by (column, chunk_id), as one
    parquet file.

    Clustering is what makes PROJECTION reach the physical layout: an
    interleaved file puts every column into every row group, so a
    reader that wants only ``n_tok`` still pays the IO of every
    ``tokens`` payload cell. A row group is cut once its blob cells
    reach ``block_bytes``, so each holds (mostly) one column's band and
    a skinny decode skips the rest by their ``column`` statistics
    (sources.select_row_groups). Uncompressed and without dictionary
    pages: payload cells are already codec-framed, and snappy
    re-compression + dictionary pages measured 2.4x slower at identical
    on-disk size.
    """
    import pyarrow.parquet as pq

    size = np.zeros(t.num_rows, dtype=np.int64)
    for c in _NO_STATS:
        if c in t.column_names:
            size += pc.binary_length(t.column(c)).fill_null(0) \
                .to_numpy(zero_copy_only=False)
    ends = np.cumsum(size)
    cuts, start, base = [], 0, 0
    while start < t.num_rows:
        end = min(t.num_rows, max(
            start + 1, int(np.searchsorted(ends, base + block_bytes)) + 1))
        cuts.append((start, end))
        start, base = end, int(ends[end - 1])
    with pq.ParquetWriter(
            path, t.schema, filesystem=fs, compression="none",
            use_dictionary=False, store_schema=False,
            write_statistics=[c for c in t.column_names
                              if c not in _NO_STATS]) as w:
        for s, e in cuts:
            w.write_table(t.slice(s, e - s))


def _path_groups(enc: pa.Table,
                 partition_by: list[str]) -> dict[tuple[str, ...], list[int]]:
    """Row indices of ``enc`` per ``partition_by`` value tuple, keyed by
    the tuple's ``k=v`` dir names (hive layout, as Spark writes and
    reads it: escaped values, nulls as ``__HIVE_DEFAULT_PARTITION__``)."""
    import urllib.parse

    out: dict[tuple[str, ...], list[int]] = {}
    for i, vals in enumerate(zip(*(enc.column(k).to_pylist()
                                   for k in partition_by))):
        key = tuple(
            f"{k}={HIVE_NULL if v is None else urllib.parse.quote(str(v), safe='')}"
            for k, v in zip(partition_by, vals))
        out.setdefault(key, []).append(i)
    return out


def _write_task_files(enc: pa.Table, fs, stage: str, tag: str, plan_fp: str,
                      partition_by: list[str] | None, block_bytes: int,
                      payload_col: str) -> pa.RecordBatch:
    """Write one encode task's files under hidden attempt names and
    return its commit row.

    ``enc`` holds every encoded row of the task, ``stage`` is its run's
    encoded dir in ``fs``, and ``tag`` names the task and the attempt
    (``<partition>-a<attempt id>``). The rows are sorted by (column,
    chunk_id) and written as ``.part-<tag>.parquet``, one file per
    ``partition_by`` group with the group's columns moved into its
    ``k=v`` dirs; the manifest part (:func:`_manifest_rows`) goes to
    ``.manifest-<tag>.parquet``. Hidden names keep every reader and
    Spark listing off them until the driver commits the run
    (:func:`_write_run`). The row names the files and carries the sums
    the run summary reports."""
    import pyarrow.parquet as pq

    col = np.unique(enc.column("column").to_numpy(zero_copy_only=False)
                    .astype(str), return_inverse=True)[1]
    enc = enc.take(pa.array(np.lexsort((_chunk_ids(enc), col))))
    groups = (_path_groups(enc, partition_by) if partition_by
              else {(): None})
    files = []
    for dirs, idx in groups.items():
        sub = enc if idx is None else \
            enc.take(pa.array(idx)).drop_columns(partition_by)
        fs.create_dir("/".join([stage, *dirs]), recursive=True)
        files.append("/".join([*dirs, f".part-{tag}.parquet"]))
        _write_encoded(fs, f"{stage}/{files[-1]}", sub, block_bytes)
    manifest = f".manifest-{tag}.parquet"
    pq.write_table(_manifest_rows(enc, plan_fp), f"{stage}/{manifest}",
                   filesystem=fs)
    is_pay = pc.equal(enc.column("column"), payload_col)
    ok = pc.equal(enc.column("status"), "ok")

    def total(arr) -> int:
        return int(pc.sum(arr).as_py() or 0)

    return pa.RecordBatch.from_pydict({
        "files": [files], "manifest": [manifest],
        "tokens": [total(pc.if_else(is_pay, enc.column("n_values"), 0))],
        "enc_bytes": [total(enc.column("enc_bytes"))],
        "raw_bytes": [total(enc.column("raw_bytes"))],
        "n_ok": [total(pc.and_(is_pay, ok).cast(pa.int64()))],
        # a failed chunk emits exactly one row (_failed_chunk_row)
        "n_failed": [total(pc.invert(ok).cast(pa.int64()))],
    })


def _write_kernel(store: readview._Store, run_id: str, plan_fp: str,
                  spec: TableSpec, partition_by: list[str] | None):
    """mapInArrow kernel of the encode+write stage: encode the
    partition's chunks (:func:`_encoded_chunks`), write them through the
    output's ``store`` filesystem (:func:`_write_task_files`) and yield
    the one commit row. The row-group target is read here, on the
    driver."""
    schema = spec.packed_pa_schema()
    block_bytes = ENC_BLOCK_BYTES
    payload_col = spec.list_column or spec.key

    def fn(batches):
        from pyspark import TaskContext

        tbl = pa.Table.from_batches(list(batches), schema=schema)
        chunks = list(_encoded_chunks(tbl, spec))
        del tbl  # the packed rows are done with before the writes
        if not chunks:
            return
        ctx = TaskContext.get()
        yield _write_task_files(
            pa.concat_tables(chunks), store.fs,
            f"{store.base}/encoded/run={run_id}",
            f"{ctx.partitionId():05d}-a{ctx.taskAttemptId()}", plan_fp,
            partition_by, block_bytes, payload_col)

    return fn


def _committed_name(rel: str) -> str:
    """A staged file's committed name in the same dir:
    ``.part-00003-a17.parquet`` or ``.manifest-00003-a17.parquet`` ->
    ``part-00003.parquet``."""
    head, sep, name = rel.rpartition("/")
    return f"{head}{sep}part-{_STAGED.fullmatch(name)[1]}.parquet"


def _failed_chunk_row(chunk: pa.Table, err: Exception,
                      spec: TableSpec = SEQUENCES) -> pa.Table:
    row = dict(
        partition_id=int(chunk.column("partition_id")[0].as_py()),
        chunk_id=int(chunk.column("chunk_id")[0].as_py()),
        column=spec.list_column or spec.key,
        codec_id=f"error:{type(err).__name__}",
        n_rows=chunk.num_rows, n_values=0, raw_bytes=0, enc_bytes=0,
        min_doc_id="", max_doc_id="", min_value=None, max_value=None,
        key_bloom=None,
        wall_ms=0.0, status=f"failed: {err}"[:200], payload=b"",
    )
    return pa.table({k: [v] for k, v in row.items()}, schema=_ENCODED_PA_SCHEMA)


_FAULT_SENTINEL = "__cryo_spark_fault__"  # fault-injection doc_id for tests


def _encode_chunk(t: pa.Table, spec: TableSpec = SEQUENCES) -> pa.Table:
    """Encode one chunk: rows sorted by the key, one output row per column.

    Column dispatch is codec-family by kind (tablespec module docstring):
    list columns arrive packed as binary (zero-copy un-pack to flat
    values + lengths), scalars go straight to their family's selector.
    """
    key = t.column(spec.key).combine_chunks()
    if key.null_count:
        raise ValueError(f"{spec.key} must be non-null (it is the key space)")
    t = t.take(pc.sort_indices(key))
    pid = int(t.column("partition_id")[0].as_py())
    cid = int(t.column("chunk_id")[0].as_py())
    n_rows = t.num_rows
    key = t.column(spec.key).combine_chunks()
    # manifest min/max travel as strings for any key type; for native
    # int keys they hold the decimal form of the true numeric min/max
    # (rows are sorted by the native value, not its string form)
    min_doc = str(key[0].as_py())
    max_doc = str(key[n_rows - 1].as_py())
    if (
        spec.key_col.kind == "str"
        and min_doc <= _FAULT_SENTINEL <= max_doc
        and pc.any(pc.equal(key, _FAULT_SENTINEL)).as_py()
    ):
        # deterministic, data-driven failure path so chunk-level fault
        # isolation (_encode_partition) is testable end-to-end
        raise RuntimeError("fault-injection sentinel doc_id present")

    out: list[dict] = []

    def emit(column: str, codec_id: str, payload: bytes, n_values: int,
             raw_bytes: int, wall_ms: float,
             stats: tuple[str, str] | None = None,
             bloom: bytes | None = None) -> None:
        out.append(
            dict(
                partition_id=pid, chunk_id=cid, column=column, codec_id=codec_id,
                n_rows=n_rows, n_values=n_values, raw_bytes=raw_bytes,
                enc_bytes=len(payload), min_doc_id=min_doc, max_doc_id=max_doc,
                min_value=None if stats is None else stats[0],
                max_value=None if stats is None else stats[1],
                key_bloom=bloom,
                wall_ms=wall_ms, status="ok", payload=payload,
            )
        )

    def _np_stats(vals: np.ndarray) -> tuple[str, str] | None:
        if not len(vals):
            return None
        if vals.dtype.kind == "f":
            # repr round-trips float64 exactly; float32 goes through
            # float() so the parse side reads the same double
            return repr(float(vals.min())), repr(float(vals.max()))
        return str(int(vals.min())), str(int(vals.max()))

    def _arr_stats(arr) -> tuple[str, str] | None:
        if arr.null_count == len(arr) or not len(arr):
            return None
        mm = pc.min_max(arr)  # ignores nulls
        return str(mm["min"].as_py()), str(mm["max"].as_py())

    # bloom over the key strings (int keys hash their decimal form via
    # hash_utf8's cast — the same form the manifest min/max store)
    key_bloom = hashing.bloom_build(hashing.hash_utf8(key))

    for c in spec.columns:
        t0 = time.perf_counter()
        arr = t.column(c.name).combine_chunks()
        if c.is_list:
            # zero-copy un-pack of the packed binary column
            isz = c.item_size
            boffs = np.frombuffer(arr.buffers()[1], dtype=np.int32,
                                  count=n_rows + 1)
            data = np.frombuffer(arr.buffers()[2], dtype=np.uint8)
            flat = data[boffs[0] : boffs[-1]].view(c.item_dtype)
            lengths = (np.diff(boffs) // isz).astype(np.int32)
            lens_choice = choose_int(lengths)
            vals_choice = (
                choose_float if c.item_dtype.kind == "f" else choose_int
            )(flat)
            parts: list[bytes] = []
            put_blob(parts, lens_choice.payload)
            put_blob(parts, vals_choice.payload)
            # content bloom over the chunk's DISTINCT element values
            # (int lists only): "which chunks contain token X" reads
            # then prune from the manifest alone — the inverted-index
            # question a contamination check / targeted extraction asks
            # at 10^12 scale. Distinct-first keeps the bitwise-or cost
            # at O(vocab), not O(tokens).
            val_bloom = None
            if c.item_dtype.kind in "iu" and len(flat):
                val_bloom = hashing.bloom_build(
                    hashing.hash_i64(_distinct_ints(flat)))
            emit(
                c.name,
                f"{vals_choice.codec_id}|lens={lens_choice.codec_id}",
                _frame_validity(b"".join(parts), arr),
                int(len(flat)),
                int(flat.nbytes + 4 * n_rows),
                (time.perf_counter() - t0) * 1000,
                stats=_np_stats(flat),
                bloom=val_bloom,
            )
        elif c.kind in ("str", "binary"):
            if arr.null_count:
                arr_nn = arr.fill_null(b"" if c.kind == "binary" else "")
            else:
                arr_nn = arr
            ch = choose_str(arr_nn)
            raw = int(pc.sum(pc.binary_length(arr)).as_py() or 0) + 4 * n_rows
            emit(c.name, ch.codec_id, _frame_validity(ch.payload, arr), n_rows,
                 raw, (time.perf_counter() - t0) * 1000,
                 stats=None if c.kind == "binary" else _arr_stats(arr),
                 bloom=key_bloom if c.name == spec.key else None)
        else:
            if c.kind == "timestamp":
                # epoch-micros at the codec layer: the int family applies
                # (dod collapses near-regular event spacing) and the
                # manifest zone maps hold integer micros, which
                # _stat_num compares as longs
                arr = arr.cast(pa.int64())
            dt = c.np_dtype
            vals = arr.fill_null(0).to_numpy(zero_copy_only=False).astype(dt)
            ch = (choose_float if dt.kind == "f" else choose_int)(vals)
            emit(c.name, ch.codec_id, _frame_validity(ch.payload, arr),
                 n_rows, int(vals.nbytes), (time.perf_counter() - t0) * 1000,
                 stats=_arr_stats(arr),
                 bloom=key_bloom if c.name == spec.key else None)

    cols = {name: [r[name] for r in out] for name in _ENCODED_PA_SCHEMA.names}
    return pa.table(cols, schema=_ENCODED_PA_SCHEMA)


def _decode_chunk(t: pa.Table, columns: list[str],
                  spec: TableSpec = SEQUENCES) -> pa.Table:
    """Inverse of :func:`_encode_chunk`: encoded column rows -> data rows.

    Only ``columns`` are materialized; every column of a chunk was
    encoded in the same key-sorted row order, so any subset stays
    positionally aligned.
    """
    payloads = {
        name: t.column("payload")[i].as_py()
        for i, name in enumerate(t.column("column").to_pylist())
        if name in columns
    }
    n_rows = int(t.column("n_rows")[0].as_py())
    out: dict = {}
    for name in columns:
        c = spec.col(name)
        if name not in payloads:
            # schema evolution (Iceberg add-column): a chunk frozen
            # before the column existed decodes it as all-null — new
            # runs carry values, old runs carry nulls, one read serves
            # both without rewriting history
            out[name] = pa.nulls(n_rows, c.pa_type)
            continue
        valid, buf = _split_validity(payloads[name], n_rows)
        if c.is_list:
            lens_blob, pos = get_blob(buf, 0)
            vals_blob, pos = get_blob(buf, pos)
            lengths = decode_any(bytes(lens_blob)).astype(np.int64)
            flat = decode_any(bytes(vals_blob))
            offsets = np.zeros(len(lengths) + 1, dtype=np.int32)
            np.cumsum(lengths, out=offsets[1:])
            # a null mask on the offsets array marks null list rows
            # (null != empty: the round trip preserves the distinction)
            mask = None
            if valid is not None:
                mask = np.concatenate((~valid, [False]))
            out[name] = pa.ListArray.from_arrays(
                pa.array(offsets, mask=mask),
                pa.array(flat, type=c.pa_item_type),
            )
        elif c.kind in ("str", "binary"):
            arr = decode_any(bytes(buf))
            if c.kind == "binary":
                # string codecs decode to StringArray; re-type the same
                # offsets/data buffers as binary (zero-copy, no UTF-8
                # claim on opaque payload bytes)
                arr = pa.Array.from_buffers(
                    pa.binary(), len(arr),
                    [None, arr.buffers()[1], arr.buffers()[2]],
                )
            if valid is not None:
                arr = pc.if_else(
                    pa.array(valid), arr, pa.scalar(None, c.pa_type)
                )
            out[name] = arr
        else:
            vals = decode_any(bytes(buf))
            out[name] = pa.array(
                vals, type=c.pa_type,
                mask=None if valid is None else ~valid,
            )
    # conform to the declared arrow schema (zero-copy when already exact):
    # Spark's ArrowColumnVector accessors dispatch on the concrete vector
    # type, and an off-type column (large_string, dictionary, null) fails
    # JVM-side with UNSUPPORTED_CALL only when a downstream projection
    # touches it — cast here so no producer path can leak one
    target = pa.schema([(name, spec.col(name).pa_type) for name in columns])
    return pa.table(out).cast(target)


def _decode_partition(columns: list[str], spec: TableSpec = SEQUENCES):
    """mapInArrow kernel: group encoded rows by chunk, decode each.

    Same partition-local grouping as _encode_partition — the upstream
    repartition on (run, chunk_id) co-locates every chunk. ``run`` is
    part of the group key: chunk ids are plan-relative, so two runs in
    one output dir (e.g. disjoint --keys ranges) both number from 0 and
    grouping by chunk_id alone would merge their payload rows (one
    run's columns silently overwrite the other's).
    """

    def fn(batches):
        batches = list(batches)
        if not batches:
            return
        # schema from the batches themselves: nullability of `run`
        # differs between the lit("") and real-column paths
        tbl = pa.Table.from_batches(batches)
        if tbl.num_rows == 0:
            return
        cid = _chunk_ids(tbl).astype(np.int64)
        run_codes = (
            tbl.column("run").combine_chunks().dictionary_encode()
            .indices.fill_null(-1)
            .to_numpy(zero_copy_only=False).astype(np.int64)
        )
        for _, chunk in _groups(tbl, run_codes * (cid.max() + 1) + cid):
            yield from _decode_chunk(chunk, columns, spec).to_batches()

    return fn


# ---------------------------------------------------------------------------
# DataFrame-level API (cryo.collect analog: no sink)
# ---------------------------------------------------------------------------

def encode(
    df: DataFrame,
    target_tokens: int = layout.DEFAULT_TARGET_TOKENS,
    plan: layout.ChunkPlan | None = None,
    spec: TableSpec = SEQUENCES,
) -> DataFrame:
    """Encode a DataFrame of ``spec``'s shape into the encoded-chunk table.

    One shuffle (on the chunk key); chunk boundaries deterministic.
    The repartition is explicit — ~one chunk per task — because AQE's
    partition coalescing would otherwise merge the shuffle output into
    few fat partitions (its advisory size targets scan-like stages) and
    starve the vectorized encode stage of parallelism. applyInArrow
    reuses this clustering, so no second exchange is added.
    """
    if plan is None:
        plan = layout.plan_chunks(df, target_tokens, spec=spec)
    return _grouped_encode(df, plan, spec=spec)


def _grouped_encode(df: DataFrame, plan: layout.ChunkPlan,
                    keep_mask: np.ndarray | None = None,
                    chunk_id_offset: int = 0,
                    spec: TableSpec = SEQUENCES) -> DataFrame:
    packed = _packed(df, plan, keep_mask, chunk_id_offset, spec)
    return amap(packed.repartition(_n_parts(df.sparkSession, plan.n_chunks),
                                   "shuffle_key"),
                _encode_partition(spec), ENCODED_DDL)


def _packed(df: DataFrame, plan: layout.ChunkPlan,
            keep_mask: np.ndarray | None = None, chunk_id_offset: int = 0,
            spec: TableSpec = SEQUENCES) -> DataFrame:
    """``df``'s rows assigned to ``plan``'s chunks and packed
    (:func:`_pack_assign`): the map side of an encode."""
    return amap(
        df,
        _pack_kernel(df.sparkSession, plan, keep_mask, chunk_id_offset, spec),
        spec.packed_ddl(),
    )


def _pack_kernel(spark: SparkSession, plan: layout.ChunkPlan,
                 keep_mask: np.ndarray | None, chunk_id_offset: int,
                 spec: TableSpec = SEQUENCES):
    n_parts = _n_parts(spark, plan.n_chunks)
    lut_b = spark.sparkContext.broadcast(plan.lookup())
    # invert Spark's murmur3 placement: chunk cid lands in partition
    # cid % n_parts exactly — round-robin, no hash-placement skew
    part_keys = hashing.partition_keys(n_parts)
    return _pack_assign(lut_b, plan.n_buckets, keep_mask, chunk_id_offset,
                        part_keys, spec, bounds=plan.range_bounds)


def _n_parts(spark: SparkSession, n_chunks: int) -> int:
    """Task count of a Python reduce stage over ``n_chunks`` chunks.

    One task per ~32 chunks (round-robin placement keeps every task at
    or under 32 chunks, ~256 MB packed at the default target), rounded
    up to whole waves of ``defaultParallelism`` so no slot idles in the
    last wave, and never more tasks than chunks. Every Python task pays
    a fixed JVM<->Python dispatch cost (~0.2 s a slot on a 4-vCPU host
    at local[2], against 0.3 ms of kernel work on a small chunk), so a
    stage starts no more tasks than the chunks it has to spread: a
    6-chunk append runs 2 tasks at local[2], the 66-chunk sf0.1 freeze
    4, and a 16-chunk job on a 32-slot cluster 16.
    """
    par = max(1, spark.sparkContext.defaultParallelism)
    waves = -(-max(1, -(-n_chunks // 32)) // par)
    return max(1, min(n_chunks, waves * par))


def decode(enc_df: DataFrame, columns: list[str] | None = None,
           spec: TableSpec = SEQUENCES) -> DataFrame:
    """Decode the encoded-chunk table back to bit-identical rows.

    ``columns`` projects the decode: unwanted columns' payload rows are
    filtered BEFORE the shuffle, so their bytes never move — decode-side
    column pruning, the mirror of the reference's lazy acquisition
    (/root/reference/crates/freeze/src/datasets/transactions.rs:123-134).

    The ``(run, partition_id, chunk_id)`` exchange has :func:`_n_parts`
    tasks for the input's chunk count, which one job counts over the
    key columns alone (the payload column is pruned from that scan): a
    task holds ~32 chunks on average, and a small read starts no more
    tasks than it has chunks.

    Committed outputs never decode here: every read of one —
    ``decode_frozen``, ``collect``, ``read_appends``, ``read_changes``,
    ``compact``, ``upsert``, ``purge_deletes`` — scans its files
    (:func:`_decode_view`). This relational decode is the in-memory
    inverse, ``decode(encode(df))``, and the reference those reads are
    tested against, ``decode(read_encoded(...))``.
    """
    from . import schema as schema_mod

    all_cols = [c.name for c in spec.columns]
    columns = all_cols if columns is None else schema_mod.compute_used_columns(
        all_cols, columns=columns
    )
    ddl = spec.spark_ddl(columns)
    run_col = (
        F.col("run") if "run" in enc_df.columns
        else F.lit("").alias("run")  # in-memory encode(): single plan
    )
    keys = ["run", "partition_id", "chunk_id"]
    rows = (enc_df.select(run_col.alias("run"), "partition_id", "chunk_id",
                          "column", "n_rows", "payload")
            .filter(F.col("column").isin(columns)))
    n_chunks = rows.select(*keys).distinct().count()
    return amap(
        rows.repartition(_n_parts(enc_df.sparkSession, n_chunks), *keys),
        _decode_partition(columns, spec), ddl,
    )


def _decoded_chunks(tbl: pa.Table, run: str, columns: list[str],
                    spec: TableSpec,
                    drops: dict[str, tuple[int, bytes]] | None = None,
                    keep: dict[str, tuple[int, bytes]] | None = None):
    """(chunk_id, decoded rows) of each chunk in ``tbl``, the encoded
    rows of whole chunks of run ``run`` (the files one encode task
    wrote): the per-file decode of :func:`_decode_view` and of the
    co-located join. A chunk is decoded iff it is ok — a failed chunk's
    only trace is its error manifest row, and resume re-encodes it under
    a later run (its own files) — its run's ``drops`` bitmap does not
    retire it, and ``keep`` (None: all) holds it."""
    mask = pc.fill_null(pc.equal(tbl.column("status"), "ok"),
                        False).to_numpy(zero_copy_only=False)
    cids = _chunk_ids(tbl)
    if drops and run in drops:
        mask &= ~readview.in_bitmap(drops[run], cids)
    if keep is not None:
        mask &= readview.in_bitmap(keep[run], cids)
    if not mask.all():
        tbl = tbl.filter(pa.array(mask))
    if tbl.num_rows == 0:
        return
    for cid, chunk in _groups(tbl, _chunk_ids(tbl)):
        yield int(cid), _decode_chunk(chunk, columns, spec)


def _unit_kernel(fn):
    """File-scan kernel calling ``fn(table, run)`` once per scan unit
    with rows: the unit's encoded rows under their declared types (the
    columns a ``partition_by`` layout keeps only in its ``k=v`` dirs
    arrive as strings from the path and are cast back here) and the run
    its path names."""
    def kernel(path, batches):
        tbl = pa.Table.from_batches(list(batches))
        if tbl.num_rows:
            yield from fn(tbl.cast(pa.schema([_ENCODED_PA_SCHEMA.field(c)
                                              for c in tbl.column_names])),
                          readview.path_values(path)["run"])

    return kernel


def _scan_encoded(spark: SparkSession, units: list, columns: list[str]
                  ) -> DataFrame:
    """``columns`` of the encoded rows of ``units`` (paths or file
    groups), undecoded, plus ``run``: :func:`_decode_view`'s file scan
    without the decode."""
    from . import sources

    ddl = ", ".join(f"{c} {_DDL_TYPES[_ENCODED_PA_SCHEMA.field(c).type]}"
                    for c in columns) + ", run string"
    return sources.arrow_scan_files(spark, units, columns, _unit_kernel(
        lambda tbl, run: tbl.append_column(
            "run", pa.array([run] * tbl.num_rows, pa.string())).to_batches()),
        ddl)


def decode_frozen(spark: SparkSession, output_dir: str,
                  columns: list[str] | None = None,
                  spec: TableSpec = SEQUENCES,
                  as_of: int | str | None = None) -> DataFrame:
    """Shuffle-free decode of a frozen output dir.

    The encode stage co-locates every chunk's rows inside the files of
    one encode task, so the scan tasks read those files whole with
    pyarrow and decode chunk groups in place (:func:`_decode_view`):
    zero payload exchanges, which at the 10^12-sequence scale is the
    difference between a read and a full extra shuffle of the compressed
    table. Local and ``://`` outputs, flat and ``partition_by`` layouts
    all read this way.

    What is read is exactly the snapshot's :class:`readview.ReadView`:
    the files of the live runs (a run is live iff the snapshot log
    replayed to ``as_of`` — default head — names it; without a log, iff
    its manifest dir carries ``_SUCCESS``), minus the chunks live
    tombstones retire, minus the live equality deletes. Orphan run dirs
    are never listed. ``as_of`` raises if vacuum already deleted bytes
    the snapshot needs.
    """
    return _decode_view(spark, readview.read_view(output_dir, as_of),
                        columns, spec)


def _decode_view(spark: SparkSession, view: readview.ReadView,
                 columns: list[str] | None, spec: TableSpec,
                 keep: dict[str, tuple[int, bytes]] | None = None,
                 tap=None) -> DataFrame:
    """The rows of ``view``'s live chunks, or of the ``keep`` subset of
    them, projected to ``columns`` — the one decode of committed
    outputs, local and ``://`` alike (:func:`decode_frozen`,
    :func:`collect`, :func:`read_appends`, :func:`read_changes`,
    :func:`compact`, :func:`upsert`, :func:`purge_deletes`).

    ``keep`` selects chunks: one packed chunk-id bitmap per run
    (``readview.bitmaps``, the form of ``view.drops``); None keeps every
    live chunk. Only the kept runs' files are read, in ONE stage of
    :func:`sources.arrow_scan_files` whose scan unit is the file group of
    one encode task in one run (``ReadView.file_groups``): whole chunks,
    also where a ``partition_by`` over a column such as ``column`` splits
    a chunk across ``k=v`` dirs. The kernel decodes a chunk iff it is
    live (after ``drops``, which also cut ``keep`` before any file is
    chosen) and kept. ``tap`` (an arrow kernel that yields its batches
    unchanged, ``layout.PlanTap.kernel``) sees the decoded rows inside
    the scan's own Python stage. The view's live equality deletes are
    anti-joined last."""
    from . import schema as schema_mod
    from . import sources

    all_cols = [c.name for c in spec.columns]
    cols = all_cols if columns is None else schema_mod.compute_used_columns(
        all_cols, columns=columns
    )
    # equality deletes are row-level (merge-on-read): the key column
    # must be decoded to anti-join them, then projected away if the
    # caller didn't ask for it
    dec_cols = (cols if not view.deletes or spec.key in cols
                else [spec.key, *cols])
    if keep is not None:
        keep = readview.minus(keep, view.drops)
        view = dataclasses.replace(view, files={
            r: fs for r, fs in view.files.items() if r in keep})
    groups = view.file_groups()
    if not groups:
        df = spark.createDataFrame([], spec.spark_ddl(dec_cols))
    else:
        # physical projection: encoded files are clustered by (column,
        # chunk_id) (_write_task_files), so a skinny decode reads only
        # the row groups whose `column` band intersects the wanted set,
        # and only the `column=` dirs it wants — the fat payload
        # columns' bytes never leave disk. Whole-file reads (all columns
        # wanted) skip the footer pass entirely.
        rg_sel: dict[str, list[int]] | None = None
        if len(dec_cols) < len(all_cols):
            rg_sel = {}
            for p in (f for g in groups for f in g):
                band = readview.path_values(p).get("column")
                if band is None:
                    rgs = sources.select_row_groups(p, "column",
                                                    set(dec_cols))
                else:  # partition_by over `column`: the dir is the band
                    rgs = None if band in dec_cols else []
                if rgs is not None:
                    rg_sel[p] = rgs
        # drops and keep ride in the task closure (_decoded_chunks)
        drops = view.drops
        kernel = _unit_kernel(lambda tbl, run: (
            b for _, rows in _decoded_chunks(tbl, run, dec_cols, spec, drops,
                                             keep)
            for b in rows.to_batches()))
        if tap is not None:
            kernel = (lambda path, batches, k=kernel:
                      tap(k(path, batches)))
        df = sources.arrow_scan_files(
            spark, groups, ["chunk_id", "column", "n_rows", "status",
                            "payload"],
            kernel, spec.spark_ddl(dec_cols), row_groups=rg_sel)
    if view.deletes:
        df = _apply_deletes(spark, df, view, spec)
        if dec_cols is not cols:
            df = df.select(*cols)
    return df


def _selection(keys: DataFrame
               ) -> tuple[pa.Table, dict[str, tuple[int, bytes]]]:
    """Collect a (run, partition_id, chunk_id) key set to the driver once:
    the arrow table (for a tombstone write) and its ``keep`` bitmaps."""
    t = keys.select("run", "partition_id", "chunk_id").toArrow()
    return t, readview.bitmaps(t)


# ---------------------------------------------------------------------------
# freeze: full job with manifest + resume (cryo.freeze analog)
# ---------------------------------------------------------------------------

def _manifest_path(output_dir: str) -> str:
    return f"{output_dir}/manifest"


def _manifest_gens_path(output_dir: str) -> str:
    return f"{output_dir}/manifest_gens"


def consolidate_manifests(spark: SparkSession, output_dir: str) -> dict:
    """Rewrite per-run manifest dirs into ONE generation (Iceberg
    ``rewrite_manifests`` analog) — metadata-only, visibility unchanged.

    Every freeze/compact/purge appends a ``manifest/run=<id>/`` dir; at
    the 10^12-sequence target that is one directory (and a handful of
    small files) per incremental run, and past ~10^5 runs the listing
    itself becomes the scan-planning bottleneck — the exact problem
    Iceberg's rewrite_manifests exists for. This job folds every
    committed manifest run dir (plus the previous generation, if any)
    into ``manifest_gens/gen=<id>/`` — a few size-bounded parquet files
    sorted by (run, partition_id, chunk_id) with ``run`` as an ordinary
    string column — then commits a ``consolidate`` snapshot entry and
    deletes the absorbed dirs.

    Correctness model:

    - **Lossless**: the generation holds the same rows; every reader
      (`read_manifest`) unions the latest generation with any run dirs
      newer than it, so resume, zone-map pruning, time travel, branches,
      rollback, changelog and verify are all unaffected (`consolidate`
      entries are ignored by the snapshot-visibility replay).
    - **Atomic**: a generation is readable only once its ``consolidate``
      log entry lands (the os.link CAS in snapshots.commit). Death
      before the commit leaves an unreferenced gen dir (garbage, never
      read, re-collected by the next consolidation); death after the
      commit but before the dir deletes leaves absorbed dirs that every
      reader already excludes.
    - **Conservative**: only run dirs the snapshot log names (the log
      entry is the commit, written after the manifest dir is complete)
      are absorbed; an in-flight or mid-commit run's dir is left alone.

    The reference has no analog (one process, one output dir —
    /root/reference/crates/freeze/src/types/reports.rs keeps one report
    file per run and never folds them); this is table-format machinery
    the 100 TB deployment needs.
    """
    import math
    import shutil

    if "://" in output_dir:
        raise ValueError(
            "manifest consolidation is the catalog's job on a real "
            "object store (Iceberg rewrite_manifests)")
    entries = snapshots.log(output_dir)
    if not entries:
        return dict(consolidated=False, reason="no snapshot log")
    view = readview.read_view(output_dir, strict=False)
    man_base = _manifest_path(output_dir)
    # leftovers of a consolidation that died between commit and delete
    stale = view.manifest_dirs & view.absorbed
    # a run the log names has a complete manifest dir (the log entry is
    # its commit); an in-flight run's dir is left alone
    absorb = (view.manifest_dirs - stale) \
        & {e["run"] for e in entries if e.get("run")}
    for d in stale:
        shutil.rmtree(os.path.join(man_base, f"run={d}"), ignore_errors=True)
    if not absorb:
        return dict(consolidated=False, reason="nothing to consolidate",
                    n_stale_cleaned=len(stale))
    df = spark.read.schema(MANIFEST_DDL).parquet(man_base).filter(
        F.col("run").isin(sorted(absorb)))
    if view.manifest_gen is not None:
        df = spark.read.schema(MANIFEST_DDL).parquet(view.manifest_gen) \
            .unionByName(df)
    n_rows = df.count()
    # bounded file count is the whole point: ~1M manifest rows (a few
    # tens of MB) per output file, global sort by run so visibility
    # filters prune row groups
    n_files = max(1, math.ceil(n_rows / 1_000_000))
    new_gen = _new_run_id()
    gen_dir = f"{_manifest_gens_path(output_dir)}/gen={new_gen}"
    (
        df.repartitionByRange(n_files, "run", "partition_id", "chunk_id")
        .sortWithinPartitions("run", "partition_id", "chunk_id")
        .write.mode("error").parquet(gen_dir)
    )
    absorbed_all = sorted(view.absorbed | absorb)
    seq = snapshots.commit(output_dir, None, "consolidate", gen=new_gen,
                           absorbed_runs=absorbed_all)
    # post-commit cleanup; every reader already excludes these
    for d in absorb:
        shutil.rmtree(os.path.join(man_base, f"run={d}"), ignore_errors=True)
    if view.manifest_gen is not None:
        shutil.rmtree(view.manifest_gen, ignore_errors=True)
    # unreferenced gens (a prior consolidation died pre-commit)
    gens_base = _manifest_gens_path(output_dir)
    for g in os.listdir(gens_base):
        if g.startswith("gen=") and g[4:] != new_gen:
            shutil.rmtree(os.path.join(gens_base, g), ignore_errors=True)
    # the snapshot log has the same one-file-per-commit growth the
    # manifest dirs had; fold it too (verbatim entries, replay-exact)
    ckpt = snapshots.checkpoint(output_dir)
    return dict(consolidated=True, snapshot=seq, gen=new_gen,
                n_absorbed_runs=len(absorb), n_rows=n_rows,
                n_files=n_files, n_stale_cleaned=len(stale),
                log_checkpointed_through=ckpt.get("through_seq"))


def _encoded_path(output_dir: str) -> str:
    return f"{output_dir}/encoded"


def _tombstones_path(output_dir: str) -> str:
    return f"{output_dir}/tombstones"


def _deletes_path(output_dir: str) -> str:
    return f"{output_dir}/deletes"


def _delete_keys(spark: SparkSession, view: readview.ReadView, spec: TableSpec) -> DataFrame:
    """Distinct keys of the view's live equality-delete runs."""
    paths = [f"{_deletes_path(view.output_dir)}/run={r}"
             for r in sorted(view.deletes)]
    return spark.read.schema(spec.spark_ddl([spec.key])).parquet(
        *paths).distinct()


def _apply_deletes(spark: SparkSession, df: DataFrame,
                   view: readview.ReadView, spec: TableSpec) -> DataFrame:
    """Anti-join the view's live equality-delete keys.

    Merge-on-read: delete runs are key files (engine.delete_where),
    applied at read time. No broadcast hint — AQE broadcasts small
    delete sets itself, and a billion-key delete set must shuffle."""
    if not view.deletes:
        return df
    return df.join(_delete_keys(spark, view, spec), spec.key, "left_anti")


def delete_where(
    spark: SparkSession,
    output_dir: str,
    keys: str | None = None,
    filters: list[tuple] | None = None,
    spec: TableSpec = SEQUENCES,
) -> dict:
    """Row-level delete by predicate — Iceberg equality-delete analog.

    Writes the matching keys as a delete run (``deletes/run=<id>``) and
    commits it as a snapshot entry; every read path then anti-joins the
    keys (merge-on-read) — no data file is rewritten. Time travel to a
    pre-delete snapshot sees the rows again, and rollback un-deletes.
    ``keys`` takes the block-range grammar, ``filters`` the
    (column, op, value) triples; matching rows are resolved against the
    CURRENT state (prior deletes already applied), with zone-map chunk
    pruning doing the scan reduction. The reference has no delete (its
    outputs are immutable archives); this is the training-data-pipeline
    operation (contamination removal, dedup application) the mission
    adds on top.
    """
    if "://" in output_dir:
        raise ValueError("delete_where needs the local snapshot log; on a "
                         "real catalog this maps to Iceberg DELETE FROM")
    if keys is None and not filters:
        raise ValueError("specify keys= and/or filters= (a full-table "
                         "delete must be spelled out, e.g. keys=':latest')")
    t0 = time.perf_counter()
    matched = collect(spark, output_dir, columns=[spec.key], keys=keys,
                      filters=filters, spec=spec)
    run_id = _new_run_id()
    del_dir = f"{_deletes_path(output_dir)}/run={run_id}"
    matched.distinct().write.mode("error").parquet(del_dir)
    n = spark.read.parquet(del_dir).count()
    if n == 0:
        import shutil

        shutil.rmtree(del_dir, ignore_errors=True)
        return dict(snapshot=None, run=None, n_deleted=0,
                    wall_s=time.perf_counter() - t0)
    snap = snapshots.commit(output_dir, run_id, "delete", n_keys=n)
    return dict(snapshot=snap, run=run_id, n_deleted=n,
                wall_s=time.perf_counter() - t0)


def read_appends(
    spark: SparkSession,
    output_dir: str,
    from_seq: int | str,
    to_seq: int | str | None = None,
    columns: list[str] | None = None,
    spec: TableSpec = SEQUENCES,
) -> DataFrame:
    """Rows appended in snapshot range (from_seq, to_seq] — incremental scan.

    The Iceberg incremental-read contract: the range may contain only
    plain appends (freeze / stream batches). A rewrite, purge, delete
    or rollback inside it makes row-level increments ambiguous (rows
    moved or vanished, not just arrived) and raises — the caller then
    falls back to a full read, exactly as with Iceberg. Tags and
    vacuums are metadata/physical-only and pass through. Feeds
    downstream incremental pipelines (tokenizer re-runs, index updates)
    without rescanning the 10^12-sequence table.

    The appended runs decode through the file scan of every read
    (:func:`_decode_view`) over a view of exactly those runs
    (``readview.runs_view``: live at head or not, no drops, no
    deletes); an appended run a later vacuum removed raises.
    """
    entries = snapshots.log(output_dir)
    if not entries:
        raise ValueError(f"no snapshot log under {output_dir!r}")
    from_seq = snapshots.resolve_ref(output_dir, from_seq)
    to_seq = (entries[-1]["seq"] if to_seq is None
              else snapshots.resolve_ref(output_dir, to_seq))
    in_range = [e for e in entries if from_seq < e["seq"] <= to_seq]
    bad = [e for e in in_range
           if e["kind"] not in ("append", "tag", "vacuum",
                                "consolidate", "orphan_gc")]
    if bad:
        kinds = sorted({e["kind"] for e in bad})
        raise ValueError(
            f"incremental scan ({from_seq}, {to_seq}] crosses non-append "
            f"history ({', '.join(kinds)}); read the full table at "
            f"as_of={to_seq} instead")
    runs = [e["run"] for e in in_range if e["kind"] == "append"]
    return _decode_view(spark, readview.runs_view(output_dir, runs, entries),
                        columns, spec)


def read_changes(
    spark: SparkSession,
    output_dir: str,
    from_seq: int | str,
    to_seq: int | str | None = None,
    spec: TableSpec = SEQUENCES,
) -> DataFrame:
    """Row-level changelog for snapshot range (from_seq, to_seq] — the
    Iceberg changelog-read (``create_changelog_view``) analog.

    Emits one row per logical change, stamped with ``_change_type``
    ('insert' | 'delete') and ``_commit_seq``:

    - append commits contribute their decoded rows as inserts;
    - equality-delete commits contribute their key files as deletes
      (payload columns null — the keys were resolved against live rows
      at delete time, so each key is exactly one vanished row);
    - compaction rewrites and purges are SKIPPED: they move bytes, not
      rows — a purge only materializes deletes already reported at
      their own commits (Iceberg's changelog takes the same position);
    - an upsert or overwrite rewrite raises: attributing row-level
      changes through a commit that both adds and removes rows needs
      the pre-state, which merge-on-read metadata alone cannot give —
      the caller diffs full reads at the two ends instead. Rollback and
      publish raise for the same reason.

    Strictly more capable than ``read_appends`` (which refuses ALL
    non-append history). Each append commit is one file scan of its run
    (:func:`_decode_view` over ``readview.runs_view``), and the scans
    are unioned: building the frame starts no job, and its action runs
    them all in one. An append run a later vacuum removed raises.
    """
    entries = snapshots.log(output_dir)
    if not entries:
        raise ValueError(f"no snapshot log under {output_dir!r}")
    from_seq = snapshots.resolve_ref(output_dir, from_seq)
    to_seq = (entries[-1]["seq"] if to_seq is None
              else snapshots.resolve_ref(output_dir, to_seq))
    in_range = [e for e in entries
                if from_seq < e["seq"] <= to_seq and e.get("branch") is None]
    ins_entries, del_entries = [], []
    for e in in_range:
        k = e["kind"]
        if k == "append":
            ins_entries.append(e)
        elif k == "delete":
            del_entries.append(e)
        elif k == "rewrite":
            # every rewrite entry carries a plan_id; a compaction's also
            # names its command
            if e.get("command") != "compact" and (
                    e.get("command") == "upsert" or e.get("plan_id")):
                what = "upsert" if e.get("command") == "upsert" else "overwrite"
                raise ValueError(
                    f"changelog ({from_seq}, {to_seq}] crosses a "
                    f"row-replacing {what} (seq {e['seq']}); diff full "
                    f"reads at as_of={from_seq} and as_of={to_seq} instead")
            # bare rewrite = compaction: physical reshuffle, no logical change
        elif k in ("purge", "vacuum", "tag", "branch",
                   "consolidate", "orphan_gc"):
            # metadata-only / physical-only: no logical row change
            continue
        else:  # rollback, publish, future kinds
            raise ValueError(
                f"changelog cannot attribute row changes through "
                f"kind={k!r} (seq {e['seq']})")
    all_cols = [c.name for c in spec.columns]
    meta = [F.lit(None).cast("string").alias("_change_type"),
            F.lit(None).cast("long").alias("_commit_seq")]
    parts: list[DataFrame] = []
    for e in ins_entries:
        parts.append(
            _decode_view(spark, readview.runs_view(output_dir, [e["run"]],
                                                   entries), all_cols, spec)
            .withColumn("_change_type", F.lit("insert"))
            .withColumn("_commit_seq", F.lit(int(e["seq"])).cast("long")))
    for e in del_entries:
        dk = spark.read.schema(spec.spark_ddl([spec.key])).parquet(
            f"{_deletes_path(output_dir)}/run={e['run']}")
        cols = [F.col(spec.key).alias(c.name) if c.name == spec.key
                else F.lit(None).cast(c.spark_type).alias(c.name)
                for c in spec.columns]
        parts.append(
            dk.select(*cols)
            .withColumn("_change_type", F.lit("delete"))
            .withColumn("_commit_seq", F.lit(int(e["seq"])).cast("long")))
    if not parts:
        empty = spark.createDataFrame([], spec.spark_ddl(all_cols))
        return empty.select("*", *meta).filter(F.lit(False))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


def verify_output(spark: SparkSession, output_dir: str) -> dict:
    """Structural audit of a frozen output (fsck / Iceberg verify analog).

    Cross-checks the four metadata surfaces against each other and the
    encoded files (every committed-name file on disk, orphans included,
    key columns only) — metadata-column reads, no payload decode:

    - every chunk live at the head (readview.read_view) has its encoded
      rows (missing payload = corruption, ``n_missing_payload``);
    - encoded rows without a manifest row are orphans (invisible by
      design — reported, not an error, ``n_orphan_rows``);
    - tombstones (any writer's) must target rows that exist in the
      manifest (``n_dangling_tombstones``);
    - every data/delete run named by the snapshot log must have its
      manifest dir / delete files (``missing_runs``/
      ``missing_delete_runs``) unless vacuum recorded its removal;
    - duplicate ok rows for one (run, chunk, column) would decode a
      chunk twice (``n_duplicate_rows``);
    - failed chunks are counted (informational — resume retries them).

    Returns a dict with ``status`` 'ok' (clean), 'warn' (only
    informational findings) or 'corrupt'.
    """
    report: dict = {}
    view = readview.read_view(output_dir, strict=False)
    man = _manifest_df(spark, view, raw=True)
    if man is None:
        report.update(status="ok", empty=True)
        return report
    keys4 = ["run", "partition_id", "chunk_id", "column"]
    ok = man.filter(F.col("status") == "ok").select(*keys4)
    store = readview._Store(output_dir)
    enc = _scan_encoded(spark, [f for r in sorted(store.run_dirs("encoded"))
                                for f in store.encoded_files(r)], keys4[1:])
    # missing payload is corruption only for chunks LIVE at the head: a
    # retired chunk keeps its (append-only) manifest row while vacuum
    # legitimately reclaims its bytes, and a chunk of a rolled-back run
    # is no reader's concern — the read view decides, as for every read
    live = _live_chunks(spark, view, man)
    ok_live = ok.join(F.broadcast(live),
                      ["run", "partition_id", "chunk_id"], "left_semi")
    report["n_missing_payload"] = ok_live.join(
        enc, keys4, "left_anti").count()
    report["n_orphan_rows"] = enc.join(ok, keys4, "left_anti").count()
    report["n_duplicate_rows"] = (
        ok.groupBy(*keys4).count().filter(F.col("count") > 1).count())
    ts = readview.tombstones(spark, view, every=True)
    report["n_dangling_tombstones"] = 0 if ts is None else ts.join(
        man.select("run", "partition_id", "chunk_id").distinct(),
        ["run", "partition_id", "chunk_id"], "left_anti").count()
    report["n_failed_chunks"] = man.filter(
        F.col("status") != "ok").select("run", "chunk_id").distinct().count()
    entries = snapshots.log(output_dir)
    man_runs = {r["run"] for r in man.select("run").distinct().collect()}
    # a zero-survivor purge commits an EMPTY manifest (no rows, but the
    # run dir + _SUCCESS exist) — such entries record n_new_chunks=0 in
    # the log, and ONLY those may satisfy the check via a bare run dir.
    # An append/rewrite whose manifest parquet was lost (dir present,
    # rows gone) must still read as corrupt, so the dir-based exemption
    # is gated on the recorded chunk count, not on the entry kind.
    man_dirs = view.manifest_dirs | view.absorbed
    report["missing_runs"] = sorted(
        e["run"] for e in entries
        if e["kind"] in ("append", "rewrite", "purge") and e["run"]
        and e["run"] not in man_runs
        and not (e.get("n_new_chunks") == 0 and e["run"] in man_dirs)
    )
    report["missing_delete_runs"] = sorted(
        e["run"] for e in entries
        if e["kind"] == "delete" and e["run"]
        and not os.path.isdir(
            f"{_deletes_path(output_dir)}/run={e['run']}")
    )
    # live runs whose payload bytes are gone without a vacuum record
    live_runs = {r["run"] for r in live.select("run").distinct().collect()}
    report["unaccounted_missing_dirs"] = sorted(
        live_runs - view.files.keys() - view.vacuumed)
    errors = (
        report["n_missing_payload"] or report["n_duplicate_rows"]
        or report["missing_runs"] or report["missing_delete_runs"]
        or report["unaccounted_missing_dirs"]
        or report["n_dangling_tombstones"]
    )
    warns = report["n_orphan_rows"] or report["n_failed_chunks"]
    report["status"] = "corrupt" if errors else ("warn" if warns else "ok")
    return report


_KMV_P = 2_147_483_647   # Mersenne prime 2^31-1: portable mod arithmetic
_KMV_A = 1_103_515_245   # classic LCG multiplier < P: disperses small/dense
                         # domains across [0,P) (a small multiplier never
                         # wraps for small keys and the k-th order statistic
                         # then wildly over-estimates)
_KMV_K = 256


def analyze(
    spark: SparkSession,
    output_dir: str,
    columns: list[str] | None = None,
    k: int = _KMV_K,
    spec: TableSpec | None = None,
    as_of: int | str | None = None,
) -> dict:
    """Per-column NDV statistics via KMV sketches — the Iceberg
    ANALYZE TABLE / puffin theta-sketch analog, on demand.

    One decode pass; a mapInArrow kernel emits each partition's k
    smallest DISTINCT value hashes per column (map-side combine: the
    exchange carries <= k rows per partition per column, never the
    values), then the k smallest overall give the Bar-Yossef et al.
    estimate |D| ~ (k-1) * P / h_k — exact when fewer than k distinct
    hashes exist. Hashing is deterministic mod-prime arithmetic
    (((v % P) * A + 11) % P, products bounded below 2^62 so the
    arithmetic is exact int64 in BOTH engines), so a replay pins the exact
    sketch STATE — the portability HLL registers cannot offer.
    Covered columns: int scalars, int-list ELEMENTS (vocabulary size),
    and the key (via its numeric form). String non-key columns use an
    exact distinct count instead (their NDV is tiny by construction —
    source/partition labels). Results persist to <output>/stats/ndv.json
    (tmp+rename) and return as a dict.
    """
    from . import layout as layout_mod

    spec = spec or load_output_spec(output_dir) or SEQUENCES
    all_cols = [c.name for c in spec.columns]
    cols = all_cols if columns is None else [c for c in all_cols
                                             if c in set(columns)]
    sk_cols: list[str] = []     # KMV-sketchable
    exact_cols: list[str] = []  # exact countDistinct (tiny domains)
    for name in cols:
        c = spec.col(name)
        if c.is_list and c.item_dtype.kind in "iu":
            sk_cols.append(name)
        elif not c.is_list and c.kind in ("int32", "int64"):
            sk_cols.append(name)
        elif name == spec.key and spec.name == SEQUENCES.name:
            sk_cols.append(name)  # numeric key form (layout.key_nums)
        elif c.kind in ("str", "timestamp"):
            # domains with no int64 numeric form in the KMV kernel
            # (incl. free-form str keys, tz-free timestamps): exact
            # distinct count — a str KEY falls here too, where NDV ==
            # row count anyway
            exact_cols.append(name)
    df = collect(spark, output_dir, columns=cols, spec=spec, as_of=as_of)
    out: dict[str, dict] = {}
    if sk_cols:
        kk, key_name = int(k), spec.key
        spec_d, sk_names = spec.to_dict(), list(sk_cols)
        p, a = _KMV_P, _KMV_A

        def kernel(batches):
            import numpy as np
            import pyarrow as pa

            from cryo_spark import layout as lm
            from cryo_spark import tablespec as tsm

            spec_l = tsm.TableSpec.from_dict(spec_d)
            best: dict[str, np.ndarray] = {}
            for b in batches:
                t = pa.Table.from_batches([b])
                if t.num_rows == 0:
                    continue
                for name in sk_names:
                    c = spec_l.col(name)
                    if name == key_name and c.kind == "str":
                        vals = lm.key_nums(t, spec_l)
                    elif c.is_list:
                        arr = t.column(name).combine_chunks()
                        vals = arr.flatten().to_numpy(
                            zero_copy_only=False).astype(np.int64)
                    else:
                        vals = t.column(name).combine_chunks().fill_null(0) \
                            .to_numpy(zero_copy_only=False).astype(np.int64)
                    if not len(vals):
                        continue
                    hv = np.unique(((vals % p) * a + 11) % p)[:kk]
                    prev = best.get(name)
                    best[name] = (hv if prev is None
                                  else np.unique(np.concatenate([prev, hv]))[:kk])
            names, hvs = [], []
            for name, hv in best.items():
                names.extend([name] * len(hv))
                hvs.append(hv)
            if names:
                yield pa.RecordBatch.from_arrays(
                    [pa.array(names, pa.string()),
                     pa.array(np.concatenate(hvs))],
                    names=["column", "hv"])

        sk = amap(df.select(*sk_cols), kernel, "column string, hv long")
        sk = sk.localCheckpoint()  # ONE pass feeds every column finish
        for name in sk_cols:
            rows = (sk.filter(F.col("column") == name).select("hv")
                    .distinct().orderBy("hv").limit(kk).collect())
            n_h = len(rows)
            if n_h == 0:
                out[name] = dict(method="kmv", k=0, kth_hash=None,
                                 ndv=0.0)
            elif n_h < kk:
                out[name] = dict(method="kmv", k=n_h,
                                 kth_hash=int(rows[-1]["hv"]),
                                 ndv=float(n_h))
            else:
                hk = int(rows[-1]["hv"])
                # floor division: the estimate is an exact integer in
                # any engine (no float-rounding portability hazard)
                out[name] = dict(method="kmv", k=kk, kth_hash=hk,
                                 ndv=float((kk - 1) * _KMV_P // hk))
    if exact_cols:
        aggs = [F.countDistinct(c).alias(c) for c in exact_cols]
        row = df.agg(*aggs).first()
        for c in exact_cols:
            out[c] = dict(method="exact", ndv=float(row[c]))
    import json
    import os
    import tempfile

    stats_dir = os.path.join(output_dir, "stats")
    os.makedirs(stats_dir, exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=stats_dir, suffix=".tmp")
    with os.fdopen(fd, "w") as f:
        json.dump(dict(k=int(k), p=_KMV_P, columns=out), f, indent=1)
    os.replace(tmp, os.path.join(stats_dir, "ndv.json"))
    return out


def describe(spark: SparkSession, output_dir: str,
             as_of: int | str | None = None) -> DataFrame:
    """Per-column storage summary of a frozen output (metadata only).

    One aggregation over the manifest — chunk count, codec histogram,
    encoded/raw bytes and the compression ratio per column; the
    .files/.partitions metadata-table idiom. Honors ``as_of``.
    """
    man = read_manifest(spark, output_dir, as_of=as_of)
    if man is None:
        return spark.createDataFrame(
            [], "column string, n_chunks long, codecs string, "
                "enc_bytes long, raw_bytes long, ratio double")
    ok = man.filter(F.col("status") == "ok")
    return (
        ok.groupBy("column", "codec_id")
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum("enc_bytes").alias("eb"),
             F.sum("raw_bytes").alias("rb"))
        .groupBy("column")
        .agg(
            F.sum("n").cast("long").alias("n_chunks"),
            F.array_join(
                F.array_sort(F.collect_list(
                    F.concat_ws(":", "codec_id", F.col("n").cast("string"))
                )), ",").alias("codecs"),
            F.sum("eb").cast("long").alias("enc_bytes"),
            F.sum("rb").cast("long").alias("raw_bytes"),
            (F.sum("eb") / F.sum("rb")).cast("double").alias("ratio"),
        )
        .orderBy("column")
    )


def upsert(
    spark: SparkSession,
    output_dir: str,
    input_path: str | DataFrame,
    target_tokens: int = layout.DEFAULT_TARGET_TOKENS,
    spec: TableSpec = SEQUENCES,
) -> dict:
    """MERGE by key (copy-on-write): replace matching rows, insert the rest.

    The Iceberg ``MERGE INTO ... WHEN MATCHED UPDATE / NOT MATCHED
    INSERT`` shape for full-row upserts. Only chunks that can contain a
    batch key are rewritten (zone-map range join + key blooms,
    _affected_chunks); their surviving rows union the batch into ONE
    new run whose manifest commit atomically retires the originals —
    readers flip from old rows to the merged state in one step, and
    time travel to the pre-upsert snapshot still shows the old values.
    The rewrite is :func:`_rewrite`'s; the batch weight its plan bound
    adds is summed in the validation aggregate, and ``n_updated`` is
    the affected chunks' manifest ``n_rows`` less the surviving rows.

    Pending merge-on-read deletes are purged first: an equality-delete
    key would otherwise mask a re-inserted row (our delete runs carry
    no sequence numbers — the documented simplification vs Iceberg's
    sequence-numbered delete files).

    The batch must be key-unique (validated); re-running a crashed
    upsert is safe — death before the manifest write leaves everything
    invisible (orphan discipline), after it the merge is complete.
    """
    t_start = time.perf_counter()
    batch = (input_path if isinstance(input_path, DataFrame)
             else spark.read.parquet(input_path))
    all_cols = [c.name for c in spec.columns]
    batch = batch.select(*all_cols)
    n_batch, n_batch_keys, w_batch = batch.agg(
        F.count(F.lit(1)), F.countDistinct(spec.key),
        F.sum(layout.weight_expr(spec))).first()
    if n_batch == 0:
        return dict(snapshot=None, run=None, n_updated=0, n_inserted=0,
                    n_rewritten=0, wall_s=time.perf_counter() - t_start)
    if n_batch != n_batch_keys:
        raise ValueError(
            f"upsert batch has duplicate keys ({n_batch} rows, "
            f"{n_batch_keys} distinct {spec.key})")
    view = readview.read_view(output_dir)
    if view.deletes:
        purge_deletes(spark, output_dir, target_tokens, spec)
        view = readview.read_view(output_dir)
    man = _manifest_df(spark, view)
    if man is None:
        # empty table: the merge degenerates to a plain freeze append
        summary = freeze(spark, input_path, output_dir,
                         target_tokens=target_tokens, spec=spec) \
            if not isinstance(input_path, DataFrame) else None
        if summary is not None:
            return dict(snapshot=summary["snapshot"], run=summary["run"],
                        n_updated=0, n_inserted=n_batch,
                        n_rewritten=0, wall_s=time.perf_counter() - t_start)
        raise ValueError("upsert into an empty output needs a parquet "
                         "input path (or freeze the DataFrame first)")
    bkeys = batch.select(spec.key).localCheckpoint()
    affected = _affected_chunks(spark, view, man, bkeys, spec)
    # the surviving rows union the batch
    return _rewrite(
        spark, view, affected, target_tokens, spec, "rewrite", "upsert",
        t_start, lambda n_dropped: dict(
            n_updated=n_dropped, n_inserted=n_batch - n_dropped,
            n_rewritten=affected.num_rows),
        transform=lambda rows: (rows.join(bkeys, spec.key, "left_anti")
                                .unionByName(batch)),
        added=(n_batch, int(w_batch or 0)))


def _affected_chunks(spark: SparkSession, view: readview.ReadView,
                     man: DataFrame, keys_df: DataFrame,
                     spec: TableSpec) -> pa.Table:
    """Live chunks that can contain any of the given key values, as a
    driver-held arrow table: (run, partition_id, chunk_id) with each
    chunk's payload manifest ``n_rows`` and ``n_values``.

    Zone-map range join first (numeric compare when the key has a
    numeric form; the manifest stores str(key), so generic string keys
    compare lexicographically — exact for membership-in-range checks);
    for bounded key sets the per-chunk key blooms then cut the hash
    layout's everything-matches ranges down to the true containers
    (+~1% FP). The keys side is the small one throughout. The selected
    ok payload rows (one per chunk of a live run) are collected once,
    and the driver drops the retired ones with the view's drop bitmaps
    (``readview.live_rows``), as :func:`_decode_view` cuts ``keep``.
    """
    payload_col = spec.list_column or spec.key
    try:
        k_num = _key_expr(spec)
        kmin_e = _manifest_key_num("min_doc_id", spec)
        kmax_e = _manifest_key_num("max_doc_id", spec)
    except ValueError:
        k_num = F.col(spec.key).cast("string")
        kmin_e, kmax_e = F.col("min_doc_id"), F.col("max_doc_id")
    chosen = ["run", "partition_id", "chunk_id", "n_rows", "n_values"]
    affected = (
        man.filter((F.col("status") == "ok")
                   & (F.col("column") == payload_col))
        .select(*chosen, kmin_e.alias("kmin"), kmax_e.alias("kmax"))
        .join(F.broadcast(keys_df.select(k_num.alias("kq"))),
              (F.col("kq") >= F.col("kmin"))
              & (F.col("kq") <= F.col("kmax")), "left_semi")
        .select(*chosen)
    )
    probe = keys_df.limit(_BLOOM_PRUNE_MAX_KEYS + 1).collect()
    if len(probe) <= _BLOOM_PRUNE_MAX_KEYS:
        bk = _bloom_chunk_keys(read_bloom_stats(spark, view),
                               [str(r[0]) for r in probe], spec)
        if bk is not None:
            affected = affected.join(bk, ["run", "partition_id", "chunk_id"],
                                     "left_semi")
    return readview.live_rows(view, affected.toArrow())


def purge_deletes(
    spark: SparkSession,
    output_dir: str,
    target_tokens: int = layout.DEFAULT_TARGET_TOKENS,
    spec: TableSpec = SEQUENCES,
) -> dict:
    """Physically apply the visible equality deletes (copy-on-write).

    ``delete_where`` is merge-on-read: every read pays the anti-join
    until the deleted rows stop existing. This is the major-compaction
    step that ends that: chunks whose key range can contain a deleted
    key are decoded, the deleted rows dropped, the survivors re-encoded
    as one new run; the originals retire via tombstones and the delete
    runs leave the merge-on-read set in the SAME snapshot (kind
    'purge'), so reads flip atomically from filtered-old-chunks to
    clean-new-chunks — Iceberg's rewrite_data_files +
    rewrite_position_delete_files pair in one commit. Untouched chunks
    (key range disjoint from every deleted key) are not rewritten or
    even read. The rewrite is :func:`_rewrite`'s: ``n_purged_rows`` is
    the affected chunks' manifest ``n_rows`` less the surviving rows,
    and a rewrite where none survives commits its empty run (Iceberg's
    rewrite that adds zero files and deletes N).
    """
    t_start = time.perf_counter()
    no_op = dict(snapshot=None, run=None, n_rewritten=0, n_purged_rows=0,
                 wall_s=0.0)
    view = readview.read_view(output_dir)
    if not view.deletes:
        return no_op
    man = _manifest_df(spark, view)
    if man is None:
        return no_op
    purged = sorted(view.deletes)
    dk = _delete_keys(spark, view, spec)
    affected = _affected_chunks(spark, view, man, dk, spec)
    if affected.num_rows == 0:
        # keys match nothing physical (already purged / never existed):
        # still retire the delete runs so reads stop anti-joining
        snap = snapshots.commit(output_dir, None, "purge",
                                purged_deletes=purged)
        return dict(snapshot=snap, run=None, n_rewritten=0, n_purged_rows=0,
                    wall_s=time.perf_counter() - t_start)
    # the rows as stored, the purged deletes anti-joined
    return _rewrite(
        spark, view, affected, target_tokens, spec, "purge", "purge_deletes",
        t_start, lambda n_dropped: dict(n_rewritten=affected.num_rows,
                                        n_purged_rows=n_dropped),
        transform=lambda rows: rows.join(dk, spec.key, "left_anti"),
        purged_deletes=purged)


def _rewrite(spark: SparkSession, view: readview.ReadView, chosen: pa.Table,
             target_tokens: int, spec: TableSpec, kind: str, command: str,
             t_start: float, fields, transform=None,
             added: tuple[int, int] = (0, 0), shrink: bool = False,
             report: dict | None = None, **log) -> dict | None:
    """Rewrite the ``chosen`` live chunks as one new run that retires
    them: the one rewrite path of :func:`compact`, :func:`upsert` and
    :func:`purge_deletes`. ``chosen`` is held on the driver: (run,
    partition_id, chunk_id) with each chunk's payload manifest
    ``n_rows`` and ``n_values``. ``transform`` (DataFrame -> DataFrame)
    turns the chunks' rows into the run's rows, adding ``added`` =
    (rows, plan weight). In order:

    1. decode the chunks from the stored view (no deletes applied);
    2. checkpoint the rows in the job that also sums their plan
       (``layout.PlanTap``: in the decode kernel, or as a pass-through
       kernel over the transformed rows);
    3. plan; with ``shrink``, return None unless the plan has fewer
       chunks than ``chosen``;
    4. commit through :func:`_write_run`, ``chosen`` as the tombstones,
       logging ``n_retired``, ``n_new_chunks``, ``command`` and ``log``;
    5. write the report: ``report`` plus the summary, the command's
       ``fields(n_dropped)`` (the rows of ``chosen`` and ``added`` the
       checkpoint lacks) with snapshot, run, n_new_chunks and wall_s.

    The tap's bucket count comes from a bound on the weight: the chosen
    payload ``n_values`` plus the added weight when the spec's footer
    statistic is the payload column (exact without a transform), else
    ``layout.weight_total`` over the rows (one job). Up to 16 target
    chunks of it that is 256 buckets, as for the exact total; a larger
    transformed rewrite may plan coarser buckets than ``plan_chunks``
    would. A rewrite that keeps no row commits its empty run: no
    encoded file, the empty plan's ``plan_id``.
    """
    payload_col = spec.list_column or spec.key
    stored = dataclasses.replace(view, deletes=frozenset())
    keep = readview.bitmaps(chosen)

    def decoded(tap=None) -> DataFrame:
        return _decode_view(spark, stored, None, spec, keep, tap=tap)

    rows = None if transform is None else transform(decoded()).select(
        *[c.name for c in spec.columns])
    total = (int(pc.sum(chosen.column("n_values")).as_py() or 0) + added[1]
             if spec.footer_stat_col == payload_col else
             layout.weight_total(decoded() if rows is None else rows, spec))
    tap = layout.PlanTap(spark, total, target_tokens, spec)
    rows = (decoded(tap.kernel) if rows is None else
            amap(rows, tap.kernel, spec.spark_ddl())).localCheckpoint()
    # read before the write job, which may recompute a lost checkpoint
    # block and so re-run the tap
    plan, n_kept = tap.plan(), tap.n_rows
    if shrink and plan.n_chunks >= chosen.num_rows:
        return None
    run_id = _new_run_id()
    res = _write_run(spark, view.output_dir, run_id,
                     _packed(rows, plan, spec=spec), plan, spec, kind,
                     retired=chosen, n_retired=chosen.num_rows,
                     n_new_chunks=plan.n_chunks, command=command, **log)
    n_chosen = int(pc.sum(chosen.column("n_rows")).as_py() or 0)
    summary = dict(snapshot=res["snapshot"], run=run_id,
                   **fields(n_chosen + added[0] - n_kept),
                   n_new_chunks=plan.n_chunks,
                   wall_s=time.perf_counter() - t_start)
    _write_report(view.output_dir, run_id, dict(
        version="cryo_spark 0.1.0", status="completed", command=command,
        **(report or {}), **summary))
    return summary


def _write_run(spark: SparkSession, output_dir: str, run_id: str,
               packed: DataFrame, plan: layout.ChunkPlan, spec: TableSpec,
               kind: str, retired: pa.Table | None = None,
               partition_by: list[str] | None = None, replace: bool = False,
               done_base: int | None = None, **log) -> dict:
    """Encode ``packed`` (:func:`_packed` rows of ``plan``) as run
    ``run_id`` and commit it: the one write path of :func:`freeze`,
    :func:`_rewrite` (compact, upsert, purge_deletes) and
    ``streaming.stream_encode``.

    One Spark job. Each task of the encode stage encodes its chunks and
    writes its own encoded file(s) and manifest part under hidden
    attempt names in ``encoded/run=<id>/`` (:func:`_write_task_files`),
    through pyarrow's filesystem for the output; it returns one commit
    row, so no payload byte travels back to the JVM. Spark keeps the
    rows of exactly one successful attempt per task. The driver then
    commits in order:

    1. renames the encoded files those rows name into place;
    2. writes the ``retired`` keys as the run's tombstone file;
    3. moves the manifest parts into ``manifest/run=<id>/`` and writes
       its ``_SUCCESS`` (:func:`_publish_manifest`);
    4. appends the snapshot-log entry — the commit.

    A task with no rows writes nothing, so a zero-chunk plan commits a
    run with no encoded file and a manifest dir holding only its
    ``_SUCCESS``. Death before step 4 leaves the run invisible. Files
    of other task attempts keep their hidden names, which no reader or
    Spark listing picks up; :func:`remove_orphans` deletes them.
    ``replace`` first clears the run's committed files: a replayed
    stream batch re-writes its run. The entry carries the ``plan_id``,
    the run's ok-chunk count ``n_ok_chunks`` (vacuum's bound) and,
    given ``done_base`` (the plan's chunks done before this run) and no
    failed chunk, ``plan_done_chunks``. Returns the snapshot seq, the run's summary
    sums and the job's wall ``write_s``.
    """
    store = readview._Store(output_dir)  # a bad scheme fails before the job
    plan_fp = _plan_fingerprint(plan)
    t0 = time.perf_counter()
    commits = amap(
        packed.repartition(_n_parts(spark, plan.n_chunks), "shuffle_key"),
        _write_kernel(store, run_id, plan_fp, spec, partition_by),
        _COMMIT_DDL).collect()
    write_s = time.perf_counter() - t0
    sums = {k: sum(int(r[k]) for r in commits)
            for k in ("tokens", "enc_bytes", "raw_bytes", "n_ok", "n_failed")}
    stage = f"encoded/run={run_id}"
    if replace:
        store.clear(stage)
        store.clear(f"manifest/run={run_id}")
    for r in commits:
        for f in r["files"]:
            store.rename(f"{stage}/{f}", f"{stage}/{_committed_name(f)}")
    if retired is not None and retired.num_rows:
        _write_tombstones(output_dir, run_id, retired)
    _publish_manifest(store, run_id, [r["manifest"] for r in commits])
    done = ({} if done_base is None or sums["n_failed"] else
            {"plan_done_chunks": done_base + sums["n_ok"]})
    snap = snapshots.commit(output_dir, run_id, kind, plan_id=plan_fp,
                            n_ok_chunks=sums["n_ok"], **done, **log)
    return dict(snapshot=snap, write_s=write_s, **sums)


def _publish_manifest(store: readview._Store, run_id: str,
                      parts: list[str]) -> None:
    """Move run ``run_id``'s staged manifest ``parts`` into
    ``manifest/run=<id>/`` and write its ``_SUCCESS`` marker (the
    log-less liveness rule, readview)."""
    for p in parts:
        store.rename(f"encoded/run={run_id}/{p}",
                     f"manifest/run={run_id}/{_committed_name(p)}")
    store.write_bytes(f"manifest/run={run_id}/_SUCCESS", b"")


def _write_tombstones(output_dir: str, run_id: str, keys: pa.Table) -> None:
    """Write the (run, partition_id, chunk_id) ``keys`` run ``run_id``
    retires as its one tombstone file, from the driver: no Spark job,
    and the file lands whole (readview._Store.write_bytes renames a tmp
    file into place), so a reader never sees a partial one."""
    import io

    import pyarrow.parquet as _pq

    buf = io.BytesIO()
    _pq.write_table(keys.select(["run", "partition_id", "chunk_id"])
                    .rename_columns(["target_run", "partition_id",
                                     "chunk_id"]), buf)
    readview._Store(output_dir).write_bytes(
        f"tombstones/run={run_id}/part-00000.parquet", buf.getvalue())


def _new_run_id() -> str:
    """Mint a run id that can never be mistaken for a number.

    uuid4().hex[:12] occasionally produces all-digits-plus-one-'e'
    strings ('622402893e04') that Spark's partition-value type
    inference parses as scientific-notation DOUBLEs when the run= dir
    is read back: the `run` column then carries a double where every
    consumer declares a string — an executor-side UNSUPPORTED_CALL
    (getUTF8String on a double accessor) when a kernel echoes it, or a
    silently missing run in verify_output. A leading letter makes the
    dir name structurally non-numeric.
    """
    return "r" + uuid.uuid4().hex[:11]


def read_manifest(spark: SparkSession, output_dir: str,
                  as_of: int | str | None = None,
                  raw: bool = False) -> DataFrame | None:
    """Manifest rows of the runs live at ``as_of`` (default head).

    A run is live iff the snapshot log replayed to ``as_of`` names it;
    an output without a log (non-local store, hand-built dir) counts a
    run live iff its manifest dir carries ``_SUCCESS`` (readview — the
    one liveness rule). So later appends, rolled-back runs, other
    branches' runs and a manifest whose log commit never landed all
    drop out, which is what makes every downstream read
    snapshot-isolated. Chunks retired by tombstones keep their rows
    (the manifest is append-only history; :func:`read_encoded` and
    :func:`decode_frozen` skip them). ``raw=True`` returns every
    manifest row on disk instead (filesystem truth — audit's view).
    None when nothing was ever committed.
    """
    return _manifest_df(spark, readview.read_view(output_dir, as_of,
                                                  strict=False), raw)


def _manifest_df(spark: SparkSession, view: readview.ReadView,
                 raw: bool = False) -> DataFrame | None:
    """The view's manifest rows: the consolidated generation (``run`` is
    an ordinary column there) plus the per-run dirs it has not absorbed
    (a dir the consolidate commit absorbed but did not yet delete must
    not count twice), both read under ``MANIFEST_DDL``: building the
    frame starts no job. The run dirs are named, so Spark lists nothing
    else, and their ``run=`` segments still become the ``run`` column."""
    man_path = _manifest_path(view.output_dir)
    dirs = view.manifest_dirs - view.absorbed
    if not raw:
        dirs &= view.runs
    legs = []
    if view.manifest_gen is not None:
        # a gen the log references but whose bytes are gone is metadata
        # corruption — raise rather than silently dropping every
        # absorbed run's manifest
        try:
            legs.append(spark.read.schema(MANIFEST_DDL)
                        .parquet(view.manifest_gen))
        except Exception as e:
            raise ValueError(
                f"manifest generation {view.manifest_gen!r} referenced by "
                "the snapshot log is unreadable") from e
    if dirs:
        legs.append(spark.read.schema(MANIFEST_DDL)
                    .option("basePath", man_path)
                    .parquet(*[f"{man_path}/run={r}" for r in sorted(dirs)]))
    if not legs:
        return None
    man = legs[0]
    for leg in legs[1:]:
        man = man.unionByName(leg)
    if not raw and view.manifest_gen is not None:
        man = man.filter(F.col("run").isin(sorted(view.runs)))
    return man


def _as_view(source: str | readview.ReadView,
             as_of: int | str | None = None) -> readview.ReadView:
    return (source if isinstance(source, readview.ReadView)
            else readview.read_view(source, as_of))


def read_encoded(spark: SparkSession, source: str | readview.ReadView,
                 as_of: int | str | None = None) -> DataFrame:
    """Live chunks only: undecoded encoded rows of the snapshot's live
    runs whose chunk has an ok manifest row and no live tombstone, read
    by the file scan of the view's file groups (:func:`_scan_encoded`).
    ``source`` is a read view, or an output dir read at ``as_of``.

    A run that died before its commit leaves orphan files that no read
    view lists; the manifest semi-join (:func:`_live_chunks`, not the
    decode kernel's drop bitmaps, so ``decode(read_encoded(...))`` stays
    an independent reference) drops encoded rows a manifest does not
    vouch for — the atomicity discipline of the reference's tmp-rename
    (/root/reference/crates/freeze/src/types/dataframes/export.rs:13-23)
    done relationally. ``as_of`` raises if vacuum already deleted the
    snapshot's bytes.
    """
    view = _as_view(source, as_of)
    man = _manifest_df(spark, view)
    groups = view.file_groups()
    if man is None or not groups:
        # an empty-input freeze commits nothing: no encoded dir is a
        # valid (empty) output, not an error
        return spark.createDataFrame([], ENCODED_RUN_DDL)
    enc = _scan_encoded(spark, groups, _ENCODED_PA_SCHEMA.names)
    return enc.join(F.broadcast(_live_chunks(spark, view, man)),
                    ["run", "partition_id", "chunk_id"], "left_semi")


def _live_chunks(spark: SparkSession, view: readview.ReadView,
                 man: DataFrame) -> DataFrame:
    """Distinct (run, partition_id, chunk_id) of the view's live chunks
    in ``man``: an ok row in a live run, not retired by a live writer's
    tombstone (readview.tombstones, anti-joined)."""
    keys = man.filter(
        (F.col("status") == "ok") & F.col("run").isin(sorted(view.runs))
    ).select("run", "partition_id", "chunk_id").distinct()
    ts = readview.tombstones(spark, view)
    if ts is not None:
        keys = keys.join(F.broadcast(ts),
                         ["run", "partition_id", "chunk_id"], "left_anti")
    return keys


def _done_chunk_bitmap(man: DataFrame, n_chunks: int) -> np.ndarray:
    """Fold the manifest's committed chunk ids into a packed bitset.

    The fold runs executor-side (mapInArrow, one blob per partition, the
    scan coalesced to one wave of tasks: :func:`_one_wave`) and
    the driver collects the blobs in ONE job (toLocalIterator would
    start a job per partition) and ORs them. Driver memory is the
    O(n_chunks/8)-byte result plus the sum of the compressed blobs
    (bounded below), never the manifest rows. At the 10^12-sequence
    target (~10^8 chunks) that is a 12 MB bitmap where a Python set of
    (partition_id, chunk_id) tuples would be ~10 GB.

    Blobs travel zlib-compressed: a partition's bitmap is mostly zeros
    (each chunk id is committed by exactly one partition), so total
    driver ingress is bounded by the SET-BIT entropy (~n_chunks/8 in
    aggregate across all blobs), not partitions x bitmap size — with
    raw blobs, 1000 manifest partitions at 10^8 chunks would ship
    1000 x 12.5 MB to the driver.
    """
    import zlib

    nbytes = (n_chunks + 7) // 8

    def fold(batches):
        import zlib

        import numpy as np
        import pyarrow as pa

        bits = np.zeros(nbytes, dtype=np.uint8)
        seen = False
        for b in batches:
            cid = b.column(0).to_numpy(zero_copy_only=False).astype(np.int64)
            cid = cid[(cid >= 0) & (cid < n_chunks)]
            if len(cid):
                seen = True
                np.bitwise_or.at(bits, cid >> 3,
                                 (np.uint8(1) << (cid & 7).astype(np.uint8)))
        if seen:
            yield pa.RecordBatch.from_arrays(
                [pa.array([zlib.compress(bits.tobytes(), 1)], pa.binary())],
                names=["bits"])

    out = np.zeros(nbytes, dtype=np.uint8)
    for row in amap(_one_wave(man.select("chunk_id")), fold,
                    "bits binary").collect():
        out |= np.frombuffer(zlib.decompress(row["bits"]), dtype=np.uint8)
    return out


def freeze(
    spark: SparkSession,
    input_path: str | DataFrame,
    output_dir: str,
    target_tokens: int = layout.DEFAULT_TARGET_TOKENS,
    overwrite: bool = False,
    dry_run: bool = False,
    keys: str | None = None,
    n_chunks: int | None = None,
    partition_by: list[str] | None = None,
    spec: TableSpec = SEQUENCES,
    chunk_by: str = "hash",
    branch: str | None = None,
    align_with: str | None = None,
    align_plan: str | None = None,
) -> dict:
    """Run the full encode job with skip-existing resume.

    ``input_path`` is a parquet path or an in-session DataFrame (the
    library shape of cryo's Python ``freeze(**kwargs)`` — an upstream
    transform's output freezes without a staging write). DataFrame
    inputs plan through the scan path: no parquet footers exist to read
    exact token sums from, so planning costs one aggregate over the
    frame instead.

    ``align_with`` reuses another frozen output's persisted chunk plan
    (the Iceberg "same partition spec on both tables" precondition for
    storage-partitioned joins): every key lands in the SAME chunk_id it
    has in the other output, so :func:`cryo_spark.colocated.join_frozen`
    can zip the two tables chunk-by-chunk with zero payload exchange.
    Only key-pure layouts align (hash, range) — a z-order plan places a
    row by its weight VALUE too, which differs between tables.

    ``chunk_by='range'`` plans key-range chunks (the reference's
    number_chunk semantics) instead of hash buckets: per-chunk manifest
    key ranges come out tight and disjoint, so key-range reads prune
    exactly; ``chunk_by='zorder'`` interleaves the key with the scalar
    weight column (Morton order — Iceberg rewrite_data_files
    z-ordering), so zone maps prune reads filtered on EITHER column
    (key ranges AND length filters); hash (default) stays the
    balance-first layout for append-heavy tables.

    ``branch`` commits the run to that snapshot branch (snapshots.py):
    invisible to main readers until ``snapshots.publish``; branch reads
    use ``as_of='branch:<name>'``. Resume on a branch counts chunks
    done at the BRANCH head (base runs inherited from the anchor plus
    earlier branch runs).

    ``overwrite=True`` REPLACES: previously visible chunks retire via
    tombstones committed atomically with the new run (kind 'rewrite'
    in the snapshot log; time travel below it sees the originals,
    vacuum later reclaims them). A ranged (``keys=``) overwrite
    retires only chunks of the same plan — re-freezing one range never
    drops data outside it; replacing content whose plan changed (input
    rewritten in place) needs a full-table overwrite or delete/purge.

    Returns a summary dict (cryo's FreezeSummary analog,
    /root/reference/crates/freeze/src/types/summaries.rs:21-31).
    ``partition_by`` nests the encoded files in one directory per value
    of the given encoded-table key columns (e.g. ``["partition_id"]``,
    one dir per source).

    Resume (skip-existing) folds the done chunks of this plan from the
    live manifest rows into a bitmap (:func:`_done_chunk_bitmap`). The
    snapshot log gates that job: every writer stamps its plan_id into
    its log entry, so unless a live run's entry names this plan (or
    carries none: a run adopted from marker commits, a log-less output)
    the bitmap is all zeros by construction and no job runs. A freeze
    run with no failed chunk also stamps ``plan_done_chunks``, the count
    of its plan's chunks holding manifest rows once it committed: while
    the bitmap still counts that many, the plan is complete and a
    re-freeze encodes nothing. Planned chunks that received no rows (a
    salted span's) never get a manifest row, so without it every
    re-freeze would count them missing and commit an empty run.
    Manifest reads use the declared ``MANIFEST_DDL``, so none starts a
    schema-inference job.

    The write is one Spark job whose encode tasks write their own files
    with pyarrow, plus the driver's commit (:func:`_write_run`). A
    ``://`` output whose scheme pyarrow cannot open fails before any
    job runs.

    ``dry_run`` plans and reports without executing (cryo's --dry-run,
    /root/reference/crates/freeze/src/freeze.rs:44-46). A JSON report
    is written per run — incomplete first, finalized after, like the
    reference's report lifecycle
    (/root/reference/crates/freeze/src/types/reports.rs:51-89).
    """
    from . import sources

    t_start = time.perf_counter()
    if "://" in output_dir:
        readview._Store(output_dir)  # a scheme pyarrow cannot open fails first
    input_df = input_path if isinstance(input_path, DataFrame) else None
    input_desc = "<dataframe>" if input_df is not None else input_path
    if branch is not None:
        # fail fast on an unknown branch (branching requires an existing
        # output with a snapshot log)
        snapshots.resolve(output_dir, f"branch:{branch}")
    key_df = None
    if keys is not None:
        # Key-range freeze (the reference's block-range requests): the
        # predicate goes through the Catalyst scan path so the range
        # bounds reach parquet as a pushed filter; planning and encode
        # both see only the requested rows. Int-keyed specs push the
        # numeric predicate directly; the sequences string key rides
        # its zero-padded envelope.
        from . import ranges

        raw = input_df if input_df is not None \
            else spark.read.parquet(input_path)
        key_chunks = _parse_keys(
            keys, lambda: raw.agg(F.max(_key_expr(spec))).first()[0])
        key_df = raw.filter(
            ranges.key_predicate(key_chunks, _key_expr(spec),
                                 **_key_envelope(spec))
        )
    use_arrow = (key_df is None and input_df is None
                 and sources.supports(input_path))
    if key_df is None and input_df is not None:
        key_df = input_df  # downstream: "the frame to plan/encode from"
    if align_with is not None:
        if keys is not None or n_chunks is not None or chunk_by != "hash":
            raise ValueError(
                "align_with reuses the other output's plan verbatim; "
                "keys/n_chunks/chunk_by cannot be combined with it")
        plan = load_output_plan(align_with, plan_id=align_plan)
        if plan is None:
            raise ValueError(
                f"align_with: no persisted chunk plan under {align_with!r} "
                "(output predates plan persistence, or has multiple "
                "plans — pass align_plan=<plan_id> to pick one)")
        if plan.layout == "zorder":
            raise ValueError(
                "align_with: z-order plans place rows by weight value, "
                "which differs between tables — only key-pure layouts "
                "(hash, range) can align")
    elif use_arrow and spec.footer_stat_col is not None and chunk_by == "hash":
        plan = layout.plan_chunks_arrow(spark, input_path, target_tokens,
                                        n_chunks=n_chunks, spec=spec)
    else:
        # scalar-weight specs have no exact footer sum statistic, and
        # range layout needs a per-source bounds agg: plan via the scan
        # path (the encode stage still uses the arrow scan)
        plan = layout.plan_chunks(
            key_df if key_df is not None else spark.read.parquet(input_path),
            target_tokens, n_chunks=n_chunks, spec=spec, layout=chunk_by)
    # Relational resume: planned chunk ids are exactly [0, n_chunks) (the
    # sweep numbers them contiguously, layout.py); done-ness comes back
    # from the manifest as a packed bitmap folded executor-side — no
    # driver-side key sets (SURVEY §7's anti-join, in bitmap form).
    # Chunk ids are PLAN-relative, so only manifest rows from runs of the
    # SAME plan may mark a chunk done: two --keys ranges frozen into one
    # output dir both start numbering at 0, and an unscoped bitmap makes
    # the second run silently skip chunks the first one encoded (measured:
    # 18 of 19 chunks of a disjoint key range dropped). plan_id is a
    # fingerprint of the full chunk mapping, so it also changes when the
    # input itself changed enough to move chunk boundaries. Every writer
    # stamps its plan_id into its log entry too, so the bitmap job runs
    # only when a live run can hold this plan's rows (or a run's entry
    # predates the stamp: None); otherwise it is all zeros by
    # construction.
    plan_fp = _plan_fingerprint(plan)
    done_bits: np.ndarray | None = None
    n_done = 0
    retire_keys = None
    view = readview.read_view(
        output_dir, None if branch is None else f"branch:{branch}",
        strict=False)
    # the manifest frame is built only when its rows decide something:
    # an overwrite's retirements, or a resume the log lets through. An
    # append of a new plan lists no manifest dir at all.
    resume = not overwrite and bool({plan_fp, None} & view.plan_ids)
    man = _manifest_df(spark, view) if overwrite or resume else None
    if overwrite:
        # overwrite REPLACES, it does not pile on: previously visible ok
        # chunks retire via tombstones written with the new run (the
        # compact mechanism — visible iff the new run's manifest
        # commits, so the swap is atomic and time travel below it sees
        # the originals). Full-table overwrite retires everything
        # visible; a ranged (--keys) overwrite retires only chunks of
        # the SAME plan (the same request re-frozen) so disjoint ranges
        # keep coexisting.
        if man is not None:
            retire_keys = _live_chunks(spark, view, man)
            if keys is not None:
                same_plan = man.filter(
                    (F.col("status") == "ok")
                    & (F.col("plan_id") == plan_fp)
                ).select("run", "partition_id", "chunk_id").distinct()
                retire_keys = retire_keys.join(
                    same_plan, ["run", "partition_id", "chunk_id"],
                    "left_semi")
    elif man is not None:
        done_bits = _done_chunk_bitmap(
            man.filter((F.col("status") == "ok")
                       & (F.col("plan_id") == plan_fp)), plan.n_chunks)
        n_done = int(np.unpackbits(done_bits).sum())
        if n_done >= view.done_chunks.get(plan_fp, plan.n_chunks + 1):
            # the manifest still holds every chunk a complete freeze of
            # this plan left: the rest are planned chunks that received
            # no rows (a salted span's), which no run can ever write
            n_done = plan.n_chunks
    n_missing = plan.n_chunks - n_done
    n_skipped = n_done
    if dry_run:
        return dict(
            dry_run=True, n_chunks=plan.n_chunks, n_planned=plan.n_chunks,
            n_to_encode=n_missing, n_skipped=n_skipped,
            n_salted_buckets=plan.n_salted_buckets,
            target_tokens=target_tokens,
            wall_s=time.perf_counter() - t_start,
        )
    if not n_missing:
        return dict(
            n_chunks=plan.n_chunks, n_encoded=0, n_skipped=n_skipped,
            wall_s=time.perf_counter() - t_start, tokens=0, enc_bytes=0,
            raw_bytes=0, tokens_per_sec=0.0, run=None,
        )

    run_id = _new_run_id()
    _write_report(output_dir, run_id, dict(
        version="cryo_spark " + "0.1.0", status="incomplete",
        input_path=input_desc, target_tokens=target_tokens,
        n_chunks=plan.n_chunks, n_to_encode=n_missing, n_skipped=n_skipped,
    ))
    _persist_spec(output_dir, spec)
    _persist_plan(output_dir, plan, plan_fp)
    keep_mask = None
    if n_done:
        keep_mask = ~np.unpackbits(
            done_bits, bitorder="little")[: plan.n_chunks].astype(bool)
    if use_arrow:
        # same kernels and chunk assignment over the Arrow-native source:
        # the list columns never pass through JVM row conversion (~3x
        # faster map stage on the 2.1B-token bench input)
        packed = sources.arrow_scan(
            spark, input_path, [c.name for c in spec.columns],
            _pack_kernel(spark, plan, keep_mask, 0, spec), spec.packed_ddl())
    else:
        packed = _packed(
            key_df if key_df is not None else spark.read.parquet(input_path),
            plan, keep_mask, spec=spec)
    retired = None if retire_keys is None else _selection(retire_keys)[0]
    n_retired = 0 if retired is None else retired.num_rows
    # the reference's partition_by: one output directory per value
    # combination (crates/freeze/src/types/partitions.rs:290-337), here
    # over the encoded table's key columns (e.g. ["partition_id"] =
    # per-source dirs). The snapshot entry IS the commit (readview: the
    # log alone decides what is live) and an ordered point in the
    # history (as_of). This run encodes every chunk its plan was
    # missing; with none failed, plan_done_chunks counts the plan's
    # chunks that hold rows once it commits (ReadView.done_chunks)
    res = _write_run(
        spark, output_dir, run_id, packed, plan, spec,
        "rewrite" if n_retired else "append", retired=retired,
        partition_by=partition_by, done_base=n_done,
        **({} if branch is None else {"branch": branch}))
    summary = dict(
        snapshot=res["snapshot"],
        n_chunks=plan.n_chunks,
        n_encoded=n_missing - res["n_failed"],
        n_failed=res["n_failed"],
        n_skipped=n_skipped,
        n_retired=n_retired,
        wall_s=time.perf_counter() - t_start,
        encode_wall_s=res["write_s"],
        tokens=res["tokens"],
        enc_bytes=res["enc_bytes"],
        raw_bytes=res["raw_bytes"],
        tokens_per_sec=(res["tokens"] / res["write_s"]
                        if res["write_s"] > 0 else 0.0),
        run=run_id,
    )
    _write_report(output_dir, run_id, dict(
        version="cryo_spark 0.1.0", status="completed",
        input_path=input_desc, target_tokens=target_tokens, **summary,
    ))
    return summary


def compact(
    spark: SparkSession,
    output_dir: str,
    target_tokens: int = layout.DEFAULT_TARGET_TOKENS,
    min_tokens: int | None = None,
    max_chunks: int = 1 << 16,
    spec: TableSpec = SEQUENCES,
) -> dict:
    """Merge undersized committed chunks into target-sized ones, in place.

    Incremental encodes (stream_encode micro-batches, key-range freezes,
    retried failures) each commit their own run with plan-relative
    chunks; over time the encoded table accumulates chunks far below
    ``target_tokens``, and every reader pays per-chunk overhead for
    them. ``compact`` is the Iceberg ``rewrite_data_files`` analog over
    this layout: decode the small chunks (and ONLY those — their chunk-id
    bitmaps select the files and chunks the file scan decodes),
    re-encode them through the normal plan/pack/encode path as one new
    run, and atomically retire the originals via tombstones.

    The rewrite is :func:`_rewrite`'s, shared with upsert and
    purge_deletes: one encode+write job whose tasks write the new run's
    files themselves (:func:`_write_run`, shared with freeze). Commit
    order makes the swap atomic: the driver renames the encoded files
    into place, then writes the tombstone file (``tombstones/run=<new>``),
    then the manifest, then the snapshot-log entry — the commit. Death
    before the log entry leaves both the new data and the tombstones
    invisible (orphan discipline, same as freeze); after it, readers see
    the merged chunks and skip the retired ones in the same snapshot.
    The originals' manifest rows remain — resume
    correctly still counts their plans' chunks as done (the data lives
    on, re-chunked), and the manifest stays an append-only history.

    ``min_tokens`` (default ``target_tokens // 2``) bounds what counts
    as undersized. A run that gives up an undersized chunk also gives
    up its other live chunks when together they hold at most
    ``target_tokens``: the rewrite then retires the whole run, so
    :func:`vacuum` can delete its files instead of keeping every
    retired chunk's bytes beside their rewritten copy (an append of a
    target chunk plus a few small ones would otherwise never die; a run
    whose live chunks do not all fit the collected rows stays as is).
    ``max_chunks`` bounds one compaction batch (smallest
    chunks first), keeping driver state and the rewrite volume bounded —
    at 10^12-sequence scale compaction proceeds in bounded batches, not
    one giant rewrite. No-op (nothing written) unless the rewrite
    strictly reduces the chunk count.

    One metadata pass: a single query over the live ok payload rows
    (minus the live tombstones) collects, smallest first, the chunks
    under ``min_tokens`` or at most ``target_tokens`` with their
    ``n_rows`` and ``n_values`` — at most ``max_chunks`` rows on the
    driver — and :func:`_compaction_set` picks the candidates from
    them there. That arrow table is then the decode selection, the
    plan's weight total (when the spec's footer statistic is the
    payload column, so planning runs no total job) and the tombstone
    file, which the driver writes itself (:func:`_write_tombstones`).
    The plan histogram is summed by the decode job that checkpoints the
    candidates' rows (``layout.PlanTap``), so compaction runs the
    candidate query, that decode and the encode+write job: 4 jobs, 5
    with live tombstones to broadcast.
    """
    t_start = time.perf_counter()
    min_tokens = target_tokens // 2 if min_tokens is None else min_tokens
    no_op = dict(n_compacted=0, n_new_chunks=0, n_retired=0, run=None,
                 wall_s=0.0)
    view = readview.read_view(output_dir)
    man = _manifest_df(spark, view)
    if man is None:
        return no_op
    payload_col = spec.list_column or spec.key
    # one query selects the candidates: the ok payload rows are one row
    # per chunk of a live run (_manifest_df keeps only those), so only
    # the live writers' tombstones need removing
    sizes = man.filter(
        (F.col("status") == "ok") & (F.col("column") == payload_col)
    ).select("run", "partition_id", "chunk_id", "n_rows", "n_values")
    ts = readview.tombstones(spark, view)
    if ts is not None:
        sizes = sizes.join(F.broadcast(ts),
                           ["run", "partition_id", "chunk_id"], "left_anti")
    # the small chunks, and the chunks that may complete a run's rest
    cand = _compaction_set(
        sizes.filter((F.col("n_values") < min_tokens)
                     | (F.col("n_values") <= target_tokens))
        .orderBy("n_values", "run", "chunk_id")
        .limit(max_chunks).toArrow(), view, min_tokens, target_tokens)
    n_cand = cand.num_rows
    if n_cand < 2:
        return no_op
    # a rewrite that would not shrink the layout (e.g. singleton small
    # chunks in distinct source partitions) writes nothing: monotone
    # progress / idempotence
    summary = _rewrite(
        spark, view, cand, target_tokens, spec, "rewrite", "compact",
        t_start, lambda _: dict(n_compacted=n_cand, n_retired=n_cand),
        shrink=True, report=dict(target_tokens=target_tokens,
                                 min_tokens=min_tokens))
    return no_op if summary is None else summary


def _compaction_set(rows: pa.Table, view: readview.ReadView,
                    min_tokens: int, target_tokens: int) -> pa.Table:
    """The chunks a compaction rewrites, out of ``rows`` (live ok
    payload chunks: run, partition_id, chunk_id, n_values): every chunk
    under ``min_tokens``, plus the other live chunks of a run that gives
    one up when together they hold at most ``target_tokens``. The
    rewrite then retires the whole run and vacuum can delete its files;
    left live, the rest would keep every retired chunk's bytes on disk
    beside their rewritten copies, run after run. A run's rest counts
    only when ``rows`` holds all its live chunks: its log entry's
    ``n_ok_chunks`` minus its tombstoned ones (a run without the stamp
    never retires whole)."""
    runs = rows.column("run").to_numpy(zero_copy_only=False)
    n = rows.column("n_values").to_numpy(zero_copy_only=False)
    small = n < min_tokens
    names, inv = np.unique(runs, return_inverse=True)
    live = np.array([readview.n_live(view, r) for r in names],
                    dtype=np.int64)
    whole = ((np.bincount(inv, weights=small) > 0)
             & (np.bincount(inv) == live)
             & (np.bincount(inv, weights=np.where(small, 0, n))
                <= target_tokens))
    return rows.filter(pa.array(small | whole[inv]))


def vacuum(spark: SparkSession, output_dir: str) -> dict:
    """Delete encoded run dirs with no live chunks left (space reclaim).

    ``compact`` retires chunks logically (tombstones); their payload
    bytes stay on disk until every chunk of a run is retired, at which
    point the whole ``encoded/run=`` dir is provably dead and can go —
    the Iceberg ``expire_snapshots`` / orphan-GC analog, scoped to what
    is safe without a catalog: only runs live at the head
    (readview.read_view) whose every chunk the head's tombstones retire
    are deleted, never a run committed to a branch (idempotent,
    crash-safe — a re-run just finds fewer dirs). A run the head does
    not name is left alone: a rollback may revive it, and a run whose
    manifest landed but whose log entry has not may belong to an
    in-flight freeze. Manifest and tombstone history stay append-only;
    no read view lists a dead run's files, so deletion is invisible to
    every read path.

    Only a run some live tombstone targets (a run in ``view.drops``) can
    be dead, and only once its drop bitmap has as many chunk ids as the
    run committed ok chunks (``ReadView.ok_chunks``, stamped into its
    log entry by :func:`_write_run`). One executor-side pass over those
    candidates' ok manifest rows tests each chunk id against the run's
    drop bitmap (:func:`_runs_holding_live`, in one wave of tasks
    however many runs it tests); no job runs when no run can be dead —
    after a compaction that retired no whole run, say. A run with no ok
    manifest row and no tombstones (every chunk failed) keeps its files.
    """
    import shutil

    if "://" in output_dir:
        raise ValueError(
            "vacuum deletes local files; on a real catalog this maps to "
            "expire_snapshots / remove_orphan_files"
        )
    view = readview.read_view(output_dir, strict=False)
    # only a run some live tombstone targets can have lost every chunk,
    # and only once its drop bitmap counts as many chunks as the run
    # committed ok (the entry's n_ok_chunks; an entry without the stamp
    # is always tested). Runs committed to any branch stay reachable
    # from that branch's head even though main's visibility excludes
    # them
    cand = {r for r in view.drops if readview.n_live(view, r) <= 0}
    cand -= snapshots.branch_data_runs(output_dir)
    man = None if not cand else _manifest_df(
        spark, dataclasses.replace(view, runs=frozenset(cand)))
    if man is None:
        return dict(snapshot=None, n_deleted_runs=0, bytes_reclaimed=0,
                    deleted_runs=[])
    dead = sorted(cand - _runs_holding_live(man, view.drops))
    reclaimed = 0
    deleted = []
    for run_val in dead:
        d = os.path.join(_encoded_path(output_dir), f"run={run_val}")
        if not os.path.isdir(d):
            continue
        for root, _dirs, files in os.walk(d):
            reclaimed += sum(
                os.path.getsize(os.path.join(root, f)) for f in files)
        shutil.rmtree(d)
        deleted.append(run_val)
    snap = None
    if deleted:
        # deletion is physical, so the entry carries removed_runs: any
        # as_of read that still needs those bytes fails loudly instead
        # of returning a silently partial snapshot
        snap = snapshots.commit(output_dir, None, "vacuum",
                                removed_runs=deleted)
    return dict(snapshot=snap, n_deleted_runs=len(deleted),
                bytes_reclaimed=reclaimed, deleted_runs=deleted)


def _runs_holding_live(man: DataFrame,
                       drops: dict[str, tuple[int, bytes]]) -> set[str]:
    """Which runs of ``man`` (manifest rows of runs in ``drops``) hold an
    ok chunk their drop bitmap does not retire: one executor-side pass
    over the ok rows, testing each chunk id as the decode kernel does
    (readview.in_bitmap). Only run names reach the driver."""
    def kernel(batches):
        found: set[str] = set()
        for b in batches:
            if b.num_rows:
                found |= readview.holding_live(pa.Table.from_batches([b]),
                                               drops)
        if found:
            yield pa.RecordBatch.from_pydict({"run": sorted(found)})

    rows = man.filter(F.col("status") == "ok").select("run", "chunk_id")
    return {r["run"] for r in
            amap(_one_wave(rows), kernel, "run string").collect()}


def _one_wave(man: DataFrame) -> DataFrame:
    """``man`` in at most one wave of tasks (``defaultParallelism``).

    Spark plans a file scan of small files one partition per file, so a
    Python kernel over the manifest would otherwise start one task per
    run dir's file: its per-task cost then grows with the run count, not
    with the rows. A coalesce merges the scan partitions without a
    shuffle."""
    par = max(1, man.sparkSession.sparkContext.defaultParallelism)
    return man.coalesce(par)


def remove_orphans(spark: SparkSession, output_dir: str,
                   min_age_s: float = 86_400.0) -> dict:
    """Delete run dirs no commit ever claimed (remove_orphan_files analog).

    A freeze/compact that dies before its manifest commit leaves an
    ``encoded/run=`` (or ``tombstones/run=``) dir that every reader
    already ignores (the orphan-invisibility semi-join) but that
    ``vacuum`` deliberately skips — it "may belong to an in-flight
    freeze". This job is the complement, with Iceberg
    remove_orphan_files' exact safety rule: a dir is an orphan only if
    its run appears in NEITHER the manifest (consolidated generations
    included) NOR the snapshot log, AND its newest file is older than
    ``min_age_s`` (default 1 day) — an in-flight writer's files are
    always younger. Inside a claimed run's encoded dir, the files of
    encode-task attempts whose commit rows Spark did not keep (a failed
    or speculative attempt: they keep their hidden staged names,
    :func:`_write_run`) are orphans under the same age guard. Removal
    is invisible to every read path by construction; an ``orphan_gc``
    log entry records it for audit (ignored by the visibility replay).
    """
    import shutil

    if "://" in output_dir:
        raise ValueError(
            "remove_orphans deletes local files; on a real catalog this "
            "maps to remove_orphan_files")
    view = readview.read_view(output_dir, strict=False)
    known = set(view.manifest_dirs | view.absorbed)
    known |= {e["run"] for e in snapshots.log(output_dir) if e.get("run")}
    now = time.time()
    removed, reclaimed = [], 0
    for base in (_encoded_path(output_dir), _tombstones_path(output_dir),
                 _deletes_path(output_dir)):
        if not os.path.isdir(base):
            continue
        for d in sorted(os.listdir(base)):
            if not d.startswith("run="):
                continue
            path = os.path.join(base, d)
            if d[4:] in known:
                if base != _encoded_path(output_dir):
                    continue
                # a claimed run keeps the files its commit named; other
                # task attempts' files keep their hidden staged names
                for root, _dirs, files in os.walk(path):
                    for f in sorted(files):
                        p = os.path.join(root, f)
                        st = os.stat(p)
                        if (_STAGED.fullmatch(f)
                                and now - st.st_mtime >= min_age_s):
                            os.remove(p)
                            removed.append(os.path.relpath(p, output_dir))
                            reclaimed += st.st_size
                continue
            newest, size = 0.0, 0
            for root, _dirs, files in os.walk(path):
                for f in files:
                    p = os.path.join(root, f)
                    st = os.stat(p)
                    newest = max(newest, st.st_mtime)
                    size += st.st_size
            newest = max(newest, os.stat(path).st_mtime)
            if now - newest < min_age_s:
                continue  # possibly in-flight: too young to judge
            shutil.rmtree(path)
            removed.append(f"{os.path.basename(base)}/{d}")
            reclaimed += size
    snap = None
    if removed:
        snap = snapshots.commit(output_dir, None, "orphan_gc",
                                removed_orphans=removed)
    return dict(snapshot=snap, n_removed=len(removed),
                bytes_reclaimed=reclaimed, removed=removed)


def _plan_fingerprint(plan: layout.ChunkPlan) -> str:
    """Stable id of a chunk plan — equal iff the chunk layout is equal."""
    import hashlib

    if plan.layout == "hash":
        # formula unchanged since round 1: hash-plan ids in existing
        # manifests keep matching (resume compatibility)
        key = repr((plan.n_buckets, plan.target_tokens, plan.n_chunks,
                    sorted(plan.mapping, key=repr)))
    else:
        key = repr((plan.n_buckets, plan.target_tokens, plan.n_chunks,
                    plan.layout,
                    sorted(plan.range_bounds.items(),
                           key=lambda kv: (kv[0] is not None, kv[0] or "")),
                    sorted(plan.mapping, key=repr)))
    return hashlib.md5(key.encode()).hexdigest()[:16]


def _persist_spec(output_dir: str, spec: TableSpec) -> None:
    """Write the table spec into the output (Iceberg stores the schema in
    table metadata for the same reason: readers should not need an
    out-of-band spec). Written before the first encode task so even an
    interrupted run leaves a readable output; idempotent across runs —
    the spec of an existing output never changes except via the
    schema-evolution path, which rewrites it. Like every side file it
    goes through :class:`readview._Store`, so a ``://`` output keeps it
    in its own store."""
    try:
        readview._Store(output_dir).write_bytes(
            "spec.json", spec.to_json().encode())
    except OSError:
        pass  # best-effort, like _write_report


def load_output_spec(output_dir: str) -> TableSpec | None:
    """Read back the spec persisted by freeze; None when the output
    predates spec persistence (callers fall back to SEQUENCES)."""
    try:
        data = readview._Store(output_dir).read_bytes("spec.json")
        return None if data is None else TableSpec.from_json(data.decode())
    except (OSError, ValueError, KeyError):
        return None


def _persist_plan(output_dir: str, plan: layout.ChunkPlan,
                  plan_fp: str) -> None:
    """Persist the chunk plan next to the output, keyed by its
    fingerprint (Iceberg keeps the partition spec in table metadata for
    the same reason): an aligned freeze (``align_with=``) and the
    co-located join need the exact key→chunk mapping, not just its id.
    Mapping rows go to parquet (up to 2^20 per source — too big for
    JSON), scalars to a sibling JSON; idempotent per plan_id;
    best-effort like :func:`_persist_spec`."""
    import io
    import json

    import pyarrow.parquet as _pq

    try:
        store = readview._Store(output_dir)
        if f"{plan_fp}.json" in store.names("plan"):
            return
        t = pa.table({
            "source": pa.array([m[0] for m in plan.mapping], pa.string()),
            "bucket": pa.array([m[1] for m in plan.mapping], pa.int64()),
            "partition_id": pa.array(
                [m[2] for m in plan.mapping], pa.int32()),
            "chunk_base": pa.array([m[3] for m in plan.mapping], pa.int32()),
            "n_salts": pa.array([m[4] for m in plan.mapping], pa.int32()),
        })
        buf = io.BytesIO()
        _pq.write_table(t, buf)
        store.write_bytes(f"plan/{plan_fp}.parquet", buf.getvalue())
        # sources can be None (null partition values) — JSON object keys
        # can't, so dict-valued fields serialize as [key, value] pairs
        meta = dict(
            n_buckets=plan.n_buckets,
            target_tokens=plan.target_tokens,
            n_chunks=plan.n_chunks,
            n_salted_buckets=plan.n_salted_buckets,
            partition_of_source=[
                [k, v] for k, v in plan.partition_of_source.items()],
            layout=plan.layout,
            range_bounds=(None if plan.range_bounds is None else
                          [[k, list(v)]
                           for k, v in plan.range_bounds.items()]),
        )
        # json last: its presence = plan complete
        store.write_bytes(f"plan/{plan_fp}.json", json.dumps(meta).encode())
    except OSError:
        pass


def load_output_plan(output_dir: str,
                     plan_id: str | None = None) -> layout.ChunkPlan | None:
    """Read back a chunk plan persisted by freeze. ``plan_id`` picks one
    when the output holds several (ranged freezes); with one plan it is
    optional. None when absent/ambiguous; raises on fingerprint mismatch
    (a corrupt or hand-edited plan must never silently misplace keys)."""
    import io
    import json

    import pyarrow.parquet as _pq

    try:
        store = readview._Store(output_dir)
        ids = sorted(f[:-5] for f in store.names("plan")
                     if f.endswith(".json") and not f.startswith("."))
    except (OSError, ValueError):
        return None
    if plan_id is None:
        if len(ids) != 1:
            return None
        plan_id = ids[0]
    elif plan_id not in ids:
        return None
    try:
        meta = json.loads(store.read_bytes(f"plan/{plan_id}.json"))
        t = _pq.read_table(io.BytesIO(
            store.read_bytes(f"plan/{plan_id}.parquet")))
    except (OSError, ValueError, TypeError):
        return None
    mapping = list(zip(
        t.column("source").to_pylist(),
        (int(v) for v in t.column("bucket").to_pylist()),
        (int(v) for v in t.column("partition_id").to_pylist()),
        (int(v) for v in t.column("chunk_base").to_pylist()),
        (int(v) for v in t.column("n_salts").to_pylist()),
    ))
    plan = layout.ChunkPlan(
        n_buckets=int(meta["n_buckets"]),
        target_tokens=int(meta["target_tokens"]),
        n_chunks=int(meta["n_chunks"]),
        n_salted_buckets=int(meta["n_salted_buckets"]),
        partition_of_source={k: v for k, v in meta["partition_of_source"]},
        mapping=mapping,
        layout=meta.get("layout", "hash"),
        range_bounds=(None if meta.get("range_bounds") is None else
                      {k: tuple(v) for k, v in meta["range_bounds"]}),
    )
    got = _plan_fingerprint(plan)
    if got != plan_id:
        raise ValueError(
            f"persisted plan {plan_id} in {output_dir!r} re-fingerprints "
            f"as {got}: file corrupt or edited")
    return plan


def _write_report(output_dir: str, run_id: str, payload: dict) -> None:
    """Per-run JSON report, incomplete-then-final (reports.rs:51-89 analog),
    written through :class:`readview._Store` (``pyarrow.fs``, local and
    ``://`` alike). Best-effort: the manifest
    table (not this report) is the machine-read source of truth."""
    import json

    try:
        readview._Store(output_dir).write_bytes(
            f"report/run={run_id}.json",
            json.dumps(payload, indent=1).encode())
    except OSError:
        pass


# ---------------------------------------------------------------------------
# collect / export: dataset-in-hand APIs (cryo.collect + csv/json sinks)
# ---------------------------------------------------------------------------

KEY_FMT = "doc-%012d"  # sequences fixtures' zero-padded key: lexicographic


def _key_expr(spec: TableSpec):
    """Numeric key expression for key-range requests (lazy: needs a session).

    Int-keyed specs use the column itself (the range predicate pushes
    straight down to parquet); the sequences string key parses its
    zero-padded fixture format. Other string keys have no numeric form.
    """
    if spec.key_col.kind in ("int32", "int64"):
        return F.col(spec.key)
    if spec.name == SEQUENCES.name:
        return F.substring(spec.key, len("doc-") + 1, 12).cast("long")
    raise ValueError(
        f"key-range requests need a numeric key; table {spec.name!r} has "
        "a string key with no known numeric format"
    )


def _key_envelope(spec: TableSpec) -> dict:
    """Extra pushdown kwargs for :func:`ranges.key_predicate`: string keys
    get a lexicographic BETWEEN envelope on the raw column; int keys need
    none (the numeric predicate itself reaches the scan)."""
    if spec.key_col.kind in ("int32", "int64"):
        return {}
    return dict(envelope=F.col(spec.key), fmt=KEY_FMT)


def _parse_keys(spec: str, latest_fn):
    """Parse a key-range spec, resolving 'latest' lazily (one agg job)."""
    from . import ranges

    try:
        return ranges.parse_key_specs(spec, latest=None)
    except ValueError:
        return ranges.parse_key_specs(spec, latest=int(latest_fn()))


def _manifest_key_num(col: str, spec: TableSpec):
    """Numeric form of a manifest min/max key column (stored as string:
    the decimal of a native int key, or the zero-padded sequences id)."""
    if spec.key_col.kind in ("int32", "int64"):
        return F.col(col).cast("long")
    return F.substring(col, len("doc-") + 1, 12).cast("long")


def _chunk_stat_prune(enc: DataFrame, chunks,
                      spec: TableSpec = SEQUENCES) -> DataFrame:
    """Prune chunk rows (manifest or encoded: both carry min_doc_id /
    max_doc_id) by min/max key before decode.

    The reference prunes at the file level via its chunk->filename key
    ranges (crates/freeze/src/types/chunks/chunk_ops.rs); here the same
    statistics live as manifest columns, so a key-range collect skips
    whole chunks relationally — no payload is read, let alone decoded.
    """
    from . import ranges

    min_n = _manifest_key_num("min_doc_id", spec)
    max_n = _manifest_key_num("max_doc_id", spec)
    terms = []
    for c in chunks:
        if isinstance(c, ranges.KeyNumbers):
            t = None
            for n in c.numbers:
                o = (F.lit(n) >= min_n) & (F.lit(n) <= max_n)
                t = o if t is None else t | o
        else:
            t = (max_n >= c.start) & (min_n <= c.end)
        terms.append(t)
    pred = terms[0]
    for t in terms[1:]:
        pred = pred | t
    return enc.filter(pred)


_BLOOM_PRUNE_MAX_KEYS = 4096


def _point_numbers(chunks) -> list[int] | None:
    """Explicit key points of a parsed range spec (bloom-prunable), or
    None when any token is a dense range too wide to enumerate."""
    from . import ranges

    nums: list[int] = []
    for c in chunks:
        if isinstance(c, ranges.KeyNumbers):
            nums.extend(c.numbers)
        elif (c.end - c.start) // c.stride + 1 <= _BLOOM_PRUNE_MAX_KEYS and (
            c.stride > 1 or c.end - c.start + 1 <= 64
        ):
            nums.extend(range(c.start, c.end + 1, c.stride))
        else:
            return None
    return nums if 0 < len(nums) <= _BLOOM_PRUNE_MAX_KEYS else None


def _key_str_forms(numbers, spec: TableSpec) -> list[str] | None:
    """Requested key numbers -> the stored key-string forms, or None
    when the key has no known string format (no bloom pruning then)."""
    if spec.key_col.kind in ("int32", "int64"):
        return [str(int(n)) for n in numbers]
    if spec.name == SEQUENCES.name:
        return [KEY_FMT % int(n) for n in numbers]
    return None


def read_bloom_stats(spark: SparkSession, view: readview.ReadView | str
                     ) -> DataFrame | None:
    """Bloom rows for pruning — the copy in the encoded files of
    ``view`` (a read view, or an output dir at its head).

    The manifest does not duplicate the bloom BYTES (its key_bloom slot
    is NULL, :func:`_manifest_rows`); the authoritative copy rides each
    chunk's row in the encoded files, and this file scan
    (:func:`_scan_encoded`) reads ONLY (partition_id, chunk_id, column,
    status, key_bloom) plus ``run`` — the payload bytes are never
    touched. Loaded exclusively by the point-lookup / contains /
    upsert / purge paths, so at a 100 TB corpus the manifest scan every
    read pays shrinks by the bloom bytes while lookups keep their
    pruning. A run whose drop bitmap retires every ok chunk its writer
    stamped (``readview.n_live`` 0, vacuum's test) is not scanned. None
    when no file is left to scan.
    """
    view = _as_view(view)
    files = [f for r in sorted(view.files) if readview.n_live(view, r) != 0
             for f in view.files[r]]
    if not files:
        return None
    return _scan_encoded(spark, files,
                         ["partition_id", "chunk_id", "column", "status",
                          "key_bloom"])


def _bloom_chunks(stats: DataFrame | None, column: str,
                  hashes: np.ndarray) -> DataFrame | None:
    """Chunks whose ``column`` bloom possibly holds ANY of ``hashes``.

    Hash placement makes chunk key RANGES span the whole space, and a
    dense vocabulary makes nearly every chunk's element range span a
    token, so zone maps cannot prune point lookups or ``contains``; the
    per-chunk blooms (the key column's key bloom, an int list's
    distinct-element bloom) can. Runs as a mapInArrow kernel over the
    column's metadata rows (bounded bytes/chunk); the requested hashes
    ride the closure. A NULL bloom (float lists) is conservatively
    kept. None when there is nothing to prune with.
    """
    if stats is None or not len(hashes):
        return None
    hb = hashes.tobytes()

    def kernel(batches):
        import numpy as np
        import pyarrow as pa

        from cryo_spark import hashing as hm

        want = np.frombuffer(hb, dtype=np.uint64)
        for b in batches:
            t = pa.Table.from_batches([b])
            if t.num_rows == 0:
                continue
            blooms = t.column("key_bloom")
            keep = [
                blooms[i].as_py() is None
                or bool(hm.bloom_test(blooms[i].as_py(), want).any())
                for i in range(t.num_rows)
            ]
            if any(keep):
                yield t.select(["run", "partition_id", "chunk_id"]) \
                    .filter(pa.array(keep)).to_batches()[0]

    rows = stats.filter(
        (F.col("status") == "ok") & (F.col("column") == column)
    ).select("run", "partition_id", "chunk_id", "key_bloom")
    return amap(rows, kernel, "run string, partition_id int, chunk_id int")


def _bloom_chunk_keys(stats: DataFrame | None, key_strs: list[str],
                      spec: TableSpec) -> DataFrame | None:
    """Chunks whose key bloom possibly contains ANY requested key."""
    return _bloom_chunks(stats, spec.key,
                         hashing.hash_utf8(pa.array(key_strs, pa.string())))


_FILTER_OPS = ("=", "<", "<=", ">", ">=", "between", "contains")


def _distinct_ints(flat: np.ndarray) -> np.ndarray:
    """Distinct values of an int array; bincount fast path for dense
    value spaces (token vocabularies), sort-based unique otherwise."""
    vmin = int(flat.min())
    vmax = int(flat.max())
    if 0 <= vmin and vmax < (1 << 22):
        # no-copy path: bincount takes the int32 array as-is
        return np.flatnonzero(np.bincount(flat))
    if vmax - vmin < (1 << 22):
        hits = np.bincount((flat.astype(np.int64) - vmin))
        return np.flatnonzero(hits) + vmin
    return np.unique(flat.astype(np.int64))


def _filter_spec_col(spec: TableSpec, name: str,
                     op: str | None = None) -> ColumnSpec:
    for c in spec.columns:
        if c.name == name:
            if c.is_list and op == "contains":
                if c.item_dtype.kind not in "iu":
                    raise ValueError(
                        f"'contains' needs an int list column; {name!r} "
                        f"holds {c.kind}")
                return c
            if c.is_list:
                raise ValueError(
                    f"filters target scalar columns; {name!r} is a list "
                    "column ('contains' for membership, or filter on its "
                    "derived scalars)")
            if op == "contains":
                raise ValueError(
                    f"'contains' targets list columns; {name!r} is scalar")
            return c
    raise ValueError(f"unknown filter column {name!r} for table "
                     f"{spec.name!r}")


def _stat_num(col: str, c: ColumnSpec):
    """Typed view of a string-form zone-map bound for comparisons."""
    if c.is_list:
        return F.col(col).cast("long")  # element stats of an int list
    if c.kind in ("str", "binary"):
        return F.col(col)
    if c.np_dtype.kind == "f":
        return F.col(col).cast("double")
    return F.col(col).cast("long")


def _zone_val(c: ColumnSpec, val):
    """Zone-map-comparable form of a filter value: timestamp columns
    store integer epoch-micros stats (written by _encode_chunk's int64
    cast), so datetime filter values compare as exact integer micros —
    the subtraction/floor-div is integer-exact, no float epoch math.
    Values reach here already tz-normalized (_normalize_filters), so
    replace(tzinfo=None) is a no-op kept as a guard."""
    import datetime as _dt

    if c.kind == "timestamp" and isinstance(val, _dt.datetime):
        return (val.replace(tzinfo=None) - _dt.datetime(1970, 1, 1)) \
            // _dt.timedelta(microseconds=1)
    return val


def _normalize_filters(filters, spec: TableSpec):
    """Filter triples with tz-aware datetime values converted to naive
    UTC wall clock, once, before ANY consumer sees them.

    Timestamp columns are TIMESTAMP_NTZ holding UTC wall-clock values
    (tablespec.py). A tz-aware filter value therefore means an absolute
    instant: astimezone(UTC) then drop the tzinfo so the zone-map prune
    (_zone_map_prune), the Catalyst pushdown, and the residual row
    predicate (_filter_predicate) all compare the SAME naive value —
    normalizing in only one of those paths can silently prune chunks
    whose rows the row filter would keep."""
    import datetime as _dt

    def norm_one(c: ColumnSpec, v):
        if (c.kind == "timestamp" and isinstance(v, _dt.datetime)
                and v.tzinfo is not None):
            return v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return v

    out = []
    for name, op, val in filters:
        c = _filter_spec_col(spec, name, op)
        if op == "between":
            val = (norm_one(c, val[0]), norm_one(c, val[1]))
        else:
            val = norm_one(c, val)
        out.append((name, op, val))
    return out


def _zone_map_prune(enc: DataFrame, filters, spec: TableSpec,
                    man: DataFrame | None = None,
                    bloom_src: DataFrame | None = None) -> DataFrame:
    """Prune whole chunks via the manifest's per-column zone maps.

    Every chunk x column row carries its value min/max (min_value /
    max_value, written by _encode_chunk); a chunk survives a filter iff
    its value range can intersect it — the parquet row-group-statistics
    idiom applied to this layout, so a selective filter never reads
    (let alone decodes) the payload bytes of non-matching chunks. Rows
    with NULL stats (all-null chunk, legacy pre-zone-map output) are
    conservatively kept.

    When ``man`` is given the semi-join build side scans the MANIFEST —
    a metadata table orders of magnitude smaller than the encoded table
    at 10^12-sequence scale — instead of re-listing the encoded files
    for their stat columns.
    """
    stats_src = man if man is not None and "min_value" in man.columns else enc
    if "min_value" not in stats_src.columns:
        return enc
    if man is not None and "status" in stats_src.columns:
        stats_src = stats_src.filter(F.col("status") == "ok")
    keys = None
    for name, op, val in filters:
        c = _filter_spec_col(spec, name, op)
        mn, mx = _stat_num("min_value", c), _stat_num("max_value", c)
        if op == "between":
            lo, hi = _zone_val(c, val[0]), _zone_val(c, val[1])
            keep = (mx >= F.lit(lo)) & (mn <= F.lit(hi))
        elif op in ("=", "contains"):  # contains: element min/max stats
            zv = _zone_val(c, val)
            keep = (mn <= F.lit(zv)) & (mx >= F.lit(zv))
        elif op == "<":
            keep = mn < F.lit(_zone_val(c, val))
        elif op == "<=":
            keep = mn <= F.lit(_zone_val(c, val))
        elif op == ">":
            keep = mx > F.lit(_zone_val(c, val))
        elif op == ">=":
            keep = mx >= F.lit(_zone_val(c, val))
        else:
            raise ValueError(f"unknown filter op {op!r}; one of {_FILTER_OPS}")
        k = stats_src.filter(
            (F.col("column") == name)
            & (keep | F.col("min_value").isNull() | F.col("max_value").isNull())
        ).select("run", "partition_id", "chunk_id")
        keys = k if keys is None else keys.join(
            k, ["run", "partition_id", "chunk_id"], "left_semi")
    for name, op, val in filters:
        if op != "contains":
            continue
        # refine with the per-chunk content bloom: min/max alone keeps
        # every chunk whose element RANGE spans the value (nearly all of
        # them for a dense vocabulary); the bloom keeps only chunks that
        # plausibly contain it. Bloom bytes are side-located in the
        # encoded files (read_bloom_stats) — manifests carry NULL slots
        bk = _bloom_chunks(
            bloom_src if bloom_src is not None else stats_src, name,
            hashing.hash_i64(np.asarray([int(val)], dtype=np.int64)))
        if bk is not None:
            keys = bk if keys is None else keys.join(
                bk, ["run", "partition_id", "chunk_id"], "left_semi")
    if keys is None:
        return enc
    return enc.join(F.broadcast(keys),
                    ["run", "partition_id", "chunk_id"], "left_semi")


def _filter_predicate(filters, spec: TableSpec):
    """Row-level residual predicate for the same filter triples."""
    pred = None
    for name, op, val in filters:
        _filter_spec_col(spec, name, op)
        c = F.col(name)
        if op == "between":
            lo, hi = val
            t = (c >= lo) & (c <= hi)
        elif op == "contains":
            item_t = _filter_spec_col(spec, name, op).spark_type[6:-1]
            t = F.array_contains(c, F.lit(val).cast(item_t))  # array<X> -> X
        elif op == "=":
            t = c == val
        elif op == "<":
            t = c < val
        elif op == "<=":
            t = c <= val
        elif op == ">":
            t = c > val
        elif op == ">=":
            t = c >= val
        else:
            raise ValueError(f"unknown filter op {op!r}; one of {_FILTER_OPS}")
        pred = t if pred is None else pred & t
    return pred


def _prune_chunks(spark: SparkSession, view: readview.ReadView,
                  man: DataFrame, key_chunks, filters, spec: TableSpec
                  ) -> dict[str, tuple[int, bytes]]:
    """The chunks a keyed or filtered read must decode, as ``keep``
    bitmaps for :func:`_decode_view`: the view's ok manifest rows pruned
    by key range (:func:`_chunk_stat_prune`), by the per-chunk key blooms
    for point lookups, and by zone maps (:func:`_zone_map_prune`), then
    collected once. Metadata only: no payload byte is read."""
    chunks = man.filter((F.col("status") == "ok")
                        & (F.col("column") == spec.key))
    if key_chunks is not None:
        chunks = _chunk_stat_prune(chunks, key_chunks, spec)
        # point lookups: the hash layout defeats range pruning (every
        # chunk's key range spans the space), so refine with the
        # per-chunk key blooms
        nums = _point_numbers(key_chunks)
        strs = None if nums is None else _key_str_forms(nums, spec)
        bk = (None if strs is None else _bloom_chunk_keys(
            read_bloom_stats(spark, view), strs, spec))
        if bk is not None:
            chunks = chunks.join(F.broadcast(bk),
                                 ["run", "partition_id", "chunk_id"],
                                 "left_semi")
    if filters:
        contains = any(op == "contains" for _, op, _ in filters)
        chunks = _zone_map_prune(
            chunks, filters, spec, man=man,
            bloom_src=read_bloom_stats(spark, view) if contains else None)
    return _selection(chunks)[1]


def collect(
    spark: SparkSession,
    source: str | DataFrame,
    columns: list[str] | None = None,
    include: list[str] | None = None,
    exclude: list[str] | None = None,
    sort: bool | list[str] = False,
    hex: bool = False,
    keys: str | None = None,
    spec: TableSpec = SEQUENCES,
    as_of: int | str | None = None,
    filters: list[tuple] | None = None,
) -> DataFrame:
    """Projected (optionally sorted) dataset as one DataFrame, no sink.

    The cryo.collect analog (/root/reference/crates/python/python/cryo/
    _collect.py:53-143 — collect validates 1 datatype x 1 partition and
    returns the DataFrame without writing). ``source`` is either a
    sequences parquet path or an encoded output dir (detected by its
    manifest). An encoded dir decodes through the file scan of its read
    view (:func:`_decode_view`): payloads are not shuffled at all, and
    the projection reaches the scan, so unwanted columns' payloads are
    never read off disk. Projection follows the reference's
    include/exclude/columns algebra (schema.py).

    ``keys`` accepts the reference's block-range grammar over the
    numeric part of doc_id (ranges.py — ``a:b``, ``a:+n``, ``a:b:stride``,
    ``a:b/n``, K/M/B suffixes, 'latest'): on a parquet source the range
    envelope is emitted against the raw string column so it reaches the
    scan as a pushed filter; on an encoded source whole chunks are
    pruned via manifest min/max (and the key blooms, for point lookups)
    before any payload is read (:func:`_prune_chunks`).

    ``filters`` is a list of ``(column, op, value)`` triples (ops: =,
    <, <=, >, >=, between) over scalar columns, AND-combined. On a raw
    parquet source they become Catalyst predicates (pushed to the
    scan); on an encoded source the manifest zone maps prune whole
    chunks first (_zone_map_prune) and the residual row filter runs
    after decode. ``as_of`` time-travels an encoded source to an
    earlier snapshot (snapshots.py).
    """
    from . import ranges
    from . import schema as schema_mod

    all_cols = [c.name for c in spec.columns]
    used = schema_mod.compute_used_columns(
        all_cols, columns=columns, include=include, exclude=exclude
    )
    key_chunks = None
    view = None
    if not isinstance(source, DataFrame):
        view = readview.read_view(source, as_of)
        if not view.has_manifest:
            view = None  # a raw parquet source
    if as_of is not None and view is None:
        raise ValueError("as_of requires an encoded output dir (snapshots.py)")
    if filters:
        filters = _normalize_filters(filters, spec)
    residual = _filter_predicate(filters, spec) if filters else None
    if keys is not None and isinstance(source, DataFrame):
        key_chunks = _parse_keys(
            keys, lambda: source.agg(F.max(_key_expr(spec))).first()[0])
        df = source.filter(
            ranges.key_predicate(key_chunks, _key_expr(spec),
                                 **_key_envelope(spec))
        )
        df = (df.filter(residual) if residual is not None else df).select(*used)
    elif isinstance(source, DataFrame):
        df = source
        df = (df.filter(residual) if residual is not None else df).select(*used)
    elif view is not None:
        keep = None
        if keys is not None or filters:
            man = _manifest_df(spark, view)
            if keys is not None:
                key_chunks = _parse_keys(
                    keys,
                    lambda: 0 if man is None else man.agg(
                        F.max(_manifest_key_num("max_doc_id", spec))
                    ).first()[0],
                )
            keep = ({} if man is None else
                    _prune_chunks(spark, view, man, key_chunks, filters, spec))
        extra = [] if key_chunks is None or spec.key in used else [spec.key]
        extra += [n for n, _, _ in (filters or ())
                  if n not in used and n not in extra]
        df = _decode_view(spark, view, [*extra, *used], spec, keep)
        if key_chunks is not None:
            df = df.filter(ranges.key_predicate(key_chunks, _key_expr(spec)))
        if residual is not None:
            df = df.filter(residual)
        df = df.select(*used)
    else:
        raw = spark.read.parquet(source)
        if keys is not None:
            key_chunks = _parse_keys(
                keys, lambda: raw.agg(F.max(_key_expr(spec))).first()[0])
            raw = raw.filter(
                ranges.key_predicate(key_chunks, _key_expr(spec),
                                     **_key_envelope(spec))
            )
        if residual is not None:
            # Catalyst pushes these straight into the parquet scan
            raw = raw.filter(residual)
        df = raw.select(*used)
    if sort:
        sort_keys = [c for c in (sort if isinstance(sort, list) else [spec.key]) if c in used]
        if sort_keys:
            df = df.orderBy(*sort_keys)
    if hex:
        df = schema_mod.hex_columns(df)
    return df


def export(
    df: DataFrame,
    path: str,
    format: str = "parquet",
    mode: str = "error",
) -> None:
    """csv / json / parquet sink with representation fix-ups.

    The reference forces Hex for binary columns in csv/json sinks
    (/root/reference/crates/cli/src/parse/schemas.rs:37-40, export.rs:50-67);
    csv additionally cannot carry arrays, so array columns are written
    as JSON strings — both are pure projections, applied only for the
    text sinks.
    """
    from pyspark.sql.types import ArrayType

    from . import schema as schema_mod

    out = df
    if format in ("csv", "json"):
        out = schema_mod.hex_columns(out)
    if format == "csv":
        for f in out.schema.fields:
            if isinstance(f.dataType, ArrayType):
                out = out.withColumn(f.name, F.to_json(F.col(f.name)))
    writer = out.write.mode(mode)
    if format == "csv":
        writer = writer.option("header", "true")
    getattr(writer, format)(path)


def export_shards(
    spark: SparkSession,
    source: str | DataFrame,
    dest: str,
    n_shards: int = 16,
    seed: int = 12345,
    spec: TableSpec = SEQUENCES,
    as_of: int | str | None = None,
    keys: str | None = None,
    filters: list[tuple] | None = None,
) -> dict:
    """Write the corpus as ``n_shards`` training shards in a
    reproducible pseudo-random order.

    The last step of the training-data funnel: after clean / dedup /
    freeze, trainers consume the corpus as a fixed set of shard files
    whose order is a pure function of the data (every epoch, worker,
    and re-run sees the same global shuffle — no rand()). Order key
    h = xxhash64(key, seed); shard = pmod(h, n_shards). The physical
    plan is the canonical shard-writer shape: ONE exchange
    (repartition on the shard column) + sortWithinPartitions(h) +
    partitionBy(shard) parquet write, so each task streams exactly one
    shard directory with one file in h-order. ``source``/``keys``/
    ``filters``/``as_of`` follow collect() semantics (an encoded dir
    decodes chunk-pruned; a parquet path scans with pushdown).

    Returns {"n_shards", "rows": {shard: n}, "dest"}.
    """
    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    df = collect(spark, source, spec=spec, as_of=as_of, keys=keys,
                 filters=filters)
    h = F.xxhash64(F.col(spec.key), F.lit(seed))
    sharded = (
        df.withColumn("h", h)
        .withColumn("shard", F.pmod(F.col("h"), F.lit(n_shards)).cast("int"))
        .repartition(n_shards, "shard")
        # the partitionBy writer requires task rows ordered by the
        # partition column and would otherwise insert its own UNSTABLE
        # sort on `shard` alone, scrambling the h-order; sorting with
        # `shard` as the prefix satisfies the requirement so the writer
        # streams rows exactly in this order
        .sortWithinPartitions("shard", "h", spec.key)
    )
    sharded.write.partitionBy("shard").parquet(dest)
    counts = {
        int(r["shard"]): int(r["n"])
        for r in spark.read.parquet(dest).groupBy("shard")
        .agg(F.count(F.lit(1)).alias("n")).collect()
    }
    return {"n_shards": n_shards, "rows": counts, "dest": dest}


def pack(
    spark: SparkSession,
    source: str | DataFrame,
    dest: str,
    window: int = 2048,
    spec: TableSpec = SEQUENCES,
    target_tokens: int = layout.DEFAULT_TARGET_TOKENS,
    keys: str | None = None,
    filters: list[tuple] | None = None,
    as_of: int | str | None = None,
    n_buckets: int = 32,
) -> dict:
    """Concat-and-chunk context-window packing, frozen as its own table.

    The training-example assembly step: documents ordered by key, token
    streams laid end to end, the global stream cut into fixed
    ``window``-token rows, and the packed table frozen through the
    compression engine under the ``packed_sequences`` family
    (window_id, tokens, n_tok, n_docs). Every input token lands in
    exactly one window; window lengths are ``window`` except the tail.

    Scale shape: each document's global offset comes from a distributed
    two-phase cumulative sum — deterministic range buckets over the key
    span (parallelism-invariant, NOT spark_partition_id), a per-bucket
    window cumsum, and a driver-side prefix over the ~n_buckets totals
    broadcast back (bounded, like the chunk plan). Per-doc window
    slices are array ops under one Generate; windows assemble with one
    groupBy exchange (slices ordered by their global start, so the
    concatenation is deterministic). No global sort, no per-token
    shuffle rows. ``source``/``keys``/``filters``/``as_of`` follow
    collect() semantics.

    Rows whose list column is null or empty contribute no tokens and
    are dropped from the packed output (a training window has no
    representation for them). The packed table is materialized once as
    a staging parquet inside ``dest`` before the freeze — the engine's
    arrow-native scan plans tasks from parquet footers, so it needs a
    file source; under a catalog this staging is an Iceberg staging
    table and the freeze is the commit.
    """
    import shutil

    from pyspark.sql import Window as W

    from .tablespec import PACKED_SEQUENCES

    if window < 1:
        raise ValueError("window must be >= 1")
    lc = spec.list_column
    if lc is None:
        raise ValueError(f"table {spec.name!r} has no list column to pack")
    df = collect(spark, source, spec=spec, keys=keys, filters=filters,
                 as_of=as_of)
    base = df.select(
        _key_expr(spec).alias("k"),
        F.col(lc).alias("toks"),
        F.size(F.col(lc)).cast("long").alias("w"),
    )
    lo, hi = base.agg(F.min("k"), F.max("k")).first()
    if lo is None:
        raise ValueError("pack: empty input")
    span = max(int(hi) - int(lo) + 1, 1)
    nb = max(1, n_buckets)
    bucket = F.least(
        F.lit(nb - 1), ((F.col("k") - F.lit(int(lo))) * nb / F.lit(span))
        .cast("int"),
    )
    b = base.withColumn("pid", bucket).repartition(nb, "pid")
    w_local = (
        W.partitionBy("pid").orderBy("k")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    loc = b.withColumn(
        "local_start", F.coalesce(F.sum("w").over(w_local), F.lit(0))
    )
    totals = sorted(
        b.groupBy("pid").agg(F.sum("w").alias("tot")).collect(),
        key=lambda r: r["pid"],
    )
    tot = np.array([int(r["tot"]) for r in totals], dtype=np.int64)
    pre_df = spark.createDataFrame(pa.table({  # arrow: no Python stage
        "pid": pa.array([int(r["pid"]) for r in totals], pa.int32()),
        "offset": pa.array(np.cumsum(tot) - tot, pa.int64()),
    }))
    g = (
        loc.join(F.broadcast(pre_df), "pid")
        .withColumn("start", F.col("offset") + F.col("local_start"))
        .filter(F.col("w") > 0)
    )
    e = g.select(
        "toks", "w", "start",
        F.explode(
            F.expr(f"sequence(start div {window}, "
                   f"(start + w - 1) div {window})")
        ).alias("window_id"),
    )
    sl = F.expr(
        f"slice(toks, CAST(greatest(window_id * {window} - start, 0) AS INT)"
        f" + 1, CAST(least(start + w, (window_id + 1) * {window}) "
        f"- greatest(start, window_id * {window}) AS INT))"
    )
    packed = (
        e.withColumn("sl", sl)
        .groupBy("window_id")
        .agg(
            F.flatten(
                F.expr("transform(array_sort(collect_list(struct(start, sl)))"
                       ", x -> x.sl)")
            ).alias("tokens"),
            F.count(F.lit(1)).cast("int").alias("n_docs"),
        )
        .select(
            F.col("window_id").cast("long").alias("window_id"),
            "tokens",
            F.size("tokens").cast("int").alias("n_tok"),
            "n_docs",
        )
    )
    staging = dest.rstrip("/") + "/_staging_packed"
    try:
        packed.write.mode("overwrite").parquet(staging)
        n_windows = spark.read.parquet(staging).count()  # footer metadata
        stats = freeze(spark, staging, dest, target_tokens=target_tokens,
                       spec=PACKED_SEQUENCES)
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    stats["window"] = window
    stats["n_windows"] = int(n_windows)
    return stats
