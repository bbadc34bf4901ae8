"""Deterministic chunk layout: sequence-count range partitioning + salting.

The reference splits its key space into fixed-size chunks before
scheduling (subchunk_by_size,
/root/reference/crates/freeze/src/types/chunks/subchunks.rs:13-33, with
aligned boundaries /root/reference/crates/freeze/src/types/chunks/number_chunk.rs:76-89).
Our key space is (source, doc_id) and the balance target is *tokens per
chunk*, per BASELINE.json:north_rule ("explicit repartitioning by
sequence-count ranges and salting of skewed source partitions").

Chunk boundaries must be a pure function of the data — NOT of the
partition count — so runs at local[8] and local[32] produce identical
chunks (FIXTURES.md §4). We plan on the driver from a coarse histogram:

1. one column-pruned pass (doc_id, n_tok, source only — the parquet
   scan never touches the token arrays) buckets every row by
   ``hash(doc_id) % B`` (B sized to give ~16 buckets per chunk, capped
   so the collected histogram stays bounded at any data scale) and sums
   tokens per (source, bucket): a numpy bincount per task inside
   mapInArrow, then a tiny groupBy over ≤ B rows per task;
2. a driver-side cumulative sweep over bucket ranges closes a chunk
   every ~target_tokens; a single bucket heavier than the target is
   *salted*: split deterministically across ceil(tokens/target) chunk
   ids by a second hash — the skew handling the reference lacks
   (SURVEY.md §2.10).

The hash is our own numpy kernel (hashing.py) so the executor-side
assignment (fused into the encode job's pack kernel, engine.py) computes
the same buckets with zero JVM involvement — no per-run broadcast join,
no driver-side createDataFrame on the hot path. A doc_id prefix
histogram was rejected earlier: zero-padded ids put all discriminating
characters at the end, collapsing every prefix length into 1 group or
n_docs groups. Hash buckets are uniform for any id shape.

The only shuffle in the encode job remains the repartition/groupBy on
(partition_id, chunk_id) that co-locates chunks.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np
import pyarrow as pa

from pyspark import AccumulatorParam
from pyspark.sql import DataFrame, functions as F

from . import tablespec
from .arrowutil import amap
from .hashing import bucket_of, hash_utf8
from .tablespec import SEQUENCES, TableSpec

DEFAULT_TARGET_TOKENS = 1 << 21  # ~2M tokens ≈ 8 MiB int32 per chunk
BUCKETS_PER_CHUNK = 16
MAX_BUCKETS = 1 << 20  # caps the driver-side histogram at any scale
SALT_SEED = 1  # second, independent hash for spreading salted buckets


@dataclass
class ChunkPlan:
    n_buckets: int
    target_tokens: int
    n_chunks: int
    n_salted_buckets: int
    partition_of_source: dict[str, int]
    # rows: (source, bucket, partition_id, chunk_base, n_salts)
    mapping: list[tuple[str, int, int, int, int]]
    # "hash" (default): buckets by key hash — balance-first, the layout
    # every incremental append can reuse. "range": buckets by a
    # monotone per-source affine map of the numeric key — the
    # reference's key-range chunks (number_chunk.rs:76-89); chunk key
    # ranges come out tight and disjoint, so manifest zone maps prune
    # range reads exactly. range_bounds: per-source (key_min, key_max).
    layout: str = "hash"
    range_bounds: dict | None = None

    def lookup(self) -> dict[str | None, tuple[np.ndarray, np.ndarray, np.ndarray, int]]:
        """Dense per-source arrays indexed by bucket: (pid, chunk_base,
        n_salts, first_chunk).

        The executor-side assignment structure — O(1) gather per row,
        shipped once per executor via ``sc.broadcast``. Unplanned
        buckets carry pid = -1; rows hashing there are zero-token rows
        (the histogram weighs buckets by tokens, so only weight-0
        buckets go unplanned) and fall back to the source's first
        chunk — deterministic and weightless, so balance is unaffected.
        """
        out: dict[str | None, tuple[np.ndarray, np.ndarray, np.ndarray, int]] = {}
        for source, bucket, pid, base, salts in self.mapping:
            if source not in out:
                out[source] = (
                    np.full(self.n_buckets, -1, dtype=np.int32),
                    np.zeros(self.n_buckets, dtype=np.int32),
                    np.ones(self.n_buckets, dtype=np.int32),
                    base,
                )
            p, b, s, first = out[source]
            p[bucket] = pid
            b[bucket] = base
            s[bucket] = salts
            if base < first:
                out[source] = (p, b, s, base)
        return out


def _source_groups(src: pa.Array | None, n_rows: int | None = None):
    """Yield (source_value_or_None, row_mask) per distinct source.

    Null sources are a first-class group: dictionary indices leave nulls
    as nulls, and a naive ``to_numpy().astype(int)`` turns them into
    garbage codes that silently drop the rows from both the histogram
    and the assignment (planner and assigner must see identical groups).
    ``src=None`` (a spec without a partition column) is one "" group.
    """
    if src is None:
        yield "", np.ones(n_rows, dtype=bool)
        return
    de = src.dictionary_encode()
    n_dict = len(de.dictionary)
    codes = (
        de.indices.fill_null(n_dict)
        .to_numpy(zero_copy_only=False).astype(np.int64)
    )
    values = de.dictionary.to_pylist() + ([None] if src.null_count else [])
    for ci, s in enumerate(values):
        yield s, codes == ci


def key_nums(t: pa.Table, spec: TableSpec) -> np.ndarray:
    """Numeric key per row, vectorized (the kernels' _key_expr analog).

    Int keys pass through; the sequences 'doc-%012d' format parses its
    12 digits with one reshape + matmul (no per-row Python). Other
    string keys have no numeric form — range layout refuses them at
    plan time, so kernels never reach this error.
    """
    arr = t.column(spec.key).combine_chunks()
    if spec.key_col.kind in ("int32", "int64"):
        return arr.to_numpy(zero_copy_only=False).astype(np.int64)
    if spec.name == SEQUENCES.name:
        n = len(arr)
        off = arr.offset
        offsets = np.frombuffer(arr.buffers()[1], np.int32)[off: off + n + 1]
        data = np.frombuffer(arr.buffers()[2], np.uint8)
        if not (np.diff(offsets) == 16).all():
            raise ValueError("sequences keys must be 'doc-%012d'")
        digits = (
            data[offsets[0]: offsets[-1]].reshape(n, 16)[:, 4:16]
            .astype(np.int64) - 48
        )
        return digits @ (10 ** np.arange(11, -1, -1)).astype(np.int64)
    raise ValueError(
        f"range layout needs a numeric key form; table {spec.name!r} has "
        "a string key with no known numeric format")


def _range_bucket(knum: np.ndarray, kmin: int, kmax: int,
                  n_buckets: int) -> np.ndarray:
    """Monotone affine key -> bucket map (float64: monotone, and exact
    for key spans below 2^53 — document-id spaces by a wide margin)."""
    span = max(1, int(kmax) - int(kmin) + 1)
    b = ((knum - np.int64(kmin)).astype(np.float64)
         * (n_buckets / span)).astype(np.int64)
    return np.clip(b, 0, n_buckets - 1)


_Z_BITS = 21  # bits per z-order dimension; z = 42 bits, float64-exact


def _spread_bits(v: np.ndarray) -> np.ndarray:
    """Interleave-ready bit spread: bit i of v moves to bit 2i (classic
    Morton magic-mask chain, valid for values below 2^32)."""
    v = v.astype(np.uint64)
    v = (v | (v << np.uint64(16))) & np.uint64(0x0000FFFF0000FFFF)
    v = (v | (v << np.uint64(8))) & np.uint64(0x00FF00FF00FF00FF)
    v = (v | (v << np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    v = (v | (v << np.uint64(2))) & np.uint64(0x3333333333333333)
    v = (v | (v << np.uint64(1))) & np.uint64(0x5555555555555555)
    return v


def _zorder_bucket(knum: np.ndarray, wnum: np.ndarray,
                   b4: tuple[int, int, int, int],
                   n_buckets: int) -> np.ndarray:
    """Morton (z-order) key->bucket map over (key, weight).

    Both dimensions are first normalized to 21-bit grid cells with the
    SAME monotone affine map range layout uses, then bit-interleaved;
    buckets are contiguous z ranges. Chunks built from them cluster
    BOTH columns, so the manifest zone maps prune reads filtered on
    either one — Iceberg's rewrite_data_files z-ordering.
    """
    kmin, kmax, wmin, wmax = b4
    ka = _range_bucket(knum, kmin, kmax, 1 << _Z_BITS).astype(np.uint64)
    wa = _range_bucket(wnum.astype(np.int64), wmin, wmax,
                       1 << _Z_BITS).astype(np.uint64)
    z = (_spread_bits(ka) | (_spread_bits(wa) << np.uint64(1))).astype(np.int64)
    return _range_bucket(z, 0, (1 << (2 * _Z_BITS)) - 1, n_buckets)


def _is_zorder(bounds: dict | None) -> bool:
    return bounds is not None and any(len(v) == 4 for v in bounds.values())


def _bucketize(t: pa.Table, key_str: pa.Array, src, n_buckets: int,
               spec: TableSpec, bounds: dict | None) -> np.ndarray:
    """Per-row bucket ids: hash (default), range map, or z-order."""
    if bounds is None:
        return bucket_of(key_str, n_buckets)
    knum = key_nums(t, spec)
    zorder = _is_zorder(bounds)
    wnum = tablespec.row_weights(t, spec) if zorder else None
    buckets = np.zeros(t.num_rows, dtype=np.int64)
    for s, mask in _source_groups(src, t.num_rows):
        if zorder:
            b4 = bounds.get(s, (0, 0, 0, 0))
            buckets[mask] = _zorder_bucket(knum[mask], wnum[mask], b4,
                                           n_buckets)
        else:
            lo, hi = bounds.get(s, (0, 0))
            buckets[mask] = _range_bucket(knum[mask], lo, hi, n_buckets)
    return buckets


def sweep(
    hist: list[tuple[str, int, int]], target_tokens: int
) -> tuple[list[tuple[str, int, int, int, int]], int, int, dict[str, int]]:
    """Greedy cumulative sweep over (source, bucket, tokens) histogram rows.

    Returns (mapping, n_chunks, n_salted_buckets, partition_of_source).
    Pure driver-side function of the histogram — unit-testable and the
    seat of determinism.
    """
    by_source: dict[str | None, list[tuple[int, int]]] = {}
    for source, bucket, tokens in hist:
        by_source.setdefault(source, []).append((bucket, tokens))
    # None (null source) sorts first, deterministically
    sources = sorted(by_source, key=lambda s: (s is not None, s or ""))
    partition_of_source = {s: i for i, s in enumerate(sources)}

    mapping: list[tuple[str, int, int, int, int]] = []
    next_chunk = 0
    n_salted = 0
    for s in sources:
        acc = 0
        open_chunk = -1
        for bucket, tok in sorted(by_source[s]):
            if tok > target_tokens:
                n_salts = math.ceil(tok / target_tokens)
                mapping.append((s, bucket, partition_of_source[s], next_chunk, n_salts))
                next_chunk += n_salts
                n_salted += 1
                continue
            if open_chunk < 0 or acc + tok > target_tokens:
                open_chunk = next_chunk
                next_chunk += 1
                acc = 0
            mapping.append((s, bucket, partition_of_source[s], open_chunk, 1))
            acc += tok
    return mapping, next_chunk, n_salted, partition_of_source


_HIST_DDL = "source string, bucket int, tokens long"


def _hist_kernel(n_buckets: int, spec: TableSpec = SEQUENCES,
                 bounds: dict | None = None):
    """mapInArrow kernel: per-task (source, bucket) -> sum(weight) bincount."""

    def fn(batches):
        acc: dict[str | None, np.ndarray] = {}
        for b in batches:
            t = pa.Table.from_batches([b])
            src = tablespec.partition_values(t, spec)
            buckets = _bucketize(t, tablespec.key_strings(t, spec), src,
                                 n_buckets, spec, bounds)
            n_tok = tablespec.row_weights(t, spec)  # null weight weighs 0
            # group rows by source (few distinct values), bincount within
            for s, mask in _source_groups(src, t.num_rows):
                h = acc.setdefault(s, np.zeros(n_buckets, dtype=np.int64))
                # weighted bincount ≈ 30x faster than np.add.at scatter;
                # float64 weights are exact for token counts < 2^53
                h += np.bincount(buckets[mask], weights=n_tok[mask],
                                 minlength=n_buckets).astype(np.int64)
        names, bs, ts = [], [], []
        for s, h in acc.items():
            nz = np.flatnonzero(h)
            if not len(nz):
                # a source whose every row is zero-token must still own a
                # chunk, or its rows have nowhere to go at assign time
                nz = np.array([0], dtype=np.int64)
            names.extend([s] * len(nz))
            bs.append(nz.astype(np.int32))
            ts.append(h[nz])
        if not names:
            yield pa.RecordBatch.from_arrays(
                [pa.array([], pa.string()), pa.array([], pa.int32()), pa.array([], pa.int64())],
                names=["source", "bucket", "tokens"],
            )
            return
        yield pa.RecordBatch.from_arrays(
            [pa.array(names, pa.string()),
             pa.array(np.concatenate(bs)),
             pa.array(np.concatenate(ts))],
            names=["source", "bucket", "tokens"],
        )

    return fn


def _finish_plan(hist_df: DataFrame, n_buckets: int, target_tokens: int,
                 bounds: dict | None = None) -> ChunkPlan:
    hist_rows = (
        hist_df.groupBy("source", "bucket")
        .agg(F.sum("tokens").alias("tokens"))
        .collect()
    )
    hist = [(r["source"], int(r["bucket"]), int(r["tokens"])) for r in hist_rows]
    return _plan_of_hist(hist, n_buckets, target_tokens, bounds)


def _plan_of_hist(hist: list[tuple[str, int, int]], n_buckets: int,
                  target_tokens: int, bounds: dict | None = None) -> ChunkPlan:
    mapping, n_chunks, n_salted, partition_of_source = sweep(hist, target_tokens)
    return ChunkPlan(
        n_buckets=n_buckets,
        target_tokens=target_tokens,
        n_chunks=n_chunks,
        n_salted_buckets=n_salted,
        partition_of_source=partition_of_source,
        mapping=mapping,
        layout=("hash" if bounds is None
                else "zorder" if _is_zorder(bounds) else "range"),
        range_bounds=bounds,
    )


def _n_buckets_for(total_tokens: int, target_tokens: int) -> int:
    needed = max(1, math.ceil(total_tokens / target_tokens))
    return min(MAX_BUCKETS, max(256, needed * BUCKETS_PER_CHUNK))


def weight_expr(spec: TableSpec):
    """Per-row plan weight, the column :func:`weight_total` sums."""
    w = spec.weight_col
    if w is None:
        return F.lit(1)
    if w.is_list:
        # ANSI size(NULL) is null, legacy is -1 — clamp both to 0
        return F.greatest(F.coalesce(F.size(F.col(spec.weight)), F.lit(0)),
                          F.lit(0))
    return F.coalesce(F.col(spec.weight), F.lit(0))


def _key_num_expr(spec: TableSpec):
    """Spark numeric key expression (the key_nums kernel's SQL twin)."""
    if spec.key_col.kind in ("int32", "int64"):
        return F.col(spec.key)
    if spec.name == SEQUENCES.name:
        return F.substring(spec.key, 5, 12).cast("long")
    raise ValueError(
        f"range layout needs a numeric key form; table {spec.name!r} has "
        "a string key with no known numeric format")


def _range_bounds_of(df: DataFrame, spec: TableSpec) -> dict:
    """Per-source numeric key (min, max) — one tiny agg job."""
    knum = _key_num_expr(spec)
    gcol = tablespec.partition_expr(spec).alias("s")
    rows = df.groupBy(gcol).agg(F.min(knum).alias("lo"),
                                F.max(knum).alias("hi")).collect()
    return {r["s"]: (int(r["lo"]), int(r["hi"]))
            for r in rows if r["lo"] is not None}


def _zorder_bounds_of(df: DataFrame, spec: TableSpec) -> dict:
    """Per-source (key min/max, weight min/max) for the z-order grid.

    The second z dimension is the spec's scalar int weight column —
    the row property a pipeline filters on (sequence length). Null
    weights normalize to 0, matching the kernels' row_weights."""
    if spec.weight_col is None or spec.weight_col.is_list:
        raise ValueError(
            f"zorder layout needs a scalar int weight column; table "
            f"{spec.name!r} has {spec.weight!r}")
    knum = _key_num_expr(spec)
    w = weight_expr(spec)
    gcol = tablespec.partition_expr(spec).alias("s")
    rows = df.groupBy(gcol).agg(
        F.min(knum).alias("klo"), F.max(knum).alias("khi"),
        F.min(w).alias("wlo"), F.max(w).alias("whi")).collect()
    return {r["s"]: (int(r["klo"]), int(r["khi"]), int(r["wlo"]),
                     int(r["whi"]))
            for r in rows if r["klo"] is not None}


def plan_chunks(df: DataFrame, target_tokens: int = DEFAULT_TARGET_TOKENS,
                n_chunks: int | None = None,
                spec: TableSpec = SEQUENCES,
                layout: str = "hash",
                total_tokens: int | None = None) -> ChunkPlan:
    """Compute deterministic chunk boundaries; two driver jobs, small collects.

    ``total_tokens`` is the frame's weight total when the caller already
    knows it exactly (compact sums its candidates' manifest n_values):
    the job that would compute it is skipped.

    ``n_chunks`` is the subchunk_by_count analog (reference
    crates/freeze/src/types/chunks/subchunks.rs:28-33): the target size
    is derived from the total so the sweep lands near that many chunks
    (bucket-granular, so approximate where the reference's key-range
    split is exact). ``layout='range'`` buckets by the monotone key map
    instead of the hash — the reference's key-range chunks, with tight
    disjoint per-chunk key ranges (one extra tiny bounds agg).
    """
    if layout not in ("hash", "range", "zorder"):
        raise ValueError(
            f"unknown layout {layout!r}; 'hash', 'range' or 'zorder'")
    bounds = (None if layout == "hash"
              else _range_bounds_of(df, spec) if layout == "range"
              else _zorder_bounds_of(df, spec))
    if total_tokens is None:
        total_tokens = weight_total(df, spec)
    if n_chunks is not None:
        target_tokens = max(1, math.ceil(total_tokens / n_chunks))
    n_buckets = _n_buckets_for(total_tokens, target_tokens)
    hist_df = amap(df.select(*spec.plan_columns()),
                   _hist_kernel(n_buckets, spec, bounds), _HIST_DDL)
    return _finish_plan(hist_df, n_buckets, target_tokens, bounds)


class _HistSum(AccumulatorParam):
    """Accumulator of :func:`_hist_kernel` outputs: each task adds its
    (source, bucket, tokens) table, and every merge sums the rows of
    equal (source, bucket), so the running value holds one row per
    bucket — what ``_finish_plan``'s groupBy collects."""

    def zero(self, value):
        return None

    def addInPlace(self, a, b):
        if a is None or b is None:
            return b if a is None else a
        return (pa.concat_tables([a, b]).group_by(["source", "bucket"])
                .aggregate([("tokens", "sum")])
                .select(["source", "bucket", "tokens_sum"])
                .rename_columns(["source", "bucket", "tokens"]))


class PlanTap:
    """:func:`plan_chunks` (hash layout) summed while another job
    streams the rows: ``kernel`` is an arrow kernel that yields its
    batches unchanged and adds their :func:`_hist_kernel` histogram to
    an accumulator, and :meth:`plan` sweeps the total once that job has
    run. Fused into the decode that compaction checkpoints anyway,
    planning starts no job of its own. The plan is ``plan_chunks``'s
    over the same rows and ``total_tokens``. (A kernel call here may
    cover one file of a task where ``plan_chunks`` histograms the whole
    task, so a source whose file holds only zero-weight rows can add a
    weightless bucket-0 entry; its rows land in the same first chunk of
    the source either way.)

    Each task's histogram reaches the driver with its result, once per
    successful task; a recomputation of a lost checkpoint block adds to
    the accumulator after :meth:`plan` ran, so it cannot skew the plan.
    The rows the kernel saw are counted the same way (``n_rows``).
    """

    def __init__(self, spark, total_tokens: int, target_tokens: int,
                 spec: TableSpec = SEQUENCES):
        self.n_buckets = _n_buckets_for(total_tokens, target_tokens)
        self.target_tokens = target_tokens
        self._acc = spark.sparkContext.accumulator(None, _HistSum())
        self._rows = spark.sparkContext.accumulator(0)
        acc, rows, hist, cols = (self._acc, self._rows,
                                 _hist_kernel(self.n_buckets, spec),
                                 spec.plan_columns())

        def kernel(batches):
            seen = []  # only the plan columns wait for the last batch
            for b in batches:
                seen.append(pa.RecordBatch.from_arrays(
                    [b.column(c) for c in cols], names=cols))
                yield b
            rows.add(sum(b.num_rows for b in seen))
            for h in hist(iter(seen)):
                acc.add(pa.Table.from_batches([h]))

        self.kernel = kernel

    @property
    def n_rows(self) -> int:
        """Rows the kernel passed through, once its job has run."""
        return self._rows.value

    def plan(self) -> ChunkPlan:
        t = self._acc.value
        hist = [] if t is None else [
            (s, int(b), int(w)) for s, b, w in zip(
                *(t.column(c).to_pylist()
                  for c in ("source", "bucket", "tokens")))]
        return _plan_of_hist(hist, self.n_buckets, self.target_tokens)


def weight_total(df: DataFrame, spec: TableSpec = SEQUENCES) -> int:
    """Total plan weight of ``df``'s rows (one tiny agg job)."""
    return int(df.agg(F.sum(weight_expr(spec)).alias("t")).first()["t"] or 0)


def plan_chunks_arrow(
    spark, input_path: str, target_tokens: int = DEFAULT_TARGET_TOKENS,
    n_chunks: int | None = None, spec: TableSpec = SEQUENCES,
) -> ChunkPlan:
    """plan_chunks over the Arrow-native source (sources.arrow_scan).

    Same histogram/sweep — only the scan differs: column pruning happens
    in the pyarrow reader, the token arrays are never decoded.
    """
    from . import sources

    # EXACT weight total from parquet footers (num_values of the payload
    # list column = its flattened element count — the statistic an
    # Iceberg manifest carries; num_values of the key = row count).
    # Replaces a whole scan job: at the 2.1B-token bench input that job
    # was ~64 serialized python dispatches of pure overhead. Specs whose
    # weight has no exact footer statistic (scalar weight, no list
    # contract) must plan via plan_chunks instead.
    stat_col = spec.footer_stat_col
    if stat_col is None:
        raise ValueError(
            f"spec {spec.name!r} has no footer weight statistic; "
            "use plan_chunks (scan-based planning)"
        )
    total_tokens = max(1, sources.column_values(input_path, stat_col))
    if n_chunks is not None:
        target_tokens = max(1, math.ceil(total_tokens / n_chunks))
    n_buckets = _n_buckets_for(total_tokens, target_tokens)
    hist_df = sources.arrow_scan(
        spark, input_path, spec.plan_columns(),
        _hist_kernel(n_buckets, spec), _HIST_DDL,
    )
    return _finish_plan(hist_df, n_buckets, target_tokens)


def assign_arrays(
    doc_id: pa.Array | pa.ChunkedArray,
    source: pa.Array | pa.ChunkedArray,
    lut: dict[str, tuple[np.ndarray, np.ndarray, np.ndarray]],
    n_buckets: int,
    bounds: dict | None = None,
    knum: np.ndarray | None = None,
    wnum: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized (partition_id, chunk_id) for a batch of rows.

    chunk_id is a pure function of (source, bucket(doc_id), histogram) —
    identical at any parallelism level. The bucket is the key hash
    (default), the monotone key map for range-layout plans (``bounds``
    per source + precomputed ``knum``), or the Morton map for z-order
    plans (4-tuple bounds + precomputed ``wnum``). Salted buckets
    spread across their chunk span by a second, independent hash
    (SALT_SEED).
    """
    if isinstance(source, pa.ChunkedArray):
        source = source.combine_chunks()
    if (isinstance(doc_id, (pa.Array, pa.ChunkedArray)) and doc_id.null_count):
        raise ValueError("doc_id must be non-null (it is the key space)")
    if bounds is None:
        buckets = bucket_of(doc_id, n_buckets)
    else:
        n_ = len(knum)
        zorder = _is_zorder(bounds)
        buckets = np.zeros(n_, dtype=np.int64)
        for s, mask in _source_groups(source, n_):
            if zorder:
                b4 = bounds.get(s, (0, 0, 0, 0))
                buckets[mask] = _zorder_bucket(knum[mask], wnum[mask], b4,
                                               n_buckets)
            else:
                lo, hi = bounds.get(s, (0, 0))
                buckets[mask] = _range_bucket(knum[mask], lo, hi, n_buckets)
    n = len(buckets)
    pid = np.full(n, -1, dtype=np.int32)
    cid = np.zeros(n, dtype=np.int64)
    salt_hash: np.ndarray | None = None
    for s, mask in _source_groups(source, n):
        if s not in lut:
            raise KeyError(f"source {s!r} absent from chunk plan")
        p, base, salts, first_chunk = lut[s]
        bk = buckets[mask]
        row_pid = p[bk]
        row_cid = base[bk].astype(np.int64)
        unplanned = row_pid < 0
        if unplanned.any():
            # weight-0 buckets (all-zero-token rows) — see lookup()
            row_pid[unplanned] = p[p >= 0][0] if (p >= 0).any() else 0
            row_cid[unplanned] = first_chunk
        salt = np.zeros(int(mask.sum()), dtype=np.int64)
        multi = salts[bk] > 1
        if multi.any():
            if salt_hash is None:
                salt_hash = hash_utf8(doc_id, seed=SALT_SEED)
            sh = salt_hash[np.flatnonzero(mask)[multi]]
            salt[multi] = (sh % salts[bk][multi].astype(np.uint64)).astype(np.int64)
        pid[mask] = row_pid
        cid[mask] = row_cid + salt
    if (pid < 0).any():
        raise KeyError("row hashed to a bucket absent from the chunk plan")
    return pid, cid.astype(np.int32)


def assign_chunks(df: DataFrame, plan: ChunkPlan) -> DataFrame:
    """Attach (partition_id, chunk_id) columns (generic/compat path).

    The encode job does NOT use this — assignment is fused into its pack
    kernel (engine._pack_tokens) to avoid a second pass over the token
    arrays. This DataFrame-level variant serves streaming/tests and any
    caller that wants the assignment alone.
    """
    spark = df.sparkSession
    lut_b = spark.sparkContext.broadcast(plan.lookup())
    n_buckets = plan.n_buckets
    out_ddl = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    ) + ", partition_id int, chunk_id int"

    bounds = plan.range_bounds

    def fn(batches):
        for b in batches:
            t = pa.Table.from_batches([b])
            pid, cid = assign_arrays(
                t.column("doc_id"), t.column("source"), lut_b.value,
                n_buckets, bounds=bounds,
                knum=None if bounds is None else key_nums(t, SEQUENCES),
                wnum=(tablespec.row_weights(t, SEQUENCES)
                      if _is_zorder(bounds) else None),
            )
            t = t.append_column("partition_id", pa.array(pid, pa.int32()))
            t = t.append_column("chunk_id", pa.array(cid, pa.int32()))
            yield from t.to_batches()

    return amap(df, fn, out_ddl)
