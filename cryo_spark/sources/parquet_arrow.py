"""Arrow-native distributed parquet source (row-group-granular scan tasks).

Why not ``spark.read.parquet`` for the encode job: Spark's scan hands
rows to a python stage through ColumnarToRow + ArrowWriter, which boxes
every element of the ``tokens array<int>`` column twice. Measured on
the 2.1B-token bench input, the JVM scan+pack map stage runs ~10.5 s at
local[16]; a pyarrow read of the same columns decodes at ~62M tokens/s
per core with the list column staying columnar end-to-end (~3x the
whole map stage).

Shape: the driver plans (file, row-group range) tasks from parquet
footers — the same planning shape as an Iceberg/Delta scan (file +
split metadata from a manifest), and :func:`run_each` runs each planned
task as one Spark task; it reads its row groups with pyarrow (column
pruning pushed into the reader) and streams batches into the caller's
kernel. Spark still owns distribution, scheduling, retries and
everything downstream of the scan. The reference's analog is its keyed fetch layer
(/root/reference/crates/freeze/src/types/sources.rs:394-1124) where the
engine, not a generic scan node, owns data acquisition.

Every read goes through pyarrow, so a path is a local path or any URI
``pyarrow.fs`` opens (``file://``, ``s3://``, ``gs://``, ...). Input
discovery (:func:`supports`, :func:`_files`) lists local dirs only; a
frozen output's files come from its read view (``readview._Store``,
pyarrow.fs), which :func:`arrow_scan_files` takes as given.
"""

from __future__ import annotations

import heapq
import os
import urllib.parse

import pyarrow as pa
import pyarrow.parquet as pq

from pyspark.sql import DataFrame, SparkSession

from ..arrowutil import amap

DEFAULT_TASK_BYTES = 192 << 20  # compressed bytes per scan task
HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"  # a null k=v dir value


def supports(input_path: str) -> bool:
    """Local parquet file or directory of parquet shards."""
    if "://" in input_path:
        return False
    if os.path.isfile(input_path):
        return True
    return os.path.isdir(input_path) and any(
        f.endswith(".parquet") for f in os.listdir(input_path)
    )


def _files(input_path: str) -> list[str]:
    if os.path.isfile(input_path):
        return [input_path]
    return sorted(
        os.path.join(input_path, f)
        for f in os.listdir(input_path)
        if f.endswith(".parquet")
    )


def scan_meta(input_path: str, columns: list[str] | None = None
              ) -> list[tuple[str, list[int]]]:
    """(path, per-row-group bytes of the REQUESTED columns) from footers.

    One footer read per file on the driver — the same planning metadata
    an Iceberg/Delta manifest would hand over without touching footers.
    Column-aware sizing matters: the planning histogram reads only
    (doc_id, n_tok, source) ≈ 3% of the bytes, so sizing its tasks by
    full-row bytes would dispatch ~10x more python tasks than the work
    deserves.
    """

    def rg_bytes(g):
        if columns is None:
            return g.total_byte_size
        want = set(columns)
        return sum(
            g.column(c).total_uncompressed_size
            for c in range(g.num_columns)
            if g.column(c).path_in_schema.split(".")[0] in want
        )

    return [
        (
            path,
            [rg_bytes(md.row_group(rg)) for rg in range(md.num_row_groups)],
        )
        for path in _files(input_path)
        for md in [pq.ParquetFile(path).metadata]
    ]


def column_values(input_path: str, column: str) -> int:
    """EXACT leaf-value count of one column across the table, footers only.

    Parquet column-chunk metadata records num_values per row group — for
    the tokens list column that is the total token count, so planning
    needs no scan job at all (the same statistic an Iceberg manifest
    carries)."""
    total = 0
    for path in _files(input_path):
        md = pq.ParquetFile(path).metadata
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for c in range(g.num_columns):
                col = g.column(c)
                if col.path_in_schema.split(".")[0] == column:
                    total += col.num_values
    return total


def pack_tasks(
    meta: list[tuple[str, list[int]]], target_bytes: int
) -> list[tuple[list[str], list[int], list[int]]]:
    """Greedy-pack row-group runs into ~target_bytes tasks, spanning files.

    A task is (paths, rg_starts, rg_counts) — parallel lists of file
    segments. Spanning files matters both ways: a 10 GB file fans out
    over row groups, and a directory of 64 small shards packs into a
    handful of tasks instead of one python dispatch per shard
    (~12 ms/task serialized per executor — the dominant non-scaling
    cost the r1 scaling bench measured).
    """
    tasks: list[tuple[list[str], list[int], list[int]]] = []
    cur: tuple[list[str], list[int], list[int]] = ([], [], [])
    acc = 0

    def flush():
        nonlocal cur, acc
        if cur[0]:
            tasks.append(cur)
        cur, acc = ([], [], []), 0

    for path, rg_sizes in meta:
        start = None
        for rg, sz in enumerate(rg_sizes):
            if start is None:
                start = rg
            acc += sz
            if acc >= target_bytes:
                cur[0].append(path)
                cur[1].append(start)
                cur[2].append(rg - start + 1)
                start = None
                flush()
        if start is not None:
            cur[0].append(path)
            cur[1].append(start)
            cur[2].append(len(rg_sizes) - start)
    flush()
    return tasks


def plan_scan_tasks(
    input_path: str, target_bytes: int = DEFAULT_TASK_BYTES
) -> list[tuple[list[str], list[int], list[int]]]:
    """Tasks of ~target_bytes (uncompressed) each; row groups are the
    split unit (parquet's own independence boundary) — the analog of
    cryo's subchunk_by_size over the key space
    (/root/reference/crates/freeze/src/types/chunks/subchunks.rs:13-33).
    """
    tasks = pack_tasks(scan_meta(input_path), target_bytes)
    return tasks


def arrow_scan(
    spark: SparkSession,
    input_path: str,
    columns: list[str],
    kernel,
    out_ddl: str,
    target_bytes: int = DEFAULT_TASK_BYTES,
) -> DataFrame:
    """Distributed pyarrow scan feeding ``kernel`` (an iterator-of-batches
    transform, same contract as a mapInArrow function).

    Task count is wave-aligned: rounded up to a multiple of the cluster
    parallelism so the last scheduling wave is full at every level —
    e.g. 64 shards on 16 cores would otherwise run 4 full waves at
    local[16] but leave local[4]'s task count identical, paying the same
    serialized python dispatch at a quarter of the useful work.
    """
    meta = scan_meta(input_path, columns)
    total = sum(sum(s) for _, s in meta)
    par = max(1, spark.sparkContext.defaultParallelism)
    n_desired = max(1, -(-total // target_bytes))
    n_tasks = -(-n_desired // par) * par  # round up to full waves
    tasks = [[[(p, list(range(s, s + c)))] for p, s, c in zip(*t)]
             for t in pack_tasks(meta, max(1, -(-total // n_tasks)))]
    return _run_tasks(spark, tasks, columns,
                      lambda _path, batches: kernel(batches), out_ddl)


def select_row_groups(path: str, column: str,
                      wanted: set) -> list[int] | None:
    """Row groups whose ``column`` min/max stats may contain ANY wanted
    value; None when any group lacks stats (caller reads everything).

    The physical-projection half of the encoded layout: files written
    by engine._write_task_files cluster rows by (column, chunk_id), so a
    skinny projection's wanted values fall into a contiguous band of
    row groups and everything outside the band — the fat payload
    columns — is never read off disk.
    """
    md = pq.ParquetFile(path).metadata
    out: list[int] = []
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        stats = None
        for c in range(g.num_columns):
            col = g.column(c)
            if col.path_in_schema == column:
                stats = col.statistics
                break
        if stats is None or not stats.has_min_max:
            return None
        if any(stats.min <= w <= stats.max for w in wanted):
            out.append(rg)
    return out


def run_each(spark: SparkSession, tasks: list, fn, out_ddl: str
             ) -> DataFrame:
    """``fn(task)`` (an iterator of arrow batches) once per task, one
    Spark task apiece, in ONE stage: partition ``i`` of
    ``spark.range(0, n, 1, n)`` runs ``fn(tasks[i])``.

    The task list rides in the kernel closure (PySpark broadcasts a
    pickled command over 1 MB), so dispatch needs no Python-built
    DataFrame and no exchange, and no two tasks share a partition — a
    round-robin ``repartition`` of a task-list DataFrame would cost a
    Python stage plus a shuffle, and its placement stacks tasks on one
    slot."""
    tasks = list(tasks)

    def kernel(batches):
        for b in batches:
            for i in b.column(0).to_pylist():
                yield from fn(tasks[i])

    return amap(spark.range(0, len(tasks), 1, max(1, len(tasks))), kernel,
                out_ddl)


def _read_unit(unit: list[tuple[str, list[int]]],
               columns: list[str]) -> pa.Table:
    """``columns`` of one scan unit, its files' (path, row groups), as
    one table. A ``partition_by`` layout keeps some columns only in the
    directory path: a column a file lacks is filled from its path's
    ``k=v`` segment as a string (Hive layout, as Spark reads it:
    percent-escaped, ``__HIVE_DEFAULT_PARTITION__`` for null)."""
    tables = []
    for path, rgs in unit:
        pf = pq.ParquetFile(path)
        names = set(pf.schema_arrow.names)
        t = pf.read_row_groups(rgs, columns=[c for c in columns if c in names],
                               use_threads=False)
        dirs = dict(seg.split("=", 1) for seg in path.split("/")[:-1]
                    if "=" in seg)
        for c in columns:
            if c not in names and c in dirs:
                v = urllib.parse.unquote(dirs[c])
                t = t.append_column(c, pa.array(
                    [None if v == HIVE_NULL else v] * t.num_rows, pa.string()))
        tables.append(t.select([c for c in columns if c in t.column_names]))
    return pa.concat_tables(tables)


def _run_tasks(spark, tasks, columns, kernel, out_ddl) -> DataFrame:
    """Run ``kernel(path, batches)`` once per scan unit of each task: a
    task is a list of units, a unit a list of (path, row groups) read
    as one table (:func:`_read_unit`), and ``path`` its first file."""

    def read_task(task):
        for unit in task:
            t = _read_unit(unit, columns)
            yield from kernel(unit[0][0], t.to_batches())

    return run_each(spark, tasks, read_task, out_ddl)


def pack_files(sizes: list[int], n_tasks: int) -> list[list[int]]:
    """Whole files into ``n_tasks`` bins of near-equal bytes: largest
    file first, each into the lightest bin so far (ties to the lower
    bin). Returns each non-empty bin's file indices in input order."""
    heap = [(0, b) for b in range(max(1, n_tasks))]
    bins: list[list[int]] = [[] for _ in heap]
    for i in sorted(range(len(sizes)), key=lambda i: (-sizes[i], i)):
        load, b = heapq.heappop(heap)
        bins[b].append(i)
        heapq.heappush(heap, (load + sizes[i], b))
    return [sorted(b) for b in bins if b]


def arrow_scan_files(
    spark: SparkSession,
    files: list,
    columns: list[str],
    kernel,
    out_ddl: str,
    target_bytes: int = DEFAULT_TASK_BYTES,
    row_groups: dict[str, list[int]] | None = None,
) -> DataFrame:
    """Arrow scan over explicit scan units with UNIT-granular splits.

    ``files`` lists the units: each a path, or a list of paths read
    together. Unlike :func:`arrow_scan`, a unit is never divided across
    tasks and the kernel is invoked once per whole unit — the contract
    the shuffle-free decode relies on (an encoded chunk's rows never
    span the files of one encode task, but do span row groups, and the
    ``k=v`` dirs of a ``partition_by`` over a column such as
    ``column``). Units pack into a wave-aligned task count by bytes
    (:func:`pack_files`), several small ones to a task; the kernel runs
    per unit within it, as ``kernel(path, batches)`` with ``path`` the
    unit's first file, which carries its run and any ``k=v`` directory
    values; columns the files keep only in their ``k=v`` dirs arrive as
    strings (:func:`_read_unit`).

    ``row_groups`` restricts a file to the given row-group subset (from
    :func:`select_row_groups`), or skips it when the subset is empty:
    one kernel invocation still sees all of a unit's SELECTED groups
    together, so per-chunk decode stays whole for every surviving
    column.
    """
    want = set(columns)
    units, sizes = [], []
    for unit in files:
        parts, nbytes = [], 0
        for path in [unit] if isinstance(unit, str) else unit:
            md = pq.ParquetFile(path).metadata
            rgs = (row_groups.get(path) if row_groups is not None else None)
            if rgs is None:
                rgs = list(range(md.num_row_groups))
            nbytes += sum(
                g.column(c).total_uncompressed_size
                for rg in rgs
                for g in [md.row_group(rg)]
                for c in range(g.num_columns)
                if g.column(c).path_in_schema.split(".")[0] in want
            )
            if rgs:  # no surviving row groups: nothing to read
                parts.append((path, rgs))
        if parts:
            units.append(parts)
            sizes.append(nbytes)
    par = max(1, spark.sparkContext.defaultParallelism)
    n_desired = max(1, -(-sum(sizes) // target_bytes))
    n_tasks = min(len(units), -(-n_desired // par) * par)  # full waves
    tasks = [[units[i] for i in members]
             for members in pack_files(sizes, n_tasks)]
    return _run_tasks(spark, tasks, columns, kernel, out_ddl)
