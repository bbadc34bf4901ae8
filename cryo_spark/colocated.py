"""Co-located join of two frozen outputs — zero payload exchange.

The Iceberg storage-partitioned-join analog: when two frozen tables
share a chunk plan (same plan fingerprint — produced by
``freeze(..., align_with=<other output>)``), every key lives in the
SAME chunk_id on both sides, and the encode stage co-locates a chunk's
rows inside one encoded file.  A join on the key therefore never needs
a shuffle: the driver pairs each side's encoded files by the chunks
they share (manifest-scale metadata work — one tiny chunk_id column
read per file, the same order of work an Iceberg driver does reading
manifests), and each task decodes its file group from BOTH directories
and hash-joins chunk-by-chunk in process.

At the 10^12-sequence scale this is the difference between a read and
TWO full shuffles of the compressed tables: Spark's SortMergeJoin would
exchange + sort both sides on the key even though the frozen layout
already clusters them.  The plan has no exchange at all: the file
groups ride in the task closure, one Spark task each
(``sources.run_each``).

When the fast path's preconditions don't hold (different plans, live
compaction tombstones, pending deletes), the join
falls back to the relational path — ``decode_frozen`` both sides and a
normal Spark join — so the answer is always correct; ``require_colocated``
turns a silent fallback into an error for callers (and tests) that
depend on the zero-exchange plan.

Reference parity note: the reference has no join between frozen
outputs (its datasets join only at collect time); this operator exists
for the training-data pipeline mission, where enrichment tables
(scores, metadata, labels) are re-joined to the corpus every epoch.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import engine, readview
from .sources import run_each
from .tablespec import SEQUENCES, TableSpec

DEFAULT_TASK_BYTES = 192 << 20  # compressed bytes per join task (both sides)

ENC_COLUMNS = ["chunk_id", "column", "n_rows", "status", "payload"]


def _clean_files(output_dir: str) -> list[str] | None:
    """Encoded parquet files of a frozen output's head read view IF the
    fast-path preconditions hold, else None:

    - no pending equality deletes (row-level, only the relational path
      applies them);
    - no live compaction tombstones (retired chunks need the drop
      bitmaps, which the join kernel does not apply);
    - flat encoded layout (no ``partition_by`` nested dirs).
    """
    if "://" in output_dir:
        return None
    view = readview.read_view(output_dir)
    if view.deletes or view.drops:
        return None
    files = view.all_files()
    if any(not os.path.basename(os.path.dirname(f)).startswith("run=")
           for f in files):
        return None  # partition_by nested layout
    return files


def _run_of(path: str) -> str:
    """run id of an encoded file path (…/encoded/run=<id>/file.parquet)."""
    return os.path.basename(os.path.dirname(path))[len("run="):]


def _run_plans(spark: SparkSession, output_dir: str) -> dict[str, str] | None:
    """run -> plan fingerprint for every ok-committed run, or None when
    unavailable / malformed (a run spanning two plans)."""
    man = engine.read_manifest(spark, output_dir)
    if man is None:
        return None
    rows = man.filter(F.col("status") == "ok") \
        .select("run", "plan_id").distinct().collect()
    out = {r.run: r.plan_id for r in rows}
    if len(out) != len(rows):
        return None
    return out


def _one_plan(run_plans: dict[str, str] | None) -> str | None:
    """The one plan fingerprint of ``run_plans``, or None if 0 or many."""
    ids = set((run_plans or {}).values())
    return ids.pop() if len(ids) == 1 else None


def _plan_key_intervals(spark: SparkSession, output_dir: str,
                        spec: TableSpec) -> dict[str, tuple] | None:
    """Per-plan [min, max] key interval from manifest zone maps
    (metadata-only agg); None when the key has no numeric manifest form."""
    man = engine.read_manifest(spark, output_dir)
    if man is None:
        return None
    try:
        kmin = engine._manifest_key_num("min_doc_id", spec)
        kmax = engine._manifest_key_num("max_doc_id", spec)
    except ValueError:
        return None
    rows = (man.filter((F.col("status") == "ok")
                       & (F.col("column") == spec.key))
            .groupBy("plan_id")
            .agg(F.min(kmin).alias("lo"), F.max(kmax).alias("hi"))
            .collect())
    if any(r.lo is None or r.hi is None for r in rows):
        return None
    return {r.plan_id: (r.lo, r.hi) for r in rows}


def _multi_plan_tasks(
    spark: SparkSession, dir_a: str, dir_b: str,
    rp_a: dict[str, str] | None, rp_b: dict[str, str] | None,
    files_a: list[str], files_b: list[str], spec: TableSpec,
    how: str, parallelism: int, target_bytes: int,
) -> list[tuple[list[str], list[str]]] | None:
    """Task list for the per-plan-generation fast path, or None.

    After spec/layout evolution an output holds runs of SEVERAL plans;
    chunk ids are PLAN-relative, so pairing must happen within a plan
    generation. Sound iff a key can only meet its own plan's chunks on
    both sides, which the manifests prove cheaply: (a) both sides'
    visible plan sets are equal, and (b) every pair of DIFFERENT plans
    has disjoint [min, max] key intervals — within each side AND across
    sides (a key under plan P on side A and plan Q != P on side B would
    put it inside both I_A(P) and I_B(Q), which disjointness forbids).
    Tasks are packed per plan so a task's chunk-id space never mixes
    generations.
    """
    if rp_a is None or rp_b is None:
        return None
    pids = set(rp_a.values())
    if not pids or pids != set(rp_b.values()):
        return None
    for pid in sorted(pids):
        plan = (engine.load_output_plan(dir_a, pid)
                or engine.load_output_plan(dir_b, pid))
        if plan is None or plan.layout == "zorder":
            return None
    iv_a = _plan_key_intervals(spark, dir_a, spec)
    iv_b = _plan_key_intervals(spark, dir_b, spec)
    if iv_a is None or iv_b is None:
        return None
    ivs = ([(p, iv) for p, iv in iv_a.items()]
           + [(p, iv) for p, iv in iv_b.items()])
    for i in range(len(ivs)):
        for j in range(i + 1, len(ivs)):
            (p1, (lo1, hi1)), (p2, (lo2, hi2)) = ivs[i], ivs[j]
            if p1 != p2 and not (hi1 < lo2 or hi2 < lo1):
                return None
    tasks: list[tuple[list[str], list[str]]] = []
    for pid in sorted(pids):
        fa = [f for f in files_a if rp_a.get(_run_of(f)) == pid]
        fb = [f for f in files_b if rp_b.get(_run_of(f)) == pid]
        ma = _chunk_file_map(fa)
        mb = _chunk_file_map(fb)
        if ma is None or mb is None:
            return None
        groups = _file_groups(ma, mb)
        groups = [(a, b) for a, b in groups
                  if a and (b or how != "inner")]
        tasks.extend(_pack_groups(groups, parallelism, target_bytes))
    return tasks


def _chunk_file_map(files: list[str]) -> dict[int, str] | None:
    """chunk_id -> encoded file, from each file's tiny chunk_id/status
    columns (one row per chunk x column — metadata-scale).  None if a
    chunk's ok rows span files (layout contract broken: fall back)."""
    out: dict[int, str] = {}
    for path in files:
        t = pq.read_table(path, columns=["chunk_id", "status"])
        t = t.filter(pc.equal(t.column("status"), "ok"))
        for cid in pc.unique(t.column("chunk_id")).to_pylist():
            cid = int(cid)
            if out.get(cid, path) != path:
                return None
            out[cid] = path
    return out


def _file_groups(
    map_a: dict[int, str], map_b: dict[int, str]
) -> list[tuple[list[str], list[str]]]:
    """Connected components of the bipartite file graph linked by shared
    chunks: each group's A-files and B-files are closed under chunk
    co-residency, so one task can join its chunks without seeing any
    other task's files."""
    ids: dict[str, int] = {}
    parent: list[int] = []

    def node(name: str) -> int:
        i = ids.get(name)
        if i is None:
            i = ids[name] = len(parent)
            parent.append(i)
        return i

    def find(i: int) -> int:
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    for f in map_a.values():
        node("a:" + f)
    for f in map_b.values():
        node("b:" + f)
    for cid, fa in map_a.items():
        fb = map_b.get(cid)
        if fb is not None:
            ra, rb = find(node("a:" + fa)), find(node("b:" + fb))
            if ra != rb:
                parent[rb] = ra
    groups: dict[int, tuple[set, set]] = {}
    for name, i in ids.items():
        side, path = name[0], name[2:]
        g = groups.setdefault(find(i), (set(), set()))
        g[0 if side == "a" else 1].add(path)
    return [(sorted(a), sorted(b)) for a, b in groups.values()]


def _pack_groups(
    groups: list[tuple[list[str], list[str]]],
    parallelism: int,
    target_bytes: int,
) -> list[tuple[list[str], list[str]]]:
    """Pack file groups into ~target_bytes tasks, wave-aligned like
    parquet_arrow's planners (a partial last wave wastes cores)."""
    sized = [
        (a, b, sum(os.path.getsize(p) for p in (*a, *b)))
        for a, b in groups
    ]
    total = sum(s for _, _, s in sized)
    n_desired = max(1, -(-total // target_bytes))
    n_tasks = min(len(groups),
                  -(-n_desired // max(1, parallelism)) * max(1, parallelism))
    per_task = max(1, -(-total // max(1, n_tasks)))
    tasks: list[tuple[list[str], list[str]]] = []
    cur_a: list[str] = []
    cur_b: list[str] = []
    acc = 0
    for a, b, s in sized:
        cur_a.extend(a)
        cur_b.extend(b)
        acc += s
        if acc >= per_task:
            tasks.append((cur_a, cur_b))
            cur_a, cur_b, acc = [], [], 0
    if cur_a or cur_b:
        tasks.append((cur_a, cur_b))
    return tasks


def _decode_side(paths: list[str], columns: list[str],
                 spec: TableSpec) -> dict[int, pa.Table]:
    """Decode whole encoded files into per-chunk arrow tables
    (engine._decoded_chunks, the file scan's decode): only the row
    groups whose ``column`` band holds a requested column are read, and
    only the requested columns' payloads are decoded."""
    from .sources import select_row_groups

    out: dict[int, pa.Table] = {}
    for path in paths:
        # physical projection (engine._write_task_files clusters by column):
        # read only the row groups whose column band intersects
        rgs = select_row_groups(path, "column", set(columns))
        if rgs is None:
            tbl = pq.read_table(path, columns=ENC_COLUMNS)
        elif not rgs:
            continue
        else:
            tbl = pq.ParquetFile(path).read_row_groups(
                rgs, columns=ENC_COLUMNS, use_threads=False)
        out.update(engine._decoded_chunks(tbl, _run_of(path), columns, spec))
    return out


def _join_kernel(key: str, cols_a: list[str], cols_b: list[str],
                 spec_a: TableSpec, spec_b: TableSpec, how: str):
    """Per-task kernel: decode both sides' files, join chunk-by-chunk.

    pandas merge supplies exact SQL inner/left multiplicity semantics
    (duplicate keys produce the cross of their matches) — the key
    columns are small next to the payloads, and the payload columns
    move only through arrow ``take``."""

    import pandas as pd

    def fn(task):
        paths_a, paths_b = task
        amap_ = _decode_side(paths_a, [key, *cols_a], spec_a)
        bmap_ = _decode_side(paths_b, [key, *cols_b], spec_b)
        for cid in sorted(amap_):
            ta = amap_[cid]
            tbch = bmap_.get(cid)
            if tbch is None:
                if how == "inner" or ta.num_rows == 0:
                    continue
                nulls = [pa.nulls(ta.num_rows, spec_b.col(c).pa_type)
                         for c in cols_b]
                yield from pa.table(
                    [ta.column(key), *[ta.column(c) for c in cols_a],
                     *nulls],
                    names=[key, *cols_a, *cols_b],
                ).to_batches()
                continue
            la = pd.DataFrame({
                "k": ta.column(key).to_pandas(),
                "ia": np.arange(ta.num_rows, dtype=np.int64),
            })
            lb = pd.DataFrame({
                "k": tbch.column(key).to_pandas(),
                "ib": np.arange(tbch.num_rows, dtype=np.int64),
            })
            m = la.merge(lb, on="k", how=how, sort=False)
            if len(m) == 0:
                continue
            ia = pa.array(m["ia"].to_numpy())
            ib_np = m["ib"].to_numpy()
            if how == "left" and m["ib"].isna().any():
                ib = pa.array(np.where(np.isnan(ib_np), 0,
                                       ib_np).astype(np.int64),
                              mask=np.isnan(ib_np))
            else:
                ib = pa.array(ib_np.astype(np.int64))
            cols = [ta.column(key).take(ia)]
            cols += [ta.column(c).take(ia) for c in cols_a]
            cols += [tbch.column(c).take(ib) for c in cols_b]
            yield from pa.table(
                cols, names=[key, *cols_a, *cols_b]
            ).to_batches()

    return fn


def join_frozen(
    spark: SparkSession,
    dir_a: str,
    dir_b: str,
    columns_a: list[str] | None = None,
    columns_b: list[str] | None = None,
    how: str = "inner",
    require_colocated: bool = False,
    target_bytes: int = DEFAULT_TASK_BYTES,
) -> DataFrame:
    """Join two frozen outputs on their (shared) key column.

    Fast path (both outputs clean + one equal plan fingerprint each +
    key-pure layout): zero payload exchange — see module docstring.
    Otherwise falls back to ``decode_frozen`` + a relational join, or
    raises if ``require_colocated``.
    """
    if how not in ("inner", "left"):
        raise ValueError(f"how={how!r}: 'inner' or 'left'")
    spec_a = engine.load_output_spec(dir_a) or SEQUENCES
    spec_b = engine.load_output_spec(dir_b) or SEQUENCES
    key = spec_a.key
    if spec_b.key != key or spec_b.col(key).kind != spec_a.col(key).kind:
        raise ValueError(
            f"key mismatch: {spec_a.name}.{key} "
            f"({spec_a.col(key).kind}) vs {spec_b.name}.{spec_b.key} "
            f"({spec_b.col(spec_b.key).kind})")
    cols_a = ([c.name for c in spec_a.columns if c.name != key]
              if columns_a is None else [c for c in columns_a if c != key])
    cols_b = ([c.name for c in spec_b.columns if c.name != key]
              if columns_b is None else [c for c in columns_b if c != key])
    clash = set(cols_a) & set(cols_b)
    if clash:
        raise ValueError(
            f"both sides select {sorted(clash)}; pick disjoint "
            "columns_a/columns_b (the key joins by name)")

    def fallback() -> DataFrame:
        if require_colocated:
            raise ValueError(
                "co-located fast path unavailable (plans differ, or an "
                "output has pending deletes/live tombstones); "
                "rerun without require_colocated for the relational join")
        da = engine.decode_frozen(spark, dir_a, [key, *cols_a], spec_a)
        db = engine.decode_frozen(spark, dir_b, [key, *cols_b], spec_b)
        return da.join(db, key, how)

    files_a = _clean_files(dir_a)
    files_b = _clean_files(dir_b)
    if files_a is None or files_b is None:
        return fallback()
    rp_a, rp_b = _run_plans(spark, dir_a), _run_plans(spark, dir_b)
    pid_a, pid_b = _one_plan(rp_a), _one_plan(rp_b)
    ddl = ", ".join((
        spec_a.spark_ddl([key, *cols_a]),
        *( [spec_b.spark_ddl(cols_b)] if cols_b else [] ),
    ))
    if not files_a or (not files_b and how == "inner"):
        if pid_a is None and files_a:
            return fallback()
        return spark.createDataFrame([], ddl)
    par = max(1, spark.sparkContext.defaultParallelism)
    if pid_a is None or pid_a != pid_b:
        # several plan generations (spec/layout evolution): pair files
        # within each generation when the manifests prove it sound
        tasks = _multi_plan_tasks(spark, dir_a, dir_b, rp_a, rp_b, files_a,
                                  files_b, spec_a, how, par, target_bytes)
        if tasks is None:
            return fallback()
        if not tasks:
            return spark.createDataFrame([], ddl)
    else:
        plan = engine.load_output_plan(dir_a, pid_a)
        if plan is None or plan.layout == "zorder":
            # zorder assignment depends on each row's weight VALUE, so
            # an equal fingerprint does not prove equal key placement
            return fallback()
        map_a = _chunk_file_map(files_a)
        map_b = _chunk_file_map(files_b)
        if map_a is None or map_b is None:
            return fallback()
        groups = _file_groups(map_a, map_b)
        if how == "inner":
            # A-only components can't produce rows: drop before packing
            groups = [(a, b) for a, b in groups if a and b]
        else:
            groups = [(a, b) for a, b in groups if a]
        if not groups:
            return spark.createDataFrame([], ddl)
        tasks = _pack_groups(groups, par, target_bytes)
    return run_each(spark, tasks,
                    _join_kernel(key, cols_a, cols_b, spec_a, spec_b, how),
                    ddl)
