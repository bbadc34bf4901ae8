"""Python reduce stages are sized by their chunk count (engine._n_parts).

Every Python task pays a fixed JVM<->Python dispatch cost, so a stage
must not start more tasks than it has chunks to spread, and the file
scan packs whole files into balanced tasks.
"""

from __future__ import annotations

import math
import os
from types import SimpleNamespace

import pytest

from cryo_spark import collect, compact, freeze, write_sequences
from cryo_spark.engine import _n_parts, load_output_plan, load_output_spec
from cryo_spark.sources import arrow_scan_files, pack_files
from cryo_spark.tablespec import SEQUENCES


def _fake_spark(par: int):
    return SimpleNamespace(sparkContext=SimpleNamespace(defaultParallelism=par))


@pytest.mark.parametrize("par", [1, 2, 3, 4, 8, 32])
def test_n_parts_rule(par):
    spark = _fake_spark(par)
    for n in range(1, 3000):
        p = _n_parts(spark, n)
        assert p <= n
        assert p >= math.ceil(n / 32)
        if p < n:
            assert p % par == 0, (n, par, p)


def test_n_parts_examples():
    assert _n_parts(_fake_spark(2), 6) == 2     # a small append
    assert _n_parts(_fake_spark(2), 66) == 4    # the sf0.1 freeze
    assert _n_parts(_fake_spark(32), 16) == 16  # capped at the chunks
    assert _n_parts(_fake_spark(4), 0) == 1


def test_pack_files_balances_bytes():
    mb = 1 << 20
    sizes = [int(x * mb) for x in (10.9, 11.0, 11.4, 12.2)]
    bins = pack_files(sizes, 2)
    assert sorted(len(b) for b in bins) == [2, 2]
    assert sorted(i for b in bins for i in b) == [0, 1, 2, 3]
    loads = [sum(sizes[i] for i in b) for b in bins]
    assert max(loads) - min(loads) <= max(sizes) - min(sizes)


def test_pack_files_never_more_bins_than_files():
    assert pack_files([5, 1], 4) == [[0], [1]]
    assert pack_files([], 0) == []


def _stage_tasks(spark, group: str) -> list[int]:
    st = spark.sparkContext.statusTracker()
    out = []
    for jid in st.getJobIdsForGroup(group):
        job = st.getJobInfo(jid)
        for sid in job.stageIds if job is not None else ():
            info = st.getStageInfo(sid)
            if info is not None:
                out.append(info.numTasks)
    return out


def test_stage_task_counts_follow_chunk_count(spark, tmp_path):
    """A freeze, a key lookup and a compact on a small table start no
    stage with more tasks than max(defaultParallelism, n_chunks)."""
    src = str(tmp_path / "seqs.parquet")
    write_sequences(src, n=600, seed=7)
    out = str(tmp_path / "out")
    sc = spark.sparkContext
    par = sc.defaultParallelism
    group = "test_stage_task_counts"
    sc.setJobGroup(group, "task sizing")
    try:
        s = freeze(spark, src, out, target_tokens=20_000)
        assert collect(spark, out, keys="0:300").count() == 300
        assert compact(spark, out, target_tokens=400_000)["n_compacted"] > 1
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tasks = _stage_tasks(spark, group)
    assert tasks, "no stages recorded for the job group"
    bound = max(par, s["n_chunks"])
    assert s["n_chunks"] < 16 and max(tasks) <= bound, (s["n_chunks"], tasks)


class _Pinned:
    """The session with ``defaultParallelism`` pinned: file packing
    follows it, everything else is the real session."""

    def __init__(self, spark, par: int):
        self._spark = spark
        self.sparkContext = SimpleNamespace(defaultParallelism=par)

    def __getattr__(self, name):
        return getattr(self._spark, name)


@pytest.mark.parametrize("n_files", [2, 4])
def test_arrow_scan_files_one_task_per_partition(spark, tmp_path, n_files):
    """At defaultParallelism 2 the file scan runs as ONE stage of one
    task per partition: no task-list stage, no exchange, no two tasks
    sharing a partition."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    files = []
    for i in range(n_files):
        files.append(str(tmp_path / f"f{i}.parquet"))
        pq.write_table(pa.table({"x": list(range(100))}), files[-1])

    def kernel(path, batches):
        from pyspark import TaskContext

        assert sum(b.num_rows for b in batches) == 100
        yield pa.RecordBatch.from_pydict(
            {"path": [path], "part": [TaskContext.get().partitionId()]})

    sc = spark.sparkContext
    group = f"test_one_task_per_partition_{n_files}"
    sc.setJobGroup(group, "file scan dispatch")
    try:
        rows = arrow_scan_files(_Pinned(spark, 2), files, ["x"], kernel,
                                "path string, part int").collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert sorted(r.path for r in rows) == files
    by_part: dict[int, list[str]] = {}
    for r in rows:
        by_part.setdefault(r.part, []).append(r.path)
    assert sorted(by_part) == [0, 1]  # 2 tasks: 2 files 1:1, 4 files 2:2
    assert sorted(len(v) for v in by_part.values()) == [n_files // 2] * 2
    assert _stage_tasks(spark, group) == [2]


def test_side_files_stay_in_uri_output(spark, tmp_path, monkeypatch):
    """A ``file://`` freeze writes its spec, plan and report into the
    output, not under the driver's cwd."""
    src = str(tmp_path / "seqs.parquet")
    write_sequences(src, n=300, seed=7)
    cwd = tmp_path / "cwd"
    cwd.mkdir()
    monkeypatch.chdir(cwd)
    out = f"file://{tmp_path}/out"
    s = freeze(spark, src, out, target_tokens=20_000)
    assert os.listdir(cwd) == []
    assert load_output_spec(out) == SEQUENCES
    assert load_output_plan(out).n_chunks == s["n_chunks"]
    assert os.path.isfile(tmp_path / "out" / "report" / f"run={s['run']}.json")


def test_unwritable_uri_scheme_fails_before_any_job(spark, tmp_path):
    """Encode tasks write through pyarrow's filesystems: a scheme pyarrow
    cannot open fails up front, naming the scheme, and runs no job."""
    src = str(tmp_path / "seqs.parquet")
    write_sequences(src, n=100, seed=7)
    with pytest.raises(ValueError, match="s3a://"):
        _jobs(spark, "unwritable_scheme", lambda: freeze(
            spark, src, "s3a://bucket/out", target_tokens=20_000))
    assert not spark.sparkContext.statusTracker().getJobIdsForGroup(
        "unwritable_scheme")


def _jobs(spark, group: str, fn):
    """(fn's result, number of Spark jobs it ran) under its own group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "job count")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _assert_committed_layout(out: str) -> None:
    """Encode tasks write their own files and the driver renames them
    into place: no Hadoop ``_temporary`` dir and no ``.crc`` side file
    is left, only ``part-*`` files and ``_SUCCESS`` markers."""
    seen = 0
    for area in ("encoded", "manifest"):
        for root, dirs, files in os.walk(os.path.join(out, area)):
            assert "_temporary" not in dirs, root
            for f in files:
                assert f == "_SUCCESS" or (f.startswith("part-")
                                           and f.endswith(".parquet")), \
                    os.path.join(root, f)
                seen += 1
    assert seen


def test_metadata_jobs_per_call(spark, tmp_path):
    """One metadata pass per call: an append of a new plan into an
    existing table, a keyed lookup, a compact and a vacuum each start at
    most 3, 2, 4 and 1 Spark jobs (declared metadata schemas, the
    log-gated resume bitmap, compaction sets held on the driver, a
    compaction plan summed by the job that checkpoints its rows, and one
    encode+write job per run: the tasks write their files and manifest
    parts, so no job reads them back). On a table of its own, a 50-row
    upsert and a purge of 50 deleted keys start at most 13 and 11: their
    plans too are summed by the job that checkpoints their rows, and
    their counts come from the manifest and that checkpoint."""
    import pyarrow.parquet as pq

    from cryo_spark import delete_where, purge_deletes, upsert, vacuum
    from cryo_spark.fixtures import generate_sequences

    out = str(tmp_path / "out")
    inputs = []
    for i in range(3):
        inputs.append(str(tmp_path / f"b{i}.parquet"))
        pq.write_table(generate_sequences(400, seed=70 + i, id_offset=i * 400),
                       inputs[-1])
    rw = str(tmp_path / "rewrites")
    for p in inputs:
        freeze(spark, p, rw, target_tokens=20_000)
    batch = str(tmp_path / "upsert.parquet")
    pq.write_table(generate_sequences(50, seed=99, id_offset=1175), batch)
    u, n = _jobs(spark, "meta_upsert", lambda: upsert(
        spark, rw, batch, target_tokens=20_000))
    assert (u["n_updated"], u["n_inserted"]) == (25, 25)
    assert n <= 13, f"upsert ran {n} jobs"
    assert delete_where(spark, rw, keys="100:150")["n_deleted"] == 50
    p, n = _jobs(spark, "meta_purge", lambda: purge_deletes(
        spark, rw, target_tokens=20_000))
    assert p["n_purged_rows"] == 50 and p["n_new_chunks"] > 0
    assert n <= 11, f"purge_deletes ran {n} jobs"
    assert collect(spark, rw).count() == 1175
    freeze(spark, inputs[0], out, target_tokens=20_000)
    _assert_committed_layout(out)
    for i in (1, 2):
        s, n = _jobs(spark, f"meta_append_{i}", lambda: freeze(
            spark, inputs[i], out, target_tokens=20_000))
        assert s["n_encoded"] == s["n_chunks"] > 1
        assert n <= 3, f"append ran {n} jobs"
    t, n = _jobs(spark, "meta_lookup",
                 lambda: collect(spark, out, keys="400:800").toArrow())
    assert t.num_rows == 400
    assert n <= 2, f"lookup ran {n} jobs"
    m, n = _jobs(spark, "meta_compact",
                 lambda: compact(spark, out, target_tokens=400_000))
    assert m["n_compacted"] > 1
    assert n <= 4, f"compact ran {n} jobs"
    _assert_committed_layout(out)
    v, n = _jobs(spark, "meta_vacuum", lambda: vacuum(spark, out))
    assert v["n_deleted_runs"] == 3
    assert n <= 1, f"vacuum ran {n} jobs"
    assert collect(spark, out).count() == 1200


def test_vacuum_skips_its_job_when_no_run_can_be_dead(spark, tmp_path):
    """A compaction that retires only some chunks of each run leaves no
    run whose drop bitmap reaches the ok-chunk count its log entry
    carries (``n_ok_chunks``), so vacuum starts no job and deletes
    nothing."""
    import pyarrow.parquet as pq

    from cryo_spark import readview, vacuum
    from cryo_spark.fixtures import generate_sequences

    out = str(tmp_path / "out")
    for i in range(2):
        p = str(tmp_path / f"b{i}.parquet")
        pq.write_table(generate_sequences(400, seed=80 + i, id_offset=i * 400),
                       p)
        assert freeze(spark, p, out, target_tokens=20_000)["n_chunks"] > 3
    m = compact(spark, out, target_tokens=400_000, max_chunks=3)
    assert m["n_compacted"] == 3
    view = readview.read_view(out)
    assert view.drops and all(
        len(readview.bitmap_ids(view.drops[r])) < view.ok_chunks[r]
        for r in view.drops)
    v, n = _jobs(spark, "vacuum_no_dead_run", lambda: vacuum(spark, out))
    assert v["n_deleted_runs"] == 0
    assert n == 0, f"vacuum ran {n} jobs"
    assert collect(spark, out).count() == 800


def test_vacuum_tasks_do_not_grow_with_runs(spark, tmp_path):
    """vacuum's manifest kernel runs in one wave of tasks however many
    retired runs it tests: a file scan plans one partition per small
    manifest file, which would start one Python task per run."""
    import pyarrow.parquet as pq

    from cryo_spark import vacuum
    from cryo_spark.fixtures import generate_sequences

    out = str(tmp_path / "out")
    n_runs = 8
    for i in range(n_runs):
        p = str(tmp_path / f"b{i}.parquet")
        pq.write_table(generate_sequences(60, seed=90 + i, id_offset=i * 60), p)
        freeze(spark, p, out, target_tokens=20_000)
    assert compact(spark, out, target_tokens=400_000)["n_compacted"] >= n_runs
    sc = spark.sparkContext
    v, _ = _jobs(spark, "vacuum_wave", lambda: vacuum(spark, out))
    assert v["n_deleted_runs"] == n_runs
    st = sc.statusTracker()
    tasks = sum(st.getStageInfo(s).numTasks
                for j in st.getJobIdsForGroup("vacuum_wave")
                for s in st.getJobInfo(j).stageIds)
    assert 0 < tasks <= sc.defaultParallelism < n_runs, tasks


def test_zip_importers_reread_only_changed_archives(tmp_path, monkeypatch):
    """Spark's Python worker invalidates the import caches before every
    task; once ``arrowutil.zip_caches_by_stat`` ran, a zipimporter
    re-reads its archive's directory only when the archive changed."""
    import zipfile
    import zipimport

    from cryo_spark import arrowutil

    inv = zipimport.zipimporter.invalidate_caches
    if not (getattr(inv, "_by_stat", False)
            or "_read_directory" in inv.__code__.co_names):
        pytest.skip("this Python's zipimporter defers its re-read")
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", inv)
    reads = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda p: reads.append(p) or read_directory(p))

    path = str(tmp_path / "pkg.zip")
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("mod_a.py", "x = 1\n")
    imp = zipimport.zipimporter(path)
    reads.clear()  # the constructor's own read
    arrowutil.zip_caches_by_stat()
    imp.invalidate_caches()  # first call on an importer: reads once
    imp.invalidate_caches()
    imp.invalidate_caches()
    assert reads == [path]
    assert imp.find_spec("mod_b") is None

    with zipfile.ZipFile(path, "a") as zf:
        zf.writestr("mod_b.py", "y = 2\n")
    imp.invalidate_caches()
    assert reads == [path, path]
    assert imp.find_spec("mod_b") is not None


def test_flat_output_scans_one_file_per_unit(spark, tmp_path, monkeypatch):
    """On a flat local output the encode-task file groups of the scan are
    single files: the scan plans the per-file tasks (whole files packed
    by the bytes of the columns it reads, ``pack_files``) and runs the
    kernel once per file."""
    import pyarrow.parquet as pq

    from cryo_spark import readview
    from cryo_spark.engine import _decode_view
    from cryo_spark.sources import parquet_arrow

    src = str(tmp_path / "seqs.parquet")
    write_sequences(src, n=900, seed=7)
    out = str(tmp_path / "out")
    for lo in (0, 300, 600):
        freeze(spark, src, out, target_tokens=20_000, keys=f"{lo}:{lo + 300}")
    view = readview.read_view(out)
    files = view.all_files()
    assert len(files) >= 3
    assert view.file_groups() == [[f] for f in files]

    read = ["chunk_id", "column", "n_rows", "status", "payload"]
    n_rgs, sizes = [], []
    for f in files:
        md = pq.ParquetFile(f).metadata
        n_rgs.append(md.num_row_groups)
        sizes.append(sum(
            g.column(c).total_uncompressed_size
            for g in (md.row_group(i) for i in range(md.num_row_groups))
            for c in range(g.num_columns)
            if g.column(c).path_in_schema in read))
    par = spark.sparkContext.defaultParallelism
    n_tasks = min(len(files), par)  # a few MB: one wave
    want = [[[(files[i], list(range(n_rgs[i])))] for i in members]
            for members in pack_files(sizes, n_tasks)]

    seen = {}
    run_each = parquet_arrow.run_each

    def spy(spark_, tasks, fn, ddl):
        seen.update(tasks=tasks, fn=fn)
        return run_each(spark_, tasks, fn, ddl)

    monkeypatch.setattr(parquet_arrow, "run_each", spy)
    calls = []

    def tap(batches):
        calls.append(1)
        yield from batches

    _decode_view(spark, view, None, SEQUENCES, tap=tap)
    assert seen["tasks"] == want
    rows = sum(b.num_rows for t in seen["tasks"] for b in seen["fn"](t))
    assert rows == 900 and len(calls) == len(files)
