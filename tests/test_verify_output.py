"""verify_output(): structural fsck of a frozen output dir."""

from __future__ import annotations

import glob
import os
import shutil

import pytest

from cryo_spark import (compact, delete_where, freeze, purge_deletes,
                        upsert, vacuum, verify_output, write_sequences)


@pytest.fixture()
def frozen(spark, tmp_path):
    src = str(tmp_path / "seqs.parquet")
    write_sequences(src, n=400, seed=23)
    out = str(tmp_path / "out")
    freeze(spark, src, out, target_tokens=30_000)
    return src, out


def test_clean_output_verifies_ok(spark, frozen):
    _, out = frozen
    r = verify_output(spark, out)
    assert r["status"] == "ok", r
    assert r["n_missing_payload"] == 0 and r["n_orphan_rows"] == 0


def test_full_lifecycle_stays_clean(spark, frozen):
    src, out = frozen
    delete_where(spark, out, keys="0:40")
    purge_deletes(spark, out, target_tokens=200_000)
    compact(spark, out, target_tokens=400_000)
    vacuum(spark, out)
    from pyspark.sql import functions as F
    batch = spark.read.parquet(src).filter("doc_id < 'doc-000000000005'") \
        .withColumn("tokens", F.reverse("tokens"))
    upsert(spark, out, batch, target_tokens=400_000)
    r = verify_output(spark, out)
    assert r["status"] == "ok", r


def test_streaming_maintenance_cycle_stays_clean(spark, tmp_path):
    """Micro-batch commits + compact + consolidate + checkpoint + vacuum
    (the metadata-soak cadence) must verify clean: consolidation
    re-bases the snapshot run set, vacuum then PHYSICALLY reclaims the
    fully-retired micro-runs' dirs, and the retired chunks' append-only
    manifest rows must not read as missing payload."""
    from cryo_spark import decode, snapshots
    from cryo_spark.engine import consolidate_manifests, read_encoded

    src = str(tmp_path / "seqs.parquet")
    write_sequences(src, n=300, seed=31)
    out = str(tmp_path / "out")
    from pyspark.sql import functions as F
    full = spark.read.parquet(src)
    for i in range(6):  # 6 micro-commits, 50 docs each
        lo, hi = f"doc-{i*50:012d}", f"doc-{(i+1)*50:012d}"
        batch = full.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        s = freeze(spark, batch, out, target_tokens=10_000)
        assert s.get("n_failed", 0) == 0
    compact(spark, out, target_tokens=1 << 20)
    consolidate_manifests(spark, out)
    snapshots.checkpoint(out)
    rep = vacuum(spark, out)
    assert rep["n_deleted_runs"] >= 6, rep  # micro-runs physically gone
    r = verify_output(spark, out)
    assert r["status"] in ("ok", "warn"), r
    assert r["n_missing_payload"] == 0, r
    assert decode(read_encoded(spark, out)).count() == 300


def test_orphan_run_is_warn_not_corrupt(spark, frozen):
    _, out = frozen
    run = os.listdir(f"{out}/encoded")[0]
    shutil.copytree(f"{out}/encoded/{run}", f"{out}/encoded/run=orphan000000")
    r = verify_output(spark, out)
    assert r["status"] == "warn" and r["n_orphan_rows"] > 0
    assert r["n_missing_payload"] == 0


def test_deleted_payload_detected_as_corrupt(spark, frozen):
    _, out = frozen
    run_dir = glob.glob(f"{out}/encoded/run=*")[0]
    shutil.rmtree(run_dir)
    r = verify_output(spark, out)
    assert r["status"] == "corrupt"
    assert r["n_missing_payload"] > 0
    assert r["unaccounted_missing_dirs"]


def test_empty_dir_ok(spark, tmp_path):
    r = verify_output(spark, str(tmp_path / "nothing"))
    assert r == {"status": "ok", "empty": True}


def test_crashed_rewrite_is_invisible_and_flagged(spark, frozen):
    """Death between payload write and manifest commit: the half-done
    rewrite (new run + tombstones, no manifest) must change nothing for
    readers, resume must not count it, and verify reports only a warn."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from cryo_spark import decode, decode_frozen
    from cryo_spark.engine import read_encoded

    src, out = frozen
    before = sorted(r.doc_id for r in
                    decode_frozen(spark, out).select("doc_id").collect())
    # simulate: copy an existing committed run's encoded files to a new
    # run id and write tombstones against the ORIGINAL run, but no
    # manifest (the compact/upsert crash window)
    run = os.listdir(f"{out}/encoded")[0]
    shutil.copytree(f"{out}/encoded/{run}", f"{out}/encoded/run=deadc0de0000")
    man_dir = glob.glob(f"{out}/manifest/run=*")[0]
    t = pq.read_table(man_dir, columns=["partition_id", "chunk_id"])
    import pyarrow as pa

    ts = pa.table({
        "target_run": pa.array([run[4:]] * t.num_rows),
        "partition_id": t.column("partition_id"),
        "chunk_id": t.column("chunk_id"),
    })
    os.makedirs(f"{out}/tombstones/run=deadc0de0000")
    pq.write_table(ts, f"{out}/tombstones/run=deadc0de0000/part-0.parquet")

    after = sorted(r.doc_id for r in
                   decode_frozen(spark, out).select("doc_id").collect())
    assert after == before
    assert sorted(r.doc_id for r in decode(read_encoded(spark, out))
                  .select("doc_id").collect()) == before
    r = verify_output(spark, out)
    assert r["status"] == "warn" and r["n_orphan_rows"] > 0


def test_rollback_past_compaction_flags_lost_payload(spark, tmp_path):
    """A rolled-back compaction's tombstones retire nothing: its
    originals are live again, so losing one of their encoded files is
    corruption, not a reclaimed chunk."""
    from cryo_spark import snapshots

    src = str(tmp_path / "seqs.parquet")
    write_sequences(src, n=600, seed=7)
    out = str(tmp_path / "out")
    freeze(spark, src, out, target_tokens=20_000, keys="0:300")
    freeze(spark, src, out, target_tokens=20_000, keys="300:600")
    assert compact(spark, out, target_tokens=400_000)["run"] is not None
    snapshots.rollback(out, 2)
    first = snapshots.log(out)[0]["run"]
    os.remove(sorted(glob.glob(f"{out}/encoded/run={first}/*.parquet"))[0])
    r = verify_output(spark, out)
    assert r["status"] == "corrupt", r
    assert r["n_missing_payload"] > 0, r


def test_zero_survivor_purge_verifies_ok(spark, tmp_path):
    """A purge whose rewrite keeps no row commits an empty run (no
    encoded file, an empty manifest dir with its ``_SUCCESS``, a log
    entry with ``n_new_chunks=0``): the missing-runs rule accepts it."""
    import numpy as np
    import pandas as pd

    from cryo_spark import engine, snapshots

    n = 300
    pdf = pd.DataFrame({
        "doc_id": [f"doc-{i:09d}" for i in range(n)],
        "tokens": [np.arange(20, dtype=np.int32) for _ in range(n)],
        "n_tok": np.full(n, 20, dtype=np.int32),
        "source": [("solo" if i % 10 == 0 else "bulk") for i in range(n)],
    })
    src = str(tmp_path / "in.parquet")
    spark.createDataFrame(pdf, engine.SEQUENCES_DDL).write.parquet(src)
    out = str(tmp_path / "out")
    freeze(spark, src, out, target_tokens=100_000)
    assert delete_where(spark, out,
                        filters=[("source", "=", "solo")])["n_deleted"] == 30
    p = purge_deletes(spark, out, target_tokens=100_000)
    assert p["n_new_chunks"] == 0 and p["n_purged_rows"] == 30
    entry = snapshots.log(out)[-1]
    assert entry["run"] == p["run"] and entry["n_new_chunks"] == 0
    assert not os.path.exists(f"{out}/encoded/run={p['run']}")
    assert os.listdir(f"{out}/manifest/run={p['run']}") == ["_SUCCESS"]
    r = verify_output(spark, out)
    assert r["status"] == "ok", r
    assert r["missing_runs"] == []


def test_lost_append_manifest_is_corrupt(spark, frozen):
    """An append whose manifest parquet is gone while its dir and
    ``_SUCCESS`` stay reads corrupt and names the run: only a logged
    zero-chunk rewrite may pass the missing-runs rule on a bare dir."""
    import pyarrow.parquet as pq

    from cryo_spark.fixtures import generate_sequences

    _, out = frozen
    src = os.path.join(os.path.dirname(out), "more.parquet")
    pq.write_table(generate_sequences(200, seed=24, id_offset=400), src)
    run = freeze(spark, src, out, target_tokens=30_000)["run"]
    assert run is not None
    parts = glob.glob(f"{out}/manifest/run={run}/*.parquet")
    assert parts
    for f in parts:
        os.remove(f)
    assert os.path.exists(f"{out}/manifest/run={run}/_SUCCESS")
    r = verify_output(spark, out)
    assert r["status"] == "corrupt", r
    assert r["missing_runs"] == [run]
