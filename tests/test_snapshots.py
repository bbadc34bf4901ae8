"""Snapshot log + time travel (as_of) over frozen outputs.

Iceberg-analog semantics: every commit (freeze append, compact rewrite,
vacuum GC) is an ordered snapshot; ``as_of=seq`` reads the table exactly
as it stood after commit seq — later appends invisible, later rewrites
un-applied — and vacuum forfeits time travel to snapshots that still
need the deleted bytes (expire_snapshots contract).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cryo_spark import (collect, compact, decode_frozen, freeze, vacuum,
                        snapshot_log, write_sequences)
from cryo_spark.engine import read_encoded, read_manifest
from cryo_spark import snapshots


def _ids(df):
    return sorted(r.doc_id for r in df.select("doc_id").collect())


def _rows(df):
    return sorted(
        (r.doc_id, tuple(r.tokens), r.n_tok, r.source) for r in df.collect()
    )


@pytest.fixture()
def two_appends(spark, tmp_path):
    """Two key-range freezes into one output: seq 1 = A, seq 2 = A+B."""
    src = str(tmp_path / "seqs.parquet")
    write_sequences(src, n=600, seed=7)
    out = str(tmp_path / "out")
    s1 = freeze(spark, src, out, target_tokens=20_000, keys="0:300")
    s2 = freeze(spark, src, out, target_tokens=20_000, keys="300:600")
    assert (s1["snapshot"], s2["snapshot"]) == (1, 2)
    return src, out


def test_log_orders_commits(spark, two_appends):
    _, out = two_appends
    log = snapshot_log(out)
    assert [e["seq"] for e in log] == [1, 2]
    assert all(e["kind"] == "append" for e in log)
    assert log[0]["run"] != log[1]["run"]


def test_as_of_sees_only_earlier_appends(spark, two_appends):
    src, out = two_appends
    first = _ids(spark.read.parquet(src).filter(
        F.col("doc_id") < "doc-000000000300"))
    assert _ids(decode_frozen(spark, out, as_of=1)) == first
    both = _ids(spark.read.parquet(src))
    assert _ids(decode_frozen(spark, out, as_of=2)) == both
    assert _ids(decode_frozen(spark, out)) == both  # None = current
    # relational path agrees with the file-scan path at every snapshot
    from cryo_spark import decode
    assert _ids(decode(read_encoded(spark, out, as_of=1))) == first


def test_as_of_zero_is_empty(spark, two_appends):
    _, out = two_appends
    assert decode_frozen(spark, out, as_of=0).count() == 0


def test_as_of_pre_compact_sees_original_chunks(spark, two_appends):
    _, out = two_appends
    before = _rows(decode_frozen(spark, out))
    chunks_before = read_manifest(spark, out).filter(
        F.col("status") == "ok").count()
    s = compact(spark, out, target_tokens=400_000)
    assert s["run"] is not None and s["snapshot"] == 3
    # pre-compact snapshot: rewrite run + its tombstones both invisible,
    # so the ORIGINAL chunk layout serves the read
    man2 = read_manifest(spark, out, as_of=2)
    assert man2.filter(F.col("status") == "ok").count() == chunks_before
    assert _rows(decode_frozen(spark, out, as_of=2)) == before
    # post-compact snapshot and current read: same rows, rewritten chunks
    assert _rows(decode_frozen(spark, out, as_of=3)) == before
    assert _rows(decode_frozen(spark, out)) == before


def test_vacuum_forfeits_earlier_snapshots(spark, two_appends):
    _, out = two_appends
    before = _rows(decode_frozen(spark, out))
    compact(spark, out, target_tokens=400_000)
    v = vacuum(spark, out)
    assert v["n_deleted_runs"] >= 1 and v["snapshot"] == 4
    # snapshots at/after the rewrite stay readable...
    assert _rows(decode_frozen(spark, out, as_of=3)) == before
    assert _rows(decode_frozen(spark, out, as_of=4)) == before
    # ...but the pre-rewrite snapshot's bytes are gone: loud failure,
    # never silent partial data — on BOTH read paths
    with pytest.raises(ValueError, match="vacuum"):
        decode_frozen(spark, out, as_of=2).count()
    with pytest.raises(ValueError, match="vacuum"):
        read_encoded(spark, out, as_of=2).count()


def test_collect_as_of(spark, two_appends):
    src, out = two_appends
    first = _ids(spark.read.parquet(src).filter(
        F.col("doc_id") < "doc-000000000300"))
    assert _ids(collect(spark, out, as_of=1)) == first
    # as_of on a raw (non-encoded) source is a loud error
    with pytest.raises(ValueError, match="as_of"):
        collect(spark, src, as_of=1)


def test_as_of_without_log_raises(spark, tmp_path):
    with pytest.raises(ValueError, match="snapshot log"):
        snapshots.resolve(str(tmp_path / "nowhere"), 1)


def test_commit_idempotent_per_run(tmp_path):
    out = str(tmp_path)
    assert snapshots.commit(out, "r1", "append") == 1
    assert snapshots.commit(out, "r1", "append") == 1  # retried batch
    assert snapshots.commit(out, "r2", "append") == 2
    assert [e["seq"] for e in snapshot_log(out)] == [1, 2]

def test_rollback_resets_current_state(spark, two_appends):
    src, out = two_appends
    first = _ids(spark.read.parquet(src).filter(
        F.col("doc_id") < "doc-000000000300"))
    both = _ids(spark.read.parquet(src))
    assert snapshots.rollback(out, 1) == 3
    # current reads (both paths) see only the first append now
    assert _ids(decode_frozen(spark, out)) == first
    from cryo_spark import decode
    assert _ids(decode(read_encoded(spark, out))) == first
    assert _ids(collect(spark, out)) == first
    # history is append-only: time travel to the undone snapshot works
    assert _ids(decode_frozen(spark, out, as_of=2)) == both
    # rolling forward again restores it
    assert snapshots.rollback(out, 2) == 4
    assert _ids(decode_frozen(spark, out)) == both


def test_append_after_rollback(spark, two_appends, tmp_path):
    src, out = two_appends
    snapshots.rollback(out, 1)
    # a fresh key range lands on top of the rolled-back state
    s3 = freeze(spark, src, out, target_tokens=20_000, keys="300:450")
    assert s3["snapshot"] == 4 and s3["n_encoded"] > 0
    got = _ids(decode_frozen(spark, out))
    want = _ids(spark.read.parquet(src).filter(
        "doc_id < 'doc-000000000450'"))
    assert got == want


def test_refreeze_after_rollback_reencodes(spark, two_appends):
    src, out = two_appends
    snapshots.rollback(out, 1)
    # the second range's manifest rows exist on disk but are rolled
    # back: resume must NOT count them as done
    s = freeze(spark, src, out, target_tokens=20_000, keys="300:600")
    assert s["n_encoded"] > 0 and s["n_skipped"] == 0
    both = _ids(spark.read.parquet(src))
    assert _ids(decode_frozen(spark, out)) == both


def test_vacuum_protects_rolled_back_state(spark, two_appends):
    _, out = two_appends
    before = _rows(decode_frozen(spark, out))
    compact(spark, out, target_tokens=400_000)  # seq 3 retires originals
    snapshots.rollback(out, 2)                  # undo the compaction
    v = vacuum(spark, out)
    # the original runs are live again under the rollback: vacuum must
    # not delete them (only the now-orphaned rewrite run is NOT dead
    # either — its manifest has ok rows and no tombstones against it)
    assert v["n_deleted_runs"] == 0
    assert _rows(decode_frozen(spark, out)) == before


def test_rollback_validation(tmp_path):
    out = str(tmp_path)
    with pytest.raises(ValueError, match="no snapshot log"):
        snapshots.rollback(out, 1)
    snapshots.commit(out, "r1", "append")
    with pytest.raises(ValueError, match="outside history"):
        snapshots.rollback(out, 5)


def test_tags_resolve_and_move(spark, two_appends):
    src, out = two_appends
    first = _ids(spark.read.parquet(src).filter(
        F.col("doc_id") < "doc-000000000300"))
    both = _ids(spark.read.parquet(src))
    snapshots.tag(out, "v1", 1)
    snapshots.tag(out, "published")  # defaults to latest (= 2)
    assert _ids(decode_frozen(spark, out, as_of="v1")) == first
    assert _ids(collect(spark, out, as_of="published")) == both
    # re-tagging moves the name (WAP publish): point 'published' at v1
    snapshots.tag(out, "published", 1)
    assert _ids(collect(spark, out, as_of="published")) == first
    with pytest.raises(ValueError, match="unknown tag"):
        decode_frozen(spark, out, as_of="nope").count()


def test_tag_validation(tmp_path):
    out = str(tmp_path)
    with pytest.raises(ValueError, match="nothing to tag"):
        snapshots.tag(out, "x")
    snapshots.commit(out, "r1", "append")
    with pytest.raises(ValueError, match="outside history"):
        snapshots.tag(out, "x", 9)
    with pytest.raises(ValueError, match="bad tag name"):
        snapshots.tag(out, " padded ")


def test_concurrent_commits_never_clobber(tmp_path):
    """link(2)-CAS: parallel writers get distinct seqs, history intact."""
    import multiprocessing as mp

    out = str(tmp_path)
    with mp.Pool(6) as p:
        seqs = p.starmap(snapshots.commit,
                         [(out, f"r{i}", "append") for i in range(18)])
    assert sorted(seqs) == list(range(1, 19))
    log = snapshot_log(out)
    assert [e["seq"] for e in log] == list(range(1, 19))
    assert len({e["run"] for e in log}) == 18


def test_read_appends_incremental_scan(spark, two_appends, tmp_path):
    src, out = two_appends
    from cryo_spark import read_appends
    from cryo_spark.engine import read_manifest

    second = _ids(spark.read.parquet(src).filter(
        "doc_id >= 'doc-000000000300'"))
    assert _ids(read_appends(spark, out, 0, 1)) != second
    assert _ids(read_appends(spark, out, 1)) == second      # (1, latest]
    assert _ids(read_appends(spark, out, 1, 2)) == second
    assert read_appends(spark, out, 2).count() == 0          # empty range
    # projection works
    assert read_appends(spark, out, 1, columns=["doc_id"]).columns == ["doc_id"]
    # a tag inside the range is fine; a rewrite is not
    snapshots.tag(out, "head")
    assert _ids(read_appends(spark, out, 1, "head")) == second
    compact(spark, out, target_tokens=400_000)
    with pytest.raises(ValueError, match="non-append history"):
        read_appends(spark, out, 1)
    # ...but a range that stops before the rewrite still works
    assert _ids(read_appends(spark, out, 1, 2)) == second


def test_read_appends_of_vacuumed_run_raises(spark, two_appends):
    """An append whose run a compaction retired and vacuum deleted is no
    longer row-readable: read_appends raises, as read_changes does,
    instead of returning no rows."""
    from cryo_spark import read_appends
    from cryo_spark.engine import read_changes

    _, out = two_appends
    assert read_appends(spark, out, 1, 2).count() == 300
    compact(spark, out, target_tokens=400_000)
    assert vacuum(spark, out)["n_deleted_runs"] == 2
    for read in (read_appends, read_changes):
        with pytest.raises(ValueError, match="vacuumed"):
            read(spark, out, 1, 2)


def test_checkpoint_folds_log_and_replays_exactly(tmp_path):
    """checkpoint(): one file replaces N per-commit files; log(),
    rollback targets and tags replay verbatim; later commits append
    fresh files above the checkpoint."""
    import os

    out = str(tmp_path)
    for i in range(6):
        snapshots.commit(out, f"r{i}", "append")
    snapshots.tag(out, "mid", 3)
    snapshots.rollback(out, 3)
    before = snapshots.log(out)
    rep = snapshots.checkpoint(out)
    assert rep["checkpointed"] and rep["through_seq"] == 8
    d = os.path.join(out, "snapshots")
    files = [f for f in os.listdir(d) if f.endswith(".json")]
    assert files == ["checkpoint-0000000008.json"]
    assert snapshots.log(out) == before
    # replay features still work off the checkpoint
    assert snapshots.resolve_ref(out, "mid") == 3
    assert snapshots.resolve(out, 8)["runs"] == {"r0", "r1", "r2"}
    # new commits land above it and a re-checkpoint absorbs them
    seq = snapshots.commit(out, "r9", "append")
    assert seq == 9
    assert [e["seq"] for e in snapshots.log(out)] == list(range(1, 10))
    rep2 = snapshots.checkpoint(out)
    assert rep2["through_seq"] == 9
    assert [f for f in os.listdir(d) if f.endswith(".json")] == [
        "checkpoint-0000000009.json"]


def test_checkpoint_crash_window_dedups(tmp_path):
    """Checkpoint written but absorbed files not deleted: log() must
    not double-count entries."""
    import json
    import os
    import shutil

    out = str(tmp_path)
    for i in range(4):
        snapshots.commit(out, f"r{i}", "append")
    d = os.path.join(out, "snapshots")
    stash = str(tmp_path / "stash")
    shutil.copytree(d, stash)
    snapshots.checkpoint(out)
    # resurrect the absorbed per-commit files next to the checkpoint
    for fn in os.listdir(stash):
        if fn.endswith(".json"):
            shutil.copy(os.path.join(stash, fn), os.path.join(d, fn))
    log = snapshots.log(out)
    assert [e["seq"] for e in log] == [1, 2, 3, 4]
    # next checkpoint collects the leftovers
    snapshots.checkpoint(out)
    assert [f for f in os.listdir(d) if f.endswith(".json")] == [
        "checkpoint-0000000004.json"]


def test_time_based_as_of(spark, tmp_path):
    """Iceberg FOR SYSTEM_TIME AS OF: 'ts:<time>' / datetime as_of
    resolves to the newest snapshot committed at-or-before that time."""
    import datetime
    import time

    from cryo_spark import freeze
    from cryo_spark.engine import read_manifest
    from cryo_spark.fixtures import write_sequences
    from cryo_spark import snapshots

    p1 = str(tmp_path / "a.parquet")
    write_sequences(p1, n=400, seed=1)
    out = str(tmp_path / "out")
    freeze(spark, p1, out, target_tokens=20_000)
    runs_at_1 = read_manifest(spark, out).select("run").distinct().count()
    time.sleep(0.05)
    mid = time.time()
    time.sleep(0.05)
    p2 = str(tmp_path / "b.parquet")
    write_sequences(p2, n=300, seed=2)
    freeze(spark, p2, out, target_tokens=20_000)
    assert read_manifest(spark, out).select("run").distinct().count() \
        == runs_at_1 + 1
    # epoch form, ISO form (naive = UTC by contract), naive datetime
    # (= UTC), and tz-aware datetime in a non-UTC zone all pin the
    # first commit — the resolution must not depend on the host TZ
    utc = datetime.timezone.utc
    mid_utc = datetime.datetime.fromtimestamp(mid, tz=utc)
    for ref in (f"ts:{mid}",
                "ts:" + mid_utc.replace(tzinfo=None).isoformat(),
                mid_utc.replace(tzinfo=None),
                mid_utc.astimezone(datetime.timezone(
                    datetime.timedelta(hours=5, minutes=30)))):
        man = read_manifest(spark, out, as_of=ref)
        assert man.select("run").distinct().count() == runs_at_1, ref
    # a time before all history raises loudly
    import pytest as _pytest

    with _pytest.raises(ValueError, match="no snapshot at or before"):
        snapshots.resolve(out, "ts:1.0")
