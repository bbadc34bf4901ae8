"""The snapshot log gates freeze's resume bitmap, exactly.

Every writer stamps its plan_id into its log entry, the same plan_id its
manifest rows carry; ``ReadView.plan_ids`` collects those of the live
runs (None for a run whose entry carries none, and for every run of a
log-less output). freeze folds the resume bitmap only when that set
holds its plan's fingerprint or None: otherwise no live manifest row can
mark one of its chunks done. A freeze with no failed chunk also stamps
``plan_done_chunks``, how many of its plan's chunks then hold rows:
while the manifest still holds that many, a re-freeze encodes nothing,
not even the planned chunks that received no rows.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest

from cryo_spark import (compact, decode_frozen, engine, freeze, readview,
                        snapshots, verify_output)
from cryo_spark.fixtures import generate_sequences

SMALL = 20_000   # freeze target: several small chunks per batch
BIG = 400_000    # compact target: merges them


@pytest.fixture()
def bitmap_calls(monkeypatch):
    """Count the resume bitmap's runs (it still runs for real)."""
    calls = []
    real = engine._done_chunk_bitmap

    def spy(man, n_chunks):
        calls.append(n_chunks)
        return real(man, n_chunks)

    monkeypatch.setattr(engine, "_done_chunk_bitmap", spy)
    return calls


def _batch(tmp_path, i: int, n: int = 400) -> str:
    path = str(tmp_path / f"b{i}.parquet")
    pq.write_table(generate_sequences(n, seed=50 + i, id_offset=i * n), path)
    return path


def _keys(spark, out) -> list[str]:
    return sorted(r.doc_id for r in
                  decode_frozen(spark, out).select("doc_id").collect())


def _assert_stamps_match(spark, out):
    """Each live run's log entry names the plan its manifest rows carry."""
    view = readview.read_view(out)
    stamped = {e["run"]: e.get("plan_id") for e in snapshots.log(out)
               if e["run"] in view.runs}
    rows = engine.read_manifest(spark, out).select("run", "plan_id") \
        .distinct().collect()
    assert rows
    for r in rows:
        assert stamped[r.run] == r.plan_id, (r.run, stamped[r.run], r.plan_id)
    assert view.plan_ids == frozenset(stamped.values())


def test_refreeze_encodes_nothing(spark, tmp_path, bitmap_calls):
    src, out = _batch(tmp_path, 0), str(tmp_path / "out")
    s1 = freeze(spark, src, out, target_tokens=SMALL)
    assert snapshots.log(out)[-1]["plan_done_chunks"] == s1["n_chunks"]
    assert bitmap_calls == []  # a fresh dir has no manifest to fold
    s2 = freeze(spark, src, out, target_tokens=SMALL)
    assert s2["n_encoded"] == 0 and s2["n_skipped"] == s2["n_chunks"]
    assert s2["n_chunks"] == s1["n_chunks"] > 1
    assert bitmap_calls == [s1["n_chunks"]]


def test_plan_with_empty_chunks_refreezes_to_nothing(spark, tmp_path,
                                                      bitmap_calls):
    """Salted spans can leave planned chunks without rows: they never get
    a manifest row, yet a re-freeze neither encodes them again nor
    commits an empty run."""
    src, out = str(tmp_path / "in.parquet"), str(tmp_path / "out")
    pq.write_table(generate_sequences(200, seed=3), src)
    s1 = freeze(spark, src, out, target_tokens=1_500)
    n_real = engine.read_manifest(spark, out).filter("status = 'ok'") \
        .select("chunk_id").distinct().count()
    assert 0 < n_real < s1["n_chunks"]
    assert snapshots.log(out)[-1]["plan_done_chunks"] == n_real
    n_entries = len(snapshots.log(out))
    s2 = freeze(spark, src, out, target_tokens=1_500)
    assert (s2["n_encoded"], s2["n_skipped"], s2["run"]) == (
        0, s1["n_chunks"], None)
    assert len(snapshots.log(out)) == n_entries
    assert bitmap_calls == [s1["n_chunks"]]


def test_failed_chunk_keeps_the_plan_open(spark, tmp_path, bitmap_calls):
    """A run with a failed chunk does not stamp plan_done_chunks: the
    re-freeze retries exactly that chunk."""
    import pyarrow as pa

    t = generate_sequences(300, seed=9)
    t = t.set_column(0, "doc_id", pa.array(
        [engine._FAULT_SENTINEL, *t.column("doc_id").to_pylist()[1:]]))
    src, out = str(tmp_path / "in.parquet"), str(tmp_path / "out")
    pq.write_table(t, src)
    s1 = freeze(spark, src, out, target_tokens=SMALL)
    assert s1["n_failed"] == 1
    assert "plan_done_chunks" not in snapshots.log(out)[-1]
    s2 = freeze(spark, src, out, target_tokens=SMALL)
    assert s2["n_skipped"] == s1["n_chunks"] - 1 and s2["n_failed"] == 1
    assert bitmap_calls == [s1["n_chunks"]]


def test_new_plan_skips_the_bitmap(spark, tmp_path, bitmap_calls):
    out = str(tmp_path / "out")
    freeze(spark, _batch(tmp_path, 0), out, target_tokens=SMALL)
    s = freeze(spark, _batch(tmp_path, 1), out, target_tokens=SMALL)
    assert s["n_encoded"] == s["n_chunks"] and s["n_skipped"] == 0
    assert bitmap_calls == []
    _assert_stamps_match(spark, out)


def test_refreeze_after_compacting_everything(spark, tmp_path, bitmap_calls):
    """A compaction retires every chunk of the freeze run: its manifest
    rows still count the plan's chunks done, so the re-freeze encodes
    nothing (the data lives on, re-chunked), and the compaction's entry
    carries the plan its own rows carry."""
    src, out = _batch(tmp_path, 0), str(tmp_path / "out")
    s1 = freeze(spark, src, out, target_tokens=SMALL)
    keys = _keys(spark, out)
    c = compact(spark, out, target_tokens=BIG)
    assert c["n_compacted"] == s1["n_chunks"]
    _assert_stamps_match(spark, out)
    s2 = freeze(spark, src, out, target_tokens=SMALL)
    assert (s2["n_encoded"], s2["n_skipped"]) == (0, s1["n_chunks"])
    assert len(bitmap_calls) == 1
    assert _keys(spark, out) == keys


def test_uri_output_without_log_still_resumes(spark, tmp_path, bitmap_calls):
    src = _batch(tmp_path, 0)
    out = f"file://{tmp_path}/out"
    s1 = freeze(spark, src, out, target_tokens=SMALL)
    assert not os.path.isdir(tmp_path / "out" / "snapshots")
    assert readview.read_view(out).plan_ids == {None}
    s2 = freeze(spark, src, out, target_tokens=SMALL)
    assert s2["n_encoded"] == 0 and s2["n_skipped"] == s1["n_chunks"]
    assert bitmap_calls == [s1["n_chunks"]]


def test_adopted_runs_still_resume(spark, tmp_path, bitmap_calls):
    """A log whose first entry adopted marker-committed runs carries no
    plan_id for them: the bitmap still runs and counts their chunks."""
    src = _batch(tmp_path, 0)
    local = str(tmp_path / "out")
    s1 = freeze(spark, src, f"file://{local}", target_tokens=SMALL)
    freeze(spark, _batch(tmp_path, 1), local, target_tokens=SMALL)
    first = snapshots.log(local)[0]
    assert first["run"] == s1["run"] and "plan_id" not in first
    assert None in readview.read_view(local).plan_ids
    n_before = len(bitmap_calls)
    s3 = freeze(spark, src, local, target_tokens=SMALL)
    assert s3["n_encoded"] == 0 and s3["n_skipped"] == s1["n_chunks"]
    assert len(bitmap_calls) == n_before + 1


def test_compact_dying_after_its_tombstones(spark, tmp_path, monkeypatch):
    """Death between the driver-written tombstone file and the manifest
    leaves every read unchanged and the output uncorrupted: the dead
    run's tombstones and encoded files are invisible, and once
    remove_orphans collects them verify_output is clean."""
    out = str(tmp_path / "out")
    for i in range(2):
        freeze(spark, _batch(tmp_path, i), out, target_tokens=SMALL)
    keys = _keys(spark, out)
    n_entries = len(snapshots.log(out))

    def die(*a, **k):
        raise RuntimeError("killed before the manifest")

    monkeypatch.setattr(engine, "_publish_manifest", die)
    with pytest.raises(RuntimeError, match="before the manifest"):
        compact(spark, out, target_tokens=BIG)
    monkeypatch.undo()

    dead = readview.read_view(out).tombstone_runs
    assert len(dead) == 1
    (run,) = dead
    tdir = tmp_path / "out" / "tombstones" / f"run={run}"
    assert os.listdir(tdir) == ["part-00000.parquet"]  # no tmp file left
    assert len(snapshots.log(out)) == n_entries
    assert _keys(spark, out) == keys
    rep = verify_output(spark, out)
    assert rep["status"] == "warn" and rep["n_orphan_rows"] > 0
    assert rep["n_dangling_tombstones"] == 0 and rep["n_missing_payload"] == 0
    gc = engine.remove_orphans(spark, out, min_age_s=0)
    assert sorted(gc["removed"]) == [f"encoded/run={run}",
                                     f"tombstones/run={run}"]
    assert verify_output(spark, out)["status"] == "ok"
    assert _keys(spark, out) == keys
    # the retried compaction commits
    assert compact(spark, out, target_tokens=BIG)["run"] is not None
    assert _keys(spark, out) == keys
    assert verify_output(spark, out)["status"] == "ok"
