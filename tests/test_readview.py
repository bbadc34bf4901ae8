"""readview.read_view: the one answer to "which chunks are live at S".

With a snapshot log the replayed log alone decides; without one (a
hand-built or log-less dir) a run counts once its manifest dir carries
``_SUCCESS``. Every read path must agree with it, including in the
window between a run's manifest write and its log commit.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from cryo_spark import (collect, decode, decode_frozen, freeze, readview,
                        snapshots, verify_output, write_sequences)
from cryo_spark.engine import read_encoded, read_manifest


def _rows(df):
    return sorted(
        (r.doc_id, tuple(r.tokens), r.n_tok, r.source) for r in df.collect()
    )


@pytest.fixture()
def src(tmp_path):
    path = str(tmp_path / "seqs.parquet")
    write_sequences(path, n=600, seed=7)
    return path


def _commit_dies_once(monkeypatch):
    real_commit = snapshots.commit
    calls = []

    def commit(*args, **kwargs):
        if not calls:
            calls.append(args)
            raise OSError("injected crash before the snapshot commit")
        return real_commit(*args, **kwargs)

    monkeypatch.setattr(snapshots, "commit", commit)


def test_commit_crash_window_is_invisible_and_resumes(spark, src, tmp_path,
                                                      monkeypatch):
    """Death after the manifest write but before the log commit: every
    read path sees the pre-state, verify stays clean, and a re-run
    converges to exactly the input."""
    out = str(tmp_path / "out")
    freeze(spark, src, out, target_tokens=20_000, keys="0:300")
    _commit_dies_once(monkeypatch)
    with pytest.raises(OSError, match="injected crash"):
        freeze(spark, src, out, target_tokens=20_000, keys="300:600")
    monkeypatch.undo()
    # the dead run's manifest landed, its log entry did not
    dead = set(readview.read_view(out).manifest_dirs) \
        - snapshots.current(out)["runs"]
    assert len(dead) == 1

    first = _rows(spark.read.parquet(src).filter(
        F.col("doc_id") < "doc-000000000300"))
    head = snapshots.log(out)[-1]["seq"]
    assert _rows(decode_frozen(spark, out)) == first
    assert _rows(collect(spark, out)) == first
    assert _rows(decode(read_encoded(spark, out))) == first
    assert _rows(decode_frozen(spark, out, as_of=head)) == first
    assert verify_output(spark, out)["status"] in ("ok", "warn")

    s = freeze(spark, src, out, target_tokens=20_000, keys="300:600")
    assert s["n_encoded"] > 0 and s["n_skipped"] == 0
    every = _rows(spark.read.parquet(src))
    assert _rows(decode_frozen(spark, out)) == every
    assert _rows(decode(read_encoded(spark, out))) == every
    assert verify_output(spark, out)["status"] in ("ok", "warn")


def test_log_decides_over_markers(spark, src, tmp_path):
    out = str(tmp_path / "out")
    freeze(spark, src, out, target_tokens=20_000, keys="0:300")
    freeze(spark, src, out, target_tokens=20_000, keys="300:600")
    runs = [e["run"] for e in snapshots.log(out)]
    # a lost commit marker does not matter once the log names the run
    os.remove(f"{out}/manifest/run={runs[1]}/_SUCCESS")
    view = readview.read_view(out)
    assert view.runs == set(runs)
    assert snapshots.current(out)["runs"] == set(runs)
    assert decode_frozen(spark, out).count() == 600


def test_logless_output_uses_commit_markers(spark, src, tmp_path):
    out = str(tmp_path / "out")
    freeze(spark, src, out, target_tokens=20_000, keys="0:300")
    freeze(spark, src, out, target_tokens=20_000, keys="300:600")
    runs = [e["run"] for e in snapshots.log(out)]
    shutil.rmtree(f"{out}/snapshots")
    assert snapshots.current(out) is None
    view = readview.read_view(out)
    assert view.runs == set(runs)
    assert decode_frozen(spark, out).count() == 600
    # an uncommitted manifest dir (no marker, no log) is invisible
    os.remove(f"{out}/manifest/run={runs[1]}/_SUCCESS")
    assert readview.read_view(out).runs == {runs[0]}
    want = _rows(spark.read.parquet(src).filter(
        F.col("doc_id") < "doc-000000000300"))
    assert _rows(decode_frozen(spark, out)) == want
    assert _rows(decode(read_encoded(spark, out))) == want
    assert {r.run for r in read_manifest(spark, out)
            .select("run").distinct().collect()} == {runs[0]}
    with pytest.raises(ValueError, match="snapshot log"):
        readview.read_view(out, as_of=1)


def test_first_freeze_crash_leaves_a_logless_output(spark, src, tmp_path,
                                                    monkeypatch):
    """The first freeze dying before its log commit leaves a local output
    with no log: its marker-committed run is live, a re-run resumes it,
    and the log's first entry adopts it instead of dropping its rows."""
    out = str(tmp_path / "out")
    _commit_dies_once(monkeypatch)
    with pytest.raises(OSError, match="injected crash"):
        freeze(spark, src, out, target_tokens=20_000, keys="0:300")
    monkeypatch.undo()
    assert snapshots.log(out) == []
    (first,) = readview.read_view(out).runs
    want = _rows(spark.read.parquet(src).filter(
        F.col("doc_id") < "doc-000000000300"))
    assert _rows(decode_frozen(spark, out)) == want

    s = freeze(spark, src, out, target_tokens=20_000, keys="0:300")
    assert s["n_encoded"] == 0
    second = freeze(spark, src, out, target_tokens=20_000,
                    keys="300:600")["run"]
    runs = [e["run"] for e in snapshots.log(out)]
    assert runs[0] == first and runs[-1] == second
    every = _rows(spark.read.parquet(src))
    assert _rows(decode_frozen(spark, out)) == every
    assert _rows(decode(read_encoded(spark, out))) == every
    assert verify_output(spark, out)["status"] in ("ok", "warn")


def test_uri_output_lists_through_pyarrow_fs(spark, src, tmp_path):
    """A ``://`` output is listed and read through ``pyarrow.fs`` (no
    snapshot log: commit markers decide), tombstones included, and its
    view keeps the caller's ``file://`` root."""
    from cryo_spark import compact

    out = f"file://{tmp_path}/out"
    freeze(spark, src, out, target_tokens=20_000, keys="0:300")
    freeze(spark, src, out, target_tokens=20_000, keys="300:600")
    assert compact(spark, out, target_tokens=400_000)["n_retired"] > 0
    view = readview.read_view(out)
    assert len(view.runs) == 3 and view.drops
    assert all(f.startswith(out) for f in view.all_files())
    every = _rows(spark.read.parquet(src))
    assert _rows(decode_frozen(spark, out)) == every
    assert _rows(decode(read_encoded(spark, out))) == every
    assert {r.run for r in read_manifest(spark, out)
            .select("run").distinct().collect()} == set(view.runs)
    assert verify_output(spark, out)["status"] == "ok"
