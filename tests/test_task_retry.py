"""Encode tasks write their own files; the driver commits one attempt each.

Each encode+write task writes its encoded file and manifest part under
hidden attempt names (``.part-<task>-a<attempt>.parquet``,
``.manifest-<task>-a<attempt>.parquet``) and returns one commit row.
Spark keeps the row of exactly one successful attempt per task, and the
driver renames only the files those rows name (engine._write_run). So
files of any other attempt stay hidden: no read path, ``verify_output``
or ``export_frozen`` sees them, and ``remove_orphans`` deletes them.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

from cryo_spark import (decode_frozen, engine, freeze, read_encoded,
                        read_manifest, remove_orphans, snapshots,
                        verify_output, write_sequences)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Run as __main__ in its own process: cloudpickle ships a __main__
# function by value, so the patched global reaches the Python workers,
# and the local[2,2] master lets each task fail once and be retried.
_RETRY_SCRIPT = r'''
import json, os, sys
sys.path.insert(0, sys.argv[1])
from cryo_spark import engine, iceberg, write_sequences
from cryo_spark.session import get_spark

base = sys.argv[2]
write_sequences(f"{base}/in.parquet", n=2_000, seed=3)
spark = get_spark(master="local[2,2]")
orig = engine._write_task_files


def first_attempt_dies(*a, **k):
    from pyspark import TaskContext

    row = orig(*a, **k)
    if TaskContext.get().attemptNumber() == 0:
        raise RuntimeError("attempt dies after writing its files")
    return row


engine._write_task_files = first_attempt_dies
out = f"{base}/out"
s = engine.freeze(spark, f"{base}/in.parquet", out, target_tokens=100_000)
engine._write_task_files = orig


def files():
    return sorted(os.path.relpath(os.path.join(r, f), out)
                  for area in ("encoded", "manifest")
                  for r, _, fs in os.walk(f"{out}/{area}") for f in fs)


def decoded():
    return sorted((r.doc_id, r.n_tok) for r in
                  engine.decode_frozen(spark, out, ["doc_id", "n_tok"])
                  .collect())


want = sorted((r.doc_id, r.n_tok) for r in spark.read.parquet(
    f"{base}/in.parquet").select("doc_id", "n_tok").collect())
before = files()
rep = dict(
    summary=s, files=before, decoded_ok=decoded() == want,
    n_encoded_rows=engine.read_encoded(spark, out).count(),
    n_manifest_ok=engine.read_manifest(spark, out)
    .filter("status = 'ok'").count(),
    verify=engine.verify_output(spark, out)["status"],
)
meta = iceberg.export_frozen(spark, out)
loc = os.path.dirname(os.path.dirname(meta))
rep["exported"] = sorted(os.path.relpath(f["path"], out)
                         for f in iceberg.scan_table(loc)["files"])
rep["exported_rows"] = iceberg.read_exported(spark, loc).count()
rep["gc"] = engine.remove_orphans(spark, out, min_age_s=0)["removed"]
rep["after_gc"] = files()
rep["decoded_after_gc"] = decoded() == want
rep["verify_after_gc"] = engine.verify_output(spark, out)["status"]
print("RESULT " + json.dumps(rep))
spark.stop()
'''


def test_retried_task_leaves_only_hidden_files(tmp_path):
    """Every task's first attempt raises after writing its files; the
    retries commit. Reads, verify_output and export_frozen see only the
    retries' files; the first attempts' files stay hidden until
    remove_orphans deletes them."""
    script = tmp_path / "retry_job.py"
    script.write_text(_RETRY_SCRIPT)
    r = subprocess.run(
        [sys.executable, str(script), REPO, str(tmp_path)],
        capture_output=True, text=True, timeout=600, cwd=str(tmp_path))
    assert r.returncode == 0, r.stderr[-3000:]
    assert "attempt dies after writing its files" in r.stderr
    rep = json.loads(next(line for line in r.stdout.splitlines()
                          if line.startswith("RESULT "))[len("RESULT "):])
    s = rep["summary"]
    assert s["n_failed"] == 0 and s["n_encoded"] == s["n_chunks"] > 1
    run = s["run"]
    staged = [f for f in rep["files"]
              if engine._STAGED.fullmatch(os.path.basename(f))]
    committed = sorted(set(rep["files"]) - set(staged))
    n_tasks = sum(f.startswith("manifest/") and f.endswith(".parquet")
                  for f in committed)
    # one encoded file and one manifest part per first attempt, hidden
    assert n_tasks >= 2 and len(staged) == 2 * n_tasks
    assert all(f.startswith(f"encoded/run={run}/.") for f in staged)
    assert committed == sorted(
        [f"encoded/run={run}/part-{i:05d}.parquet" for i in range(n_tasks)]
        + [f"manifest/run={run}/part-{i:05d}.parquet" for i in range(n_tasks)]
        + [f"manifest/run={run}/_SUCCESS"])
    assert rep["decoded_ok"]
    assert rep["n_encoded_rows"] == rep["n_manifest_ok"] > 0
    assert rep["verify"] == "ok"
    assert rep["exported"] == [f for f in committed
                               if f.startswith("encoded/")]
    assert rep["exported_rows"] == rep["n_encoded_rows"]
    assert sorted(rep["gc"]) == staged
    assert rep["after_gc"] == committed
    assert rep["decoded_after_gc"] and rep["verify_after_gc"] == "ok"


def test_commit_renames_only_the_named_attempt(spark, tmp_path, monkeypatch):
    """A run dir holding two attempts' hidden files per task: the driver
    commits the attempt each commit row names. The other attempt wrote
    every row too, so reading it would double the table."""
    src = str(tmp_path / "in.parquet")
    write_sequences(src, n=600, seed=11)
    out = str(tmp_path / "out")
    orig = engine._write_task_files

    def with_second_attempt(enc, fs, stage, tag, *rest):
        orig(enc, fs, stage, f"{tag}9", *rest)  # never named by a commit
        return orig(enc, fs, stage, tag, *rest)

    monkeypatch.setattr(engine, "_write_task_files", with_second_attempt)
    s = freeze(spark, src, out, target_tokens=20_000)
    monkeypatch.undo()
    run_dir = os.path.join(out, "encoded", f"run={s['run']}")
    names = sorted(os.listdir(run_dir))
    staged = [n for n in names if engine._STAGED.fullmatch(n)]
    parts = [n for n in names if n.startswith("part-")]
    assert parts and len(staged) == 2 * len(parts)
    assert decode_frozen(spark, out).count() == 600
    assert read_encoded(spark, out).count() == \
        read_manifest(spark, out).count()
    rep = verify_output(spark, out)
    assert rep["status"] == "ok" and rep["n_duplicate_rows"] == 0
    # the age guard keeps young attempt files: they may be in flight
    assert remove_orphans(spark, out)["n_removed"] == 0
    gc = remove_orphans(spark, out, min_age_s=0)
    assert sorted(gc["removed"]) == [f"encoded/run={s['run']}/{n}"
                                     for n in staged]
    assert sorted(os.listdir(run_dir)) == parts
    assert decode_frozen(spark, out).count() == 600
    assert verify_output(spark, out)["status"] == "ok"


def test_stream_replay_replaces_the_run_files(spark, tmp_path):
    """A replayed micro-batch (a fresh checkpoint over the same input)
    re-writes run ``stream00000000``: its files are replaced, not
    duplicated, and the log keeps the run's one entry."""
    from cryo_spark import streaming

    inp = tmp_path / "stream_in"
    inp.mkdir()
    write_sequences(str(inp / "a.parquet"), n=300, seed=13)
    out = str(tmp_path / "out")
    run = "stream00000000"

    def stream(ckpt: str) -> dict[str, int]:
        streaming.stream_encode(spark, str(inp), out, str(tmp_path / ckpt),
                                target_tokens=20_000).awaitTermination()
        return {os.path.relpath(os.path.join(r, f), out):
                os.stat(os.path.join(r, f)).st_ino
                for area in ("encoded", "manifest")
                for r, _, fs in os.walk(os.path.join(out, area, f"run={run}"))
                for f in fs if f.endswith(".parquet")}

    first = stream("ckpt_a")
    assert first and decode_frozen(spark, out).count() == 300
    again = stream("ckpt_b")
    assert sorted(again) == sorted(first)
    assert all(again[f] != first[f] for f in first)  # written anew
    assert decode_frozen(spark, out).count() == 300
    assert [e["run"] for e in snapshots.log(out)] == [run]
    assert verify_output(spark, out)["status"] == "ok"
