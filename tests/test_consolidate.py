"""Manifest consolidation (Iceberg rewrite_manifests analog).

Contract under test: consolidation is metadata-only and lossless — the
manifest rows, every read path (decode, resume, time travel, verify)
and the snapshot visibility replay are identical before and after; the
per-run manifest dirs are gone afterwards; crash windows on either side
of the commit are safe (unreferenced generations are ignored, leftover
absorbed dirs don't double-count).
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from cryo_spark import (consolidate_manifests, decode_frozen, freeze,
                        read_manifest, verify_output, write_sequences)
from cryo_spark.engine import _manifest_gens_path, _manifest_path
from cryo_spark import readview, snapshots


def _man_rows(spark, out, **kw):
    man = read_manifest(spark, out, **kw)
    cols = ["run", "partition_id", "chunk_id", "column", "status",
            "enc_bytes"]
    return sorted(tuple(r[c] for c in cols)
                  for r in man.select(*cols).collect())


def _decoded(spark, out, **kw):
    return sorted(
        (r["doc_id"], r["n_tok"])
        for r in decode_frozen(spark, out, columns=["doc_id", "n_tok"], **kw)
        .collect()
    )


def _run_dirs(out):
    base = _manifest_path(out)
    if not os.path.isdir(base):
        return set()
    return {d for d in os.listdir(base) if d.startswith("run=")}


@pytest.fixture()
def three_runs(spark, tmp_path):
    src = str(tmp_path / "seqs.parquet")
    write_sequences(src, n=600, seed=11)
    out = str(tmp_path / "out")
    for lo, hi in ((0, 200), (200, 400), (400, 600)):
        freeze(spark, src, out, target_tokens=20_000, keys=f"{lo}:{hi}")
    return src, out


def test_consolidate_lossless_and_dirs_gone(spark, three_runs):
    _, out = three_runs
    before_man = _man_rows(spark, out)
    before_dec = _decoded(spark, out)
    assert len(_run_dirs(out)) == 3

    rep = consolidate_manifests(spark, out)
    assert rep["consolidated"] and rep["n_absorbed_runs"] == 3

    assert _run_dirs(out) == set()          # dirs folded away
    gens = os.listdir(_manifest_gens_path(out))
    assert gens == [f"gen={rep['gen']}"]    # exactly one generation
    assert _man_rows(spark, out) == before_man
    assert _decoded(spark, out) == before_dec
    assert verify_output(spark, out)["status"] == "ok"


def test_time_travel_and_rollback_survive(spark, three_runs):
    _, out = three_runs
    at1_man = _man_rows(spark, out, as_of=1)
    at1_dec = _decoded(spark, out, as_of=1)
    consolidate_manifests(spark, out)
    assert _man_rows(spark, out, as_of=1) == at1_man
    assert _decoded(spark, out, as_of=1) == at1_dec
    snapshots.rollback(out, 2)
    assert _decoded(spark, out) == _decoded(spark, out, as_of=2)


def test_resume_skips_after_consolidation(spark, three_runs):
    src, out = three_runs
    consolidate_manifests(spark, out)
    again = freeze(spark, src, out, target_tokens=20_000, keys="0:200")
    assert again["n_encoded"] == 0          # manifest visible through gen


def test_second_consolidation_is_cumulative(spark, three_runs):
    src, out = three_runs
    r1 = consolidate_manifests(spark, out)
    before = _man_rows(spark, out)
    # a fourth run lands AFTER the first consolidation
    write_sequences(str(os.path.dirname(out)) + "/more.parquet",
                    n=800, seed=11)
    freeze(spark, os.path.dirname(out) + "/more.parquet", out,
           target_tokens=20_000, keys="600:800")
    mid = _man_rows(spark, out)
    assert len(mid) > len(before)
    r2 = consolidate_manifests(spark, out)
    assert r2["consolidated"] and r2["n_absorbed_runs"] == 1
    assert _man_rows(spark, out) == mid
    assert _run_dirs(out) == set()
    # old generation replaced by the new one
    assert os.listdir(_manifest_gens_path(out)) == [f"gen={r2['gen']}"]
    # absorbed set is cumulative: the new entry also covers gen-1's runs
    assert len(readview.read_view(out).absorbed) == 4
    assert r1["gen"] != r2["gen"]


def test_unreferenced_gen_is_ignored_and_collected(spark, three_runs):
    _, out = three_runs
    before = _man_rows(spark, out)
    # simulate a consolidation that died before its snapshot commit:
    # a generation dir exists but no log entry references it
    junk = os.path.join(_manifest_gens_path(out), "gen=rdeadbeef000")
    os.makedirs(junk)
    with open(os.path.join(junk, "garbage.parquet"), "w") as f:
        f.write("not parquet")
    assert _man_rows(spark, out) == before  # readers never touch it
    rep = consolidate_manifests(spark, out)
    assert rep["consolidated"]
    assert not os.path.isdir(junk)          # collected by the next pass
    assert _man_rows(spark, out) == before


def test_leftover_absorbed_dir_does_not_double_count(spark, three_runs):
    _, out = three_runs
    before = _man_rows(spark, out)
    before_dec = _decoded(spark, out)
    # stash one run dir OUTSIDE the manifest tree, consolidate, then put
    # the dir back — the commit-landed/delete-didn't crash window
    d = sorted(_run_dirs(out))[0]
    src_dir = os.path.join(_manifest_path(out), d)
    stash = os.path.join(os.path.dirname(out), "stash")
    shutil.copytree(src_dir, stash)
    consolidate_manifests(spark, out)
    shutil.copytree(stash, src_dir)
    assert _man_rows(spark, out) == before  # excluded, not doubled
    assert _decoded(spark, out) == before_dec
    # the next consolidation cleans the leftover
    rep = consolidate_manifests(spark, out)
    assert rep["n_stale_cleaned"] == 1 and not rep["consolidated"]
    assert _run_dirs(out) == set()


def test_streaming_runs_consolidate(spark, tmp_path):
    """The case the feature exists for: one manifest dir per micro-batch.

    Incremental streams commit run=stream<N> per batch — the 10^5-run
    growth mode; consolidation must fold those and leave decode + a
    later batch's append untouched.
    """
    from cryo_spark import streaming
    from cryo_spark.engine import decode, read_encoded

    inp = tmp_path / "stream_in"
    inp.mkdir()
    out = str(tmp_path / "stream_out")
    ckpt = str(tmp_path / "ckpt")
    write_sequences(str(inp / "a.parquet"), n=400, seed=1)
    streaming.stream_encode(spark, str(inp), out, ckpt,
                            target_tokens=50_000).awaitTermination(120)
    write_sequences(str(inp / "b.parquet"), n=300, seed=2)
    streaming.stream_encode(spark, str(inp), out, ckpt,
                            target_tokens=50_000).awaitTermination(120)

    rep = consolidate_manifests(spark, out)
    assert rep["consolidated"] and rep["n_absorbed_runs"] == 2
    assert _run_dirs(out) == set()
    assert decode(read_encoded(spark, out)).count() == 700

    # a post-consolidation batch appends a fresh run dir; reads union it
    write_sequences(str(inp / "c.parquet"), n=200, seed=3)
    streaming.stream_encode(spark, str(inp), out, ckpt,
                            target_tokens=50_000).awaitTermination(120)
    assert len(_run_dirs(out)) == 1
    assert decode(read_encoded(spark, out)).count() == 900
    rep2 = consolidate_manifests(spark, out)
    assert rep2["consolidated"] and rep2["n_absorbed_runs"] == 1
    assert decode(read_encoded(spark, out)).count() == 900


def test_colocated_fast_path_survives_consolidation(spark, tmp_path):
    """join_frozen's zero-exchange path must still engage when both
    outputs' manifest dirs were folded into generations."""
    from cryo_spark import colocated, engine
    from cryo_spark.tablespec import ColumnSpec, TableSpec

    scores_spec = TableSpec(
        name="scores", key="doc_id",
        columns=(ColumnSpec("doc_id", "str"), ColumnSpec("score", "int64"),
                 ColumnSpec("source", "str")),
        partition_col="source", weight="score",
    )
    seq_in = str(tmp_path / "seq_in")
    write_sequences(seq_in, n=2_000, seed=3)
    sc_in = str(tmp_path / "sc_in")
    spark.read.parquet(seq_in).select(
        "doc_id",
        (F.crc32("doc_id") % 1000).cast("long").alias("score"),
        "source",
    ).write.parquet(sc_in)
    out_a, out_b = str(tmp_path / "out_a"), str(tmp_path / "out_b")
    engine.freeze(spark, seq_in, out_a, target_tokens=8_192)
    engine.freeze(spark, sc_in, out_b, spec=scores_spec, align_with=out_a)
    for out in (out_a, out_b):
        assert consolidate_manifests(spark, out)["consolidated"]
    j = colocated.join_frozen(
        spark, out_a, out_b, columns_a=["n_tok"], columns_b=["score"],
        require_colocated=True)
    ref = spark.read.parquet(seq_in).select("doc_id", "n_tok").join(
        spark.read.parquet(sc_in).select("doc_id", "score"), "doc_id")
    assert sorted(tuple(r) for r in j.collect()) == sorted(
        tuple(r) for r in ref.collect())


def test_pruned_reads_after_consolidation(spark, three_runs):
    """Zone maps and key blooms live in manifest rows; pruned reads must
    return identical results when those rows come from a generation."""
    from cryo_spark import collect

    _, out = three_runs
    def reads():
        return (
            sorted(r.doc_id for r in
                   collect(spark, out, keys="150:450").collect()),
            sorted(r.doc_id for r in
                   collect(spark, out, keys="77").collect()),
        )
    before = reads()
    assert len(before[0]) == 300 and len(before[1]) == 1
    consolidate_manifests(spark, out)
    assert reads() == before


def test_changelog_after_consolidation(spark, three_runs):
    """read_changes must attribute the same inserts to the same commits
    when the manifest rows live in a generation."""
    from cryo_spark.engine import read_changes

    _, out = three_runs
    def changes():
        return sorted(
            (r["_commit_seq"], r["_change_type"], r["doc_id"])
            for r in read_changes(spark, out, 0)
            .select("_commit_seq", "_change_type", "doc_id").collect())
    before = changes()
    consolidate_manifests(spark, out)
    assert changes() == before
    # incremental append scan also crosses the consolidate entry fine
    from cryo_spark import read_appends
    assert read_appends(spark, out, 1).count() > 0


def test_compact_vacuum_after_consolidation(spark, three_runs):
    """Rewrite + GC over an output whose manifest lives in a generation:
    compaction tombstones must retire gen-resident rows, vacuum must
    still find dead runs, and a second consolidation absorbs the
    compact run."""
    from cryo_spark.engine import compact, vacuum

    _, out = three_runs
    before = _decoded(spark, out)
    consolidate_manifests(spark, out)
    s = compact(spark, out, target_tokens=100_000)
    assert s["run"] is not None and s["n_compacted"] > 0
    assert _decoded(spark, out) == before
    v = vacuum(spark, out)
    assert v["n_deleted_runs"] >= 1
    assert _decoded(spark, out) == before
    rep = consolidate_manifests(spark, out)
    assert rep["consolidated"] and rep["n_absorbed_runs"] == 1
    assert _decoded(spark, out) == before


def test_missing_referenced_gen_raises(spark, three_runs):
    """A generation the log references but whose bytes are gone is
    metadata corruption — readers must raise, never silently drop every
    absorbed run's manifest."""
    _, out = three_runs
    rep = consolidate_manifests(spark, out)
    shutil.rmtree(os.path.join(_manifest_gens_path(out),
                               f"gen={rep['gen']}"))
    with pytest.raises(ValueError, match="unreadable"):
        read_manifest(spark, out).count()


def test_consolidate_nothing_to_do(spark, tmp_path):
    out = str(tmp_path / "empty_out")
    rep = consolidate_manifests(spark, out)
    assert rep == dict(consolidated=False, reason="no snapshot log")


def test_uncommitted_run_dir_left_alone(spark, three_runs):
    _, out = three_runs
    # a manifest dir present on disk but absent from the snapshot log
    # (in-flight writer) must not be absorbed
    fake = os.path.join(_manifest_path(out), "run=rinflight0000")
    os.makedirs(fake)
    rep = consolidate_manifests(spark, out)
    assert rep["n_absorbed_runs"] == 3
    assert _run_dirs(out) == {"run=rinflight0000"}
