"""compact(): merge undersized chunks, atomic tombstone retirement.

The Iceberg rewrite_data_files analog over the encoded layout — small
chunks from incremental encodes are decoded, re-encoded at target size
as a new run, and the originals retired via tombstones committed in the
same step as the new run's manifest.
"""

from __future__ import annotations

import glob
import os
import shutil

import pytest
from pyspark.sql import functions as F

from cryo_spark import compact, decode, decode_frozen, freeze
from cryo_spark import readview
from cryo_spark.engine import _live_chunks, read_encoded, read_manifest


SMALL = 20_000   # freeze target: many small chunks from the 10k fixture
BIG = 400_000    # compact target


def _rows(df):
    return sorted(
        (r.doc_id, tuple(r.tokens), r.n_tok, r.source)
        for r in df.collect()
    )


@pytest.fixture()
def frozen(spark, sequences_path, tmp_path):
    out = str(tmp_path / "out")
    s = freeze(spark, sequences_path, out, target_tokens=SMALL)
    assert s["n_failed"] == 0
    return out, _rows(decode(read_encoded(spark, out)))


def test_compact_merges_and_roundtrips(spark, frozen):
    out, before = frozen
    man = read_manifest(spark, out)
    n_before = _live_chunks(spark, readview.read_view(out), man).count()
    s = compact(spark, out, target_tokens=BIG)
    assert s["n_compacted"] >= 2 and s["run"] is not None
    assert s["n_new_chunks"] < s["n_compacted"]
    man = read_manifest(spark, out)
    n_after = _live_chunks(spark, readview.read_view(out), man).count()
    assert n_after == n_before - s["n_retired"] + s["n_new_chunks"]
    # bit-identical through BOTH read paths after the rewrite
    assert _rows(decode(read_encoded(spark, out))) == before
    assert _rows(decode_frozen(spark, out)) == before


def test_compact_idempotent(spark, frozen):
    out, before = frozen
    s1 = compact(spark, out, target_tokens=BIG)
    assert s1["run"] is not None
    s2 = compact(spark, out, target_tokens=BIG)
    assert s2["run"] is None and s2["n_compacted"] == 0
    assert _rows(decode(read_encoded(spark, out))) == before


def test_compact_noop_when_chunks_are_big_enough(spark, sequences_path,
                                                 tmp_path):
    out = str(tmp_path / "out")
    freeze(spark, sequences_path, out, target_tokens=BIG)
    s = compact(spark, out, target_tokens=BIG)
    assert s["run"] is None
    # nothing written: no tombstones dir, single manifest run
    assert not os.path.isdir(f"{out}/tombstones")
    assert len(glob.glob(f"{out}/manifest/run=*")) == 1


def test_compact_retires_a_run_whole_when_its_rest_fits_one_chunk(
        spark, sequences_path, tmp_path):
    """A run that gives up its small chunks also gives up the rest when
    that holds at most ``target_tokens``: the run dies whole and vacuum
    deletes its files. A rest above the target stays live."""
    from cryo_spark import vacuum

    def sizes(out):
        man = read_manifest(spark, out).filter(
            (F.col("status") == "ok") & (F.col("column") == "tokens"))
        return sorted(r.n_values for r in man.select("n_values").collect())

    out = str(tmp_path / "whole")
    freeze(spark, sequences_path, out, target_tokens=SMALL)
    n = sizes(out)
    # every chunk but the largest is small; the largest fits in BIG
    s = compact(spark, out, target_tokens=BIG, min_tokens=n[-1])
    assert s["n_retired"] == len(n)
    before = _rows(decode_frozen(spark, out))
    v = vacuum(spark, out)
    assert v["n_deleted_runs"] == 1
    assert _rows(decode_frozen(spark, out)) == before

    out = str(tmp_path / "partial")
    freeze(spark, sequences_path, out, target_tokens=SMALL)
    # the chunks at or above the median hold far more than the target
    mid = n[len(n) // 2]
    assert sum(x for x in n if x >= mid) > BIG
    s = compact(spark, out, target_tokens=BIG, min_tokens=mid)
    assert s["n_retired"] == sum(x < mid for x in n)
    assert vacuum(spark, out)["n_deleted_runs"] == 0


def test_uncommitted_tombstones_are_invisible(spark, frozen):
    out, before = frozen
    s = compact(spark, out, target_tokens=BIG)
    # simulate a compaction that died after writing tombstones but
    # before its manifest commit: copy the tombstone run under a fake
    # run id that has no manifest entry
    src = f"{out}/tombstones/run={s['run']}"
    shutil.copytree(src, f"{out}/tombstones/run=deadbeef0000")
    assert _rows(decode(read_encoded(spark, out))) == before
    assert _rows(decode_frozen(spark, out)) == before


def test_freeze_resume_unaffected_by_compaction(spark, sequences_path,
                                                frozen):
    out, _ = frozen
    compact(spark, out, target_tokens=BIG)
    # the original plan's chunks are still done: their data lives on in
    # the compacted run, so a re-freeze must encode nothing
    s = freeze(spark, sequences_path, out, target_tokens=SMALL)
    assert s["n_encoded"] == 0


def test_compact_across_runs_with_colliding_chunk_ids(spark, sequences_path,
                                                      tmp_path):
    """The primary compaction case: many incremental runs, each with its
    own plan-relative chunk ids starting at 0 — tombstones must retire
    (run, chunk) pairs, not bare chunk ids, and the shuffle-free decode
    must apply a separate drop bitmap per run."""
    out = str(tmp_path / "out")
    s1 = freeze(spark, sequences_path, out, target_tokens=SMALL,
                keys="0:5000")
    s2 = freeze(spark, sequences_path, out, target_tokens=SMALL,
                keys="5000:10000")
    assert s1["n_chunks"] > 1 and s2["n_chunks"] > 1
    before = _rows(decode(read_encoded(spark, out)))
    assert len(before) == 10_000
    s = compact(spark, out, target_tokens=BIG)
    assert s["run"] is not None
    # tombstones must span both source runs
    ts = spark.read.parquet(f"{out}/tombstones")
    assert ts.select("target_run").distinct().count() == 2
    assert _rows(decode(read_encoded(spark, out))) == before
    assert _rows(decode_frozen(spark, out)) == before
    assert decode_frozen(spark, out).count() == 10_000


def test_compacted_payload_not_read_twice(spark, frozen):
    out, before = frozen
    compact(spark, out, target_tokens=BIG)
    # row count (not just set equality): a retired chunk decoded twice
    # would duplicate rows
    assert decode(read_encoded(spark, out)).count() == len(before)
    assert decode_frozen(spark, out).count() == len(before)
    # manifest history is append-only: original ok rows all remain
    man = read_manifest(spark, out)
    runs = [r.run for r in man.select("run").distinct().collect()]
    assert len(runs) == 2


def test_plan_tap_equals_plan_chunks(spark, sequences_path, tmp_path,
                                    monkeypatch):
    """Compaction plans in the job that checkpoints its rows: the
    histogram rides in an accumulator (``layout.PlanTap``), and the plan
    is the one ``plan_chunks`` computes with its own histogram job.
    upsert and purge_deletes plan the same way over their transformed
    rows: the plan they encode is ``plan_chunks``' over the same
    checkpointed rows, given the bound the tap took its bucket count
    from (the retired chunks' payload n_values, plus the batch weight)."""
    from cryo_spark import delete_where, engine, layout, purge_deletes, upsert
    from cryo_spark.arrowutil import amap
    from cryo_spark.tablespec import SEQUENCES

    df = spark.read.parquet(sequences_path).select(
        *[c.name for c in SEQUENCES.columns]).repartition(3)
    total = layout.weight_total(df)
    for target in (SMALL, BIG):
        tap = layout.PlanTap(spark, total, target)
        rows = amap(df, tap.kernel, SEQUENCES.spark_ddl()).localCheckpoint()
        assert rows.count() == df.count()
        assert tap.plan() == layout.plan_chunks(df, target)
        assert tap.n_rows == df.count()

    encoded, totals = [], []
    packed, plan_tap = engine._packed, layout.PlanTap

    def spy_packed(rows, plan, *a, **kw):
        encoded.append((rows, plan))
        return packed(rows, plan, *a, **kw)

    class Tap(plan_tap):
        def __init__(self, spark_, total_tokens, *a, **kw):
            totals.append(total_tokens)
            super().__init__(spark_, total_tokens, *a, **kw)

    out = str(tmp_path / "out")
    freeze(spark, sequences_path, out, target_tokens=SMALL)
    monkeypatch.setattr(engine, "_packed", spy_packed)
    monkeypatch.setattr(layout, "PlanTap", Tap)

    def bound(run: str) -> int:
        """Payload n_values of the chunks ``run`` retired."""
        ts = spark.read.parquet(f"{out}/tombstones/run={run}") \
            .withColumnRenamed("target_run", "run")
        return read_manifest(spark, out).filter(F.col("column") == "tokens") \
            .join(ts, ["run", "partition_id", "chunk_id"], "left_semi") \
            .agg(F.sum("n_values")).first()[0]

    batch = df.filter(F.col("doc_id") < "doc-000000000300") \
        .withColumn("tokens", F.reverse("tokens"))
    u = upsert(spark, out, batch, target_tokens=SMALL)
    assert u["n_updated"] == 300 and u["n_inserted"] == 0
    assert totals[-1] == bound(u["run"]) + layout.weight_total(batch)
    delete_where(spark, out, keys="1000:+400")
    p = purge_deletes(spark, out, target_tokens=SMALL)
    assert p["n_purged_rows"] == 400
    assert totals[-1] == bound(p["run"])
    assert len(encoded) == 2
    for (rows, plan), n_new, bound_tokens in zip(
            encoded, (u["n_new_chunks"], p["n_new_chunks"]), totals[-2:]):
        assert plan.n_chunks == n_new > 0
        assert plan == layout.plan_chunks(rows, SMALL,
                                          total_tokens=bound_tokens)


def test_compaction_set_takes_a_rest_only_when_every_live_chunk_is_seen():
    """A run's rest joins the compaction set only when the collected
    rows hold all its live chunks: its log entry's ``n_ok_chunks``
    minus its tombstoned chunks. Without the stamp, only its small
    chunks go."""
    from types import SimpleNamespace

    import pyarrow as pa

    from cryo_spark.engine import _compaction_set

    rows = pa.table({
        "run": ["a", "a", "b", "b", "c", "d", "d"],
        "partition_id": pa.array([0] * 7, pa.int32()),
        "chunk_id": pa.array([0, 1, 0, 1, 0, 0, 1], pa.int32()),
        "n_values": [5, 40, 5, 40, 5, 5, 40],
    })
    # d committed 3 ok chunks, one of them since tombstoned
    drops = readview.bitmaps(pa.table({"run": ["d"],
                                       "chunk_id": pa.array([2], pa.int32())}))
    view = SimpleNamespace(ok_chunks={"a": 2, "b": 3, "d": 3}, drops=drops)
    got = _compaction_set(rows, view, min_tokens=10, target_tokens=50)
    assert sorted(zip(got["run"].to_pylist(), got["chunk_id"].to_pylist())) \
        == [("a", 0), ("a", 1), ("b", 0), ("c", 0), ("d", 0), ("d", 1)]
    # a rest above the target stays
    got = _compaction_set(rows, view, min_tokens=10, target_tokens=30)
    assert got["n_values"].to_pylist() == [5, 5, 5, 5]
