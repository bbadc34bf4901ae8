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
