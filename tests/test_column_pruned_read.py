"""Column-clustered encoded layout + row-group-pruned skinny decodes.

engine._write_task_files sorts each encode task's rows by (column, chunk_id),
so parquet row groups become column-pure bands; select_row_groups then
keeps only the bands a projection needs. Pinned here: the selection is
a strict subset for a skinny projection on a multi-row-group file, the
pruned decode is value-identical to the unpruned one, and the full
round trip is unchanged by the sort.
"""

from __future__ import annotations

import pytest

import pyarrow.parquet as pq

from pyspark.sql import functions as F

from cryo_spark import engine, sources
from cryo_spark.fixtures import write_sequences


@pytest.fixture(scope="module")
def small_rg_frozen(spark, tmp_path_factory):
    """A frozen output whose encoded files hold MANY row groups (tiny
    parquet block size), so band pruning is observable at test scale."""
    base = tmp_path_factory.mktemp("prune")
    seq_in = str(base / "in")
    write_sequences(seq_in, n=3_000, seed=3)
    out = str(base / "out")
    # shrink the writer's row-group target so the tiny test files still
    # rotate groups (production default is 8 MiB — engine.ENC_BLOCK_BYTES)
    old = engine.ENC_BLOCK_BYTES
    engine.ENC_BLOCK_BYTES = 64 << 10
    try:
        engine.freeze(spark, seq_in, out, target_tokens=4_096)
    finally:
        engine.ENC_BLOCK_BYTES = old
    return seq_in, out


def _enc_files(out: str) -> list[str]:
    import os

    enc = engine._encoded_path(out)
    return [
        os.path.join(enc, r, f)
        for r in sorted(os.listdir(enc)) if r.startswith("run=")
        for f in sorted(os.listdir(os.path.join(enc, r)))
        if f.endswith(".parquet")
    ]


def test_selection_is_strict_subset_for_skinny_projection(small_rg_frozen):
    _, out = small_rg_frozen
    files = _enc_files(out)
    assert files
    pruned_somewhere = False
    for p in files:
        n_rg = pq.ParquetFile(p).metadata.num_row_groups
        sel = sources.select_row_groups(p, "column", {"n_tok"})
        assert sel is not None  # stats present on the sorted layout
        full = sources.select_row_groups(
            p, "column", {"doc_id", "tokens", "n_tok", "source"})
        assert full == list(range(n_rg))
        if n_rg > 1:
            assert len(sel) < n_rg
            pruned_somewhere = True
    assert pruned_somewhere, "fixture produced only single-row-group files"


def test_pruned_decode_matches_source(spark, small_rg_frozen):
    seq_in, out = small_rg_frozen
    got = engine.decode_frozen(spark, out, ["doc_id", "n_tok"])
    want = spark.read.parquet(seq_in).select("doc_id", "n_tok")
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, want.collect()))


def test_full_roundtrip_unchanged_by_clustering(spark, small_rg_frozen):
    seq_in, out = small_rg_frozen
    got = engine.decode_frozen(spark, out).agg(
        F.count(F.lit(1)), F.sum("n_tok"),
        F.sum(F.expr("aggregate(tokens, 0L, (a, x) -> a + x)")),
    ).collect()
    want = spark.read.parquet(seq_in).agg(
        F.count(F.lit(1)), F.sum("n_tok"),
        F.sum(F.expr("aggregate(tokens, 0L, (a, x) -> a + x)")),
    ).collect()
    assert got == want


def test_relational_projection_also_prunes(spark, small_rg_frozen):
    """decode(read_encoded(...)) prunes the unwanted columns' rows with
    `column IN (...)` after read_encoded's pyarrow file scan, which
    reads every row group; with the clustered layout its answer must
    stay identical too."""
    seq_in, out = small_rg_frozen
    dec = engine.decode(engine.read_encoded(spark, out), ["doc_id", "n_tok"])
    want = spark.read.parquet(seq_in).select("doc_id", "n_tok")
    assert sorted(map(tuple, dec.collect())) == \
        sorted(map(tuple, want.collect()))
