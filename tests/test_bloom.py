"""Per-chunk key Bloom filters: point-lookup pruning under hash layout.

Chunk placement is hash-bucketed, so chunk key RANGES span the whole
key space and zone maps cannot prune point lookups. The key column's
manifest row carries a Bloom filter over the chunk's key strings
(hashing.bloom_build, ~10 bits/key) — point reads and bounded delete
purges touch only the true containing chunks (plus ~1% noise).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from cryo_spark import collect, delete_where, freeze, purge_deletes, hashing
from cryo_spark.engine import (_bloom_chunk_keys, read_bloom_stats,
                               read_encoded, read_manifest)
from cryo_spark.tablespec import SEQUENCES


def test_bloom_unit_no_false_negatives():
    keys = pa.array([f"doc-{i:012d}" for i in range(10_000)])
    h = hashing.hash_utf8(keys)
    b = hashing.bloom_build(h)
    assert hashing.bloom_test(b, h).all()
    other = hashing.hash_utf8(
        pa.array([f"doc-{i:012d}" for i in range(50_000, 80_000)]))
    assert hashing.bloom_test(b, other).mean() < 0.05


def test_bloom_sizes_scale_and_cap():
    small = hashing.bloom_build(np.arange(10, dtype=np.uint64))
    big = hashing.bloom_build(np.arange(500_000, dtype=np.uint64))
    assert len(small) == 128           # 1024-bit floor
    assert len(big) == (1 << 20) // 8  # 128 KiB cap


@pytest.fixture(scope="module")
def frozen(spark, sequences_path, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("bloom") / "out")
    s = freeze(spark, sequences_path, out, target_tokens=30_000)
    assert s["n_failed"] == 0
    return out


def test_blooms_side_located_not_in_manifest(spark, frozen):
    # the authoritative bloom copy rides the encoded files; the lookup
    # paths load it via read_bloom_stats. The manifest keeps the SLOT
    # (schema stable, legacy manifests still read) but NULL bytes —
    # ~130 KB/chunk of ride-along metadata gone at scale (r4 verdict)
    bs = read_bloom_stats(spark, frozen).filter(F.col("status") == "ok")
    key_rows = bs.filter(F.col("column") == "doc_id")
    assert key_rows.filter(F.col("key_bloom").isNull()).count() == 0
    # int-list columns carry a content bloom (test_token_bloom.py);
    # every OTHER column's bloom slot stays null
    assert bs.filter(~F.col("column").isin("doc_id", "tokens"))\
        .filter(F.col("key_bloom").isNotNull()).count() == 0
    man = read_manifest(spark, frozen).filter(F.col("status") == "ok")
    assert man.filter(F.col("key_bloom").isNotNull()).count() == 0


def test_bloom_prunes_point_lookup(spark, frozen):
    man = read_manifest(spark, frozen)
    total = man.filter(
        (F.col("status") == "ok") & (F.col("column") == "doc_id")).count()
    bk = _bloom_chunk_keys(read_bloom_stats(spark, frozen),
                           ["doc-000000000123"], SEQUENCES)
    kept = bk.count()
    # one key lives in exactly one chunk; FP noise stays tiny
    assert 1 <= kept <= max(2, total // 4)
    # and the point read through collect() is correct
    got = collect(spark, frozen, keys="123").collect()
    assert len(got) == 1 and got[0].doc_id == "doc-000000000123"


def test_bloom_prunes_multi_point_and_stride(spark, frozen):
    got = sorted(r.doc_id for r in
                 collect(spark, frozen, keys="7 99 1234").collect())
    assert got == ["doc-000000000007", "doc-000000000099",
                   "doc-000000001234"]
    got = collect(spark, frozen, keys="100:200:25").collect()
    assert sorted(r.doc_id for r in got) == [
        f"doc-{i:012d}" for i in range(100, 200, 25)]


def test_purge_uses_blooms(spark, frozen, tmp_path):
    import shutil

    out = str(tmp_path / "out")
    shutil.copytree(frozen, out)
    man = read_manifest(spark, out)
    n_chunks = man.filter(
        (F.col("status") == "ok") & (F.col("column") == "doc_id")).count()
    delete_where(spark, out, keys="5")
    p = purge_deletes(spark, out, target_tokens=400_000)
    # a single-key delete must rewrite ~1 chunk, not the whole table
    # (range join alone would mark nearly every chunk under hash layout)
    assert p["n_purged_rows"] == 1
    assert p["n_rewritten"] <= max(2, n_chunks // 4)
