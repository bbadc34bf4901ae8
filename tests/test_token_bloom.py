"""Token-content Bloom filters: 'contains' reads prune from the manifest.

Every int-list chunk's manifest row carries a Bloom over its DISTINCT
element values (splitmix64 hashes, built in the encode kernel at
O(vocab) cost). `collect(filters=[("tokens","contains",v)])` then
answers the inverted-index question — which chunks contain token v —
from metadata alone, with array_contains as the residual row filter.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from cryo_spark import collect, freeze, hashing
from cryo_spark.engine import (_distinct_ints, _zone_map_prune, read_encoded,
                               read_manifest)
from cryo_spark.tablespec import SEQUENCES


def test_hash_i64_and_distinct_ints():
    vals = np.array([0, 1, -5, 2**40, 7, 7, 1], dtype=np.int64)
    h = hashing.hash_i64(vals)
    assert h.dtype == np.uint64
    assert h[1] == h[6] and h[0] != h[1]  # deterministic, value-pure
    assert list(_distinct_ints(vals)) == sorted(set(vals.tolist()))
    wide = np.array([0, 2**40], dtype=np.int64)  # unique fallback path
    assert list(_distinct_ints(wide)) == [0, 2**40]


@pytest.fixture(scope="module")
def frozen(spark, sequences_path, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("tokbloom") / "out")
    s = freeze(spark, sequences_path, out, target_tokens=30_000)
    assert s["n_failed"] == 0
    return out


def test_token_blooms_written_for_list_column(spark, frozen):
    # bloom BYTES are side-located in the encoded files; the manifest
    # keeps a NULL slot (schema stable, ~130 KB/chunk of ride-along gone)
    from cryo_spark.engine import read_bloom_stats

    bs = read_bloom_stats(spark, frozen).filter(
        (F.col("status") == "ok") & (F.col("column") == "tokens"))
    rows = bs.select("key_bloom").collect()
    assert rows and all(r.key_bloom is not None for r in rows)
    man = read_manifest(spark, frozen).filter(
        (F.col("status") == "ok") & (F.col("column") == "tokens"))
    assert man.filter(F.col("key_bloom").isNotNull()).count() == 0


def test_contains_prunes_chunks_and_matches_full_scan(spark, sequences_path,
                                                      frozen):
    src = spark.read.parquet(sequences_path)
    # a token that appears in FEW rows: take a token only one doc has
    tok = (
        src.select(F.explode("tokens").alias("t"))
        .groupBy("t").count().orderBy("count", "t").first()["t"]
    )
    from cryo_spark.engine import read_bloom_stats

    enc = read_encoded(spark, frozen)
    man = read_manifest(spark, frozen)
    total = enc.select("run", "partition_id", "chunk_id").distinct().count()
    kept = (
        _zone_map_prune(enc, [("tokens", "contains", int(tok))], SEQUENCES,
                        man=man,
                        bloom_src=read_bloom_stats(spark, frozen))
        .select("run", "partition_id", "chunk_id").distinct().count()
    )
    assert 0 < kept < total  # the bloom actually pruned
    got = collect(spark, frozen, filters=[("tokens", "contains", int(tok))])
    want = src.filter(F.array_contains("tokens", F.lit(int(tok)).cast("int")))
    g = sorted((r.doc_id, tuple(r.tokens)) for r in got.collect())
    w = sorted((r.doc_id, tuple(r.tokens)) for r in want.collect())
    assert g == w and g


def test_contains_rejects_scalar_and_float_lists(spark, frozen):
    with pytest.raises(ValueError, match="targets list columns"):
        collect(spark, frozen, filters=[("n_tok", "contains", 3)])
