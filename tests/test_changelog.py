"""Row-level changelog (read_changes) — Iceberg changelog-read analog.

Contract under test: appends emit their rows as inserts stamped with the
commit seq, equality deletes emit key-only delete rows, compaction and
purge emit nothing (bytes moved, no logical change), and row-replacing
commits (upsert/overwrite) or vacuumed history raise instead of
guessing.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cryo_spark import freeze, write_sequences
from cryo_spark.engine import (compact, delete_where, purge_deletes,
                               read_changes, upsert)


def _changes(df):
    return sorted(
        (r["_commit_seq"], r["_change_type"], r["doc_id"])
        for r in df.select("_commit_seq", "_change_type", "doc_id").collect()
    )


@pytest.fixture()
def story(spark, tmp_path):
    """seq1: append 0:300, seq2: append 300:600, seq3: delete 0:100."""
    src = str(tmp_path / "seqs.parquet")
    write_sequences(src, n=600, seed=7)
    out = str(tmp_path / "out")
    s1 = freeze(spark, src, out, target_tokens=20_000, keys="0:300")
    s2 = freeze(spark, src, out, target_tokens=20_000, keys="300:600")
    d = delete_where(spark, out, keys="0:100")
    assert (s1["snapshot"], s2["snapshot"], d["snapshot"]) == (1, 2, 3)
    return src, out


def test_inserts_and_deletes_attributed_to_commits(spark, story):
    src, out = story
    ch = _changes(read_changes(spark, out, 0))
    n1 = sum(1 for s, t, _ in ch if (s, t) == (1, "insert"))
    n2 = sum(1 for s, t, _ in ch if (s, t) == (2, "insert"))
    n3 = sum(1 for s, t, _ in ch if (s, t) == (3, "delete"))
    assert (n1, n2, n3) == (300, 300, 100)
    assert len(ch) == 700
    # the delete rows name exactly the keys the predicate matched
    deleted = sorted(d for s, t, d in ch if t == "delete")
    expect = sorted(
        r.doc_id for r in spark.read.parquet(src)
        .filter(F.col("doc_id") < "doc-000000000100").select("doc_id").collect()
    )
    assert deleted == expect


def test_range_is_half_open_and_sub_selectable(spark, story):
    _, out = story
    # (1, 3] = second append + the delete, nothing from seq 1
    ch = _changes(read_changes(spark, out, 1, 3))
    assert {s for s, _, _ in ch} == {2, 3}
    assert sum(1 for s, t, _ in ch if t == "insert") == 300
    # (2, 3] = the delete only
    only_del = _changes(read_changes(spark, out, 2, 3))
    assert [(s, t) for s, t, _ in only_del] == [(3, "delete")] * 100
    # empty range -> empty frame with the changelog schema
    empty = read_changes(spark, out, 3, 3)
    assert empty.count() == 0
    assert {"_change_type", "_commit_seq"} <= set(empty.columns)


def test_delete_rows_are_key_only(spark, story):
    _, out = story
    dels = read_changes(spark, out, 2, 3).filter("_change_type = 'delete'")
    row = dels.first()
    assert row["doc_id"] is not None
    assert row["tokens"] is None and row["n_tok"] is None
    assert row["source"] is None


def test_compaction_and_purge_add_no_changes(spark, story):
    _, out = story
    before = _changes(read_changes(spark, out, 0))
    p = purge_deletes(spark, out)
    assert p["snapshot"] is not None
    c = compact(spark, out, target_tokens=500_000)
    hi = c["snapshot"] or p["snapshot"]
    after = _changes(read_changes(spark, out, 0, hi))
    assert after == before


def test_upsert_in_range_raises_but_range_before_it_works(spark, story):
    src, out = story
    batch = (
        spark.read.parquet(src)
        .filter(F.col("doc_id") >= "doc-000000000500")
        .withColumn("source", F.lit("patched"))
    )
    u = upsert(spark, out, batch)
    with pytest.raises(ValueError, match="upsert"):
        read_changes(spark, out, 0, u["snapshot"])
    # ranges that stop before the upsert stay readable
    assert len(_changes(read_changes(spark, out, 0, 3))) == 700


def test_three_appends_read_in_one_job(spark, tmp_path):
    """read_changes over three appends starts no Spark job while it
    builds its frame (no count per commit), and its action runs every
    append's file scan in one job."""
    src = str(tmp_path / "seqs.parquet")
    write_sequences(src, n=900, seed=7)
    out = str(tmp_path / "out")
    for lo in (0, 300, 600):
        freeze(spark, src, out, target_tokens=20_000, keys=f"{lo}:{lo + 300}")
    sc = spark.sparkContext

    def jobs(group: str, fn):
        sc.setJobGroup(group, "read_changes job count")
        try:
            res = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return res, len(sc.statusTracker().getJobIdsForGroup(group))

    df, n_build = jobs("changes_build", lambda: read_changes(spark, out, 0))
    rows, n_action = jobs("changes_action", df.collect)
    assert (n_build, n_action) == (0, 1)
    assert sorted((r["_commit_seq"], r["_change_type"]) for r in rows) == \
        sorted((seq, "insert") for seq in (1, 2, 3) for _ in range(300))
