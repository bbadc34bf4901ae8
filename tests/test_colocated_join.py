"""Co-located join of aligned frozen outputs (colocated.join_frozen).

Pins: plan persistence round-trips bit-for-bit (fingerprint check),
align_with reproduces the donor plan, the fast-path join matches a
relational reference join exactly (inner and left, including keys
missing on one side and duplicate keys), the physical plan moves no
payload through an exchange, and every precondition failure falls back
to the relational join instead of answering wrong.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from cryo_spark import colocated, engine
from cryo_spark.fixtures import write_sequences
from cryo_spark.tablespec import SEQUENCES, ColumnSpec, TableSpec

SCORES = TableSpec(
    name="scores",
    key="doc_id",
    columns=(
        ColumnSpec("doc_id", "str"),
        ColumnSpec("score", "int64"),
        ColumnSpec("grade", "str"),
        ColumnSpec("source", "str"),
    ),
    partition_col="source",
    weight="score",
)


def _scores_from(spark, seq_path: str, out_path: str,
                 drop_mod: int | None = None) -> None:
    """Deterministic enrichment table keyed like the sequences fixture;
    ``drop_mod`` removes every drop_mod-th key to exercise unmatched
    rows."""
    df = spark.read.parquet(seq_path).select(
        "doc_id",
        (F.crc32("doc_id") % 1000).cast("long").alias("score"),
        F.when(F.crc32("doc_id") % 3 == 0, "good")
        .otherwise("bad").alias("grade"),
        "source",
    )
    if drop_mod is not None:
        df = df.filter(F.crc32("doc_id") % drop_mod != 0)
    df.write.parquet(out_path)


@pytest.fixture(scope="module")
def frozen_pair(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("coloc")
    seq_in = str(base / "seq_in")
    write_sequences(seq_in, n=4_000, seed=7)
    sc_in = str(base / "sc_in")
    _scores_from(spark, seq_in, sc_in, drop_mod=5)
    out_a = str(base / "out_a")
    out_b = str(base / "out_b")
    engine.freeze(spark, seq_in, out_a, target_tokens=8_192)
    engine.freeze(spark, sc_in, out_b, spec=SCORES, align_with=out_a)
    return seq_in, sc_in, out_a, out_b


def _ref_join(spark, seq_in, sc_in, how):
    a = spark.read.parquet(seq_in).select("doc_id", "n_tok")
    b = spark.read.parquet(sc_in).select("doc_id", "score", "grade")
    return a.join(b, "doc_id", how)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_plan_persists_and_roundtrips(spark, frozen_pair):
    _, _, out_a, out_b = frozen_pair
    plan = engine.load_output_plan(out_a)
    assert plan is not None
    fp = engine._plan_fingerprint(plan)
    # the loader itself verifies fp == filename; donor and aligned
    # output must share the fingerprint end-to-end (manifest included)
    man_b = engine.read_manifest(spark, out_b)
    ids = {r["plan_id"] for r in man_b.select("plan_id").distinct().collect()}
    assert ids == {fp}
    # aligned output reuses the plan object verbatim
    plan_b = engine.load_output_plan(out_b)
    assert plan_b.mapping == plan.mapping
    assert plan_b.n_chunks == plan.n_chunks


def test_inner_join_matches_relational(spark, frozen_pair):
    seq_in, sc_in, out_a, out_b = frozen_pair
    j = colocated.join_frozen(
        spark, out_a, out_b, columns_a=["n_tok"],
        columns_b=["score", "grade"], require_colocated=True)
    assert _rows(j) == _rows(_ref_join(spark, seq_in, sc_in, "inner"))


def test_left_join_matches_relational(spark, frozen_pair):
    seq_in, sc_in, out_a, out_b = frozen_pair
    j = colocated.join_frozen(
        spark, out_a, out_b, columns_a=["n_tok"],
        columns_b=["score", "grade"], how="left", require_colocated=True)
    got = _rows(j)
    want = _rows(_ref_join(spark, seq_in, sc_in, "left"))
    assert got == want
    # the drop_mod=5 side really left some A rows unmatched
    assert any(r[2] is None for r in got)


def test_no_payload_exchange_in_plan(spark, frozen_pair):
    _, _, out_a, out_b = frozen_pair
    j = colocated.join_frozen(spark, out_a, out_b, columns_a=["n_tok"],
                              columns_b=["score"], require_colocated=True)
    plan_str = j._jdf.queryExecution().toString()
    # the file groups ride in the task closure: no exchange at all, and
    # no SortMergeJoin / hash join of payloads
    assert "SortMergeJoin" not in plan_str
    assert "BroadcastHashJoin" not in plan_str
    assert "Exchange" not in plan_str
    # one kernel over both sides (the fallback decodes each side apart)
    physical = j._jdf.queryExecution().executedPlan().toString()
    assert physical.count("MapInArrow") == 1


def test_duplicate_keys_multiply_like_sql(spark, frozen_pair, tmp_path):
    seq_in, _, out_a, _ = frozen_pair
    dup_in = str(tmp_path / "dup_in")
    df = spark.read.parquet(seq_in).select(
        "doc_id", (F.crc32("doc_id") % 100).cast("long").alias("score"),
        F.lit("dup").alias("grade"), "source")
    df.limit(50).unionAll(df.limit(50)).write.parquet(dup_in)
    out_dup = str(tmp_path / "out_dup")
    engine.freeze(spark, dup_in, out_dup, spec=SCORES, align_with=out_a)
    j = colocated.join_frozen(spark, out_a, out_dup, columns_a=["n_tok"],
                              columns_b=["score"], require_colocated=True)
    a = spark.read.parquet(seq_in).select("doc_id", "n_tok")
    b = spark.read.parquet(dup_in).select("doc_id", "score")
    assert _rows(j) == _rows(a.join(b, "doc_id", "inner"))
    assert j.count() == 100  # every duplicated key matched twice


def test_unaligned_plans_fall_back(spark, frozen_pair, tmp_path):
    seq_in, sc_in, out_a, _ = frozen_pair
    out_own = str(tmp_path / "out_own")
    engine.freeze(spark, sc_in, out_own, spec=SCORES, target_tokens=4_096)
    with pytest.raises(ValueError, match="fast path unavailable"):
        colocated.join_frozen(spark, out_a, out_own, columns_a=["n_tok"],
                              columns_b=["score"], require_colocated=True)
    j = colocated.join_frozen(spark, out_a, out_own, columns_a=["n_tok"],
                              columns_b=["score", "grade"])
    assert _rows(j) == _rows(_ref_join(spark, seq_in, sc_in, "inner"))


def test_align_with_refuses_zorder(spark, frozen_pair, tmp_path):
    seq_in, sc_in, _, _ = frozen_pair
    out_z = str(tmp_path / "out_z")
    engine.freeze(spark, seq_in, out_z, target_tokens=8_192,
                  chunk_by="zorder")
    with pytest.raises(ValueError, match="key-pure"):
        engine.freeze(spark, sc_in, str(tmp_path / "out_zb"), spec=SCORES,
                      align_with=out_z)


def test_align_with_refuses_missing_plan(spark, frozen_pair, tmp_path):
    _, sc_in, _, _ = frozen_pair
    with pytest.raises(ValueError, match="no persisted chunk plan"):
        engine.freeze(spark, sc_in, str(tmp_path / "out_x"), spec=SCORES,
                      align_with=str(tmp_path / "nowhere"))


def test_column_clash_and_key_selection(spark, frozen_pair):
    _, _, out_a, out_b = frozen_pair
    with pytest.raises(ValueError, match="disjoint"):
        colocated.join_frozen(spark, out_a, out_b,
                              columns_a=["source"], columns_b=["source"])
    j = colocated.join_frozen(spark, out_a, out_b, columns_a=["n_tok"],
                              columns_b=["grade"], require_colocated=True)
    assert j.columns == ["doc_id", "n_tok", "grade"]


def test_pending_deletes_force_fallback(spark, frozen_pair, tmp_path):
    seq_in, sc_in, out_a, _ = frozen_pair
    # fresh aligned copy so the module-scoped fixture stays clean
    out_d = str(tmp_path / "out_d")
    engine.freeze(spark, sc_in, out_d, spec=SCORES, align_with=out_a)
    engine.delete_where(spark, out_d, filters=[("score", "<", 100)],
                        spec=SCORES)
    with pytest.raises(ValueError, match="fast path unavailable"):
        colocated.join_frozen(spark, out_a, out_d, columns_a=["n_tok"],
                              columns_b=["score"], require_colocated=True)
    j = colocated.join_frozen(spark, out_a, out_d, columns_a=["n_tok"],
                              columns_b=["score"])
    a = spark.read.parquet(seq_in).select("doc_id", "n_tok")
    b = spark.read.parquet(sc_in).select("doc_id", "score") \
        .filter(F.col("score") >= 100)
    assert _rows(j) == _rows(a.join(b, "doc_id", "inner"))


def _key_num():
    return F.substring("doc_id", 5, 12).cast("long")


def _split(spark, src, base, name, pred):
    p = str(base / name)
    spark.read.parquet(src).filter(pred).write.parquet(p)
    return p


def test_multi_plan_generations_fast_path(spark, tmp_path):
    """Per-plan-generation SPJ: two plan generations (two ranged
    batches with disjoint key ranges) on BOTH sides join on the fast
    path — files paired within each generation, zero payload exchange."""
    seq_in = str(tmp_path / "seq_in")
    write_sequences(seq_in, n=4_000, seed=11)
    sc_in = str(tmp_path / "sc_in")
    _scores_from(spark, seq_in, sc_in, drop_mod=7)
    k = _key_num()
    a1 = _split(spark, seq_in, tmp_path, "a1", k < 2000)
    a2 = _split(spark, seq_in, tmp_path, "a2", k >= 2000)
    b1 = _split(spark, sc_in, tmp_path, "b1", k < 2000)
    b2 = _split(spark, sc_in, tmp_path, "b2", k >= 2000)
    out_a = str(tmp_path / "out_a")
    out_b = str(tmp_path / "out_b")
    s1 = engine.freeze(spark, a1, out_a, target_tokens=8_192)
    # different target -> different plan generation (chunk_by='range'
    # would too, but a range plan cannot align the string-keyed SCORES)
    s2 = engine.freeze(spark, a2, out_a, target_tokens=4_096)
    man = engine.read_manifest(spark, out_a)
    pid_of_run = {r.run: r.plan_id
                  for r in man.filter(F.col("status") == "ok")
                  .select("run", "plan_id").distinct().collect()}
    p1, p2 = pid_of_run[s1["run"]], pid_of_run[s2["run"]]
    assert p1 != p2
    assert engine.load_output_plan(out_a) is None  # two plans: ambiguous
    engine.freeze(spark, b1, out_b, spec=SCORES, align_with=out_a,
                  align_plan=p1)
    engine.freeze(spark, b2, out_b, spec=SCORES, align_with=out_a,
                  align_plan=p2)
    for how in ("inner", "left"):
        j = colocated.join_frozen(spark, out_a, out_b,
                                  columns_a=["n_tok"],
                                  columns_b=["score", "grade"], how=how,
                                  require_colocated=True)
        assert _rows(j) == _rows(_ref_join(spark, seq_in, sc_in, how))


def test_multi_plan_overlapping_intervals_fall_back(spark, tmp_path):
    """Interleaved key coverage (even/odd keys -> overlapping per-plan
    intervals): the manifests cannot prove plan-pure key routing, so
    the fast path refuses and the relational fallback stays exact."""
    seq_in = str(tmp_path / "seq_in")
    write_sequences(seq_in, n=2_000, seed=13)
    sc_in = str(tmp_path / "sc_in")
    _scores_from(spark, seq_in, sc_in, drop_mod=5)
    k = _key_num()
    a1 = _split(spark, seq_in, tmp_path, "a1", k % 2 == 0)
    a2 = _split(spark, seq_in, tmp_path, "a2", k % 2 == 1)
    b1 = _split(spark, sc_in, tmp_path, "b1", k % 2 == 0)
    b2 = _split(spark, sc_in, tmp_path, "b2", k % 2 == 1)
    out_a = str(tmp_path / "out_a")
    out_b = str(tmp_path / "out_b")
    s1 = engine.freeze(spark, a1, out_a, target_tokens=8_192)
    s2 = engine.freeze(spark, a2, out_a, target_tokens=4_096)
    man = engine.read_manifest(spark, out_a)
    pid_of_run = {r.run: r.plan_id
                  for r in man.filter(F.col("status") == "ok")
                  .select("run", "plan_id").distinct().collect()}
    engine.freeze(spark, b1, out_b, spec=SCORES, align_with=out_a,
                  align_plan=pid_of_run[s1["run"]])
    engine.freeze(spark, b2, out_b, spec=SCORES, align_with=out_a,
                  align_plan=pid_of_run[s2["run"]])
    with pytest.raises(ValueError, match="fast path unavailable"):
        colocated.join_frozen(spark, out_a, out_b, columns_a=["n_tok"],
                              columns_b=["score", "grade"],
                              require_colocated=True)
    j = colocated.join_frozen(spark, out_a, out_b, columns_a=["n_tok"],
                              columns_b=["score", "grade"])
    assert _rows(j) == _rows(_ref_join(spark, seq_in, sc_in, "inner"))
