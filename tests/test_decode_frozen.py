"""Shuffle-free decode (engine.decode_frozen) vs the relational path.

The fast path must be a pure optimization: identical rows to
decode(read_encoded(...)) under every commit/orphan/failure state and
every layout (flat, partition_by, compacted with tombstones) — both
read exactly the snapshot's read view (readview.py).
"""

from __future__ import annotations

import os
import re
import shutil

import pytest
from pyspark.sql import functions as F

from cryo_spark import engine, readview, snapshots
from cryo_spark.engine import KEY_FMT
from cryo_spark.tablespec import SEQUENCES

TARGET = 200_000


@pytest.fixture(scope="module")
def frozen_dir(spark, sequences_path, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("dfz") / "frozen")
    s = engine.freeze(spark, sequences_path, out, target_tokens=TARGET)
    assert s["n_encoded"] > 0
    return out


def _assert_same(spark, df_fast, df_ref, key="doc_id"):
    assert df_fast.count() == df_ref.count()
    j = df_fast.alias("a").join(df_ref.alias("b"), key, "full_outer")
    cols = [c for c in df_fast.columns if c != key]
    pred = None
    for c in cols:
        t = (
            F.col(f"a.{c}").isNull() != F.col(f"b.{c}").isNull()
        ) | (F.col(f"a.{c}") != F.col(f"b.{c}"))
        pred = t if pred is None else pred | t
    assert j.filter(pred).count() == 0


def test_matches_relational(spark, frozen_dir):
    fast = engine.decode_frozen(spark, frozen_dir)
    ref = engine.decode(engine.read_encoded(spark, frozen_dir))
    _assert_same(spark, fast, ref)


def test_no_payload_exchange_in_plan(spark, frozen_dir):
    """The fast plan has no exchange at all; the relational plan
    repartitions the payload rows. Neither reads ``encoded/`` through
    Spark's file source: read_encoded scans the encoded files with
    pyarrow, and its only Spark file scans are of metadata (the
    manifest it semi-joins)."""
    fast_plan = engine.decode_frozen(spark, frozen_dir)._jdf.queryExecution() \
        .executedPlan().toString()
    # the fast plan's tasks come from a range of task ids
    assert "FileScan parquet" not in fast_plan
    assert "Exchange" not in fast_plan
    enc_plan = engine.read_encoded(spark, frozen_dir)._jdf.queryExecution() \
        .executedPlan().toString()
    locations = re.findall(r"Location: [^\[]*\[([^\]]*)\]", enc_plan)
    assert locations  # the manifest scan
    assert not [loc for loc in locations if "/encoded" in loc]
    rel_plan = engine.decode(engine.read_encoded(spark, frozen_dir)) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" in rel_plan


def test_orphan_run_invisible(spark, frozen_dir, tmp_path):
    """An encoded run dir with no manifest run dir contributes nothing."""
    work = str(tmp_path / "orphan")
    shutil.copytree(frozen_dir, work)
    enc_base = f"{work}/encoded"
    run = next(d for d in os.listdir(enc_base) if d.startswith("run="))
    shutil.copytree(f"{enc_base}/{run}", f"{enc_base}/run=deadbeefcafe")
    n_ref = engine.decode(engine.read_encoded(spark, work)).count()
    n_fast = engine.decode_frozen(spark, work).count()
    assert n_fast == n_ref


def test_partial_manifest_falls_back(spark, frozen_dir, tmp_path):
    """With a snapshot log the log entry is the commit: a manifest run
    dir that lost its ``_SUCCESS`` marker changes nothing, and both
    paths still agree exactly."""
    work = str(tmp_path / "partial")
    shutil.copytree(frozen_dir, work)
    man_base = f"{work}/manifest"
    run = next(d for d in os.listdir(man_base) if d.startswith("run="))
    marker = f"{man_base}/{run}/_SUCCESS"
    assert os.path.exists(marker)
    os.remove(marker)
    fast = engine.decode_frozen(spark, work)
    ref = engine.decode(engine.read_encoded(spark, work))
    _assert_same(spark, fast, ref)


@pytest.fixture(scope="module", params=["partition_by", "partition_by_chunk",
                                        "partition_by_column", "compacted",
                                        "partition_by_compacted"])
def layout_dir(request, spark, sequences_path, tmp_path_factory):
    """Outputs beyond the flat layout: partition_by nested dirs (over a
    column the file kernel never reads, over one it does — restored
    from the path — and over ``column``, which splits every chunk
    across files), a compaction whose tombstones retire some of the
    chunks in files that keep live ones, and a compaction of a
    partition_by output, whose flat run sits next to the ``k=v`` runs."""
    out = str(tmp_path_factory.mktemp("dfz_layout") / request.param)
    by = {"partition_by": ["partition_id"],
          "partition_by_chunk": ["chunk_id"],
          "partition_by_column": ["column"],
          "partition_by_compacted": ["partition_id"]}.get(request.param)
    engine.freeze(spark, sequences_path, out, target_tokens=TARGET,
                  partition_by=by)
    if request.param.endswith("compacted"):
        _compact(spark, out)
    return out


def test_layout_matches_relational(spark, sequences_path, layout_dir):
    fast = engine.decode_frozen(spark, layout_dir)
    _assert_same(spark, fast, engine.decode(
        engine.read_encoded(spark, layout_dir)))
    _assert_same(spark, fast, spark.read.parquet(sequences_path))


def test_layout_no_payload_exchange_in_plan(spark, layout_dir):
    """Every layout decodes through the file scan, a layout that splits
    chunks across files (partition_by over ``column``) included: its
    scan unit is the file group of one encode task."""
    plan = engine.decode_frozen(spark, layout_dir)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "FileScan parquet" not in plan
    assert "Exchange" not in plan


def test_layout_verifies_ok(spark, layout_dir):
    """The audit reads every layout's encoded files, a flat compaction
    run next to ``k=v`` runs included: no missing payload, no orphan."""
    r = engine.verify_output(spark, layout_dir)
    assert r["status"] == "ok", r


def test_layout_bloom_stats(spark, layout_dir):
    """Every layout's blooms are read: one row per ok key-column row of
    the live runs' manifests, bloom bytes set, and a 3-key lookup's
    bloom pruning keeps fewer chunks than the layout has."""
    key_rows = ["run", "partition_id", "chunk_id"]
    bs = engine.read_bloom_stats(spark, layout_dir).filter(
        (F.col("status") == "ok") & (F.col("column") == SEQUENCES.key))
    man = engine.read_manifest(spark, layout_dir).filter(
        (F.col("status") == "ok") & (F.col("column") == SEQUENCES.key))
    want = sorted(tuple(r) for r in man.select(*key_rows).collect())
    assert sorted(tuple(r) for r in bs.select(*key_rows).collect()) == want
    assert bs.filter(F.col("key_bloom").isNull()).count() == 0
    bk = engine._bloom_chunk_keys(
        bs, [KEY_FMT % n for n in (17, 4242, 9001)], SEQUENCES)
    assert 1 <= bk.count() < len(want)


def test_column_pruned(spark, frozen_dir):
    dec = engine.decode_frozen(spark, frozen_dir, columns=["doc_id", "n_tok"])
    assert dec.columns == ["doc_id", "n_tok"]
    ref = engine.decode(engine.read_encoded(spark, frozen_dir),
                        columns=["doc_id", "n_tok"])
    _assert_same(spark, dec, ref)


def test_collect_fast_path_rows(spark, sequences_path, frozen_dir):
    df = engine.collect(spark, frozen_dir)
    src = spark.read.parquet(sequences_path)
    assert df.count() == src.count()
    bad = (
        df.alias("d").join(src.alias("s"), "doc_id", "inner")
        .filter(F.col("d.tokens") != F.col("s.tokens")).count()
    )
    assert bad == 0


def test_embeddings_spec(spark, tmp_path):
    from cryo_spark.fixtures import write_embeddings
    from cryo_spark.tablespec import EMBEDDINGS

    inp = str(tmp_path / "emb.parquet")
    write_embeddings(inp, n=3_000, dim=24)
    out = str(tmp_path / "emb_frozen")
    engine.freeze(spark, inp, out, target_tokens=20_000, spec=EMBEDDINGS)
    fast = engine.decode_frozen(spark, out, spec=EMBEDDINGS)
    ref = engine.decode(engine.read_encoded(spark, out), spec=EMBEDDINGS)
    _assert_same(spark, fast, ref, key="vec_id")


def test_empty_output_dir(spark, tmp_path):
    out = str(tmp_path / "nothing")
    dec = engine.decode_frozen(spark, out)
    assert dec.count() == 0
    assert dec.columns == ["doc_id", "tokens", "n_tok", "source"]


# Keyed reads and compaction select chunks on the manifest and decode
# them through the same file scan (engine._decode_view with ``keep``);
# every result must equal the relational decode under the same predicate.

def _key():
    return F.substring("doc_id", len("doc-") + 1, 12).cast("long")


def _assert_keyed_reads(spark, out, ref, **kw):
    """collect(keys=) over a range and over points (the key-bloom path)
    and collect(filters=) against the same predicates over ``ref``."""
    for got, want in (
        (engine.collect(spark, out, keys="1000:+2500", **kw),
         ref.filter(_key().between(1000, 3499))),
        (engine.collect(spark, out, keys="17 4242 9001", **kw),
         ref.filter(_key().isin(17, 4242, 9001))),
        (engine.collect(spark, out, filters=[("n_tok", ">", 400)], **kw),
         ref.filter(F.col("n_tok") > 400)),
    ):
        assert got.columns == ref.columns and want.count() > 0
        _assert_same(spark, got, want)


def _compact(spark, out):
    from cryo_spark import compact

    assert compact(spark, out, target_tokens=4 * TARGET, min_tokens=1 << 30,
                   max_chunks=8)["n_retired"] == 8


def _retire_first_append(spark, tmp_path) -> tuple[str, str]:
    """Two 400-doc appends, then a compaction that retires every chunk
    of the first (not yet vacuumed): (output dir, first run)."""
    import pyarrow.parquet as pq

    from cryo_spark import compact
    from cryo_spark.fixtures import generate_sequences

    out = str(tmp_path / "out")
    runs = []
    for i in range(2):
        src = str(tmp_path / f"in{i}.parquet")
        pq.write_table(generate_sequences(400, seed=60 + i,
                                          id_offset=400 * i), src)
        runs.append(engine.freeze(spark, src, out,
                                  target_tokens=20_000)["run"])
    compact(spark, out, target_tokens=4 * TARGET, min_tokens=1 << 30)
    view = readview.read_view(out)
    first = runs[0]
    assert view.files[first]  # retired, not yet vacuumed
    assert len(readview.bitmap_ids(view.drops[first])) == \
        view.ok_chunks[first]
    return out, first


def _spy_scanned(monkeypatch) -> list:
    """Every file path ``sources.arrow_scan_files`` is handed from now on."""
    from cryo_spark import sources

    scanned: list = []
    scan = sources.arrow_scan_files

    def spy(spark_, files, *a, **kw):
        scanned.extend(f for unit in files
                       for f in ([unit] if isinstance(unit, str) else unit))
        return scan(spark_, files, *a, **kw)

    monkeypatch.setattr(sources, "arrow_scan_files", spy)
    return scanned


def test_keyed_read_opens_no_file_of_a_retired_run(spark, tmp_path,
                                                   monkeypatch):
    """A keyed read subtracts the retired chunks from its selection
    before it picks files: once a compaction retires every chunk of the
    first append, a lookup of that append's keys scans none of its
    files."""
    out, first = _retire_first_append(spark, tmp_path)
    scanned = _spy_scanned(monkeypatch)
    got = engine.collect(spark, out, keys="0:+300").toArrow()
    assert sorted(got.column("doc_id").to_pylist()) == \
        [KEY_FMT % n for n in range(300)]
    assert scanned
    assert not [f for f in scanned if f"/run={first}/" in f]


def test_point_lookup_blooms_skip_a_retired_run(spark, tmp_path,
                                                monkeypatch):
    """The key-bloom scan of a point lookup skips a run whose drop bitmap
    retires every ok chunk its writer stamped, as the decode scan does:
    none of the first append's files is handed to either scan, and the
    rows are the live table's."""
    out, first = _retire_first_append(spark, tmp_path)
    want = sorted(
        tuple(r) for r in engine.decode(engine.read_encoded(spark, out))
        .filter(F.col("doc_id").isin([KEY_FMT % n for n in (5, 7, 9)]))
        .collect())
    scanned = _spy_scanned(monkeypatch)
    got = engine.collect(spark, out, keys="5 7 9")
    assert sorted(tuple(r) for r in got.collect()) == want
    assert [r[0] for r in want] == [KEY_FMT % n for n in (5, 7, 9)]
    assert scanned
    assert not [f for f in scanned if f"/run={first}/" in f]


def test_layout_keyed_reads_match_relational(spark, layout_dir):
    _assert_keyed_reads(spark, layout_dir, engine.decode(
        engine.read_encoded(spark, layout_dir)))


def test_layout_compact_matches_relational(spark, layout_dir, tmp_path):
    """compact decodes its candidates through the file scan (by encode
    task file group in a chunk-splitting layout) and keeps every row."""
    work = str(tmp_path / "work")
    shutil.copytree(layout_dir, work)
    _compact(spark, work)
    before = engine.decode(engine.read_encoded(spark, layout_dir))
    _assert_same(spark, engine.decode_frozen(spark, work), before)
    _assert_same(spark, engine.decode(engine.read_encoded(spark, work)),
                 before)


def test_keyed_reads_apply_deletes(spark, frozen_dir, tmp_path):
    """Equality deletes hide their rows from keyed reads, and a compaction
    moves the stored rows as they are: the deletes stay merge-on-read."""
    work = str(tmp_path / "del")
    shutil.copytree(frozen_dir, work)
    assert engine.delete_where(spark, work, keys="1500:+200")["n_deleted"] \
        == 200
    stored = engine.decode(engine.read_encoded(spark, work))
    ref = stored.filter(~_key().between(1500, 1699))
    _assert_keyed_reads(spark, work, ref)
    _compact(spark, work)
    _assert_keyed_reads(spark, work, ref)
    _assert_same(spark, engine.decode(engine.read_encoded(spark, work)),
                 stored)


def test_keyed_reads_as_of(spark, frozen_dir, tmp_path):
    """A keyed read at an older snapshot sees that snapshot's chunks:
    before the compaction and before the delete."""
    work = str(tmp_path / "asof")
    shutil.copytree(frozen_dir, work)
    head = snapshots.log(work)[-1]["seq"]
    _compact(spark, work)
    engine.delete_where(spark, work, keys="1500:+200")
    _assert_keyed_reads(spark, work, engine.decode(
        engine.read_encoded(spark, work, as_of=head)), as_of=head)


def test_keyed_reads_uri_output(spark, sequences_path, tmp_path):
    """A ``file://`` output decodes through the same file scan, opened
    with pyarrow, before and after a compaction."""
    out = f"file://{tmp_path}/uri"
    engine.freeze(spark, sequences_path, out, target_tokens=TARGET)
    ref = engine.decode(engine.read_encoded(spark, out))
    _assert_keyed_reads(spark, out, ref)
    _compact(spark, out)
    _assert_keyed_reads(spark, out, ref)


def test_uri_output_no_payload_exchange_in_plan(spark, sequences_path,
                                                tmp_path):
    """A ``file://`` output's full and keyed reads plan no parquet scan
    and no exchange: its files are read with pyarrow in the Python
    workers, as a local output's are."""
    out = f"file://{tmp_path}/uri_plan"
    engine.freeze(spark, sequences_path, out, target_tokens=TARGET)
    for df in (engine.decode_frozen(spark, out),
               engine.collect(spark, out, keys="1000:+2500")):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "FileScan parquet" not in plan
        assert "Exchange" not in plan


@pytest.mark.parametrize("read", [dict(keys="1000:+2500"),
                                  dict(keys="17 4242 9001"),
                                  dict(filters=[("n_tok", ">", 400)])])
def test_keyed_read_no_payload_exchange_in_plan(spark, frozen_dir, read):
    """A keyed or filtered read of a local output scans files in the
    Python workers: no parquet scan and no exchange carries payload."""
    plan = engine.collect(spark, frozen_dir, **read)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "payload" not in plan
    assert "FileScan parquet" not in plan
