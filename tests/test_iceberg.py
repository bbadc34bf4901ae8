"""Vendored Avro container + Iceberg v2 metadata layer (iceberg.py).

Spec pins are against the PUBLIC Avro 1.11 and Iceberg v2 specs: known
zigzag byte vectors, container magic/sync framing, required metadata
fields, and the metadata-chain scan contract (orphan files invisible,
snapshot history append-only).
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from cryo_spark import avroio, iceberg


# ---------------------------------------------------------------------------
# avro binary encoding
# ---------------------------------------------------------------------------


def test_zigzag_known_vectors():
    # the spec's own example table (int/long encodings)
    for val, want in [
        (0, b"\x00"), (-1, b"\x01"), (1, b"\x02"), (-2, b"\x03"),
        (2, b"\x04"), (-64, b"\x7f"), (64, b"\x80\x01"),
        (-65, b"\x81\x01"), (8192, b"\x80\x80\x01"),
    ]:
        out = bytearray()
        avroio.write_long(out, val)
        assert bytes(out) == want, val
        back, pos = avroio.read_long(bytes(out), 0)
        assert back == val and pos == len(want)


_RT_SCHEMA = {
    "type": "record", "name": "t", "fields": [
        {"name": "s", "type": "string"},
        {"name": "n", "type": "long"},
        {"name": "on", "type": ["null", "long"], "default": None},
        {"name": "b", "type": "bytes"},
        {"name": "fl", "type": "double"},
        {"name": "arr", "type": {"type": "array", "items": "int"}},
        {"name": "m", "type": {"type": "map", "values": "string"}},
        {"name": "sub", "type": {"type": "record", "name": "sub",
                                 "fields": [{"name": "x", "type": "int"}]}},
        {"name": "sub2", "type": "sub"},  # named-type reference
    ],
}

_RT_RECORDS = [
    {"s": "héllo", "n": -(1 << 40), "on": None, "b": b"\x00\xff",
     "fl": 1.5, "arr": [1, -2, 3], "m": {"k": "v", "j": ""},
     "sub": {"x": 7}, "sub2": {"x": -7}},
    {"s": "", "n": 0, "on": 42, "b": b"", "fl": -0.25, "arr": [],
     "m": {}, "sub": {"x": 0}, "sub2": {"x": 1}},
]


def test_container_roundtrip(tmp_path):
    p = str(tmp_path / "t.avro")
    n = avroio.write_container(p, _RT_SCHEMA, _RT_RECORDS)
    assert os.path.getsize(p) == n
    with open(p, "rb") as f:
        assert f.read(4) == b"Obj\x01"
    schema, meta, records = avroio.read_container(p)
    assert schema == _RT_SCHEMA
    assert meta["avro.codec"] == b"null"
    assert records == _RT_RECORDS


def test_container_deterministic_bytes(tmp_path):
    a, b = str(tmp_path / "a.avro"), str(tmp_path / "a2.avro")
    avroio.write_container(a, _RT_SCHEMA, _RT_RECORDS)
    avroio.write_container(b, _RT_SCHEMA, _RT_RECORDS)
    with open(a, "rb") as fa, open(b, "rb") as fb:
        da, db = fa.read(), fb.read()
    # same content, sync marker differs only with the path component
    assert da[:4] == db[:4] and len(da) == len(db)
    avroio.write_container(b, _RT_SCHEMA, _RT_RECORDS)
    with open(b, "rb") as fb:
        assert fb.read() == db  # same path+content -> identical bytes


def test_union_branch_and_errors(tmp_path):
    p = str(tmp_path / "u.avro")
    schema = {"type": "record", "name": "u", "fields": [
        {"name": "v", "type": ["null", "string", "long"]}]}
    recs = [{"v": None}, {"v": "s"}, {"v": 5}]
    avroio.write_container(p, schema, recs)
    assert avroio.read_container(p)[2] == recs
    with pytest.raises(TypeError):
        avroio.write_container(p, schema, [{"v": 1.5}])  # no float branch


def test_empty_container(tmp_path):
    p = str(tmp_path / "e.avro")
    avroio.write_container(p, _RT_SCHEMA, [])
    assert avroio.read_container(p)[2] == []


# ---------------------------------------------------------------------------
# iceberg metadata chain
# ---------------------------------------------------------------------------


def _write_parquet(path: str, n: int, start: int = 0) -> dict:
    t = pa.table({"doc_id": pa.array(
        [f"doc-{i:012d}" for i in range(start, start + n)]),
        "n": pa.array(range(start, start + n), type=pa.int64())})
    pq.write_table(t, path)
    return {"path": path, "record_count": n,
            "file_size": os.path.getsize(path)}


def _spark_schema():
    from pyspark.sql import types as T

    return T.StructType([
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("n", T.LongType(), True),
    ])


def test_commit_and_scan(tmp_path):
    loc = str(tmp_path / "tbl")
    data = str(tmp_path / "data")
    os.makedirs(data)
    files = [_write_parquet(f"{data}/f{i}.parquet", 10, i * 10)
             for i in range(3)]
    md_path = iceberg.commit_append(loc, files, _spark_schema(),
                                    now_ms=1_700_000_000_000)
    with open(md_path) as f:
        md = json.load(f)
    # v2 required fields present
    for k in ("format-version", "table-uuid", "location",
              "last-sequence-number", "last-updated-ms", "last-column-id",
              "schemas", "current-schema-id", "partition-specs",
              "default-spec-id", "last-partition-id", "sort-orders",
              "default-sort-order-id", "current-snapshot-id", "snapshots"):
        assert k in md, k
    assert md["format-version"] == 2
    assert md["last-partition-id"] == 999
    assert "schema.name-mapping.default" in md["properties"]
    plan = iceberg.scan_table(loc)
    assert sorted(f["path"] for f in plan["files"]) == sorted(
        os.path.abspath(f["path"]) for f in files)
    assert sum(f["record_count"] for f in plan["files"]) == 30
    names = [f["name"] for f in plan["schema"]["fields"]]
    assert names == ["doc_id", "n"]


def test_second_append_advances_history(tmp_path):
    loc = str(tmp_path / "tbl")
    data = str(tmp_path / "data")
    os.makedirs(data)
    f1 = _write_parquet(f"{data}/f1.parquet", 5)
    iceberg.commit_append(loc, [f1], _spark_schema(), now_ms=1)
    f2 = _write_parquet(f"{data}/f2.parquet", 7, 5)
    iceberg.commit_append(loc, [f2], _spark_schema(), now_ms=2)
    with open(os.path.join(loc, "metadata", "version-hint.text")) as f:
        assert f.read().strip() == "2"
    plan = iceberg.scan_table(loc)
    assert sum(f["record_count"] for f in plan["files"]) == 12
    # time travel to the first snapshot
    with open(os.path.join(loc, "metadata", "v2.metadata.json")) as f:
        md = json.load(f)
    assert len(md["snapshots"]) == 2
    first = md["snapshots"][0]["snapshot-id"]
    plan1 = iceberg.scan_table(loc, snapshot_id=first)
    assert sum(f["record_count"] for f in plan1["files"]) == 5


def test_orphan_files_invisible(tmp_path):
    loc = str(tmp_path / "tbl")
    data = str(tmp_path / "data")
    os.makedirs(data)
    f1 = _write_parquet(f"{data}/f1.parquet", 5)
    iceberg.commit_append(loc, [f1], _spark_schema(), now_ms=1)
    _write_parquet(f"{data}/orphan.parquet", 99)  # never committed
    plan = iceberg.scan_table(loc)
    assert [os.path.basename(f["path"]) for f in plan["files"]] == \
        ["f1.parquet"]


def test_manifest_field_ids_pinned(tmp_path):
    """The Avro schemas carry the spec's field-ids (500-517, 100-134)."""
    loc = str(tmp_path / "tbl")
    data = str(tmp_path / "data")
    os.makedirs(data)
    iceberg.commit_append(loc, [_write_parquet(f"{data}/f.parquet", 1)],
                          _spark_schema(), now_ms=1)
    plan_md = iceberg._current_metadata(loc)
    snap = plan_md["snapshots"][0]
    schema, meta, _ = avroio.read_container(snap["manifest-list"])
    ids = {f["name"]: f["field-id"] for f in schema["fields"]}
    assert ids["manifest_path"] == 500 and ids["content"] == 517
    assert meta["format-version"] == b"2"
    _, _, manifests = avroio.read_container(snap["manifest-list"])
    mschema, mmeta, _ = avroio.read_container(manifests[0]["manifest_path"])
    dfile = next(f for f in mschema["fields"] if f["name"] == "data_file")
    dids = {f["name"]: f["field-id"] for f in dfile["type"]["fields"]}
    assert dids["file_path"] == 100 and dids["content"] == 134
    assert mmeta["content"] == b"data"
    assert json.loads(mmeta["schema"].decode())["type"] == "struct"


def test_export_frozen_roundtrip(spark, tmp_path):
    """Freeze -> export -> metadata-chain read == engine's own read."""
    import cryo_spark
    from cryo_spark import engine

    src = str(tmp_path / "in.parquet")
    cryo_spark.write_sequences(src, n=2_000, seed=11)
    out = str(tmp_path / "out")
    cryo_spark.freeze(spark, src, out, target_tokens=100_000)
    iceberg.export_frozen(spark, out, now_ms=1_700_000_000_000)
    enc_native = engine.read_encoded(spark, out).drop("run")
    enc_ice = iceberg.read_exported(spark, f"{out}/iceberg")
    assert enc_ice.count() == enc_native.count()
    dec = engine.decode(enc_ice)
    import duckdb

    want = duckdb.sql(
        f"SELECT count(*) n, sum(n_tok) s FROM '{src}'").fetchone()
    got = dec.selectExpr("count(*)", "sum(n_tok)").first()
    assert (got[0], got[1]) == (want[0], want[1])


# ---------------------------------------------------------------------------
# property fuzz: arbitrary records through the vendored codec
# ---------------------------------------------------------------------------

try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _HAVE_HYP = True
except ImportError:  # pragma: no cover
    _HAVE_HYP = False

if _HAVE_HYP:
    _FUZZ_SCHEMA = {
        "type": "record", "name": "fz", "fields": [
            {"name": "s", "type": "string"},
            {"name": "i", "type": "long"},
            {"name": "o", "type": ["null", "string"], "default": None},
            {"name": "d", "type": "double"},
            {"name": "b", "type": "bytes"},
            {"name": "a", "type": {"type": "array", "items": "long"}},
            {"name": "m", "type": {"type": "map", "values": "long"}},
        ],
    }

    _rec = st.fixed_dictionaries({
        "s": st.text(max_size=40),
        "i": st.integers(min_value=-(2**63), max_value=2**63 - 1),
        "o": st.one_of(st.none(), st.text(max_size=10)),
        "d": st.floats(allow_nan=False),
        "b": st.binary(max_size=40),
        "a": st.lists(st.integers(min_value=-(2**63), max_value=2**63 - 1),
                      max_size=8),
        "m": st.dictionaries(st.text(max_size=8),
                             st.integers(min_value=-(2**31), max_value=2**31),
                             max_size=5),
    })

    @settings(max_examples=60, deadline=None)
    @given(st.lists(_rec, max_size=12))
    def test_avro_container_fuzz_roundtrip(tmp_path_factory, records):
        import os
        import tempfile

        fd, p = tempfile.mkstemp(suffix=".avro")
        os.close(fd)
        try:
            avroio.write_container(p, _FUZZ_SCHEMA, records)
            schema, _, back = avroio.read_container(p)
            assert schema == _FUZZ_SCHEMA
            assert back == records
        finally:
            os.unlink(p)


def test_column_stats_and_pruning(tmp_path):
    """Footer stats flow into the manifest (spec fields 109/110/125/128)
    and file-level bounds pruning works from the metadata alone."""
    loc = str(tmp_path / "tbl")
    data = str(tmp_path / "data")
    os.makedirs(data)
    files = []
    for i in range(3):
        f = _write_parquet(f"{data}/f{i}.parquet", 10, i * 10)
        f["stats"] = iceberg.file_column_stats(
            f["path"], iceberg.schema_from_spark(_spark_schema()))
        files.append(f)
    iceberg.commit_append(loc, files, _spark_schema(), now_ms=1)
    plan = iceberg.scan_table(loc)
    # bounds decoded: file i covers n in [10i, 10i+9]
    f0 = next(f for f in plan["files"] if f["path"].endswith("f0.parquet"))
    lo = {kv["key"]: kv["value"] for kv in f0["lower_bounds"]}
    hi = {kv["key"]: kv["value"] for kv in f0["upper_bounds"]}
    n_fid = next(f["id"] for f in plan["schema"]["fields"]
                 if f["name"] == "n")
    import struct

    assert struct.unpack("<q", lo[n_fid])[0] == 0       # long LE, spec
    assert struct.unpack("<q", hi[n_fid])[0] == 9
    # prune on the long column
    sel = iceberg.prune_files(plan, "n", lo=15, hi=22)
    assert sorted(os.path.basename(f["path"]) for f in sel) == \
        ["f1.parquet", "f2.parquet"]
    assert len(iceberg.prune_files(plan, "n", lo=100)) == 0
    # prune on the string key
    sel = iceberg.prune_files(plan, "doc_id",
                              lo="doc-000000000025")
    assert sorted(os.path.basename(f["path"]) for f in sel) == \
        ["f2.parquet"]
    # value counts conserved
    vc = {kv["key"]: kv["value"] for kv in f0.get("lower_bounds") or []}
    total = 0
    snap = iceberg._current_metadata(loc)["snapshots"][0]
    _, _, manifests = avroio.read_container(snap["manifest-list"])
    _, _, entries = avroio.read_container(manifests[0]["manifest_path"])
    for e in entries:
        for kv in e["data_file"]["value_counts"]:
            if kv["key"] == n_fid:
                total += kv["value"]
    assert total == 30


def test_export_frozen_carries_bounds(spark, tmp_path):
    import cryo_spark

    src = str(tmp_path / "in.parquet")
    cryo_spark.write_sequences(src, n=1_000, seed=21)
    out = str(tmp_path / "out")
    cryo_spark.freeze(spark, src, out, target_tokens=50_000)
    iceberg.export_frozen(spark, out, now_ms=1)
    plan = iceberg.scan_table(f"{out}/iceberg")
    assert all(f["lower_bounds"] for f in plan["files"])
    # chunk_id is int: pruning to chunk 0 keeps a strict file subset
    # only if chunks spread over files; at minimum nothing crashes and
    # the unbounded prune keeps everything
    assert len(iceberg.prune_files(plan, "chunk_id")) == len(plan["files"])


def test_export_after_purge_excludes_retired_rows(spark, tmp_path):
    """File-granular export must not leak retired/deleted chunk rows.

    After delete+purge, the original runs' files still hold retired
    chunks next to live ones; a file-level export would ship BOTH the
    deleted rows and duplicates of the rewritten survivors. The export
    detects the row-count mismatch and materializes the live relation
    as fresh data files instead (copy-on-write export)."""
    import cryo_spark
    from cryo_spark import engine

    src = str(tmp_path / "in.parquet")
    cryo_spark.write_sequences(src, n=1_000, seed=31)
    out = str(tmp_path / "out")
    cryo_spark.freeze(spark, src, out, target_tokens=30_000)
    cryo_spark.delete_where(spark, out, keys="0:200")
    p = cryo_spark.purge_deletes(spark, out, target_tokens=30_000)
    assert p["snapshot"] is not None
    iceberg.export_frozen(spark, out, now_ms=1)
    dec = engine.decode(iceberg.read_exported(spark, f"{out}/iceberg"))
    ids = sorted(r.doc_id for r in dec.select("doc_id").collect())
    assert ids == sorted(f"doc-{i:012d}" for i in range(200, 1000))


def test_verify_output_accepts_zero_survivor_purge(spark, tmp_path):
    """A deletes-only purge snapshot (empty manifest run) is healthy."""
    import numpy as np
    import pandas as pd

    import cryo_spark
    from cryo_spark import engine

    n = 200
    pdf = pd.DataFrame({
        "doc_id": [f"doc-{i:09d}" for i in range(n)],
        "tokens": [np.arange(10, dtype=np.int32) for _ in range(n)],
        "n_tok": np.full(n, 10, dtype=np.int32),
        "source": [("solo" if i % 10 == 0 else "bulk") for i in range(n)],
    })
    src = str(tmp_path / "in.parquet")
    spark.createDataFrame(pdf, engine.SEQUENCES_DDL).write.parquet(src)
    out = str(tmp_path / "out")
    cryo_spark.freeze(spark, src, out, target_tokens=100_000)
    cryo_spark.delete_where(spark, out, filters=[("source", "=", "solo")])
    p = cryo_spark.purge_deletes(spark, out, target_tokens=100_000)
    assert p["n_new_chunks"] == 0 and p["snapshot"] is not None
    rep = cryo_spark.verify_output(spark, out)
    assert rep["missing_runs"] == [], rep
    assert rep["status"] in ("ok", "warn"), rep


def test_partitioned_export_prunes_and_decodes(spark, tmp_path):
    """day(ts) freeze -> partitioned export -> tuple-pruned exact read."""
    import dataclasses

    from pyspark.sql import functions as F

    from cryo_spark import engine
    from cryo_spark.tablespec import EVENTS

    spec = dataclasses.replace(EVENTS, partition_col=None,
                               partition_transform="day(ts)")
    src = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    out = str(tmp_path / "out")
    s = engine.freeze(spark, src, out, target_tokens=50_000, spec=spec)
    assert s["n_failed"] == 0
    iceberg.export_frozen(spark, out, table_location=str(tmp_path / "pt"),
                          partitioned=True, now_ms=1)
    plan = iceberg.scan_table(str(tmp_path / "pt"))
    # metadata carries the identity spec over `part` + the transform
    assert plan["partition_spec"] == [
        {"name": "part", "transform": "identity",
         "source-id": plan["partition_spec"][0]["source-id"],
         "field-id": 1000}]
    assert plan["properties"]["cryo.partition-transform"] == "day(ts)"
    # every file carries a partition tuple; one-partition-per-file
    assert all(f["partition"].get("part") is not None
               for f in plan["files"])
    days = sorted({f["partition"]["part"] for f in plan["files"]})
    assert len(days) > 1
    day = days[0]
    sel = iceberg.prune_partitions(plan, part=day)
    assert 0 < len(sel) < len(plan["files"])
    sub = spark.read.parquet(*[f["path"] for f in sel])
    # pruned manifest record counts == scanned rows (metadata is truth)
    assert sum(f["record_count"] for f in sel) == sub.count()
    dec = engine.decode(sub.drop("part"), spec=spec)
    got = sorted(r.event_id for r in dec.select("event_id").collect())
    day_expr = ("CAST(floor(timestampdiff(MICROSECOND, "
                "TIMESTAMP_NTZ '1970-01-01 00:00:00', ts) / 86400000000.0)"
                f" AS BIGINT) = {day}")
    want = sorted(r.event_id for r in
                  src.filter(F.expr(day_expr)).select("event_id").collect())
    assert got == want and len(got) > 0
    # unknown partition-field name raises
    with pytest.raises(KeyError):
        iceberg.prune_partitions(plan, nope="1")


def test_materialized_export_owns_files(spark, tmp_path):
    """materialize=True: table data lives under <loc>/data, immune to
    engine maintenance (vacuum of the engine run dirs)."""
    import cryo_spark
    from cryo_spark import engine

    src = str(tmp_path / "in.parquet")
    cryo_spark.write_sequences(src, n=500, seed=11)
    out = str(tmp_path / "out")
    cryo_spark.freeze(spark, src, out, target_tokens=30_000)
    loc = str(tmp_path / "tab")
    iceberg.export_frozen(spark, out, table_location=loc,
                          materialize=True, now_ms=1)
    plan = iceberg.scan_table(loc)
    assert all(f["path"].startswith(os.path.abspath(loc))
               for f in plan["files"])
    dec = engine.decode(iceberg.read_exported(spark, loc))
    assert dec.count() == 500


def test_collect_file_infos_matches_driver_loop(spark, tmp_path):
    """The distributed footer pass returns exactly the per-file stats
    the old serial driver loop computed."""
    import cryo_spark

    src = str(tmp_path / "in.parquet")
    cryo_spark.write_sequences(src, n=400, seed=5)
    out = str(tmp_path / "out")
    cryo_spark.freeze(spark, src, out, target_tokens=20_000)
    iceberg.export_frozen(spark, out, now_ms=1)
    plan = iceberg.scan_table(f"{out}/iceberg")
    schema_json = plan["schema"]
    paths = [f["path"] for f in plan["files"]]
    infos = iceberg.collect_file_infos(spark, paths, schema_json)
    assert [f["path"] for f in infos] == paths
    for f in infos:
        assert f["record_count"] == pq.ParquetFile(f["path"]).metadata.num_rows
        assert f["file_size"] == os.path.getsize(f["path"])
        assert f["stats"] == iceberg.file_column_stats(f["path"], schema_json)


@pytest.mark.parametrize("damage", ["vacuumed", "emptied"])
def test_export_names_run_with_lost_files(spark, tmp_path, damage):
    """A live run whose encoded dir is gone or holds no data files fails
    the export with an error naming the run and the likely cause."""
    import glob
    import shutil

    import cryo_spark

    src = str(tmp_path / "in.parquet")
    cryo_spark.write_sequences(src, n=500, seed=5)
    out = str(tmp_path / "out")
    run = cryo_spark.freeze(spark, src, out, target_tokens=50_000)["run"]
    run_dir = f"{out}/encoded/run={run}"
    if damage == "vacuumed":
        shutil.rmtree(run_dir)
    else:
        for p in glob.glob(f"{run_dir}/*.parquet"):
            os.remove(p)
    with pytest.raises(ValueError, match=run) as e:
        iceberg.export_frozen(spark, out, now_ms=1)
    assert "vacuum" in str(e.value)
