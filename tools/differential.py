"""Two-config differential harness — the `cryo_test` comparison analog.

The reference ships a harness that runs the same command matrix under
two binaries and diffs the parquet outputs wholesale
(/root/reference/cryo_test/comparison.py:17-170). Here the two "sides"
are two SPARK CONFIGS — different core counts, shuffle partitions, and
input-split sizes — because the engine's determinism claim is that
chunk boundaries, codec choices, statistics, and payload BYTES are a
pure function of the data, never of the partitioning (FIXTURES.md §4).

For every case in the freeze matrix the harness runs the identical
command under config A (local[3], 5 shuffle partitions, default splits)
and config B (local[8], 16 shuffle partitions, 1 MiB maxPartitionBytes
— forces a different scan-task decomposition), then asserts
parquet-level equality of the outputs read back WITHOUT Spark
(pyarrow + duckdb):

- physical file schema, INCLUDING column order;
- every logical row of the encoded table: chunk ids, codec ids, sizes,
  zone-map stats, and sha256 of the payload and bloom blobs
  (run id and wall_ms are per-run provenance, excluded);
- the manifest table under the same rule;
- four reads of the output: a ``collect(keys=...)``, a
  ``collect(filters=...)``, ``read_changes(out, 0)`` and
  ``read_appends(out, 0)``, each sorted by key. The file scan packs
  files into tasks by the core count, so the reads exercise the same
  claim: what a read returns depends only on the data;
- resume: after each case's freeze, the same input is re-frozen into
  the same output on both sides. Each side must encode nothing
  (``n_encoded == 0``) and ``decode_frozen`` must return as many rows
  as before the re-freeze.

The claim is exercised only if the two sides really partition
differently, so every case prints each side's encode-exchange
partition count (``engine._n_parts`` of the case's chunk count). It
follows the core count: whole waves of 3 tasks on A and of 8 on B,
capped at the chunk count, so most cases encode with 3 vs 8 reduce
partitions (one 2-chunk case with 2 on both sides). The run fails if
no case differs.

Usage::

    python tools/differential.py [--quick]

`--quick` runs the first 3 cases (pytest smoke); default runs all.
Exit code 0 iff every case matches.
"""

from __future__ import annotations

import dataclasses
import glob
import os
import shutil
import sys
import tempfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cryo_spark import engine  # noqa: E402
from cryo_spark.fixtures import write_embeddings, write_sequences  # noqa: E402
from cryo_spark.session import get_spark  # noqa: E402
from cryo_spark.tablespec import (  # noqa: E402
    DOCUMENTS, EMBEDDINGS, EVENTS, SEQUENCES,
)

BASE = os.path.join(tempfile.gettempdir(), "cryo_spark_differential")

CONFIG_A = dict(master="local[3]", shuffle_partitions=5, extra_conf=None)
CONFIG_B = dict(master="local[8]", shuffle_partitions=16,
                extra_conf={"spark.sql.files.maxPartitionBytes": "1m"})

# columns that legitimately differ between two runs of the same command
_PROVENANCE = {"run", "wall_ms"}

# the read comparison: one key range, and one filter per table family
_READ_KEYS = "100:+900"
_READ_FILTERS = {
    SEQUENCES.name: ("n_tok", ">", 200),
    DOCUMENTS.name: ("n_chars", ">", 60),
    EVENTS.name: ("value", "<", 25.0),
    EMBEDDINGS.name: ("label", "<", 5),
}


def _write_documents(path: str, n: int = 2_000) -> None:
    rng = np.random.default_rng(11)
    words = ["the", "quick", "brown", "fox", "jumps", "ünïcödé", "数据", ""]
    texts = [
        " ".join(words[j]
                 for j in rng.integers(0, len(words), rng.integers(1, 40)))
        for _ in range(n)
    ]
    t = pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([("en", "de", "zh")[i % 3] for i in range(n)]),
        "source": pa.array([("web", "books")[i % 2] for i in range(n)]),
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })
    pq.write_table(t, path, row_group_size=256)


def _write_events(path: str, n: int = 5_000) -> None:
    rng = np.random.default_rng(7)
    base = 1_704_067_200_000_000
    micros = base + np.cumsum(rng.integers(100_000, 2_000_000, n))
    ts = pa.array(micros, type=pa.timestamp("us")).to_pylist()
    null_at = set(rng.integers(0, n, 25).tolist())
    ts = [None if i in null_at else t for i, t in enumerate(ts)]
    types = ["view", "click", "purchase", "error"]
    t = pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 500, n).astype(np.int64)),
        "event_type": pa.array([types[i % 4] for i in range(n)]),
        "value": pa.array(rng.random(n) * 100.0, type=pa.float64()),
        "props": pa.array([f'{{"k": {i % 97}}}' for i in range(n)]),
    })
    pq.write_table(t, path, row_group_size=512)


EVENTS_DAYPART = dataclasses.replace(
    EVENTS, partition_col=None, partition_transform="day(ts)")


def _valid_parquet(path: str, n_rows: int) -> bool:
    """Footer-validated cache check: a writer killed mid-run leaves a
    path os.path.exists happily reuses but every later run dies on."""
    try:
        files = (sorted(glob.glob(f"{path}/*.parquet"))
                 if os.path.isdir(path) else [path])
        return bool(files) and sum(
            pq.ParquetFile(f).metadata.num_rows for f in files) == n_rows
    except Exception:
        return False


def _inputs() -> dict:
    d = os.path.join(BASE, "inputs")
    os.makedirs(d, exist_ok=True)
    makers = {
        "seq": ("sequences.parquet", 4_000,
                lambda p: write_sequences(p, n=4_000, seed=3, shards=4)),
        "docs": ("documents.parquet", 2_000, _write_documents),
        "events": ("events.parquet", 5_000, _write_events),
        "emb": ("embeddings.parquet", 1_500,
                lambda p: write_embeddings(p, n=1_500, dim=32, seed=5)),
    }
    paths = {}
    for key, (fname, n, make) in makers.items():
        path = os.path.join(d, fname)
        if not _valid_parquet(path, n):
            tmp = f"{path}.tmp{os.getpid()}"
            shutil.rmtree(tmp, ignore_errors=True)
            if os.path.isfile(tmp):
                os.unlink(tmp)
            make(tmp)
            shutil.rmtree(path, ignore_errors=True)
            if os.path.isfile(path):
                os.unlink(path)
            os.replace(tmp, path)  # atomic publish
        paths[key] = path
    return paths


def matrix(paths: dict) -> list[tuple[str, str, dict]]:
    """(case_name, input_path, freeze kwargs) — the command matrix."""
    return [
        ("seq_default", paths["seq"],
         dict(target_tokens=20_000, spec=SEQUENCES)),
        ("seq_small_chunks", paths["seq"],
         dict(target_tokens=2_000, spec=SEQUENCES)),
        ("seq_range_layout", paths["seq"],
         dict(target_tokens=20_000, spec=SEQUENCES, chunk_by="range")),
        ("seq_n_chunks", paths["seq"],
         dict(n_chunks=7, spec=SEQUENCES)),
        ("seq_key_subset", paths["seq"],
         dict(target_tokens=10_000, spec=SEQUENCES, keys="0:2K")),
        ("seq_partition_by", paths["seq"],
         dict(target_tokens=20_000, spec=SEQUENCES,
              partition_by=["partition_id"])),
        ("docs_default", paths["docs"],
         dict(target_tokens=20_000, spec=DOCUMENTS)),
        ("docs_range_layout", paths["docs"],
         dict(target_tokens=20_000, spec=DOCUMENTS, chunk_by="range")),
        ("events_default", paths["events"],
         dict(target_tokens=1_000, spec=EVENTS)),
        ("events_daypart", paths["events"],
         dict(target_tokens=2_000, spec=EVENTS_DAYPART)),
        ("emb_default", paths["emb"],
         dict(target_tokens=40_000, spec=EMBEDDINGS)),
        ("emb_n_chunks", paths["emb"],
         dict(n_chunks=5, spec=EMBEDDINGS)),
    ]


def _reads(spark, out: str, spec) -> dict[str, pa.Table]:
    """A keyed and a filtered ``collect`` of ``out`` and its changelog
    and appends since snapshot 0, each sorted by key."""
    reads = {
        "keys": engine.collect(spark, out, spec=spec, keys=_READ_KEYS),
        "filters": engine.collect(spark, out, spec=spec,
                                  filters=[_READ_FILTERS[spec.name]]),
        "changes": engine.read_changes(spark, out, 0, spec=spec),
        "appends": engine.read_appends(spark, out, 0, spec=spec),
    }
    return {name: df.toArrow().sort_by(spec.key)
            for name, df in reads.items()}


def _refreeze(spark, inp: str, out: str, kw: dict) -> list[str]:
    """Re-freeze ``inp`` into ``out``: problems ([] when the re-run
    encodes nothing and the decoded row count is unchanged)."""
    def n_rows() -> int:
        return engine.decode_frozen(spark, out, spec=kw["spec"]).count()

    before = n_rows()
    s = engine.freeze(spark, inp, out, **kw)
    after = n_rows()
    problems = []
    if s["n_encoded"]:
        problems.append(f"re-freeze encoded {s['n_encoded']} chunks "
                        f"(skipped {s['n_skipped']} of {s['n_chunks']})")
    if after != before:
        problems.append(f"re-freeze changed decode_frozen rows "
                        f"{before} -> {after}")
    return problems


def run_side(side: str, cfg: dict, cases, paths
             ) -> dict[str, tuple[str, int, dict[str, pa.Table], list[str]]]:
    """Freeze and re-freeze every case under one Spark config; returns
    case -> (out dir, encode-exchange partition count, reads, resume
    problems)."""
    spark = get_spark(app=f"differential_{side}", **cfg)
    outs = {}
    try:
        for name, inp, kw in cases:
            out = os.path.join(BASE, side, name)
            shutil.rmtree(out, ignore_errors=True)
            s = engine.freeze(spark, inp, out, **kw)
            assert s["n_failed"] == 0, (name, side, s)
            outs[name] = (out, engine._n_parts(spark, s["n_chunks"]),
                          _reads(spark, out, kw["spec"]),
                          _refreeze(spark, inp, out, kw))
    finally:
        spark.stop()
    return outs


def _table_fingerprint(root: str, sub: str):
    """(ordered schema names, sorted logical rows) of every parquet file
    under root/sub, binaries hashed, provenance columns dropped."""
    import duckdb

    files = sorted(glob.glob(f"{root}/{sub}/**/*.parquet", recursive=True))
    if not files:
        return [], []
    schema = [
        (f.name, str(f.type)) for f in pq.ParquetFile(files[0]).schema_arrow
    ]
    con = duckdb.connect()
    rel = con.read_parquet(files, hive_partitioning=True, union_by_name=True)
    cols = []
    for name, typ in zip(rel.columns, rel.types):
        if name in _PROVENANCE:
            continue
        if str(typ) == "BLOB":
            cols.append(f'md5(hex("{name}")) AS "{name}"')
        else:
            cols.append(f'"{name}"')
    rows = sorted(
        map(repr, con.sql(
            f"SELECT {', '.join(cols)} FROM rel").fetchall())
    )
    return schema, rows


def compare_reads(reads_a: dict[str, pa.Table],
                  reads_b: dict[str, pa.Table]) -> list[str]:
    """Differences between two sides' reads ([] when identical)."""
    problems = []
    for name, ta in reads_a.items():
        tb = reads_b[name]
        if ta.num_rows == 0:
            problems.append(f"read {name}: no rows on side A")
        elif not ta.equals(tb):
            problems.append(f"read {name}: rows differ "
                            f"({ta.num_rows} vs {tb.num_rows} rows)")
    return problems


def compare_case(out_a: str, out_b: str) -> list[str]:
    """Differences between two output dirs ([] when identical)."""
    problems = []
    for sub in ("encoded", "manifest"):
        sa, ra = _table_fingerprint(out_a, sub)
        sb, rb = _table_fingerprint(out_b, sub)
        if not ra and not rb:
            problems.append(f"{sub}: no parquet found on either side")
            continue
        if sa != sb:
            problems.append(
                f"{sub}: physical schema/column order differs:\n"
                f"  A={sa}\n  B={sb}")
        if len(ra) != len(rb):
            problems.append(f"{sub}: row counts differ {len(ra)} vs {len(rb)}")
        elif ra != rb:
            bad = next(i for i, (x, y) in enumerate(zip(ra, rb)) if x != y)
            problems.append(
                f"{sub}: values differ; first at sorted row {bad}:\n"
                f"  A={ra[bad][:400]}\n  B={rb[bad][:400]}")
    return problems


def main(quick: bool = False) -> int:
    paths = _inputs()
    cases = matrix(paths)
    if quick:
        cases = cases[:3]
    outs_a = run_side("a", CONFIG_A, cases, paths)
    outs_b = run_side("b", CONFIG_B, cases, paths)
    failed = []
    n_differ = 0
    for name, _, _ in cases:
        (out_a, parts_a, reads_a, resume_a) = outs_a[name]
        (out_b, parts_b, reads_b, resume_b) = outs_b[name]
        n_differ += parts_a != parts_b
        problems = (compare_case(out_a, out_b)
                    + compare_reads(reads_a, reads_b)
                    + [f"side A: {p}" for p in resume_a]
                    + [f"side B: {p}" for p in resume_b])
        status = "OK" if not problems else "DIFF"
        print(f"{status} {name} (encode partitions A={parts_a} B={parts_b})")
        for p in problems:
            print(f"    {p}")
        if problems:
            failed.append(name)
    print(f"\n{len(cases) - len(failed)}/{len(cases)} cases identical "
          f"across configs; {n_differ}/{len(cases)} encoded with different "
          f"partition counts")
    return 1 if failed or not n_differ else 0


if __name__ == "__main__":
    raise SystemExit(main(quick="--quick" in sys.argv[1:]))
