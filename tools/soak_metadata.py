"""Steady-state metadata soak + many-file Iceberg export proof.

r4 verdict items 6 and 1 (done-criteria):

Phase A — soak: drive N append commits at streaming cadence (each a
real ``freeze`` of a fresh small batch -> new plan, new run, new
snapshot-log entry), with periodic ``consolidate_manifests`` +
``snapshots.checkpoint`` + ``vacuum``. Pins: read-path PLANNING wall
(driver-side metadata resolution to a ready DataFrame) stays flat
after each consolidation instead of growing with commit count, and
``verify_output`` is clean throughout.

Phase B — export proof: build an output whose encoded storage spans
>= ``--export-files`` parquet files (a row-preserving storage
re-layout of one committed run — the manifest is untouched, so
visibility and decode are unchanged), then time ``export_frozen``.
The old implementation read every footer twice, serially, on the
driver; the distributed pass must make export wall scale with the
BOUNDED per-file stats rows, and the recorded serial-footer wall
shows what the driver used to pay.

Results append to BENCH/soak_runs.jsonl as one JSON line per phase.

Usage:
    python tools/soak_metadata.py --commits 2000 --consolidate-every 200
    python tools/soak_metadata.py --phase export --export-files 5000
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT_JSONL = os.path.join(REPO, "BENCH", "soak_runs.jsonl")


def _append_result(rec: dict) -> None:
    os.makedirs(os.path.dirname(OUT_JSONL), exist_ok=True)
    with open(OUT_JSONL, "a") as f:
        f.write(json.dumps(rec) + "\n")


def _planning_wall(spark, out: str) -> float:
    """Driver-side read-path planning: snapshot-log replay + manifest
    union construction + visibility resolution to a ready DataFrame.
    No payload action — this is the fixed cost EVERY read pays, the
    thing that must not grow with commit count."""
    from cryo_spark import engine

    t0 = time.perf_counter()
    engine.read_encoded(spark, out)
    return time.perf_counter() - t0


def run_soak(commits: int, rows: int, every: int, workdir: str,
             compact_every: int = 500) -> dict:
    import numpy as np
    import pandas as pd

    from cryo_spark import engine, snapshots
    from cryo_spark.session import get_spark

    spark = get_spark(app="cryo_soak", master="local[8]",
                      shuffle_partitions=8)
    out = os.path.join(workdir, "soak_out")
    shutil.rmtree(out, ignore_errors=True)
    t_all = time.perf_counter()
    samples = []
    compacted = False  # since the last sample
    rng = np.random.default_rng(7)
    for i in range(commits):
        base = i * rows
        pdf = pd.DataFrame({
            "doc_id": [f"doc-{base + j:012d}" for j in range(rows)],
            "tokens": [rng.integers(0, 50_000, 64).astype(np.int32)
                       for _ in range(rows)],
            "n_tok": np.full(rows, 64, dtype=np.int32),
            "source": ["stream"] * rows,
        })
        df = spark.createDataFrame(pdf, engine.SEQUENCES_DDL)
        s = engine.freeze(spark, df, out, target_tokens=1 << 20)
        assert s.get("n_failed", 0) == 0, s
        # payload-side maintenance (compact) on its own cadence, every
        # compact_every commits: consolidation bounds MANIFEST dirs but
        # each commit still leaves one encoded run= dir, and Spark's file
        # listing over those grows the read-path planning wall linearly
        # — the first soak run measured 0.6 -> 1.4 s over 700 commits.
        # compact() is the rewrite_data_files analog that folds the
        # micro-runs' chunks into target-sized ones; vacuum (below, every
        # sample) then drops the emptied run dirs, which is what makes
        # planning flat.
        if compact_every and (i + 1) % compact_every == 0:
            engine.compact(spark, out, target_tokens=1 << 20)
            compacted = True
        if (i + 1) % every == 0:
            # manifest-side maintenance every sample
            cons = engine.consolidate_manifests(spark, out)
            ckpt = snapshots.checkpoint(out)
            engine.vacuum(spark, out)
            plan_s = _planning_wall(spark, out)
            rep = engine.verify_output(spark, out)
            d = os.path.join(out, "snapshots")
            n_log_files = len(os.listdir(d)) if os.path.isdir(d) else 0
            man = os.path.join(out, "manifest")
            n_man_dirs = (len([x for x in os.listdir(man)
                               if x.startswith("run=")])
                          if os.path.isdir(man) else 0)
            encd = os.path.join(out, "encoded")
            n_enc_dirs = (len([x for x in os.listdir(encd)
                               if x.startswith("run=")])
                          if os.path.isdir(encd) else 0)
            row = dict(commit=i + 1, planning_s=round(plan_s, 3),
                       verify=rep["status"], n_log_files=n_log_files,
                       n_man_dirs=n_man_dirs, n_enc_dirs=n_enc_dirs,
                       compacted=compacted,
                       consolidated=bool(cons.get("consolidated")),
                       ckpt_files_removed=ckpt.get("n_files_removed"))
            samples.append(row)
            compacted = False
            print(json.dumps(row), flush=True)
            # incremental evidence: a long soak killed at session end
            # still leaves every planning/verify sample on record
            _append_result(dict(phase="soak_sample",
                                rows_per_commit=rows,
                                consolidate_every=every, **row))
            assert rep["status"] in ("ok", "warn"), rep
    # final pin: decoded row count == everything ever committed
    n = engine.decode(engine.read_encoded(spark, out)).count()
    assert n == commits * rows, (n, commits * rows)
    rec = dict(
        phase="soak", commits=commits, rows_per_commit=rows,
        consolidate_every=every,
        wall_s=round(time.perf_counter() - t_all, 1),
        decoded_rows=n,
        samples=samples,
        planning_first=samples[0]["planning_s"] if samples else None,
        planning_last=samples[-1]["planning_s"] if samples else None,
    )
    _append_result(rec)
    spark.stop()
    return rec


def run_export_proof(n_files: int, workdir: str) -> dict:
    import pyarrow.parquet as pq

    from cryo_spark import engine, fixtures, iceberg
    from cryo_spark.session import get_spark

    spark = get_spark(app="cryo_export_proof", master="local[16]",
                      shuffle_partitions=16)
    out = os.path.join(workdir, "export_out")
    shutil.rmtree(out, ignore_errors=True)
    src = os.path.join(workdir, "export_in.parquet")
    if not os.path.exists(src):
        fixtures.write_sequences(src, n=400_000, seed=21)
    # enough chunks that encoded rows >= n_files, so the storage
    # re-layout below leaves no empty write partition
    s = engine.freeze(spark, src, out, target_tokens=16_384)
    assert s["n_failed"] == 0
    run = s["run"]
    run_dir = os.path.join(out, "encoded", f"run={run}")
    # row-preserving storage re-layout: the SAME committed rows spread
    # over n_files parquet files; the manifest (and therefore
    # visibility, resume, decode) is untouched — only the file count
    # the export must handle changes
    df = spark.read.parquet(run_dir)
    n_rows = df.count()
    assert n_rows >= n_files, (
        f"only {n_rows} encoded rows; lower target_tokens for "
        f"{n_files} files")
    tmp = run_dir + ".relayout"
    df.repartition(n_files).write.mode("error").parquet(tmp)
    shutil.rmtree(run_dir)
    os.replace(tmp, run_dir)
    got_files = [f for f in os.listdir(run_dir) if f.endswith(".parquet")]
    # export, timed: ONE distributed footer pass + driver commit assembly.
    # Timed twice — the first export on a fresh session pays python-worker
    # startup + JIT; the second (iceberg dir wiped, same session) is the
    # steady-state cost a long-lived writer pays per export.
    t0 = time.perf_counter()
    iceberg.export_frozen(spark, out, now_ms=1)
    export_wall = time.perf_counter() - t0
    shutil.rmtree(os.path.join(out, "iceberg"), ignore_errors=True)
    t0 = time.perf_counter()
    iceberg.export_frozen(spark, out, now_ms=1)
    export_warm = time.perf_counter() - t0
    plan = iceberg.scan_table(os.path.join(out, "iceberg"))
    assert len(plan["files"]) == len(got_files)
    assert sum(f["record_count"] for f in plan["files"]) == n_rows
    # what the old serial driver loop paid for the same files (it ran
    # TWICE per export: once summing rows, once for stats)
    t0 = time.perf_counter()
    for f in plan["files"]:
        pq.ParquetFile(f["path"]).metadata  # noqa: B018
        iceberg.file_column_stats(f["path"], plan["schema"])
    serial_wall = time.perf_counter() - t0
    rec = dict(
        phase="export_proof", n_files=len(got_files),
        n_encoded_rows=n_rows,
        export_wall_s=round(export_wall, 2),
        export_warm_s=round(export_warm, 2),
        serial_footer_once_s=round(serial_wall, 2),
        old_driver_equiv_s=round(2 * serial_wall, 2),
        bytes=sum(f["file_size"] for f in plan["files"]),
    )
    _append_result(rec)
    print(json.dumps(rec), flush=True)
    spark.stop()
    return rec


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--phase", choices=["soak", "export", "both"],
                    default="both")
    ap.add_argument("--commits", type=int, default=2000)
    ap.add_argument("--rows-per-commit", type=int, default=200)
    ap.add_argument("--consolidate-every", type=int, default=200)
    ap.add_argument("--compact-every", type=int, default=500)
    ap.add_argument("--export-files", type=int, default=5000)
    ap.add_argument("--workdir", default="/tmp/cryo_soak")
    args = ap.parse_args()
    os.makedirs(args.workdir, exist_ok=True)
    if args.phase in ("soak", "both"):
        run_soak(args.commits, args.rows_per_commit,
                 args.consolidate_every, args.workdir,
                 compact_every=args.compact_every)
    if args.phase in ("export", "both"):
        run_export_proof(args.export_files, args.workdir)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
