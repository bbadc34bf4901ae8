#!/usr/bin/env python3
"""cryo_spark benchmark: closed-loop workloads over the public API.

Run from the repository root:

    python3 perfbench/run.py --workload bulk_freeze --seed 1 --seconds 10 --trace 0

One client process drives one ``local[2]`` session. The loop is closed:
each operation starts when the previous one returns, and whole cycles of
the workload's operation mix run until ``--seconds`` have passed. Inputs
come from ``--seed`` only. Every operation's output is checked against a
pyarrow computation over the input.

The last line of stdout is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer ledger with ``--trace 1``. The lines before
it name the metrics of the workload, the session settings and the host
calibration. perfbench/README.md defines every metric.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import ledger  # noqa: E402

# Settings both sides of a comparison share. nproc is 4 on the reference
# host: each Spark task is a JVM thread plus a Python worker, so local[2]
# keeps the session at one process per core.
MASTER = "local[2]"
SHUFFLE_PARTITIONS = 2
DRIVER_MEMORY = "4g"
TARGET_TOKENS = 1 << 19

N_DOCS = 100_000  # ~32.7M tokens, the sf0.1 bench table
N_SHARDS = 32
SEED42_ENC_BYTES = 41_020_710  # sf0.1 fixed point at seed 42
LOOKUP_KEYS = 1_000
FILTER_MIN_NTOK = (2_800, 3_600)  # n_tok > x keeps ~0.3% of rows
BATCH_DOCS = 3_000  # ~1M tokens per append
COMPACT_EVERY = 2  # appends per compact+vacuum, the set-up append included
RUN_LIMIT_S = 150.0  # no cycle starts past this: a run must end within 180 s

READS = ("scan", "project", "lookup", "filter")

END_TO_END = [
    ("setup_s", "s"),
    ("write_tok_per_s", "tok/s"),
    ("cycle_s", "s"),
    ("read_s", "s"),
    ("bytes_per_raw_byte", "ratio"),
]

# per-layer metric -> (unit, the end-to-end metric it should move, on which
# workload; the named metric printed by that workload in parentheses)
_SETUP = "setup_s on both workloads"
_PLAN = ("write_tok_per_s on both (freeze_tok_per_s on bulk_freeze, "
         "append_p50_s on append_read)")
_ENCODE = "write_tok_per_s (freeze_tok_per_s) on bulk_freeze"
_WRITE = "write_tok_per_s, bytes_per_raw_byte on bulk_freeze"
_META = "cycle_s (append_p50_s, lookup_p50_s) on append_read"
_MAINT = "cycle_s (maintain_s), bytes_per_raw_byte on append_read"
_DECODE = "read_s (scan_tok_per_s) on both"
PER_LAYER = {
    "session.start_s": ("s", _SETUP),
    "setup.input_s": ("s", _SETUP),
    "setup.warmup_s": ("s", _SETUP),
    "layout.plan_s": ("s", _PLAN),
    "layout.n_chunks": ("count", _PLAN),
    "freeze.plan_job_s": ("s", _PLAN),
    "sources.pack_run_s": ("s", _ENCODE),
    "sources.pack_cpu_s": ("s", _ENCODE),
    "exchange.write_mb": ("MB", _ENCODE),
    "exchange.read_mb": ("MB", _ENCODE),
    "encode.run_s": ("s", _ENCODE),
    "encode.cpu_s": ("s", _ENCODE),
    "encode.gc_s": ("s", _ENCODE),
    "encode.python_s": ("s", _ENCODE),
    "codecs.encode_s": ("s", _ENCODE),
    "codecs.encode_mb_per_s": ("MB/s", _ENCODE),
    "codecs.kernel_share": ("ratio", _ENCODE),
    "codecs.decode_s": ("s", _DECODE),
    "codecs.decode_mb_per_s": ("MB/s", _DECODE),
    "write.run_s": ("s", _WRITE),
    "write.out_mb": ("MB", _WRITE),
    "freeze.driver_s": ("s", _PLAN),
    "freeze.n_jobs": ("count", _PLAN),
    "manifest.job_s": ("s", _META),
    "manifest.read_s": ("s", _META),
    "manifest.rows": ("count", _META),
    "snapshots.log_s": ("s", _META),
    "snapshots.entries": ("count", _META),
    **{f"read.{op}.{m}": (u, pair)
       for op, pair in (
           ("scan", "read_s (scan_tok_per_s) on both"),
           ("lookup", "read_s (lookup_p50_s) on append_read"),
           ("project", "project_p50_s; runs as a traced probe only"),
           ("filter", "filter_p50_s; runs as a traced probe only"))
       for m, u in (("n_jobs", "count"), ("driver_s", "s"), ("run_s", "s"),
                    ("input_mb", "MB"))},
    "storage.run_dirs": ("count", _MAINT),
    "storage.disk_mb": ("MB", _MAINT),
    "storage.live_mb": ("MB", _MAINT),
    "compact.s": ("s", _MAINT),
    "compact.n_compacted": ("count", _MAINT),
    "vacuum.s": ("s", _MAINT),
    "vacuum.mb_reclaimed": ("MB", _MAINT),
    "verify.s": ("s", _MAINT),
    "ledger.job_share": ("ratio", "none: share of timed wall inside Spark jobs"),
    "ledger.untagged_jobs": ("count", "none: jobs in a call window without its tag"),
    "proc.peak_rss_mb": ("MB", "none: diagnostic"),
    "trace.write_tok_per_s": ("tok/s", "tracing overhead: write_tok_per_s minus this"),
    "trace.cycle_s": ("s", "tracing overhead: this minus cycle_s"),
    "trace.read_s": ("s", "tracing overhead: this minus read_s"),
}


class Bench:
    """One benchmark invocation: its dirs, session, calls and checks."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool):
        self.workload, self.seed = workload, seed
        self.seconds, self.trace = seconds, trace
        self.t_start = time.perf_counter()
        self.ticks0 = _cpu_ticks()
        self.setup_steal = 0.0
        # per-invocation namespace inside the checkout, removed at exit
        self.ns = os.path.join(os.getcwd(), ".perfbench_run",
                               f"{workload}-{seed}-{os.getpid()}")
        self.spark = None
        self.calls: list[ledger.Call] = []
        self.cycles: list[float] = []
        self.layer: dict[str, float] = {}
        self.named: dict[str, tuple] = {}
        self.bytes_ratio = float("nan")
        self.tokens_moved = 0
        self.tokens_wall = 0.0
        self.table = ""  # the frozen output the probes inspect
        self.ref = None  # its content, sorted by key
        self.append_runs: list[str] = []
        self.append_kern: list[dict] = []
        self.splits: list[ledger.Split] = []

    def path(self, name: str) -> str:
        return os.path.join(self.ns, name)

    # -- session ---------------------------------------------------------
    def prepare_dirs(self) -> None:
        for d in ("tmp", "local", "events"):
            os.makedirs(self.path(d), exist_ok=True)
        # Python, the JVM and the Python workers all take their scratch
        # dirs from here; SPARK_LOCAL_DIRS would override spark.local.dir
        os.environ["TMPDIR"] = self.path("tmp")
        os.environ["SPARK_LOCAL_DIRS"] = self.path("local")
        os.environ["PYSPARK_PYTHON"] = sys.executable
        # every JVM the session launches (spark-submit's launcher too)
        os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, (
            os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={self.path('tmp')}")))
        tempfile.tempdir = None

    def session_conf(self) -> dict[str, str]:
        conf = {
            "spark.local.dir": self.path("local"),
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.path("events"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        return conf

    def start_session(self):
        from cryo_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(app="cryo_perfbench", master=MASTER,
                               shuffle_partitions=SHUFFLE_PARTITIONS,
                               extra_conf=self.session_conf())
        self.layer["session.start_s"] = time.perf_counter() - t0

    def stop_session(self) -> None:
        """Stop Spark, the JVM and its Python workers; wait for each."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        tree = _descendants(os.getpid())
        self.spark.stop()
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)
        deadline = time.time() + 20
        for pid in tree:
            while _alive(pid) and time.time() < deadline:
                time.sleep(0.05)
            if _alive(pid):
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        self.spark = None

    # -- calls -----------------------------------------------------------
    def call(self, kind: str, fn, check=None, timed: bool = True):
        """Run one public call; record its wall and whether it checked out.

        ``check(result)`` runs after the clock stops and returns True
        when the output is correct. A call that raises counts as failed.
        """
        group = f"pb{len(self.calls)}-{kind}"
        sc = self.spark.sparkContext if self.spark is not None else None
        if self.trace and sc is not None:
            sc.setJobGroup(group, kind)
        ticks0 = _cpu_ticks()
        t0e, t0 = time.time(), time.perf_counter()
        result, ok = None, True
        try:
            result = fn()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            ok = False
        wall, t1e = time.perf_counter() - t0, time.time()
        stolen = steal_share(ticks0, _cpu_ticks())
        if self.trace and sc is not None:
            sc.setJobGroup("pb-untimed", "untimed")
        if ok and check is not None:
            try:
                ok = bool(check(result))
            except Exception:
                traceback.print_exc(file=sys.stderr)
                ok = False
            if not ok:
                print(f"check failed: {kind} -> {_short(result)}",
                      file=sys.stderr)
        info = {"timed": timed}
        if isinstance(result, dict) and "n_chunks" in result:
            info["n_chunks"] = result["n_chunks"]
        self.calls.append(
            ledger.Call(kind, group, t0e, t1e, wall, stolen, ok, info))
        return result, self.calls[-1]

    def end_setup(self, t0: float) -> float:
        """Set-up wall since ``t0``; notes the hypervisor's share of it."""
        self.setup_steal = steal_share(self.ticks0, _cpu_ticks())
        return time.perf_counter() - t0

    def loop_open(self, t_loop: float) -> bool:
        now = time.perf_counter()
        return (now - t_loop < self.seconds
                and now - self.t_start < RUN_LIMIT_S)

    def timed(self, kinds: tuple[str, ...]) -> list[ledger.Call]:
        """The timed calls of the given kinds."""
        return [c for c in self.calls if c.info["timed"] and c.kind in kinds]

    # -- metrics ---------------------------------------------------------
    def end_to_end(self, setup_s: float) -> dict[str, float]:
        def p50(kind: str) -> float:
            return statistics.median(c.adj_wall for c in self.timed((kind,)))

        return {
            "setup_s": setup_s * (1.0 - self.setup_steal),
            "write_tok_per_s": (self.tokens_moved / self.tokens_wall
                                if self.tokens_wall else 0.0),
            "cycle_s": statistics.median(self.cycles),
            "read_s": sum(p50(k) for k in READS if self.timed((k,))),
            "bytes_per_raw_byte": self.bytes_ratio,
        }

    def name_latency(self, name: str, kind: str) -> None:
        """Median and the highest percentile with >= 10 samples beyond it."""
        walls = [c.adj_wall for c in self.timed((kind,))]
        if not walls:
            return
        self.named[f"{name}_p50_s"] = (statistics.median(walls), "s", len(walls))
        if len(walls) >= 100:
            p90 = statistics.quantiles(walls, n=10)[-1]
            self.named[f"{name}_p90_s"] = (p90, "s", len(walls))
        else:
            self.named[f"{name}_p90_s"] = (
                None, f"s (unsupported: n={len(walls)} < 100)", len(walls))


# ---------------------------------------------------------------------------
# helpers


def _short(x) -> str:
    s = repr(x)
    return s if len(s) < 300 else s[:300] + "..."


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().split(") ", 1)[1].split()[0] != "Z"
    except (FileNotFoundError, IndexError):
        return False


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().split(") ", 1)[1].split()[1])
        except (FileNotFoundError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _cpu_ticks() -> list[int]:
    """Aggregate /proc/stat CPU ticks: user .. steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(t0: list[int], t1: list[int]) -> float:
    """Share of the busy CPU time the hypervisor took between two reads.

    A vCPU accrues steal only while it has work, so steal over busy plus
    steal time is the share by which the call's own work was slowed.
    """
    d = [b - a for a, b in zip(t0, t1)]
    wanted = d[0] + d[1] + d[2] + d[5] + d[6] + d[7]  # busy + steal
    return d[7] / wanted if wanted else 0.0


def _peak_rss_mb(root: int) -> float:
    """Sum of per-process peak RSS (VmHWM) over the live process tree."""
    total = 0
    for pid in [root] + _descendants(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except FileNotFoundError:
            continue
    return total / 1024


def du_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def run_dirs(table: str) -> int:
    enc = os.path.join(table, "encoded")
    return sum(d.startswith("run=") for d in os.listdir(enc)) \
        if os.path.isdir(enc) else 0


def reference_table(path: str):
    """The input as written, sorted by key: the oracle for every read."""
    import pyarrow.parquet as pq

    return pq.read_table(path).sort_by("doc_id").combine_chunks()


def same_rows(got, want) -> bool:
    """Row-for-row equality after sorting both by doc_id."""
    got = got.sort_by("doc_id")
    if got.num_rows != want.num_rows:
        return False
    for name in want.column_names:
        a = got.column(name).combine_chunks()
        b = want.column(name).combine_chunks()
        if not a.cast(b.type).equals(b):
            return False
    return True


def freeze_ok(tokens: int, enc_bytes: int | None = None):
    def check(s: dict) -> bool:
        return (s["n_failed"] == 0 and s["tokens"] == tokens
                and s["n_encoded"] == s["n_chunks"] > 0
                and (enc_bytes is None or s["enc_bytes"] == enc_bytes))
    return check


# ---------------------------------------------------------------------------
# workloads: each returns its set-up wall and fills b.cycles, b.tokens_*,
# b.bytes_ratio and b.named. Every timing they report is a call's
# steal-adjusted wall (ledger.Call.adj_wall).


def pq_write(t, path: str) -> None:
    """Write an input table the way fixtures.write_sequences does."""
    import pyarrow.parquet as pq

    pq.write_table(t, path, compression="snappy", row_group_size=8192)


def setup_table(b: Bench):
    """Write the seeded sf0.1 input while the session starts; its oracle."""
    from cryo_spark.fixtures import write_sequences

    t0 = time.perf_counter()
    inp = b.path("in")
    with ThreadPoolExecutor(1) as pool:
        fut = pool.submit(write_sequences, inp, n=N_DOCS, seed=b.seed,
                          shards=N_SHARDS)
        b.start_session()
        fut.result()
    ref = reference_table(inp)
    b.layer["setup.input_s"] = (time.perf_counter() - t0
                                - b.layer["session.start_s"])
    return ref


def bulk_freeze(b: Bench) -> float:
    from cryo_spark import freeze

    t0 = time.perf_counter()
    ref = b.ref = setup_table(b)
    tokens = int(ref.column("n_tok").to_numpy().sum())
    enc_bytes = SEED42_ENC_BYTES if b.seed == 42 else None
    # warm-up: one full freeze, so every timed freeze runs warm (after a
    # small warm-up freeze the first full one was still ~15% slower)
    t_w = time.perf_counter()
    s, c = b.call("warmup_freeze",
                  lambda: freeze(b.spark, b.path("in"), b.path("warm_out"),
                                 target_tokens=TARGET_TOKENS),
                  freeze_ok(tokens, enc_bytes), timed=False)
    b.layer["setup.warmup_s"] = time.perf_counter() - t_w
    setup_s = b.end_setup(t0)
    if c.ok:  # every freeze of one input writes the same bytes
        enc_bytes = s["enc_bytes"]
    shutil.rmtree(b.path("warm_out"), ignore_errors=True)
    t_loop, i = time.perf_counter(), 0
    while True:
        out = b.path(f"out{i}")
        s, c = b.call("freeze", lambda: freeze(b.spark, b.path("in"), out,
                                               target_tokens=TARGET_TOKENS),
                      freeze_ok(tokens, enc_bytes))
        if c.ok:
            b.bytes_ratio = du_bytes(out) / s["raw_bytes"]
            if b.trace:
                c.info.update(out=out, run=s["run"])
                codec_probe(b, out, c)
        b.cycles.append(c.adj_wall)
        b.tokens_moved += tokens
        b.tokens_wall += c.adj_wall
        i += 1
        if not b.loop_open(t_loop):
            break
        shutil.rmtree(out, ignore_errors=True)
    # then one full scan of the last output, outside the freeze metrics
    b.table = out
    mix = ReadMix(b, out, ref, None)
    mix.scan()
    b.named["freeze_tok_per_s"] = (b.tokens_moved / b.tokens_wall, "tok/s",
                                   len(b.cycles))
    mix.name_metrics()
    b.named["bytes_per_raw_byte"] = (b.bytes_ratio, "ratio", 1)
    return setup_s


class ReadMix:
    """The four reads of a frozen table, each checked against the input.

    ``ref`` is the table's content sorted by key; its keys are contiguous.
    Lookup ranges and filter thresholds are drawn from ``rng``.
    """

    def __init__(self, b: Bench, table: str, ref, rng, timed: bool = True):
        self.b, self.table, self.ref, self.rng = b, table, ref, rng
        self.timed = timed
        self.key0 = int(ref.column("doc_id")[0].as_py().split("-")[1])
        self.tokens = int(ref.column("n_tok").to_numpy().sum())
        self.by_source = {
            r["source"]: (r["n"], r["t"]) for r in
            ref.group_by("source").aggregate(
                [("n_tok", "count"), ("n_tok", "sum")])
            .rename_columns(["source", "n", "t"]).to_pylist()}

    def scan(self) -> ledger.Call:
        from pyspark.sql import functions as F

        from cryo_spark import decode_frozen

        def run():
            r = decode_frozen(self.b.spark, self.table).agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.size("tokens")).alias("t")).first()
            return r["n"], r["t"]

        _, c = self.b.call("scan", run, lambda r: r == (
            self.ref.num_rows, self.tokens), self.timed)
        return c

    def project(self) -> ledger.Call:
        from pyspark.sql import functions as F

        from cryo_spark import collect

        def run():
            rows = (collect(self.b.spark, self.table,
                            columns=["n_tok", "source"])
                    .groupBy("source")
                    .agg(F.count(F.lit(1)).alias("n"),
                         F.sum("n_tok").alias("t"))
                    .collect())
            return {r["source"]: (r["n"], r["t"]) for r in rows}

        _, c = self.b.call("project", run, lambda r: r == self.by_source,
                           self.timed)
        return c

    def lookup(self, row: int | None = None,
               n: int = LOOKUP_KEYS) -> ledger.Call:
        """Key-range lookup of ``n`` keys from ``row`` (seeded if None)."""
        from cryo_spark import collect

        if row is None:
            row = int(self.rng.integers(0, self.ref.num_rows - n))
        want = self.ref.slice(row, n)
        keys = f"{self.key0 + row}:+{n}"
        _, c = self.b.call(
            "lookup",
            lambda: collect(self.b.spark, self.table, keys=keys).toArrow(),
            lambda got: same_rows(got, want), self.timed)
        return c

    def filter(self) -> ledger.Call:
        import pyarrow.compute as pc

        from cryo_spark import collect

        x = int(self.rng.integers(*FILTER_MIN_NTOK))
        want = self.ref.filter(pc.greater(self.ref.column("n_tok"), x))
        _, c = self.b.call(
            "filter",
            lambda: collect(self.b.spark, self.table,
                            filters=[("n_tok", ">", x)]).toArrow(),
            lambda got: same_rows(got, want), self.timed)
        return c

    def name_metrics(self) -> None:
        scans = self.b.timed(("scan",))
        self.b.named["scan_tok_per_s"] = (
            self.tokens * len(scans) / sum(c.adj_wall for c in scans), "tok/s",
            len(scans))
        for op in ("project", "lookup", "filter"):
            self.b.name_latency(op, op)


def maintain(b: Bench, table: str, timed: bool = True) -> float:
    """compact then vacuum; returns their summed wall."""
    from cryo_spark import compact, vacuum

    m, c = b.call("compact", lambda: compact(
        b.spark, table, target_tokens=TARGET_TOKENS), timed=timed)
    c.info["n_compacted"] = (m or {}).get("n_compacted", 0)
    v, c2 = b.call("vacuum", lambda: vacuum(b.spark, table), timed=timed)
    c2.info["bytes_reclaimed"] = (v or {}).get("bytes_reclaimed", 0)
    return c.adj_wall + c2.adj_wall


def verify(b: Bench, table: str, timed: bool = True) -> None:
    from cryo_spark import verify_output

    b.call("verify", lambda: verify_output(b.spark, table),
           lambda r: r["status"] == "ok", timed=timed)


def append_read(b: Bench) -> float:
    import pyarrow as pa

    from cryo_spark import freeze
    from cryo_spark.fixtures import generate_sequences

    table = b.table = b.path("table")
    batches, raw = [], 0

    def append(i: int, timed: bool) -> ledger.Call:
        nonlocal raw
        batch = generate_sequences(BATCH_DOCS, seed=b.seed * 1000 + i,
                                   id_offset=i * BATCH_DOCS)
        inp = b.path(f"batch{i}.parquet")
        pq_write(batch, inp)
        tokens = int(batch.column("n_tok").to_numpy().sum())
        s, c = b.call("append" if timed else "setup_append",
                      lambda: freeze(b.spark, inp, table,
                                     target_tokens=TARGET_TOKENS),
                      freeze_ok(tokens), timed=timed)
        if c.ok:
            batches.append(batch)
            raw += s["raw_bytes"]
            b.append_runs.append(s["run"])
            if timed:
                b.tokens_moved += tokens
                b.tokens_wall += c.adj_wall
        os.remove(inp)
        return c

    t0 = time.perf_counter()
    os.makedirs(b.ns, exist_ok=True)
    b.start_session()
    # the first append creates the table and is the warm-up call
    t_w = time.perf_counter()
    append(0, timed=False)
    b.layer["setup.warmup_s"] = time.perf_counter() - t_w
    setup_s = b.end_setup(t0)
    b.layer["setup.input_s"] = (setup_s - b.layer["session.start_s"]
                                - b.layer["setup.warmup_s"])

    maint = []
    t_loop, i = time.perf_counter(), 1
    while True:
        walls = [append(i, timed=True).adj_wall]
        # read what was just written: the whole batch by key range
        new = ReadMix(b, table, batches[-1].sort_by("doc_id"), None)
        walls.append(new.lookup(0, BATCH_DOCS).adj_wall)
        if (i + 1) % COMPACT_EVERY == 0:
            maint.append(maintain(b, table))
            walls.append(maint[-1])
        b.cycles.append(sum(walls))
        i += 1
        if i % COMPACT_EVERY == 0 and not b.loop_open(t_loop):
            break

    # the table after maintenance: one full scan, then the audit
    ref = b.ref = pa.concat_tables(batches).sort_by("doc_id").combine_chunks()
    mix = ReadMix(b, table, ref, None)
    mix.scan()
    verify(b, table)
    b.bytes_ratio = du_bytes(table) / raw
    b.name_latency("append", "append")
    mix.name_metrics()
    b.named["append_tok_per_s"] = (b.tokens_moved / b.tokens_wall, "tok/s",
                                   len(b.timed(("append",))))
    b.named["maintain_s"] = (statistics.median(maint), "s", len(maint))
    b.named["bytes_per_raw_byte"] = (b.bytes_ratio, "ratio", 1)
    return setup_s


# ---------------------------------------------------------------------------
# traced-run probes: public calls made after the timed phase, outside every
# end-to-end metric


def codec_probe(b: Bench, out: str, c: ledger.Call) -> None:
    """Codec kernel time a freeze recorded in its manifest rows."""
    from pyspark.sql import functions as F

    from cryo_spark import read_manifest

    r = (read_manifest(b.spark, out, raw=True)
         .filter(F.col("run") == c.info["run"])
         .agg(F.sum("wall_ms").alias("ms"), F.sum("raw_bytes").alias("raw"))
         .first())
    c.info.update(kernel_s=(r["ms"] or 0) / 1e3, kernel_raw=r["raw"] or 0)


def trace_probes(b: Bench) -> None:
    import numpy as np
    from pyspark.sql import functions as F

    from cryo_spark import layout, read_encoded, read_manifest, snapshot_log

    table = b.table
    plan_in = b.path("in") if os.path.isdir(b.path("in")) else None
    if plan_in is None:  # append_read: plan a batch of the append size
        from cryo_spark.fixtures import generate_sequences

        plan_in = b.path("plan_batch.parquet")
        pq_write(generate_sequences(BATCH_DOCS, seed=b.seed), plan_in)
    plan, c = b.call("probe_plan", lambda: layout.plan_chunks_arrow(
        b.spark, plan_in, TARGET_TOKENS), lambda p: p.n_chunks > 0, timed=False)
    b.layer["layout.plan_s"] = c.wall
    b.layer["layout.n_chunks"] = float(plan.n_chunks if c.ok else 0)

    n, c = b.call("probe_manifest",
                  lambda: read_manifest(b.spark, table).count(),
                  lambda n: n > 0, timed=False)
    b.layer["manifest.read_s"] = c.wall
    b.layer["manifest.rows"] = float(n or 0)
    log, c = b.call("probe_snapshots", lambda: snapshot_log(table),
                    lambda lg: len(lg) > 0, timed=False)
    b.layer["snapshots.log_s"] = c.wall
    b.layer["snapshots.entries"] = float(len(log or []))

    dec_s, raw = decode_probe(b.ref)
    b.layer["codecs.decode_s"] = dec_s
    b.layer["codecs.decode_mb_per_s"] = raw / 1e6 / dec_s
    live = read_encoded(b.spark, table).agg(F.sum("enc_bytes")).first()[0]
    b.layer["storage.live_mb"] = (live or 0) / 1e6
    b.layer["storage.disk_mb"] = du_bytes(table) / 1e6
    b.layer["storage.run_dirs"] = float(run_dirs(table))
    # every layer runs in every traced run: the layers a workload's own
    # operations skip run once here, on its table
    kinds = {c.kind for c in b.calls}
    mix = ReadMix(b, table, b.ref, np.random.default_rng(b.seed), timed=False)
    for op in READS:
        if op not in kinds:
            getattr(mix, op)()
    if "compact" not in kinds:
        maintain(b, table, timed=False)
    if "verify" not in kinds:
        verify(b, table, timed=False)
    if b.workload == "append_read":
        b.append_kern = append_kernels(b)


def decode_probe(ref) -> tuple[float, int]:
    """Codec decode seconds and raw bytes for one pass over ``ref``.

    The table is cut into row ranges of about TARGET_TOKENS tokens, as the
    engine's chunks are; every column of every range is encoded with the
    codec the selector picks, and the frames are then decoded in this
    process. Only the decode is timed.
    """
    import numpy as np

    from cryo_spark.codecs import choose_int, choose_str, decode_any

    n_tok = ref.column("n_tok").to_numpy()
    bounds = np.searchsorted(np.cumsum(n_tok),
                             np.arange(TARGET_TOKENS, n_tok.sum(), TARGET_TOKENS))
    frames, raw = [], 0
    for lo, hi in zip([0, *bounds], [*bounds, ref.num_rows]):
        part = ref.slice(lo, hi - lo)
        tokens = part.column("tokens").combine_chunks()
        ints = [part.column("n_tok").to_numpy(),
                tokens.flatten().to_numpy()]
        strs = [part.column(c).combine_chunks() for c in ("doc_id", "source")]
        frames += [choose_int(v).payload for v in ints]
        frames += [choose_str(v).payload for v in strs]
        raw += sum(v.nbytes for v in ints) + sum(v.nbytes for v in strs)
    t0 = time.perf_counter()
    for f in frames:
        decode_any(f)
    return time.perf_counter() - t0, raw


def layer_metrics(b: Bench) -> dict[str, float]:
    """The per-layer ledger of a traced run (every PER_LAYER name)."""
    jobs = ledger.read_event_log(b.path("events"))
    splits = ledger.split_calls(b.calls, jobs)
    timed = [sp for sp in splits if sp.call.info["timed"]]
    out = {k: 0.0 for k in PER_LAYER}
    out.update(b.layer)
    freezes = [sp for sp in timed if sp.call.kind in ("freeze", "append")]
    if freezes:
        out.update(ledger.median_by_key(
            [ledger.freeze_layers(sp) for sp in freezes]))
    kern = [sp.call.info for sp in freezes if "kernel_s" in sp.call.info]
    kern += b.append_kern
    if kern:
        ks = statistics.median(k["kernel_s"] for k in kern)
        kraw = statistics.median(k["kernel_raw"] for k in kern)
        out["codecs.encode_s"] = ks
        out["codecs.encode_mb_per_s"] = kraw / 1e6 / ks if ks else 0.0
        out["codecs.kernel_share"] = (ks / out["encode.run_s"]
                                      if out["encode.run_s"] else 0.0)
    for op in READS:
        rows = [ledger.read_layers(sp, op) for sp in splits
                if sp.call.kind == op]
        if rows:
            out.update(ledger.median_by_key(rows))
    for kind, key in (("compact", "compact.s"), ("vacuum", "vacuum.s"),
                      ("verify", "verify.s")):
        walls = [c.wall for c in b.calls if c.kind == kind]
        if walls:
            out[key] = statistics.median(walls)
    comp = [c.info["n_compacted"] for c in b.calls if c.kind == "compact"]
    if comp:
        out["compact.n_compacted"] = float(statistics.median(comp))
    vac = [c.info["bytes_reclaimed"] for c in b.calls if c.kind == "vacuum"]
    if vac:
        out["vacuum.mb_reclaimed"] = statistics.median(vac) / 1e6
    wall = sum(sp.call.wall for sp in timed)
    out["ledger.job_share"] = sum(sp.job_s for sp in timed) / wall
    out["ledger.untagged_jobs"] = float(ledger.untagged(b.calls, jobs))
    b.splits = splits
    return out


def append_kernels(b: Bench) -> list[dict]:
    """Manifest codec time of every timed append's run."""
    from pyspark.sql import functions as F

    from cryo_spark import read_manifest

    rows = (read_manifest(b.spark, b.table, raw=True)
            .groupBy("run")
            .agg(F.sum("wall_ms").alias("ms"), F.sum("raw_bytes").alias("raw"))
            .collect())
    by_run = {r["run"]: r for r in rows}
    return [{"kernel_s": by_run[r]["ms"] / 1e3, "kernel_raw": by_run[r]["raw"]}
            for r in b.append_runs[1:] if r in by_run]


def print_ledger(b: Bench, metrics: dict[str, float]) -> None:
    print("per-call ledger: wall = stage time + job gaps + driver time")
    for sp in b.splits:
        parts = " ".join(f"{k}={v:.3f}" for k, v in sp.layers().items())
        print(f"  {sp.call.kind:<16} wall={sp.call.wall:.3f} s  {parts}  "
              f"jobs={len(sp.jobs)}")
    print("per-layer metrics -> the end-to-end metric each should move")
    for k, (unit, pair) in PER_LAYER.items():
        print(f"  {k:<26} {metrics[k]:>14.4f} {unit:<6} -> {pair}")


# ---------------------------------------------------------------------------


def host_record(b: Bench) -> dict:
    """nproc, the pinned session settings and the host calibration."""
    from bench import host_calibration

    steal = steal_share(b.ticks0, _cpu_ticks())
    t0 = time.perf_counter()
    host = host_calibration()
    host["calibration_s"] = time.perf_counter() - t0
    host["steal_share"] = steal
    return {"workload": b.workload, "seed": b.seed, "seconds": b.seconds,
            "trace": int(b.trace), "nproc": os.cpu_count(), "host": host,
            "session": {"master": MASTER, "target_tokens": TARGET_TOKENS,
                        **b.session_conf()}}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    workloads = {"bulk_freeze": bulk_freeze, "append_read": append_read}
    ap.add_argument("--workload", required=True, choices=workloads)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "cryo_spark", "__init__.py")):
        print("perfbench: run from the repository root (cryo_spark/ not found)",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    b = Bench(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        b.prepare_dirs()
        setup_s = workloads[args.workload](b)
        metrics = b.end_to_end(setup_s)
        if b.trace:
            trace_probes(b)
            b.layer["proc.peak_rss_mb"] = _peak_rss_mb(os.getpid())
            b.stop_session()
            layers = layer_metrics(b)
            for k in ("write_tok_per_s", "cycle_s", "read_s"):
                layers[f"trace.{k}"] = metrics[k]
            print_ledger(b, layers)
            metrics = layers
        else:
            b.stop_session()
        record = host_record(b)
    finally:
        b.stop_session()
        shutil.rmtree(b.ns, ignore_errors=True)
        parent = os.path.dirname(b.ns)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
    record["calls"] = [[c.kind, round(c.wall, 4), c.ok, c.info.get("n_chunks"),
                        round(c.steal, 4)] for c in b.calls]
    record["named"] = {k: {"value": v[0], "unit": v[1], "n": v[2]}
                       for k, v in b.named.items()}
    print(json.dumps(record))
    for k, (v, unit, n) in b.named.items():
        print(f"{args.workload} {k} = {v if v is None else f'{v:.6g}'} {unit} (n={n})")
    attempted = len(b.calls)
    failed = sum(not c.ok for c in b.calls)
    units = dict(END_TO_END) if not b.trace else {k: u for k, (u, _) in PER_LAYER.items()}
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        # a failed run can leave a metric unmeasured (NaN): report it as 0
        "metrics": {k: {"value": metrics[k] if math.isfinite(metrics[k]) else 0.0,
                        "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
