"""Per-layer ledger for traced benchmark runs.

A traced run turns on Spark's event log and tags every timed call with
``setJobGroup``. After the session stops, this module reads the event
log back, assigns each Spark job to the call that submitted it, and
splits the call's wall time into job time (the union of its jobs'
intervals) and driver time (the rest). Stage task metrics then name
the layers inside the job time.

Inside a ``freeze`` call the stages are told apart by what they move,
not by call-site names (which change whenever engine code moves):

- the scan->pack map stage is the stage with the largest shuffle write;
- the encode stage reads that shuffle and writes the encoded files, so
  Python-side encode and the parquet write share its tasks;
- jobs that start before the pack stage's job are planning and resume;
- jobs that start after the encode stage's job are the manifest job.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from dataclasses import dataclass, field


@dataclass
class Call:
    """One timed public call, as the client saw it."""

    kind: str
    group: str
    t0: float  # epoch seconds at call start
    t1: float  # epoch seconds at call end
    wall: float  # perf_counter seconds
    steal: float  # hypervisor's share of busy CPU time during the call
    ok: bool
    info: dict = field(default_factory=dict)

    @property
    def adj_wall(self) -> float:
        """The wall less the share the hypervisor gave to other guests."""
        return self.wall * (1.0 - self.steal)


@dataclass
class Stage:
    sid: int
    start: float
    end: float
    m: dict  # accumulable name -> numeric value

    def get(self, name: str) -> float:
        return self.m.get(name, 0.0)

    @property
    def run_s(self) -> float:
        return self.get("internal.metrics.executorRunTime") / 1e3

    @property
    def cpu_s(self) -> float:
        return self.get("internal.metrics.executorCpuTime") / 1e9

    @property
    def gc_s(self) -> float:
        return self.get("internal.metrics.jvmGCTime") / 1e3

    @property
    def shuffle_write(self) -> float:
        return self.get("internal.metrics.shuffle.write.bytesWritten")

    @property
    def shuffle_read(self) -> float:
        return (self.get("internal.metrics.shuffle.read.localBytesRead")
                + self.get("internal.metrics.shuffle.read.remoteBytesRead"))

    @property
    def input_bytes(self) -> float:
        return self.get("internal.metrics.input.bytesRead")

    @property
    def output_bytes(self) -> float:
        return self.get("internal.metrics.output.bytesWritten")

    @property
    def python_s(self) -> float:
        # SQL metric of the Arrow Python runner, in ms
        return self.get("time to run Python workers") / 1e3


@dataclass
class Job:
    jid: int
    group: str | None
    start: float
    end: float
    stage_ids: list[int]
    stages: list[Stage] = field(default_factory=list)


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def read_event_log(events_dir: str) -> list[Job]:
    """Jobs (with their completed stages) from an uncompressed event log."""
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    for path in sorted(glob.glob(os.path.join(events_dir, "*"))):
        with open(path, encoding="utf-8") as f:
            for line in f:
                e = json.loads(line)
                ev = e.get("Event")
                if ev == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    jobs[e["Job ID"]] = Job(
                        e["Job ID"], props.get("spark.jobGroup.id"),
                        e["Submission Time"] / 1e3, e["Submission Time"] / 1e3,
                        list(e["Stage IDs"]))
                elif ev == "SparkListenerJobEnd" and e["Job ID"] in jobs:
                    jobs[e["Job ID"]].end = e["Completion Time"] / 1e3
                elif ev == "SparkListenerStageCompleted":
                    si = e["Stage Info"]
                    if "Submission Time" not in si:
                        continue  # skipped stage: no tasks ran
                    acc = {a["Name"]: _num(a.get("Value"))
                           for a in si.get("Accumulables", []) if "Name" in a}
                    stages[si["Stage ID"]] = Stage(
                        si["Stage ID"], si["Submission Time"] / 1e3,
                        si.get("Completion Time", si["Submission Time"]) / 1e3,
                        acc)
    seen: set[int] = set()
    for job in sorted(jobs.values(), key=lambda j: j.jid):
        for sid in job.stage_ids:
            if sid in stages and sid not in seen:
                seen.add(sid)
                job.stages.append(stages[sid])
    return sorted(jobs.values(), key=lambda j: j.start)


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


@dataclass
class Split:
    """A call's wall split into Spark job/stage time and driver time."""

    call: Call
    jobs: list[Job]
    job_s: float  # union of job intervals, clipped to the call window
    stage_s: float  # union of stage intervals, clipped likewise
    driver_s: float  # wall minus job time: driver-side Python and JVM work

    @property
    def stages(self) -> list[Stage]:
        return [s for j in self.jobs for s in j.stages]

    def layers(self) -> dict[str, float]:
        """Named parts of the wall, summing to the wall."""
        return {"stages": self.stage_s, "job_gaps": self.job_s - self.stage_s,
                "driver": self.driver_s}


def split_calls(calls: list[Call], jobs: list[Job]) -> list[Split]:
    """Assign jobs to calls (by job group) and split each call's wall."""
    by_group: dict[str, list[Job]] = {}
    for j in jobs:
        by_group.setdefault(j.group, []).append(j)
    out = []
    for c in calls:
        cj = by_group.get(c.group, [])
        clip = [(max(j.start, c.t0), min(j.end, c.t1)) for j in cj]
        job_s = min(c.wall, _union([iv for iv in clip if iv[1] > iv[0]]))
        sclip = [(max(s.start, c.t0), min(s.end, c.t1))
                 for j in cj for s in j.stages]
        stage_s = min(job_s, _union([iv for iv in sclip if iv[1] > iv[0]]))
        out.append(Split(c, cj, job_s, stage_s, c.wall - job_s))
    return out


def untagged(calls: list[Call], jobs: list[Job]) -> int:
    """Jobs submitted inside a call's window without that call's tag."""
    return sum(1 for c in calls for j in jobs
               if c.t0 <= j.start <= c.t1 and j.group != c.group)


def freeze_layers(sp: Split) -> dict[str, float]:
    """Layer figures of one freeze call (see the module docstring)."""
    st = sp.stages
    if not st:
        return {}
    pack = max(st, key=lambda s: s.shuffle_write)
    enc = max(st, key=lambda s: s.output_bytes)
    pack_job = next(j for j in sp.jobs if pack in j.stages)
    enc_job = next(j for j in sp.jobs if enc in j.stages)
    plan_jobs = [j for j in sp.jobs if j.start < pack_job.start]
    man_jobs = [j for j in sp.jobs if j.start >= enc_job.end]
    return {
        "freeze.plan_job_s": _union([(j.start, j.end) for j in plan_jobs]),
        "sources.pack_run_s": pack.run_s,
        "sources.pack_cpu_s": pack.cpu_s,
        "exchange.write_mb": pack.shuffle_write / 1e6,
        "exchange.read_mb": enc.shuffle_read / 1e6,
        "encode.run_s": enc.run_s,
        "encode.cpu_s": enc.cpu_s,
        # GC of the whole freeze job: the encode stage alone often reads 0
        "encode.gc_s": sum(s.gc_s for s in st),
        "encode.python_s": enc.python_s,
        # JVM side of the encode stage: shuffle read, Arrow hand-off,
        # parquet write and task commit (the Python runner overlaps it)
        "write.run_s": max(0.0, enc.run_s - enc.python_s),
        "write.out_mb": enc.output_bytes / 1e6,
        "manifest.job_s": _union([(j.start, j.end) for j in man_jobs]),
        "freeze.driver_s": sp.driver_s,
        "freeze.n_jobs": float(len(sp.jobs)),
    }


def read_layers(sp: Split, op: str) -> dict[str, float]:
    """Layer figures of one read call (scan, project, lookup or filter)."""
    st = sp.stages
    return {
        f"read.{op}.n_jobs": float(len(sp.jobs)),
        f"read.{op}.driver_s": sp.driver_s,
        f"read.{op}.run_s": sum(s.run_s for s in st),
        # Spark-side bytes: file scans plus shuffle reads. The Arrow fast
        # path reads encoded files inside the Python workers, which Spark
        # does not count here.
        f"read.{op}.input_mb": sum(s.input_bytes + s.shuffle_read
                                   for s in st) / 1e6,
    }


def median_by_key(rows: list[dict[str, float]]) -> dict[str, float]:
    keys = {k for r in rows for k in r}
    return {k: statistics.median([r[k] for r in rows if k in r])
            for k in sorted(keys)}
