"""Snapshot log: ordered commit history of a frozen output (time travel).

Every committed run appends one JSON entry under ``<output>/snapshots/``:
freeze appends ``kind='append'``, compact appends ``kind='rewrite'`` (its
tombstones become visible at the same sequence number), vacuum appends
``kind='vacuum'`` recording which run dirs were physically removed. The
log is the Iceberg snapshot-list analog (snapshot id -> manifest list);
``as_of=<seq>`` on the read paths resolves to "the set of runs whose
commit sequence is <= seq", giving snapshot-isolated time travel:

    freeze A      -> seq 1   read(as_of=1) sees A
    freeze B      -> seq 2   read(as_of=2) sees A+B
    compact       -> seq 3   read(as_of=2) still sees the ORIGINAL chunks
                             (the rewrite run and its tombstones are both
                             invisible below seq 3)
    vacuum        -> seq 4   read(as_of<3) now raises if the originals'
                             payload bytes are gone (same contract as
                             Iceberg expire_snapshots: expiring removes
                             the ability to time-travel past it)

Entries are written atomically (tmp + rename) by a single writer — the
same discipline as the reference CLI's one-process-per-output-dir model
(its report files, /root/reference/crates/freeze/src/types/reports.rs:
51-89). On a real deployment this append is the Iceberg catalog's
atomic snapshot swap; this module is the documented adapter seam.
"""

from __future__ import annotations

import json
import os
import time

DIRNAME = "snapshots"

# kinds that contribute data-carrying runs to a snapshot's visible set
_DATA_KINDS = ("append", "rewrite")


def _dir(output_dir: str) -> str:
    return os.path.join(output_dir, DIRNAME)


def commit(output_dir: str, run: str | None, kind: str, **extra) -> int | None:
    """Append one snapshot entry; returns its sequence number.

    No-op (returns None) on non-local stores, where the atomic append is
    the catalog's job, not the filesystem's.
    """
    if "://" in output_dir:
        return None
    d = _dir(output_dir)
    os.makedirs(d, exist_ok=True)
    entries = log(output_dir)
    if not entries and os.path.isdir(os.path.join(output_dir, "manifest")):
        # the log's first entry: runs a log-less output already counts
        # live by their commit markers (readview's log-less rule) are
        # logged first, so the log's rule takes over without losing them
        from . import readview

        for r in sorted(readview.read_view(output_dir, strict=False).runs
                        - {run}):
            _claim(d, 1, r, "append", {})
        entries = log(output_dir)
    if run is not None:
        # idempotent per run: a retried streaming micro-batch re-commits
        # run=stream<N> by overwrite; its snapshot entry must not fork
        for e in entries:
            if e["run"] == run and e["kind"] == kind:
                return e["seq"]
    return _claim(d, 1 + max((e["seq"] for e in entries), default=0),
                  run, kind, extra)


def _claim(d: str, seq: int, run: str | None, kind: str, extra: dict) -> int:
    """Write one entry at the first free sequence number >= ``seq``."""
    while True:
        entry = dict(seq=seq, run=run, kind=kind, ts=time.time(), **extra)
        tmp = os.path.join(d, f".tmp-{os.getpid()}-{seq:010d}.json")
        with open(tmp, "w") as f:
            json.dump(entry, f)
        try:
            # link(2) claims the sequence number atomically AND fully
            # written — the filesystem CAS standing in for the catalog's
            # snapshot swap: if another writer took this seq, claim the
            # next one instead of clobbering history
            os.link(tmp, os.path.join(d, f"{seq:010d}.json"))
        except FileExistsError:
            os.unlink(tmp)
            seq += 1
            continue
        os.unlink(tmp)
        return seq


_CKPT_PREFIX = "checkpoint-"


def log(output_dir: str) -> list[dict]:
    """All snapshot entries, ordered by sequence number.

    Reads the newest checkpoint (one JSON array holding every entry up
    to its seq — see :func:`checkpoint`) plus any newer per-commit
    files; entries present in both (the checkpoint-written/
    files-not-yet-deleted crash window) dedup by seq. Without a
    checkpoint this is the original one-file-per-commit read.
    """
    d = _dir(output_dir)
    if not os.path.isdir(d):
        return []
    names = os.listdir(d)
    cps = sorted(n for n in names
                 if n.startswith(_CKPT_PREFIX) and n.endswith(".json"))
    out: list[dict] = []
    seen: set[int] = set()
    if cps:
        # zero-padded seq in the name -> lexicographic max is newest
        with open(os.path.join(d, cps[-1])) as f:
            for e in json.load(f):
                out.append(e)
                seen.add(e["seq"])
    for fn in sorted(names):
        if (fn.endswith(".json") and not fn.startswith(".")
                and not fn.startswith(_CKPT_PREFIX)):
            with open(os.path.join(d, fn)) as f:
                e = json.load(f)
            if e["seq"] not in seen:
                out.append(e)
    out.sort(key=lambda e: e["seq"])
    return out


def checkpoint(output_dir: str) -> dict:
    """Fold the per-commit log files into ONE checkpoint file.

    At one commit per streaming micro-batch the log is 10^5 tiny JSON
    files, and every read path replays it — the same O(runs) metadata
    listing engine.consolidate_manifests removes for manifest dirs,
    except this one is paid on EVERY read. The checkpoint holds the
    verbatim entry list (not a folded state), so rollback targets,
    branch anchors, tags and vacuum records replay exactly as before.

    Crash-safe: the checkpoint lands by tmp+rename; per-commit files it
    absorbed are deleted afterwards (a death in between only leaves
    duplicates that :func:`log` dedups by seq, collected on the next
    checkpoint). Concurrent committers are unaffected — their link(2)
    CAS claims seqs above the checkpoint, whose max seq `log()` still
    reports.
    """
    d = _dir(output_dir)
    entries = log(output_dir)
    if not entries:
        return dict(checkpointed=False, reason="no snapshot log")
    top = entries[-1]["seq"]
    name = f"{_CKPT_PREFIX}{top:010d}.json"
    tmp = os.path.join(d, f".tmp-ckpt-{os.getpid()}-{top:010d}.json")
    with open(tmp, "w") as f:
        json.dump(entries, f)
    os.replace(tmp, os.path.join(d, name))
    n_removed = 0
    for fn in os.listdir(d):
        if fn == name or fn.startswith("."):
            continue
        p = os.path.join(d, fn)
        if fn.startswith(_CKPT_PREFIX):
            os.unlink(p)  # superseded checkpoint
            n_removed += 1
        elif fn.endswith(".json") and int(fn[: -len(".json")]) <= top:
            os.unlink(p)
            n_removed += 1
    return dict(checkpointed=True, through_seq=top,
                n_entries=len(entries), n_files_removed=n_removed)


def _state_at(entries: list[dict], seq: int,
              branch: str | None = None) -> tuple[set[str], set[str]]:
    """Replay the log up to ``seq``: (visible data runs, delete runs).

    append/rewrite add their data run; a ``delete`` entry adds its
    equality-delete run (deletes/run=<id>, engine.delete_where); a
    rollback entry RESETS both sets to the state at its target
    (recursively — a rollback's target may itself be a post-rollback
    snapshot), so rolling back past a delete un-deletes. Vacuum entries
    change nothing here: deletion is physical, visibility is logical.

    ``branch``: replay that branch's lineage instead of main. A branch
    anchors at its creation entry (main state at the anchor target) and
    then applies only entries committed TO the branch — main commits
    after the anchor are invisible (divergence), and branch commits are
    invisible on main until a ``publish`` entry fast-forwards main to
    the branch state (Iceberg branch + fast_forward semantics).
    """
    vis: set[str] = set()
    dels: set[str] = set()
    for e in entries:
        if e["seq"] > seq:
            break
        eb = e.get("branch")
        if branch is None:
            if eb is not None:
                if e["kind"] == "publish":
                    # fast-forward: main becomes the branch state at the
                    # published snapshot
                    vis, dels = _state_at(entries, e["target"], eb)
                continue
        else:
            if e["kind"] == "branch" and eb == branch:
                # anchor: branch lineage starts from main at the target
                vis, dels = _state_at(entries, e["target"])
                continue
            if eb != branch or e["kind"] == "publish":
                continue
        if e["kind"] in _DATA_KINDS and e["run"]:
            vis.add(e["run"])
        elif e["kind"] == "delete" and e["run"]:
            dels.add(e["run"])
        elif e["kind"] == "purge":
            # physical apply (engine.purge_deletes): the rewrite run
            # joins the data set, the applied delete runs leave the
            # merge-on-read set in the same atomic step
            if e["run"]:
                vis.add(e["run"])
            dels -= set(e.get("purged_deletes", []))
        elif e["kind"] == "rollback":
            vis, dels = _state_at(entries, e["target"])
    return vis, dels


def resolve(output_dir: str, as_of: int | str,
            entries: list[dict] | None = None) -> dict:
    """Visibility state at snapshot ``as_of`` (seq, tag, or 'branch:name').

    Returns ``{"runs", "deletes", "removed", "max_seq"}`` where
    ``runs``/``deletes`` are the rollback-aware replay of the log up to
    ``as_of`` and ``removed`` is every run physically deleted by a
    vacuum at ANY seq (deletion is physical — it affects every
    snapshot's readability, not just later ones). ``'branch:name'``
    reads the branch's current head. Raises if the output has no
    snapshot log (pre-snapshot outputs have no history to travel to).
    ``entries`` reuses an already-read :func:`log`.
    """
    if entries is None:
        entries = log(output_dir)
    if not entries:
        raise ValueError(
            f"no snapshot log under {output_dir!r}: output predates "
            "snapshotting (or is not a frozen output dir)"
        )
    branch = None
    if isinstance(as_of, str) and as_of.startswith("branch:"):
        branch = as_of[len("branch:"):]
        _branch_anchor(entries, branch)  # raises on unknown branch
        as_of = entries[-1]["seq"]
    else:
        as_of = resolve_ref(output_dir, as_of, entries)  # int passes
        # through; tag / 'ts:<time>' / datetime resolve to a seq
    removed = {
        r
        for e in entries
        if e["kind"] == "vacuum"
        for r in e.get("removed_runs", [])
    }
    runs, dels = _state_at(entries, as_of, branch)
    return dict(runs=runs, deletes=dels, removed=removed,
                max_seq=entries[-1]["seq"])


def current(output_dir: str) -> dict | None:
    """The head state of the log (:func:`resolve` at the newest seq), or
    None when the output has no snapshot log.

    A log-backed output's live runs are exactly the ones the replayed
    log names (readview.read_view — the one liveness rule); there is no
    second, disk-derived notion of "current".
    """
    entries = log(output_dir)
    return resolve(output_dir, entries[-1]["seq"], entries) if entries \
        else None


def tag(output_dir: str, name: str, seq: int | None = None) -> int:
    """Name a snapshot (Iceberg tag): ``as_of='name'`` resolves to it.

    Tags are append-only log entries too (kind 'tag'); re-tagging the
    same name moves it (latest entry wins), which doubles as the
    branch-head idiom for a write-audit-publish flow: freeze, verify at
    the new seq, then ``tag(out, 'published', seq)``. Defaults to the
    latest snapshot.
    """
    entries = log(output_dir)
    if not entries:
        raise ValueError("nothing to tag: no snapshot log")
    head = entries[-1]["seq"]
    seq = head if seq is None else seq
    if not 0 <= seq <= head:
        raise ValueError(f"tag target {seq} outside history [0, {head}]")
    if not name or name.strip() != name:
        raise ValueError(f"bad tag name {name!r}")
    return commit(output_dir, None, "tag", tag=name, target=seq)


def resolve_ref(output_dir: str, ref: int | str,
                entries: list[dict] | None = None) -> int:
    """A snapshot reference -> sequence number.

    Ints pass through; a ``datetime`` or ``'ts:<iso8601|epoch>'`` string
    resolves to the newest snapshot committed at-or-before that wall
    time (Iceberg's FOR SYSTEM_TIME AS OF — every log entry carries its
    commit ts); any other string resolves the latest tag entry with
    that name (latest wins, so moved tags behave like branch heads).

    Log entries store UTC epoch seconds, so NAIVE datetimes / iso
    strings are defined as UTC (not host-local time — the same
    ``as_of`` must resolve to the same snapshot on every machine);
    pass a tz-aware value for any other zone.
    """
    import datetime as _dt

    def _epoch(d: _dt.datetime) -> float:
        if d.tzinfo is None:
            d = d.replace(tzinfo=_dt.timezone.utc)
        return d.timestamp()

    if isinstance(ref, _dt.datetime):
        return _seq_at_time(output_dir, _epoch(ref), entries)
    if not isinstance(ref, str):
        return ref
    if ref.startswith("ts:"):
        raw = ref[3:]
        try:
            t = float(raw)
        except ValueError:
            t = _epoch(_dt.datetime.fromisoformat(raw))
        return _seq_at_time(output_dir, t, entries)
    for e in reversed(log(output_dir) if entries is None else entries):
        if e["kind"] == "tag" and e.get("tag") == ref:
            return e["target"]
    raise ValueError(f"unknown tag {ref!r} under {output_dir!r}")


def _seq_at_time(output_dir: str, t: float,
                 entries: list[dict] | None = None) -> int:
    """Newest snapshot seq whose commit ts is <= ``t``."""
    if entries is None:
        entries = log(output_dir)
    at_or_before = [e for e in entries if e["ts"] <= t]
    if not at_or_before:
        first = entries[0]["ts"] if entries else None
        raise ValueError(
            f"no snapshot at or before t={t} under {output_dir!r} "
            f"(earliest commit ts: {first})")
    return at_or_before[-1]["seq"]


def _branch_anchor(entries: list[dict], name: str) -> dict:
    """The creation entry of branch ``name`` (latest, if re-created)."""
    for e in reversed(entries):
        if e["kind"] == "branch" and e.get("branch") == name:
            return e
    raise ValueError(f"unknown branch {name!r}")


def branch(output_dir: str, name: str, seq: int | None = None) -> int:
    """Create branch ``name`` anchored at snapshot ``seq`` (default head).

    The Iceberg branch idiom for write-audit-publish at isolation:
    ``freeze(..., branch=name)`` commits land on the branch — invisible
    to main readers — until :func:`publish` fast-forwards main to the
    branch head. Branch reads use ``as_of='branch:name'`` on every read
    path. Names must not collide with an existing branch.
    """
    entries = log(output_dir)
    if not entries:
        raise ValueError("nothing to branch from: no snapshot log")
    if not name or name.strip() != name or name.startswith("branch:"):
        raise ValueError(f"bad branch name {name!r}")
    if any(e["kind"] == "branch" and e.get("branch") == name for e in entries):
        raise ValueError(f"branch {name!r} already exists")
    head = entries[-1]["seq"]
    seq = head if seq is None else seq
    if not 0 <= seq <= head:
        raise ValueError(f"branch anchor {seq} outside history [0, {head}]")
    return commit(output_dir, None, "branch", branch=name, target=seq)


def publish(output_dir: str, name: str) -> int:
    """Fast-forward main to branch ``name``'s head (Iceberg
    fast_forward('main', branch)).

    Fast-forward ONLY: raises if main's state advanced since the branch
    anchor (a diverged main would silently lose its own commits under a
    blind publish). After publishing, unqualified reads see everything
    committed to the branch.
    """
    entries = log(output_dir)
    anchor = _branch_anchor(entries, name)
    head = entries[-1]["seq"]
    if _state_at(entries, head) != _state_at(entries, anchor["target"]):
        raise ValueError(
            f"main diverged since branch {name!r} was created at "
            f"seq {anchor['target']}: fast-forward publish refused")
    return commit(output_dir, None, "publish", branch=name, target=head)


def branch_data_runs(output_dir: str) -> set[str]:
    """Every data/delete run committed to ANY branch (vacuum keep-set).

    Conservative by design: a branch run stays on disk as long as its
    branch entries exist, even if unreachable from the branch head —
    the analog of Iceberg's rule that expire_snapshots only drops files
    unreferenced by every branch/tag.
    """
    return {
        e["run"]
        for e in log(output_dir)
        if e.get("branch") is not None and e.get("run")
        and e["kind"] in (*_DATA_KINDS, "delete")
    }


def rollback(output_dir: str, target: int) -> int:
    """Append a rollback entry: current state becomes the state at
    ``target`` (Iceberg rollback_to_snapshot). History stays append-only
    — time travel to the undone snapshots still works, and a later
    rollback can restore them (vacuum permitting).
    """
    entries = log(output_dir)
    if not entries:
        raise ValueError("nothing to roll back: no snapshot log")
    if not 0 <= target <= entries[-1]["seq"]:
        raise ValueError(
            f"rollback target {target} outside history "
            f"[0, {entries[-1]['seq']}]")
    return commit(output_dir, None, "rollback", target=target)
