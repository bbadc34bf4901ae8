"""One read view per snapshot: which runs, files and chunks are live.

"Which chunks are live at snapshot S" is answered here and nowhere
else: :func:`read_view` reads the snapshot log once and returns a
:class:`ReadView`, which every reader of a frozen output consumes.

- With a snapshot log (every local output the engine writes), a run is
  live iff the log replayed to S names it (rollback-, branch- and
  delete-aware, snapshots._state_at). The log entry is the commit: a
  run whose manifest landed but whose log entry did not is invisible,
  and a re-run re-encodes its chunks.
- Without a log (non-local stores, hand-built dirs), a run is live iff
  its manifest dir is committed: it (or the manifest root) carries
  ``_SUCCESS``. Consolidation needs a log, so nothing is absorbed.

Inside live runs, a chunk is retired iff a tombstone written by a live
run targets it: :func:`tombstones` reads them as a DataFrame for the
relational readers, and ``ReadView.drops`` packs them into one chunk-id
bitmap per run, the form the per-file decode kernel tests against.

Every output, local or ``://``, is listed and read through
``pyarrow.fs`` (:class:`_Store`), the client the encode tasks write it
with and the per-file decode reads it with.
"""

from __future__ import annotations

import os
import urllib.parse
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.fs as pafs

from . import snapshots

# log entry kinds that commit a data run (with its manifest dir)
_RUN_KINDS = ("append", "rewrite", "purge")
# tombstone files' declared read schema (engine._write_tombstones)
_TOMBSTONE_DDL = "target_run string, partition_id int, chunk_id int"


@dataclass(frozen=True)
class ReadView:
    """Live state of one frozen output at one snapshot."""

    output_dir: str
    runs: frozenset[str]             # live data runs
    files: dict[str, tuple[str, ...]]  # live run -> its encoded parquet files
    drops: dict[str, tuple[int, bytes]]  # run in files -> retired chunk ids
    deletes: frozenset[str]          # live equality-delete runs
    vacuumed: frozenset[str]         # live runs whose bytes vacuum removed
    tombstone_runs: frozenset[str]   # runs with a tombstones/run= dir
    manifest_dirs: frozenset[str]    # runs with a manifest/run= dir
    manifest_gen: str | None         # consolidated manifest generation dir
    absorbed: frozenset[str]         # runs whose manifest rows live in it
    plan_ids: frozenset[str | None]  # plan_id of each live run's log entry
    done_chunks: dict[str, int]      # plan_id -> its chunks with rows
    ok_chunks: dict[str, int]        # live run -> its entry's n_ok_chunks

    @property
    def has_manifest(self) -> bool:
        """Whether the dir is a frozen output (anything committed)."""
        return bool(self.manifest_dirs) or self.manifest_gen is not None

    def all_files(self) -> list[str]:
        return [f for r in sorted(self.files) for f in self.files[r]]

    def file_groups(self) -> list[list[str]]:
        """The files in scan units: those one encode task wrote in one
        run, its ``part-<task>`` name in every ``k=v`` dir of a
        ``partition_by`` layout. A unit holds whole chunks; in a flat
        run it is one file."""
        groups: dict[tuple[str, str], list[str]] = {}
        for r in sorted(self.files):
            for f in self.files[r]:
                groups.setdefault((r, f.rpartition("/")[2]), []).append(f)
        return list(groups.values())


def _pack(cids: np.ndarray) -> tuple[int, bytes]:
    """(first id rounded down to a byte, bitmap from there): a stream
    run numbers chunks from batch_id * 2^20, so the bitmap spans only
    the run's own id range."""
    base = int(cids.min()) & ~7
    c = cids - base
    b = np.zeros((int(c.max()) >> 3) + 1, dtype=np.uint8)
    np.bitwise_or.at(b, c >> 3, (1 << (c & 7)).astype(np.uint8))
    return base, b.tobytes()


def bitmaps(t, key: str = "run") -> dict[str, tuple[int, bytes]]:
    """One packed chunk-id bitmap per ``key`` value of the arrow table
    ``t`` (columns ``key`` and ``chunk_id``): the form of
    ``ReadView.drops`` and of a decode's chunk selection."""
    return {r: _pack(c) for r, c in _ids_by(t, key).items()}


def in_bitmap(bitmap: tuple[int, bytes],
              chunk_ids: np.ndarray) -> np.ndarray:
    """Bool mask: which ``chunk_ids`` the packed ``(base, bitmap)`` holds."""
    base, bits = bitmap
    b = np.frombuffer(bits, dtype=np.uint8)
    i = np.asarray(chunk_ids, dtype=np.int64) - base
    inside = (i >= 0) & (i < 8 * len(b))
    out = np.zeros(len(i), dtype=bool)
    j = i[inside]
    out[inside] = (b[j >> 3] >> (j & 7)) & 1 == 1
    return out


def bitmap_ids(bitmap: tuple[int, bytes]) -> np.ndarray:
    """The chunk ids a packed ``(base, bitmap)`` holds, ascending."""
    base, bits = bitmap
    return base + np.flatnonzero(np.unpackbits(
        np.frombuffer(bits, dtype=np.uint8), bitorder="little"))


def minus(keep: dict[str, tuple[int, bytes]],
          drops: dict[str, tuple[int, bytes]]
          ) -> dict[str, tuple[int, bytes]]:
    """Per run, the ids of ``keep`` that ``drops`` does not hold; a run
    left with none is dropped."""
    ids = {r: bitmap_ids(b) for r, b in keep.items()}
    ids = {r: c[~in_bitmap(drops[r], c)] if r in drops else c
           for r, c in ids.items()}
    return {r: _pack(c) for r, c in ids.items() if len(c)}


def path_values(path: str) -> dict[str, str]:
    """``k=v`` directory segments of an encoded file path from its
    ``run=`` dir down: the run plus any ``partition_by`` values."""
    segs = path.split("/")[:-1]
    i = max(j for j, s in enumerate(segs) if s.startswith("run="))
    return {k: urllib.parse.unquote(v)
            for k, _, v in (s.partition("=") for s in segs[i:])}


def read_view(output_dir: str, as_of: int | str | None = None,
              strict: bool = True) -> ReadView:
    """Resolve the live state of ``output_dir`` at ``as_of`` (default head).

    ``as_of`` takes a seq, tag, ``'ts:<time>'`` or ``'branch:<name>'``
    and needs a snapshot log. ``strict`` (the data readers' mode) raises
    when a live run's encoded dir is gone while it still holds live
    chunks — a snapshot from before a compaction whose vacuum removed
    the bytes (expire_snapshots forfeits time travel past it); metadata
    readers pass ``strict=False`` and see the gap in ``vacuumed`` /
    ``files`` instead.

    ``plan_ids`` holds the ``plan_id`` of each live run's log entry:
    every writer stamps the plan its manifest rows carry ('' for a
    rewrite that wrote no rows). A run whose entry carries none (a run
    the log's first entry adopted from marker commits, an entry older
    than the stamp) counts as None, and so does every run of a log-less
    output. freeze reads it to skip its resume bitmap when no live run
    can hold rows of its plan. ``done_chunks`` maps a plan_id to the
    ``plan_done_chunks`` of its live freeze entries: how many of the
    plan's chunks held manifest rows once a run that left none of them
    missing (none failed) committed. ``ok_chunks`` maps a live run to
    the ``n_ok_chunks`` its writer stamped (engine._write_run): how many
    ok chunks it committed, so vacuum tests a run only once its drop
    bitmap holds that many ids.
    """
    store = _Store(output_dir)
    entries = snapshots.log(output_dir)
    if entries:
        st = snapshots.resolve(output_dir,
                               entries[-1]["seq"] if as_of is None else as_of,
                               entries=entries)
        runs, deletes, removed = st["runs"], st["deletes"], st["removed"]
    elif as_of is not None:
        raise ValueError(
            f"as_of={as_of!r} needs a snapshot log, and there is no "
            f"snapshot log under {output_dir!r} (not a frozen output dir)")
    else:
        runs = _committed_runs(store)
        deletes, removed = set(), set()
    # each consolidate entry's absorbed_runs is cumulative, so the newest
    # one alone names the live generation and every run folded into it
    cons = next((e for e in reversed(entries) if e["kind"] == "consolidate"),
                None)
    by_run = {e["run"]: e for e in entries
              if e["kind"] in _RUN_KINDS and e["run"]}
    live = [by_run.get(r, {}) for r in runs]
    enc_runs = store.run_dirs("encoded")
    tomb_runs = store.run_dirs("tombstones")
    drops = _drop_bitmaps(store, tomb_runs & runs)
    files = {r: store.encoded_files(r) for r in sorted(runs & enc_runs)}
    view = ReadView(
        output_dir=output_dir,
        runs=frozenset(runs),
        files=files,
        drops={r: d for r, d in drops.items() if r in files},
        deletes=frozenset(deletes),
        vacuumed=frozenset((runs - enc_runs) & removed),
        tombstone_runs=frozenset(tomb_runs),
        manifest_dirs=frozenset(store.run_dirs("manifest")),
        manifest_gen=(None if cons is None else
                      f"{store.root}/manifest_gens/gen={cons['gen']}"),
        absorbed=frozenset(() if cons is None else cons["absorbed_runs"]),
        plan_ids=frozenset(e.get("plan_id") for e in live),
        done_chunks=_max_by_plan(live, "plan_done_chunks"),
        ok_chunks={r: by_run[r]["n_ok_chunks"] for r in runs
                   if "n_ok_chunks" in by_run.get(r, {})},
    )
    if strict:
        lost = _runs_with_live_chunks(store, view, runs - enc_runs, drops)
        if lost:
            raise ValueError(
                f"snapshot not reconstructable: run(s) {sorted(lost)} have "
                "no encoded files (removed by vacuum, or lost) but still "
                "hold live chunks at this snapshot (expire_snapshots "
                "forfeits time travel past it)")
    return view


def runs_view(output_dir: str, runs: list[str],
              entries: list[dict]) -> ReadView:
    """A view of exactly ``runs``, the append runs an incremental read
    names (live at head or not): every encoded file of each, no drops,
    no deletes. Raises when a vacuum in ``entries`` (the snapshot log)
    removed one of them: its rows are no longer readable."""
    removed = {r for e in entries if e["kind"] == "vacuum"
               for r in e.get("removed_runs", [])}
    gone = sorted(set(runs) & removed)
    if gone:
        raise ValueError(
            f"incremental read needs append run(s) {gone} whose payload "
            "was vacuumed; history before the vacuum is no longer "
            "row-readable")
    store = _Store(output_dir)
    files = {r: store.encoded_files(r) for r in sorted(set(runs))}
    none = frozenset()
    return ReadView(output_dir=output_dir, runs=frozenset(runs), files=files,
                    drops={}, deletes=none, vacuumed=none,
                    tombstone_runs=none, manifest_dirs=none,
                    manifest_gen=None, absorbed=none, plan_ids=none,
                    done_chunks={}, ok_chunks={})


def _max_by_plan(entries: list[dict], field: str) -> dict[str, int]:
    """plan_id -> the largest ``field`` among the entries stamping it."""
    out: dict[str, int] = {}
    for e in entries:
        if field in e:
            out[e["plan_id"]] = max(e[field], out.get(e["plan_id"], 0))
    return out


def tombstones(spark, view: ReadView, every: bool = False):
    """(run, partition_id, chunk_id) each tombstone retires, as a Spark
    DataFrame: those written by the view's live runs, or with ``every``
    those of every writer on disk (the audit's view). None when there
    are none. Read under a declared schema: no schema-inference job."""
    from pyspark.sql import functions as F

    writers = view.tombstone_runs if every else view.tombstone_runs & view.runs
    if not writers:
        return None
    base = f"{view.output_dir}/tombstones"
    return spark.read.schema(_TOMBSTONE_DDL).parquet(
        *[f"{base}/run={w}" for w in sorted(writers)]
    ).select(F.col("target_run").alias("run"), "partition_id", "chunk_id")


def _committed_runs(store: _Store) -> set[str]:
    """Log-less liveness: manifest run dirs carrying a commit marker."""
    dirs = store.run_dirs("manifest")
    if store.exists("manifest/_SUCCESS"):
        return dirs
    return {r for r in dirs if store.exists(f"manifest/run={r}/_SUCCESS")}


def _drop_bitmaps(store: _Store,
                  writers: set[str]) -> dict[str, tuple[int, bytes]]:
    """Per-target-run retired chunk bitmaps from the writers' tombstones."""
    t = store.read("tombstones", writers, ["target_run", "chunk_id"])
    return {} if t is None else bitmaps(t, "target_run")


def _ids_by(t, key: str) -> dict[str, np.ndarray]:
    """chunk_id arrays of ``t`` grouped by its ``key`` column."""
    g = t.group_by(key).aggregate([("chunk_id", "list")])
    lists = g.column("chunk_id_list").combine_chunks()
    return {r: lists[i].values.to_numpy().astype(np.int64)
            for i, r in enumerate(g.column(key).to_pylist())}


def _runs_with_live_chunks(store: _Store, view: ReadView, runs: set[str],
                           drops: dict[str, tuple[int, bytes]]) -> set[str]:
    """Which of ``runs`` hold an ok manifest chunk no live tombstone
    retires: one read of the run dirs and one of the generation."""
    cols = ["run", "chunk_id", "status"]
    parts = [store.read("manifest", (runs & view.manifest_dirs)
                        - view.absorbed, cols)]
    if runs & view.absorbed:
        parts.append(store.read_gen(view.manifest_gen,
                                    runs & view.absorbed, cols))
    return {r for t in parts if t is not None
            for r in holding_live(
                t.filter(pc.equal(t.column("status"), "ok")), drops)}


def holding_live(t, drops: dict[str, tuple[int, bytes]]) -> set[str]:
    """Runs of the arrow table ``t`` (ok manifest rows: ``run``,
    ``chunk_id``) holding a chunk id their ``drops`` bitmap does not
    retire."""
    return {r for r, c in _ids_by(t, "run").items()
            if r not in drops or not in_bitmap(drops[r], c).all()}


class _Store:
    """Listing, small-file IO and renames under an output dir, through
    ``pyarrow.fs`` for local and ``://`` outputs alike: the one client of
    the driver and of the encode tasks (a store rides in the write
    kernel's closure).

    ``root`` is the dir as the caller spelled it, the prefix of every
    path a read view lists (a ``file://`` root stays ``file://``);
    ``base`` is its path inside ``fs``, absolute for a local dir (an
    executor's cwd is not the driver's). A scheme pyarrow cannot open
    raises ValueError naming it, before any job runs."""

    def __init__(self, root: str):
        self.root = root.rstrip("/")
        if "://" not in root:
            self.fs, self.base = pafs.LocalFileSystem(), os.path.abspath(root)
            return
        try:
            self.fs, self.base = pafs.FileSystem.from_uri(self.root)
        except (pa.ArrowException, OSError, ValueError) as e:
            scheme = root.split("://", 1)[0]
            raise ValueError(
                f"outputs are read and written through pyarrow.fs, which "
                f"cannot open {scheme}:// outputs ({root!r}): {e}") from e

    def _path(self, rel: str) -> str:
        return f"{self.base}/{rel}"

    def _ls(self, rel: str) -> list[tuple[str, bool]]:
        """(name, is_dir) of the entries of ``rel``; [] if missing."""
        sel = pafs.FileSelector(self._path(rel), allow_not_found=True)
        return [(i.base_name, i.type == pafs.FileType.Directory)
                for i in self.fs.get_file_info(sel)]

    def run_dirs(self, rel: str) -> set[str]:
        return {n[len("run="):] for n, is_dir in self._ls(rel)
                if is_dir and n.startswith("run=")}

    def exists(self, rel: str) -> bool:
        return (self.fs.get_file_info(self._path(rel)).type
                != pafs.FileType.NotFound)

    def names(self, rel: str) -> list[str]:
        """File names in ``rel`` (none when it is missing)."""
        return [n for n, is_dir in self._ls(rel) if not is_dir]

    def read_bytes(self, rel: str) -> bytes | None:
        """Contents of the file ``rel``; None when it is missing."""
        try:
            with self.fs.open_input_stream(self._path(rel),
                                           compression=None) as f:
                return f.read()
        except FileNotFoundError:
            return None

    def write_bytes(self, rel: str, data: bytes) -> None:
        """Replace the file ``rel`` with ``data`` whole: written under a
        hidden tmp name (which no listing or Spark read picks up) and
        moved into place."""
        d, _, name = self._path(rel).rpartition("/")
        self.fs.create_dir(d, recursive=True)
        with self.fs.open_output_stream(f"{d}/.{name}.tmp",
                                        compression=None) as f:
            f.write(data)
        self.fs.move(f"{d}/.{name}.tmp", f"{d}/{name}")

    def rename(self, src: str, dst: str) -> None:
        """Move the file ``src`` to ``dst``, replacing it, creating its
        dir."""
        d = self._path(dst)
        self.fs.create_dir(d.rpartition("/")[0], recursive=True)
        self.fs.move(self._path(src), d)

    def clear(self, rel: str) -> None:
        """Delete the visible files under ``rel``, recursively; hidden
        (``.``/``_``-prefixed) names stay."""
        for name, is_dir in self._ls(rel):
            if name[:1] in ("_", "."):
                continue
            if is_dir:
                self.clear(f"{rel}/{name}")
            else:
                self.fs.delete_file(self._path(f"{rel}/{name}"))

    def parquet_files(self, rel: str) -> list[str]:
        """Data files under ``rel``, recursively (partition_by dirs), as
        paths relative to the root."""
        out = []
        for name, is_dir in sorted(self._ls(rel)):
            if name[:1] in ("_", "."):
                continue
            if is_dir:
                out.extend(self.parquet_files(f"{rel}/{name}"))
            elif name.endswith(".parquet"):
                out.append(f"{rel}/{name}")
        return out

    def encoded_files(self, run: str) -> tuple[str, ...]:
        """Encoded files of ``run``, as paths under the root."""
        return tuple(f"{self.root}/{f}"
                     for f in self.parquet_files(f"encoded/run={run}"))

    def read(self, area: str, runs: set[str], columns: list[str]):
        """``columns`` of the ``area/run=<r>`` dirs of ``runs`` in one
        read (``run`` comes from the path); None when there are no rows."""
        import pyarrow.dataset as ds

        files = [self._path(f) for r in sorted(runs)
                 for f in self.parquet_files(f"{area}/run={r}")]
        if not files:
            return None  # e.g. a zero-row rewrite's empty manifest
        t = ds.dataset(
            files, filesystem=self.fs, format="parquet",
            partition_base_dir=self._path(area),
            partitioning=ds.partitioning(pa.schema([("run", pa.string())]),
                                         flavor="hive"),
        ).to_table(columns=columns)
        return t if t.num_rows else None

    def read_gen(self, gen: str, runs: set[str], columns: list[str]):
        """``columns`` of a consolidated generation's rows of ``runs``
        (``gen`` under the root, as ``ReadView.manifest_gen`` names it)."""
        import pyarrow.dataset as ds

        t = ds.dataset(self._path(gen[len(self.root) + 1:]),
                       filesystem=self.fs, format="parquet").to_table(
            columns=columns, filter=ds.field("run").isin(sorted(runs)))
        return t if t.num_rows else None
