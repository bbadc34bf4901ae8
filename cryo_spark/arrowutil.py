"""Arrow-kernel output conformance for every mapInArrow site.

Spark maps a mapInArrow kernel's yielded batches onto the declared
output schema BY POSITION, wrapping each vector in an accessor with no
type check (``ArrowColumnVector``); an off-type or off-order column
fails only when a downstream operator first touches it, as an
executor-side ``UNSUPPORTED_CALL`` ("Cannot call getUTF8String of
ArrowVectorAccessor") — the rare full-suite flake chased across
sessions (first patched for one producer in the decode path; the
session-5 recurrence in delete_where showed other producers can leak
too).

``amap`` makes every kernel correct-by-construction: each yielded
batch is cast to the exact declared arrow schema — zero-copy when
already exact — and an impossible cast raises python-side with both
schemas in the message instead of a cryptic JVM accessor error. The
target schema is resolved driver-side (DDL parsing needs the JVM) and
shipped to executors inside the closure (pa.Schema pickles).

Every engine kernel runs inside this wrapper, so it is where each
Python worker installs :func:`zip_caches_by_stat`.
"""

from __future__ import annotations

import os
import sys
import zipimport

import pyarrow as pa


def declared_arrow_schema(ddl: str) -> pa.Schema:
    """Arrow schema for a Spark DDL string (driver-side: needs the JVM)."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    return to_arrow_schema(StructType.fromDDL(ddl))


def zip_caches_by_stat() -> None:
    """Re-read a zip archive on the import path only when it changed.

    Spark's Python worker calls ``importlib.invalidate_caches()`` before
    every task (``pyspark.worker_util.setup_spark_files``). Python 3.11's
    ``zipimporter.invalidate_caches`` then re-reads its archive's whole
    central directory, and the worker's path holds Spark's
    ``pyspark.zip`` (1,328 entries, one importer per package imported
    from it) and the spark-core jar (5,359 entries). On a 4-vCPU host
    that was 0.16-0.22 s of every Python task before its kernel ran —
    more than most metadata kernels take. Here an importer re-reads
    only when its archive's mtime or size differs from its last read.
    The task that installs this has just re-read every importer, so
    their current signatures are recorded as read. Idempotent; a no-op
    where ``zipimporter.invalidate_caches`` does not re-read the archive.
    """
    cls = zipimport.zipimporter
    reread = cls.invalidate_caches
    if getattr(reread, "_by_stat", False) or \
            "_read_directory" not in reread.__code__.co_names:
        return

    def sig(archive: str):
        try:
            st = os.stat(archive)
        except OSError:
            return None
        return st.st_mtime_ns, st.st_size

    def invalidate_caches(self):
        now = sig(self.archive)
        if now is None or getattr(self, "_read_sig", None) != now:
            reread(self)
            self._read_sig = now

    invalidate_caches._by_stat = True
    cls.invalidate_caches = invalidate_caches
    for imp in list(sys.path_importer_cache.values()):
        if isinstance(imp, cls):
            imp._read_sig = sig(imp.archive)


def conforming(kernel, target: pa.Schema):
    """Wrap an arrow kernel so every yielded batch matches ``target``."""

    def run(batches):
        zip_caches_by_stat()
        for b in kernel(batches):
            if not b.schema.equals(target, check_metadata=False):
                got = b.schema
                try:
                    b = b.cast(target)
                except (pa.ArrowInvalid, pa.ArrowNotImplementedError,
                        ValueError, TypeError) as e:
                    name = getattr(kernel, "__qualname__",
                                   getattr(kernel, "__name__", repr(kernel)))
                    raise ValueError(
                        f"arrow kernel {name} yielded a batch that cannot "
                        f"conform to its declared output schema.\n"
                        f"  yielded:  {got}\n  declared: {target}"
                    ) from e
            yield b

    return run


def amap(df, kernel, ddl: str):
    """``df.mapInArrow`` with output batches conformed to ``ddl``."""
    return df.mapInArrow(conforming(kernel, declared_arrow_schema(ddl)), ddl)


def fixed_list_matrix(table: pa.Table, column: str, dtype="float64"):
    """(n, d) ndarray view of a fixed-width list column of ``table``.

    The shared extraction for every embedding kernel (IVF/semantic
    assign, kmeans partials, codebook fold): combine chunks, honor the
    ListArray offsets (a sliced array's buffer does not start at 0 —
    the known pyarrow sharp edge), assert the rows are non-ragged, and
    reshape the flat values. Keeping ONE copy means an offsets fix
    lands everywhere at once."""
    import numpy as np

    col = table.column(column)
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    n = len(col)
    lens = np.diff(np.asarray(col.offsets))
    d = int(lens[0]) if n else 0
    assert (lens == d).all(), f"ragged {column} dims"
    flat = np.asarray(col.flatten().to_numpy(zero_copy_only=False),
                      dtype=dtype)
    return flat.reshape(n, d)
