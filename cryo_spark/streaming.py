"""Incremental encode via Structured Streaming.

The reference is a batch tool whose incremental idioms are re-resolved
open ranges + skip-existing resume (SURVEY.md §2.12). The Spark-native
expression of the same contract is a file-source stream feeding the
batch encode through ``foreachBatch``: each micro-batch of newly arrived
sequence files is chunk-planned, encoded and manifest-committed with the
exact same kernels and layout as ``freeze`` — so the streaming path
inherits determinism, the manifest, and the compression gates for free,
and checkpointing gives exactly-once per input file.

Chunk ids are namespaced per micro-batch (``batch_id * BATCH_STRIDE``)
so successive batches never collide in the manifest key space.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from . import engine, layout, readview, snapshots
from .tablespec import SEQUENCES, TableSpec

BATCH_STRIDE = 1 << 20  # max chunks per micro-batch before ids would collide


def stream_encode(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    target_tokens: int = layout.DEFAULT_TARGET_TOKENS,
    schema: str | None = None,
    spec: TableSpec = SEQUENCES,
    branch: str | None = None,
):
    """Start a file-source stream that encodes new files as they land.

    Returns the StreamingQuery; callers drive it with
    ``processAllAvailable()`` (tests) or leave it running (production).
    ``schema`` defaults to the spec's DDL (override only to widen the
    reader, e.g. extra ignored columns).

    Each micro-batch is one encode+write job whose tasks write their own
    files, then the driver's commit — the write path of ``freeze``
    (``engine._write_run``). A replayed batch (a restart before the
    checkpoint recorded it) re-writes its run ``stream<batch_id>``:
    the commit replaces that run's files, and the log keeps the run's
    first entry.

    ``branch`` commits every micro-batch to that snapshot branch — the
    streaming write-audit-publish flow: the stream lands on the branch
    invisibly to main readers, an auditor reads ``as_of='branch:name'``,
    and ``snapshots.publish`` fast-forwards main when satisfied.
    """
    if schema is None:
        schema = spec.spark_ddl()
    if "://" in output_dir:
        readview._Store(output_dir)  # fail before the stream starts
    if branch is not None:
        snapshots.resolve(output_dir, f"branch:{branch}")  # fail fast

    def encode_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        plan = layout.plan_chunks(batch_df, target_tokens, spec=spec)
        if plan.n_chunks >= BATCH_STRIDE:
            raise ValueError(
                f"micro-batch needs {plan.n_chunks} chunks >= stride {BATCH_STRIDE}; "
                "raise BATCH_STRIDE or target_tokens"
            )
        # one encode+write job, then the driver's commit (engine._write_run);
        # a replayed batch re-writes the same run id, replacing its files,
        # and re-commits idempotently (snapshots.commit keeps the run's
        # original entry and seq)
        engine._write_run(
            batch_df.sparkSession, output_dir, f"stream{batch_id:08d}",
            engine._packed(batch_df, plan,
                           chunk_id_offset=batch_id * BATCH_STRIDE, spec=spec),
            plan, spec, "append", replace=True, batch_id=batch_id,
            **({} if branch is None else {"branch": branch}))

    reader = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 32)
        .parquet(input_dir)
    )
    return (
        reader.writeStream.foreachBatch(encode_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


_SESSION_OUT_DDL = (
    "user_id long, session_start timestamp, session_end timestamp, "
    "n_events long, value_sum double"
)
# open-session state: event-time bounds in microseconds + running aggs
_SESSION_STATE_DDL = "start_us long, end_us long, n long, vsum double"


def sessionize_stream(
    events,
    gap_s: int = 1800,
    watermark: str = "0 seconds",
):
    """Custom stateful streaming operator: event-time sessionization.

    The streaming counterpart of the batch ``sessionization`` query
    (suite.py): events for a user belong to one session while gaps stay
    <= ``gap_s``. Open sessions live in per-user state
    (``applyInPandasWithState``); a session is emitted exactly once,
    when it CLOSES — either a later event opens the next session, or
    the event-time watermark passes ``session_end + gap`` and the
    timeout fires (the late-data guard: a session only flushes when no
    admissible event could still extend it).

    Scale shape: state is O(open sessions) — four scalars per user, no
    event retention; per-batch work is one vectorized numpy pass per
    user (sort + diff > gap + reduceat), no per-row Python. Null
    user_id/ts rows are dropped (no session identity / no event time).

    ``events`` is a STREAMING DataFrame with at least
    (user_id long, ts timestamp, value double). Returns the closed-
    session DataFrame (append semantics).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = int(gap_s) * 1_000_000
    gap_ms = int(gap_s) * 1_000

    def close_sessions(key, pdf_iter, state: GroupState):
        (user_id,) = key
        if state.hasTimedOut:
            start_us, end_us, n, vsum = state.get
            state.remove()
            yield pd.DataFrame(
                dict(
                    user_id=[user_id],
                    session_start=[pd.Timestamp(start_us, unit="us")],
                    session_end=[pd.Timestamp(end_us, unit="us")],
                    n_events=[n],
                    value_sum=[vsum],
                )
            )
            return
        ts_parts, val_parts = [], []
        for pdf in pdf_iter:
            ok = pdf["ts"].notna()
            ts_parts.append(pdf["ts"][ok].values.astype("datetime64[us]").astype(np.int64))
            val_parts.append(pdf["value"][ok].fillna(0.0).values.astype(np.float64))
        ts = np.concatenate(ts_parts) if ts_parts else np.empty(0, np.int64)
        if ts.size == 0:
            return
        vals = np.concatenate(val_parts)
        order = np.argsort(ts, kind="stable")
        ts, vals = ts[order], vals[order]
        # prepend the open session (if any) as a pseudo-run so the same
        # boundary arithmetic merges or closes it
        if state.exists:
            p_start, p_end, p_n, p_vsum = state.get
        else:
            p_start = p_end = p_n = None
            p_vsum = 0.0
        # session boundaries: index i starts a new session iff the gap
        # from the previous event exceeds gap_us
        new_sess = np.empty(ts.size, dtype=bool)
        new_sess[0] = p_end is None or ts[0] - p_end > gap_us
        new_sess[1:] = np.diff(ts) > gap_us
        starts = np.flatnonzero(new_sess)
        closed = []
        if p_end is not None and new_sess[0]:
            closed.append((p_start, p_end, p_n, p_vsum))
            p_start = p_end = p_n = None
            p_vsum = 0.0
        if starts.size == 0:
            # whole batch extends the open session
            sess_bounds = np.array([0], dtype=np.int64)
        else:
            sess_bounds = starts
            if not new_sess[0]:
                sess_bounds = np.concatenate(([0], sess_bounds))
        n_per = np.diff(np.concatenate((sess_bounds, [ts.size])))
        vsum_per = np.add.reduceat(vals, sess_bounds)
        start_per = ts[sess_bounds]
        end_per = ts[np.concatenate((sess_bounds[1:] - 1, [ts.size - 1]))]
        # first block continues the open session
        if p_end is not None:
            start_per[0] = p_start
            n_per[0] += p_n
            vsum_per[0] += p_vsum
        for i in range(len(sess_bounds) - 1):  # all but the last close now
            closed.append(
                (int(start_per[i]), int(end_per[i]), int(n_per[i]),
                 float(vsum_per[i]))
            )
        state.update(
            (int(start_per[-1]), int(end_per[-1]), int(n_per[-1]),
             float(vsum_per[-1]))
        )
        # flush when no admissible event could still extend the session;
        # the timeout must sit strictly past the current watermark
        timeout_ms = max(end_per[-1] // 1000 + gap_ms,
                         state.getCurrentWatermarkMs() + 1)
        state.setTimeoutTimestamp(int(timeout_ms))
        if closed:
            yield pd.DataFrame(
                dict(
                    user_id=np.full(len(closed), user_id, dtype=np.int64),
                    session_start=[pd.Timestamp(c[0], unit="us") for c in closed],
                    session_end=[pd.Timestamp(c[1], unit="us") for c in closed],
                    n_events=np.array([c[2] for c in closed], dtype=np.int64),
                    value_sum=np.array([c[3] for c in closed], dtype=np.float64),
                )
            )

    return (
        events.filter("user_id IS NOT NULL AND ts IS NOT NULL")
        .withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            close_sessions,
            _SESSION_OUT_DDL,
            _SESSION_STATE_DDL,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


def windowed_stream_agg(
    events: DataFrame,
    *,
    window: str = "10 seconds",
    watermark: str = "5 seconds",
    keys: tuple[str, ...] = (),
) -> DataFrame:
    """Tumbling-window streaming aggregation with an event-time watermark.

    The canonical late-data-tolerant rollup (SURVEY.md §2.6/§2.12): a
    monitoring stream grouped into fixed event-time windows, finalized
    only when the watermark proves no admissible late event can still
    land in them. In append mode a window row is emitted exactly once —
    when ``watermark >= window.end`` — and events later than the
    watermark are dropped, so downstream sinks see each (window, key)
    exactly once with its final count. At scale the state store holds
    only open windows per key (bounded by the watermark horizon), and
    the aggregation is a standard partial-agg shuffle on (window, key).

    ``events`` needs an event-time ``ts`` column and an integer
    ``value``-bearing column is optional: the output carries the event
    count and, when present, the sum of ``value``.
    """
    from pyspark.sql import functions as F

    aggs = [F.count(F.lit(1)).cast("long").alias("n_events")]
    if "value" in events.columns:
        aggs.append(F.sum("value").alias("sum_value"))
    out = (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), *keys)
        .agg(*aggs)
    )
    cols = [
        F.col("win.start").alias("win_start"),
        F.col("win.end").alias("win_end"),
        *keys,
        "n_events",
    ]
    if "value" in events.columns:
        cols.append("sum_value")
    return out.select(*cols)


def dedup_stream(
    events: DataFrame,
    *,
    keys: tuple[str, ...] = ("doc_id",),
    watermark: str = "10 seconds",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming exact dedup with watermark-bounded state.

    The streaming face of ``dedup_exact`` — the shape a continuous
    crawl ingest needs: the first event for a key passes through, any
    repeat arriving within the watermark horizon is dropped, and the
    key's state is evicted once the watermark passes its event time
    plus the delay. Plain ``dropDuplicates`` on a stream keeps every
    key forever (state grows with the corpus — a non-starter at
    10^12 keys); ``dropDuplicatesWithinWatermark`` caps the state at
    the keys seen within one watermark horizon, which is the
    contract an at-least-once upstream (redelivery window << horizon)
    actually requires. Re-emission of a key AFTER its state expired is
    by design — cross-horizon dedup belongs to the batch layer
    (``dedup_exact`` / the manifest's skip-existing), same division of
    labor as the reference's reorg buffer vs skip-existing resume
    (SURVEY.md §2.3/§2.11).
    """
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


def cms_stream(seqs: DataFrame) -> DataFrame:
    """Streaming Count-Min sketch over adjacent-token pairs.

    The streaming face of ``heavy_hitters_cms``: an exact streaming
    bigram count would hold one state row per DISTINCT pair — unbounded
    over a hashed-feature space; the sketch caps the streaming state at
    d*w = 32,768 cells no matter how long the stream runs or how many
    distinct pairs it carries. Each micro-batch folds its rows through
    the same mod-prime kernel as the batch query (per-task partial
    grids, <= d*w rows emitted per task), and the stateful sum merges
    them — counts are monotone, so run the query in update or complete
    mode and probe the sink with the batch query's row-min arithmetic.
    Exactness contract matches the batch path: the merged cell values
    equal the bincount of every bigram seen so far, bit for bit.
    """
    from pyspark.sql import functions as F

    from .arrowutil import amap
    from .suite import _cms_kernel

    cells = amap(seqs.select("tokens"), _cms_kernel(),
                 "j int, bucket int, cnt long")
    return cells.groupBy("j", "bucket").agg(F.sum("cnt").alias("cnt"))
