"""Query suite: driver-contract queries with DuckDB oracles.

Each entry pairs a Spark callable ``(spark, sf_dir) -> DataFrame`` with
an equivalent ANSI-SQL oracle DuckDB runs on the same parquet tables
(or None for genuinely non-SQL-expressible engine internals, which the
driver checks rows-only).

Families:
- ``enc_*``      — the compression engine itself: sequences are derived
  from ``documents`` by *pure integer arithmetic* (expressible in both
  engines), pushed through encode→decode, and compared per row/group —
  if decode is not bit-identical the oracle comparison fails.
- reference operator inventory (SURVEY.md §2): scans, projection,
  filters, joins, aggregations, sorts, scalar functions, chunking.
- training-data ops: dedup (exact/minhash/simhash), text analysis,
  ANN similarity, multimodal binary plumbing.

All computed columns are aliased identically in Spark and SQL; floats
are rounded; counts/sums cast to BIGINT on both sides.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from cryo_spark.arrowutil import amap

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def q(name: str, oracle: str | None = None):
    def reg(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn
    return reg


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _scratch(tag: str, sf_dir: str) -> str:
    """Fresh private scratch dir for a freeze-producing suite query.

    Stable per-(tag, sf_dir) ROOT (discoverable, and stale runs are
    GC'd: siblings older than 24 h are removed — the r2-ADVICE /tmp
    leak; the window is WIDE because a sibling run's lazily-evaluated
    Spark job may still be executing and dir mtime is not refreshed by
    writes in nested subdirs, and the host intermittently runs 4-8x
    slow — r3 ADVICE), with a per-run ``mkdtemp`` INSIDE it so two concurrent
    processes running the same query never rmtree each other's
    in-flight output. A query cannot clean up after itself — its
    DataFrame is evaluated lazily AFTER the function returns — so
    next-run GC is the only safe reclamation point."""
    import hashlib
    import os
    import shutil
    import tempfile
    import time

    root = (f"{tempfile.gettempdir()}/cryo_spark_suite_{tag}_"
            f"{hashlib.sha1(sf_dir.encode()).hexdigest()[:8]}")
    os.makedirs(root, exist_ok=True)
    now = time.time()
    for d in os.listdir(root):
        p = os.path.join(root, d)
        try:
            if now - os.path.getmtime(p) > 86400:
                shutil.rmtree(p, ignore_errors=True)
        except OSError:
            pass
    return tempfile.mkdtemp(dir=root)


def _ne(a: str, b: str):
    """Null-safe 'differs' for roundtrip-audit columns: plain ``!=``
    yields NULL when exactly one side is null, which
    WHEN(...).OTHERWISE(0) silently counts as a match — a decode bug
    that nulls one column of a row whose join key survives would go
    undetected. ``~eqNullSafe`` makes null-vs-value count as a
    mismatch and null-vs-null as a match."""
    return ~F.col(a).eqNullSafe(F.col(b))


# ===========================================================================
# engine queries: derived sequences -> encode -> decode -> verify
# ===========================================================================

_TOK_EXPR = (
    "transform(sequence(0, CAST(n_chars % 64 AS INT)), "
    "i -> CAST((doc_id * 2654435761 + i * 48271) % 50257 AS INT))"
)
_TOK_SQL = (
    "list_transform(range(0, (n_chars % 64)::INT + 1), "
    "i -> ((doc_id * 2654435761 + i * 48271) % 50257)::INTEGER)"
)


def sequences_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic tokenized-sequence table derived from ``documents``.

    The token values are pure integer arithmetic on (doc_id, position),
    so a SQL oracle can recompute them exactly — which turns the
    encode→decode round-trip into an oracle-checkable identity.
    """
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        F.format_string("doc-%012d", "doc_id").alias("doc_id"),
        F.expr(_TOK_EXPR).alias("tokens"),
        (F.col("n_chars") % 64 + 1).cast("int").alias("n_tok"),
        "source",
    )


def _roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from . import engine

    seqs = sequences_from_documents(spark, sf_dir)
    enc = engine.encode(seqs, target_tokens=16_384)
    return engine.decode(enc)


@q(
    "enc_roundtrip_per_doc",
    f"""
    SELECT printf('doc-%012d', doc_id) AS doc_id,
           (n_chars % 64 + 1)::INT AS n_tok,
           CAST(list_aggregate(l, 'sum') AS BIGINT) AS tok_sum,
           CAST(list_aggregate(l, 'min') AS INT) AS tok_min,
           CAST(list_aggregate(l, 'max') AS INT) AS tok_max,
           source
    FROM (SELECT doc_id, n_chars, source, {_TOK_SQL} AS l FROM documents)
    """,
)
def enc_roundtrip_per_doc(spark, sf_dir):
    """Per-row fidelity: decoded token arrays must reproduce the arithmetic."""
    dec = _roundtrip(spark, sf_dir)
    return dec.select(
        "doc_id",
        "n_tok",
        F.expr("CAST(aggregate(tokens, 0L, (a, x) -> a + x) AS BIGINT)").alias("tok_sum"),
        F.expr("CAST(array_min(tokens) AS INT)").alias("tok_min"),
        F.expr("CAST(array_max(tokens) AS INT)").alias("tok_max"),
        "source",
    )


@q(
    "enc_roundtrip_agg",
    f"""
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars % 64 + 1) AS BIGINT) AS total_tokens,
           CAST(sum(list_aggregate({_TOK_SQL}, 'sum')) AS BIGINT) AS token_value_sum
    FROM documents GROUP BY source
    """,
)
def enc_roundtrip_agg(spark, sf_dir):
    """Grouped fidelity: decode feeds a normal Spark aggregation."""
    dec = _roundtrip(spark, sf_dir)
    return dec.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("total_tokens"),
        F.sum(F.expr("aggregate(tokens, 0L, (a, x) -> a + x)"))
        .cast("long")
        .alias("token_value_sum"),
    )


@q(
    "enc_chunk_manifest",
    """
    WITH d AS (SELECT doc_id, n_chars % 64 + 1 AS n_tok FROM documents)
    SELECT * FROM (
      SELECT 'doc_id' AS "column", CAST(count(*) AS BIGINT) AS n_rows,
             CAST(count(*) AS BIGINT) AS n_values,
             printf('doc-%012d', min(doc_id)) AS min_doc_id,
             printf('doc-%012d', max(doc_id)) AS max_doc_id,
             true AS all_ok, true AS compresses, true AS bounded,
             true AS columns_aligned
      FROM d
      UNION ALL
      SELECT 'n_tok', CAST(count(*) AS BIGINT), CAST(count(*) AS BIGINT),
             printf('doc-%012d', min(doc_id)), printf('doc-%012d', max(doc_id)),
             true, true, true, true FROM d
      UNION ALL
      SELECT 'source', CAST(count(*) AS BIGINT), CAST(count(*) AS BIGINT),
             printf('doc-%012d', min(doc_id)), printf('doc-%012d', max(doc_id)),
             true, true, true, true FROM d
      UNION ALL
      SELECT 'tokens', CAST(count(*) AS BIGINT), CAST(sum(n_tok) AS BIGINT),
             printf('doc-%012d', min(doc_id)), printf('doc-%012d', max(doc_id)),
             true, true, true, true FROM d
    ) ORDER BY "column"
    """,
)
def enc_chunk_manifest(spark, sf_dir):
    """Manifest invariants, oracle-pinned — the last formerly rows-only
    query (r2 verdict item 2).

    The chunk BOUNDARIES are engine-internal (hash-bucket planning,
    layout.py; browse them via engine.read_manifest / describe), but
    the lineage must satisfy SQL-replayable conservation laws, checked
    per column over the whole chunk set:

    - row/value conservation: sum(n_rows) == corpus docs for every
      column; sum(n_values) == corpus token mass for the list column
      (each doc lands in exactly one chunk — a lost or duplicated
      chunk breaks the count);
    - doc-id coverage: chunk min/max doc_id envelope equals the corpus
      envelope;
    - status domain: every chunk row 'ok' (all_ok);
    - compression floor: sum(enc_bytes) <= sum(raw_bytes) (compresses);
    - chunk bound: max per-chunk n_values <= target_tokens (bounded —
      the layout.py sweep closes a chunk before exceeding the target);
    - cross-column alignment: every (partition, chunk) carries all 4
      columns with one common n_rows (columns_aligned).
    """
    from . import engine

    seqs = sequences_from_documents(spark, sf_dir)
    enc = engine.encode(seqs, target_tokens=16_384).select(
        "partition_id", "chunk_id", "column", "n_rows", "n_values",
        "raw_bytes", "enc_bytes", "min_doc_id", "max_doc_id", "status",
    )
    chunk_align = (
        enc.groupBy("partition_id", "chunk_id")
        .agg(F.countDistinct("column").alias("nc"),
             F.countDistinct("n_rows").alias("nr"))
        .agg(F.bool_and((F.col("nc") == 4) & (F.col("nr") == 1))
             .alias("columns_aligned"))
    )
    return (
        enc.groupBy("column")
        .agg(
            F.sum("n_rows").cast("long").alias("n_rows"),
            F.sum("n_values").cast("long").alias("n_values"),
            F.min("min_doc_id").alias("min_doc_id"),
            F.max("max_doc_id").alias("max_doc_id"),
            F.bool_and(F.col("status") == "ok").alias("all_ok"),
            (F.sum("enc_bytes") <= F.sum("raw_bytes")).alias("compresses"),
            (F.max("n_values") <= F.lit(16_384)).alias("bounded"),
        )
        .crossJoin(chunk_align)
        .orderBy("column")
    )


@q(
    "enc_compression_summary",
    """
    WITH d AS (SELECT n_chars % 64 + 1 AS n_tok, source FROM documents)
    SELECT * FROM (
      SELECT 'tokens' AS "column", CAST(sum(n_tok) AS BIGINT) AS n_values,
             CAST(4 * sum(n_tok) + 4 * count(*) AS BIGINT) AS raw_bytes,
             true AS compresses FROM d
      UNION ALL
      SELECT 'n_tok', CAST(count(*) AS BIGINT),
             CAST(4 * count(*) AS BIGINT), true FROM d
      UNION ALL
      SELECT 'doc_id', CAST(count(*) AS BIGINT),
             CAST(20 * count(*) AS BIGINT), true FROM d
      UNION ALL
      SELECT 'source', CAST(count(*) AS BIGINT),
             CAST(sum(length(source)) + 4 * count(*) AS BIGINT), true FROM d
    )
    """,
)
def enc_compression_summary(spark, sf_dir):
    """Per-column encode accounting, oracle-checked.

    ``n_values``/``raw_bytes`` are recomputable arithmetic (int32 values
    = 4 bytes each; strings = utf8 bytes + int32 offsets; doc_id is the
    fixed 16-char 'doc-%012d'); ``compresses`` asserts the plain-floor
    guarantee enc_bytes <= raw_bytes per column — if any codec choice
    ever loses to raw, the oracle comparison fails. (The enc_bytes
    magnitudes themselves are engine lineage: enc_chunk_manifest,
    rows-only.)"""
    from . import engine

    seqs = sequences_from_documents(spark, sf_dir)
    enc = engine.encode(seqs, target_tokens=16_384)
    return (
        enc.groupBy("column")
        .agg(
            F.sum("n_values").cast("long").alias("n_values"),
            F.sum("raw_bytes").cast("long").alias("raw_bytes"),
            (F.sum("enc_bytes") <= F.sum("raw_bytes")).alias("compresses"),
        )
    )


_EMB_RT_DDL = "n_rows long, n_values long, n_mismatch long, n_oversize long"


def _emb_roundtrip_kernel(batches):
    """mapInArrow: per-batch float-codec encode→decode fidelity audit.

    Flattens each batch's embedding vectors zero-copy (ListArray child,
    honoring offsets), runs the float codec auto-selector (falp / fbss /
    fplain — codecs/floats.py), decodes, and compares RAW BIT PATTERNS
    (never float ==, so NaN payloads and -0.0 count). Emits one audit
    row per batch; n_mismatch/n_oversize must aggregate to 0.
    """
    import numpy as np
    import pyarrow as pa

    from cryo_spark.codecs import choose_float, decode_any

    for batch in batches:
        if batch.num_rows == 0:
            continue
        col = batch.column(0)
        if isinstance(col, pa.ChunkedArray):
            col = col.combine_chunks()
        vals = np.asarray(col.flatten().to_numpy(zero_copy_only=False),
                          dtype=np.float32)
        choice = choose_float(vals)
        out = decode_any(choice.payload)
        mism = int((out.view(np.uint32) != vals.view(np.uint32)).sum())
        oversize = int(choice.enc_bytes > vals.nbytes + 64)  # fplain floor + frame
        yield pa.RecordBatch.from_pydict(
            {
                "n_rows": [batch.num_rows],
                "n_values": [len(vals)],
                "n_mismatch": [mism],
                "n_oversize": [oversize],
            }
        )


@q(
    "enc_roundtrip_embeddings",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(len(embedding)) AS BIGINT) AS n_values,
           CAST(0 AS BIGINT) AS n_mismatch,
           CAST(0 AS BIGINT) AS n_oversize
    FROM embeddings
    """,
)
def enc_roundtrip_embeddings(spark, sf_dir):
    """Float-column encode→decode round-trip over the embeddings table.

    The engine's codec menu extended to float32 vectors (dict/RLE/FoR
    have float analogs in byte-stream-split and ALP decimal scaling —
    floats.py). The oracle pins row/value counts and asserts zero bit
    mismatches and zero chunks over the raw-size floor: a lossy or
    expanding float codec fails the hash comparison.
    """
    e = _t(spark, sf_dir, "embeddings").select("embedding")
    per = amap(e, _emb_roundtrip_kernel, _EMB_RT_DDL)
    return per.agg(
        F.sum("n_rows").cast("long").alias("n_rows"),
        F.sum("n_values").cast("long").alias("n_values"),
        F.sum("n_mismatch").cast("long").alias("n_mismatch"),
        F.sum("n_oversize").cast("long").alias("n_oversize"),
    )


@q(
    "enc_freeze_documents",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(n_chars) AS BIGINT) AS chars_sum,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(0 AS BIGINT) AS n_mismatch
    FROM documents
    """,
)
def enc_freeze_documents(spark, sf_dir):
    """The documents table through the REAL engine path (tablespec.py).

    Third table family: int64 key, two free-text string columns (the
    FSST/strdict codec path under real prose), scalar-int weight with
    no footer statistic (exercises the scan-based planner). Every
    decoded row joins back against the source; the oracle pins
    n_mismatch = 0.
    """
    from . import engine
    from .tablespec import DOCUMENTS

    src = _t(spark, sf_dir, "documents")
    enc = engine.encode(src, target_tokens=30_000, spec=DOCUMENTS)
    dec = engine.decode(enc, spec=DOCUMENTS)
    j = dec.alias("d").join(src.alias("s"), "doc_id", "full_outer")
    return j.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("d.n_chars").cast("long").alias("chars_sum"),
        F.countDistinct("d.source").cast("long").alias("n_sources"),
        F.sum(
            F.when(
                F.col("d.text").isNull() | F.col("s.text").isNull()
                | _ne("d.text", "s.text")
                | _ne("d.lang", "s.lang")
                | _ne("d.source", "s.source")
                | _ne("d.n_chars", "s.n_chars"),
                1,
            ).otherwise(0)
        ).cast("long").alias("n_mismatch"),
    )


@q(
    "enc_freeze_media",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(octet_length(encode(text))) AS BIGINT) AS payload_bytes,
           CAST(0 AS BIGINT) AS n_mismatch
    FROM documents
    """,
)
def enc_freeze_media(spark, sf_dir):
    """Opaque binary payloads through the engine (tablespec binary kind).

    A deterministic media table is derived from documents (payload =
    the text's UTF-8 bytes — arbitrary byte strings as far as the
    engine is concerned), encoded with spec=MEDIA, decoded, and every
    payload compared byte-for-byte against the source; the oracle pins
    n_mismatch = 0 and total payload bytes.
    """
    from . import engine
    from .tablespec import MEDIA

    docs = _t(spark, sf_dir, "documents")
    src = docs.select(
        F.format_string("m-%012d", "doc_id").alias("media_id"),
        F.encode("text", "UTF-8").alias("payload"),
        F.lit("text/plain").alias("mime"),
        F.length(F.encode("text", "UTF-8")).cast("long").alias("n_bytes"),
    )
    enc = engine.encode(src, target_tokens=40_000, spec=MEDIA)
    dec = engine.decode(enc, spec=MEDIA)
    j = dec.alias("d").join(src.alias("s"), "media_id", "full_outer")
    return j.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("d.n_bytes").cast("long").alias("payload_bytes"),
        F.sum(
            F.when(
                F.col("d.payload").isNull() | F.col("s.payload").isNull()
                | _ne("d.payload", "s.payload")
                | _ne("d.mime", "s.mime"),
                1,
            ).otherwise(0)
        ).cast("long").alias("n_mismatch"),
    )


@q(
    "enc_roundtrip_events",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(min(epoch_us(ts)) AS BIGINT) AS min_ts_us,
           CAST(max(epoch_us(ts)) AS BIGINT) AS max_ts_us,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS cents_sum,
           CAST(0 AS BIGINT) AS n_mismatch
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def enc_roundtrip_events(spark, sf_dir):
    """Event-stream table (timestamp kind) through the engine, bit-exact.

    The events family carries a tz-free microsecond timestamp — encoded
    as int64 epoch-micros through the int codec family (delta /
    delta-of-delta collapse the near-regular stream spacing;
    tablespec.EVENTS) — plus a double, a JSON property bag and a
    low-cardinality type column. Encode, decode, verify EVERY column
    bit-identical per row (n_mismatch pinned 0 by the oracle), then
    aggregate per event_type with ts bounds as exact integer micros
    (timestampdiff vs the NTZ epoch == DuckDB epoch_us, both tz-free).
    """
    from . import engine
    from .tablespec import EVENTS

    src = _t(spark, sf_dir, "events")
    enc = engine.encode(src, target_tokens=25_000, spec=EVENTS)
    dec = engine.decode(enc, spec=EVENTS)
    j = dec.alias("d").join(src.alias("s"), "event_id", "full_outer")
    t_us = F.expr("timestampdiff(MICROSECOND, "
                  "TIMESTAMP_NTZ '1970-01-01 00:00:00', d.ts)")
    return (
        j.groupBy(F.col("d.event_type").alias("event_type"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.min(t_us).cast("long").alias("min_ts_us"),
            F.max(t_us).cast("long").alias("max_ts_us"),
            F.sum(F.round(F.col("d.value") * 100).cast("long"))
            .cast("long").alias("cents_sum"),
            F.sum(
                F.when(
                    F.col("d.ts").isNull() | F.col("s.ts").isNull()
                    | _ne("d.ts", "s.ts")
                    | _ne("d.user_id", "s.user_id")
                    | _ne("d.event_type", "s.event_type")
                    | _ne("d.value", "s.value")
                    | _ne("d.props", "s.props"),
                    1,
                ).otherwise(0)
            ).cast("long").alias("n_mismatch"),
        )
        .orderBy("event_type")
    )


@q(
    "enc_compact_roundtrip",
    """
    WITH d AS (SELECT doc_id, n_chars, source FROM documents)
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(n_chars % 64 + 1) AS BIGINT) AS tok_count_sum,
           CAST(0 AS BIGINT) AS n_mismatch,
           true AS compacted,
           true AS chunks_reduced,
           true AS vacuumed
    FROM d
    """,
)
def enc_compact_roundtrip(spark, sf_dir):
    """Compaction + GC end-to-end: freeze small -> compact -> vacuum -> decode.

    A freeze at a tiny target produces many undersized chunks (the
    incremental-append steady state); compact rewrites them into
    target-sized chunks and retires the originals via tombstones
    committed with the new run's manifest (the Iceberg
    rewrite_data_files shape); vacuum then physically deletes the
    fully-retired original run dirs (expire_snapshots analog). The
    oracle pins the decoded corpus bit-identical AFTER the physical
    delete (n_mismatch = 0, exact row/token counts — a chunk decoded
    twice through a leaked tombstone, dropped, or read from a deleted
    run shifts n_rows) and that the rewrite + GC really happened
    (booleans computed from the summaries, pinned true).
    """
    import os
    import shutil
    import tempfile

    from . import engine

    base = _scratch("compact", sf_dir)
    # chunks never span sources (a source partition is the planning
    # unit), so the many-source documents fixture would floor the chunk
    # count at n_sources and leave compaction nothing to merge; 3 coarse
    # deterministic sources give each one several undersized chunks
    src = sequences_from_documents(spark, sf_dir).withColumn(
        "source",
        F.concat(F.lit("s"), F.pmod(F.xxhash64("doc_id"), F.lit(3))),
    )
    src.write.parquet(f"{base}/in")
    engine.freeze(spark, f"{base}/in", f"{base}/out", target_tokens=2_000)
    s = engine.compact(spark, f"{base}/out", target_tokens=50_000)
    v = engine.vacuum(spark, f"{base}/out")
    dec = engine.decode_frozen(spark, f"{base}/out")
    j = dec.alias("d").join(src.alias("s"), "doc_id", "full_outer")
    return j.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("d.n_tok").cast("long").alias("tok_count_sum"),
        F.sum(
            F.when(
                F.col("d.n_tok").isNull() | F.col("s.n_tok").isNull()
                | _ne("d.source", "s.source")
                | _ne("d.tokens", "s.tokens"),
                1,
            ).otherwise(0)
        ).cast("long").alias("n_mismatch"),
        F.lit(s["run"] is not None).alias("compacted"),
        F.lit(0 < s["n_new_chunks"] < s["n_compacted"]).alias(
            "chunks_reduced"),
        F.lit(v["n_deleted_runs"] >= 1 and v["bytes_reclaimed"] > 0).alias(
            "vacuumed"),
    )


@q(
    "enc_consolidate_roundtrip",
    """
    WITH d AS (SELECT doc_id, n_chars % 64 + 1 AS n_tok FROM documents),
    s AS (SELECT max(doc_id) // 3 AS s1 FROM documents)
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(n_tok) AS BIGINT) AS tok_sum,
           CAST(0 AS BIGINT) AS n_mismatch,
           CAST(sum(CASE WHEN doc_id < s1 THEN 1 ELSE 0 END) AS BIGINT)
               AS at1_rows,
           true AS consolidated,
           true AS dirs_folded,
           true AS resume_skipped
    FROM d, s
    """,
)
def enc_consolidate_roundtrip(spark, sf_dir):
    """Manifest consolidation end-to-end (Iceberg rewrite_manifests).

    Three key-range freezes append three manifest run dirs;
    ``consolidate_manifests`` folds them into one generation. The oracle
    pins that consolidation is metadata-only and lossless: the decoded
    corpus stays bit-identical (n_mismatch = 0 over a full-outer join
    with the source), time travel to snapshot 1 still sees exactly the
    first key range (at1_rows), skip-existing resume still works through
    the generation (a re-freeze of range 1 encodes nothing), and the
    run dirs are really gone (dirs_folded).
    """
    import os
    import shutil
    import tempfile

    from . import engine

    base = _scratch("consolidate", sf_dir)
    src = sequences_from_documents(spark, sf_dir)
    src.write.parquet(f"{base}/in")
    mx = _t(spark, sf_dir, "documents").agg(F.max("doc_id")).first()[0]
    s1, s2 = mx // 3, 2 * mx // 3
    out = f"{base}/out"
    for lo, hi in ((0, s1), (s1, s2), (s2, mx + 1)):
        engine.freeze(spark, f"{base}/in", out, target_tokens=200_000,
                      keys=f"{lo}:{hi}")
    rep = engine.consolidate_manifests(spark, out)
    man_base = engine._manifest_path(out)
    dirs_folded = not any(
        d.startswith("run=") for d in
        (os.listdir(man_base) if os.path.isdir(man_base) else [])
    )
    again = engine.freeze(spark, f"{base}/in", out, target_tokens=200_000,
                          keys=f"0:{s1}")
    at1_rows = engine.decode_frozen(spark, out, as_of=1).count()
    dec = engine.decode_frozen(spark, out)
    j = dec.alias("d").join(src.alias("s"), "doc_id", "full_outer")
    return j.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("d.n_tok").cast("long").alias("tok_sum"),
        F.sum(
            F.when(
                F.col("d.n_tok").isNull() | F.col("s.n_tok").isNull()
                | _ne("d.source", "s.source")
                | _ne("d.tokens", "s.tokens"),
                1,
            ).otherwise(0)
        ).cast("long").alias("n_mismatch"),
        F.lit(int(at1_rows)).cast("long").alias("at1_rows"),
        F.lit(bool(rep["consolidated"])
              and rep["n_absorbed_runs"] == 3).alias("consolidated"),
        F.lit(bool(dirs_folded)).alias("dirs_folded"),
        F.lit(again["n_encoded"] == 0).alias("resume_skipped"),
    )


@q(
    "enc_orphan_gc",
    """
    WITH d AS (SELECT doc_id, n_chars % 64 + 1 AS n_tok FROM documents)
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(n_tok) AS BIGINT) AS tok_sum,
           true AS orphan_removed,
           true AS committed_kept
    FROM d
    """,
)
def enc_orphan_gc(spark, sf_dir):
    """Orphan GC end-to-end (Iceberg remove_orphan_files analog).

    A dead writer's encoded run dir (no manifest row, no snapshot entry)
    is planted next to a committed freeze; ``remove_orphans`` must
    delete exactly it — the oracle pins that the decoded corpus is
    untouched (row/token sums over the raw table) and that the orphan
    really went while every committed dir stayed (booleans pinned true).
    """
    import os
    import shutil
    import tempfile

    from . import engine

    base = _scratch("orphangc", sf_dir)
    src = sequences_from_documents(spark, sf_dir)
    src.write.parquet(f"{base}/in")
    out = f"{base}/out"
    engine.freeze(spark, f"{base}/in", out, target_tokens=200_000)
    enc = engine._encoded_path(out)
    committed = sorted(d for d in os.listdir(enc) if d.startswith("run="))
    orphan = os.path.join(enc, "run=rdeadwriter00")
    shutil.copytree(os.path.join(enc, committed[0]), orphan)
    rep = engine.remove_orphans(spark, out, min_age_s=0.0)
    dec = engine.decode_frozen(spark, out)
    return dec.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("n_tok").cast("long").alias("tok_sum"),
        F.lit(rep["n_removed"] == 1
              and not os.path.isdir(orphan)).alias("orphan_removed"),
        F.lit(all(os.path.isdir(os.path.join(enc, d)) for d in committed))
        .alias("committed_kept"),
    )


@q(
    "enc_time_travel",
    """
    WITH d AS (SELECT doc_id, n_chars % 64 + 1 AS n_tok FROM documents),
    s AS (SELECT max(doc_id) // 2 AS split FROM documents)
    SELECT * FROM (
      SELECT CAST(1 AS INT) AS snapshot_seq,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(n_tok) AS BIGINT) AS tok_sum,
             CAST(min(doc_id) AS BIGINT) AS key_min,
             CAST(max(doc_id) AS BIGINT) AS key_max
      FROM d, s WHERE doc_id < split
      UNION ALL
      SELECT CAST(2 AS INT), CAST(count(*) AS BIGINT),
             CAST(sum(n_tok) AS BIGINT), CAST(min(doc_id) AS BIGINT),
             CAST(max(doc_id) AS BIGINT)
      FROM d
    ) ORDER BY snapshot_seq
    """,
)
def enc_time_travel(spark, sf_dir):
    """Snapshot isolation end-to-end: two ordered commits, read at each.

    Two key-range freezes land as snapshots 1 and 2 (engine.snapshots —
    the Iceberg snapshot-list analog); ``decode_frozen(as_of=k)`` must
    reproduce the table EXACTLY as committed at k: snapshot 1 sees only
    the first key range, snapshot 2 the whole corpus. The oracle
    recomputes both states' row/token/key aggregates from the raw
    documents table with the same integer split arithmetic, so a
    visibility leak in either direction (a later run bleeding into an
    earlier snapshot, or an earlier run dropped) shifts a pinned sum.
    """
    import os
    import shutil
    import tempfile

    from . import engine

    base = _scratch("timetravel", sf_dir)
    src = sequences_from_documents(spark, sf_dir)
    src.write.parquet(f"{base}/in")
    mx = _t(spark, sf_dir, "documents").agg(F.max("doc_id")).first()[0]
    split = mx // 2
    out = f"{base}/out"
    s1 = engine.freeze(spark, f"{base}/in", out, target_tokens=200_000,
                       keys=f"0:{split}")
    s2 = engine.freeze(spark, f"{base}/in", out, target_tokens=200_000,
                       keys=f"{split}:{mx + 1}")
    assert (s1["snapshot"], s2["snapshot"]) == (1, 2)
    key_num = F.substring("doc_id", 5, 12).cast("long")

    def at(seq: int):
        return engine.decode_frozen(spark, out, as_of=seq).agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("n_tok").cast("long").alias("tok_sum"),
            F.min(key_num).cast("long").alias("key_min"),
            F.max(key_num).cast("long").alias("key_max"),
        ).select(F.lit(seq).cast("int").alias("snapshot_seq"), "*")

    return at(1).unionAll(at(2)).orderBy("snapshot_seq")


@q(
    "enc_incremental_scan",
    """
    WITH d AS (SELECT doc_id, n_chars % 64 + 1 AS n_tok FROM documents),
    s AS (SELECT max(doc_id) // 2 AS split FROM documents)
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(n_tok) AS BIGINT) AS tok_sum,
           CAST(min(doc_id) AS BIGINT) AS key_min,
           CAST(max(doc_id) AS BIGINT) AS key_max
    FROM d, s WHERE doc_id >= split
    """,
)
def enc_incremental_scan(spark, sf_dir):
    """Incremental append scan (Iceberg incremental read), oracle-checked.

    Two ordered appends; ``read_appends(from=1)`` must return EXACTLY
    the second commit's rows — no first-commit leakage, no loss. The
    oracle recomputes that increment from the raw table with the same
    split arithmetic as enc_time_travel.
    """
    import os
    import shutil
    import tempfile

    from . import engine

    base = _scratch("increment", sf_dir)
    sequences_from_documents(spark, sf_dir).write.parquet(f"{base}/in")
    out = f"{base}/out"
    mx = _t(spark, sf_dir, "documents").agg(F.max("doc_id")).first()[0]
    split = mx // 2
    engine.freeze(spark, f"{base}/in", out, target_tokens=200_000,
                  keys=f"0:{split}")
    engine.freeze(spark, f"{base}/in", out, target_tokens=200_000,
                  keys=f"{split}:{mx + 1}")
    key_num = F.substring("doc_id", 5, 12).cast("long")
    return engine.read_appends(spark, out, 1).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("n_tok").cast("long").alias("tok_sum"),
        F.min(key_num).cast("long").alias("key_min"),
        F.max(key_num).cast("long").alias("key_max"),
    )


@q(
    "enc_upsert",
    """
    WITH d AS (SELECT doc_id, n_chars % 64 + 1 AS n_tok FROM documents),
    s AS (SELECT max(doc_id) // 2 AS split FROM documents)
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(n_tok) AS BIGINT) AS tok_sum,
           CAST(sum(CASE WHEN doc_id < split
                    THEN (doc_id * 2654435761 + (n_tok - 1) * 48271) % 50257
                    ELSE (doc_id * 2654435761) % 50257 END) AS BIGINT)
               AS first_tok_sum
    FROM d, s
    """,
)
def enc_upsert(spark, sf_dir):
    """Copy-on-write MERGE end-to-end, oracle-checked at value level.

    Freeze the corpus, then upsert a batch holding REVERSED-token
    copies of the first half of the key space. The upserted table must
    contain the patched values for those keys and the untouched
    originals for the rest; ``first_tok_sum`` pins it at token-value
    granularity — a reversed row's first token is the original's LAST
    ((doc_id*c + (n_tok-1)*s) % m), so a row that kept its old payload,
    got replaced twice, or leaked both versions shifts the sum.
    """
    import os
    import shutil
    import tempfile

    from . import engine

    base = _scratch("upsert", sf_dir)
    src = sequences_from_documents(spark, sf_dir)
    src.write.parquet(f"{base}/in")
    out = f"{base}/out"
    engine.freeze(spark, f"{base}/in", out, target_tokens=100_000)
    mx = _t(spark, sf_dir, "documents").agg(F.max("doc_id")).first()[0]
    split = mx // 2
    key_num = F.substring("doc_id", 5, 12).cast("long")
    batch = spark.read.parquet(f"{base}/in").filter(key_num < split) \
        .withColumn("tokens", F.reverse("tokens"))
    engine.upsert(spark, out, batch, target_tokens=100_000)
    return engine.decode_frozen(spark, out).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("n_tok").cast("long").alias("tok_sum"),
        F.sum(F.element_at("tokens", 1)).cast("long").alias("first_tok_sum"),
    )


@q(
    "enc_freeze_range",
    """
    WITH d AS (SELECT doc_id, n_chars % 64 + 1 AS n_tok FROM documents)
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(n_tok) AS BIGINT) AS tok_sum,
           true AS ranges_disjoint,
           true AS range_pruned
    FROM d
    """,
)
def enc_freeze_range(spark, sf_dir):
    """Key-range chunk layout end-to-end (the reference's chunk shape).

    ``freeze(chunk_by='range')`` buckets by the monotone key map —
    chunks become contiguous key ranges (number_chunk.rs:76-89
    semantics). Pinned: the corpus round-trips (row/token sums), every
    partition's chunk key ranges are pairwise DISJOINT, and a key-range
    read prunes most chunks via the manifest zone maps — the property
    hash layout cannot offer and this layout exists to provide.
    """
    import os
    import shutil
    import tempfile

    from . import engine, ranges
    from .tablespec import SEQUENCES

    base = _scratch("rangelayout", sf_dir)
    sequences_from_documents(spark, sf_dir).write.parquet(f"{base}/in")
    out = f"{base}/out"
    # small target => several chunks per source, so the pruning
    # property is actually exercisable (one chunk/source would span
    # the source's whole key range and nothing could prune)
    engine.freeze(spark, f"{base}/in", out, target_tokens=200,
                  chunk_by="range")
    man_rows = engine.read_manifest(spark, out).filter(
        (F.col("status") == "ok") & (F.col("column") == "doc_id")
    ).select("partition_id", "min_doc_id", "max_doc_id").collect()
    spans: dict[int, list] = {}
    for r in man_rows:
        spans.setdefault(r.partition_id, []).append(
            (r.min_doc_id, r.max_doc_id))
    disjoint = all(
        hi1 < lo2
        for ss in spans.values()
        for (_, hi1), (lo2, _) in zip(sorted(ss), sorted(ss)[1:])
    )
    enc = engine.read_encoded(spark, out)
    ck = ["run", "partition_id", "chunk_id"]
    total = enc.select(*ck).distinct().count()
    mx = _t(spark, sf_dir, "documents").agg(F.max("doc_id")).first()[0]
    kept = engine._chunk_stat_prune(
        enc, ranges.parse_key_specs(f"0:{max(1, mx // 20)}"), SEQUENCES
    ).select(*ck).distinct().count()
    return engine.decode_frozen(spark, out).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("n_tok").cast("long").alias("tok_sum"),
    ).select(
        "*",
        F.lit(disjoint).alias("ranges_disjoint"),
        F.lit(0 < kept < total / 2).alias("range_pruned"),
    )


@q(
    "scan_point_lookup",
    """
    WITH d AS (SELECT doc_id, n_chars % 64 + 1 AS n_tok, source
               FROM documents)
    SELECT printf('doc-%012d', doc_id) AS doc_id,
           CAST(n_tok AS INT) AS n_tok, source, true AS bloom_pruned
    FROM d WHERE doc_id IN (3, 141, 442)
    """,
)
def scan_point_lookup(spark, sf_dir):
    """Point lookups through the per-chunk key Bloom filters.

    Chunk placement is hash-bucketed, so every chunk's key RANGE spans
    the key space and zone maps cannot prune a point read; the key
    column's manifest bloom (hashing.bloom_build, ~10 bits/key) can.
    ``bloom_pruned`` pins that the metadata pass really shrank the
    chunk set to a fraction before any payload decode; the rows
    themselves are oracle-checked against the raw table.
    """
    import os
    import shutil
    import tempfile

    from . import engine
    from .tablespec import SEQUENCES

    base = _scratch("pointlookup", sf_dir)
    sequences_from_documents(spark, sf_dir).write.parquet(f"{base}/in")
    out = f"{base}/out"
    engine.freeze(spark, f"{base}/in", out, target_tokens=20_000)
    man = engine.read_manifest(spark, out)
    total = man.filter(
        (F.col("status") == "ok") & (F.col("column") == "doc_id")).count()
    # bloom bytes are side-located in the encoded files (manifest slots
    # are NULL); the lookup path loads them via read_bloom_stats
    kept = engine._bloom_chunk_keys(
        engine.read_bloom_stats(spark, out),
        [f"doc-{n:012d}" for n in (3, 141, 442)], SEQUENCES).count()
    return engine.collect(
        spark, out, keys="3 141 442", columns=["doc_id", "n_tok", "source"]
    ).select(
        "doc_id", F.col("n_tok").cast("int").alias("n_tok"), "source",
        F.lit(0 < kept < total).alias("bloom_pruned"),
    )


@q(
    "enc_delete_where",
    """
    WITH d AS (SELECT doc_id, n_chars % 64 + 1 AS n_tok, source
               FROM documents)
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(n_tok) AS BIGINT) AS tok_sum,
           CAST(0 AS BIGINT) AS n_deleted_left,
           true AS committed,
           true AS purged
    FROM d WHERE source <> 'src3'
    """,
)
def enc_delete_where(spark, sf_dir):
    """Row-level delete + physical purge end-to-end, oracle-checked.

    Freeze, then ``delete_where(source = 'src3')`` — an equality-delete
    run committed through the snapshot log, applied merge-on-read by
    every read (engine._apply_deletes) — then ``purge_deletes``: the
    copy-on-write rewrite that drops the rows physically and retires
    the delete runs in one snapshot. The oracle recomputes the
    surviving corpus from the raw table; ``n_deleted_left`` pins that
    not one deleted row leaks back, the row/token sums pin that nothing
    EXTRA was deleted, and ``purged`` pins that the RAW file read (which
    bypasses delete files) now matches too — i.e. the bytes are gone,
    not merely masked.
    """
    import os
    import shutil
    import tempfile

    from . import engine

    base = _scratch("delete", sf_dir)
    sequences_from_documents(spark, sf_dir).write.parquet(f"{base}/in")
    out = f"{base}/out"
    engine.freeze(spark, f"{base}/in", out, target_tokens=100_000)
    d = engine.delete_where(spark, out, filters=[("source", "=", "src3")])
    p = engine.purge_deletes(spark, out, target_tokens=100_000)
    dec = engine.decode_frozen(spark, out)
    n_logical = dec.count()
    n_raw = engine.decode(engine.read_encoded(spark, out)).count()
    return dec.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("n_tok").cast("long").alias("tok_sum"),
        F.sum(F.when(F.col("source") == "src3", 1).otherwise(0))
        .cast("long").alias("n_deleted_left"),
    ).select(
        "*",
        F.lit(d["n_deleted"] > 0 and d["snapshot"] is not None)
        .alias("committed"),
        F.lit(p["run"] is not None and n_raw == n_logical).alias("purged"),
    )


@q(
    "enc_schema_evolution",
    """
    WITH d AS (SELECT doc_id, n_chars % 64 + 1 AS n_tok FROM documents),
    s AS (SELECT max(doc_id) // 2 AS split FROM documents),
    v AS (SELECT doc_id, n_tok,
                 CASE WHEN doc_id < split THEN NULL
                      ELSE 'l' || CAST(n_tok % 3 AS VARCHAR) END AS lang
          FROM d, s)
    SELECT lang, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(n_tok) AS BIGINT) AS tok_sum
    FROM v GROUP BY lang
    """,
)
def enc_schema_evolution(spark, sf_dir):
    """Add-column schema evolution through the frozen layout.

    The first key range freezes under the v1 spec (no ``lang``); the
    second under v2 = v1 + lang (TableSpec.with_column — the Iceberg
    add_column analog). ONE v2 read serves both: pre-evolution chunks
    decode lang as null, post-evolution chunks carry the real values,
    no history rewrite. The oracle recomputes the same null/value split
    from the raw documents table, so a leak in either direction (old
    chunks inventing values, new chunks losing them) shifts a group.
    """
    import os
    import shutil
    import tempfile

    from . import engine
    from .tablespec import SEQUENCES, ColumnSpec

    base = _scratch("evolve", sf_dir)
    spec2 = SEQUENCES.with_column(ColumnSpec("lang", "str"))
    src = sequences_from_documents(spark, sf_dir)
    mx = _t(spark, sf_dir, "documents").agg(F.max("doc_id")).first()[0]
    split = mx // 2
    key_num = F.substring("doc_id", 5, 12).cast("long")
    src.filter(key_num < split).write.parquet(f"{base}/in1")
    src.filter(key_num >= split).withColumn(
        "lang", F.concat(F.lit("l"), (F.col("n_tok") % 3).cast("string"))
    ).write.parquet(f"{base}/in2")
    out = f"{base}/out"
    engine.freeze(spark, f"{base}/in1", out, target_tokens=200_000)
    engine.freeze(spark, f"{base}/in2", out, target_tokens=200_000,
                  spec=spec2)
    return engine.decode_frozen(spark, out, spec=spec2).groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("n_tok").cast("long").alias("tok_sum"),
    )


@q(
    "scan_zone_pruned",
    """
    WITH d AS (SELECT doc_id, n_chars % 64 + 1 AS n_tok, source
               FROM documents)
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(n_tok) AS BIGINT) AS tok_sum,
           CAST(min(doc_id) AS BIGINT) AS key_min,
           CAST(max(doc_id) AS BIGINT) AS key_max,
           true AS pruned
    FROM d WHERE source = 'src7' AND n_tok >= 5
    """,
)
def scan_zone_pruned(spark, sf_dir):
    """Zone-map pruned filtered read of an encoded table, oracle-checked.

    freeze writes per-(chunk x column) value min/max into the manifest
    (engine._encode_chunk zone maps); ``collect(filters=...)`` prunes
    whole chunks whose range cannot match before decoding any payload —
    the parquet row-group-statistics idiom over this layout. Chunks
    never span sources, so the source equality keeps only that source's
    chunks (``pruned`` pins that the chunk count really shrank); the
    n_tok predicate exercises the residual row filter on the decoded
    rows. The oracle recomputes the surviving rows from the raw
    documents table.
    """
    import os
    import shutil
    import tempfile

    from . import engine
    from .tablespec import SEQUENCES

    base = _scratch("zonemap", sf_dir)
    seqs = sequences_from_documents(spark, sf_dir)
    seqs.write.parquet(f"{base}/in")
    out = f"{base}/out"
    # ~30 chunks at every sf (avg n_tok ~ 32): pruning needs chunk-per-
    # source granularity, not thousands of tiny chunks — at sf0.1 a
    # fixed 2k target planned ~1000 chunks of pure per-chunk overhead
    n_docs = seqs.count()
    engine.freeze(spark, f"{base}/in", out,
                  target_tokens=max(2_000, n_docs))
    filters = [("source", "=", "src7"), ("n_tok", ">=", 5)]
    # the pruned-chunk accounting is METADATA-ONLY: both counts come from
    # the manifest (tiny at any scale), never from listing/scanning the
    # encoded table — the shape a 10^12-sequence read must have
    man = engine.read_manifest(spark, out).filter(F.col("status") == "ok")
    chunk_keys = ["run", "partition_id", "chunk_id"]
    keys_df = man.select(*chunk_keys).distinct()
    n_total = keys_df.count()
    n_kept = engine._zone_map_prune(keys_df, filters, SEQUENCES,
                                    man=man).count()
    key_num = F.substring("doc_id", 5, 12).cast("long")
    return engine.collect(spark, out, filters=filters).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("n_tok").cast("long").alias("tok_sum"),
        F.min(key_num).cast("long").alias("key_min"),
        F.max(key_num).cast("long").alias("key_max"),
    ).select("*", F.lit(0 < n_kept < n_total).alias("pruned"))


@q(
    "enc_freeze_embeddings",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(len(embedding)) AS BIGINT) AS n_values,
           CAST(sum(label) AS BIGINT) AS label_sum,
           CAST(0 AS BIGINT) AS n_mismatch
    FROM embeddings
    """,
)
def enc_freeze_embeddings(spark, sf_dir):
    """The embeddings table through the REAL engine path (tablespec.py).

    Not a codec microbench: plan→pack→shuffle→encode→decode with
    spec=EMBEDDINGS (int64 key, list<float32> payload, float codec
    family), then every decoded row is joined back against the source
    and compared — the oracle pins n_mismatch = 0, so any lossy float
    codec, misassigned chunk, or dropped row fails the value hash.
    """
    from . import engine
    from .tablespec import EMBEDDINGS

    src = _t(spark, sf_dir, "embeddings")
    enc = engine.encode(src, target_tokens=8_192, spec=EMBEDDINGS)
    dec = engine.decode(enc, spec=EMBEDDINGS)
    j = dec.alias("d").join(src.alias("s"), "vec_id", "full_outer")
    return j.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.size("d.embedding")).cast("long").alias("n_values"),
        F.sum("d.label").cast("long").alias("label_sum"),
        F.sum(
            F.when(
                F.col("d.label").isNull() | F.col("s.label").isNull()
                | _ne("d.label", "s.label")
                | _ne("d.embedding", "s.embedding"),
                1,
            ).otherwise(0)
        ).cast("long").alias("n_mismatch"),
    )


@q(
    "join_colocated_frozen",
    f"""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars % 64 + 1) AS BIGINT) AS n_tok_sum,
           CAST(sum(n_chars) AS BIGINT) AS chars_sum,
           CAST(sum(list_aggregate({_TOK_SQL}, 'sum')) AS BIGINT)
               AS token_value_sum
    FROM documents GROUP BY lang
    """,
)
def join_colocated_frozen(spark, sf_dir):
    """Zero-exchange join of two frozen tables sharing a chunk plan.

    The Iceberg storage-partitioned-join shape: the corpus (tokens) and
    an enrichment table (lang, n_chars) freeze with ``align_with`` so
    every doc_id lives in the same chunk_id on both sides, then
    ``colocated.join_frozen`` zips them chunk-by-chunk — no payload
    shuffle on either side (``require_colocated=True`` makes the query
    FAIL rather than silently fall back to a relational join). tokens /
    n_tok come from side A and lang / n_chars from side B, so the agg
    only matches the oracle if the join matched every pair exactly.
    """
    import os
    import shutil
    import tempfile

    from . import colocated, engine
    from .tablespec import ColumnSpec, TableSpec

    base = _scratch("coloc", sf_dir)
    seqs = sequences_from_documents(spark, sf_dir)
    seqs.write.parquet(f"{base}/in_a")
    docmeta = TableSpec(
        name="docmeta",
        key="doc_id",
        columns=(
            ColumnSpec("doc_id", "str"),
            ColumnSpec("lang", "str"),
            ColumnSpec("n_chars", "int64"),
            ColumnSpec("source", "str"),
        ),
        partition_col="source",
        weight="n_chars",
    )
    _t(spark, sf_dir, "documents").select(
        F.format_string("doc-%012d", "doc_id").alias("doc_id"),
        "lang", "n_chars", "source",
    ).write.parquet(f"{base}/in_b")
    n_docs = seqs.count()
    engine.freeze(spark, f"{base}/in_a", f"{base}/out_a",
                  target_tokens=max(2_000, n_docs))
    engine.freeze(spark, f"{base}/in_b", f"{base}/out_b", spec=docmeta,
                  align_with=f"{base}/out_a")
    j = colocated.join_frozen(
        spark, f"{base}/out_a", f"{base}/out_b",
        columns_a=["tokens", "n_tok"], columns_b=["lang", "n_chars"],
        require_colocated=True,
    )
    return j.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_tok_sum"),
        F.sum("n_chars").cast("long").alias("chars_sum"),
        F.sum(F.expr("aggregate(tokens, 0L, (a, x) -> a + x)"))
        .cast("long").alias("token_value_sum"),
    )


# Count-Min Sketch over bigrams: d independent mod-prime hash rows, all
# parameters small enough that a*(k % P) stays below 2^57 — exact in
# int64/uint64 on every engine, so DuckDB replays the sketch bit-for-bit.
_CMS_P = 2147483647          # 2^31 - 1 (Mersenne prime)
_CMS_W = 8192                # buckets per row
_CMS_PARAMS = (              # (row j, multiplier a, offset b) — primes
    (0, 1299709, 104729),
    (1, 15485863, 224737),
    (2, 32452843, 350377),
    (3, 49979687, 479909),
)
_CMS_V = 50257               # token-id space; bigram key = t1*V + t2


def _cms_kernel():
    """mapInArrow: per-task Count-Min sketch of adjacent-token-pair keys.

    Each task folds ALL its rows into one d x w counter grid and emits
    only the nonzero cells — the exchange carries <= d*w rows per task
    no matter how many bigrams the task saw. Doc boundaries are masked
    arithmetically (the pair starting at each doc's last token crosses
    into the next doc and is dropped), so the counts equal the sum of
    per-doc bigram counts exactly.
    """

    def fn(batches):
        import numpy as np
        import pyarrow as pa

        sketch = np.zeros((len(_CMS_PARAMS), _CMS_W), dtype=np.int64)
        for b in batches:
            t = pa.Table.from_batches([b])
            if t.num_rows == 0:
                continue
            arr = t.column("tokens").combine_chunks()
            off = np.asarray(arr.offsets, dtype=np.int64)
            off = off - off[0]
            flat = np.asarray(
                arr.flatten().to_numpy(zero_copy_only=False), dtype=np.int64)
            if len(flat) < 2:
                continue
            keys = flat[:-1] * _CMS_V + flat[1:]
            last = off[1:] - 1  # pairs starting at a doc's last token
            last = last[(last >= 0) & (last < len(keys))]
            mask = np.ones(len(keys), dtype=bool)
            mask[last] = False
            keys = keys[mask] % _CMS_P
            for j, a, c in _CMS_PARAMS:
                h = ((a * keys + c) % _CMS_P) % _CMS_W
                sketch[j] += np.bincount(h, minlength=_CMS_W)
        js, buckets = np.nonzero(sketch)
        if len(js):
            yield pa.RecordBatch.from_arrays(
                [pa.array(js.astype(np.int32)),
                 pa.array(buckets.astype(np.int32)),
                 pa.array(sketch[js, buckets])],
                names=["j", "bucket", "cnt"],
            )

    return fn


@q(
    "heavy_hitters_cms",
    f"""
    WITH seq AS (SELECT {_TOK_SQL} AS l FROM documents),
         pairs AS (SELECT unnest(list_zip(l[1:len(l) - 1], l[2:len(l)])) AS p
                   FROM seq WHERE len(l) >= 2),
         counts AS (
           SELECT CAST(p[1] AS BIGINT) AS t1, CAST(p[2] AS BIGINT) AS t2,
                  CAST(p[1] AS BIGINT) * {_CMS_V} + CAST(p[2] AS BIGINT) AS k,
                  count(*) AS c
           FROM pairs GROUP BY 1, 2, 3),
         js AS (SELECT * FROM (VALUES {", ".join(f"({j}, {a}, {b})" for j, a, b in _CMS_PARAMS)})
                t(j, a, b)),
         sketch AS (
           SELECT j, ((a * (k % {_CMS_P}) + b) % {_CMS_P}) % {_CMS_W} AS bucket,
                  sum(c) AS cnt
           FROM counts CROSS JOIN js GROUP BY 1, 2),
         cand AS (SELECT t1, t2, k, c FROM counts
                  ORDER BY c DESC, t1, t2 LIMIT 20),
         probe AS (
           SELECT cand.t1, cand.t2, cand.c, js.j,
                  ((js.a * (cand.k % {_CMS_P}) + js.b) % {_CMS_P}) % {_CMS_W}
                      AS bucket
           FROM cand CROSS JOIN js)
    SELECT CAST(probe.t1 AS INT) AS t1, CAST(probe.t2 AS INT) AS t2,
           CAST(probe.c AS BIGINT) AS freq,
           CAST(min(sketch.cnt) AS BIGINT) AS cms_est
    FROM probe JOIN sketch USING (j, bucket)
    GROUP BY 1, 2, 3
    """,
)
def heavy_hitters_cms(spark, sf_dir):
    """Heavy hitters by Count-Min Sketch — bounded memory at any scale.

    The exact bigram group-by (token_pair_topk) exchanges one partial
    row per distinct pair per task; over a 100 TB corpus with hashed
    n-gram features the distinct count explodes. The CMS path bounds
    the exchange at d*w = 32,768 counters PER TASK regardless of corpus
    size, and the merged sketch answers any frequency probe within the
    classic overestimate bound (est >= true; est <= true + eps*N w.h.p.).
    This query builds the sketch distributed, then probes it with the
    20 exact top bigrams: the oracle replays the identical mod-prime
    arithmetic from exact counts (sum-over-colliders == streamed
    bincount), so every estimated cell matches bit-for-bit — including
    how much each estimate overshoots.
    """
    seqs = sequences_from_documents(spark, sf_dir)
    sketch = (
        amap(seqs.select("tokens"), _cms_kernel(), "j int, bucket int, cnt long")
        .groupBy("j", "bucket").agg(F.sum("cnt").alias("cnt"))
    )
    pairs = seqs.filter(F.col("n_tok") >= 2).select(
        F.explode(F.expr(
            "transform(sequence(0, n_tok - 2), "
            "i -> struct(tokens[i] AS t1, tokens[i + 1] AS t2))"
        )).alias("p")
    )
    cand = (
        pairs.groupBy(F.col("p.t1").cast("long").alias("t1"),
                      F.col("p.t2").cast("long").alias("t2"))
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), "t1", "t2")
        .limit(20)
        .withColumn("k", F.col("t1") * _CMS_V + F.col("t2"))
    )
    js = spark.createDataFrame(list(_CMS_PARAMS), "j int, a long, b long")
    probe = cand.crossJoin(js).withColumn(
        "bucket",
        (((F.col("a") * (F.col("k") % _CMS_P) + F.col("b")) % _CMS_P)
         % _CMS_W).cast("int"),
    )
    return (
        sketch.join(F.broadcast(probe), ["j", "bucket"])
        .groupBy("t1", "t2", "freq")
        .agg(F.min("cnt").alias("cms_est"))
        .select(F.col("t1").cast("int").alias("t1"),
                F.col("t2").cast("int").alias("t2"),
                F.col("freq").cast("long").alias("freq"),
                F.col("cms_est").cast("long").alias("cms_est"))
    )


_IDX_SHARD = 4096  # doc-key span per posting segment


@q(
    "inverted_index_stats",
    f"""
    WITH seq AS (SELECT doc_id AS key, {_TOK_SQL} AS l FROM documents),
         post AS (SELECT DISTINCT key, unnest(l) AS token FROM seq),
         seg AS (
           SELECT token, key // {_IDX_SHARD} AS shard, key,
                  coalesce(
                    key - lag(key) OVER (PARTITION BY token, key // {_IDX_SHARD}
                                         ORDER BY key),
                    key - (key // {_IDX_SHARD}) * {_IDX_SHARD} + 1) AS delta
           FROM post)
    SELECT CAST(token AS INT) AS token,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT shard) AS BIGINT) AS n_segments,
           CAST(sum(CASE WHEN delta < 128 THEN 1
                         WHEN delta < 16384 THEN 2 ELSE 3 END) AS BIGINT)
               AS idx_bytes
    FROM seg GROUP BY token
    """,
)
def inverted_index_stats(spark, sf_dir):
    """Sharded inverted index build: token -> delta-varint posting segments.

    The retrieval-index shape over a token corpus: posting lists are
    (token, doc) pairs, SHARDED by doc-key span so no single list is
    ever materialized whole — each segment holds at most the keys of
    one {_IDX_SHARD}-wide key range, and segments encode independently
    (sorted doc keys -> per-segment deltas -> varint byte sizes), which
    is what lets a 100 TB index build stream: the only state a task
    needs is one segment's sorted keys. Two exchanges total: the
    distinct over (key, token) (map-side partial) and the window sort
    within (token, shard); output is bounded by the vocabulary. The
    first posting's delta is its offset into the shard + 1 (always > 0,
    replayable arithmetic); byte sizes use LEB128 widths.
    """
    from pyspark.sql import Window

    seqs = sequences_from_documents(spark, sf_dir)
    post = seqs.select(
        F.substring("doc_id", 5, 12).cast("long").alias("key"),
        F.explode("tokens").alias("token"),
    ).distinct()
    shard = F.expr(f"key div {_IDX_SHARD}")
    w = Window.partitionBy("token", shard).orderBy("key")
    seg = post.select(
        "token",
        shard.alias("shard"),
        F.coalesce(
            F.col("key") - F.lag("key").over(w),
            F.col("key") - shard * _IDX_SHARD + 1,
        ).alias("delta"),
    )
    # per-(token, shard) partial first: it shares the window's
    # partitioning (no exchange), so the token-level agg exchanges one
    # row per SEGMENT, not one per posting
    segs = seg.groupBy("token", "shard").agg(
        F.count(F.lit(1)).alias("seg_docs"),
        F.sum(
            F.when(F.col("delta") < 128, 1)
            .when(F.col("delta") < 16384, 2)
            .otherwise(3)
        ).alias("seg_bytes"),
    )
    return segs.groupBy("token").agg(
        F.sum("seg_docs").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_segments"),
        F.sum("seg_bytes").cast("long").alias("idx_bytes"),
    ).select(F.col("token").cast("int").alias("token"),
             "n_docs", "n_segments", "idx_bytes")


_DSIR_BUCKETS = 1024  # hashed bigram feature space (DSIR NeurIPS'23)


@q(
    "dsir_importance_weights",
    f"""
    WITH seq AS (SELECT printf('doc-%012d', doc_id) AS doc_id, lang,
                        {_TOK_SQL} AS l FROM documents),
         pairs AS (
           SELECT doc_id, lang,
                  unnest(list_zip(l[1:len(l) - 1], l[2:len(l)])) AS p
           FROM seq WHERE len(l) >= 2),
         feats AS (
           SELECT doc_id, lang,
                  (({_CMS_PARAMS[0][1]} *
                    ((CAST(p[1] AS BIGINT) * {_CMS_V} + CAST(p[2] AS BIGINT))
                     % {_CMS_P}) + {_CMS_PARAMS[0][2]}) % {_CMS_P})
                  % {_DSIR_BUCKETS} AS bucket
           FROM pairs),
         raw_c AS (SELECT bucket, count(*) AS cr FROM feats GROUP BY bucket),
         tgt_c AS (SELECT bucket, count(*) AS ct FROM feats
                   WHERE lang = 'en' GROUP BY bucket),
         ratio AS (
           SELECT raw_c.bucket,
                  (coalesce(ct, 0) + 1) * 1000000 // (cr + 1) AS r
           FROM raw_c LEFT JOIN tgt_c ON raw_c.bucket = tgt_c.bucket)
    SELECT feats.doc_id, CAST(any_value(feats.lang) AS VARCHAR) AS lang,
           CAST(sum(ratio.r) AS BIGINT) AS weight
    FROM feats JOIN ratio ON feats.bucket = ratio.bucket
    GROUP BY feats.doc_id
    ORDER BY weight DESC, doc_id LIMIT 50
    """,
)
def dsir_importance_weights(spark, sf_dir):
    """DSIR: importance weights toward a target domain (NeurIPS'23 shape).

    Data Selection with Importance Resampling scores every raw document
    by how much its hashed n-gram features look like a TARGET corpus
    (here: the lang='en' slice) relative to the raw pool — the method
    behind domain-matched pretraining subsets. Kept exactly replayable:
    bigrams hash into {_DSIR_BUCKETS} buckets with the CMS mod-prime
    map, the likelihood ratio is the add-one-smoothed integer
    (ct+1)*1e6 div (cr+1) per bucket (never a float log), and a doc's
    weight is the sum of its bigram instances' ratios. Scale shape: the
    bucket table is a BOUNDED aggregate ({_DSIR_BUCKETS} rows at any
    corpus size) broadcast back onto the exploded features, so scoring
    adds zero exchange beyond the per-doc sum; top-k cuts with a full
    (weight, doc_id) tiebreak.
    """
    docs = _t(spark, sf_dir, "documents").select(
        F.format_string("doc-%012d", "doc_id").alias("doc_id"),
        "lang",
        F.expr(_TOK_EXPR).alias("tokens"),
        (F.col("n_chars") % 64 + 1).cast("int").alias("n_tok"),
    )
    a, b = _CMS_PARAMS[0][1], _CMS_PARAMS[0][2]
    feats = docs.filter(F.col("n_tok") >= 2).select(
        "doc_id", "lang",
        F.explode(F.expr(
            f"transform(sequence(0, n_tok - 2), i -> "
            f"((({a}L * ((CAST(tokens[i] AS BIGINT) * {_CMS_V} + "
            f"tokens[i + 1]) % {_CMS_P}) + {b}) % {_CMS_P}) "
            f"% {_DSIR_BUCKETS}))"
        )).alias("bucket"),
    )
    raw_c = feats.groupBy("bucket").agg(F.count(F.lit(1)).alias("cr"))
    tgt_c = feats.filter(F.col("lang") == "en").groupBy("bucket").agg(
        F.count(F.lit(1)).alias("ct"))
    ratio = raw_c.join(tgt_c, "bucket", "left").select(
        "bucket",
        F.expr("(coalesce(ct, 0L) + 1L) * 1000000L div (cr + 1L)")
        .alias("r"),
    )
    return (
        feats.join(F.broadcast(ratio), "bucket")
        .groupBy("doc_id")
        .agg(F.any_value(F.col("lang")).alias("lang"),
             F.sum("r").cast("long").alias("weight"))
        .orderBy(F.desc("weight"), "doc_id")
        .limit(50)
        .select("doc_id", "lang", "weight")
    )


@q(
    "quantile_sketch_bins",
    """
    WITH b AS (SELECT source, n_chars // 16 AS bin, count(*) AS c
               FROM documents GROUP BY 1, 2),
         t AS (SELECT source, bin, c,
                      sum(c) OVER (PARTITION BY source ORDER BY bin) AS cum,
                      sum(c) OVER (PARTITION BY source) AS n
               FROM b)
    SELECT source,
           CAST(max(n) AS BIGINT) AS n_docs,
           CAST(min(CASE WHEN cum * 100 >= n * 50
                         THEN (bin + 1) * 16 END) AS BIGINT) AS p50_ub,
           CAST(min(CASE WHEN cum * 100 >= n * 90
                         THEN (bin + 1) * 16 END) AS BIGINT) AS p90_ub,
           CAST(min(CASE WHEN cum * 100 >= n * 99
                         THEN (bin + 1) * 16 END) AS BIGINT) AS p99_ub
    FROM t GROUP BY source
    """,
)
def quantile_sketch_bins(spark, sf_dir):
    """Mergeable histogram-bin quantiles — bounded exchange at any scale.

    percentiles_by_type is the exact path (full sort of each group);
    this is the sketch path a 100 TB profile job needs: each task folds
    its rows into per-(source, 16-wide bin) counts, the exchange
    carries at most |sources| x |bins| rows per task regardless of
    corpus size, and the quantile answer is the first bin upper edge
    whose cumulative count reaches ceil(p * n) — integer comparisons
    (cum*100 >= n*p) both engines evaluate identically, never a float
    rank. The answer is exact-to-one-bin by construction (every value
    in [bin*16, bin*16+16) reports the same edge).
    """
    from pyspark.sql import Window

    bins = _t(spark, sf_dir, "documents").groupBy(
        "source", F.expr("n_chars div 16").alias("bin")
    ).agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("source")
    t = bins.select(
        "source", "bin", "c",
        F.sum("c").over(w.orderBy("bin")).alias("cum"),
        F.sum("c").over(w).alias("n"),
    )

    def edge(p: int, name: str):
        return F.min(
            F.when(F.col("cum") * 100 >= F.col("n") * p,
                   (F.col("bin") + 1) * 16)
        ).cast("long").alias(name)

    return t.groupBy("source").agg(
        F.max("n").cast("long").alias("n_docs"),
        edge(50, "p50_ub"), edge(90, "p90_ub"), edge(99, "p99_ub"),
    )


_TSAMPLE_K = 1000  # total docs the balanced mixture should keep


@q(
    "temperature_sample_langs",
    f"""
    WITH n AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
         w AS (SELECT lang, n_docs,
                      CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1000000)
                           AS BIGINT) AS wgt
               FROM n),
         t AS (SELECT lang, n_docs, wgt,
                      {_TSAMPLE_K} * wgt // (SELECT sum(wgt) FROM w) AS target
               FROM w),
         ranked AS (
           SELECT doc_id, lang,
                  row_number() OVER (
                    PARTITION BY lang
                    ORDER BY ({_CMS_PARAMS[1][1]} * (doc_id % {_CMS_P})
                              + {_CMS_PARAMS[1][2]}) % {_CMS_P}, doc_id
                  ) AS rk
           FROM documents)
    SELECT t.lang, CAST(t.n_docs AS BIGINT) AS n_docs,
           CAST(t.target AS BIGINT) AS target,
           CAST(count(ranked.doc_id) AS BIGINT) AS n_kept,
           CAST(coalesce(sum(ranked.doc_id), 0) AS BIGINT) AS kept_id_sum
    FROM t LEFT JOIN ranked
      ON ranked.lang = t.lang AND ranked.rk <= t.target
    GROUP BY t.lang, t.n_docs, t.target
    """,
)
def temperature_sample_langs(spark, sf_dir):
    """Temperature-scaled language balancing (the mT5/XLM-R mixture rule).

    Rare languages are upweighted by sampling proportionally to
    n_l^alpha instead of n_l; alpha = 0.5 keeps the whole computation
    engine-exact because IEEE sqrt is correctly rounded (a general pow
    is not), and the weight is floored to integer micros before the
    quota split. Membership is a reproducible rank cut: docs rank by a
    mod-prime hash coin (full doc_id tiebreak) within their language
    and the first `target` ranks stay — identical at any parallelism,
    any engine, any epoch. Scale shape: the language histogram and
    quota table are bounded aggregates; the rank is one window exchange
    partitioned by lang (languages are few and fat — at 100 TB the rank
    cut would move to the per-shard quota form of source_quota_cap, the
    documented knob); output is O(|langs|), pinned by kept-id sums.
    """
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    n = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    w = n.select(
        "lang", "n_docs",
        F.floor(F.sqrt(F.col("n_docs").cast("double")) * 1_000_000)
        .cast("long").alias("wgt"),
    )
    total = w.agg(F.sum("wgt")).first()[0]
    t = w.select(
        "lang", "n_docs",
        F.expr(f"{_TSAMPLE_K} * wgt div {total}").alias("target"),
    )
    a, b = _CMS_PARAMS[1][1], _CMS_PARAMS[1][2]
    rk = F.row_number().over(
        Window.partitionBy("lang").orderBy(
            F.expr(f"({a}L * (doc_id % {_CMS_P}) + {b}) % {_CMS_P}"),
            "doc_id",
        )
    )
    ranked = docs.select("doc_id", "lang", rk.alias("rk"))
    kept = ranked.join(F.broadcast(t), "lang").filter(
        F.col("rk") <= F.col("target"))
    return (
        t.join(
            kept.groupBy("lang").agg(
                F.count(F.lit(1)).alias("n_kept_raw"),
                F.sum("doc_id").alias("kept_sum_raw"),
            ),
            "lang", "left",
        )
        .select(
            "lang",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("target").cast("long").alias("target"),
            F.coalesce(F.col("n_kept_raw"), F.lit(0))
            .cast("long").alias("n_kept"),
            F.coalesce(F.col("kept_sum_raw"), F.lit(0))
            .cast("long").alias("kept_id_sum"),
        )
    )


# ===========================================================================
# reference operator inventory (SURVEY.md §2) over the TPC-H-ish tables
# ===========================================================================

@q(
    "scan_projection_filter",
    """
    SELECT l_orderkey, l_linenumber, l_quantity
    FROM lineitem WHERE l_shipdate < TIMESTAMP '1996-06-01 00:00:00'
    """,
)
def scan_projection_filter(spark, sf_dir):
    """§2.1/§2.2: pruned scan with pushed-down predicate."""
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_shipdate") < "1996-06-01").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )


@q(
    "derived_columns",
    """
    SELECT l_orderkey, l_linenumber,
           CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)
               AS revenue_cents,
           CAST(length(l_returnflag) + length(l_linestatus) AS BIGINT) AS n_flag_chars,
           CAST(least(l_quantity, 25.0) AS DOUBLE) AS capped_qty
    FROM lineitem WHERE l_orderkey % 100 = 0
    """,
)
def derived_columns(spark, sf_dir):
    """§2.2: computed scalars at transform time (gas-price-math analog).

    Money goes out as integer cents via floor(x*100+0.5): IEEE double
    arithmetic is deterministic across engines, while round() half-up /
    half-even conventions are not.
    """
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_orderkey") % 100 == 0).select(
        "l_orderkey",
        "l_linenumber",
        F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + 0.5)
        .cast("long")
        .alias("revenue_cents"),
        (F.length("l_returnflag") + F.length("l_linestatus"))
        .cast("long")
        .alias("n_flag_chars"),
        F.least(F.col("l_quantity"), F.lit(25.0)).cast("double").alias("capped_qty"),
    )


@q(
    "filter_every_nth",
    """
    SELECT o_orderkey, o_custkey, o_orderstatus FROM orders
    WHERE o_orderkey BETWEEN 1000 AND 20000 AND o_orderkey % 5 = 0
    """,
)
def filter_every_nth(spark, sf_dir):
    """§2.3: key-space predicate (cryo block syntax `1000:20000:5` analog)."""
    o = _t(spark, sf_dir, "orders")
    return o.filter(
        F.col("o_orderkey").between(1000, 20000) & (F.col("o_orderkey") % 5 == 0)
    ).select("o_orderkey", "o_custkey", "o_orderstatus")


@q(
    "join_broadcast_enrich",
    """
    SELECT year(o.o_orderdate)::INT AS order_year,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(l.l_quantity) AS DOUBLE) AS sum_qty
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY 1
    """,
)
def join_broadcast_enrich(spark, sf_dir):
    """§2.4: block->tx broadcast-enrichment analog (small side broadcast)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    return (
        li.join(F.broadcast(o), li.l_orderkey == o.o_orderkey)
        .groupBy(F.year("o_orderdate").cast("int").alias("order_year"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            F.sum("l_quantity").cast("double").alias("sum_qty"),
        )
    )


@q(
    "join_semi_keydriven",
    """
    SELECT o_orderkey, o_totalprice FROM orders
    WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
    """,
)
def join_semi_keydriven(spark, sf_dir):
    """§2.1: keys-from-table driving a scan (left-semi join)."""
    o = _t(spark, sf_dir, "orders")
    keys = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    ).select("c_custkey")
    return o.join(
        F.broadcast(keys), o.o_custkey == keys.c_custkey, "left_semi"
    ).select("o_orderkey", "o_totalprice")


@q(
    "join_left_counts",
    """
    SELECT o.o_orderkey, CAST(count(l.l_orderkey) AS BIGINT) AS n_lines
    FROM orders o LEFT JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey % 50 = 0 GROUP BY o.o_orderkey
    """,
)
def join_left_counts(spark, sf_dir):
    """§2.4: tx-zip-receipts analog (left join keeps zero-match keys)."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 50 == 0)
    li = _t(spark, sf_dir, "lineitem")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left")
        .groupBy(o.o_orderkey)
        .agg(F.count(li.l_orderkey).cast("long").alias("n_lines"))
    )


@q(
    "agg_chunk_stats",
    """
    SELECT CAST(floor(o_orderkey / 1000) AS BIGINT) AS bucket,
           CAST(min(o_orderkey) AS BIGINT) AS min_key,
           CAST(max(o_orderkey) AS BIGINT) AS max_key,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM orders GROUP BY 1
    """,
)
def agg_chunk_stats(spark, sf_dir):
    """§2.5: ChunkStats::fold analog — per-chunk min/max/count."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy(
        F.floor(F.col("o_orderkey") / 1000).cast("long").alias("bucket")
    ).agg(
        F.min("o_orderkey").cast("long").alias("min_key"),
        F.max("o_orderkey").cast("long").alias("max_key"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
    )


@q(
    "agg_signature_counts",
    """
    SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS total_value_cents
    FROM events GROUP BY event_type
    """,
)
def agg_signature_counts(spark, sf_dir):
    """§2.5: four_byte_counts analog — per-signature counts.

    Per-row cent quantization before the sum keeps the aggregate an
    exact integer (order-independent across engines).
    """
    e = _t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long"))
        .cast("long")
        .alias("total_value_cents"),
    )


@q("distinct_scan_keys", "SELECT DISTINCT l_suppkey FROM lineitem")
def distinct_scan_keys(spark, sf_dir):
    """§2.1/§2.5: unique() over a parquet-read key column."""
    return _t(spark, sf_dir, "lineitem").select("l_suppkey").distinct()


@q(
    "sort_multi_key",
    """
    SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
    ORDER BY l_orderkey, l_linenumber LIMIT 100
    """,
)
def sort_multi_key(spark, sf_dir):
    """§2.7: sort_by_schema analog — multi-column ordered output."""
    return (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber")
        .limit(100)
    )


@q(
    "asof_timestamp_lookup",
    """
    SELECT CAST(floor(epoch(max(ts))) AS BIGINT) AS asof_epoch,
           CAST(count(*) AS BIGINT) AS n_before
    FROM events WHERE ts <= TIMESTAMP '2024-01-15 00:00:00'
    """,
)
def asof_timestamp_lookup(spark, sf_dir):
    """§2.1: timestamp->block binary-search analog (as-of max lookup)."""
    e = _t(spark, sf_dir, "events")
    return e.filter(F.col("ts") <= "2024-01-15 00:00:00").agg(
        F.unix_timestamp(F.max("ts")).cast("long").alias("asof_epoch"),
        F.count(F.lit(1)).cast("long").alias("n_before"),
    )


@q(
    "multi_output_shared_scan",
    """
    SELECT 'by_status' AS dataset, o_orderstatus AS key,
           CAST(count(*) AS BIGINT) AS n FROM orders GROUP BY o_orderstatus
    UNION ALL
    SELECT 'by_priority' AS dataset, o_orderpriority AS key,
           CAST(count(*) AS BIGINT) AS n FROM orders GROUP BY o_orderpriority
    """,
)
def multi_output_shared_scan(spark, sf_dir):
    """§2.1: MultiDatatype shared fetch — one cached scan, two outputs."""
    o = _t(spark, sf_dir, "orders").cache()
    a = o.groupBy(F.col("o_orderstatus").alias("key")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    ).select(F.lit("by_status").alias("dataset"), "key", "n")
    b = o.groupBy(F.col("o_orderpriority").alias("key")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    ).select(F.lit("by_priority").alias("dataset"), "key", "n")
    return a.unionAll(b)


@q(
    "reorg_buffer_filter",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_kept,
           CAST(max(l_orderkey) AS BIGINT) AS high_water
    FROM lineitem
    WHERE l_orderkey <= (SELECT max(l_orderkey) - 1000 FROM lineitem)
    """,
)
def reorg_buffer_filter(spark, sf_dir):
    """§2.3: reorg-buffer / late-data guard — keep keys <= latest - N."""
    li = _t(spark, sf_dir, "lineitem")
    hw = li.agg((F.max("l_orderkey") - 1000).alias("hw"))
    return (
        li.join(F.broadcast(hw))
        .filter(F.col("l_orderkey") <= F.col("hw"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_kept"),
            F.max("l_orderkey").cast("long").alias("high_water"),
        )
    )


@q(
    "hex_representation",
    """
    SELECT doc_id, concat('0x', lower(to_hex(doc_id))) AS key_hex,
           upper(lang) AS lang_upper
    FROM documents WHERE doc_id % 7 = 0
    """,
)
def hex_representation(spark, sf_dir):
    """§1.4/§2.9: Binary-vs-Hex representation transform."""
    d = _t(spark, sf_dir, "documents")
    return d.filter(F.col("doc_id") % 7 == 0).select(
        "doc_id",
        F.concat(F.lit("0x"), F.lower(F.hex("doc_id"))).alias("key_hex"),
        F.upper("lang").alias("lang_upper"),
    )


@q(
    "partition_align_chunks",
    """
    SELECT CAST(floor(o_orderkey / 1000) * 1000 AS BIGINT) AS aligned_start,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers
    FROM orders GROUP BY 1
    """,
)
def partition_align_chunks(spark, sf_dir):
    """§2.10: aligned chunk boundaries (floor(k/size)*size)."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy(
        (F.floor(F.col("o_orderkey") / 1000) * 1000).cast("long").alias("aligned_start")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.countDistinct("o_custkey").cast("long").alias("n_customers"),
    )


# ===========================================================================
# training-data pipeline operators (documents / embeddings)
# ===========================================================================

@q(
    "dedup_exact",
    """
    SELECT md5(text) AS content_hash,
           CAST(count(*) AS BIGINT) AS n_copies,
           CAST(min(doc_id) AS BIGINT) AS keeper_doc_id
    FROM documents GROUP BY md5(text)
    """,
)
def dedup_exact(spark, sf_dir):
    """Exact dedup: hash-groupBy, keep min doc_id per content hash."""
    d = _t(spark, sf_dir, "documents")
    return d.groupBy(F.md5("text").alias("content_hash")).agg(
        F.count(F.lit(1)).cast("long").alias("n_copies"),
        F.min("doc_id").cast("long").alias("keeper_doc_id"),
    )


@q(
    "text_quality_score",
    """
    SELECT doc_id,
           CAST(n_chars AS BIGINT) AS n_chars,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
           CAST(length(text) - length(replace(text, '.', '')) AS BIGINT) AS n_periods,
           CASE WHEN n_chars > 500 THEN 'long'
                WHEN n_chars > 100 THEN 'medium' ELSE 'short' END AS length_bucket
    FROM documents
    """,
)
def text_quality_score(spark, sf_dir):
    """Quality scoring: length / word / punctuation stats per document."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.size(F.split("text", " ", -1)).cast("long").alias("n_words"),
        (F.length("text") - F.length(F.regexp_replace("text", "\\.", "")))
        .cast("long")
        .alias("n_periods"),
        F.when(F.col("n_chars") > 500, "long")
        .when(F.col("n_chars") > 100, "medium")
        .otherwise("short")
        .alias("length_bucket"),
    )


@q(
    "lang_id_heuristic",
    """
    SELECT doc_id, lang AS labeled_lang,
           CASE WHEN length(text) - length(replace(text, ' the ', '')) > 0
                THEN 'en' ELSE 'other' END AS predicted_lang
    FROM documents
    """,
)
def lang_id_heuristic(spark, sf_dir):
    """Language-ID n-gram heuristic (stopword occurrence)."""
    d = _t(spark, sf_dir, "documents")
    n_the = F.length("text") - F.length(
        F.replace(F.col("text"), F.lit(" the "), F.lit(""))
    )
    return d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        F.when(n_the > 0, "en").otherwise("other").alias("predicted_lang"),
    )


@q(
    "token_count_ws",
    """
    SELECT source,
           CAST(sum(len(string_split(trim(text), ' '))) AS BIGINT) AS total_ws_tokens,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM documents GROUP BY source
    """,
)
def token_count_ws(spark, sf_dir):
    """Whitespace token counting per corpus slice."""
    d = _t(spark, sf_dir, "documents")
    return d.groupBy("source").agg(
        F.sum(F.size(F.split(F.trim(F.col("text")), " ", -1)))
        .cast("long")
        .alias("total_ws_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
    )


@q(
    "token_vocab_topk",
    f"""
    WITH toks AS (SELECT unnest({_TOK_SQL}) AS token FROM documents)
    SELECT CAST(token AS INT) AS token, CAST(count(*) AS BIGINT) AS freq
    FROM toks GROUP BY token ORDER BY freq DESC, token LIMIT 100
    """,
)
def token_vocab_topk(spark, sf_dir):
    """Corpus vocabulary histogram: top-100 token ids by frequency.

    The canonical distributed wordcount over the token payload
    (explode -> hash aggregate). Scale shape: partial (map-side)
    aggregation bounds the shuffle at |vocab| rows per task regardless
    of corpus size, and the top-k is a TakeOrdered over <=50,257
    aggregated rows — no global sort of token occurrences. Tie at the
    k-th row is broken by token id so both engines cut identically.
    """
    seqs = sequences_from_documents(spark, sf_dir)
    return (
        seqs.select(F.explode("tokens").alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
        .orderBy(F.desc("freq"), "token")
        .limit(100)
    )


@q(
    "token_pair_topk",
    f"""
    WITH seq AS (SELECT {_TOK_SQL} AS l FROM documents),
         pairs AS (SELECT unnest(list_zip(l[1:len(l) - 1], l[2:len(l)])) AS p
                   FROM seq WHERE len(l) >= 2)
    SELECT CAST(p[1] AS INT) AS t1, CAST(p[2] AS INT) AS t2,
           CAST(count(*) AS BIGINT) AS freq
    FROM pairs GROUP BY 1, 2 ORDER BY freq DESC, t1, t2 LIMIT 50
    """,
)
def token_pair_topk(spark, sf_dir):
    """Adjacent token-pair frequencies: one BPE merge-statistics pass.

    The counting step of a byte-pair-encoding vocabulary extension —
    the top merge candidates over the corpus. Same wordcount shape as
    token_vocab_topk but over bigrams: explode fan-out is n_tok-1 per
    doc, partial aggregation bounds the shuffle at the distinct-pair
    count per task, TakeOrdered cuts the top-k with a full (freq, t1,
    t2) tiebreak so both engines cut identically. One-token docs
    contribute no pairs (filtered before the transform so sequence()
    never sees a negative stop).
    """
    seqs = sequences_from_documents(spark, sf_dir)
    pairs = seqs.filter(F.col("n_tok") >= 2).select(
        F.explode(F.expr(
            "transform(sequence(0, n_tok - 2), "
            "i -> struct(tokens[i] AS t1, tokens[i + 1] AS t2))"
        )).alias("p")
    )
    return (
        pairs.groupBy(F.col("p.t1").alias("t1"), F.col("p.t2").alias("t2"))
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
        .orderBy(F.desc("freq"), "t1", "t2")
        .limit(50)
    )


_TFIDF_TERMS = ("customer", "window", "merge")
_TFIDF_TERMS_SQL = ", ".join(f"'{t}'" for t in _TFIDF_TERMS)


@q(
    "tfidf_topk_docs",
    f"""
    WITH words AS (
      SELECT doc_id, unnest(string_split(trim(text), ' ')) AS word
      FROM documents
    ),
    tf AS (
      SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf
      FROM words WHERE word IN ({_TFIDF_TERMS_SQL})
      GROUP BY 1, 2
    ),
    idf AS (
      SELECT word,
             (SELECT count(*) FROM documents) * 1000000 // count(*) AS idf
      FROM tf GROUP BY word
    )
    SELECT CAST(tf.doc_id AS BIGINT) AS doc_id,
           CAST(sum(tf.tf * idf.idf) AS BIGINT) AS score
    FROM tf JOIN idf USING (word)
    GROUP BY 1 ORDER BY score DESC, doc_id LIMIT 20
    """,
)
def tfidf_topk_docs(spark, sf_dir):
    """Relevance search: top-20 documents for a fixed term set by tf-idf.

    The retrieval primitive of a training-data search/filter pass
    (keyword retrieval over the corpus, BM25's shape without the length
    normalization). Scoring is *pure integer arithmetic* — idf is the
    floor-divided ratio ``N * 1e6 div df`` instead of a float log — so
    both engines produce bit-identical scores (float ln() differs in
    the last ulp between libms; see the suite's float policy).

    Scale shape: the term predicate filters the exploded words BEFORE
    the (doc_id, word) partial aggregation, so the shuffle carries only
    matching-term rows; idf is a per-term aggregate (|terms| rows)
    broadcast back onto tf — no corpus-sized join shuffle; the top-k is
    a TakeOrdered with a full (score, doc_id) tiebreak. tf's lineage is
    evaluated twice (df pass + score pass) — at production scale,
    checkpoint tf or source df from a corpus-statistics table.
    """
    d = _t(spark, sf_dir, "documents")
    words = d.select(
        "doc_id", F.explode(F.split(F.trim(F.col("text")), " ", -1)).alias("word")
    )
    tf = (
        words.filter(F.col("word").isin(*_TFIDF_TERMS))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    idf = (
        tf.groupBy("word")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(n))
        .select("word", F.expr("n_docs * 1000000L div df").alias("idf"))
    )
    return (
        tf.join(F.broadcast(idf), "word")
        .groupBy("doc_id")
        .agg(F.sum(F.col("tf") * F.col("idf")).cast("long").alias("score"))
        .orderBy(F.desc("score"), "doc_id")
        .limit(20)
        .select(F.col("doc_id").cast("long").alias("doc_id"), "score")
    )


@q(
    "doc_fingerprint",
    """
    SELECT substr(md5(lower(trim(text))), 1, 16) AS fingerprint,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS first_doc
    FROM documents GROUP BY 1
    """,
)
def doc_fingerprint(spark, sf_dir):
    """Document fingerprinting (normalized-content hash prefix)."""
    d = _t(spark, sf_dir, "documents")
    return d.groupBy(
        F.substring(F.md5(F.lower(F.trim(F.col("text")))), 1, 16).alias("fingerprint")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.min("doc_id").cast("long").alias("first_doc"),
    )


@q(
    "quality_word_repetition",
    """
    WITH w AS (SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents),
    tok AS (SELECT doc_id, len(ws) AS n_words, unnest(ws) AS word FROM w),
    wc AS (SELECT doc_id, n_words, word, count(*) AS c
           FROM tok GROUP BY doc_id, n_words, word)
    SELECT doc_id,
           CAST(n_words AS BIGINT) AS n_words,
           CAST(count(*) AS BIGINT) AS n_distinct_words,
           CAST(max(c) AS BIGINT) AS top_word_count,
           CAST(max(c) AS DOUBLE) / n_words AS top_word_frac
    FROM wc GROUP BY doc_id, n_words
    """,
)
def quality_word_repetition(spark, sf_dir):
    """Gopher-style unigram repetition signals per document.

    distinct-word and top-word fractions drive "remove documents whose
    most common word covers > X% of the text" quality rules (Gopher
    Table A1 / RefinedWeb). Shape: explode -> two-level groupBy — the
    canonical scalable form (map-side partial counts, shuffle keyed by
    (doc_id, word) then doc_id; no per-doc quadratic array lambdas).
    """
    d = _t(spark, sf_dir, "documents")
    w = d.select("doc_id", F.split(F.trim(F.col("text")), " ", -1).alias("ws"))
    tok = w.select(
        "doc_id", F.size("ws").alias("n_words"), F.explode("ws").alias("word")
    )
    wc = tok.groupBy("doc_id", "n_words", "word").agg(
        F.count(F.lit(1)).alias("c")
    )
    return wc.groupBy("doc_id", "n_words").agg(
        F.count(F.lit(1)).cast("long").alias("n_distinct_words"),
        F.max("c").cast("long").alias("top_word_count"),
        (F.max("c").cast("double") / F.col("n_words")).alias("top_word_frac"),
    ).select(
        "doc_id",
        F.col("n_words").cast("long").alias("n_words"),
        "n_distinct_words",
        "top_word_count",
        "top_word_frac",
    )


@q(
    "quality_top_bigram",
    """
    WITH w AS (SELECT doc_id, string_split(trim(text), ' ') AS ws
               FROM documents WHERE len(string_split(trim(text), ' ')) >= 2),
    bgs AS (SELECT doc_id,
                   list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1]) AS bgl
            FROM w),
    bg AS (SELECT doc_id, len(bgl) AS n_bigrams, unnest(bgl) AS bigram FROM bgs),
    bc AS (SELECT doc_id, n_bigrams, bigram, count(*) AS c
           FROM bg GROUP BY doc_id, n_bigrams, bigram)
    SELECT doc_id,
           CAST(n_bigrams AS BIGINT) AS n_bigrams,
           CAST(max(c) AS BIGINT) AS top_bigram_count,
           CAST(max(c) AS DOUBLE) / n_bigrams AS top_bigram_frac
    FROM bc GROUP BY doc_id, n_bigrams
    """,
)
def quality_top_bigram(spark, sf_dir):
    """Top word-2-gram coverage per document (Gopher repetition rule).

    Bigrams are built with array expressions (zip_with over two slices
    — JVM-side, no Python), then explode + groupBy for the frequency
    max: the same scalable shape as quality_word_repetition.
    """
    d = _t(spark, sf_dir, "documents")
    w = d.select(
        "doc_id", F.split(F.trim(F.col("text")), " ", -1).alias("ws")
    ).where(F.size("ws") >= 2)
    bg = w.select(
        "doc_id",
        (F.size("ws") - 1).alias("n_bigrams"),
        F.explode(
            F.expr(
                "zip_with(slice(ws, 1, size(ws)-1), slice(ws, 2, size(ws)-1), "
                "(a, b) -> concat(a, ' ', b))"
            )
        ).alias("bigram"),
    )
    bc = bg.groupBy("doc_id", "n_bigrams", "bigram").agg(
        F.count(F.lit(1)).alias("c")
    )
    return bc.groupBy("doc_id", "n_bigrams").agg(
        F.max("c").cast("long").alias("top_bigram_count"),
        (F.max("c").cast("double") / F.col("n_bigrams")).alias("top_bigram_frac"),
    ).select(
        "doc_id",
        F.col("n_bigrams").cast("long").alias("n_bigrams"),
        "top_bigram_count",
        "top_bigram_frac",
    )


@q(
    "collapse_word_runs",
    """
    WITH w AS (SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents)
    SELECT doc_id,
           CAST(len(ws) AS BIGINT) AS n_words,
           CAST(1 + len(list_filter(range(2, len(ws) + 1),
                                    i -> ws[i] != ws[i-1])) AS BIGINT) AS n_runs,
           CAST(1 + len(list_filter(range(2, len(ws) + 1),
                                    i -> ws[i] != ws[i-1])) AS DOUBLE)
               / len(ws) AS distinct_run_frac
    FROM w
    """,
)
def collapse_word_runs(spark, sf_dir):
    """Consecutive-duplicate word runs per document (RLE on words).

    n_runs = length after collapsing adjacent repeats ("batch batch
    batch" -> "batch"); low distinct_run_frac flags stutter-repetition
    docs. Entirely array expressions on the row — narrow plan, zero
    shuffle, whole-stage codegen (the per-doc analog of the engine's
    RLE codec in codecs/ints.py).
    """
    d = _t(spark, sf_dir, "documents")
    w = d.select("doc_id", F.split(F.trim(F.col("text")), " ", -1).alias("ws"))
    n_runs = F.expr(
        "size(filter(ws, (x, i) -> i = 0 OR NOT (x = element_at(ws, i))))"
    ).cast("long")
    return w.select(
        "doc_id",
        F.size("ws").cast("long").alias("n_words"),
        n_runs.alias("n_runs"),
        (n_runs.cast("double") / F.size("ws")).alias("distinct_run_frac"),
    )


_COS_SPARK = (
    "aggregate(zip_with(a, b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
    "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v) / "
    "(sqrt(aggregate(transform(a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), "
    "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)) * "
    "sqrt(aggregate(transform(b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), "
    "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)))"
)


@q(
    "ann_cosine_topk",
    """
    SELECT vec_id, label FROM (
      SELECT e.vec_id, e.label, list_cosine_similarity(e.embedding, q.embedding) AS sim
      FROM embeddings e
      CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q
      WHERE e.vec_id != 0
    ) t ORDER BY sim DESC, vec_id LIMIT 10
    """,
)
def ann_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-k (the exact ANN baseline).

    The query vector is broadcast; the scan side stays distributed —
    at scale this is one pass over the embedding table, no shuffle
    before the top-k (TakeOrdered).
    """
    e = _t(spark, sf_dir, "embeddings")
    query = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("b"))
    return (
        e.filter(F.col("vec_id") != 0)
        .select("vec_id", "label", F.col("embedding").alias("a"))
        .join(F.broadcast(query))
        .select("vec_id", "label", F.expr(_COS_SPARK).alias("sim"))
        .orderBy(F.desc("sim"), "vec_id")
        .limit(10)
        .select("vec_id", "label")
    )


@q(
    "near_dup_embeddings",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_near_dup_pairs
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE a.vec_id % 5 = 0 AND b.vec_id % 5 = 0
      AND a.vec_id < 25000 AND b.vec_id < 25000
      AND list_cosine_similarity(a.embedding, b.embedding) > 0.95
    """,
)
def near_dup_embeddings(spark, sf_dir):
    """Embedding-cosine near-duplicate pair count (threshold 0.95).

    All-pairs on a sampled slice — the quadratic baseline the LSH path
    (dedup_minhash_lsh) exists to avoid at scale. The mod-5 slice is
    still Theta((n/5)^2) at 100x, so the slice ALSO carries an absolute
    cap (vec_id < 25000 -> <= 5000 vectors, <= 12.5M candidate pairs)
    making the query safe even lifted out of oracle duty; both
    predicates appear identically in the SQL oracle. The cap does not
    bind at the test SFs (max vec_id 1999 at sf0.1).
    """
    e = (_t(spark, sf_dir, "embeddings")
         .filter((F.col("vec_id") % 5 == 0) & (F.col("vec_id") < 25000)))
    a = e.select(F.col("vec_id").alias("ida"), F.col("embedding").alias("a"))
    b = e.select(F.col("vec_id").alias("idb"), F.col("embedding").alias("b"))
    return (
        a.join(b, F.col("ida") < F.col("idb"))
        .filter(F.expr(_COS_SPARK) > 0.95)
        .agg(F.count(F.lit(1)).cast("long").alias("n_near_dup_pairs"))
    )


# ---------------------------------------------------------------------------
# MinHash / SimHash / LSH dedup — portable mod-prime arithmetic
#
# Every hash below is pure integer arithmetic over a prime field
# (shingle poly-hash, multiply-mod-prime permutations, LCG-parity bit
# draws), so a DuckDB oracle recomputes the IDENTICAL values in SQL and
# the whole pipeline — signatures, band join, jaccard verify, connected
# components — is hash-equality-checked, not rows-only. The numpy
# mapInArrow kernels do the same work vectorized (SQL higher-order
# lambdas evaluate interpreted at ~4 us/element-op — measured 11 s for
# the minhash stage at sf0.1 vs ~0.1 s for the kernel).
# ---------------------------------------------------------------------------

_J_PRIME = 1_000_003  # field prime: products stay < 2^63 in both engines
_SH_BASE = 131
_SHINGLE_K = 5
_MINHASH_PERMS = 32
_MH_MULT = [pow(48271, p + 1, _J_PRIME) for p in range(_MINHASH_PERMS)]
_MH_ADD = [(7919 * p + 13) % _J_PRIME for p in range(_MINHASH_PERMS)]
_SIM_BITS = 32
_SIM_MULT = [pow(48271, 101 + b, _J_PRIME) for b in range(_SIM_BITS)]
_SIM_ADD = [(104729 * b + 7) % _J_PRIME for b in range(_SIM_BITS)]
_LSH_BANDS, _LSH_ROWS = 8, 4
# Jaccard verify threshold 0.6 as an exact integer compare (the sf
# corpora have a clean gap: planted near-dups >= 0.96, background
# <= 0.39 5-gram jaccard — measured at sf0.01 and sf0.1)
_JAC_NUM, _JAC_DEN = 3, 5


def _flat_shingle_hashes(text, k: int = _SHINGLE_K):
    """Flat (hash, owning-doc, shingles-per-doc) for an arrow utf8 column.

    Shingles are k-byte windows hashed with a base-131 polynomial mod
    _J_PRIME — vectorized: k shifted gathers over the concatenated
    buffer, masked at each doc's end so short docs (one zero-padded
    window) hash only their own bytes, never a batch neighbor's.
    Byte values equal codepoints on this all-ASCII corpus, which is what
    lets the DuckDB oracle recompute identical hashes via unicode().
    Coefficients are mod-reduced (131^j mod p) so the k-term int64
    accumulator never overflows for any k: each term < 256 * p ≈ 2.6e8,
    so even k = 10^9 windows would stay < 2^63; the final value is
    congruent to the plain 131^j polynomial mod p either way.
    """
    import numpy as np
    import pyarrow as pa

    if isinstance(text, pa.ChunkedArray):
        text = text.combine_chunks()
    if text.type != pa.string():
        text = text.cast(pa.string())
    n = len(text)
    off = text.offset
    offsets = np.frombuffer(text.buffers()[1], dtype=np.int32)[off : off + n + 1]
    data = np.frombuffer(text.buffers()[2], dtype=np.uint8)
    lengths = np.diff(offsets).astype(np.int64)
    n_sh = np.maximum(lengths - (k - 1), 1)
    doc_of = np.repeat(np.arange(n, dtype=np.int64), n_sh)
    starts = offsets[:-1].astype(np.int64)
    pos = np.arange(len(doc_of), dtype=np.int64) - np.repeat(
        np.cumsum(n_sh) - n_sh, n_sh
    ) + starts[doc_of]
    ends = offsets[1:].astype(np.int64)[doc_of]
    pad = np.concatenate((data, np.zeros(k, dtype=np.uint8)))
    acc = np.zeros(len(pos), dtype=np.int64)
    for j in range(k):
        byte = np.where(pos + j < ends, pad[pos + j], np.uint8(0)).astype(np.int64)
        acc += byte * pow(_SH_BASE, j, _J_PRIME)
    return acc % _J_PRIME, doc_of, n_sh


def _minhash_kernel(batches):
    """mapInArrow kernel: 32 MinHash values per doc over 5-byte shingles.

    Permutations are multiply-mod-prime (a perfect permutation of the
    field for any nonzero multiplier — the classic universal family);
    per-doc minima via ``np.minimum.reduceat``. Deliberately the same
    arithmetic the DuckDB oracle runs, so signatures hash-compare.
    """
    import numpy as np
    import pyarrow as pa

    for b in batches:
        t = pa.Table.from_batches([b])
        if t.num_rows == 0:
            continue
        h, _doc_of, n_sh = _flat_shingle_hashes(t.column("text"))
        doc_starts = np.concatenate(([0], np.cumsum(n_sh)[:-1]))
        cols = {"doc_id": t.column("doc_id").combine_chunks().cast(pa.int64())}
        for p in range(_MINHASH_PERMS):
            hp = (h * _MH_MULT[p] + _MH_ADD[p]) % _J_PRIME
            cols[f"h{p}"] = pa.array(np.minimum.reduceat(hp, doc_starts))
        yield pa.RecordBatch.from_arrays(list(cols.values()), names=list(cols))


_MINHASH_DDL = "doc_id long, " + ", ".join(f"h{p} long" for p in range(_MINHASH_PERMS))


def _sql_shingles(col: str = "text", k: int = _SHINGLE_K) -> str:
    """DuckDB list of the same shingle hashes _flat_shingle_hashes makes.

    Coefficient literals are mod-reduced (131^j mod p) to match the
    kernel and keep every SQL term inside BIGINT for any k.
    """
    terms = " + ".join(
        f"{pow(_SH_BASE, j, _J_PRIME)}::BIGINT * (CASE WHEN i+{j} <= length({col}) "
        f"THEN unicode({col}[i+{j}]) ELSE 0 END)"
        for j in range(k)
    )
    return (
        f"list_transform(range(1, greatest(length({col}) - {k - 2}, 2)), "
        f"i -> ({terms}) % {_J_PRIME})"
    )


def _sql_band_ctes() -> str:
    """CTE chain computing shingles -> minhash -> band signatures."""
    mh_cols = ", ".join(
        f"list_min(list_transform(s, v -> (v*{_MH_MULT[p]}::BIGINT + {_MH_ADD[p]}) % {_J_PRIME})) AS h{p}"
        for p in range(_MINHASH_PERMS)
    )
    bands = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_idx, "
        f"[{', '.join(f'h{b * _LSH_ROWS + r}' for r in range(_LSH_ROWS))}] AS sig FROM mh"
        for b in range(_LSH_BANDS)
    )
    return (
        f"sh AS (SELECT doc_id, {_sql_shingles()} AS s FROM documents), "
        f"mh AS (SELECT doc_id, {mh_cols} FROM sh), "
        f"bands AS ({bands})"
    )


def _sql_minhash_ctes() -> str:
    """CTE chain computing shingles -> minhash -> bands -> candidate pairs."""
    return (
        f"{_sql_band_ctes()}, "
        # the hot-bucket star cap (_lsh_candidate_pairs): buckets over
        # the cap emit only hub->other edges — replayed here so the
        # oracle matches at EVERY scale, not just ones where no bucket
        # exceeds the cap (found live: sf0.1 buckets trip it, sf0.01's
        # don't)
        "bstats AS (SELECT band_idx, sig, count(*) AS bkt_n, "
        "min(doc_id) AS hub FROM bands GROUP BY band_idx, sig), "
        "cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b "
        "FROM bands a JOIN bands b ON a.band_idx = b.band_idx "
        "AND a.sig = b.sig AND a.doc_id < b.doc_id "
        "JOIN bstats s ON s.band_idx = a.band_idx AND s.sig = a.sig "
        f"WHERE s.bkt_n <= {_LSH_BUCKET_CAP} OR a.doc_id = s.hub)"
    )


_LSH_BUCKET_CAP = 64
_BAND_KEYS = ("band_idx", "s0", "s1", "s2", "s3")


def _band_stack(mh: DataFrame) -> DataFrame:
    """Minhash signature rows -> one (band_idx, s0..s3) row per band."""
    return mh.selectExpr(
        "doc_id",
        "stack(" + str(_LSH_BANDS) + ", " + ", ".join(
            f"{b}, " + ", ".join(f"h{b * _LSH_ROWS + r}" for r in range(_LSH_ROWS))
            for b in range(_LSH_BANDS)
        ) + ") AS (band_idx, s0, s1, s2, s3)",
    )


def _lsh_candidate_pairs(mh: DataFrame, cap: int = _LSH_BUCKET_CAP) -> DataFrame:
    """Band-join candidate pairs with a hot-bucket star cap.

    Buckets up to ``cap`` docs pair all-vs-all; larger buckets (a
    million identical docs share every band signature — the quadratic
    blowup VERDICT r1 flagged) emit only star edges to the bucket's min
    doc: O(n) edges whose transitive closure under connected components
    recovers the same cluster. Band keys are the raw 4-perm signature
    columns, so the oracle's band join is value-identical (no engine
    hash involved).
    """
    keys = list(_BAND_KEYS)
    stacked = _band_stack(mh)
    # bucket size + hub via a window: ONE shuffle on the band keys; the
    # self-join reuses that partitioning. ``ann`` (8 narrow sig rows per
    # doc, ~0.5% of corpus bytes) is persisted so the minhash kernel and
    # the text scan run ONCE — un-persisted, every join branch re-runs
    # the whole scan+kernel (observed 3x in the executed plan).
    from pyspark.sql import Window
    from pyspark.storagelevel import StorageLevel

    w = Window.partitionBy(*keys)
    ann = (
        stacked.withColumn("bkt_n", F.count(F.lit(1)).over(w))
        .withColumn("hub", F.min("doc_id").over(w))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # one self-join covers both regimes: small buckets pair all-vs-all,
    # oversized buckets keep only star edges from the hub (= bucket min)
    x = ann.select(*keys, "bkt_n", "hub", F.col("doc_id").alias("doc_a"))
    y = ann.select(*keys, F.col("doc_id").alias("doc_b"))
    return (
        x.join(y, keys)
        .filter(
            (F.col("doc_a") < F.col("doc_b"))
            & ((F.col("bkt_n") <= cap) | (F.col("doc_a") == F.col("hub")))
        )
        .select("doc_a", "doc_b")
        .distinct()
    )


@q(
    "dedup_minhash_lsh",
    f"WITH {_sql_minhash_ctes()} "
    "SELECT CAST(doc_a AS BIGINT) AS doc_a, CAST(doc_b AS BIGINT) AS doc_b FROM cand",
)
def dedup_minhash_lsh(spark, sf_dir):
    """MinHash + LSH banding candidate pairs over 5-gram shingles.

    32 permutations (vectorized mapInArrow kernel — no shuffle until the
    band join), 8 bands x 4 rows; candidate pairs are doc pairs sharing
    any full band signature. Scale path: the band equi-join replaces the
    quadratic all-pairs join; hot buckets are star-capped
    (_lsh_candidate_pairs). Oracle: DuckDB recomputes the identical
    signatures and band join arithmetically.
    """
    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    mh = amap(d, _minhash_kernel, _MINHASH_DDL)
    return _lsh_candidate_pairs(mh)


def _jaccard_kernel(batches):
    """Exact 5-gram-set jaccard for candidate pairs, batch-vectorized.

    Per-row distinct shingle sets become keys ``row * PRIME + hash``;
    one np.unique over the concatenated a/b keys counts intersections
    for the whole batch at once — no per-pair Python loop.
    """
    import numpy as np
    import pyarrow as pa

    for b in batches:
        t = pa.Table.from_batches([b])
        n = t.num_rows
        if n == 0:
            continue

        def dkeys(col):
            h, doc_of, _ = _flat_shingle_hashes(t.column(col))
            return np.unique(doc_of * _J_PRIME + h)

        ka, kb = dkeys("text_a"), dkeys("text_b")
        na = np.bincount(ka // _J_PRIME, minlength=n)
        nb = np.bincount(kb // _J_PRIME, minlength=n)
        uq, cnt = np.unique(np.concatenate([ka, kb]), return_counts=True)
        inter = np.bincount((uq // _J_PRIME)[cnt == 2], minlength=n)
        yield pa.RecordBatch.from_arrays(
            [
                t.column("doc_a").combine_chunks().cast(pa.int64()),
                t.column("doc_b").combine_chunks().cast(pa.int64()),
                pa.array(inter.astype(np.int64)),
                pa.array((na + nb - inter).astype(np.int64)),
            ],
            names=["doc_a", "doc_b", "inter", "uni"],
        )


def _jaccard_verify(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Keep candidate pairs whose exact shingle-set jaccard >= 0.6.

    The compare is integer (5*inter >= 3*union) so Spark and the SQL
    oracle agree bit-for-bit. Cost is O(candidate pairs) — the LSH stage
    already reduced that from O(n^2)."""
    j = (
        pairs
        .join(docs.select(F.col("doc_id").alias("doc_a"),
                          F.col("text").alias("text_a")), "doc_a")
        .join(docs.select(F.col("doc_id").alias("doc_b"),
                          F.col("text").alias("text_b")), "doc_b")
    )
    # AQE sizes the pair shuffle from the id-only rows (~16 B/pair) and
    # coalesces to ONE partition, serializing the O(pairs) kernel into a
    # single task (measured 26 s vs 3 s at sf0.1); spread pairs evenly
    # across the cluster before the cpu-heavy stage.
    n_parts = pairs.sparkSession.sparkContext.defaultParallelism
    scored = amap(
        j.select("doc_a", "doc_b", "text_a", "text_b").repartition(n_parts),
        _jaccard_kernel, "doc_a long, doc_b long, inter long, uni long",
    )
    return scored.filter(
        F.col("inter") * _JAC_DEN >= F.col("uni") * _JAC_NUM
    ).select("doc_a", "doc_b")


def _connected_components(edges: DataFrame, max_iter: int = 25) -> DataFrame:
    """Min-label propagation over undirected edges -> (u, label).

    O(diameter) joined iterations (near-dup clusters are tiny-diameter
    cliques; the cap is a safety net). The edge list is eagerly
    localCheckpoint-ed ONCE up front: it is re-read every iteration (and
    twice by the undirected union), and without the checkpoint each of
    the ~O(diameter) rounds re-runs the entire upstream pipeline (text
    scan -> minhash kernel -> band join -> jaccard verify) — measured
    165 s vs ~10 s at sf0.1. Per-round lineage growth is truncated by
    the in-loop localCheckpoint."""
    edges = edges.localCheckpoint()
    und = edges.selectExpr("doc_a AS u", "doc_b AS v").unionAll(
        edges.selectExpr("doc_b AS u", "doc_a AS v")
    )
    labels = und.select("u").distinct().withColumn("label", F.col("u"))
    # ONE action per round: the lazy localCheckpoint is materialized by
    # the convergence probe itself. Min-propagation only ever lowers a
    # node's label and the u-set is fixed, so sum(label) is strictly
    # monotone-decreasing while anything changes — an unchanged sum IS
    # convergence, replacing the old join-old-vs-new + count() second
    # job (2 actions/round -> 1; decimal sum so 10^12-scale ids can't
    # wrap the comparison).
    prev_sum = None
    for _ in range(max_iter):
        prop = und.join(
            labels.select(F.col("u").alias("v"), F.col("label").alias("cand")), "v"
        ).select("u", F.col("cand").alias("label"))
        new = (
            labels.unionByName(prop)
            .groupBy("u")
            .agg(F.min("label").alias("label"))
            .localCheckpoint(eager=False)
        )
        cur_sum = new.agg(
            F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
        ).first()["s"]
        labels = new
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return labels


def _sql_cluster_ctes() -> str:
    """Shared CTE chain: candidate pairs -> jaccard edges -> closure labels."""
    return (
        f"{_sql_minhash_ctes()}, "
        "shd AS (SELECT doc_id, list_distinct(s) AS sd FROM sh), "
        "edges AS (SELECT doc_a, doc_b FROM cand "
        "JOIN shd a ON a.doc_id = cand.doc_a JOIN shd b ON b.doc_id = cand.doc_b "
        f"WHERE {_JAC_DEN} * len(list_intersect(a.sd, b.sd)) >= "
        f"{_JAC_NUM} * len(list_distinct(a.sd || b.sd))), "
        "und AS (SELECT doc_a AS u, doc_b AS v FROM edges "
        "UNION ALL SELECT doc_b, doc_a FROM edges "
        "UNION ALL SELECT doc_a, doc_a FROM edges "
        "UNION ALL SELECT doc_b, doc_b FROM edges), "
        "reach AS (SELECT u, v FROM und "
        "UNION SELECT r.u, und.v FROM reach r JOIN und ON r.v = und.u), "
        "labels AS (SELECT u, min(v) AS label FROM reach GROUP BY u)"
    )


@q(
    "dedup_clusters",
    f"WITH RECURSIVE {_sql_cluster_ctes()} "
    "SELECT CAST(label AS BIGINT) AS keeper, "
    "CAST(count(*) AS BIGINT) AS cluster_size, "
    "CAST(sum(u) AS BIGINT) AS member_id_sum "
    "FROM labels GROUP BY label",
)
def dedup_clusters(spark, sf_dir):
    """Full dedup resolution: LSH pairs -> jaccard verify -> clusters.

    The #1 gap VERDICT r1 named: candidate pairs alone don't dedup a
    corpus. Pipeline: minhash kernel -> band join (hot buckets
    star-capped) -> exact jaccard >= 0.6 verify -> connected components
    (min-label propagation) -> keeper = min doc_id per cluster. Output
    is one row per duplicate cluster; the DuckDB oracle replays the
    identical arithmetic with a recursive CTE for the closure.
    """
    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    mh = amap(d, _minhash_kernel, _MINHASH_DDL)
    cand = _lsh_candidate_pairs(mh)
    edges = _jaccard_verify(d, cand)
    labels = _connected_components(edges)
    return labels.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size"),
        F.sum("u").cast("long").alias("member_id_sum"),
    ).select(
        F.col("label").cast("long").alias("keeper"),
        "cluster_size",
        "member_id_sum",
    )


@q(
    "dedup_apply",
    f"WITH RECURSIVE {_sql_cluster_ctes()}, "
    "drops AS (SELECT u FROM labels WHERE u != label) "
    "SELECT CAST(count(*) AS BIGINT) AS n_docs, "
    "CAST(sum(CAST(doc_id AS BIGINT)) AS BIGINT) AS doc_id_sum, "
    "CAST(sum(length(text)) AS BIGINT) AS text_bytes "
    "FROM documents WHERE CAST(doc_id AS BIGINT) NOT IN (SELECT u FROM drops)",
)
def dedup_apply(spark, sf_dir):
    """The deduplicated corpus: drop every non-keeper cluster member.

    The operator a training pipeline actually runs after resolution —
    dedup_clusters' labels become a drop list (u != label) anti-joined
    against the corpus; survivors = uniques + one keeper per cluster.
    Output is the surviving corpus' summary (count, id-sum, bytes) so
    the oracle hash-checks membership without shipping full text.
    """
    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    mh = amap(d, _minhash_kernel, _MINHASH_DDL)
    cand = _lsh_candidate_pairs(mh)
    edges = _jaccard_verify(d, cand)
    labels = _connected_components(edges)
    drops = labels.filter(F.col("u") != F.col("label")).select(
        F.col("u").alias("doc_id")
    )
    kept = d.join(F.broadcast(drops), "doc_id", "left_anti")
    return kept.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("doc_id").cast("long").alias("doc_id_sum"),
        F.sum(F.length("text")).cast("long").alias("text_bytes"),
    )


_INC_MOD = 5  # doc_id % 5 == 0 is the "newly arrived" batch


def _incremental_candidates(d: DataFrame) -> DataFrame:
    """New-batch vs existing-corpus LSH candidate pairs (doc_a=new).

    Band equi-join with both legs filtered BEFORE the join, existing
    side annotated with window bucket size + hub for the hot-bucket
    cap. Callers checkpoint the result when they consume it twice."""
    from pyspark.sql import Window

    mh = amap(d, _minhash_kernel, _MINHASH_DDL)
    stacked = _band_stack(mh)
    keys = list(_BAND_KEYS)
    is_new = (F.col("doc_id") % _INC_MOD) == 0
    new_b = stacked.filter(is_new)
    w = Window.partitionBy(*keys)
    old_b = (
        stacked.filter(~is_new)
        .withColumn("bkt_n", F.count(F.lit(1)).over(w))
        .withColumn("hub", F.min("doc_id").over(w))
    )
    return (
        new_b.select(*keys, F.col("doc_id").alias("doc_a"))
        .join(old_b.select(*keys, "bkt_n", "hub",
                           F.col("doc_id").alias("doc_b")), keys)
        .filter((F.col("bkt_n") <= _LSH_BUCKET_CAP)
                | (F.col("doc_b") == F.col("hub")))
        .select("doc_a", "doc_b")
        .distinct()
    )


@q(
    "dedup_incremental",
    f"""
    WITH {_sql_band_ctes()},
    nb AS (SELECT * FROM bands WHERE doc_id % {_INC_MOD} = 0),
    ob AS (SELECT * FROM bands WHERE doc_id % {_INC_MOD} != 0),
    ostats AS (SELECT band_idx, sig, count(*) AS bkt_n, min(doc_id) AS hub
               FROM ob GROUP BY band_idx, sig),
    cand AS (SELECT DISTINCT n.doc_id AS doc_a, o.doc_id AS doc_b
             FROM nb n JOIN ob o ON n.band_idx = o.band_idx AND n.sig = o.sig
             JOIN ostats s ON s.band_idx = n.band_idx AND s.sig = n.sig
             WHERE s.bkt_n <= {_LSH_BUCKET_CAP} OR o.doc_id = s.hub),
    shd AS (SELECT doc_id, list_distinct(s) AS sd FROM sh),
    matches AS (SELECT doc_a, doc_b FROM cand
                JOIN shd a ON a.doc_id = cand.doc_a
                JOIN shd b ON b.doc_id = cand.doc_b
                WHERE {_JAC_DEN} * len(list_intersect(a.sd, b.sd)) >=
                      {_JAC_NUM} * len(list_distinct(a.sd || b.sd))),
    cs AS (SELECT doc_a, count(*) AS n_cand FROM cand GROUP BY doc_a),
    ms AS (SELECT doc_a, count(*) AS n_match FROM matches GROUP BY doc_a)
    SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
           CAST(coalesce(cs.n_cand, 0) AS BIGINT) AS n_candidates,
           CAST(coalesce(ms.n_match, 0) AS BIGINT) AS n_matches,
           coalesce(ms.n_match, 0) = 0 AS kept
    FROM (SELECT CAST(doc_id AS BIGINT) AS doc_id FROM documents
          WHERE doc_id % {_INC_MOD} = 0) d
    LEFT JOIN cs ON cs.doc_a = d.doc_id
    LEFT JOIN ms ON ms.doc_a = d.doc_id
    """,
)
def dedup_incremental(spark, sf_dir):
    """Incremental dedup: screen a NEW batch against the EXISTING corpus.

    The shape a crawl pipeline runs daily — not corpus self-dedup but
    "which of today's documents near-duplicate anything we already
    hold". New docs (``doc_id % 5 == 0`` stands in for the arriving
    batch) band-join against existing docs' signatures only — no
    new-vs-new or old-vs-old pairs, so the join cost tracks the BATCH
    size, not the corpus. Hot existing-side buckets are capped to their
    hub (min doc_id): with >cap identical existing docs, matching the
    hub alone decides membership, keeping the fan-out linear. LSH
    candidates are then exact-jaccard verified (>= 0.6), and every new
    doc reports its candidate count, verified-match count, and the
    keep/drop decision. At 100 TB the existing side's signatures come
    from a persisted corpus-statistics table (32 longs/doc, ~0.5% of
    corpus bytes) instead of being recomputed — the join shape is
    identical.
    """
    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    # reused twice (candidate counts + jaccard verify): without the
    # checkpoint both consumers re-run scan -> minhash -> band join
    cand = _incremental_candidates(d).localCheckpoint()
    is_new = (F.col("doc_id") % _INC_MOD) == 0
    matches = _jaccard_verify(d, cand)
    cs = cand.groupBy("doc_a").agg(
        F.count(F.lit(1)).cast("long").alias("n_candidates"))
    ms = matches.groupBy("doc_a").agg(
        F.count(F.lit(1)).cast("long").alias("n_matches"))
    return (
        d.filter(is_new).select(F.col("doc_id"))
        .join(F.broadcast(cs.withColumnRenamed("doc_a", "doc_id")),
              "doc_id", "left")
        .join(F.broadcast(ms.withColumnRenamed("doc_a", "doc_id")),
              "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_candidates", F.lit(0)).cast("long")
            .alias("n_candidates"),
            F.coalesce("n_matches", F.lit(0)).cast("long").alias("n_matches"),
            (F.coalesce("n_matches", F.lit(0)) == 0).alias("kept"),
        )
    )


def _simhash_kernel(batches):
    """mapInArrow kernel: 32-bit SimHash per doc over distinct shingles.

    Bit b's draw for shingle s is the parity of an LCG over the field
    ((s*A_b + B_b) mod PRIME mod 2); votes accumulate per doc via
    bincount. Same arithmetic as the SQL oracle."""
    import numpy as np
    import pyarrow as pa

    for b in batches:
        t = pa.Table.from_batches([b])
        n = t.num_rows
        if n == 0:
            continue
        h, doc_of, _ = _flat_shingle_hashes(t.column("text"))
        keys = np.unique(doc_of * _J_PRIME + h)
        r, s = keys // _J_PRIME, keys % _J_PRIME
        sim = np.zeros(n, dtype=np.int64)
        for bit in range(_SIM_BITS):
            par = ((s * _SIM_MULT[bit] + _SIM_ADD[bit]) % _J_PRIME) & 1
            vote = np.bincount(r, weights=2 * par - 1, minlength=n)
            sim |= (vote > 0).astype(np.int64) << bit
        yield pa.RecordBatch.from_arrays(
            [t.column("doc_id").combine_chunks().cast(pa.int64()), pa.array(sim)],
            names=["doc_id", "simhash"],
        )


def _sql_simhash_ctes() -> str:
    bit_terms = " + ".join(
        f"(CASE WHEN list_sum(list_transform(sd, "
        f"v -> 2*((v*{_SIM_MULT[b]}::BIGINT + {_SIM_ADD[b]}) % {_J_PRIME} % 2) - 1)) > 0 "
        f"THEN {1 << b} ELSE 0 END)"
        for b in range(_SIM_BITS)
    )
    return (
        f"sh AS (SELECT doc_id, {_sql_shingles()} AS s FROM documents), "
        "shd AS (SELECT doc_id, list_distinct(s) AS sd FROM sh), "
        f"sim AS (SELECT doc_id, CAST({bit_terms} AS BIGINT) AS simhash FROM shd)"
    )


@q(
    "dedup_simhash",
    f"WITH {_sql_simhash_ctes()} "
    "SELECT CAST(doc_id AS BIGINT) AS doc_id, simhash FROM sim",
)
def dedup_simhash(spark, sf_dir):
    """32-bit SimHash per document — numpy kernel, arithmetic oracle.

    Replaces the r1 interpreted-lambda version (~4 us/element-op, plus a
    needless global sort) with the _minhash_kernel pattern; the portable
    LCG-parity bit family makes it hash-checkable in DuckDB.
    """
    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    return amap(d, _simhash_kernel, "doc_id long, simhash long")


_SIM_BAND_BITS = 8
_SIM_HAM_MAX = 8


@q(
    "simhash_hamming_pairs",
    f"WITH {_sql_simhash_ctes()}, "
    "b AS (SELECT doc_id, simhash, k AS band_idx, "
    f"(simhash >> (CAST(k AS INT) * {_SIM_BAND_BITS})) & 255 AS nib "
    f"FROM sim, range(0, {_SIM_BITS // _SIM_BAND_BITS}) t(k)) "
    "SELECT DISTINCT CAST(a.doc_id AS BIGINT) AS doc_a, "
    "CAST(b2.doc_id AS BIGINT) AS doc_b, "
    "CAST(bit_count(xor(a.simhash, b2.simhash)) AS BIGINT) AS hamming "
    "FROM b a JOIN b b2 ON a.band_idx = b2.band_idx AND a.nib = b2.nib "
    "AND a.doc_id < b2.doc_id "
    f"WHERE bit_count(xor(a.simhash, b2.simhash)) <= {_SIM_HAM_MAX}",
)
def simhash_hamming_pairs(spark, sf_dir):
    """SimHash near-dup candidates: 8-bit band join + hamming cutoff.

    The banding (4 bands of 8 bits; a pair with hamming <= 3 must agree
    on at least one band) replaces the all-pairs hamming scan — the
    standard simhash scale path (Manku et al., WWW'07 idiom)."""
    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    sim = amap(d, _simhash_kernel, "doc_id long, simhash long")
    b = sim.select(
        "doc_id", "simhash", F.explode(F.sequence(F.lit(0), F.lit(_SIM_BITS // _SIM_BAND_BITS - 1))).alias("band_idx")
    ).withColumn("nib", F.expr(f"shiftright(simhash, band_idx * {_SIM_BAND_BITS}) & 255"))
    x = b.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sim_a"),
                 "band_idx", "nib")
    y = b.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sim_b"),
                 "band_idx", "nib")
    return (
        x.join(y, ["band_idx", "nib"]).filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn("hamming", F.expr("CAST(bit_count(sim_a ^ sim_b) AS BIGINT)"))
        .filter(F.col("hamming") <= _SIM_HAM_MAX)
        .select("doc_a", "doc_b", "hamming")
        .distinct()
    )


@q(
    "multimodal_binary_meta",
    """
    SELECT doc_id,
           CAST(octet_length(text::BLOB) AS BIGINT) AS n_bytes,
           substr(sha256(text), 1, 16) AS content_sig
    FROM documents WHERE doc_id % 11 = 0
    """,
)
def multimodal_binary_meta(spark, sf_dir):
    """Opaque-binary column plumbing: payload bytes + typed metadata.

    The decode/feature-extract stage for real image/audio payloads is
    stubbed (cryo_spark.multimodal), but the schema/UDF plumbing is the
    same: binary in, typed metadata out.
    """
    d = _t(spark, sf_dir, "documents")
    return d.filter(F.col("doc_id") % 11 == 0).select(
        "doc_id",
        F.octet_length(F.col("text").cast("binary")).cast("long").alias("n_bytes"),
        F.substring(F.sha2("text", 256), 1, 16).alias("content_sig"),
    )


@q(
    "multimodal_resize",
    """
    WITH src AS (
      SELECT doc_id, lower(hex(encode(text))) AS hs,
             octet_length(encode(text)) AS n
      FROM documents WHERE doc_id % 13 = 0 AND octet_length(encode(text)) > 0
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           (SELECT string_agg(substr(hs, 2*CAST((j*n)//24 AS INT)+1, 2),
                              '' ORDER BY j)
            FROM range(24) t(j)) AS resized_hex
    FROM src
    """,
)
def multimodal_resize(spark, sf_dir):
    """Thumbnail stage through the real resize kernel (multimodal.py).

    Payloads derived from document text; resize to 4x2 RGB (24 bytes)
    via the deterministic fake decoder (forced — the container has no
    Pillow; the real path swaps in via import without plumbing changes).
    The oracle recomputes the strided gather out[j] = src[(j*n)//24]
    over the hex form, byte for byte.
    """
    from . import multimodal

    d = _t(spark, sf_dir, "documents").filter(
        (F.col("doc_id") % 13 == 0) & (F.octet_length(F.encode("text", "UTF-8")) > 0)
    ).select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.encode("text", "UTF-8").alias("payload"),
    )
    resized = multimodal.resize_media(d, width=4, height=2, fake=True)
    return resized.select(
        F.col("media_id").cast("long").alias("doc_id"),
        F.lower(F.hex("payload")).alias("resized_hex"),
    )


def entry_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: full encode->decode round-trip aggregated per source."""
    return enc_roundtrip_agg(spark, sf_dir)


# ===========================================================================
# window / sessionization / OLAP patterns (generic engine capabilities)
# ===========================================================================

@q(
    "topk_per_group",
    """
    SELECT cust_bucket, o_orderkey, o_totalprice FROM (
      SELECT o_custkey % 100 AS cust_bucket, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey % 100
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    ) t WHERE rn <= 3
    """,
)
def topk_per_group(spark, sf_dir):
    """Top-K per group via ranking window (OLAP pattern)."""
    from pyspark.sql import Window as W

    o = _t(spark, sf_dir, "orders").withColumn(
        "cust_bucket", F.col("o_custkey") % 100
    )
    w = W.partitionBy("cust_bucket").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("cust_bucket", "o_orderkey", "o_totalprice")
    )


@q(
    "sessionization",
    """
    SELECT user_id, CAST(count(DISTINCT session_id) AS BIGINT) AS n_sessions,
           CAST(count(*) AS BIGINT) AS n_events
    FROM (
      SELECT user_id, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                        ROWS UNBOUNDED PRECEDING) AS session_id
      FROM (
        SELECT user_id, ts, event_id,
               CASE WHEN floor(epoch(ts)) - floor(epoch(lag(ts) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id))) > 1800 OR
                    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS is_new
        FROM events
      ) g
    ) s GROUP BY user_id
    """,
)
def sessionization(spark, sf_dir):
    """Gap-based sessionization: lag + cumulative sum over a window."""
    from pyspark.sql import Window as W

    e = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    is_new = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    sess = F.sum(is_new).over(w.rowsBetween(W.unboundedPreceding, 0))
    return (
        e.withColumn("session_id", sess)
        .groupBy("user_id")
        .agg(
            F.countDistinct("session_id").cast("long").alias("n_sessions"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
        )
    )


@q(
    "rollup_counts",
    """
    SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def rollup_counts(spark, sf_dir):
    """Hierarchical aggregation (rollup) over flag/status."""
    li = _t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )


@q(
    "cube_order_stats",
    """
    SELECT o_orderstatus AS status, o_orderpriority AS priority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(floor(o_totalprice * 100 + 0.5)) AS BIGINT)
               AS revenue_cents
    FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def cube_order_stats(spark, sf_dir):
    """Full grouping-sets lattice (CUBE) over status x priority.

    Spark expands the cube into grouping sets with map-side partial
    aggregation — one shuffle of |lattice| x |groups| rows regardless
    of input size.
    """
    o = _t(spark, sf_dir, "orders")
    # integer cents per row before the sum (order-independent, exact);
    # see join_multiway_revenue for why round-after-sum is a hazard
    return (
        o.cube(F.col("o_orderstatus").alias("status"),
               F.col("o_orderpriority").alias("priority"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_orders"),
             F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5))
             .cast("long").alias("revenue_cents"))
    )


@q(
    "grouping_sets_priority_status",
    """
    SELECT o_orderstatus AS status, o_orderpriority AS priority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(floor(o_totalprice * 100 + 0.5)) AS BIGINT)
               AS revenue_cents
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def grouping_sets_priority_status(spark, sf_dir):
    """Explicit GROUPING SETS — the general form rollup/cube specialize.

    Two independent one-dimension breakdowns plus the grand total in
    ONE pass: Spark's Expand replicates each input row once per set
    before a single map-side-combined aggregate, so the exchange
    carries <= |sets| x |groups| rows however large the input — the
    same one-shuffle shape as the suite's rollup/cube, without paying
    for the (status x priority) cross terms a CUBE would also compute.
    """
    o = _t(spark, sf_dir, "orders")
    return o.groupingSets(
        [["o_orderstatus"], ["o_orderpriority"], []],
        "o_orderstatus", "o_orderpriority",
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5))
        .cast("long").alias("revenue_cents"),
    ).select(
        F.col("o_orderstatus").alias("status"),
        F.col("o_orderpriority").alias("priority"),
        "n_orders", "revenue_cents",
    )


@q(
    "unpivot_part_metrics",
    """
    WITH m AS (
        SELECT p_brand, 'size' AS metric,
               CAST(p_size AS BIGINT) AS value FROM part
        UNION ALL
        SELECT p_brand, 'price_cents',
               CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) FROM part
    )
    SELECT p_brand, metric,
           CAST(sum(value) AS BIGINT) AS value_sum,
           CAST(count(*) AS BIGINT) AS n,
           CAST(max(value) AS BIGINT) AS value_max
    FROM m GROUP BY p_brand, metric
    """,
)
def unpivot_part_metrics(spark, sf_dir):
    """unpivot/melt: wide metric columns -> long (metric, value) rows.

    The inverse of pivot_event_types, and the shape feature pipelines
    use to route N per-entity measures through one generic aggregation.
    Spark plans the unpivot as Expand (each row replicated once per
    measure, zero shuffle) feeding one map-side-combined group-by, so
    the exchange carries |brands| x |metrics| rows only. Values are
    cast to one integer type up front (unpivot requires a common type;
    integer cents keep the oracle exact).
    """
    p = _t(spark, sf_dir, "part").select(
        "p_brand",
        F.col("p_size").cast("long").alias("size"),
        F.floor(F.col("p_retailprice") * 100 + 0.5).cast("long")
        .alias("price_cents"),
    )
    m = p.unpivot(["p_brand"], ["size", "price_cents"], "metric", "value")
    return m.groupBy("p_brand", "metric").agg(
        F.sum("value").cast("long").alias("value_sum"),
        F.count(F.lit(1)).cast("long").alias("n"),
        F.max("value").cast("long").alias("value_max"),
    )


@q(
    "except_intersect_multiset",
    """
    WITH v AS (SELECT user_id FROM events WHERE event_type = 'view'),
         p AS (SELECT user_id FROM events WHERE event_type = 'purchase')
    SELECT 'except_all' AS op,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(user_id) AS BIGINT) AS id_sum
    FROM (SELECT user_id FROM v EXCEPT ALL SELECT user_id FROM p)
    UNION ALL
    SELECT 'intersect_all',
           CAST(count(*) AS BIGINT),
           CAST(sum(user_id) AS BIGINT)
    FROM (SELECT user_id FROM v INTERSECT ALL SELECT user_id FROM p)
    """,
)
def except_intersect_multiset(spark, sf_dir):
    """Multiset set ops — exceptAll / intersectAll (bag semantics).

    The set-operator family the suite's anti/semi joins don't cover:
    EXCEPT ALL keeps max(n_a - n_b, 0) copies per value and INTERSECT
    ALL min(n_a, n_b) — duplicate counts matter, which a join can't
    express without an explicit count-compare. Spark plans both as one
    count-aggregate per side + a generate of the surviving multiplicity
    (map-side combined, one exchange per side at |distinct| rows); the
    bounded two-row output makes the oracle an exact UNION of the same
    bag ops in DuckDB.
    """
    e = _t(spark, sf_dir, "events")
    v = e.filter(F.col("event_type") == "view").select(
        F.col("user_id").cast("long").alias("user_id"))
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").cast("long").alias("user_id"))

    def summarize(df, op):
        return df.agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("user_id").cast("long").alias("id_sum"),
        ).select(F.lit(op).alias("op"), "n_rows", "id_sum")

    return summarize(v.exceptAll(p), "except_all").unionAll(
        summarize(v.intersectAll(p), "intersect_all"))


_IVAL_US = 1800 * 1_000_000  # 30-minute purchase attribution window


@q(
    "interval_join_binned",
    f"""
    SELECT p.user_id,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(count(DISTINCT v.event_id) AS BIGINT) AS n_views
    FROM events p JOIN events v
      ON v.user_id = p.user_id
     AND epoch_us(v.ts) >= epoch_us(p.ts)
     AND epoch_us(v.ts) < epoch_us(p.ts) + {_IVAL_US}
    WHERE p.event_type = 'purchase' AND v.event_type = 'view'
    GROUP BY p.user_id
    """,
)
def interval_join_binned(spark, sf_dir):
    """Range/interval join via the binning idiom (an operator Spark lacks).

    Each purchase opens a [ts, ts+30min) attribution window; view
    events of the same user falling inside any window pair with it. A
    naive range join is a broadcast nested loop (quadratic per user);
    the binned plan makes it an EQUI join: bin width = max interval
    length, so every interval overlaps <= 2 bins (explode bounded at 2
    rows) and every probe lives in exactly 1 bin — each qualifying
    (probe, interval) pair meets exactly once, no dedup needed. The
    residual range predicate runs post-join. Scale shape: one hash
    shuffle on (user_id, bin); fan-out bounded by 2; skew bounded by
    real data density per user-half-hour.
    """
    ev = _t(spark, sf_dir, "events")
    # ts is TIMESTAMP_NTZ; the epoch shift from the cast is uniform, and
    # the range predicate is shift-invariant (bins only gate candidates)
    us = F.expr("unix_micros(cast(ts as timestamp))")
    purch = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", us.alias("start_us"))
    purch = purch.withColumn("end_us", F.col("start_us") + F.lit(_IVAL_US))
    intervals = purch.withColumn(
        "bin",
        F.explode(F.sequence(
            F.floor(F.col("start_us") / _IVAL_US).cast("long"),
            F.floor((F.col("end_us") - 1) / _IVAL_US).cast("long"))),
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "event_id", us.alias("v_us"),
        F.floor(us / _IVAL_US).cast("long").alias("bin"))
    pairs = intervals.join(views, ["user_id", "bin"]).filter(
        (F.col("v_us") >= F.col("start_us")) & (F.col("v_us") < F.col("end_us"))
    )
    return pairs.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.countDistinct("event_id").cast("long").alias("n_views"),
    )


@q(
    "pivot_event_types",
    """
    SELECT user_id % 10 AS user_bucket,
           CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS click,
           CAST(count(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS view,
           CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS purchase
    FROM events GROUP BY 1
    """,
)
def pivot_event_types(spark, sf_dir):
    """Pivot (wide counts per category)."""
    e = _t(spark, sf_dir, "events").withColumn("user_bucket", F.col("user_id") % 10)
    return (
        e.groupBy("user_bucket")
        .pivot("event_type", ["click", "view", "purchase"])
        .count()
        .na.fill(0)
        .select(
            "user_bucket",
            F.col("click").cast("long").alias("click"),
            F.col("view").cast("long").alias("view"),
            F.col("purchase").cast("long").alias("purchase"),
        )
    )


@q(
    "windowed_time_agg",
    """
    SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS window_start,
           event_type,
           CAST(count(*) AS BIGINT) AS n
    FROM events GROUP BY 1, 2
    """,
)
def windowed_time_agg(spark, sf_dir):
    """Tumbling time-window aggregation (streaming-shaped, batch-checked)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .select(
            F.unix_timestamp(F.col("w.start")).cast("long").alias("window_start"),
            "event_type",
            "n",
        )
    )


# ===========================================================================
# additional training-data ops
# ===========================================================================

_NGRAM_SPARK = (
    "array_distinct(transform(sequence(1, greatest(length({c}) - 2, 1)), "
    "i -> substring({c}, i, 3)))"
)
_NGRAM_SQL = (
    "list_distinct(list_transform(range(1, greatest(length({c}) - 2, 1) + 1), "
    "i -> substring({c}, i, 3)))"
)


@q(
    "ngram_jaccard_pairs",
    f"""
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(floor(
             len(list_intersect({_NGRAM_SQL.format(c='a.text')}, {_NGRAM_SQL.format(c='b.text')})) * 1000.0
             / greatest(len(list_distinct({_NGRAM_SQL.format(c='a.text')} ||
                            {_NGRAM_SQL.format(c='b.text')})), 1) + 0.5
           ) AS BIGINT) AS jaccard_milli
    FROM documents a JOIN documents b ON a.doc_id < b.doc_id
    WHERE a.doc_id % 97 = 0 AND b.doc_id % 97 = 0
      AND a.doc_id < 97000 AND b.doc_id < 97000
    """,
)
def ngram_jaccard_pairs(spark, sf_dir):
    """Character 3-gram Jaccard similarity over a deterministic pair sample.

    Standalone oracle query for the jaccard arithmetic. The production
    use of this machinery is as the verify stage AFTER LSH candidate
    generation — see dedup_clusters, where exact shingle-set jaccard
    filters band-join candidates before cluster resolution. The mod-97
    slice is still quadratic at 100x, so it also carries an absolute
    cap (doc_id < 97000 -> <= 1000 docs, <= 0.5M pairs), mirrored in
    the SQL oracle; the cap does not bind at the test SFs (max doc_id
    4999 at sf0.1)."""
    d = (_t(spark, sf_dir, "documents")
         .filter((F.col("doc_id") % 97 == 0) & (F.col("doc_id") < 97000)))
    a = d.select(F.col("doc_id").alias("doc_a"), F.expr(_NGRAM_SPARK.format(c="text")).alias("ga"))
    b = d.select(F.col("doc_id").alias("doc_b"), F.expr(_NGRAM_SPARK.format(c="text")).alias("gb"))
    return (
        a.join(b, F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.floor(
                F.size(F.array_intersect("ga", "gb")) * 1000.0
                / F.greatest(F.size(F.array_distinct(F.concat("ga", "gb"))), F.lit(1))
                + 0.5
            )
            .cast("long")
            .alias("jaccard_milli"),
        )
    )


@q(
    "near_dup_editdist",
    """
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(levenshtein(substr(a.text, 1, 64), substr(b.text, 1, 64))
                AS BIGINT) AS edit_dist
    FROM documents a JOIN documents b ON a.doc_id < b.doc_id
    WHERE a.doc_id % 23 = 0 AND b.doc_id % 23 = 0
      AND a.doc_id < 46000 AND b.doc_id < 46000
      AND a.lang = b.lang
      AND abs(a.n_chars - b.n_chars) <= 256
    """,
)
def near_dup_editdist(spark, sf_dir):
    """Edit-distance near-dup verification (the classic string metric).

    The third verify primitive next to shingle-jaccard and
    embedding-cosine: exact Levenshtein on 64-char prefixes, over a
    deterministic sampled pair set PRE-FILTERED by cheap invariants
    (same lang, |len diff| <= 256) — the production shape, since edit
    distance is O(m*n) per pair and must only ever run on a short
    candidate list (LSH bands or length buckets), never all pairs.
    Both engines implement standard Levenshtein, so the distances are
    engine-exact with no tolerance. Like the other pair-sample
    baselines, the mod-23 slice carries an absolute cap (doc_id <
    46000 -> <= 2000 docs) mirrored in the oracle; non-binding at the
    test SFs.
    """
    d = (_t(spark, sf_dir, "documents")
         .filter((F.col("doc_id") % 23 == 0) & (F.col("doc_id") < 46000)))
    a = d.select(F.col("doc_id").alias("doc_a"), F.col("lang").alias("la"),
                 F.col("n_chars").alias("ca"),
                 F.substring("text", 1, 64).alias("ta"))
    b = d.select(F.col("doc_id").alias("doc_b"), F.col("lang").alias("lb"),
                 F.col("n_chars").alias("cb"),
                 F.substring("text", 1, 64).alias("tb"))
    return (
        a.join(
            b,
            (F.col("doc_a") < F.col("doc_b"))
            & (F.col("la") == F.col("lb"))
            & (F.abs(F.col("ca") - F.col("cb")) <= 256),
        )
        .select(
            "doc_a", "doc_b",
            F.levenshtein("ta", "tb").cast("long").alias("edit_dist"),
        )
    )


_PLANE_SPARK = (
    "aggregate(zip_with(embedding, sequence(0, size(embedding) - 1), "
    "(v, d) -> CAST(v AS DOUBLE) * (CAST((({b} * 64 + d) * 48271 + 11) % 1000003 AS DOUBLE) "
    "/ 1000003.0 - 0.5)), CAST(0.0 AS DOUBLE), (a, x) -> a + x)"
)
_PLANE_SQL = (
    "list_aggregate(list_transform(range(1, len(embedding) + 1), "
    "d -> embedding[d]::DOUBLE * ((({b} * 64 + (d - 1)) * 48271 + 11) % 1000003 "
    "/ 1000003.0 - 0.5)), 'sum')"
)


@q(
    "ann_lsh_buckets",
    f"""
    SELECT bucket, CAST(count(*) AS BIGINT) AS n_vectors,
           CAST(min(vec_id) AS BIGINT) AS min_vec
    FROM (
      SELECT vec_id,
             CAST(CASE WHEN {_PLANE_SQL.format(b=0)} > 0 THEN 1 ELSE 0 END
               + 2 * CASE WHEN {_PLANE_SQL.format(b=1)} > 0 THEN 1 ELSE 0 END
               + 4 * CASE WHEN {_PLANE_SQL.format(b=2)} > 0 THEN 1 ELSE 0 END
               + 8 * CASE WHEN {_PLANE_SQL.format(b=3)} > 0 THEN 1 ELSE 0 END AS INT) AS bucket
      FROM embeddings
    ) t GROUP BY bucket
    """,
)
def ann_lsh_buckets(spark, sf_dir):
    """Random-hyperplane LSH bucketing — the ANN scale path.

    Hyperplane coefficients come from a portable integer LCG (pure
    arithmetic, identical in both engines), so bucket assignment is
    deterministic and oracle-checkable. At scale the ANN query becomes
    a bucket-equijoin instead of an all-pairs scan.
    """
    e = _t(spark, sf_dir, "embeddings")
    bucket = None
    for b in range(4):
        bit = F.when(F.expr(_PLANE_SPARK.format(b=b)) > 0, 1).otherwise(0) * (2**b)
        bucket = bit if bucket is None else bucket + bit
    return (
        e.withColumn("bucket", bucket.cast("int"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vectors"),
            F.min("vec_id").cast("long").alias("min_vec"),
        )
    )


_KEY_SPEC = "0.1K:+250:3 400:420/5"  # stride range + evenly-spaced subset


def _key_spec_sql() -> str:
    from .ranges import KeyNumbers, parse_key_specs

    terms = []
    for c in parse_key_specs(_KEY_SPEC):
        if isinstance(c, KeyNumbers):
            terms.append(f"doc_id IN ({', '.join(map(str, c.numbers))})")
        else:
            t = f"doc_id BETWEEN {c.start} AND {c.end}"
            if c.stride != 1:
                t += f" AND (doc_id - {c.start}) % {c.stride} = 0"
            terms.append(f"({t})")
    return " OR ".join(terms)


@q(
    "scan_key_range",
    f"""
    SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars, source
    FROM documents WHERE {_key_spec_sql()}
    """,
)
def scan_key_range(spark, sf_dir):
    """Key-range request surface: the reference's block grammar as a scan.

    Spec ``0.1K:+250:3 400:420/5`` exercises K-suffix, ``+n`` extent,
    stride, and the evenly-spaced ``/n`` subset
    (crates/cli/src/parse/blocks.rs:149-272). The BETWEEN envelope
    reaches the parquet scan as a pushed filter (row-group min/max
    pruning); the stride is a residual — the split Catalyst makes of
    any conjunction.
    """
    from .ranges import key_predicate, parse_key_specs

    d = _t(spark, sf_dir, "documents")
    pred = key_predicate(parse_key_specs(_KEY_SPEC), F.col("doc_id"))
    return d.filter(pred).select(
        "doc_id", F.col("n_chars").cast("long").alias("n_chars"), "source"
    )


@q(
    "ann_bucket_topk",
    f"""
    WITH bk AS (
      SELECT vec_id, label, embedding,
             CAST(CASE WHEN {_PLANE_SQL.format(b=0)} > 0 THEN 1 ELSE 0 END
               + 2 * CASE WHEN {_PLANE_SQL.format(b=1)} > 0 THEN 1 ELSE 0 END
               + 4 * CASE WHEN {_PLANE_SQL.format(b=2)} > 0 THEN 1 ELSE 0 END
               + 8 * CASE WHEN {_PLANE_SQL.format(b=3)} > 0 THEN 1 ELSE 0 END AS INT)
               AS bucket
      FROM embeddings
    )
    SELECT vec_id, label, bucket FROM (
      SELECT e.vec_id, e.label, e.bucket,
             list_cosine_similarity(e.embedding, q.embedding) AS sim
      FROM bk e CROSS JOIN (SELECT embedding, bucket FROM bk WHERE vec_id = 0) q
      WHERE e.vec_id != 0 AND bit_count(xor(e.bucket, q.bucket)) <= 1
    ) t ORDER BY sim DESC, vec_id LIMIT 10
    """,
)
def ann_bucket_topk(spark, sf_dir):
    """Bucketed ANN top-k — the scale path, end-to-end.

    Random-hyperplane LSH bucket (the portable arithmetic of
    ann_lsh_buckets) + multiprobe: candidates are vectors whose 4-bit
    bucket is within hamming distance 1 of the query's (5 of 16 buckets
    probed), then exact cosine top-k over candidates only. At scale the
    bucket is a partition key, so the probe prunes ~11/16 of the scan;
    here it replaces the all-pairs candidate set the brute-force
    baseline (ann_cosine_topk) scans.
    """
    e = _t(spark, sf_dir, "embeddings")
    bucket = None
    for b in range(4):
        bit = F.when(F.expr(_PLANE_SPARK.format(b=b)) > 0, 1).otherwise(0) * (2**b)
        bucket = bit if bucket is None else bucket + bit
    bk = e.withColumn("bucket", bucket.cast("int"))
    query = bk.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("b"), F.col("bucket").alias("qbucket")
    )
    return (
        bk.filter(F.col("vec_id") != 0)
        .select("vec_id", "label", F.col("embedding").alias("a"), "bucket")
        .join(F.broadcast(query))
        .filter(F.expr("bit_count(bucket ^ qbucket)") <= 1)
        .select("vec_id", "label", "bucket", F.expr(_COS_SPARK).alias("sim"))
        .orderBy(F.desc("sim"), "vec_id")
        .limit(10)
        .select("vec_id", "label", "bucket")
    )


_IVF_K = 32          # codebook size: driver holds K x d, NEVER corpus-proportional
_IVF_PROBES = 2
_IVF_QSCALE = 1_000_000  # integer-exact centroid arithmetic (floor(x*S + 0.5))
# Cosine sims are QUANTIZED (floor(sim*S + 0.5) as int64) before every
# argmax / ORDER BY that picks a centroid or probe: numpy's normalized-dot
# and DuckDB's list_cosine_similarity follow different FP paths, and a raw
# float near-tie could round differently, flip one assignment, and break
# centroid parity (r4 ADVICE). At 1e-6 granularity a cross-engine epsilon
# (~1e-15 rel) only matters when sim*S sits within it of a .5 boundary —
# ~1e-9 per comparison, vs ~certain for raw-float ties; residual risk is
# documented and the two-seed differential sweep remains the guard.
_IVF_SIMSCALE = 1_000_000

# Shared codebook CTEs: init cell = vec_id % K (deterministic seeding), then
# ONE spherical-Lloyd refinement (r3 verdict item 5): assign every vector to
# its max-cosine init centroid, re-mean per cell. Centroid means are exact
# integer arithmetic — inputs quantized to floor(x*S + 0.5) BIGINTs so sums
# are exact on both engines and the one float op (sum/den division) is the
# same IEEE divide of identical integers, giving BIT-IDENTICAL centroids with
# no summation-order drift. The refinement's argmax ties resolve to the
# lowest cid (ORDER BY sim DESC, cid), matching numpy argmax-first-max over
# ascending cids. A cell that loses all members keeps its init centroid
# (COALESCE).
_IVF_CODEBOOK_CTE = f"""
    dims AS (
      SELECT vec_id, generate_subscripts(embedding, 1) AS d,
             CAST(floor(CAST(unnest(embedding) AS DOUBLE) * {_IVF_QSCALE}
                        + 0.5) AS BIGINT) AS xq
      FROM embeddings
    ),
    cb0 AS (
      SELECT vec_id % {_IVF_K} AS cid, d, sum(xq) AS sq, count(*) AS cnt
      FROM dims GROUP BY cid, d
    ),
    c0 AS (SELECT cid, list(CAST(sq AS DOUBLE) / ({_IVF_QSCALE} * cnt)
                            ORDER BY d) AS cemb
           FROM cb0 GROUP BY cid),
    asg0 AS (SELECT vec_id, cid FROM (
               SELECT e.vec_id, c0.cid,
                      row_number() OVER (PARTITION BY e.vec_id ORDER BY
                        CAST(floor(list_cosine_similarity(
                          e.embedding::DOUBLE[], c0.cemb)
                          * {_IVF_SIMSCALE} + 0.5) AS BIGINT) DESC,
                        c0.cid) AS rn
               FROM embeddings e CROSS JOIN c0) WHERE rn = 1),
    cb1 AS (SELECT asg0.cid, dims.d, sum(dims.xq) AS sq, count(*) AS cnt
            FROM asg0 JOIN dims USING (vec_id) GROUP BY asg0.cid, dims.d),
    cb AS (SELECT cb0.cid, cb0.d,
                  COALESCE(CAST(cb1.sq AS DOUBLE) / ({_IVF_QSCALE} * cb1.cnt),
                           CAST(cb0.sq AS DOUBLE) / ({_IVF_QSCALE} * cb0.cnt))
                      AS c
           FROM cb0 LEFT JOIN cb1 ON cb1.cid = cb0.cid AND cb1.d = cb0.d),
    c AS (SELECT cid, list(c ORDER BY d) AS cemb FROM cb GROUP BY cid)
"""


def _ivf_codebook(e):
    """Bounded-K coarse-quantizer codebook: (cids, C) with C (K, d) float64.

    The r2 verdict's #1 fix: the old ``vec_id % 61 -> collect()`` pulled
    n/61 of the corpus into the driver (OOM at 100x). This derives one
    exact M-step mean per hash cell (cell = vec_id % K) with the
    kmeans_embeddings partial-sum idiom: ONE mapInArrow pass emits at
    most K rows of int64 dim-sums per Arrow batch, a map-side-combined
    groupBy folds them to K*d scalars, and the driver collects exactly
    K*d rows — O(K*d) driver bytes at ANY corpus size. Integer
    quantization (floor(x*QSCALE + 0.5)) makes the sums exact, so the
    resulting centroids are bit-identical to the SQL oracle's
    (_IVF_CODEBOOK_CTE) regardless of partitioning or summation order.

    r3 verdict item 5: the hash cells are bounded but not
    data-adaptive, so a SECOND bounded pass runs one spherical-Lloyd
    refinement — assign every vector to its max-cosine init centroid
    (ties to the lowest cid, the oracle's ORDER BY sim DESC, cid),
    re-mean each cell with the same integer partial-sum fold. Still
    O(K*d) driver bytes; a cell that loses all members keeps its init
    centroid (oracle COALESCE).
    """
    import numpy as np
    import pyarrow as pa  # noqa: F401  (kernel import sanity on driver)

    K, S, SIMS = _IVF_K, _IVF_QSCALE, _IVF_SIMSCALE

    def make_partials(cids0=None, C0n=None):
        # cids0/C0n None -> init pass, cell = vec_id % K;
        # else refinement pass, cell = max-QUANTIZED-cosine centroid
        # (argmax takes the FIRST max and cids0 is ascending, so ties go
        # to the lowest cid — the oracle's ORDER BY simq DESC, cid)
        def partials(batches):
            import numpy as np
            import pyarrow as pa

            from cryo_spark.arrowutil import fixed_list_matrix

            for b in batches:
                t = pa.Table.from_batches([b])
                n = t.num_rows
                if n == 0:
                    continue
                X = fixed_list_matrix(t, "embedding")
                d = X.shape[1]
                Xq = np.floor(X * S + 0.5).astype(np.int64)
                if C0n is None:
                    cells = (t.column("vec_id")
                             .to_numpy(zero_copy_only=False)
                             % K).astype(np.int64)
                else:
                    Xn = X / np.maximum(
                        np.linalg.norm(X, axis=1, keepdims=True), 1e-300)
                    simq = np.floor((Xn @ C0n.T) * SIMS
                                    + 0.5).astype(np.int64)
                    cells = cids0[simq.argmax(axis=1)]
                sums = np.zeros((K, d), dtype=np.int64)
                cnts = np.zeros(K, dtype=np.int64)
                np.add.at(sums, cells, Xq)
                np.add.at(cnts, cells, 1)
                nz = np.flatnonzero(cnts)
                offs = pa.array(
                    np.arange(0, (len(nz) + 1) * d, d, dtype=np.int32))
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(nz.astype(np.int64)),
                        pa.ListArray.from_arrays(
                            offs, pa.array(sums[nz].reshape(-1),
                                           type=pa.int64())),
                        pa.array(cnts[nz]),
                    ],
                    names=["k", "qsum", "cnt"],
                )
        return partials

    def fold(partials):
        # map-side-combined groupBy folds per-batch partials to K*d rows
        p = amap(e.select("vec_id", "embedding"), partials,
                 "k long, qsum array<long>, cnt long")
        rows = (
            p.select("k", "cnt", F.posexplode("qsum").alias("pos", "xq"))
            .groupBy("k", "pos")
            .agg(F.sum("xq").alias("sq"), F.sum("cnt").alias("cs"))
            .collect()  # exactly K*d rows after the map-side combine
        )
        if not rows:
            raise ValueError("empty embeddings input: cannot derive an IVF "
                             "codebook from zero vectors")
        d = 1 + max(r.pos for r in rows)
        sums = np.zeros((K, d), dtype=np.int64)
        cnts = np.zeros(K, dtype=np.int64)
        for r in rows:
            sums[r.k, r.pos] = r.sq
            if r.pos == 0:
                cnts[r.k] = r.cs
        return sums, cnts

    # pass 1: init cells (vec_id % K), exact integer means
    sums0, cnts0 = fold(make_partials())
    nz0 = cnts0 > 0
    cids0 = np.flatnonzero(nz0).astype(np.int64)
    C0 = sums0[nz0] / (S * cnts0[nz0]).astype(np.float64)[:, None]
    C0n = C0 / np.maximum(np.linalg.norm(C0, axis=1, keepdims=True), 1e-300)

    # pass 2: one spherical-Lloyd refinement over the init centroids
    sums1, cnts1 = fold(make_partials(cids0, C0n))
    C = C0.copy()
    for i, cid in enumerate(cids0):
        if cnts1[cid] > 0:  # empty cell keeps its init centroid
            C[i] = sums1[cid] / float(S * cnts1[cid])
    return cids0, C


@q(
    "ann_ivf_topk",
    f"""
    WITH {_IVF_CODEBOOK_CTE},
    q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0),
    sims AS (SELECT e.vec_id, e.label, e.embedding, c.cid,
                    list_cosine_similarity(e.embedding::DOUBLE[], c.cemb) AS sim
             FROM embeddings e CROSS JOIN c),
    asg AS (SELECT vec_id, label, embedding, cid FROM (
              SELECT *, row_number() OVER (PARTITION BY vec_id
                ORDER BY CAST(floor(sim * {_IVF_SIMSCALE} + 0.5) AS BIGINT)
                         DESC, cid) AS rn
              FROM sims) WHERE rn = 1),
    qp AS (SELECT c.cid FROM c CROSS JOIN q
           ORDER BY CAST(floor(list_cosine_similarity(c.cemb, q.qe)
                         * {_IVF_SIMSCALE} + 0.5) AS BIGINT) DESC, c.cid
           LIMIT {_IVF_PROBES})
    SELECT vec_id, CAST(label AS INT) AS label, CAST(cid AS BIGINT) AS cid
    FROM (
      SELECT a.vec_id, a.label, a.cid,
             list_cosine_similarity(a.embedding::DOUBLE[], q.qe) AS fsim
      FROM asg a JOIN qp ON a.cid = qp.cid CROSS JOIN q
      WHERE a.vec_id != 0)
    ORDER BY fsim DESC, vec_id LIMIT 10
    """,
)
def ann_ivf_topk(spark, sf_dir):
    """IVF ANN top-k: coarse quantizer -> probe nearest cells -> exact rank.

    The other named ANN scale path next to LSH bucketing
    (ann_bucket_topk). The codebook comes from _ivf_codebook — a
    bounded K-row partial-sum derivation (O(K*d) driver bytes at any
    corpus size; at 10^12 scale the same seam accepts a trained
    codebook). It is closed over by a vectorized mapInArrow kernel
    that assigns every vector to its nearest centroid with ONE
    (n x d) @ (d x K) float64 matmul per batch — no shuffle, no
    per-row Python. The query probes its _IVF_PROBES nearest cells;
    only those cells' members get the exact cosine ranking
    (TakeOrdered). At scale `cid` is the partition key, so the probe
    prunes all but ~P/K of the table before any distance math. The
    oracle replays codebook, assignment, probe, and ranking in the
    same arithmetic (integer-exact centroids, double cosines).
    """
    import numpy as np

    e = _t(spark, sf_dir, "embeddings")
    cids, C = _ivf_codebook(e)
    Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-300)
    SIMS = _IVF_SIMSCALE

    def assign(batches):
        import numpy as np
        import pyarrow as pa

        from cryo_spark.arrowutil import fixed_list_matrix

        for b in batches:
            t = pa.Table.from_batches([b])
            n = t.num_rows
            if n == 0:
                continue
            X = fixed_list_matrix(t, "embedding")
            Xn = X / np.maximum(
                np.linalg.norm(X, axis=1, keepdims=True), 1e-300)
            # sims quantized before the argmax (cross-engine FP-tie
            # guard); argmax takes the FIRST max: cids are sorted
            # ascending, so ties resolve to the lowest centroid id —
            # the oracle's ORDER BY simq DESC, cid
            best = np.floor((Xn @ Cn.T) * SIMS
                            + 0.5).astype(np.int64).argmax(axis=1)
            yield pa.RecordBatch.from_arrays(
                [
                    t.column("vec_id").combine_chunks().cast(pa.int64()),
                    t.column("label").combine_chunks().cast(pa.int32()),
                    pa.array(cids[best]),
                ],
                names=["vec_id", "label", "cid"],
            )

    asg = amap(e.select("vec_id", "label", "embedding"),
               assign, "vec_id long, label int, cid long")
    qrow = e.filter(F.col("vec_id") == 0).select("embedding").first()
    qv = np.asarray(qrow.embedding, dtype=np.float64)
    qn = qv / max(np.linalg.norm(qv), 1e-300)
    # stable sort on -simq: equal quantized sims keep ascending index =
    # ascending cid, the oracle's ORDER BY simq DESC, cid
    order = np.argsort(-np.floor((Cn @ qn) * SIMS + 0.5).astype(np.int64),
                       kind="stable")[:_IVF_PROBES]
    probes = [int(c) for c in cids[order]]
    query = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("b"))
    return (
        asg.filter(F.col("cid").isin(probes) & (F.col("vec_id") != 0))
        .join(e.select("vec_id", F.col("embedding").alias("a")), "vec_id")
        .join(F.broadcast(query))
        .select("vec_id", "label", "cid", F.expr(_COS_SPARK).alias("sim"))
        .orderBy(F.desc("sim"), "vec_id")
        .limit(10)
        .select("vec_id", "label", "cid")
    )


@q(
    "token_count_regex",
    """
    SELECT source,
           CAST(sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+'))) AS BIGINT)
               AS total_regex_tokens
    FROM documents GROUP BY source
    """,
)
def token_count_regex(spark, sf_dir):
    """BPE-ish regex token counting (word/number pieces)."""
    d = _t(spark, sf_dir, "documents")
    return d.groupBy("source").agg(
        F.sum(F.size(F.expr("regexp_extract_all(text, '[A-Za-z]+|[0-9]+', 0)")))
        .cast("long")
        .alias("total_regex_tokens")
    )


@q(
    "pipeline_corpus_freeze",
    f"WITH RECURSIVE {_sql_cluster_ctes()}, "
    "drops AS (SELECT u FROM labels WHERE u != label), "
    "surv AS (SELECT doc_id, n_chars % 64 + 1 AS n_tok FROM documents "
    "WHERE n_chars > 100 "
    "AND length(text) - length(replace(text, ' the ', '')) > 0 "
    "AND CAST(doc_id AS BIGINT) NOT IN (SELECT u FROM drops)) "
    "SELECT CAST(count(*) AS BIGINT) AS n_docs, "
    "CAST(sum(n_tok) AS BIGINT) AS tok_sum, "
    "CAST(sum(doc_id) AS BIGINT) AS doc_id_sum, "
    "true AS compressed, true AS clean FROM surv",
)
def pipeline_corpus_freeze(spark, sf_dir):
    """The whole mission in one query: clean -> dedup -> tokenize -> freeze.

    The training-data funnel end-to-end: quality filter (length bucket
    medium+, text_quality_score's rule) and language heuristic
    (lang_id_heuristic's stopword rule) -> corpus-wide near-dup
    resolution (minhash kernel -> LSH band join -> jaccard verify ->
    connected components -> drop non-keepers, the dedup_apply machinery)
    -> deterministic tokenization -> freeze through the compression
    engine -> read back. The DuckDB oracle replays the ENTIRE funnel
    (recursive-CTE closure included) and pins the surviving corpus's
    membership and token mass; ``compressed``/``clean`` pin that the
    freeze beat raw bytes with zero failed chunks.
    """
    import os
    import shutil
    import tempfile

    from . import engine

    base = _scratch("pipeline", sf_dir)
    docs = _t(spark, sf_dir, "documents")
    d = docs.select(F.col("doc_id").cast("long").alias("doc_id"), "text")
    mh = amap(d, _minhash_kernel, _MINHASH_DDL)
    drops = _connected_components(
        _jaccard_verify(d, _lsh_candidate_pairs(mh))
    ).filter(F.col("u") != F.col("label")).select(F.col("u").alias("doc_id"))
    n_the = F.length("text") - F.length(
        F.regexp_replace("text", F.lit(" the "), F.lit("")))
    surv = (
        docs.filter((F.col("n_chars") > 100) & (n_the > 0))
        .join(F.broadcast(drops), "doc_id", "left_anti")
    )
    surv.select(
        F.format_string("doc-%012d", "doc_id").alias("doc_id"),
        F.expr(_TOK_EXPR).alias("tokens"),
        (F.col("n_chars") % 64 + 1).cast("int").alias("n_tok"),
        "source",
    ).write.parquet(f"{base}/in")
    out = f"{base}/out"
    s = engine.freeze(spark, f"{base}/in", out, target_tokens=100_000)
    key_num = F.substring("doc_id", 5, 12).cast("long")
    return engine.decode_frozen(spark, out).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("tok_sum"),
        F.sum(key_num).cast("long").alias("doc_id_sum"),
    ).select(
        "*",
        F.lit(0 < s["enc_bytes"] < s["raw_bytes"]).alias("compressed"),
        F.lit(s["n_failed"] == 0).alias("clean"),
    )


# ===========================================================================
# training-data pipeline: packing, mixture sampling, sharding, decontamination
# ===========================================================================

_PACK_W = 256


_PACK_ORACLE = f"""
    WITH seq AS (
      SELECT doc_id, (n_chars % 64 + 1)::BIGINT AS n_tok, {_TOK_SQL} AS l
      FROM documents
    ),
    off AS (
      SELECT doc_id, n_tok, l,
             COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
      FROM seq
    ),
    pos AS (
      SELECT doc_id, start, l, unnest(range(0, n_tok)) AS i FROM off
    ),
    tok AS (
      SELECT doc_id, CAST((start + i) // {_PACK_W} AS BIGINT) AS window_id,
             l[i + 1] AS tok
      FROM pos
    )
    SELECT window_id,
           CAST(count(*) AS BIGINT) AS n_tok,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(sum(tok) AS BIGINT) AS tok_sum
    FROM tok GROUP BY window_id
    """


@q("pack_sequences", _PACK_ORACLE)
def pack_sequences(spark, sf_dir):
    """Context-window packing: concat token streams, split at W tokens.

    The standard LLM-pretraining packing step (concat-and-chunk): order
    documents by key, lay their token streams end to end, and cut the
    global stream into fixed W-token training windows. Per window the
    query reports how many tokens/documents it spans and the token-value
    sum — bit-level evidence every token landed in exactly one window.

    Scale shape: the global offset of each document is a distributed
    two-phase cumulative sum — deterministic range buckets from the key
    span (NOT spark_partition_id, so the plan is parallelism-invariant),
    per-bucket window cumsum, and a driver-side prefix over the ~P
    bucket totals (bounded, like cryo's chunk plan) broadcast back.
    No global single-partition sort anywhere; the per-doc window slice
    runs as array ops (sequence/slice/aggregate) without exploding
    individual tokens through a shuffle.
    """
    from pyspark.sql import Window

    W = _PACK_W
    seqs = sequences_from_documents(spark, sf_dir)
    df = seqs.select(
        F.substring("doc_id", 5, 12).cast("long").alias("k"),
        "tokens",
        F.col("n_tok").cast("long").alias("n_tok"),
    )
    lo, hi = df.agg(F.min("k"), F.max("k")).first()
    n_buckets = 8
    span = max(int(hi) - int(lo) + 1, 1)
    bucket = F.least(
        F.lit(n_buckets - 1),
        ((F.col("k") - F.lit(int(lo))) * n_buckets / F.lit(span)).cast("int"),
    )
    b = df.withColumn("pid", bucket).repartition(n_buckets, "pid")
    w_local = (
        Window.partitionBy("pid").orderBy("k")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    loc = b.withColumn(
        "local_start", F.coalesce(F.sum("n_tok").over(w_local), F.lit(0))
    )
    totals = sorted(
        b.groupBy("pid").agg(F.sum("n_tok").alias("tot")).collect(),
        key=lambda r: r["pid"],
    )
    prefix, run = [], 0
    for r in totals:
        prefix.append((r["pid"], run))
        run += int(r["tot"])
    pre_df = spark.createDataFrame(prefix, "pid int, offset long")
    g = (
        loc.join(F.broadcast(pre_df), "pid")
        .withColumn("start", F.col("offset") + F.col("local_start"))
    )
    e = g.select(
        "k", "tokens", "n_tok", "start",
        F.explode(
            F.expr(f"sequence(start div {W}, (start + n_tok - 1) div {W})")
        ).alias("window_id"),
    )
    sl = F.expr(
        f"slice(tokens, CAST(greatest(window_id * {W} - start, 0) AS INT) + 1, "
        f"CAST(least(start + n_tok, (window_id + 1) * {W}) "
        f"- greatest(start, window_id * {W}) AS INT))"
    )
    return (
        e.withColumn("sl", sl)
        .groupBy("window_id")
        .agg(
            F.sum(F.size("sl")).cast("long").alias("n_tok"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.expr("aggregate(sl, 0L, (a, x) -> a + x)"))
            .cast("long")
            .alias("tok_sum"),
        )
        .select(F.col("window_id").cast("long").alias("window_id"),
                "n_tok", "n_docs", "tok_sum")
    )


@q(
    "sample_mixture",
    """
    WITH w AS (
      SELECT source, doc_id, n_chars,
             250 + (CAST(substr(source, 4) AS INT) * 317) % 1901 AS w_mille,
             (doc_id * 2654435761) % 1000 AS u
      FROM documents
    ),
    k AS (
      SELECT source, doc_id, n_chars,
             w_mille // 1000
               + CASE WHEN u < w_mille % 1000 THEN 1 ELSE 0 END AS copies
      FROM w
    )
    SELECT source,
           CAST(sum(copies) AS BIGINT) AS n_rows,
           CAST(count(*) FILTER (WHERE copies > 0) AS BIGINT) AS n_docs,
           CAST(COALESCE(sum(n_chars * copies), 0) AS BIGINT) AS chars_total
    FROM k GROUP BY source
    """,
)
def sample_mixture(spark, sf_dir):
    """Deterministic per-source mixture sampling with upsampling.

    Builds a training mixture from per-source sampling weights (the
    data-recipe step of an LLM pipeline): weight < 1.0 downsamples by a
    deterministic per-doc coin (hash arithmetic, reproducible across
    runs/engines — no rand()), weight > 1.0 upsamples by emitting
    floor(w) copies plus a fractional-probability extra. Weights live in
    a small dim table broadcast-joined to the corpus; the upsampled rows
    come from exploding sequence(1, copies) (guarded: Spark's sequence
    is descending when copies = 0).
    """
    d = _t(spark, sf_dir, "documents")
    wdf = (
        d.select("source").distinct()
        .withColumn(
            "w_mille",
            F.lit(250)
            + (F.regexp_extract("source", "(\\d+)", 1).cast("int") * 317)
            % 1901,
        )
    )
    u = (F.col("doc_id") * F.lit(2654435761)) % 1000
    copies = (
        F.expr("w_mille div 1000")
        + F.when(u < F.col("w_mille") % 1000, 1).otherwise(0)
    )
    sampled = (
        d.join(F.broadcast(wdf), "source")
        .withColumn("copies", copies)
        .withColumn(
            "rep",
            F.explode(
                F.expr(
                    "CASE WHEN copies > 0 THEN sequence(1, copies) "
                    "ELSE array() END"
                )
            ),
        )
    )
    return sampled.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("chars_total"),
    )


@q(
    "shuffle_shards",
    """
    WITH h AS (
      SELECT doc_id, (doc_id * 2654435761 + 12345) % 999983 AS h
      FROM documents
    ),
    r AS (
      SELECT doc_id, h, h % 16 AS shard_id,
             row_number() OVER (PARTITION BY h % 16 ORDER BY h, doc_id) AS pos
      FROM h
    )
    SELECT CAST(shard_id AS BIGINT) AS shard_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(pos * doc_id) AS BIGINT) AS order_checksum,
           CAST(min(h) AS BIGINT) AS h_min,
           CAST(max(h) AS BIGINT) AS h_max
    FROM r GROUP BY shard_id
    """,
)
def shuffle_shards(spark, sf_dir):
    """Deterministic global shuffle + shard assignment for training data.

    Training corpora are written as N shards in a reproducible
    pseudo-random document order (so every epoch/worker sees the same
    shuffle). Order key h = affine-mod hash of the key; shard = h mod
    16. The physical write shape is repartition(shard) +
    sortWithinPartitions(h) — here the window per shard computes each
    doc's position and the checksum sum(pos * doc_id) pins the exact
    within-shard order, not just membership.
    """
    from pyspark.sql import Window

    d = _t(spark, sf_dir, "documents")
    h = (F.col("doc_id") * 2654435761 + 12345) % 999983
    s = d.select("doc_id", h.alias("h"), (h % 16).alias("shard_id"))
    w = Window.partitionBy("shard_id").orderBy("h", "doc_id")
    return (
        s.withColumn("pos", F.row_number().over(w))
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.col("pos") * F.col("doc_id")).cast("long")
            .alias("order_checksum"),
            F.min("h").cast("long").alias("h_min"),
            F.max("h").cast("long").alias("h_max"),
        )
        .select(F.col("shard_id").cast("long").alias("shard_id"),
                "n_docs", "order_checksum", "h_min", "h_max")
    )


_G3_SPARK = (
    "CASE WHEN size(w) >= 3 THEN transform(sequence(0, size(w) - 3), "
    "i -> xxhash64(w[i], w[i+1], w[i+2])) "
    "ELSE CAST(array() AS array<bigint>) END"
)


@q(
    "decontaminate_ngrams",
    """
    WITH wd AS (
      SELECT doc_id, source, n_chars,
             list_filter(string_split(text, ' '), x -> x != '') AS w
      FROM documents
    ),
    g AS (
      SELECT doc_id, source, n_chars,
             CASE WHEN len(w) >= 3 THEN
               list_transform(range(1, len(w) - 1),
                              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
             ELSE [] END AS grams
      FROM wd
    ),
    eg AS (
      SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id % 97 = 0
    ),
    corpus_grams AS (
      SELECT doc_id, unnest(grams) AS gram FROM g WHERE doc_id % 97 != 0
    ),
    contam AS (
      SELECT DISTINCT c.doc_id FROM corpus_grams c JOIN eg USING (gram)
    )
    SELECT source,
           CAST(count(*) FILTER (WHERE doc_id NOT IN
             (SELECT doc_id FROM contam)) AS BIGINT) AS n_clean,
           CAST(count(*) FILTER (WHERE doc_id IN
             (SELECT doc_id FROM contam)) AS BIGINT) AS n_contam,
           CAST(COALESCE(sum(n_chars) FILTER (WHERE doc_id NOT IN
             (SELECT doc_id FROM contam)), 0) AS BIGINT) AS chars_clean
    FROM g WHERE doc_id % 97 != 0
    GROUP BY source
    """,
)
def decontaminate_ngrams(spark, sf_dir):
    """Benchmark decontamination: drop corpus docs sharing eval n-grams.

    The eval-leakage guard of an LLM data pipeline: extract word
    3-grams from a held-out eval set (docs with doc_id % 97 == 0) and
    flag any training doc sharing at least one 3-gram. The eval n-gram
    set is small by construction, so the membership test is a
    broadcast left-semi join on the exploded corpus grams — the shape
    that survives 100 TB (no shuffle of the corpus text; the only wide
    exchange is the distinct over flagged doc ids). Reports per-source
    surviving/flagged counts and surviving char mass.

    Two physical choices, both measured at sf0.1: (1) grams are
    compared as xxhash64(w1,w2,w3) longs, not concatenated strings —
    same result (collision odds ~n_corpus*n_eval/2^64), no per-gram
    string allocation; (2) the words array passes through an
    explode(array(...)) Generate BARRIER before the gram lambda —
    without it CollapseProject inlines filter(split(text)) into every
    w[i] subscript and the split re-evaluates per gram (quadratic in
    doc length; 9.2s -> 1.2s for the whole query at sf0.1).
    """
    d = _t(spark, sf_dir, "documents")
    g = (
        d.select(
            "doc_id", "source", "n_chars",
            F.explode(
                F.array(F.expr("filter(split(text, ' '), x -> x != '')"))
            ).alias("w"),
        )
        .withColumn("grams", F.expr(_G3_SPARK))
        .select("doc_id", "source", "n_chars", "grams")
    )
    eg = (
        g.filter(F.col("doc_id") % 97 == 0)
        .select(F.explode("grams").alias("gram"))
        .distinct()
    )
    corpus = g.filter(F.col("doc_id") % 97 != 0)
    contam = (
        corpus.select("doc_id", F.explode("grams").alias("gram"))
        .join(F.broadcast(eg), "gram", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("is_contam", F.lit(True))
    )
    # doc-level rows come straight from the table, NOT from `corpus`:
    # corpus carries the split/gram Generate, and projecting it away
    # does not elide the Generate node — the text split would run a
    # third full pass just to produce (doc_id, source, n_chars).
    flagged = (
        d.filter(F.col("doc_id") % 97 != 0)
        .select("doc_id", "source", "n_chars")
        .join(contam, "doc_id", "left")
    )
    return flagged.groupBy("source").agg(
        F.sum(F.when(F.col("is_contam").isNull(), 1).otherwise(0))
        .cast("long").alias("n_clean"),
        F.sum(F.when(F.col("is_contam").isNotNull(), 1).otherwise(0))
        .cast("long").alias("n_contam"),
        F.coalesce(
            F.sum(F.when(F.col("is_contam").isNull(), F.col("n_chars"))),
            F.lit(0),
        ).cast("long").alias("chars_clean"),
    )


_KM_K = 8


@q(
    "kmeans_embeddings",
    """
    WITH dims AS (
      SELECT vec_id, label, generate_subscripts(embedding, 1) AS d,
             CAST(unnest(embedding) AS DOUBLE) AS x
      FROM embeddings
    ),
    c0 AS (SELECT vec_id AS k, d, x AS c FROM dims WHERE vec_id < 8),
    a1 AS (
      SELECT dims.vec_id, c0.k, sum((dims.x - c0.c) * (dims.x - c0.c)) AS dist
      FROM dims JOIN c0 USING (d) GROUP BY dims.vec_id, c0.k
    ),
    b1 AS (
      SELECT vec_id, k FROM a1
      QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, k) = 1
    ),
    m1 AS (
      SELECT b1.k, dims.d, avg(dims.x) AS c
      FROM b1 JOIN dims USING (vec_id) GROUP BY b1.k, dims.d
    ),
    c1 AS (
      SELECT c0.k, c0.d, COALESCE(m1.c, c0.c) AS c
      FROM c0 LEFT JOIN m1 ON m1.k = c0.k AND m1.d = c0.d
    ),
    a2 AS (
      SELECT dims.vec_id, c1.k, sum((dims.x - c1.c) * (dims.x - c1.c)) AS dist
      FROM dims JOIN c1 USING (d) GROUP BY dims.vec_id, c1.k
    ),
    b2 AS (
      SELECT vec_id, k FROM a2
      QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, k) = 1
    ),
    m2 AS (
      SELECT b2.k, dims.d, avg(dims.x) AS c
      FROM b2 JOIN dims USING (vec_id) GROUP BY b2.k, dims.d
    ),
    chk AS (SELECT k, round(sum(c), 4) AS centroid_sum FROM m2 GROUP BY k)
    SELECT CAST(b2.k AS BIGINT) AS cluster_id,
           CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(sum(e.label) AS BIGINT) AS label_sum,
           chk.centroid_sum
    FROM b2 JOIN embeddings e USING (vec_id) JOIN chk ON chk.k = b2.k
    GROUP BY b2.k, chk.centroid_sum
    """,
)
def kmeans_embeddings(spark, sf_dir):
    """K-means over embeddings: the iterative-algorithm operator class.

    Two Lloyd iterations, K=8, deterministic init (vec_id < K), squared
    L2, argmin ties to the lowest cluster id. The Spark shape is
    MLlib's treeAggregate idiom done with DataFrame primitives: each
    iteration is ONE mapInArrow pass whose kernel assigns a whole Arrow
    batch with a broadcasted (n,1,d)-(K,d) float64 difference (exactly
    the oracle's per-dim arithmetic — no dot-product expansion, so the
    argmin can't drift on cancellation) and emits K partial-sum rows
    (sum vector + count) per batch; the driver folds the tiny partials
    into new centroids. No shuffle of the vectors, ever — the only wide
    exchange is the final K-row stats groupBy. Empty clusters keep
    their previous centroid (oracle: COALESCE). The DuckDB oracle
    replays both iterations dim-unnested and pins counts, label mass,
    and the rounded final centroid sums.
    """
    import numpy as np

    e = _t(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")
    init = (
        e.filter(F.col("vec_id") < _KM_K).orderBy("vec_id")
        .select("embedding").collect()
    )
    C = np.array([r.embedding for r in init], dtype=np.float64)

    def _batch_xy(b):
        import pyarrow as pa

        from cryo_spark.arrowutil import fixed_list_matrix

        t = pa.Table.from_batches([b])
        return t, fixed_list_matrix(t, "embedding")

    def partials_fn(Cb):
        def fn(batches):
            import numpy as np
            import pyarrow as pa

            for b in batches:
                if b.num_rows == 0:
                    continue
                _, X = _batch_xy(b)
                k = ((X[:, None, :] - Cb[None, :, :]) ** 2).sum(2).argmin(1)
                K, d = Cb.shape
                sums = np.zeros((K, d))
                cnts = np.zeros(K, dtype=np.int64)
                np.add.at(sums, k, X)
                np.add.at(cnts, k, 1)
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(np.arange(K, dtype=np.int64)),
                        pa.array(list(sums), type=pa.list_(pa.float64())),
                        pa.array(cnts),
                    ],
                    names=["k", "vsum", "cnt"],
                )
        return fn

    def lloyd_update(Cb):
        # fold the per-batch partials Spark-side (map-side combine) so
        # the driver collects exactly K*d rows — the raw partials are
        # one K-row group per Arrow batch, which IS corpus-proportional
        # at 10^12 scale (~#batches x K rows) if collected directly
        K, d = Cb.shape
        p = amap(e.select("embedding"), partials_fn(Cb),
                 "k long, vsum array<double>, cnt long")
        rows = (
            p.select("k", "cnt", F.posexplode("vsum").alias("pos", "x"))
            .groupBy("k", "pos")
            .agg(F.sum("x").alias("sx"), F.sum("cnt").alias("cs"))
            .collect()
        )
        sums = np.zeros((K, d))
        cnts = np.zeros(K, dtype=np.int64)
        for r in rows:
            sums[r.k, r.pos] = r.sx
            if r.pos == 0:
                cnts[r.k] = r.cs
        out = Cb.copy()
        nz = cnts > 0
        out[nz] = sums[nz] / cnts[nz, None]
        return out

    C1 = lloyd_update(C)
    C2 = lloyd_update(C1)

    def assign_fn(Cb):
        def fn(batches):
            import numpy as np
            import pyarrow as pa

            for b in batches:
                if b.num_rows == 0:
                    continue
                t, X = _batch_xy(b)
                k = ((X[:, None, :] - Cb[None, :, :]) ** 2).sum(2).argmin(1)
                yield pa.RecordBatch.from_arrays(
                    [
                        t.column("vec_id").combine_chunks().cast(pa.int64()),
                        t.column("label").combine_chunks().cast(pa.int64()),
                        pa.array(k.astype(np.int64)),
                    ],
                    names=["vec_id", "label", "cluster_id"],
                )
        return fn

    asg = amap(e, assign_fn(C1), "vec_id long, label long, cluster_id long")
    chk = spark.createDataFrame(
        [(int(k), float(round(C2[k].sum(), 4))) for k in range(C2.shape[0])],
        "cluster_id long, centroid_sum double",
    )
    return (
        asg.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.sum("label").cast("long").alias("label_sum"),
        )
        .join(F.broadcast(chk), "cluster_id")
        .select("cluster_id", "n_vecs", "label_sum", "centroid_sum")
    )


@q("enc_pack_freeze", _PACK_ORACLE)
def enc_pack_freeze(spark, sf_dir):
    """engine.pack end-to-end: pack -> freeze -> decode, per-window.

    Same oracle as pack_sequences, but the Spark side goes through the
    PRODUCT path: the derived corpus is written to parquet, packed and
    frozen as the packed_sequences table (engine.pack), decoded back
    (decode_frozen), and compared per window — window membership, doc
    spans, and token-value mass all pinned bit-level through the codec
    engine.
    """
    import os
    import shutil
    import tempfile

    from . import engine
    from .tablespec import PACKED_SEQUENCES

    base = _scratch("pack", sf_dir)
    sequences_from_documents(spark, sf_dir).write.parquet(f"{base}/in")
    engine.pack(spark, f"{base}/in", f"{base}/out", window=_PACK_W,
                target_tokens=100_000)
    dec = engine.decode_frozen(spark, f"{base}/out", spec=PACKED_SEQUENCES)
    return dec.select(
        "window_id",
        F.col("n_tok").cast("long").alias("n_tok"),
        F.col("n_docs").cast("long").alias("n_docs"),
        F.expr("CAST(aggregate(tokens, 0L, (a, x) -> a + x) AS BIGINT)")
        .alias("tok_sum"),
    )


@q(
    "join_multiway_revenue",
    """
    SELECT n_name,
           CAST(sum(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5))
                AS BIGINT) AS revenue_cents,
           CAST(count(*) AS BIGINT) AS n_items
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
                 AND s_nationkey = c_nationkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA' AND o_orderstatus = 'F'
    GROUP BY n_name
    """,
)
def join_multiway_revenue(spark, sf_dir):
    """Six-table star join (TPC-H Q5 shape): local-supplier revenue.

    The reference has no general join operator (SURVEY.md §2.4), but a
    user of this engine does — this pins the multiway case: fact table
    (lineitem) joined through orders to customer, co-nation supplier,
    nation and region, with a selective dim predicate. The dims are
    tiny, so every join except lineitem⨝orders should broadcast; the
    region filter prunes before the fan-in. Declared declaratively —
    Catalyst/AQE own the join order and strategies.
    """
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    j = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey)
            & (s.s_nationkey == c.c_nationkey),
        )
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    # money as per-row integer cents BEFORE the sum: per-row IEEE
    # arithmetic is bit-identical across engines, so the integer sum is
    # order-independent and exact — round(sum(double), 2) is a knife-
    # edge whenever the two engines' summation orders differ by an ulp
    # near a .005 boundary (the asof epoch-rounding bug's family)
    return j.groupBy("n_name").agg(
        F.sum(F.floor(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + 0.5))
        .cast("long").alias("revenue_cents"),
        F.count(F.lit(1)).cast("long").alias("n_items"),
    )


@q(
    "percentiles_by_type",
    """
    SELECT event_type,
           CAST(round(quantile_cont(value, 0.5), 6) AS DOUBLE) AS p50,
           CAST(round(quantile_cont(value, 0.9), 6) AS DOUBLE) AS p90,
           CAST(round(quantile_cont(value, 0.99), 6) AS DOUBLE) AS p99,
           CAST(count(*) AS BIGINT) AS n
    FROM events GROUP BY event_type
    """,
)
def percentiles_by_type(spark, sf_dir):
    """Exact linear-interpolation percentiles per group (p50/p90/p99).

    Spark's `percentile` and DuckDB's `quantile_cont` share the
    continuous-interpolation definition, so the values agree exactly.
    At scale this is the operator behind latency/quality dashboards;
    for approximate single-pass variants Spark's percentile_approx
    (KLL-ish) drops in with the same plan shape.
    """
    e = _t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
        F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )


_KMV_K = 64
_KMV_P = 2_147_483_647  # 2^31 - 1 (Mersenne prime, portable arithmetic)


@q(
    "sketch_distinct_kmv",
    f"""
    WITH h AS (
      SELECT DISTINCT (user_id * 48271 + 11) % {_KMV_P} AS hv FROM events
    ),
    kmin AS (SELECT hv FROM h ORDER BY hv LIMIT {_KMV_K}),
    est AS (
      SELECT max(hv) AS hk, count(*) AS k FROM kmin
    )
    SELECT CAST(k AS BIGINT) AS k,
           CAST(hk AS BIGINT) AS kth_hash,
           CAST(round(({_KMV_K} - 1.0) * {_KMV_P} / hk, 4) AS DOUBLE)
             AS est_distinct,
           (SELECT CAST(count(DISTINCT user_id) AS BIGINT) FROM events)
             AS true_distinct
    FROM est
    """,
)
def sketch_distinct_kmv(spark, sf_dir):
    """KMV distinct-count sketch with a portable hash, oracle-exact.

    The k-minimum-values estimator (Bar-Yossef et al.): hash every key
    with deterministic mod-prime arithmetic, keep the k smallest
    distinct hashes, estimate |D| = (k-1) * P / h_k. Unlike HLL-based
    approx_count_distinct, the arithmetic is engine-portable, so the
    oracle pins the exact sketch state (k-th hash) AND the estimate —
    the pattern for any sketch that must be mergeable across engines.
    At scale: the distinct + TakeOrdered is one map-side-combined
    exchange of k values per partition.
    """
    e = _t(spark, sf_dir, "events")
    h = e.select(
        ((F.col("user_id") * 48271 + 11) % _KMV_P).alias("hv")
    ).distinct()
    kmin = h.orderBy("hv").limit(_KMV_K)
    true_d = e.agg(F.countDistinct("user_id")).first()[0]
    return kmin.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.max("hv").cast("long").alias("kth_hash"),
    ).select(
        "k",
        "kth_hash",
        F.round((F.lit(_KMV_K) - 1.0) * _KMV_P / F.col("kth_hash"), 4)
        .cast("double").alias("est_distinct"),
        F.lit(int(true_d)).cast("long").alias("true_distinct"),
    )


# ===========================================================================
# span-level exact dedup + embedding quantization
# ===========================================================================

_SPAN_K = 20  # bytes per window: long enough that cross-doc matches mean
              # real shared passages, not vocabulary coincidence


def _span_kernel(batches):
    """mapInArrow kernel: distinct 20-byte-window hashes per document.

    The exact-substring dedup primitive (Lee et al., "Deduplicating
    Training Data Makes Language Models Better", ACL 2022 — their
    suffix-array pass finds verbatim repeated spans; hashed fixed-K
    windows are the shuffle-friendly equivalent). Reuses the shingle
    gather (_flat_shingle_hashes) at K=20; per-doc np.unique dedups
    BEFORE any shuffle, so the kernel emits each (doc, span) once —
    a map-side distinct that caps the exchange at the true span-set
    size instead of one row per character position.
    """
    import numpy as np
    import pyarrow as pa

    for b in batches:
        t = pa.Table.from_batches([b])
        if t.num_rows == 0:
            continue
        h, doc_of, _n_sh = _flat_shingle_hashes(t.column("text"), k=_SPAN_K)
        doc_ids = t.column("doc_id").combine_chunks().cast(pa.int64()).to_numpy()
        # batch-local doc index * p + hash is a unique composite key
        # (h < p); one np.unique dedups every doc in the batch at once
        keys = np.unique(doc_of * _J_PRIME + h)
        yield pa.RecordBatch.from_arrays(
            [pa.array(doc_ids[keys // _J_PRIME]), pa.array(keys % _J_PRIME)],
            names=["doc_id", "span_h"],
        )


@q(
    "dedup_span_exact",
    f"""
    WITH sp AS (
      SELECT DISTINCT doc_id, span_h FROM (
        SELECT doc_id, unnest({_sql_shingles('text', _SPAN_K)}) AS span_h
        FROM documents
      )
    ),
    dup AS (SELECT span_h FROM sp GROUP BY span_h HAVING count(*) >= 2)
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(count(*) AS BIGINT) AS n_dup_spans
    FROM sp JOIN dup USING (span_h)
    GROUP BY doc_id
    """,
)
def dedup_span_exact(spark, sf_dir):
    """Exact duplicated-span detection: 20-byte windows shared across docs.

    Per doc, the count of distinct 20-byte window hashes that also occur
    in at least one other document — the span-level complement of the
    whole/near-doc dedup family (Lee et al. 2022's repeated-substring
    pass). Plan: one mapInArrow pass emits per-doc-distinct (doc_id,
    span_h) rows; ONE shuffle on span_h serves both the duplicate-hash
    aggregate and the semi-join back (same partitioning, AQE reuses the
    exchange); one final shuffle groups by doc. At 100 TB the kernel
    emits ~L rows per doc — the production knob is content-defined
    anchoring (keep windows where span_h % s == 0), which samples the
    same hash space uniformly and shrinks the exchange s-fold with
    recall 1-(1-1/s)^|shared spans|; the exact variant here is the
    oracle-checkable ground truth. Oracle: DuckDB recomputes identical
    window hashes via the same mod-prime polynomial.
    """
    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    spans = amap(d, _span_kernel, "doc_id long, span_h long")
    return _span_dup_counts(spans)


def _quant_kernel(batches):
    """mapInArrow kernel: per-vector symmetric int8 quantization.

    The embedding-column analog of the engine's integer codec family
    (FoR / bit-pack): 4 bytes/dim float32 -> 1 byte/dim code + one
    float scale per vector. scale = max|v| / 127; code = floor(v/scale
    + 0.5) (floor-based round-half-up: identical IEEE semantics in
    numpy, Spark and DuckDB — np.rint/SQL round() disagree on ties).
    Emits integer checksums that pin every code exactly: a position-
    weighted sum (order-sensitive) and the L2 of the codes, plus
    floor(scale * 1e6) so the reconstruction factor is pinned too.
    All batch-vectorized via reduceat over the flattened values; no
    per-row Python.
    """
    import numpy as np
    import pyarrow as pa

    for b in batches:
        t = pa.Table.from_batches([b])
        if t.num_rows == 0:
            continue
        emb = t.column("embedding")
        if isinstance(emb, pa.ChunkedArray):
            emb = emb.combine_chunks()
        lengths = emb.value_lengths().to_numpy(zero_copy_only=False).astype(np.int64)
        if (lengths <= 0).any():
            raise ValueError("empty embedding row: quantizer needs dim >= 1")
        # flatten() is offset/slice-aware (unlike .values)
        vals = emb.flatten().to_numpy(zero_copy_only=False).astype(np.float64)
        starts = np.concatenate(([0], np.cumsum(lengths)[:-1]))
        maxabs = np.maximum.reduceat(np.abs(vals), starts)
        scale = maxabs / 127.0
        sc_rep = np.repeat(scale, lengths)
        q = np.where(
            sc_rep > 0.0,
            np.floor(vals / np.where(sc_rep == 0.0, 1.0, sc_rep) + 0.5),
            0.0,
        ).astype(np.int64)
        idx = np.arange(len(vals), dtype=np.int64) - np.repeat(starts, lengths) + 1
        yield pa.RecordBatch.from_arrays(
            [
                t.column("vec_id").combine_chunks().cast(pa.int64()),
                pa.array(np.floor(scale * 1e6).astype(np.int64)),
                pa.array(np.add.reduceat(q * idx, starts)),
                pa.array(np.add.reduceat(q * q, starts)),
            ],
            names=["vec_id", "scale_micro", "qsum_weighted", "q_l2"],
        )


@q(
    "embed_quantize_int8",
    """
    WITH s AS (
      SELECT vec_id,
             list_transform(embedding, v -> CAST(v AS DOUBLE)) AS e,
             list_max(list_transform(embedding,
                                     v -> abs(CAST(v AS DOUBLE)))) / 127.0 AS sc
      FROM embeddings
    ),
    q AS (
      SELECT vec_id, sc,
             CASE WHEN sc > 0
                  THEN list_transform(e, v -> CAST(floor(v / sc + 0.5) AS BIGINT))
                  ELSE list_transform(e, v -> CAST(0 AS BIGINT)) END AS qs
      FROM s
    )
    SELECT CAST(vec_id AS BIGINT) AS vec_id,
           CAST(floor(sc * 1000000) AS BIGINT) AS scale_micro,
           CAST(list_sum(list_transform(range(1, len(qs) + 1),
                                        i -> qs[i] * i)) AS BIGINT)
             AS qsum_weighted,
           CAST(list_sum(list_transform(qs, v -> v * v)) AS BIGINT) AS q_l2
    FROM q
    """,
)
def embed_quantize_int8(spark, sf_dir):
    """Symmetric int8 quantization of the embedding column, code-exact.

    Per vector: scale = max|v|/127, code_i = floor(v_i/scale + 0.5) —
    4x smaller embeddings for ANN/recall pipelines at a bounded cosine
    error. Pure map (ZERO shuffles: one mapInArrow pass, no exchange in
    the plan); float32 -> double promotion is exact and every op
    (max, one divide, floor) is a single IEEE operation, so the codes
    are bit-identical across engines and the oracle pins them via an
    order-sensitive position-weighted checksum + code L2 + the scale
    to 1e-6. At scale this is the write-side of a quantized vector
    store: codes pack to 1 byte/dim with the same bit-pack codec the
    token engine uses.
    """
    e = _t(spark, sf_dir, "embeddings").select(
        F.col("vec_id").cast("long").alias("vec_id"), "embedding"
    )
    return amap(
        e, _quant_kernel,
        "vec_id long, scale_micro long, qsum_weighted long, q_l2 long",
    )


_SPAN_ANCHOR_S = 4  # content-defined sampling modulus for the scale path


def _make_span_kernel(anchor_s: int | None = None):
    """Span-window kernel maker; anchor_s enables content-defined sampling.

    With ``anchor_s`` set, only windows whose hash ≡ 0 (mod s) are kept
    BEFORE the shuffle — the 100 TB knob dedup_span_exact documents: the
    anchor predicate depends on the window BYTES alone (never position
    or neighbors), so two documents sharing a span always sample the
    same windows from it, and the exchange shrinks ~s-fold at recall
    1-(1-1/s)^|shared distinct spans|.
    """
    import numpy as np
    import pyarrow as pa

    def kernel(batches):
        for b in batches:
            t = pa.Table.from_batches([b])
            if t.num_rows == 0:
                continue
            h, doc_of, _n_sh = _flat_shingle_hashes(t.column("text"), k=_SPAN_K)
            if anchor_s is not None:
                keep = (h % anchor_s) == 0
                h, doc_of = h[keep], doc_of[keep]
                if not len(h):
                    continue
            doc_ids = t.column("doc_id").combine_chunks().cast(pa.int64()).to_numpy()
            keys = np.unique(doc_of * _J_PRIME + h)
            yield pa.RecordBatch.from_arrays(
                [pa.array(doc_ids[keys // _J_PRIME]), pa.array(keys % _J_PRIME)],
                names=["doc_id", "span_h"],
            )

    return kernel


def _span_dup_counts(spans: DataFrame) -> DataFrame:
    """(doc_id, span_h) rows -> per-doc count of cross-doc-shared spans."""
    from pyspark.storagelevel import StorageLevel

    spans = spans.persist(StorageLevel.MEMORY_AND_DISK)
    dup = (
        spans.groupBy("span_h")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
        .select("span_h")
    )
    return (
        spans.join(dup, "span_h")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_dup_spans"))
    )


@q(
    "dedup_span_anchored",
    f"""
    WITH sp AS (
      SELECT DISTINCT doc_id, span_h FROM (
        SELECT doc_id, unnest({_sql_shingles('text', _SPAN_K)}) AS span_h
        FROM documents
      ) WHERE span_h % {_SPAN_ANCHOR_S} = 0
    ),
    dup AS (SELECT span_h FROM sp GROUP BY span_h HAVING count(*) >= 2)
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(count(*) AS BIGINT) AS n_dup_spans
    FROM sp JOIN dup USING (span_h)
    GROUP BY doc_id
    """,
)
def dedup_span_anchored(spark, sf_dir):
    """Span dedup with content-defined anchoring — the production path.

    Same pipeline as dedup_span_exact, but the kernel keeps only
    windows with span_h % 4 == 0 before any shuffle: ~4x fewer exchange
    rows, and because the anchor predicate is a pure function of the
    window bytes, shared passages still collide (recall
    1-(3/4)^|shared spans| ≈ 1 for passages longer than a few windows).
    The oracle replays the identical anchor arithmetic, pinning that
    the sampled variant is exact on its sample.
    """
    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    spans = amap(d, _make_span_kernel(_SPAN_ANCHOR_S), "doc_id long, span_h long")
    return _span_dup_counts(spans)


# ---------------------------------------------------------------------------
# quantized ANN: int8 codes generate candidates, exact cosine reranks
# ---------------------------------------------------------------------------

_ANN_Q_CAND = 32


def _quant_codes_np(vals):
    """Symmetric int8 codes for one float64 vector (same math as
    _quant_kernel: scale = max|v|/127, code = floor(v/scale + 0.5))."""
    import numpy as np

    m = float(np.max(np.abs(vals))) if len(vals) else 0.0
    sc = m / 127.0
    if sc == 0.0:
        return np.zeros(len(vals), dtype=np.int64)
    return np.floor(vals / sc + 0.5).astype(np.int64)


def _qdot_kernel(qc):
    """mapInArrow kernel: integer code dot-products against the query.

    Quantizes each batch row (identical arithmetic to _quant_kernel),
    then one int64 matmul per batch gives every row's code dot with the
    broadcast query codes plus its own code L2 — the two integers the
    scale-free approximate score d / sqrt(qb2*qa2) needs (per-vector
    scales cancel out of the quantized cosine, so candidate ranking is
    pure integer arithmetic + one sqrt + one divide: bit-portable).
    """
    import numpy as np
    import pyarrow as pa

    def kernel(batches):
        for b in batches:
            t = pa.Table.from_batches([b])
            n = t.num_rows
            if n == 0:
                continue
            emb = t.column("embedding")
            if isinstance(emb, pa.ChunkedArray):
                emb = emb.combine_chunks()
            lengths = emb.value_lengths().to_numpy(zero_copy_only=False)
            if not (lengths == len(qc)).all():
                raise ValueError("embedding dim mismatch vs query codes")
            vals = emb.flatten().to_numpy(zero_copy_only=False).astype(np.float64)
            V = vals.reshape(n, len(qc))
            sc = np.max(np.abs(V), axis=1, keepdims=True) / 127.0
            Q = np.where(sc > 0.0, np.floor(V / np.where(sc == 0.0, 1.0, sc) + 0.5), 0.0).astype(np.int64)
            yield pa.RecordBatch.from_arrays(
                [
                    t.column("vec_id").combine_chunks().cast(pa.int64()),
                    t.column("label").combine_chunks().cast(pa.int32()),
                    pa.array(Q @ qc),
                    pa.array((Q * Q).sum(axis=1)),
                ],
                names=["vec_id", "label", "d", "qb2"],
            )

    return kernel


_ANN_QSQL = f"""
    WITH q AS (
      SELECT list_transform(embedding, v -> CAST(v AS DOUBLE)) AS e
      FROM embeddings WHERE vec_id = 0
    ),
    qc AS (
      SELECT CASE WHEN list_max(list_transform(e, v -> abs(v))) / 127.0 > 0
             THEN list_transform(e, v -> CAST(floor(
                  v / (list_max(list_transform(e, v2 -> abs(v2))) / 127.0)
                  + 0.5) AS BIGINT))
             ELSE list_transform(e, v -> CAST(0 AS BIGINT)) END AS c
      FROM q
    ),
    bc AS (
      SELECT vec_id, label,
             CASE WHEN list_max(list_transform(embedding,
                                v -> abs(CAST(v AS DOUBLE)))) / 127.0 > 0
             THEN list_transform(embedding, v -> CAST(floor(
                  CAST(v AS DOUBLE) /
                  (list_max(list_transform(embedding,
                            v2 -> abs(CAST(v2 AS DOUBLE)))) / 127.0)
                  + 0.5) AS BIGINT))
             ELSE list_transform(embedding, v -> CAST(0 AS BIGINT)) END AS c
      FROM embeddings WHERE vec_id != 0
    ),
    sc AS (
      SELECT b.vec_id, b.label,
             list_sum(list_transform(range(1, len(b.c) + 1),
                                     i -> b.c[i] * q.c[i])) AS d,
             list_sum(list_transform(b.c, v -> v * v)) AS qb2,
             (SELECT list_sum(list_transform(c, v -> v * v)) FROM qc) AS qa2
      FROM bc b CROSS JOIN qc q
    ),
    cand AS (
      SELECT vec_id FROM sc
      ORDER BY CAST(d AS DOUBLE) / sqrt(CAST(qb2 * qa2 AS DOUBLE)) DESC,
               vec_id
      LIMIT {_ANN_Q_CAND}
    )
    SELECT vec_id, label FROM (
      SELECT e.vec_id, e.label,
             list_cosine_similarity(e.embedding, qq.embedding) AS sim
      FROM cand JOIN embeddings e USING (vec_id)
      CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) qq
    ) t ORDER BY sim DESC, vec_id LIMIT 10
"""


@q("ann_quantized_topk", _ANN_QSQL)
def ann_quantized_topk(spark, sf_dir):
    """Quantized-candidate ANN: int8 codes rank, exact cosine reranks.

    The retrieval side of embed_quantize_int8: candidates come from the
    scale-free quantized cosine d / sqrt(qb2*qa2) (per-vector scales
    cancel), computed as ONE int64 matmul per batch in a zero-shuffle
    kernel — 4x less memory traffic than float32 scan at 100 TB, codes
    bit-portable so the oracle replays candidate selection exactly.
    Top-32 candidates (broadcast) rerank with the exact double cosine;
    output is the reranked top-10.
    """
    import numpy as np

    e = _t(spark, sf_dir, "embeddings")
    qv = np.asarray(
        e.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"],
        dtype=np.float64,
    )
    qc = _quant_codes_np(qv)
    qa2 = int((qc * qc).sum())
    scored = amap(
        e.filter(F.col("vec_id") != 0).select("vec_id", "label", "embedding"),
        _qdot_kernel(qc),
        "vec_id long, label int, d long, qb2 long",
    )
    cand = (
        scored.select(
            "vec_id",
            (F.col("d").cast("double")
             / F.sqrt((F.col("qb2") * F.lit(qa2)).cast("double"))).alias("ascore"),
        )
        .orderBy(F.desc("ascore"), "vec_id")
        .limit(_ANN_Q_CAND)
        .select("vec_id")
    )
    return (
        e.filter(F.col("vec_id") != 0)
        .join(F.broadcast(cand), "vec_id")
        .select("vec_id", "label", F.col("embedding").alias("a"))
        .join(F.broadcast(
            e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("b"))))
        .select("vec_id", "label", F.expr(_COS_SPARK).alias("sim"))
        .orderBy(F.desc("sim"), "vec_id")
        .limit(10)
        .select("vec_id", "label")
    )


# ---------------------------------------------------------------------------
# PII redaction + per-source boilerplate stripping
# ---------------------------------------------------------------------------

_PII_EMAIL_RE = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
_PII_PHONE_RE = r"\b[0-9]{3}-[0-9]{4}\b"


@q(
    "pii_redact",
    f"""
    WITH synth AS (
      SELECT doc_id,
             text || ' contact user' || doc_id || '@ex'
                  || (doc_id % 7) || '.example.com or 555-'
                  || lpad(CAST((doc_id * 37) % 10000 AS VARCHAR), 4, '0')
                  || ' ok' AS text
      FROM documents
    ),
    red AS (
      SELECT doc_id,
             regexp_replace(
               regexp_replace(text, '{_PII_EMAIL_RE}', '<EMAIL>', 'g'),
               '{_PII_PHONE_RE}', '<PHONE>', 'g') AS redacted,
             len(regexp_extract_all(text, '{_PII_EMAIL_RE}')) AS n_emails,
             len(regexp_extract_all(text, '{_PII_PHONE_RE}')) AS n_phones
      FROM synth
    )
    SELECT doc_id, CAST(n_emails AS BIGINT) AS n_emails,
           CAST(n_phones AS BIGINT) AS n_phones,
           md5(redacted) AS redacted_md5,
           CAST(length(redacted) AS BIGINT) AS redacted_len
    FROM red
    """,
)
def pii_redact(spark, sf_dir):
    """PII scrubbing: regex redaction of emails/phones, JVM-side.

    The synthetic corpus has no PII, so the query plants deterministic
    spans (email + phone derived from doc_id arithmetic) and then
    scrubs them — both sides replay the identical construction, so the
    oracle pins the redaction itself: match counts, the md5 of the
    scrubbed text, and its length. Pure `regexp_replace`/`regexp_count`
    column expressions (whole-stage codegen, no Python), the shape a
    100 TB compliance scrub needs — the regexes stay within the
    RE2-compatible subset so Java and DuckDB agree byte-for-byte.
    """
    d = _t(spark, sf_dir, "documents")
    synth = d.select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit(" contact user"), F.col("doc_id").cast("string"),
            F.lit("@ex"), (F.col("doc_id") % 7).cast("string"),
            F.lit(".example.com or 555-"),
            F.lpad(((F.col("doc_id") * 37) % 10000).cast("string"), 4, "0"),
            F.lit(" ok"),
        ).alias("text"),
    )
    red = synth.select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace("text", F.lit(_PII_EMAIL_RE), F.lit("<EMAIL>")),
            F.lit(_PII_PHONE_RE), F.lit("<PHONE>"),
        ).alias("redacted"),
        F.regexp_count("text", F.lit(_PII_EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count("text", F.lit(_PII_PHONE_RE)).cast("long").alias("n_phones"),
    )
    return red.select(
        "doc_id", "n_emails", "n_phones",
        F.md5("redacted").alias("redacted_md5"),
        F.length("redacted").cast("long").alias("redacted_len"),
    )


_BP_PREF_LEN = 8  # short enough that the synthetic corpus has real repeats


@q(
    "boilerplate_strip",
    f"""
    WITH pref AS (
      SELECT source, substr(text, 1, {_BP_PREF_LEN}) AS prefix,
             count(*) AS n
      FROM documents GROUP BY source, substr(text, 1, {_BP_PREF_LEN})
    ),
    top AS (
      SELECT source, prefix FROM (
        SELECT source, prefix, n,
               row_number() OVER (PARTITION BY source
                                  ORDER BY n DESC, prefix) AS r
        FROM pref
      ) WHERE r = 1 AND n >= 2
    )
    SELECT d.doc_id,
           CAST(CASE WHEN t.prefix IS NOT NULL
                      AND substr(d.text, 1, {_BP_PREF_LEN}) = t.prefix
                THEN 1 ELSE 0 END AS BIGINT) AS stripped,
           CAST(length(CASE WHEN t.prefix IS NOT NULL
                             AND substr(d.text, 1, {_BP_PREF_LEN}) = t.prefix
                THEN substr(d.text, {_BP_PREF_LEN} + 1)
                ELSE d.text END) AS BIGINT) AS clean_len,
           md5(CASE WHEN t.prefix IS NOT NULL
                     AND substr(d.text, 1, {_BP_PREF_LEN}) = t.prefix
                THEN substr(d.text, {_BP_PREF_LEN} + 1)
                ELSE d.text END) AS clean_md5
    FROM documents d LEFT JOIN top t USING (source)
    """,
)
def boilerplate_strip(spark, sf_dir):
    """Per-source boilerplate removal: dominant-prefix detect + strip.

    Web-crawl corpora repeat per-site boilerplate headers; the standard
    cure is two passes — (1) aggregate each source's most common text
    prefix, (2) strip it from documents that carry it. Pass 1 is a
    groupBy on (source, prefix) whose output is one row per source —
    tiny at any corpus size — so pass 2 joins it back with an explicit
    `F.broadcast`: the 100 TB shape is one shuffle (the agg), zero
    shuffle on the strip. Ties break deterministically (count desc,
    then prefix) and singleton prefixes (n < 2) are never treated as
    boilerplate.
    """
    from pyspark.sql import Window

    d = _t(spark, sf_dir, "documents")
    pref = (
        d.groupBy("source", F.substring("text", 1, _BP_PREF_LEN).alias("prefix"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("source").orderBy(F.desc("n"), "prefix")
    top = (
        pref.withColumn("r", F.row_number().over(w))
        .filter((F.col("r") == 1) & (F.col("n") >= 2))
        .select("source", "prefix")
    )
    joined = d.join(F.broadcast(top), "source", "left")
    hit = F.col("prefix").isNotNull() & (
        F.substring("text", 1, _BP_PREF_LEN) == F.col("prefix")
    )
    clean = F.when(hit, F.expr(f"substring(text, {_BP_PREF_LEN + 1})")).otherwise(
        F.col("text")
    )
    return joined.select(
        "doc_id",
        hit.cast("long").alias("stripped"),
        F.length(clean).cast("long").alias("clean_len"),
        F.md5(clean).alias("clean_md5"),
    )


# ---------------------------------------------------------------------------
# LM-likelihood quality scoring (CCNet-style)
# ---------------------------------------------------------------------------

_LM_TOP_BIGRAMS = 5000  # pruned-model size: what gets broadcast


@q(
    "lm_bigram_score",
    f"""
    WITH seq AS (SELECT doc_id, {_TOK_SQL} AS l FROM documents),
    pairs AS (SELECT doc_id, unnest(list_zip(l[1:len(l) - 1], l[2:len(l)])) AS p
              FROM seq WHERE len(l) >= 2),
    pp AS (SELECT doc_id, CAST(p[1] AS INT) AS t1, CAST(p[2] AS INT) AS t2
           FROM pairs),
    bi AS (SELECT t1, t2, CAST(count(*) AS BIGINT) AS freq FROM pp GROUP BY 1, 2),
    model AS (SELECT t1, t2, freq FROM bi
              ORDER BY freq DESC, t1, t2 LIMIT {_LM_TOP_BIGRAMS}),
    prefix AS (SELECT t1, CAST(sum(freq) AS BIGINT) AS pc FROM bi GROUP BY 1),
    sm AS (SELECT t1, t2, freq * 1000000 // pc AS s
           FROM model JOIN prefix USING (t1))
    SELECT printf('doc-%012d', doc_id) AS doc_id,
           CAST(sum(coalesce(s, 1)) AS BIGINT) AS lm_sum,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(coalesce(s, 1)) // count(*) AS BIGINT) AS avg_score
    FROM pp LEFT JOIN sm USING (t1, t2)
    GROUP BY doc_id
    """,
)
def lm_bigram_score(spark, sf_dir):
    """LM-likelihood quality score (CCNet's filter, bigram form).

    CCNet/RefinedWeb rank documents by a language-model perplexity and
    drop the worst tail. The distributed form: train a PRUNED bigram
    model over the corpus (top-5000 bigrams by frequency, full
    (freq, t1, t2) tiebreak so both engines cut identically), convert
    to integer conditional probabilities ``c(t1,t2) * 1e6 div c(t1·)``
    (never float log — libm ulp differences, see the suite float
    policy), then score every document as the sum over its adjacent
    token pairs, unseen bigrams backing off to the smoothing floor 1.

    Scale shape: the model is TakeOrdered (top-M) + a |vocab|-row
    prefix aggregate — both tiny — and is BROADCAST onto the exploded
    pairs, so scoring adds zero shuffle beyond the per-doc sum
    (map-side partial aggs). The pairs lineage is evaluated twice
    (model pass + scoring pass); at production scale persist the pair
    counts as a corpus-statistics table, the same caveat as
    tfidf_topk_docs. A real deployment scores against a FIXED
    reference-domain model (Wikipedia in CCNet); self-training here
    keeps the fixture self-contained — the join/broadcast shape is
    identical either way.
    """
    seqs = sequences_from_documents(spark, sf_dir)
    pairs = seqs.filter(F.col("n_tok") >= 2).select(
        "doc_id",
        F.explode(F.expr(
            "transform(sequence(0, n_tok - 2), "
            "i -> struct(tokens[i] AS t1, tokens[i + 1] AS t2))"
        )).alias("p"),
    ).select("doc_id", F.col("p.t1").alias("t1"), F.col("p.t2").alias("t2"))
    bi = pairs.groupBy("t1", "t2").agg(
        F.count(F.lit(1)).cast("long").alias("freq")
    )
    model = bi.orderBy(F.desc("freq"), "t1", "t2").limit(_LM_TOP_BIGRAMS)
    prefix = bi.groupBy("t1").agg(F.sum("freq").cast("long").alias("pc"))
    sm = model.join(prefix, "t1").select(
        "t1", "t2", F.expr("freq * 1000000L div pc").alias("s")
    )
    return (
        pairs.join(F.broadcast(sm), ["t1", "t2"], "left")
        .groupBy("doc_id")
        .agg(
            F.sum(F.coalesce(F.col("s"), F.lit(1))).cast("long").alias("lm_sum"),
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
        )
        .select(
            "doc_id", "lm_sum", "n_pairs",
            F.expr("lm_sum div n_pairs").cast("long").alias("avg_score"),
        )
    )


# ---------------------------------------------------------------------------
# Vocabulary compaction: frequency-ranked dense remap of token ids
# ---------------------------------------------------------------------------

_VOCAB_CAP = 50257  # token ids live in [0, 50257) — the GPT-2-ish cap


@q(
    "vocab_remap_compact",
    f"""
    WITH seq AS (SELECT doc_id, {_TOK_SQL} AS l FROM documents),
    pairs AS (SELECT doc_id, unnest(list_zip(l, range(1, len(l) + 1))) AS z
              FROM seq),
    tok AS (SELECT doc_id, CAST(z[1] AS INT) AS t, CAST(z[2] AS BIGINT) AS i
            FROM pairs),
    vocab AS (SELECT t, count(*) AS freq FROM tok GROUP BY t),
    remap AS (SELECT t,
                     CAST(row_number() OVER (ORDER BY freq DESC, t) - 1
                          AS BIGINT) AS new_id
              FROM vocab)
    SELECT printf('doc-%012d', doc_id) AS doc_id,
           CAST((SELECT n_chars FROM documents dd
                 WHERE dd.doc_id = tok.doc_id) % 64 + 1 AS BIGINT) AS n_tok,
           CAST(sum(new_id * i) AS BIGINT) AS remap_sum,
           CAST(max(new_id) AS BIGINT) AS vocab_rank_max
    FROM tok JOIN remap USING (t)
    GROUP BY doc_id
    """,
)
def vocab_remap_compact(spark, sf_dir):
    """Vocabulary compaction: remap token ids to dense frequency ranks.

    After corpus filtering, the surviving vocabulary is a sparse subset
    of the tokenizer's id space; remapping to dense frequency-ranked
    ids shrinks the downstream embedding table and improves encode
    bitwidths (rank 0 = most frequent, full (freq desc, id) tiebreak).
    Scale shape: the vocabulary histogram is a bounded aggregate
    (≤ 50,257 rows regardless of corpus size — same boundedness
    argument as the chunk-planner histogram), collected once into a
    numpy lookup table that ships inside the kernel closure (~200 KB);
    the remap itself is ONE mapInArrow gather pass (``lut[tokens]``)
    with zero shuffle. Output pins the remapped arrays exactly via a
    position-weighted checksum (sum of new_id * 1-based-position — max
    ~2e8 per doc, exact in int64) plus the per-doc max rank.
    """
    import numpy as np

    seqs = sequences_from_documents(spark, sf_dir)
    vocab = (
        seqs.select(F.explode("tokens").alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("freq"))
        .collect()  # bounded: <= _VOCAB_CAP rows at ANY corpus size
    )
    lut = np.full(_VOCAB_CAP, -1, dtype=np.int64)
    for rank, row in enumerate(
        sorted(vocab, key=lambda r: (-r["freq"], r["t"]))
    ):
        lut[row["t"]] = rank

    def _remap_kernel(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        for b in batches:
            t = pa.Table.from_batches([b])
            n = t.num_rows
            if n == 0:
                continue
            lst = t.column("tokens").combine_chunks()
            lengths = pc.list_value_length(lst).to_numpy().astype(np.int64)
            flat = pc.list_flatten(lst).to_numpy().astype(np.int64)
            new = lut[flat]
            doc_of = np.repeat(np.arange(n, dtype=np.int64), lengths)
            starts = np.concatenate(([0], np.cumsum(lengths)[:-1]))
            pos = np.arange(len(flat), dtype=np.int64) - starts[doc_of] + 1
            # weights fit float64 exactly (<= ~2e8 per doc)
            sums = np.bincount(
                doc_of, weights=new * pos, minlength=n
            ).astype(np.int64)
            maxs = np.maximum.reduceat(new, starts)  # every doc has >=1 token
            yield pa.RecordBatch.from_arrays(
                [
                    t.column("doc_id").combine_chunks(),
                    pc.cast(t.column("n_tok").combine_chunks(), pa.int64()),
                    pa.array(sums),
                    pa.array(maxs.astype(np.int64)),
                ],
                names=["doc_id", "n_tok", "remap_sum", "vocab_rank_max"],
            )

    return amap(
        seqs.select("doc_id", "tokens", "n_tok"),
        _remap_kernel,
        "doc_id string, n_tok long, remap_sum long, vocab_rank_max long",
    )


# ---------------------------------------------------------------------------
# BPE merge application: one full training iteration over the corpus
# ---------------------------------------------------------------------------

_BPE_NID = _VOCAB_CAP  # the new token id minted by this merge


def _bpe_apply(flat, lengths, a, b, nid):
    """Apply one greedy left-to-right BPE merge (a, b) -> nid, vectorized.

    ``flat`` is the concatenation of per-doc token arrays with per-doc
    ``lengths``. Overlapping matches only occur inside runs of one
    repeated token (a match at i and i+1 forces flat[i+1] = b = a), so
    greedy resolution = apply at even offsets within each maximal run
    of consecutive match positions — computed with run-start cumsums,
    no sequential loop. Returns per-doc (n_merges, new_len,
    position-weighted checksum of the merged sequence), each int64.
    """
    import numpy as np

    n = len(lengths)
    nf = len(flat)
    doc_of = np.repeat(np.arange(n, dtype=np.int64), lengths)
    pm = np.zeros(nf, dtype=bool)
    if nf >= 2:
        pm[:-1] = (
            (flat[:-1] == a) & (flat[1:] == b)
            & (doc_of[:-1] == doc_of[1:])
        )
    prev = np.concatenate(([False], pm[:-1]))
    rs = pm & ~prev  # run starts (doc-local: pm masks doc boundaries)
    run_id = np.cumsum(rs)
    starts_of_runs = np.flatnonzero(rs)
    applied = np.zeros(nf, dtype=bool)
    if starts_of_runs.size:
        pmi = np.flatnonzero(pm)
        off = pmi - starts_of_runs[run_id[pmi] - 1]
        applied[pmi[off % 2 == 0]] = True
    consumed = np.zeros(nf, dtype=bool)
    consumed[np.flatnonzero(applied) + 1] = True
    keep = ~consumed
    vals = np.where(applied, np.int64(nid), flat)
    gcum = np.cumsum(keep.astype(np.int64))
    doc_starts = np.concatenate(([0], np.cumsum(lengths)[:-1]))
    base = np.concatenate(([0], gcum))[doc_starts]
    newpos = gcum - base[doc_of]
    w = (vals * newpos) * keep  # checksum weights, exact in f64
    return (
        np.bincount(doc_of[applied], minlength=n).astype(np.int64),
        np.bincount(doc_of[keep], minlength=n).astype(np.int64),
        np.bincount(doc_of, weights=w, minlength=n).astype(np.int64),
    )


@q(
    "bpe_merge_step",
    f"""
    WITH seq AS (SELECT doc_id, {_TOK_SQL} AS l FROM documents),
    bp AS (SELECT doc_id,
                  unnest(list_zip(l[1:len(l) - 1], l[2:len(l)],
                                  range(1, len(l)))) AS z
           FROM seq WHERE len(l) >= 2),
    bpp AS (SELECT doc_id, CAST(z[1] AS INT) AS t1, CAST(z[2] AS INT) AS t2,
                   CAST(z[3] AS BIGINT) AS i FROM bp),
    best AS (SELECT t1, t2 FROM (
               SELECT t1, t2, count(*) AS c FROM bpp GROUP BY 1, 2
               ORDER BY c DESC, t1, t2 LIMIT 1)),
    m AS (SELECT doc_id, i FROM bpp JOIN best USING (t1, t2)),
    runs AS (SELECT doc_id, i,
                    i - row_number() OVER (PARTITION BY doc_id ORDER BY i)
                      AS grp
             FROM m),
    applied AS (SELECT doc_id, i FROM (
                  SELECT doc_id, i,
                         min(i) OVER (PARTITION BY doc_id, grp) AS r0
                  FROM runs) WHERE (i - r0) % 2 = 0),
    consumed AS (SELECT doc_id, i + 1 AS i FROM applied),
    tokpos AS (SELECT doc_id, CAST(z[1] AS INT) AS t, CAST(z[2] AS BIGINT) AS i
               FROM (SELECT doc_id,
                            unnest(list_zip(l, range(1, len(l) + 1))) AS z
                     FROM seq)),
    kept AS (SELECT k.doc_id,
                    CASE WHEN a.i IS NOT NULL THEN {_BPE_NID}
                         ELSE k.t END AS v,
                    row_number() OVER (PARTITION BY k.doc_id ORDER BY k.i)
                      AS np
             FROM tokpos k
             LEFT JOIN applied a ON a.doc_id = k.doc_id AND a.i = k.i
             LEFT JOIN consumed c ON c.doc_id = k.doc_id AND c.i = k.i
             WHERE c.i IS NULL),
    per AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS new_len,
                   CAST(sum(v * np) AS BIGINT) AS merged_sum
            FROM kept GROUP BY doc_id),
    nm AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_merges
           FROM applied GROUP BY doc_id)
    SELECT printf('doc-%012d', per.doc_id) AS doc_id,
           CAST(coalesce(nm.n_merges, 0) AS BIGINT) AS n_merges,
           per.new_len, per.merged_sum
    FROM per LEFT JOIN nm ON nm.doc_id = per.doc_id
    """,
)
def bpe_merge_step(spark, sf_dir):
    """One full BPE training iteration: count pairs -> best merge -> apply.

    token_pair_topk is the statistics pass; this completes the
    iteration by APPLYING the winning merge corpus-wide. Semantics are
    the standard single-pass greedy: matches are found on the original
    sequence and resolved left-to-right without re-scanning the merged
    token. Overlapping matches only occur inside runs of one repeated
    token (a match at i and i+1 forces t[i+1] = b = a), so greedy
    left-to-right is exactly "apply at even offsets within each
    maximal run of consecutive match positions" — a closed form both
    the numpy kernel and the SQL oracle compute with no sequential
    loop. Scale shape: best-pair selection is the bounded pair
    aggregate + TakeOrdered(1); the application is ONE zero-shuffle
    mapInArrow pass over the token arrays; the merged sequences are
    pinned exactly by a position-weighted checksum plus new length and
    per-doc merge count.
    """
    import numpy as np

    seqs = sequences_from_documents(spark, sf_dir)
    best = (
        seqs.filter(F.col("n_tok") >= 2)
        .select(F.explode(F.expr(
            "transform(sequence(0, n_tok - 2), "
            "i -> struct(tokens[i] AS t1, tokens[i + 1] AS t2))"
        )).alias("p"))
        .groupBy(F.col("p.t1").alias("t1"), F.col("p.t2").alias("t2"))
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), "t1", "t2")
        .first()
    )
    a, bb = int(best["t1"]), int(best["t2"])

    def _merge_kernel(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        for b in batches:
            t = pa.Table.from_batches([b])
            n = t.num_rows
            if n == 0:
                continue
            lst = t.column("tokens").combine_chunks()
            lengths = pc.list_value_length(lst).to_numpy().astype(np.int64)
            flat = pc.list_flatten(lst).to_numpy().astype(np.int64)
            n_merges, new_len, merged_sum = _bpe_apply(
                flat, lengths, a, bb, _BPE_NID)
            yield pa.RecordBatch.from_arrays(
                [
                    t.column("doc_id").combine_chunks(),
                    pa.array(n_merges), pa.array(new_len),
                    pa.array(merged_sum),
                ],
                names=["doc_id", "n_merges", "new_len", "merged_sum"],
            )

    return amap(
        seqs.select("doc_id", "tokens"),
        _merge_kernel,
        "doc_id string, n_merges long, new_len long, merged_sum long",
    )


# ---------------------------------------------------------------------------
# T5-style span corruption: denoising-objective example construction
# ---------------------------------------------------------------------------

_SC_P1, _SC_P2, _SC_DEN, _SC_HIT = 2654435761, 40497, 16, 4
_SC_SENT = _VOCAB_CAP + 1000  # sentinel id base (above the minted BPE id)


def _span_corrupt(flat, lengths, keys, sent_base=_SC_SENT):
    """T5 span corruption over concatenated token arrays, vectorized.

    Position i of doc with numeric key k is masked iff
    ``(k*P1 + (i+1)*P2) % 16 < 4`` (25% of positions; P2 % 16 == 1
    makes consecutive positions walk the residue ring, so spans of
    length 1-4 all occur); maximal runs of
    masked positions form spans. The model INPUT keeps unmasked tokens
    and replaces each span with one sentinel (sent_base + span index
    within the doc); the TARGET is, per span, its sentinel followed by
    the original tokens. Returns per-doc int64 arrays
    (n_spans, input_len, input_checksum, target_checksum) where the
    checksums are position-weighted sums over the constructed
    sequences — pinning content AND order without materializing them.
    """
    import numpy as np

    n = len(lengths)
    doc_of = np.repeat(np.arange(n, dtype=np.int64), lengths)
    starts = np.concatenate(([0], np.cumsum(lengths)[:-1]))
    pos1 = np.arange(len(flat), dtype=np.int64) - starts[doc_of] + 1
    m = ((keys[doc_of] * _SC_P1 + pos1 * _SC_P2) % _SC_DEN) < _SC_HIT
    prev = np.concatenate(([False], m[:-1]))
    new_doc = np.zeros(len(flat), dtype=bool)
    new_doc[starts] = True
    rs = m & (~prev | new_doc)  # span starts (doc-local)
    # per-doc span index (1-based at masked positions)
    g_rs = np.cumsum(rs.astype(np.int64))
    spos = g_rs - np.concatenate(([0], g_rs))[starts][doc_of]
    # per-doc masked-token ordinal (1-based at masked positions)
    g_m = np.cumsum(m.astype(np.int64))
    jpos = g_m - np.concatenate(([0], g_m))[starts][doc_of]
    # INPUT: unmasked tokens + one sentinel per span (at the span head)
    keep = ~m | rs
    vals = np.where(rs, sent_base + spos, flat)
    g_k = np.cumsum(keep.astype(np.int64))
    ipos = g_k - np.concatenate(([0], g_k))[starts][doc_of]
    in_sum = np.bincount(doc_of, weights=(vals * ipos) * keep,
                         minlength=n).astype(np.int64)
    in_len = np.bincount(doc_of[keep], minlength=n).astype(np.int64)
    # TARGET: per span, sentinel then original tokens; element positions
    # are 1-based in the concatenated target: token j of span s sits at
    # j + s, span s's sentinel at (first j of s) + s - 1
    tok_w = flat * (jpos + spos) * m
    sent_w = (sent_base + spos) * (jpos + spos - 1) * rs
    tgt_sum = np.bincount(doc_of, weights=tok_w + sent_w,
                          minlength=n).astype(np.int64)
    n_spans = np.bincount(doc_of[rs], minlength=n).astype(np.int64)
    return n_spans, in_len, in_sum, tgt_sum


@q(
    "span_corrupt_t5",
    f"""
    WITH seq AS (SELECT doc_id, {_TOK_SQL} AS l FROM documents),
    tokpos AS (SELECT doc_id, CAST(z[1] AS BIGINT) AS t,
                      CAST(z[2] AS BIGINT) AS i
               FROM (SELECT doc_id,
                            unnest(list_zip(l, range(1, len(l) + 1))) AS z
                     FROM seq)),
    fl AS (SELECT doc_id, t, i,
                  ((doc_id * {_SC_P1} + i * {_SC_P2}) % {_SC_DEN})
                    < {_SC_HIT} AS m
           FROM tokpos),
    mk AS (SELECT doc_id, t, i,
                  CASE WHEN m AND NOT coalesce(
                         lag(m) OVER (PARTITION BY doc_id ORDER BY i), false)
                       THEN 1 ELSE 0 END AS rs,
                  m
           FROM fl),
    px AS (SELECT doc_id, t, i, m, rs,
                  sum(rs) OVER (PARTITION BY doc_id ORDER BY i) AS spos,
                  sum(CASE WHEN m THEN 1 ELSE 0 END)
                    OVER (PARTITION BY doc_id ORDER BY i) AS jpos,
                  sum(CASE WHEN NOT m OR rs = 1 THEN 1 ELSE 0 END)
                    OVER (PARTITION BY doc_id ORDER BY i) AS ipos
           FROM mk)
    SELECT printf('doc-%012d', doc_id) AS doc_id,
           CAST(sum(rs) AS BIGINT) AS n_spans,
           CAST(sum(CASE WHEN NOT m OR rs = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS input_len,
           CAST(sum(CASE WHEN NOT m THEN t * ipos
                         WHEN rs = 1 THEN ({_SC_SENT} + spos) * ipos
                         ELSE 0 END) AS BIGINT) AS input_checksum,
           CAST(sum(CASE WHEN m THEN t * (jpos + spos) ELSE 0 END)
                + sum(CASE WHEN rs = 1
                      THEN ({_SC_SENT} + spos) * (jpos + spos - 1)
                      ELSE 0 END) AS BIGINT) AS target_checksum
    FROM px GROUP BY doc_id
    """,
)
def span_corrupt_t5(spark, sf_dir):
    """T5/UL2 denoising example construction: mask spans, emit sentinels.

    The training-data transform behind span-corruption objectives:
    25% of positions are masked by deterministic hash arithmetic
    (reproducible across runs AND replayable in SQL — no RNG state),
    maximal masked runs become spans, the input keeps unmasked tokens
    with one sentinel per span, the target lists each span as sentinel
    + original tokens. ONE zero-shuffle mapInArrow pass; the
    constructed input/target sequences are pinned by position-weighted
    checksums (content and order) plus span count and input length.
    """
    import numpy as np

    seqs = sequences_from_documents(spark, sf_dir)

    def _corrupt_kernel(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        for b in batches:
            t = pa.Table.from_batches([b])
            if t.num_rows == 0:
                continue
            lst = t.column("tokens").combine_chunks()
            lengths = pc.list_value_length(lst).to_numpy().astype(np.int64)
            flat = pc.list_flatten(lst).to_numpy().astype(np.int64)
            ids = t.column("doc_id").combine_chunks()
            keys = pc.cast(
                pc.utf8_slice_codeunits(ids, 4, 99), pa.int64()
            ).to_numpy()
            n_spans, in_len, in_sum, tgt_sum = _span_corrupt(
                flat, lengths, keys)
            yield pa.RecordBatch.from_arrays(
                [ids, pa.array(n_spans), pa.array(in_len),
                 pa.array(in_sum), pa.array(tgt_sum)],
                names=["doc_id", "n_spans", "input_len",
                       "input_checksum", "target_checksum"],
            )

    return amap(
        seqs.select("doc_id", "tokens"),
        _corrupt_kernel,
        "doc_id string, n_spans long, input_len long, "
        "input_checksum long, target_checksum long",
    )


# ---------------------------------------------------------------------------
# Per-source quota capping (crawl balancing)
# ---------------------------------------------------------------------------

_QUOTA = 10
_QUOTA_MULT = 2654435761  # hash order: reproducible shuffle within source


@q(
    "source_quota_cap",
    f"""
    WITH ranked AS (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source
               ORDER BY (doc_id * {_QUOTA_MULT}) % {_J_PRIME}, doc_id
             ) AS r
      FROM documents
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
           CAST(r AS BIGINT) AS quota_rank
    FROM ranked WHERE r <= {_QUOTA}
    """,
)
def source_quota_cap(spark, sf_dir):
    """Per-source document quota: keep at most Q docs per source.

    Crawl balancing (RefinedWeb caps per-domain document counts so a
    few huge sites don't dominate the mixture). Selection is a
    reproducible hash order within each source — "random" but
    deterministic across runs and engines (mod-prime multiply, doc_id
    tiebreak) — not first-N by id, which would bias toward old crawls.
    Scale shape: ONE shuffle keyed by source for the per-source
    ranking, and the executed plan (audited) places WindowGroupLimit on
    BOTH sides of the exchange — the map-side partial cut means at most
    Q rows per source per task ever cross the wire, so shuffle volume
    is Q * sources * tasks, independent of corpus size. A
    pathologically hot source still lands on one reduce task; the
    documented mitigation is threshold sampling (broadcast per-source
    counts, keep iff hash < Q/n_s quantile) at the cost of exact-Q.
    """
    from pyspark.sql import Window

    d = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        (F.col("doc_id") * _QUOTA_MULT) % _J_PRIME, "doc_id"
    )
    return (
        d.select(F.col("doc_id").cast("long").alias("doc_id"), "source")
        .withColumn("quota_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("quota_rank") <= _QUOTA)
    )


# ---------------------------------------------------------------------------
# Overlapping token windows (RAG chunking)
# ---------------------------------------------------------------------------

_RAG_W, _RAG_S = 16, 8  # window size, stride (W = 2S: each token in <= 2)


@q(
    "rag_chunk_windows",
    f"""
    WITH seq AS (SELECT doc_id, {_TOK_SQL} AS l FROM documents),
    tok AS (SELECT doc_id, CAST(len(l) AS BIGINT) AS n_tok,
                   CAST(z[1] AS BIGINT) AS t,
                   CAST(z[2] AS BIGINT) - 1 AS i
            FROM (SELECT doc_id, l,
                         unnest(list_zip(l, range(1, len(l) + 1))) AS z
                  FROM seq)),
    hits AS (SELECT doc_id, t, i, CAST(w AS BIGINT) AS w
             FROM tok, unnest([i // {_RAG_S},
                               (i - {_RAG_W} + {_RAG_S}) // {_RAG_S}]) AS u(w)
             WHERE w >= 0 AND w * {_RAG_S} <= i
               AND i < w * {_RAG_S} + {_RAG_W}
               AND w * {_RAG_S} < n_tok
    ),
    agg AS (SELECT doc_id, w,
                   CAST(count(DISTINCT i) AS BIGINT) AS win_len,
                   CAST(sum(DISTINCT t * (i - w * {_RAG_S} + 1) * 131072 + i)
                        AS BIGINT) AS win_checksum
            FROM hits GROUP BY doc_id, w)
    SELECT printf('doc-%012d', doc_id) AS doc_id, w AS win_idx,
           win_len, win_checksum
    FROM agg
    """,
)
def rag_chunk_windows(spark, sf_dir):
    """Overlapping token windows (size 16, stride 8) for RAG indexing.

    The chunking pass of a retrieval pipeline: every document becomes
    fixed-size overlapping windows, each pinned by length and a
    position-weighted checksum. Formulated shuffle-lean with NO
    interpreted array lambdas (the suite's measured ~4 us/element-op
    cost of SQL higher-order functions): explode tokens once, compute
    each token's <= 2 owning windows arithmetically (W = 2S), and
    partial-aggregate on (doc, window) — map-side combine bounds the
    shuffle at windows-per-task, and every expression is whole-stage
    codegen. Windows start at every stride boundary < n_tok, truncated
    at the document end.
    """
    seqs = sequences_from_documents(spark, sf_dir)
    tok = seqs.select(
        "doc_id", "n_tok",
        F.posexplode("tokens").alias("i", "t"),
    ).select("doc_id", "n_tok", F.col("i").cast("long").alias("i"),
             F.col("t").cast("long").alias("t"))
    # each token's candidate windows: its own stride cell and the
    # previous one (W = 2S => never more than two)
    hits = tok.select(
        "doc_id", "n_tok", "i", "t",
        F.explode(F.array(
            (F.col("i") / _RAG_S).cast("long"),
            ((F.col("i") - _RAG_W + _RAG_S) / _RAG_S).cast("long"),
        )).alias("w"),
    ).filter(
        (F.col("w") >= 0)
        & (F.col("w") * _RAG_S <= F.col("i"))
        & (F.col("i") < F.col("w") * _RAG_S + _RAG_W)
        & (F.col("w") * _RAG_S < F.col("n_tok"))
    )
    return (
        hits.groupBy("doc_id", F.col("w").alias("win_idx"))
        .agg(
            F.countDistinct("i").cast("long").alias("win_len"),
            F.sum_distinct(
                (F.col("t") * (F.col("i") - F.col("w") * _RAG_S + 1))
                * 131072 + F.col("i")
            ).cast("long").alias("win_checksum"),
        )
        .select("doc_id", F.col("win_idx").cast("long").alias("win_idx"),
                "win_len", "win_checksum")
    )


# ---------------------------------------------------------------------------
# Hard-negative mining (contrastive training data prep)
# ---------------------------------------------------------------------------

_HN_MOD, _HN_K = 100, 5  # query set: vec_id % 100 == 0; negatives per query


@q(
    "hard_negative_mining",
    f"""
    WITH q AS (SELECT vec_id AS qid, label AS qlabel, embedding AS qe
               FROM embeddings WHERE vec_id % {_HN_MOD} = 0),
    s AS (SELECT q.qid, e.vec_id, e.label,
                 list_cosine_similarity(e.embedding, q.qe) AS sim
          FROM embeddings e, q WHERE e.label != q.qlabel),
    r AS (SELECT qid, vec_id, label,
                 row_number() OVER (PARTITION BY qid
                                    ORDER BY sim DESC, vec_id) AS rnk
          FROM s)
    SELECT CAST(qid AS BIGINT) AS query_id, CAST(rnk AS BIGINT) AS neg_rank,
           CAST(vec_id AS BIGINT) AS vec_id, CAST(label AS BIGINT) AS label
    FROM r WHERE rnk <= {_HN_K}
    """,
)
def hard_negative_mining(spark, sf_dir):
    """Hard negatives per query: most-similar vectors with a DIFFERENT label.

    Contrastive-training data prep (dense retrievers, CLIP-style
    models): for each anchor, the best negatives are near-misses, not
    random vectors. Queries (vec_id % 100 == 0) broadcast; the
    label-mismatch predicate makes the join a broadcast nested loop —
    the intended shape, since every (anchor, candidate) pair needs a
    score anyway at this exactness level. The per-query top-k rank
    filter compiles to WindowGroupLimit on BOTH sides of the exchange
    (audited, same as source_quota_cap), so the rank shuffle carries at
    most k rows per query per task — the corpus-sized score stream
    never crosses the wire. At 100 TB the quantized candidate
    prefilter (ann_quantized_topk) bounds the scored pairs first; the
    ranking shape is unchanged. Scores stay sequential float64 dot
    products (the suite's cosine discipline) and only (rank, id, label)
    are emitted, keeping the oracle compare float-free.
    """
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "embeddings")
    qs = e.filter(F.col("vec_id") % _HN_MOD == 0).select(
        F.col("vec_id").alias("qid"), F.col("label").alias("qlabel"),
        F.col("embedding").alias("b"),
    )
    scored = (
        e.select("vec_id", "label", F.col("embedding").alias("a"))
        .join(F.broadcast(qs), F.col("label") != F.col("qlabel"))
        .select("qid", "vec_id", "label", F.expr(_COS_SPARK).alias("sim"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), "vec_id")
    return (
        scored.withColumn("neg_rank", F.row_number().over(w))
        .filter(F.col("neg_rank") <= _HN_K)
        .select(
            F.col("qid").cast("long").alias("query_id"),
            F.col("neg_rank").cast("long").alias("neg_rank"),
            F.col("vec_id").cast("long").alias("vec_id"),
            F.col("label").cast("long").alias("label"),
        )
    )


# ---------------------------------------------------------------------------
# Deterministic train/val/test split
# ---------------------------------------------------------------------------

_SPLIT_MULT = 976369  # split coin: h = (doc_id * MULT) % PRIME, then % 10


@q(
    "stratified_eval_split",
    f"""
    WITH s AS (
      SELECT doc_id, source,
             ((doc_id * {_SPLIT_MULT}) % {_J_PRIME}) % 10 AS coin
      FROM documents
    )
    SELECT source,
           CASE WHEN coin = 0 THEN 'test'
                WHEN coin = 1 THEN 'val' ELSE 'train' END AS split,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(doc_id) AS BIGINT) AS id_sum
    FROM s GROUP BY 1, 2
    """,
)
def stratified_eval_split(spark, sf_dir):
    """Deterministic train/val/test split (10/10/80 by hash coin).

    The split assignment is a pure map — no shuffle, no RNG state: a
    mod-prime hash coin on doc_id, identical on every run, engine, and
    parallelism level, so the split never leaks when the corpus is
    re-processed (the failure mode of rand()-based splits). Uniform
    hashing stratifies each source's proportions automatically; the
    output's per-(source, split) doc counts and id-sums pin the exact
    membership. At 100 TB the same expression runs as a residual
    predicate on any read (``filters=[('split','=','train')]`` shape)
    — materializing the split column is optional.
    """
    d = _t(spark, sf_dir, "documents")
    coin = (F.col("doc_id") * _SPLIT_MULT) % _J_PRIME % 10
    return (
        d.select(
            "doc_id", "source",
            F.when(coin == 0, "test").when(coin == 1, "val")
            .otherwise("train").alias("split"),
        )
        .groupBy("source", "split")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("doc_id").cast("long").alias("id_sum"),
        )
    )

# ---------------------------------------------------------------------------
# semantic dedup: cluster-bounded near-dup removal over embeddings
# ---------------------------------------------------------------------------

_SEMD_SQL = f"""
    WITH {_IVF_CODEBOOK_CTE},
    sims AS (SELECT e.vec_id, e.embedding, c.cid,
                    list_cosine_similarity(e.embedding::DOUBLE[], c.cemb) AS sim
             FROM embeddings e CROSS JOIN c),
    asg AS (SELECT vec_id, embedding, cid FROM (
              SELECT *, row_number() OVER (PARTITION BY vec_id
                ORDER BY CAST(floor(sim * {_IVF_SIMSCALE} + 0.5) AS BIGINT)
                         DESC, cid) AS rn
              FROM sims) WHERE rn = 1),
    qz AS (SELECT vec_id, cid,
             CASE WHEN list_max(list_transform(embedding,
                                v -> abs(CAST(v AS DOUBLE)))) / 127.0 > 0
                  THEN list_transform(embedding, v -> CAST(floor(
                       CAST(v AS DOUBLE) /
                       (list_max(list_transform(embedding,
                                 v2 -> abs(CAST(v2 AS DOUBLE)))) / 127.0)
                       + 0.5) AS BIGINT))
                  ELSE list_transform(embedding, v -> CAST(0 AS BIGINT))
             END AS cq
           FROM asg),
    qn AS (SELECT vec_id, cid, cq,
                  CAST(list_sum(list_transform(cq, v -> v * v)) AS BIGINT) AS q2
           FROM qz),
    pr AS (SELECT b.vec_id AS v,
                  CAST(list_sum(list_transform(range(1, len(a.cq) + 1),
                                i -> a.cq[i] * b.cq[i])) AS BIGINT) AS d,
                  a.q2 AS qa2, b.q2 AS qb2
           FROM qn a JOIN qn b ON a.cid = b.cid AND a.vec_id < b.vec_id),
    drops AS (SELECT DISTINCT v FROM pr
              WHERE d > 0 AND 25 * d * d >= 4 * qa2 * qb2)
    SELECT vec_id, CAST(cid AS BIGINT) AS cid,
           (vec_id NOT IN (SELECT v FROM drops)) AS kept
    FROM qn
"""


@q("semantic_dedup", _SEMD_SQL)
def semantic_dedup(spark, sf_dir):
    """SemDeDup: cluster-bounded semantic near-dup removal (kept flag).

    The scale path for embedding-space dedup (Abbas et al. 2023,
    arXiv:2303.09540): assign every vector to its nearest coarse
    centroid (the ann_ivf_topk quantizer — _ivf_codebook's bounded
    K-row derivation, O(K*d) driver bytes at any corpus size), then
    compare pairs ONLY within a cell. Pair scoring is the int8-quantized cosine in pure
    integer arithmetic: drop b iff some same-cell a with a smaller id
    has dot > 0 and 25*dot^2 >= 4*|a|^2*|b|^2 (tau = 2/5) — exact on
    both engines, no float threshold to disagree about. Keep-lowest-id
    is the same monotone star rule the LSH hub cap uses.

    Plan: ONE zero-shuffle mapInArrow pass assigns + quantizes (float64
    matmul + one IEEE op per code), ONE exchange co-locates cells
    (repartition by cid), then a partition-local kernel does each
    cell's pairwise scoring as a single int64 Gram matmul. Quadratic
    work is bounded by the cell, never the corpus; at 10^12 scale the
    codebook is trained so cells are capped, and `cid` becomes the
    partition key so the exchange is the only data movement.
    """
    import numpy as np
    import pyarrow as pa

    e = _t(spark, sf_dir, "embeddings")
    cids, C = _ivf_codebook(e)
    Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-300)
    SIMS = _IVF_SIMSCALE

    def assign_quant(batches):
        import numpy as np
        import pyarrow as pa

        from cryo_spark.arrowutil import fixed_list_matrix

        for b in batches:
            t = pa.Table.from_batches([b])
            n = t.num_rows
            if n == 0:
                continue
            X = fixed_list_matrix(t, "embedding")
            d = X.shape[1]
            Xn = X / np.maximum(
                np.linalg.norm(X, axis=1, keepdims=True), 1e-300)
            # quantized-sim argmax: the cross-engine FP-tie guard
            best = np.floor((Xn @ Cn.T) * SIMS
                            + 0.5).astype(np.int64).argmax(axis=1)
            sc = np.max(np.abs(X), axis=1, keepdims=True) / 127.0
            Q = np.where(sc > 0.0,
                         np.floor(X / np.where(sc == 0.0, 1.0, sc) + 0.5),
                         0.0).astype(np.int64)
            offs = pa.array(np.arange(0, (n + 1) * d, d, dtype=np.int32))
            yield pa.RecordBatch.from_arrays(
                [
                    t.column("vec_id").combine_chunks().cast(pa.int64()),
                    pa.array(cids[best]),
                    pa.ListArray.from_arrays(
                        offs, pa.array(Q.reshape(-1), type=pa.int64())),
                    pa.array((Q * Q).sum(axis=1)),
                ],
                names=["vec_id", "cid", "cq", "q2"],
            )

    asg = amap(e.select("vec_id", "embedding"), assign_quant,
               "vec_id long, cid long, cq array<long>, q2 long")

    def cell_kept(batches):
        import numpy as np
        import pyarrow as pa

        tabs = [pa.Table.from_batches([b]) for b in batches]
        if not tabs:
            return
        t = pa.concat_tables(tabs).combine_chunks()
        n = t.num_rows
        if n == 0:
            return
        vec = t.column("vec_id").to_numpy(zero_copy_only=False)
        cid = t.column("cid").to_numpy(zero_copy_only=False)
        q2 = t.column("q2").to_numpy(zero_copy_only=False)
        cq = t.column("cq").combine_chunks()
        lens = np.diff(np.asarray(cq.offsets))
        d = int(lens[0])
        Q = np.asarray(cq.flatten().to_numpy(zero_copy_only=False)).reshape(n, d)
        order = np.lexsort((vec, cid))
        vec, cid, q2, Q = vec[order], cid[order], q2[order], Q[order]
        kept = np.ones(n, dtype=bool)
        starts = np.flatnonzero(np.r_[True, cid[1:] != cid[:-1]])
        ends = np.r_[starts[1:], n]
        for s, epos in zip(starts, ends):  # one iteration per CELL, all-matmul inside
            m = epos - s
            if m < 2:
                continue
            Qc = Q[s:epos]
            G = Qc @ Qc.T  # int64; |G| <= 127^2 * d, so 25*G^2 fits easily
            cond = (G > 0) & (25 * G * G >= 4 * np.outer(q2[s:epos], q2[s:epos]))
            cond &= np.triu(np.ones((m, m), dtype=bool), k=1)
            kept[s:epos] = ~cond.any(axis=0)
        yield pa.RecordBatch.from_arrays(
            [pa.array(vec), pa.array(cid), pa.array(kept)],
            names=["vec_id", "cid", "kept"],
        )

    return amap(asg.repartition("cid"), cell_kept,
                "vec_id long, cid long, kept boolean")

# ---------------------------------------------------------------------------
# TPC-H Q1 shape: full-scan pricing summary with map-side partial agg
# ---------------------------------------------------------------------------


@q(
    "pricing_summary_q1",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(sum(floor(l_quantity * 100 + 0.5)) AS BIGINT) AS sum_qty_c,
           CAST(sum(floor(l_extendedprice * 100 + 0.5)) AS BIGINT)
               AS sum_base_c,
           CAST(sum(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5))
                AS BIGINT) AS sum_disc_c,
           CAST(sum(floor(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                          * 100 + 0.5)) AS BIGINT) AS sum_charge_c,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(CAST(sum(floor(l_quantity * 100 + 0.5)) AS BIGINT)
                // count(*) AS BIGINT) AS avg_qty_c
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-01'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def pricing_summary_q1(spark, sf_dir):
    """TPC-H Q1 shape: the canonical full-scan aggregation benchmark.

    One scan, one |groups|-bounded shuffle: the partial aggregate
    folds every row map-side (HashAggregate before the exchange), so
    at 100 TB the exchange carries 6 rows per task regardless of input
    size, and the shipdate predicate + 7-column projection push into
    the parquet scan. All money/quantity math is per-row integer cents
    (floor(x*100+0.5)) BEFORE summation so the sums are
    order-independent — float sums would differ between engines and
    across partitionings. Averages are integer division of two exact
    integers, never a float mean.
    """
    li = _t(spark, sf_dir, "lineitem")
    cents = lambda c: F.floor(c * 100 + 0.5)  # noqa: E731
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(cents(F.col("l_quantity"))).cast("long").alias("sum_qty_c"),
            F.sum(cents(F.col("l_extendedprice"))).cast("long")
            .alias("sum_base_c"),
            F.sum(cents(disc)).cast("long").alias("sum_disc_c"),
            F.sum(cents(disc * (1 + F.col("l_tax")))).cast("long")
            .alias("sum_charge_c"),
            F.count(F.lit(1)).cast("long").alias("n_items"),
        )
        .withColumn("avg_qty_c",
                    F.expr("sum_qty_c div n_items").cast("long"))
    )

# ---------------------------------------------------------------------------
# changelog read: row-level CDC between snapshots
# ---------------------------------------------------------------------------


@q(
    "enc_changelog",
    """
    WITH d AS (SELECT doc_id, n_chars % 64 + 1 AS n_tok FROM documents),
    s AS (SELECT max(doc_id) // 2 AS split,
                 max(doc_id) // 2 // 2 AS qsplit FROM documents)
    SELECT CAST(1 AS BIGINT) AS commit_seq, 'insert' AS change_type,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(doc_id) AS BIGINT) AS key_sum,
           CAST(sum(n_tok) AS BIGINT) AS tok_sum
    FROM d, s WHERE doc_id < split
    UNION ALL
    SELECT CAST(2 AS BIGINT), 'insert',
           CAST(count(*) AS BIGINT), CAST(sum(doc_id) AS BIGINT),
           CAST(sum(n_tok) AS BIGINT)
    FROM d, s WHERE doc_id >= split
    UNION ALL
    SELECT CAST(3 AS BIGINT), 'delete',
           CAST(count(*) AS BIGINT), CAST(sum(doc_id) AS BIGINT),
           CAST(NULL AS BIGINT)
    FROM d, s WHERE doc_id < qsplit
    """,
)
def enc_changelog(spark, sf_dir):
    """Row-level changelog between snapshots (Iceberg CDC analog).

    Three commits land in one output — two key-range appends and an
    equality delete — then ``read_changes(0)`` replays the history as
    typed change rows: each append's rows as inserts stamped with its
    commit seq, the delete's keys as key-only delete rows (payload
    null). The oracle recomputes every (commit, change_type) group's
    row count, key sum and token mass from the raw documents table with
    the same integer split arithmetic, so a change attributed to the
    wrong commit, a leaked pre-delete row, or a phantom change from the
    compaction-style commits shifts a pinned sum. Aggregated per
    commit so the query's output is O(commits), not O(rows).
    """
    import os
    import shutil
    import tempfile

    from . import engine

    base = _scratch("changelog", sf_dir)
    src = sequences_from_documents(spark, sf_dir)
    src.write.parquet(f"{base}/in")
    mx = _t(spark, sf_dir, "documents").agg(F.max("doc_id")).first()[0]
    split = mx // 2
    qsplit = split // 2
    out = f"{base}/out"
    s1 = engine.freeze(spark, f"{base}/in", out, target_tokens=200_000,
                       keys=f"0:{split}")
    s2 = engine.freeze(spark, f"{base}/in", out, target_tokens=200_000,
                       keys=f"{split}:{mx + 1}")
    d3 = engine.delete_where(spark, out, keys=f"0:{qsplit}")
    assert (s1["snapshot"], s2["snapshot"], d3["snapshot"]) == (1, 2, 3)
    ch = engine.read_changes(spark, out, 0)
    key_num = F.substring("doc_id", 5, 12).cast("long")
    return (
        ch.groupBy(
            F.col("_commit_seq").alias("commit_seq"),
            F.col("_change_type").alias("change_type"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(key_num).cast("long").alias("key_sum"),
            F.sum("n_tok").cast("long").alias("tok_sum"),
        )
    )

# ---------------------------------------------------------------------------
# z-order chunk layout: zone maps prune on key AND weight
# ---------------------------------------------------------------------------


@q(
    "enc_freeze_zorder",
    """
    WITH d AS (SELECT doc_id, n_chars % 64 + 1 AS n_tok FROM documents)
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(n_tok) AS BIGINT) AS tok_sum,
           CAST(sum(CASE WHEN n_tok <= 8 THEN n_tok ELSE 0 END) AS BIGINT)
               AS short_tok_sum,
           CAST(sum(CASE WHEN n_tok <= 8 THEN 1 ELSE 0 END) AS BIGINT)
               AS short_rows,
           true AS weight_pruned,
           true AS key_pruned
    FROM d
    """,
)
def enc_freeze_zorder(spark, sf_dir):
    """Z-order (Morton) chunk layout end-to-end.

    ``freeze(chunk_by='zorder')`` interleaves the numeric key with the
    scalar weight (n_tok) on a 21+21-bit grid — Iceberg's
    rewrite_data_files z-ordering through the same histogram/sweep/
    salting planner. Pinned: the corpus round-trips (row/token sums), a
    LENGTH-filtered read (n_tok <= 8) through the zone maps returns
    exactly the right rows (short_rows/short_tok_sum), and BOTH a
    weight filter and a key-range filter prune chunks from the
    manifest alone — the property neither hash (no clustering) nor
    pure range layout (key-only clustering) can offer for the weight
    column. Length filtering is the training-pipeline read this layout
    exists for.
    """
    import os
    import shutil
    import tempfile

    from . import engine
    from .engine import _zone_map_prune
    from .tablespec import SEQUENCES

    base = _scratch("zorder", sf_dir)
    sequences_from_documents(spark, sf_dir).write.parquet(f"{base}/in")
    out = f"{base}/out"
    engine.freeze(spark, f"{base}/in", out, target_tokens=200,
                  chunk_by="zorder")
    enc = engine.read_encoded(spark, out)
    man = engine.read_manifest(spark, out)
    ck = ["run", "partition_id", "chunk_id"]
    total = enc.select(*ck).distinct().count()

    def kept(filters):
        return (_zone_map_prune(enc, filters, SEQUENCES, man=man)
                .select(*ck).distinct().count())

    kept_w = kept([("n_tok", "<=", 8)])
    mx = _t(spark, sf_dir, "documents").agg(F.max("doc_id")).first()[0]
    kept_k = kept([("doc_id", "<=", f"doc-{max(1, mx // 20):012d}")])
    short = engine.collect(spark, out, filters=[("n_tok", "<=", 8)]).agg(
        F.sum("n_tok").cast("long").alias("short_tok_sum"),
        F.count(F.lit(1)).cast("long").alias("short_rows"),
    ).first()
    return engine.decode_frozen(spark, out).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("n_tok").cast("long").alias("tok_sum"),
    ).select(
        "*",
        F.lit(int(short["short_tok_sum"] or 0)).cast("long")
        .alias("short_tok_sum"),
        F.lit(int(short["short_rows"] or 0)).cast("long")
        .alias("short_rows"),
        F.lit(0 < kept_w < total).alias("weight_pruned"),
        F.lit(0 < kept_k < total).alias("key_pruned"),
    )

# ---------------------------------------------------------------------------
# token-content bloom reads: which chunks contain token X
# ---------------------------------------------------------------------------

_CONTAINS_TOK = 11792  # = (1 * 2654435761) % 50257 — doc 1's first token


@q(
    "scan_token_contains",
    f"""
    WITH s AS (SELECT doc_id, {_TOK_SQL} AS tokens,
                      n_chars % 64 + 1 AS n_tok FROM documents)
    SELECT printf('doc-%012d', doc_id) AS doc_id,
           CAST(n_tok AS INT) AS n_tok,
           true AS bloom_pruned
    FROM s WHERE list_contains(tokens, {_CONTAINS_TOK})
    """,
)
def scan_token_contains(spark, sf_dir):
    """Inverted-index read: find every sequence containing one token id.

    The contamination-check / targeted-extraction question at 10^12
    scale: each int-list chunk's manifest row carries a Bloom over its
    DISTINCT element values (built in the encode kernel at O(vocab)
    cost), so ``filters=[('tokens','contains',X)]`` prunes chunks from
    METADATA alone before any payload decode; array_contains is the
    residual row filter. Pinned: the surviving rows match DuckDB's
    full-scan list_contains exactly, and the bloom really dropped
    chunks (bloom_pruned).
    """
    import os
    import shutil
    import tempfile

    from . import engine
    from .engine import _zone_map_prune
    from .tablespec import SEQUENCES

    base = _scratch("contains", sf_dir)
    sequences_from_documents(spark, sf_dir).write.parquet(f"{base}/in")
    out = f"{base}/out"
    engine.freeze(spark, f"{base}/in", out, target_tokens=2000)
    enc = engine.read_encoded(spark, out)
    man = engine.read_manifest(spark, out)
    ck = ["run", "partition_id", "chunk_id"]
    total = enc.select(*ck).distinct().count()
    kept = (
        _zone_map_prune(enc, [("tokens", "contains", _CONTAINS_TOK)],
                        SEQUENCES, man=man,
                        bloom_src=engine.read_bloom_stats(spark, out))
        .select(*ck).distinct().count()
    )
    return engine.collect(
        spark, out, columns=["doc_id", "n_tok"],
        filters=[("tokens", "contains", _CONTAINS_TOK)],
    ).select("*", F.lit(0 < kept < total).alias("bloom_pruned"))

# ---------------------------------------------------------------------------
# ANALYZE: per-column NDV statistics (KMV sketch, portable arithmetic)
# ---------------------------------------------------------------------------

_NDV_K = 64
_NDV_P = 2_147_483_647
_NDV_A = 1_103_515_245


def _ndv_block(expr: str, tag: int) -> str:
    return f"""
    c{tag} AS (SELECT hv FROM (
        SELECT DISTINCT ((CAST({expr} AS BIGINT) % {_NDV_P})
                         * {_NDV_A} + 11) % {_NDV_P} AS hv
        FROM d) ORDER BY hv LIMIT {_NDV_K}),
    e{tag} AS (SELECT count(*) AS k, max(hv) AS hk FROM c{tag})"""


_NDV_SQL = f"""
    WITH d AS (SELECT doc_id, n_chars % 64 + 1 AS n_tok, source,
                      unnest({_TOK_SQL}) AS tok FROM documents),
    {_ndv_block("doc_id", 1)},
    {_ndv_block("n_tok", 2)},
    {_ndv_block("tok", 3)}
    SELECT * FROM (
      SELECT 'doc_id' AS column_name, 'kmv' AS method,
             CAST(k AS BIGINT) AS k, CAST(hk AS BIGINT) AS kth_hash,
             CAST(CASE WHEN k < {_NDV_K} THEN k
                  ELSE CAST({_NDV_K} - 1 AS BIGINT) * {_NDV_P} // hk END AS DOUBLE) AS ndv
      FROM e1
      UNION ALL
      SELECT 'n_tok', 'kmv', CAST(k AS BIGINT), CAST(hk AS BIGINT),
             CAST(CASE WHEN k < {_NDV_K} THEN k
                  ELSE CAST({_NDV_K} - 1 AS BIGINT) * {_NDV_P} // hk END AS DOUBLE)
      FROM e2
      UNION ALL
      SELECT 'tokens', 'kmv', CAST(k AS BIGINT), CAST(hk AS BIGINT),
             CAST(CASE WHEN k < {_NDV_K} THEN k
                  ELSE CAST({_NDV_K} - 1 AS BIGINT) * {_NDV_P} // hk END AS DOUBLE)
      FROM e3
      UNION ALL
      SELECT 'source', 'exact', CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
             CAST(count(DISTINCT source) AS DOUBLE)
      FROM d)
"""


@q("enc_analyze_ndv", _NDV_SQL)
def enc_analyze_ndv(spark, sf_dir):
    """ANALYZE TABLE: per-column NDV sketches, state pinned exactly.

    Freeze the derived corpus, then ``engine.analyze`` — one decode
    pass whose kernel emits each partition's k smallest DISTINCT
    mod-prime value hashes per column (the exchange carries <= k rows
    per partition per column), merged to the Bar-Yossef KMV estimate
    with floor division so the estimate is an exact integer in any
    engine. The oracle replays the identical arithmetic over the raw
    documents table: the sketch STATE (k, k-th hash) and the estimate
    must match to the bit — the Iceberg ANALYZE/puffin-sketch shape
    with engine-portable math instead of opaque HLL registers.
    """
    import os
    import shutil
    import tempfile

    from . import engine

    base = _scratch("ndv", sf_dir)
    sequences_from_documents(spark, sf_dir).write.parquet(f"{base}/in")
    out = f"{base}/out"
    engine.freeze(spark, f"{base}/in", out, target_tokens=200_000)
    stats = engine.analyze(spark, out, k=_NDV_K)
    rows = [
        (name, s["method"],
         s.get("k"), s.get("kth_hash"), float(s["ndv"]))
        for name, s in sorted(stats.items())
    ]
    return spark.createDataFrame(
        rows, "column_name string, method string, k long, kth_hash long, "
              "ndv double")

# ---------------------------------------------------------------------------
# CCNet-style quality-bucketed sampling: head / middle / tail
# ---------------------------------------------------------------------------

_CC_HEAD = 350_000   # avg bigram score thresholds (integer — exact in
_CC_TAIL = 250_000   # both engines; a production run derives them from
                     # a reference-model percentile sweep)
_CC_SAMPLE_MULT = 2_654_435_761


@q(
    "ccnet_bucket_sample",
    f"""
    WITH seq AS (SELECT doc_id, {_TOK_SQL} AS l FROM documents),
    pairs AS (SELECT doc_id, unnest(list_zip(l[1:len(l) - 1], l[2:len(l)])) AS p
              FROM seq WHERE len(l) >= 2),
    pp AS (SELECT doc_id, CAST(p[1] AS INT) AS t1, CAST(p[2] AS INT) AS t2
           FROM pairs),
    bi AS (SELECT t1, t2, CAST(count(*) AS BIGINT) AS freq
           FROM pp GROUP BY 1, 2),
    model AS (SELECT t1, t2, freq FROM bi
              ORDER BY freq DESC, t1, t2 LIMIT {_LM_TOP_BIGRAMS}),
    prefix AS (SELECT t1, CAST(sum(freq) AS BIGINT) AS pc FROM bi GROUP BY 1),
    sm AS (SELECT t1, t2, freq * 1000000 // pc AS s
           FROM model JOIN prefix USING (t1)),
    scored AS (SELECT doc_id,
                      CAST(sum(coalesce(s, 1)) // count(*) AS BIGINT) AS sc
               FROM pp LEFT JOIN sm USING (t1, t2) GROUP BY doc_id),
    bucketed AS (
      SELECT doc_id,
             CASE WHEN sc >= {_CC_HEAD} THEN 'head'
                  WHEN sc >= {_CC_TAIL} THEN 'middle'
                  ELSE 'tail' END AS bucket,
             CASE WHEN sc >= {_CC_HEAD} THEN true
                  WHEN sc >= {_CC_TAIL}
                       THEN ((doc_id * {_CC_SAMPLE_MULT}) % {_J_PRIME}) % 2 = 0
                  ELSE false END AS kept
      FROM scored)
    SELECT bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN kept THEN doc_id ELSE 0 END) AS BIGINT)
               AS kept_id_sum
    FROM bucketed GROUP BY bucket
    """,
)
def ccnet_bucket_sample(spark, sf_dir):
    """CCNet head/middle/tail quality bucketing + deterministic sampling.

    The corpus-curation move after LM scoring (Wenzek et al., CCNet,
    LREC 2020): bucket documents by model likelihood, keep the head,
    sample the middle, drop the tail. Scores are the integer pruned-
    bigram likelihoods of lm_bigram_score (never float log); buckets
    cut at FIXED integer thresholds (production derives them from a
    reference-model percentile sweep — here they pin the tercile
    region of the fixture corpus); the middle-bucket coin is the same
    mod-prime hash as stratified_eval_split, so the sample is
    reproducible at any parallelism and never resamples on re-runs.
    Zero shuffle beyond lm scoring's own aggregates; output is
    O(buckets). Membership is pinned by kept-id sums per bucket.
    """
    seqs = sequences_from_documents(spark, sf_dir)
    pairs = seqs.filter(F.col("n_tok") >= 2).select(
        "doc_id",
        F.explode(F.expr(
            "transform(sequence(0, n_tok - 2), "
            "i -> struct(tokens[i] AS t1, tokens[i + 1] AS t2))"
        )).alias("p"),
    ).select("doc_id", F.col("p.t1").alias("t1"), F.col("p.t2").alias("t2"))
    bi = pairs.groupBy("t1", "t2").agg(
        F.count(F.lit(1)).cast("long").alias("freq")
    )
    model = bi.orderBy(F.desc("freq"), "t1", "t2").limit(_LM_TOP_BIGRAMS)
    prefix = bi.groupBy("t1").agg(F.sum("freq").cast("long").alias("pc"))
    sm = model.join(prefix, "t1").select(
        "t1", "t2", F.expr("freq * 1000000L div pc").alias("s")
    )
    scored = (
        pairs.join(F.broadcast(sm), ["t1", "t2"], "left")
        .groupBy("doc_id")
        .agg(F.expr("sum(coalesce(s, 1L)) div count(1)").cast("long")
             .alias("sc"))
    )
    key_num = F.substring("doc_id", 5, 12).cast("long")
    coin = (key_num * _CC_SAMPLE_MULT) % _J_PRIME % 2 == 0
    bucketed = scored.select(
        key_num.alias("doc_num"),
        F.when(F.col("sc") >= _CC_HEAD, "head")
        .when(F.col("sc") >= _CC_TAIL, "middle")
        .otherwise("tail").alias("bucket"),
        F.when(F.col("sc") >= _CC_HEAD, F.lit(True))
        .when(F.col("sc") >= _CC_TAIL, coin)
        .otherwise(F.lit(False)).alias("kept"),
    )
    return bucketed.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("kept"), 1).otherwise(0)).cast("long")
        .alias("n_kept"),
        F.sum(F.when(F.col("kept"), F.col("doc_num")).otherwise(0))
        .cast("long").alias("kept_id_sum"),
    )

# ---------------------------------------------------------------------------
# per-label embedding centroids (classification prototypes / mean pooling)
# ---------------------------------------------------------------------------


@q(
    "label_centroids",
    """
    WITH dims AS (
      SELECT label, generate_subscripts(embedding, 1) AS pos,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    )
    SELECT CAST(label AS INT) AS label, CAST(pos AS INT) AS pos,
           CAST(count(*) AS BIGINT) AS n,
           CAST(round(avg(v), 6) AS DOUBLE) AS mean_v
    FROM dims WHERE pos <= 8 GROUP BY label, pos
    """,
)
def label_centroids(spark, sf_dir):
    """Per-label embedding centroids — nearest-prototype classification.

    The mean-pooled class prototype (the zero-shot classifier / cluster
    seed a curation pipeline derives from labeled embeddings): one
    posexplode + a (label, dim)-keyed partial aggregate — the per-dim
    sums fold map-side, so the exchange carries |labels| x dims rows
    per task, never the vectors. Output projected to the first 8 dims
    (bounded rows); the oracle replays the dim-unnested average. The
    kernel-free form is deliberately the transposed twin of
    kmeans_embeddings' update step — the same plan shape serves both.
    """
    e = _t(spark, sf_dir, "embeddings")
    return (
        e.select("label", F.posexplode("embedding").alias("pos0", "v"))
        .select("label", (F.col("pos0") + 1).alias("pos"),
                F.col("v").cast("double").alias("v"))
        .filter(F.col("pos") <= 8)
        .groupBy(F.col("label").cast("int").alias("label"),
                 F.col("pos").cast("int").alias("pos"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"),
             F.round(F.avg("v"), 6).cast("double").alias("mean_v"))
    )

# ---------------------------------------------------------------------------
# duplicated-span fraction: the span-level quality filter
# ---------------------------------------------------------------------------


@q(
    "span_dup_fraction",
    f"""
    WITH sp AS (
      SELECT DISTINCT doc_id, span_h FROM (
        SELECT doc_id, unnest({_sql_shingles('text', _SPAN_K)}) AS span_h
        FROM documents
      )
    ),
    dup AS (SELECT span_h FROM sp GROUP BY span_h HAVING count(*) >= 2),
    tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans
            FROM sp GROUP BY doc_id),
    dd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_spans
           FROM sp JOIN dup USING (span_h) GROUP BY doc_id)
    SELECT CAST(tot.doc_id AS BIGINT) AS doc_id, n_spans,
           CAST(coalesce(n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
           (5 * coalesce(n_dup_spans, 0) < n_spans) AS kept
    FROM tot LEFT JOIN dd ON tot.doc_id = dd.doc_id
    """,
)
def span_dup_fraction(spark, sf_dir):
    """Duplicated-span fraction as a document quality filter.

    Lee et al. (ACL 2022) and Gopher both DROP documents dominated by
    text that repeats elsewhere in the corpus; this is that verdict:
    per doc, the fraction of its distinct 20-byte windows shared with
    any other document, kept iff the duplicated share stays under 20%
    — as the integer inequality 5 * n_dup < n_total, so no float
    threshold exists to disagree about. Plan: the dedup_span_exact
    pipeline plus one more per-doc aggregate off the SAME cached span
    rows (totals and dup counts reuse one exchange); output one
    verdict row per document.
    """
    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    from pyspark.storagelevel import StorageLevel

    spans = amap(d, _span_kernel, "doc_id long, span_h long") \
        .persist(StorageLevel.MEMORY_AND_DISK)
    tot = spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_spans"))
    dup = (
        spans.groupBy("span_h")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
        .select("span_h")
    )
    dd = (
        spans.join(dup, "span_h")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_dup_spans"))
    )
    return (
        tot.join(dd, "doc_id", "left")
        .select(
            "doc_id", "n_spans",
            F.coalesce("n_dup_spans", F.lit(0)).cast("long")
            .alias("n_dup_spans"),
            (5 * F.coalesce("n_dup_spans", F.lit(0)) < F.col("n_spans"))
            .alias("kept"),
        )
    )

# ---------------------------------------------------------------------------
# as-of join: last event state before each probe row
# ---------------------------------------------------------------------------


@q(
    "asof_join_last_purchase",
    """
    WITH p AS (SELECT user_id, ts, round(value, 4) AS pval
               FROM events WHERE event_type = 'purchase'),
         v AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'view')
    SELECT CAST(v.event_id AS BIGINT) AS event_id,
           CAST(v.user_id AS BIGINT) AS user_id,
           v.ts AS view_ts,
           p.ts AS last_purchase_ts,
           CAST(p.pval AS DOUBLE) AS last_purchase_value
    FROM v ASOF LEFT JOIN p
      ON v.user_id = p.user_id AND v.ts >= p.ts
    """,
)
def asof_join_last_purchase(spark, sf_dir):
    """Full as-of join: for every 'view' event, the latest 'purchase'
    by the same user at ts <= view ts (analog of the reference's
    timestamp->block resolution, `crates/freeze/src/types/chunks/
    chunk_ops.rs` binary-search shape — generalized from one probe to
    a whole probe table).

    Scale plan: NOT a range join (quadratic per key) — both sides are
    tagged and unioned, then ONE shuffle by user_id with an in-partition
    sort ('ts', tag) and a running `last(..., ignorenulls)` carries the
    most recent purchase forward into each view row. Cost is
    sort-merge-like: O(n log n) per key, one exchange total, no
    candidate blow-up. Ties at equal ts resolve purchase-first
    (tag 0 < 1), matching ASOF's >= semantics.
    """
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.lit(0).alias("tag"),
        F.round("value", 4).alias("pval"),
        F.lit(None).cast("long").alias("event_id"),
    )
    v = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", F.lit(1).alias("tag"),
        F.lit(None).cast("double").alias("pval"),
        "event_id",
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "tag")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tagged = p.unionByName(v)
    return (
        tagged.withColumn(
            "last_purchase_ts",
            F.last(F.when(F.col("tag") == 0, F.col("ts")), True).over(w),
        )
        .withColumn(
            "last_purchase_value",
            F.last(F.when(F.col("tag") == 0, F.col("pval")), True).over(w),
        )
        .filter(F.col("tag") == 1)
        .select(
            F.col("event_id").cast("long").alias("event_id"),
            F.col("user_id").cast("long").alias("user_id"),
            F.col("ts").alias("view_ts"),
            "last_purchase_ts",
            F.col("last_purchase_value").cast("double"),
        )
    )


# ---------------------------------------------------------------------------
# salted skew join: explicit hot-key fan-out
# ---------------------------------------------------------------------------


@q(
    "join_salted_skew",
    """
    WITH e AS (SELECT user_id * 10 + event_id % 10 AS k,
                      CAST(round(value * 100) AS BIGINT) AS cents
               FROM events)
    SELECT c.c_mktsegment AS c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(e.cents) AS BIGINT) AS total_cents
    FROM e JOIN customer c ON e.k = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def join_salted_skew(spark, sf_dir):
    """Skew-resistant join: explicit salting of the fact side.

    The engine already salts its encode shuffle (layout.py); this is
    the query-side idiom for a join whose key histogram is hot: the
    fact side gets a deterministic salt in [0, S), the dim side is
    replicated S times via posexplode, and the join key becomes
    (k, salt) — a hot key's rows now land on S reducers instead of
    one. Results are provably identical to the unsalted join (the
    oracle IS the unsalted join). At 100 TB, S is chosen from the key
    histogram (AQE's skew-join split is the adaptive version; salting
    is the static, deterministic one that also works for aggregations
    AQE can't split). Money is summed as per-row integer cents so the
    aggregate is order-independent and bit-identical across engines.
    """
    S = 8
    e = _t(spark, sf_dir, "events").select(
        (F.col("user_id") * 10 + F.col("event_id") % 10).alias("k"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        (F.col("event_id") % S).cast("int").alias("salt"),
    )
    c = (
        _t(spark, sf_dir, "customer")
        .select("c_custkey", "c_mktsegment")
        .withColumn("salt", F.explode(F.array(*[F.lit(i) for i in range(S)])))
        .withColumn("salt", F.col("salt").cast("int"))
    )
    j = e.join(c, (e.k == c.c_custkey) & (e.salt == c.salt))
    return j.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum("cents").cast("long").alias("total_cents"),
    )


# ---------------------------------------------------------------------------
# Gopher-style composite quality rules
# ---------------------------------------------------------------------------


@q(
    "gopher_quality_rules",
    """
    WITH m AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
             CAST(len(replace(text, ' ', '')) AS BIGINT) AS n_nonspace,
             CAST(len(list_filter(string_split(text, ' '),
                      w -> regexp_matches(w, '[a-zA-Z]'))) AS BIGINT)
               AS n_alpha_words
      FROM documents
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id, n_words, n_alpha_words,
           CAST(round(n_nonspace * 1.0 / n_words, 4) AS DOUBLE)
             AS mean_word_len,
           (n_words >= 5 AND n_words <= 1000
            AND n_nonspace * 10 >= n_words * 20
            AND n_nonspace * 10 <= n_words * 120
            AND n_alpha_words * 10 >= n_words * 6) AS kept
    FROM m
    """,
)
def gopher_quality_rules(spark, sf_dir):
    """Composite document-quality rules (Gopher / MassiveText style).

    Rae et al. 2021 filter documents on word count bounds, mean word
    length bounds and the fraction of words containing an alphabetic
    character. Thresholds are applied as integer cross-multiplications
    (n_nonspace * 10 >= n_words * 20 instead of mean >= 2.0) so the
    verdict never depends on float rounding. Pure built-in column
    expressions — one scan, no shuffle, whole-stage codegen; the
    `kept` flag is the row filter a pipeline would push down.
    """
    d = _t(spark, sf_dir, "documents")
    words = F.split("text", " ", -1)
    m = d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.size(words).cast("long").alias("n_words"),
        F.length(F.regexp_replace("text", " ", "")).cast("long")
        .alias("n_nonspace"),
        F.size(F.filter(words, lambda w: w.rlike("[a-zA-Z]")))
        .cast("long").alias("n_alpha_words"),
    )
    return m.select(
        "doc_id", "n_words", "n_alpha_words",
        F.round(F.col("n_nonspace") / F.col("n_words"), 4)
        .cast("double").alias("mean_word_len"),
        (
            (F.col("n_words") >= 5) & (F.col("n_words") <= 1000)
            & (F.col("n_nonspace") * 10 >= F.col("n_words") * 20)
            & (F.col("n_nonspace") * 10 <= F.col("n_words") * 120)
            & (F.col("n_alpha_words") * 10 >= F.col("n_words") * 6)
        ).alias("kept"),
    )

# ---------------------------------------------------------------------------
# rolling range-frame window: per-event trailing 1-hour user stats
# ---------------------------------------------------------------------------


@q(
    "rolling_user_window",
    """
    SELECT CAST(event_id AS BIGINT) AS event_id,
           CAST(user_id AS BIGINT) AS user_id,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER w AS BIGINT)
             AS trail_cents,
           CAST(count(*) OVER w AS BIGINT) AS trail_n
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                 RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
    """,
)
def rolling_user_window(spark, sf_dir):
    """Trailing 1-hour per-user rolling stats — a RANGE window frame.

    The suite's other windows are row frames or tumbling buckets; a
    trailing time range (`RANGE BETWEEN 1 hour PRECEDING`) is the shape
    sessionized feature pipelines actually use. One shuffle by user_id,
    in-partition sort by event time, frame bounds in microseconds over
    `unix_micros(ts)` so both engines frame on exact integers; money is
    per-row integer cents so the sliding sum is order-independent.
    """
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events").select(
        "event_id", "user_id",
        # ts is TIMESTAMP_NTZ: diff against the NTZ epoch is tz-free on
        # both engines (unix_micros would re-interpret in session tz)
        F.expr("timestampdiff(MICROSECOND, "
               "TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)").alias("t_us"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("t_us")
        .rangeBetween(-3_600_000_000, Window.currentRow)
    )
    return e.select(
        F.col("event_id").cast("long").alias("event_id"),
        F.col("user_id").cast("long").alias("user_id"),
        F.sum("cents").over(w).cast("long").alias("trail_cents"),
        F.count(F.lit(1)).over(w).cast("long").alias("trail_n"),
    )


# ---------------------------------------------------------------------------
# broadcast-Bloom join pruning: runtime-filter idiom, exact result
# ---------------------------------------------------------------------------

_BLJ_M = 1 << 16            # bloom bits (power of two)
_BLJ_SALTS = (0x9E3779B97F4A7C15, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9)


def _blj_bits(keys):
    """(byte index, bit mask) of each salt's probe of uint64 ``keys``."""
    import numpy as np

    for salt in _BLJ_SALTS:
        h = (keys * np.uint64(salt)) & np.uint64(0xFFFFFFFFFFFFFFFF)
        idx = ((h >> np.uint64(40)) ^ h) & np.uint64(_BLJ_M - 1)
        yield ((idx >> np.uint64(3)).astype(np.int64),
               (1 << (idx & np.uint64(7))).astype(np.uint8))


@q(
    "bloom_join_prune",
    f"""
    WITH dim AS (SELECT DISTINCT o_custkey AS k FROM orders
                 WHERE o_orderpriority = '1-URGENT'),
         fact AS (SELECT user_id * 10 + event_id % 10 AS k,
                         CAST(round(value * 100) AS BIGINT) AS cents
                  FROM events)
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(cents) AS BIGINT) AS total_cents,
           CAST(count(DISTINCT k) AS BIGINT) AS n_keys
    FROM fact WHERE k IN (SELECT k FROM dim)
    """,
)
def bloom_join_prune(spark, sf_dir):
    """Runtime Bloom-filter pruning before a semi join — exact result.

    The at-scale idiom behind Spark's runtime row-group filters: build a
    Bloom filter over the dim keys, broadcast it, and drop fact rows
    whose key cannot be in the dim BEFORE the shuffle — the exchange
    then carries only plausible rows. False positives are removed by the
    exact semi join that follows, so the result equals the plain semi
    join (the oracle IS the plain semi join). Bloom bits are set with
    three integer multiply-xor probes over a 2^16-bit table —
    deterministic, no library dependence. The filter is built where the
    keys are: each dim partition folds its keys into a partial bloom in
    a mapInArrow kernel, and the driver ORs the zlib-compressed partials
    (one 8 KiB table per partition, never the keys). It is applied in a
    vectorized mapInArrow kernel too (numpy bit tests, no per-row
    Python).
    """
    import zlib

    import numpy as np
    import pyarrow as pa

    dim = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("k"))
    )

    def partial_bloom(batches):
        bits = np.zeros(_BLJ_M // 8, dtype=np.uint8)
        for t in batches:
            keys = t.column("k").to_numpy(
                zero_copy_only=False).astype(np.uint64)
            for byte, mask in _blj_bits(keys):
                np.bitwise_or.at(bits, byte, mask)
        yield pa.RecordBatch.from_arrays(
            [pa.array([zlib.compress(bits.tobytes(), 1)], pa.binary())],
            names=["bits"])

    bits = np.zeros(_BLJ_M // 8, dtype=np.uint8)
    for row in amap(dim, partial_bloom, "bits binary").collect():
        bits |= np.frombuffer(zlib.decompress(row["bits"]), dtype=np.uint8)
    dim = dim.distinct()
    spark_bits = spark.sparkContext.broadcast(bits.tobytes())

    fact = _t(spark, sf_dir, "events").select(
        (F.col("user_id") * 10 + F.col("event_id") % 10).alias("k"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )

    def kernel(batches):
        b = np.frombuffer(spark_bits.value, dtype=np.uint8)
        for t in batches:
            k = t.column("k").to_numpy(zero_copy_only=False).astype(np.uint64)
            ok = np.ones(len(k), dtype=bool)
            for byte, mask in _blj_bits(k):
                ok &= (b[byte] & mask) > 0
            if ok.any():
                yield from pa.Table.from_batches([t]).filter(
                    pa.array(ok)).combine_chunks().to_batches()

    pruned = fact.mapInArrow(kernel, "k long, cents long")
    out = pruned.join(dim, "k", "left_semi")
    return out.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("cents").cast("long").alias("total_cents"),
        F.countDistinct("k").cast("long").alias("n_keys"),
    )


# ===========================================================================
# relational vocabulary: correlated / anti-join / HAVING-vs-global shapes
# ===========================================================================

@q(
    "correlated_small_qty",
    """
    WITH li AS (
        SELECT l_partkey,
               CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) AS qty100,
               CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
        FROM lineitem
    ),
    stats AS (
        SELECT l_partkey, sum(qty100) AS s, count(*) AS c
        FROM li GROUP BY l_partkey
    )
    SELECT CAST(sum(li.cents) AS BIGINT) AS rev_cents,
           CAST(count(*) AS BIGINT) AS n_items
    FROM li
    JOIN part ON p_partkey = li.l_partkey
    JOIN stats ON stats.l_partkey = li.l_partkey
    WHERE p_brand = 'Brand#4' AND li.qty100 * 5 * stats.c < stats.s
    """,
)
def correlated_small_qty(spark, sf_dir):
    """Correlated scalar subquery (TPC-H Q17 shape), hand-decorrelated.

    "Lineitems whose quantity is below 20% of that part's average
    quantity" is the canonical correlated-aggregate subquery. The
    Spark-first form is the decorrelation Catalyst itself performs: a
    per-part partial aggregate (map-side combine, one shuffle on
    l_partkey) joined back to the fact rows. The comparison is done in
    exact integer arithmetic — ``qty100 * 5 * cnt < sum(qty100)`` is
    algebraically ``qty < 0.2 * avg(qty)`` without the double division,
    so no engine-order ulp can flip a boundary row. The brand filter
    reduces part to a broadcast side. At 100 TB the only exchange is
    the per-part aggregate; AQE handles any hot part key.
    """
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.floor(F.col("l_quantity") * 100 + 0.5).cast("long")
        .alias("qty100"),
        F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long")
        .alias("cents"),
    )
    stats = li.groupBy("l_partkey").agg(
        F.sum("qty100").alias("s"), F.count(F.lit(1)).alias("c"))
    p = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#4")
        .select("p_partkey")
    )
    j = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(stats, "l_partkey")
        .filter(F.col("qty100") * 5 * F.col("c") < F.col("s"))
    )
    return j.agg(
        F.sum("cents").cast("long").alias("rev_cents"),
        F.count(F.lit(1)).cast("long").alias("n_items"),
    )


@q(
    "antijoin_rich_dormant",
    """
    WITH bal AS (
        SELECT c_custkey, c_mktsegment,
               CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS cents
        FROM customer WHERE c_acctbal > 0
    ),
    g AS (SELECT sum(cents) AS tot, count(*) AS n FROM bal)
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_cust,
           CAST(sum(cents) AS BIGINT) AS bal_cents
    FROM bal, g
    WHERE bal.cents * g.n > g.tot
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = bal.c_custkey
                        AND o_orderpriority = '1-URGENT')
    GROUP BY c_mktsegment
    """,
)
def antijoin_rich_dormant(spark, sf_dir):
    """NOT EXISTS anti-join against a global-average gate (TPC-H Q22).

    Customers whose positive balance beats the average positive balance
    but who never placed an urgent order. Three classic pieces in one
    plan: a global scalar aggregate broadcast back onto the rows (no
    second scan pass at the executor level — the scalar is one row), an
    exact-integer average comparison (``cents * n > tot`` instead of
    ``cents > tot/n`` so no division ulp), and a left-anti join whose
    right side is the *filtered* orders projection (only urgent
    custkeys move, and only the key column). At scale the anti-join
    shuffles on custkey; the urgent filter and column prune reach the
    parquet scan.
    """
    bal = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 0)
        .select(
            "c_custkey", "c_mktsegment",
            F.floor(F.col("c_acctbal") * 100 + 0.5).cast("long")
            .alias("cents"),
        )
    )
    g = bal.agg(F.sum("cents").alias("tot"), F.count(F.lit(1)).alias("n"))
    urgent = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    rich = (
        bal.join(F.broadcast(g))
        .filter(F.col("cents") * F.col("n") > F.col("tot"))
    )
    dormant = rich.join(
        urgent, rich.c_custkey == urgent.o_custkey, "left_anti")
    return dormant.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n_cust"),
        F.sum("cents").cast("long").alias("bal_cents"),
    )


@q(
    "having_global_share",
    """
    WITH v AS (
        SELECT p_type,
               CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT)
                   * p_size AS val
        FROM part
    ),
    g AS (SELECT sum(val) AS tot FROM v),
    t AS (SELECT p_type, sum(val) AS value_cents FROM v GROUP BY p_type)
    SELECT t.p_type, CAST(t.value_cents AS BIGINT) AS value_cents
    FROM t, g
    WHERE t.value_cents * 8 > g.tot
    """,
)
def having_global_share(spark, sf_dir):
    """HAVING against a global scalar (TPC-H Q11 shape).

    Per-type inventory value kept only when it exceeds 1/8 of the total
    value — the "significant stock" idiom. One aggregate produces both
    the per-group and (via a second tiny agg over the six group rows)
    the global total; the gate is the broadcast of a single scalar row,
    and ``value * 8 > tot`` keeps the fraction comparison in exact
    integers. The base scan is read once: the per-type aggregate is
    computed first and the global total folds the six aggregated rows,
    not the raw table.
    """
    v = _t(spark, sf_dir, "part").select(
        "p_type",
        (F.floor(F.col("p_retailprice") * 100 + 0.5).cast("long")
         * F.col("p_size")).alias("val"),
    )
    t = v.groupBy("p_type").agg(F.sum("val").alias("value_cents"))
    g = t.agg(F.sum("value_cents").alias("tot"))
    return (
        t.join(F.broadcast(g))
        .filter(F.col("value_cents") * 8 > F.col("tot"))
        .select("p_type", F.col("value_cents").cast("long")
                .alias("value_cents"))
    )


# ===========================================================================
# winnowing fingerprints (MOSS) — robust fingerprint selection
# ===========================================================================

_WINNOW_W = 4  # window size: guarantees matches of >= K + W - 1 = 8 chars


def _winnow_kernel(batches):
    """mapInArrow kernel: MOSS winnowing fingerprints per document.

    Over each doc's 5-byte shingle-hash sequence, every W-window
    contributes min(window); the distinct minima are the fingerprint
    set (Schleimer/Wilkerson/Aiken, SIGMOD'03). Fully vectorized:
    one sliding_window_view min over the batch-flat hash array, valid
    (in-doc) window starts selected arithmetically, per-doc distinct +
    aggregate via one sort (np.unique) and reduceat — no per-doc loop.
    Docs with fewer than W shingles emit the single doc-wide min (the
    same convention the oracle's truncated list slice produces).
    """
    import numpy as np
    import pyarrow as pa

    W = _WINNOW_W
    for b in batches:
        t = pa.Table.from_batches([b])
        n = t.num_rows
        if n == 0:
            continue
        h, _doc_of, n_sh = _flat_shingle_hashes(t.column("text"))
        starts = np.concatenate(([0], np.cumsum(n_sh)[:-1]))
        pad = np.concatenate(
            (h, np.full(W - 1, np.iinfo(np.int64).max, dtype=np.int64)))
        wmin = np.lib.stride_tricks.sliding_window_view(pad, W).min(axis=1)
        n_win = np.maximum(n_sh - (W - 1), 1)
        win_start = np.cumsum(n_win) - n_win
        win_doc = np.repeat(np.arange(n, dtype=np.int64), n_win)
        win_pos = (np.arange(len(win_doc), dtype=np.int64)
                   - win_start[win_doc] + starts[win_doc])
        fp = wmin[win_pos]
        short = n_sh < W
        if short.any():
            doc_min = np.minimum.reduceat(h, starts)
            fp[win_start[short]] = doc_min[short]
        keys = np.unique(win_doc * np.int64(_J_PRIME) + fp)
        kd, kf = keys // _J_PRIME, keys % _J_PRIME
        gs = np.searchsorted(kd, np.arange(n, dtype=np.int64))
        yield pa.RecordBatch.from_arrays(
            [
                t.column("doc_id").combine_chunks().cast(pa.int64()),
                pa.array(np.diff(np.concatenate((gs, [len(kd)])))
                         .astype(np.int64)),
                pa.array(np.minimum.reduceat(kf, gs)),
                pa.array(np.add.reduceat(kf, gs)),
            ],
            names=["doc_id", "n_fp", "fp_min", "fp_sum"],
        )


@q(
    "winnowing_fingerprints",
    f"""
    WITH sh AS (SELECT doc_id, {_sql_shingles()} AS s FROM documents),
    w AS (SELECT doc_id, list_distinct(list_transform(
            range(1, greatest(len(s) - {_WINNOW_W - 1}, 1) + 1),
            i -> list_min(s[i:i+{_WINNOW_W - 1}]))) AS fps
          FROM sh)
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(len(fps) AS BIGINT) AS n_fp,
           CAST(list_min(fps) AS BIGINT) AS fp_min,
           CAST(list_sum(fps) AS BIGINT) AS fp_sum
    FROM w
    """,
)
def winnowing_fingerprints(spark, sf_dir):
    """Winnowing document fingerprints (MOSS, SIGMOD'03) per document.

    The plagiarism-detection / near-dup fingerprint selector the
    single-hash doc_fingerprint can't replace: any shared substring of
    length >= K + W - 1 = 8 forces a shared fingerprint, while only
    ~2/(W+1) of shingles are kept. Same portable base-131 polynomial
    arithmetic as the minhash family, so DuckDB recomputes identical
    fingerprints from SQL lambdas. Map-only at scale (no shuffle): the
    kernel emits per-doc summaries directly.
    """
    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    return amap(d, _winnow_kernel,
                "doc_id long, n_fp long, fp_min long, fp_sum long")


# ===========================================================================
# reconciliation / ranking / iterative-propagation vocabulary
# ===========================================================================


@q(
    "join_full_outer_recon",
    """
    WITH e AS (
        SELECT o_custkey, count(*) AS n,
               sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS c
        FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'
        GROUP BY o_custkey
    ),
    l AS (
        SELECT o_custkey, count(*) AS n,
               sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS c
        FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01'
        GROUP BY o_custkey
    )
    SELECT COALESCE(e.o_custkey, l.o_custkey) AS o_custkey,
           CASE WHEN e.o_custkey IS NULL THEN 'late_only'
                WHEN l.o_custkey IS NULL THEN 'early_only'
                ELSE 'both' END AS status,
           CAST(COALESCE(e.n, 0) AS BIGINT) AS n_early,
           CAST(COALESCE(l.n, 0) AS BIGINT) AS n_late,
           CAST(COALESCE(e.c, 0) AS BIGINT) AS cents_early,
           CAST(COALESCE(l.c, 0) AS BIGINT) AS cents_late
    FROM e FULL OUTER JOIN l ON e.o_custkey = l.o_custkey
    """,
)
def join_full_outer_recon(spark, sf_dir):
    """FULL OUTER reconciliation of two periods' per-customer activity.

    The snapshot-diff idiom (which customers appear only before, only
    after, or in both halves of the date range) — the one join type the
    suite's join vocabulary still lacked. Both sides aggregate BEFORE
    joining, so the full-outer exchange carries one row per customer
    per side, not one per order; both aggregates and the join share the
    same key, so the join reuses the aggregation's hash partitioning
    (no third exchange). Money is per-row integer cents before
    summation (order-independent across engines).
    """
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate",
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
        .alias("cents"),
    )
    cut = F.lit("1998-01-01").cast("timestamp")
    early = (
        o.filter(F.col("o_orderdate") < cut).groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_e"), F.sum("cents").alias("c_e"))
    )
    late = (
        o.filter(F.col("o_orderdate") >= cut).groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_l"), F.sum("cents").alias("c_l"))
    )
    j = early.join(late, "o_custkey", "full_outer")
    return j.select(
        "o_custkey",
        F.when(F.col("n_e").isNull(), F.lit("late_only"))
        .when(F.col("n_l").isNull(), F.lit("early_only"))
        .otherwise(F.lit("both")).alias("status"),
        F.coalesce(F.col("n_e"), F.lit(0)).cast("long").alias("n_early"),
        F.coalesce(F.col("n_l"), F.lit(0)).cast("long").alias("n_late"),
        F.coalesce(F.col("c_e"), F.lit(0)).cast("long").alias("cents_early"),
        F.coalesce(F.col("c_l"), F.lit(0)).cast("long").alias("cents_late"),
    )


@q(
    "ntile_acctbal_quartiles",
    """
    WITH t AS (
        SELECT c_mktsegment,
               CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS cents,
               ntile(4) OVER (PARTITION BY c_mktsegment
                              ORDER BY c_acctbal, c_custkey) AS quartile
        FROM customer
    )
    SELECT c_mktsegment, CAST(quartile AS BIGINT) AS quartile,
           CAST(count(*) AS BIGINT) AS n_cust,
           CAST(sum(cents) AS BIGINT) AS bal_cents,
           CAST(min(cents) AS BIGINT) AS min_cents,
           CAST(max(cents) AS BIGINT) AS max_cents
    FROM t GROUP BY c_mktsegment, quartile
    """,
)
def ntile_acctbal_quartiles(spark, sf_dir):
    """Per-segment account-balance quartiles via NTILE.

    The equi-height bucketing idiom (cohort analysis, score banding).
    NTILE is standard-SQL row-number bucketing, so both engines agree
    given a TOTAL order — the tiebreak on c_custkey makes it one. One
    shuffle by segment; the in-partition sort is bounded by segment
    size (five segments here — at 100 TB this shape wants a
    higher-cardinality partition key or the quantile_sketch_bins
    variant, which this suite also ships). Balance summed as integer
    cents pins bucket membership exactly.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").asc(), F.col("c_custkey").asc())
    t = _t(spark, sf_dir, "customer").select(
        "c_mktsegment", "c_custkey", "c_acctbal",
        F.floor(F.col("c_acctbal") * 100 + 0.5).cast("long").alias("cents"),
    ).withColumn("quartile", F.ntile(4).over(w))
    return t.groupBy("c_mktsegment", F.col("quartile").cast("long")
                     .alias("quartile")).agg(
        F.count(F.lit(1)).cast("long").alias("n_cust"),
        F.sum("cents").cast("long").alias("bal_cents"),
        F.min("cents").cast("long").alias("min_cents"),
        F.max("cents").cast("long").alias("max_cents"),
    )


@q(
    "pagerank_bipartite",
    """
    WITH e AS (
        SELECT DISTINCT o_custkey AS c, l_suppkey AS s
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ),
    dc AS (SELECT c, count(*) AS dc FROM e GROUP BY c),
    ds AS (SELECT s, count(*) AS ds FROM e GROUP BY s),
    ed AS (SELECT e.c, e.s, dc.dc, ds.ds
           FROM e JOIN dc USING (c) JOIN ds USING (s)),
    rs1 AS (SELECT s, CAST(150000 + (sum(1000000 // dc) * 17) // 20
                           AS BIGINT) AS r1
            FROM ed GROUP BY s),
    rc1 AS (SELECT c, CAST(150000 + (sum(rs1.r1 // ed.ds) * 17) // 20
                           AS BIGINT) AS r2
            FROM ed JOIN rs1 USING (s) GROUP BY c),
    rs2 AS (SELECT ed.s, CAST(150000 + (sum(rc1.r2 // ed.dc) * 17) // 20
                              AS BIGINT) AS rank_ppm
            FROM ed JOIN rc1 USING (c) GROUP BY ed.s)
    SELECT CAST(s AS BIGINT) AS s_suppkey, rank_ppm
    FROM rs2 ORDER BY rank_ppm DESC, s LIMIT 20
    """,
)
def pagerank_bipartite(spark, sf_dir):
    """Two damped PageRank rounds over the customer->supplier graph.

    Weighted iterative propagation — the graph-algorithm shape between
    connected components (label min) and kmeans (centroid mean): each
    round is ONE shuffle keyed by the receiving node, contribution =
    rank div out-degree, damping 0.85 applied as *17 div 20 so every
    intermediate is exact BIGINT arithmetic both engines reproduce
    bit-for-bit (no float ranks to drift). The edge list (with both
    degrees attached) is computed once and cached — the only state a
    round carries forward is the bounded rank vector, nothing on the
    driver. Top-20 with a full tiebreak keeps the limit deterministic.
    """
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    e = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    dc = e.groupBy("c").agg(F.count(F.lit(1)).alias("dc"))
    ds = e.groupBy("s").agg(F.count(F.lit(1)).alias("ds"))
    # the degree-annotated edge list feeds all three rounds: checkpoint
    # it once (the dedup_clusters convention) instead of recomputing the
    # orders x lineitem join per round
    ed = e.join(dc, "c").join(ds, "s").localCheckpoint()
    rs1 = ed.groupBy("s").agg(
        (F.lit(150000) + F.expr("sum(1000000 div dc) * 17 div 20"))
        .cast("long").alias("r1"))
    rc1 = ed.join(rs1, "s").groupBy("c").agg(
        (F.lit(150000) + F.expr("sum(r1 div ds) * 17 div 20"))
        .cast("long").alias("r2"))
    rs2 = ed.join(rc1, "c").groupBy("s").agg(
        (F.lit(150000) + F.expr("sum(r2 div dc) * 17 div 20"))
        .cast("long").alias("rank_ppm"))
    return (
        rs2.select(F.col("s").cast("long").alias("s_suppkey"), "rank_ppm")
        .orderBy(F.col("rank_ppm").desc(), F.col("s_suppkey").asc())
        .limit(20)
    )


@q(
    "fim_transform",
    f"""
    WITH seq AS (SELECT doc_id, {{TOK}} AS l FROM documents),
    tok AS (SELECT doc_id, CAST(len(l) AS BIGINT) AS n,
                   CAST(z[1] AS BIGINT) AS t,
                   CAST(z[2] AS BIGINT) - 1 AS i
            FROM (SELECT doc_id, l,
                         unnest(list_zip(l, range(1, len(l) + 1))) AS z
                  FROM seq)),
    m AS (SELECT doc_id, n, n // 3 AS a, (2 * n) // 3 AS b,
                 sum(t * (CASE
                     WHEN i < n // 3 THEN 2 + i
                     WHEN i >= (2 * n) // 3
                         THEN n // 3 + 3 + (i - (2 * n) // 3)
                     ELSE n // 3 + 4 + (n - (2 * n) // 3) + (i - n // 3)
                 END)) AS body
          FROM tok GROUP BY doc_id, n)
    SELECT printf('doc-%012d', doc_id) AS doc_id,
           CAST(n + 3 AS BIGINT) AS out_len,
           CAST(a AS BIGINT) AS prefix_len,
           CAST(b - a AS BIGINT) AS middle_len,
           CAST(n - b AS BIGINT) AS suffix_len,
           CAST(body + 50257 + 50258 * (a + 2)
                + 50259 * (a + 3 + n - b) AS BIGINT) AS fim_checksum
    FROM m
    """.replace("{TOK}", _TOK_SQL),
)
def fim_transform(spark, sf_dir):
    """Fill-in-the-middle (FIM) example construction, PSM order.

    The infilling pretraining transform (Bayer et al., "Efficient
    Training of Language Models to Fill in the Middle", 2022): each
    document splits into prefix/middle/suffix thirds and re-emits as
    ``[PRE] prefix [SUF] suffix [MID] middle`` so the model learns to
    complete the middle given both sides. Deterministic thirds here
    (production randomizes the pivots per epoch with a seeded hash —
    same plan shape). NO arrays are materialized and NO interpreted
    lambdas run: tokens explode once, each token's OUTPUT position is
    a closed-form CASE over its original index, and the per-doc
    position-weighted checksum (sentinels folded in arithmetically)
    pins the rearranged sequence exactly — one shuffle, map-side
    combined, whole-stage codegen throughout.
    """
    seqs = sequences_from_documents(spark, sf_dir)
    tok = seqs.select(
        "doc_id",
        F.col("n_tok").cast("long").alias("n"),
        F.posexplode("tokens").alias("i", "t"),
    ).select("doc_id", "n", F.col("i").cast("long").alias("i"),
             F.col("t").cast("long").alias("t"))
    a = F.expr("n div 3")
    b = F.expr("(2 * n) div 3")
    weight = (
        F.when(F.col("i") < a, 2 + F.col("i"))
        .when(F.col("i") >= b, a + 3 + (F.col("i") - b))
        .otherwise(a + 4 + (F.col("n") - b) + (F.col("i") - a))
    )
    m = (
        tok.withColumn("wt", F.col("t") * weight)
        .groupBy("doc_id", "n")
        .agg(F.sum("wt").alias("body"))
    )
    a2 = F.expr("n div 3")
    b2 = F.expr("(2 * n) div 3")
    return m.select(
        "doc_id",
        (F.col("n") + 3).cast("long").alias("out_len"),
        a2.cast("long").alias("prefix_len"),
        (b2 - a2).cast("long").alias("middle_len"),
        (F.col("n") - b2).cast("long").alias("suffix_len"),
        (F.col("body") + 50257 + 50258 * (a2 + 2)
         + 50259 * (a2 + 3 + F.col("n") - b2)).cast("long")
        .alias("fim_checksum"),
    )


@q(
    "funnel_conversion",
    """
    WITH v AS (SELECT user_id, min(ts) AS v_ts FROM events
               WHERE event_type = 'view' GROUP BY user_id),
    c AS (SELECT e.user_id, min(e.ts) AS c_ts
          FROM events e JOIN v ON e.user_id = v.user_id
          WHERE e.event_type = 'click' AND e.ts > v.v_ts
          GROUP BY e.user_id),
    p AS (SELECT DISTINCT e.user_id
          FROM events e JOIN c ON e.user_id = c.user_id
          WHERE e.event_type = 'purchase' AND e.ts > c.c_ts)
    SELECT CAST((SELECT count(*) FROM v) AS BIGINT) AS n_view,
           CAST((SELECT count(*) FROM c) AS BIGINT) AS n_click,
           CAST((SELECT count(*) FROM p) AS BIGINT) AS n_purchase,
           CAST((SELECT COALESCE(sum(user_id), 0) FROM v) AS BIGINT)
               AS id_sum_view,
           CAST((SELECT COALESCE(sum(user_id), 0) FROM c) AS BIGINT)
               AS id_sum_click,
           CAST((SELECT COALESCE(sum(user_id), 0) FROM p) AS BIGINT)
               AS id_sum_purchase
    """,
)
def funnel_conversion(spark, sf_dir):
    """Ordered view -> click -> purchase conversion funnel.

    The product-analytics staple: a user advances a stage only by an
    event strictly AFTER their first event of the previous stage (a
    click before any view never counts). Three bounded stage tables —
    each one aggregate keyed by user, each joined broadcast (the
    funnel population only shrinks) onto the next stage's filtered
    scan, so the big events table is never shuffled, only scanned with
    a pushed event_type filter per stage. Stage membership is pinned
    by user-id sums, not just counts.
    """
    ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    v = (ev.filter(F.col("event_type") == "view")
         .groupBy("user_id").agg(F.min("ts").alias("v_ts")))
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(F.broadcast(v), "user_id")
        .filter(F.col("ts") > F.col("v_ts"))
        .groupBy("user_id").agg(F.min("ts").alias("c_ts"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(F.broadcast(c), "user_id")
        .filter(F.col("ts") > F.col("c_ts"))
        .select("user_id").distinct()
    )

    def stage(df, n_name, s_name):
        return df.agg(
            F.count(F.lit(1)).cast("long").alias(n_name),
            F.coalesce(F.sum("user_id"), F.lit(0)).cast("long")
            .alias(s_name))

    return (
        stage(v, "n_view", "id_sum_view")
        .crossJoin(stage(c, "n_click", "id_sum_click"))
        .crossJoin(stage(p, "n_purchase", "id_sum_purchase"))
        .select("n_view", "n_click", "n_purchase",
                "id_sum_view", "id_sum_click", "id_sum_purchase")
    )


@q(
    "json_props_stats",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(props ->> 'k' AS BIGINT)) AS BIGINT) AS k_sum,
           CAST(min(CAST(props ->> 'k' AS BIGINT)) AS BIGINT) AS k_min,
           CAST(max(CAST(props ->> 'k' AS BIGINT)) AS BIGINT) AS k_max
    FROM events
    GROUP BY event_type
    """,
)
def json_props_stats(spark, sf_dir):
    """Typed extraction from a JSON string column (semi-structured scan).

    The reference rejects nested types and treats JSON purely as a sink
    format (SURVEY §2.9); real event streams carry JSON property bags.
    ``get_json_object`` is a JVM-side path extractor (no Python, no
    full-document parse into a map), so the scan stays codegen; the
    extracted value casts to BIGINT before aggregation. At 100 TB the
    note is: extraction cost is per-row CPU on the scan — push it AFTER
    any pruning predicates, and materialize hot keys as real columns
    (schema evolution) rather than re-parsing per query.
    """
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.get_json_object("props", "$.k").cast("long").alias("k"),
    )
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("k").cast("long").alias("k_sum"),
        F.min("k").cast("long").alias("k_min"),
        F.max("k").cast("long").alias("k_max"),
    )


# ---------------------------------------------------------------------------
# Unicode NFC normalization: the canonical text-cleaning stage, pinned
# against an independent ICU implementation (DuckDB's nfc_normalize)
# ---------------------------------------------------------------------------

@q(
    "text_normalize_nfc",
    """
    WITH dirty AS (
      SELECT lang,
             replace(replace(text, 'a', 'a' || chr(769)), 'e', chr(233))
               AS dtext
      FROM documents
    ), d AS (
      SELECT lang, dtext, nfc_normalize(dtext) AS ntext FROM dirty
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN ntext <> dtext THEN 1 ELSE 0 END) AS BIGINT)
             AS n_changed,
           CAST(sum(octet_length(encode(dtext))) AS BIGINT) AS dirty_bytes,
           CAST(sum(octet_length(encode(ntext))) AS BIGINT) AS norm_bytes
    FROM d
    GROUP BY lang
    ORDER BY lang
    """,
)
def text_normalize_nfc(spark, sf_dir):
    """Unicode NFC normalization of a text column (pandas UDF boundary).

    Every web-scale corpus cleaner canonicalizes Unicode before dedup
    and tokenization — combining sequences ('a' + U+0301) and their
    precomposed forms (U+00E1) must hash identically downstream. Spark
    has no built-in normalizer, so this is the sanctioned Python
    boundary: an Arrow-batched pandas UDF over `Series.str.normalize`
    (C-loop over unicodedata, no per-row py4j). The corpus is ASCII, so
    both engines first derive the same combining-mark-laden text with
    pure string ops (deterministic, SQL-replayable), then normalize —
    the oracle pins our normalizer against DuckDB's independent ICU
    NFC, byte-for-byte via UTF-8 byte sums.

    100 TB: the UDF is per-row CPU on the scan with no shuffle — it
    scales linearly with executors; place it AFTER pruning predicates
    so only surviving rows pay the Python transfer.
    """
    def kernel(batches):
        import pyarrow as pa

        for b in batches:
            t = pa.Table.from_batches([b])
            if t.num_rows == 0:
                continue
            s = t.column("dtext").to_pandas()
            yield pa.RecordBatch.from_arrays(
                [
                    t.column("lang").combine_chunks(),
                    t.column("dtext").combine_chunks(),
                    pa.array(s.str.normalize("NFC"), pa.string()),
                ],
                names=["lang", "dtext", "ntext"],
            )

    d = _t(spark, sf_dir, "documents").select(
        "lang",
        F.regexp_replace(
            F.regexp_replace("text", "a", "á"), "e", "é"
        ).alias("dtext"),
    ).mapInArrow(kernel, "lang string, dtext string, ntext string")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("ntext") != F.col("dtext"), 1).otherwise(0))
        .cast("long").alias("n_changed"),
        F.sum(F.length(F.encode("dtext", "UTF-8"))).cast("long")
        .alias("dirty_bytes"),
        F.sum(F.length(F.encode("ntext", "UTF-8"))).cast("long")
        .alias("norm_bytes"),
    ).orderBy("lang")


# ---------------------------------------------------------------------------
# robust outlier filtering: exact median/MAD via integer rank arithmetic
# ---------------------------------------------------------------------------

@q(
    "outlier_mad_filter",
    """
    WITH ranked AS (
      SELECT source, doc_id, n_chars,
             row_number() OVER (PARTITION BY source
                                ORDER BY n_chars, doc_id) AS rn,
             count(*) OVER (PARTITION BY source) AS cnt
      FROM documents
    ), med AS (
      SELECT source, n_chars AS med FROM ranked WHERE rn = (cnt + 1) // 2
    ), dev AS (
      SELECT r.source, r.doc_id, r.n_chars, m.med,
             abs(r.n_chars - m.med) AS ad
      FROM ranked r JOIN med m USING (source)
    ), dev_ranked AS (
      SELECT source, med, ad,
             row_number() OVER (PARTITION BY source
                                ORDER BY ad, doc_id) AS rn,
             count(*) OVER (PARTITION BY source) AS cnt
      FROM dev
    ), mad AS (
      SELECT source, med, ad AS mad FROM dev_ranked
      WHERE rn = (cnt + 1) // 2
    )
    SELECT d.source,
           CAST(count(*) AS BIGINT) AS n_total,
           CAST(sum(CASE WHEN d.ad <= 4 * m.mad THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           CAST(m.med AS BIGINT) AS med,
           CAST(m.mad AS BIGINT) AS mad
    FROM dev d JOIN mad m USING (source)
    GROUP BY d.source, m.med, m.mad
    ORDER BY d.source
    """,
)
def outlier_mad_filter(spark, sf_dir):
    """Median/MAD outlier filter (robust statistics, integer-exact).

    Mean/stddev outlier gates break on the heavy-tailed length
    distributions of web corpora (the outliers drag the gate). The
    robust version — keep rows within k·MAD of the median — needs two
    exact order statistics per group. Both are computed by integer rank
    arithmetic (row_number against (cnt+1) div 2, the lower-middle
    element), never interpolating floats, so DuckDB replays bit-exactly.

    Plan: two shuffles by source (rank n_chars, then rank deviations)
    plus one broadcast of the per-source medians (one row per source).
    100 TB: exact per-group ranks are a full sort per group — swap in
    quantile_sketch_bins' mergeable-histogram p50 when groups are
    billions of rows; the filter semantics survive, the sort doesn't
    have to.
    """
    from pyspark.sql import Window

    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    wsrc = Window.partitionBy("source")
    r = d.withColumn(
        "rn", F.row_number().over(wsrc.orderBy("n_chars", "doc_id"))
    ).withColumn("cnt", F.count(F.lit(1)).over(wsrc))
    med = r.filter(F.col("rn") == F.expr("(cnt + 1) DIV 2")) \
        .select("source", F.col("n_chars").alias("med"))
    dev = d.join(F.broadcast(med), "source") \
        .withColumn("ad", F.abs(F.col("n_chars") - F.col("med")))
    dr = dev.withColumn(
        "rn", F.row_number().over(wsrc.orderBy("ad", "doc_id"))
    ).withColumn("cnt", F.count(F.lit(1)).over(wsrc))
    mad = dr.filter(F.col("rn") == F.expr("(cnt + 1) DIV 2")) \
        .select("source", F.col("ad").alias("mad"))
    return (
        dev.join(F.broadcast(mad), "source")
        .groupBy("source", "med", "mad")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_total"),
            F.sum(F.when(F.col("ad") <= 4 * F.col("mad"), 1).otherwise(0))
            .cast("long").alias("n_kept"),
        )
        .select(
            "source", "n_total", "n_kept",
            F.col("med").cast("long").alias("med"),
            F.col("mad").cast("long").alias("mad"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# cohort retention: the classic event-analytics rollup (first-seen week
# cohorts x activity-week offsets), all integer week arithmetic
# ---------------------------------------------------------------------------

_COHORT_BASE_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 in micros
_WEEK_US = 7 * 24 * 3_600_000_000


@q(
    "cohort_retention",
    f"""
    WITH e AS (
      SELECT user_id,
             (epoch_us(ts) - {_COHORT_BASE_US}) // {_WEEK_US} AS week
      FROM events
    ), cohort AS (
      SELECT user_id, min(week) AS cohort_week FROM e GROUP BY user_id
    )
    SELECT c.cohort_week,
           e.week - c.cohort_week AS offset_week,
           CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users
    FROM e JOIN cohort c USING (user_id)
    GROUP BY c.cohort_week, offset_week
    ORDER BY c.cohort_week, offset_week
    """,
)
def cohort_retention(spark, sf_dir):
    """Weekly cohort retention over the event stream.

    Users are bucketed by first-seen week (their cohort); every later
    active week counts them at that offset — the retention-curve input
    every growth dashboard draws. Week ids are integer floor-divisions
    of tz-free epoch micros, so both engines bucket identically with no
    date-library involvement.

    Plan: one shuffle by user_id serves BOTH the min-week cohort agg
    and the activity join (the join reuses the aggregation's hash
    partitioning — no second exchange of the event side); the final
    (cohort, offset) agg is a bounded rollup (weeks x weeks rows).
    100 TB: countDistinct carries user_id sets per (cohort, offset) —
    swap to approx_count_distinct or the KMV sketch when cell
    populations stop fitting a shuffle partition.
    """
    e = _t(spark, sf_dir, "events").select(
        "user_id",
        F.expr(
            "CAST(floor((timestampdiff(MICROSECOND, "
            f"TIMESTAMP_NTZ '1970-01-01 00:00:00', ts) - {_COHORT_BASE_US}) "
            f"/ {_WEEK_US}) AS BIGINT)"
        ).alias("week"),
    )
    cohort = e.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    return (
        e.join(cohort, "user_id")
        .groupBy(
            "cohort_week",
            (F.col("week") - F.col("cohort_week")).alias("offset_week"),
        )
        .agg(F.countDistinct("user_id").cast("long").alias("n_users"))
        .orderBy("cohort_week", "offset_week")
    )


# ---------------------------------------------------------------------------
# TPC-H Q15 shape: aggregate view -> global max -> tie-safe selection
# ---------------------------------------------------------------------------

@q(
    "top_revenue_suppliers",
    """
    WITH rev AS (
      SELECT l_suppkey AS suppkey,
             CAST(sum(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5))
                  AS BIGINT) AS revenue_cents
      FROM lineitem
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.revenue_cents
    FROM rev r JOIN supplier s ON s.s_suppkey = r.suppkey
    WHERE r.revenue_cents = (SELECT max(revenue_cents) FROM rev)
    ORDER BY s.s_suppkey
    """,
)
def top_revenue_suppliers(spark, sf_dir):
    """TPC-H Q15: supplier(s) with the maximum total revenue, tie-safe.

    The classic view-vs-scalar-subquery shape: revenue per supplier
    (integer cents per row BEFORE the sum, so the fold is exact and
    order-independent), the global max of that view, and the equality
    selection that keeps EVERY tied supplier — a LIMIT 1 would be
    nondeterministic under ties. The max comes from an unpartitioned
    window over the AGGREGATED view, not a second aggregation: the
    naive rev.agg(max) formulation re-scans lineitem (Spark plans the
    shared subtree twice — verified in the physical plan), while the
    window sees one row per supplier, a dim-sized single partition.
    Plan: ONE lineitem shuffle (the supplier agg), a single-partition
    exchange of supplier-count rows for the max, a broadcast dim join.
    """
    from pyspark.sql import Window

    li = _t(spark, sf_dir, "lineitem")
    rev = li.groupBy(F.col("l_suppkey").alias("suppkey")).agg(
        F.sum(
            F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount"))
                    * 100 + 0.5)
        ).cast("long").alias("revenue_cents")
    )
    w = Window.partitionBy()  # supplier-cardinality rows: bounded
    s = _t(spark, sf_dir, "supplier")
    return (
        rev.withColumn("mx", F.max("revenue_cents").over(w))
        .filter(F.col("revenue_cents") == F.col("mx"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("suppkey"))
        .select("s_suppkey", "s_name", "revenue_cents")
        .orderBy("s_suppkey")
    )


# ---------------------------------------------------------------------------
# ordered string aggregation: deterministic listagg per group
# ---------------------------------------------------------------------------

@q(
    "ordered_string_agg",
    """
    WITH ranked AS (
      SELECT source, doc_id,
             row_number() OVER (PARTITION BY source ORDER BY n_chars DESC,
                                doc_id) AS rn
      FROM documents
    )
    SELECT source,
           string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY rn) AS top_docs,
           CAST(count(*) AS BIGINT) AS n
    FROM ranked
    WHERE rn <= 5
    GROUP BY source
    ORDER BY source
    """,
)
def ordered_string_agg(spark, sf_dir):
    """Deterministic LISTAGG: top-5 longest docs per source as one string.

    collect_list has no intra-group order guarantee in a distributed
    fold — the idiom that survives any partitioning is rank first (a
    total order: length desc, doc_id tiebreak), filter to the top-k,
    then aggregate structs of (rank, id) and sort INSIDE the array
    before joining. The result is a pure function of the data, pinned
    against DuckDB's ORDER BY string_agg.
    """
    from pyspark.sql import Window

    d = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(F.col("n_chars").desc(), "doc_id")
    ranked = d.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 5)
    return (
        ranked.groupBy("source")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("rn", "doc_id"))),
                    lambda x: x["doc_id"].cast("string"),
                ),
                ",",
            ).alias("top_docs"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# hidden partitioning: day(ts) partition transform end-to-end
# ---------------------------------------------------------------------------

@q(
    "enc_freeze_daypart",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT epoch_us(ts) // 86400000000) AS BIGINT)
             AS n_partitions,
           CAST(0 AS BIGINT) AS n_mismatch
    FROM events
    """,
)
def enc_freeze_daypart(spark, sf_dir):
    """Iceberg hidden partitioning: freeze events under day(ts).

    The spec declares ``partition_transform='day(ts)'`` — partition
    values are DERIVED (epoch-day of the timestamp) identically in the
    plan histogram and the pack kernel, never stored as a column. The
    oracle pins (a) the engine's partition count == the exact number of
    distinct event days in the data (hidden partition routing is
    correct and complete) and (b) the decoded table bit-identical per
    row. At 10^12 scale this is the layout that makes time-range reads
    prune at the partition level before zone maps even load.
    """
    import dataclasses
    import hashlib
    import shutil
    import tempfile

    from . import engine
    from .tablespec import EVENTS

    spec = dataclasses.replace(EVENTS, partition_col=None,
                               partition_transform="day(ts)")
    base = _scratch("daypart", sf_dir)
    src = _t(spark, sf_dir, "events")
    s = engine.freeze(spark, src, base, target_tokens=50_000, spec=spec)
    assert s["n_failed"] == 0
    man = engine.read_manifest(spark, base)
    nparts = man.filter(F.col("status") == "ok") \
        .select("partition_id").distinct().count()
    dec = engine.decode(engine.read_encoded(spark, base), spec=spec)
    j = dec.alias("d").join(src.alias("s"), "event_id", "full_outer")
    return j.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.lit(nparts).cast("long").alias("n_partitions"),
        F.sum(
            F.when(
                F.col("d.ts").isNull() | F.col("s.ts").isNull()
                | _ne("d.ts", "s.ts")
                | _ne("d.user_id", "s.user_id")
                | _ne("d.event_type", "s.event_type")
                | _ne("d.value", "s.value")
                | _ne("d.props", "s.props"),
                1,
            ).otherwise(0)
        ).cast("long").alias("n_mismatch"),
    )


# ---------------------------------------------------------------------------
# distribution drift: exact two-sample Kolmogorov-Smirnov via integer ranks
# ---------------------------------------------------------------------------

@q(
    "ks_drift_sources",
    """
    WITH a AS (SELECT n_chars FROM documents WHERE source = 'web'),
         b AS (SELECT n_chars FROM documents WHERE source = 'code'),
         na AS (SELECT count(*) AS n FROM a),
         nb AS (SELECT count(*) AS n FROM b),
         pts AS (
           SELECT v, sum(ca) OVER w AS cum_a, sum(cb) OVER w AS cum_b
           FROM (
             SELECT n_chars AS v, count(*) AS ca, 0 AS cb FROM a GROUP BY 1
             UNION ALL
             SELECT n_chars AS v, 0 AS ca, count(*) AS cb FROM b GROUP BY 1
           )
           WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW)
         ), folded AS (
           SELECT v, max(cum_a) AS cum_a, max(cum_b) AS cum_b
           FROM pts GROUP BY v
         )
    SELECT CAST((SELECT n FROM na) AS BIGINT) AS n_web,
           CAST((SELECT n FROM nb) AS BIGINT) AS n_code,
           CAST(max(abs(cum_a * (SELECT n FROM nb)
                        - cum_b * (SELECT n FROM na))) AS BIGINT)
             AS ks_scaled
    FROM folded
    """,
)
def ks_drift_sources(spark, sf_dir):
    """Two-sample KS statistic between sources, exact integers.

    Data-drift monitoring compares a slice's length distribution
    against another's; the KS statistic is max |F_a(v) - F_b(v)|. The
    float CDFs are replaced by the cross-multiplied integer form
    max |cum_a*n_b - cum_b*n_a| (== D * n_a * n_b exactly), so both
    engines agree bit-for-bit with no division anywhere. Plan: one
    scan, a per-value counts agg (bounded by the value domain), ONE
    running-sum window over the merged value axis, a 3-int result.
    100 TB: the windowed axis holds one row per distinct value, not
    per row — n_chars-like domains are ~10^5 whatever the corpus size.
    """
    from pyspark.sql import Window

    d = _t(spark, sf_dir, "documents")
    a = d.filter(F.col("source") == "web")
    b = d.filter(F.col("source") == "code")
    na = a.count()
    nb = b.count()
    pts = (
        a.groupBy(F.col("n_chars").alias("v"))
        .agg(F.count(F.lit(1)).alias("ca"))
        .withColumn("cb", F.lit(0))
        .unionByName(
            b.groupBy(F.col("n_chars").alias("v"))
            .agg(F.count(F.lit(1)).alias("cb"))
            .withColumn("ca", F.lit(0)),
        )
    )
    # unpartitioned Window is intentional: input is one row per DISTINCT
    # n_chars value (post-agg), a domain-bounded axis at any corpus size
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding,
                                        Window.currentRow)
    folded = (
        pts.withColumn("cum_a", F.sum("ca").over(w))
        .withColumn("cum_b", F.sum("cb").over(w))
        .groupBy("v")
        .agg(F.max("cum_a").alias("cum_a"), F.max("cum_b").alias("cum_b"))
    )
    return folded.agg(
        F.lit(na).cast("long").alias("n_web"),
        F.lit(nb).cast("long").alias("n_code"),
        F.max(F.abs(F.col("cum_a") * nb - F.col("cum_b") * na))
        .cast("long").alias("ks_scaled"),
    )


# ---------------------------------------------------------------------------
# gap-filled time series: dense minute buckets incl. empty ones
# ---------------------------------------------------------------------------

@q(
    "time_bucket_gap_fill",
    """
    WITH b AS (
      SELECT epoch_us(ts) // 60000000 AS bucket,
             count(*) AS n,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'
      GROUP BY 1
    ), bounds AS (
      SELECT min(bucket) AS lo, max(bucket) AS hi FROM b
    ), dense AS (
      SELECT unnest(generate_series(lo, hi)) AS bucket FROM bounds
    )
    SELECT d.bucket AS minute_bucket,
           CAST(coalesce(b.n, 0) AS BIGINT) AS n_events,
           CAST(coalesce(b.cents, 0) AS BIGINT) AS cents
    FROM dense d LEFT JOIN b USING (bucket)
    ORDER BY d.bucket
    """,
)
def time_bucket_gap_fill(spark, sf_dir):
    """Dense per-minute rollup with explicit zero rows for empty minutes.

    Downstream consumers of a time series (anomaly detectors, charting,
    join-on-time) need EVERY bucket present, not just the observed
    ones. The dense axis comes from sequence(min, max) exploded on the
    driver-aggregated bounds (two scalars — no driver data loop), then
    a left join against the sparse per-bucket agg. Integer minute
    buckets from epoch-micros floor-division, money as integer cents.
    100 TB: the dense axis is one row per minute (~525k/year) however
    large the corpus; the sparse agg is the only data-sized stage.
    """
    e = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    b = e.select(
        F.expr("CAST(floor(timestampdiff(MICROSECOND, "
               "TIMESTAMP_NTZ '1970-01-01 00:00:00', ts) / 60000000.0) "
               "AS BIGINT)").alias("bucket"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    ).groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("cents"),
    )
    dense = (
        b.agg(F.min("bucket").alias("lo"), F.max("bucket").alias("hi"))
        .select(F.explode(F.sequence("lo", "hi")).alias("bucket"))
    )
    return (
        dense.join(b, "bucket", "left")
        .select(
            F.col("bucket").alias("minute_bucket"),
            F.coalesce("n", F.lit(0)).cast("long").alias("n_events"),
            F.coalesce("cents", F.lit(0)).cast("long").alias("cents"),
        )
        .orderBy("minute_bucket")
    )


# ---------------------------------------------------------------------------
# TPC-H Q18 shape: HAVING-threshold subquery joined back to the dims
# ---------------------------------------------------------------------------

@q(
    "large_orders_q18",
    """
    WITH big AS (
      SELECT l_orderkey, CAST(sum(l_quantity) AS BIGINT) AS sum_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING sum(l_quantity) > 150
    )
    SELECT c.c_custkey, o.o_orderkey, b.sum_qty,
           CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS price_cents
    FROM big b
    JOIN orders o ON o.o_orderkey = b.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    ORDER BY b.sum_qty DESC, o.o_orderkey
    LIMIT 100
    """,
)
def large_orders_q18(spark, sf_dir):
    """TPC-H Q18: customers behind the largest orders.

    The aggregate-then-threshold-then-join-back shape: the HAVING
    filter shrinks the fact-side BEFORE the dim joins, so the order
    and customer lookups join against ~hundreds of rows, not the full
    lineitem (both become broadcast-able after the filter under AQE).
    Quantities are integral by data contract — the sum casts to BIGINT
    exactly. Deterministic top-100 via (sum_qty DESC, orderkey) total
    order.
    """
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").cast("long").alias("sum_qty"))
        .filter(F.col("sum_qty") > 150)
    )
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_custkey", "o_orderkey", "sum_qty",
            F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
            .alias("price_cents"),
        )
        .orderBy(F.col("sum_qty").desc(), "o_orderkey")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# TPC-H Q21 shape: EXISTS + NOT EXISTS against the same fact table
# ---------------------------------------------------------------------------

@q(
    "sole_flagged_supplier_q21",
    """
    WITH r AS (
      SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
      WHERE l_returnflag = 'R'
    ), all_pairs AS (
      SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
    ), sole AS (
      SELECT r.l_orderkey, r.l_suppkey FROM r
      WHERE EXISTS (SELECT 1 FROM all_pairs a
                    WHERE a.l_orderkey = r.l_orderkey
                      AND a.l_suppkey <> r.l_suppkey)
        AND NOT EXISTS (SELECT 1 FROM r r2
                        WHERE r2.l_orderkey = r.l_orderkey
                          AND r2.l_suppkey <> r.l_suppkey)
    )
    SELECT s.s_name, CAST(count(*) AS BIGINT) AS n_orders
    FROM sole JOIN supplier s ON s.s_suppkey = sole.l_suppkey
    GROUP BY s.s_name
    ORDER BY n_orders DESC, s.s_name
    LIMIT 50
    """,
)
def sole_flagged_supplier_q21(spark, sf_dir):
    """TPC-H Q21: suppliers who were the ONLY flagged supplier in a
    multi-supplier order ('R' return lines standing in for late lines —
    the synthetic lineitem carries no receipt/commit dates).

    The double-correlated EXISTS / NOT EXISTS pair compiles to one
    LEFT SEMI and one LEFT ANTI join against self-derived pair sets;
    both sides shrink to DISTINCT (orderkey, suppkey) pairs before any
    join, so the exchanges carry pair cardinality, not line
    cardinality. Deterministic top-50 with a (count, name) total order.
    """
    li = _t(spark, sf_dir, "lineitem")
    r = (li.filter(F.col("l_returnflag") == "R")
         .select("l_orderkey", "l_suppkey").distinct())
    all_pairs = li.select("l_orderkey", "l_suppkey").distinct()
    other = (all_pairs.withColumnRenamed("l_suppkey", "o_suppkey"))
    exists_other = r.join(
        other,
        (r.l_orderkey == other.l_orderkey)
        & (r.l_suppkey != other.o_suppkey),
        "left_semi",
    )
    r2 = (r.withColumnRenamed("l_suppkey", "r_suppkey"))
    sole = exists_other.join(
        r2,
        (exists_other.l_orderkey == r2.l_orderkey)
        & (exists_other.l_suppkey != r2.r_suppkey),
        "left_anti",
    )
    s = _t(spark, sf_dir, "supplier")
    return (
        sole.join(F.broadcast(s), sole.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
        .orderBy(F.col("n_orders").desc(), "s_name")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# cumulative distinct: users-ever-seen by day (first-touch running sum)
# ---------------------------------------------------------------------------

@q(
    "running_distinct_users",
    """
    WITH first_day AS (
      SELECT user_id,
             min(epoch_us(ts) // 86400000000) AS d0
      FROM events GROUP BY user_id
    ), per_day AS (
      SELECT d0 AS day, count(*) AS n_new FROM first_day GROUP BY d0
    )
    SELECT day,
           CAST(n_new AS BIGINT) AS n_new,
           CAST(sum(n_new) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED
                                 PRECEDING AND CURRENT ROW) AS BIGINT)
             AS users_ever
    FROM per_day
    ORDER BY day
    """,
)
def running_distinct_users(spark, sf_dir):
    """Cumulative distinct users by day — without a running DISTINCT.

    'How many unique users have we ever seen as of day D' is a
    cumulative COUNT DISTINCT, which no engine computes incrementally
    as written; the classic rewrite is first-touch attribution: each
    user contributes exactly once, at their FIRST activity day, and the
    cumulative curve is a running SUM of those firsts. One shuffle by
    user for the min-day agg; the running sum's window holds one row
    per day, not per event (bounded axis at any corpus size).
    """
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events").select(
        "user_id",
        F.expr("CAST(floor(timestampdiff(MICROSECOND, "
               "TIMESTAMP_NTZ '1970-01-01 00:00:00', ts) / 86400000000.0) "
               "AS BIGINT)").alias("day"),
    )
    per_day = (
        e.groupBy("user_id").agg(F.min("day").alias("d0"))
        .groupBy(F.col("d0").alias("day"))
        .agg(F.count(F.lit(1)).alias("n_new"))
    )
    # unpartitioned Window is intentional: input is one row per DAY
    # (post-agg), bounded by the calendar at any corpus size
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding,
                                          Window.currentRow)
    return per_day.select(
        "day",
        F.col("n_new").cast("long").alias("n_new"),
        F.sum("n_new").over(w).cast("long").alias("users_ever"),
    ).orderBy("day")


# ---------------------------------------------------------------------------
# event transition matrix: per-user lag pairs (Markov-chain counts)
# ---------------------------------------------------------------------------

@q(
    "event_transition_matrix",
    """
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events
    )
    SELECT event_type, next_type,
           CAST(count(*) AS BIGINT) AS n
    FROM seq
    WHERE next_type IS NOT NULL
    GROUP BY event_type, next_type
    ORDER BY event_type, next_type
    """,
)
def event_transition_matrix(spark, sf_dir):
    """First-order transition counts between consecutive events per user.

    The Markov-chain input every behavioral model starts from: order
    each user's stream by (ts, event_id) — the id tiebreak makes the
    sequence a total order, so simultaneous events can't flip pairs —
    take lead() within the user partition, count (state, next) pairs.
    ONE shuffle by user_id serves the window; the pair count is a
    bounded |types|^2 rollup.
    """
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type",
        F.lead("event_type").over(w).alias("next_type"),
    ).filter(F.col("next_type").isNotNull())
    return (
        seq.groupBy("event_type", "next_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy("event_type", "next_type")
    )


# ---------------------------------------------------------------------------
# anomaly detection: z-score outlier minutes, exact integer arithmetic
# ---------------------------------------------------------------------------

@q(
    "anomalous_minutes_zscore",
    """
    WITH b AS (
      SELECT epoch_us(ts) // 60000000 AS minute_bucket,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1
    ), stats AS (
      SELECT count(*) AS k, sum(n) AS s, sum(n * n) AS ss FROM b
    )
    SELECT b.minute_bucket, b.n
    FROM b, stats
    WHERE k > 1
      AND (k * b.n - s) * (k * b.n - s) * (k - 1) > 9 * k * (k * ss - s * s)
    ORDER BY b.minute_bucket
    """,
)
def anomalous_minutes_zscore(spark, sf_dir):
    """Minutes whose event count sits >3 sigma from the mean — no floats.

    The z-score test |x - mean| > 3*sd is cross-multiplied into pure
    BIGINT arithmetic: with k buckets, sum s and sum-of-squares ss,
      (k*x - s)^2 * (k-1) > 9 * k * (k*ss - s^2)
    is exactly |x - s/k| > 3*sqrt((ss - s^2/k)/(k-1)) — both engines
    agree bit-for-bit because nothing is ever a float. Plan: one
    per-minute agg (bounded axis), a single-row stats agg broadcast
    back via cross join. Magnitude guard: k, n fit ~10^6 at any corpus
    (minutes x counts/minute), so k^2*ss stays far below 2^63 —
    at larger magnitudes move to the scaled-decimal form.
    """
    e = _t(spark, sf_dir, "events")
    b = e.select(
        F.expr("CAST(floor(timestampdiff(MICROSECOND, "
               "TIMESTAMP_NTZ '1970-01-01 00:00:00', ts) / 60000000.0) "
               "AS BIGINT)").alias("minute_bucket"),
    ).groupBy("minute_bucket").agg(F.count(F.lit(1)).cast("long").alias("n"))
    stats = b.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n").cast("long").alias("s"),
        F.sum(F.col("n") * F.col("n")).cast("long").alias("ss"),
    )
    dev = F.col("k") * F.col("n") - F.col("s")
    return (
        b.crossJoin(F.broadcast(stats))
        .filter(
            (F.col("k") > 1)
            & (dev * dev * (F.col("k") - 1)
               > 9 * F.col("k") * (F.col("k") * F.col("ss")
                                   - F.col("s") * F.col("s")))
        )
        .select("minute_bucket", "n")
        .orderBy("minute_bucket")
    )


# ---------------------------------------------------------------------------
# Iceberg v2 interchange (vendored metadata writer/reader, iceberg.py)
# ---------------------------------------------------------------------------


@q(
    "enc_iceberg_export",
    """
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars % 64 + 1) AS BIGINT) AS total_tokens,
           true AS from_metadata_chain
    FROM documents GROUP BY source
    """,
)
def enc_iceberg_export(spark, sf_dir):
    """Freeze -> Iceberg v2 export -> read back via the metadata chain.

    r3 verdict item 4: the frozen output's committed encoded parquet
    files are committed as an Iceberg v2 append snapshot (vendored
    metadata.json + Avro manifest list + manifest, iceberg.py), then
    the scan is planned PURELY from that chain — version-hint ->
    metadata.json -> snapshot -> manifest list -> manifests -> file
    paths — never by directory listing. ``from_metadata_chain`` pins
    that the chain's planned record counts equal the scanned rows, and
    the decoded corpus must reproduce the source aggregation exactly
    (same oracle arithmetic as enc_roundtrip_agg).
    """
    from . import engine, iceberg

    base = _scratch("iceberg", sf_dir)
    sequences_from_documents(spark, sf_dir).write.parquet(f"{base}/in")
    out = f"{base}/out"
    engine.freeze(spark, f"{base}/in", out, target_tokens=30_000)
    iceberg.export_frozen(spark, out)
    enc = iceberg.read_exported(spark, f"{out}/iceberg")
    plan = iceberg.scan_table(f"{out}/iceberg")
    ok = (sum(f["record_count"] for f in plan["files"]) == enc.count())
    dec = engine.decode(enc)
    return (
        dec.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("total_tokens"),
        )
        .withColumn("from_metadata_chain", F.lit(bool(ok)))
    )


@q(
    "enc_iceberg_partitioned",
    """
    WITH d AS (SELECT *, CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day
               FROM events),
         m AS (SELECT min(day) AS d0 FROM d)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           true AS pruned_from_metadata
    FROM d, m WHERE d.day = m.d0
    GROUP BY event_type
    """,
)
def enc_iceberg_partitioned(spark, sf_dir):
    """Partitioned Iceberg export: day(ts) freeze -> partition-pruned scan.

    r4 verdict item 2: the engine's hidden partitioning
    (``partition_transform='day(ts)'``) is carried INTO the exported
    Iceberg table — data files are rewritten one-partition-per-file
    (copy-on-write, so the table owns its files), each manifest entry
    carries a real partition tuple (field 102), and the table metadata
    holds an identity partition spec over the derived ``part`` column
    (field-id 1000) with the source transform recorded in
    ``cryo.partition-transform``. The scan plans the EARLIEST day's
    files purely from manifest partition tuples (prune_partitions — no
    data or footer reads), decodes only those files, and must reproduce
    that day's source rows exactly. ``pruned_from_metadata`` pins that
    the pruned plan is a strict subset of the table's files and its
    manifest record counts equal the decoded row count. Reference
    analog: per-dir partitioned outputs,
    crates/freeze/src/types/partitions.rs:290-337.
    """
    import dataclasses

    from . import engine, iceberg
    from .tablespec import EVENTS

    spec = dataclasses.replace(EVENTS, partition_col=None,
                               partition_transform="day(ts)")
    base = _scratch("icepart", sf_dir)
    src = _t(spark, sf_dir, "events")
    s = engine.freeze(spark, src, f"{base}/out", target_tokens=50_000,
                      spec=spec)
    assert s["n_failed"] == 0
    iceberg.export_frozen(spark, f"{base}/out",
                          table_location=f"{base}/ptab", partitioned=True)
    plan = iceberg.scan_table(f"{base}/ptab")
    day0 = min(int(f["partition"]["part"]) for f in plan["files"])
    sel = iceberg.prune_partitions(plan, part=str(day0))
    sub = spark.read.parquet(*[f["path"] for f in sel])
    dec = engine.decode(sub.drop("part"), spec=spec)
    ok = (0 < len(sel) < len(plan["files"])
          and sum(f["record_count"] for f in sel) == sub.count())
    return (
        dec.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
        )
        .withColumn("pruned_from_metadata", F.lit(bool(ok)))
    )
