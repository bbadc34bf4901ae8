"""SparkSession factory tuned for the encode/decode jobs."""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession


def ship_package(spark: SparkSession) -> str:
    """Make ``cryo_spark`` importable on executors (spark-submit --py-files analog).

    Zips the package and registers it via ``addPyFile`` so executor
    Python workers can unpickle our chunk kernels regardless of the
    driver's cwd or PYTHONPATH. Idempotent per session.
    """
    if getattr(spark, "_cryo_spark_shipped", False):
        return ""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    fd, zip_path = tempfile.mkstemp(prefix="cryo_spark_", suffix=".zip")
    os.close(fd)
    with zipfile.ZipFile(zip_path, "w") as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                    zf.write(full, rel)
    spark.sparkContext.addPyFile(zip_path)
    spark._cryo_spark_shipped = True
    return zip_path


def warm_read_path(spark: SparkSession) -> None:
    """Run Spark's parquet read path once, on a one-row file.

    The engine writes every file it owns, and reads its encoded files,
    through pyarrow in Python tasks, outside Spark's parquet source. Its
    metadata reads (manifest, tombstones, delete keys) use it, and the
    first one in a session pays its JVM start-up: ~1.5 s on a 4-vCPU
    host, against ~0.1 s for later reads. Paid here, it is part of
    session start instead of the session's first lookup or compaction."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tempfile.mkdtemp(prefix="cryo_spark_warm_")
    try:
        path = os.path.join(d, "warm.parquet")
        pq.write_table(pa.table({"run": ["r"], "chunk_id": pa.array([0], pa.int32())}), path)
        spark.read.schema("run string, chunk_id int").parquet(path) \
            .filter("chunk_id >= 0").toArrow()
    finally:
        shutil.rmtree(d, ignore_errors=True)


def get_spark(
    app: str = "cryo_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build a session with Arrow + AQE on.

    In local mode the master defaults to ``local[$SPARK_GRAFT_CPUS]``;
    on a real cluster pass ``master=None`` with a cluster-managed
    spark-submit (the engine itself is deployment-agnostic —
    ``spark-submit --py-files cryo_spark.zip job.py``).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    n_shuffle = shuffle_partitions or int(cpus) if master.startswith("local") else 200
    builder = (
        SparkSession.builder.master(master)
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # token-sequence rows decompress ~4-8x from parquet; small file
        # splits keep scan-stage parallelism up (a single 33 MB file
        # would otherwise scan single-threaded under the 128 MB default)
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ship_package(spark)
    warm_read_path(spark)
    return spark
