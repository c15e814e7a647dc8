"""SparkSession factory tuned for this engine.

Local test mode runs ``local[N]`` in one JVM; the configs below are chosen
so the same plans scale to a multi-executor cluster:

- AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
  and dynamic join-strategy switching replace any hand-scheduling.
- Arrow on: pandas_udf / mapInPandas cross the Python boundary in
  columnar batches, not rows.
- ``spark.sql.shuffle.partitions`` is only the *initial* value — AQE
  coalesces down; on a real cluster set it ~2-3× total cores.
- ``spark.sql.legacy.parquet.nanosAsLong`` is set here, once, for the
  session's life. Spark rejects a TIMESTAMP(NANOS) column only when it
  infers a file's schema; ``io``'s readers pass the footer schema (such
  columns typed as longs), so they need no flag and also work in a
  session this module did not build, such as the driver's. The flag
  makes the reads that do infer (read-backs of engine output, user
  files) type such columns the same way instead of failing. A builder
  that set it mid-session would change every later read in the session.
- Local masters only: ``spark.python.daemon.module`` is
  ``worker_daemon/zipcache_daemon.py``. Up to Python 3.12,
  ``importlib.invalidate_caches()``, which PySpark calls at the start of
  every Python task, re-reads each zip archive on the worker's path
  (``pyspark.zip``, the py4j zip, the spark-core jar: 26,672 directory
  entries), ~0.2 s per task on a 4-core host; that daemon's workers
  re-read an archive only when it changed. It is the daemon module, not
  the worker module, because PySpark imports a worker module only if
  its name starts with ``pyspark``. Its directory reaches the workers
  through ``spark.executorEnv.PYTHONPATH``, a path on the driver's host
  that a cluster's executors do not have, so other masters keep
  PySpark's own daemon.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# holds zipcache_daemon.py and nothing else, so the workers' path gains
# no package (closures stay self-contained)
_DAEMON_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "worker_daemon")


def get_spark(
    app_name: str = "parquet-importer-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default ``*``).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))

    master = os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # the TPC-H-ish dims (region/nation/supplier/part) must broadcast
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        # session-local timezone pinned to UTC so timestamp parity with
        # DuckDB (which treats naive parquet timestamps as-is) holds
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    if master == "local" or master.startswith("local["):
        builder = builder.config(
            "spark.python.daemon.module", "zipcache_daemon"
        ).config("spark.executorEnv.PYTHONPATH", _DAEMON_DIR)
    # Streaming TEMP checkpoints (memory-sink queries that set no
    # explicit checkpointLocation — every such query here carries a
    # uuid queryName, so runs never share state): default java.io.tmpdir
    # sits on the boot disk and the per-batch state snapshots + commit
    # logs are fsync-bound there (r14 measured: stream_watermark_run
    # 4.2 s -> 2.9 s steady at sf0.01 on tmpfs). Parameterised:
    # SPARK_GRAFT_STREAM_CK overrides; production jobs set an explicit
    # durable checkpointLocation per query (the two file-sink operators
    # and incremental_parquet_import already do), which this conf never
    # touches. PID-scoped + cleaned at exit so repeated sessions don't
    # accumulate tmpfs dirs.
    stream_ck = os.environ.get("SPARK_GRAFT_STREAM_CK")
    if stream_ck is None and os.path.isdir("/dev/shm"):
        stream_ck = f"/dev/shm/pis_stream_ck_{os.getpid()}"
        import atexit  # noqa: PLC0415
        import shutil  # noqa: PLC0415

        atexit.register(shutil.rmtree, stream_ck, ignore_errors=True)
    if stream_ck:
        builder = builder.config(
            "spark.sql.streaming.checkpointLocation", stream_ck
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
