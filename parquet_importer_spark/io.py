"""Table IO: the engine's source layer.

The reference streams one parquet file in 50k-row Arrow batches
(reference app.py:88,94,111); Spark's vectorized parquet reader already
splits by row group / ``spark.sql.files.maxPartitionBytes`` and scans
partitions in parallel, so a "scan" here is just ``spark.read.parquet``
— schema from the footer, filters and column pruning pushed down by
Catalyst.
"""

from __future__ import annotations

import os
from functools import lru_cache as _lru_cache

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: tables the driver generates at each scale factor (TESTDATA.md)
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: small dimension tables that should always broadcast in joins
BROADCAST_DIMS = frozenset({"region", "nation", "supplier", "part"})

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


@_lru_cache(maxsize=256)
def _nanos_timestamp_cols(path: str) -> tuple[str, ...]:
    """Footer-only probe for TIMESTAMP(NANOS) columns (O(1), no data scan
    — same trick as the reference's metadata reads, app.py:91)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pq.read_schema(path)
    return tuple(
        f.name
        for f in schema
        if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
    )


#: memoized source DataFrames, keyed by (session, resolved path). A
#: DataFrame is an immutable logical plan, so handing every caller the
#: same object is safe — and skips re-listing the file and re-reading
#: its footer on each of the suite's ~100 query constructions (the
#: engine analog of resolving a catalog table once).
_READ_CACHE: dict[tuple[int, str], DataFrame] = {}
# value keeps the DataFrame alive so its id() is never recycled
_PARTITIONS_CACHE: dict[tuple[int, int], list] = {}


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one synthetic table. Schema comes from the parquet footer
    (the distributed analog of the reference's 1-row probe, app.py:72).

    Parquet TIMESTAMP(NANOS) (e.g. ``events.ts``) is illegal for Spark's
    vectorized reader; those columns are read as nano-epoch longs
    (``legacy.parquet.nanosAsLong``) and truncated to µs TimestampType —
    the same precision Spark would keep anyway.
    """
    path = os.path.normpath(table_path(sf_dir, name))
    key = (id(spark), path)
    cached = _READ_CACHE.get(key)
    if cached is not None:
        return cached
    ns_cols = _nanos_timestamp_cols(path)
    if ns_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    for c in ns_cols:
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    _READ_CACHE[key] = df
    return df


def read_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: read_table(spark, sf_dir, t) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so ``spark.sql`` works on the
    same names the DuckDB oracle uses."""
    for t in TABLES:
        read_table(spark, sf_dir, t).createOrReplaceTempView(t)


def parallelize(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Ensure a CPU-bound pipeline gets full parallelism.

    A small parquet file (single row group) scans as ONE task, so
    per-row-heavy operators (md5 minhash passes, cosine folds) run
    single-threaded no matter how many cores exist. Repartition up to
    ``defaultParallelism`` — but ONLY when the scan is under-split:
    at production scale the input already has thousands of splits and
    this is a no-op (never shrink parallelism, never add a shuffle).

    ROW-GROUP HAZARD, closed round 11 (round 10 recorded it, the sf30
    rung measured it): the byte-range split count LIES about effective
    parallelism — Spark's vectorized parquet reader assigns each whole
    ROW GROUP to the one split containing its start offset, so a
    189 MB file with six 262k-row groups reports 32 splits while 26 of
    them read zero rows, and a fused CPU-heavy projection (the minhash
    md5 passes) silently runs 6-wide (llm_dedup_near read xlin_m 1.86
    at the sf30 rung from exactly this; stage re-timed 88.5 s → 23.9 s
    with the repartition). The under-split check therefore counts
    FOOTER ROW GROUPS too when the input is parquet: effective splits
    = min(byte-range splits, total row groups across scan files), and
    the repartition fires when THAT is under target. Driver-SF plans
    are unchanged (small files are byte-split-starved there, so the
    repartition already fired); only large few-row-group inputs gain
    the exchange they always needed. Symptom to recognize elsewhere:
    a CPU-bound stage with N tasks where task time concentrates in
    #row-groups of them."""
    spark = df.sparkSession
    target = min_partitions or spark.sparkContext.defaultParallelism
    key = (id(spark), id(df._jdf))
    hit = _PARTITIONS_CACHE.get(key)
    if hit is None or hit[0] is not df:
        # [df, footer row groups, byte-range splits], memoized per plan
        # object (read_table hands out stable objects, so repeat
        # constructions of the same query hit this cache)
        hit = _PARTITIONS_CACHE[key] = [df, _parquet_row_groups(df), None]
    n = hit[1]
    if n is None or n >= target:
        # only now can the byte-range split count change the outcome;
        # planning it costs ~65 ms a plan against ~14 ms for the footers
        if hit[2] is None:
            hit[2] = df.rdd.getNumPartitions()
        n = hit[2] if n is None else min(n, hit[2])
    if n < target:
        return df.repartition(target)
    return df


def parquet_footers(df: DataFrame) -> list | None:
    """``(local path, pyarrow FileMetaData)`` for each of the plan's scan
    files, or None when they can't be read cheaply (non-parquet input,
    non-local URIs, or more files than worth footer-probing — many files
    means many splits, so the byte-range count is already honest there).
    Footer reads are driver-side and ~ms each. The one footer probe
    behind :func:`parallelize`'s row-group count and the COPY sink's
    split listing (``sources.postgres_copy``)."""
    try:
        files = df.inputFiles()
    except Exception:  # noqa: BLE001 — e.g. streaming/RDD-backed plans
        return None
    if not files or len(files) > 64:
        return None
    import pyarrow.parquet as pq  # noqa: PLC0415

    footers = []
    for uri in files:
        if not uri.endswith(".parquet"):
            return None
        path = uri[len("file:"):] if uri.startswith("file:") else uri
        try:
            footers.append((path, pq.ParquetFile(path).metadata))
        except Exception:  # noqa: BLE001 — unreadable footer: stay honest
            return None
    return footers


def _parquet_row_groups(df: DataFrame) -> int | None:
    """Total parquet row groups across the plan's scan files, or None
    when :func:`parquet_footers` can't read them; rides the same
    per-plan-object cache as the split count."""
    footers = parquet_footers(df)
    if footers is None:
        return None
    return sum(md.num_row_groups for _, md in footers)


def footer_rowcount(path: str) -> int:
    """O(1) row count from parquet footer metadata — no data scan
    (reference app.py:91 does this via pyarrow; same trick here)."""
    import pyarrow.parquet as pq

    return pq.ParquetFile(path).metadata.num_rows
