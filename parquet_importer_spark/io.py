"""Table IO: the engine's source layer.

The reference streams one parquet file in 50k-row Arrow batches
(reference app.py:88,94,111); Spark's vectorized parquet reader already
splits by row group / ``spark.sql.files.maxPartitionBytes`` and scans
partitions in parallel, so a "scan" here is just ``spark.read.parquet``
with filters and column pruning pushed down by Catalyst. The schema
comes from the footer, read with pyarrow in the driver as the reference
does (``pq.ParquetFile(source)``, app.py:88): :func:`table_schema` hands
it to both the batch reader (:func:`read_table`) and the stream reader
(:func:`read_stream`), so neither runs Spark's schema-inference job.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from functools import lru_cache as _lru_cache

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

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
def _footer(path: str) -> tuple[StructType, tuple[str, ...]]:
    """The Spark schema of a parquet file or directory, from one footer
    alone (no data scan, no Spark job), and its TIMESTAMP(NANOS) columns.

    The schema is the one Spark infers: tz-less timestamps are
    ``timestamp_ntz``, and nanosecond timestamps, which Spark's reader has
    no type for, are nano-epoch longs, as ``legacy.parquet.nanosAsLong``
    reads them. A directory (a stream's source) takes the schema of its
    first data file, by name."""
    import pyarrow as pa  # noqa: PLC0415
    import pyarrow.parquet as pq  # noqa: PLC0415
    from pyspark.sql.pandas.types import from_arrow_schema  # noqa: PLC0415

    if os.path.isdir(path):
        path = os.path.join(path, min(f for f in os.listdir(path) if f[0] not in "_."))
    arrow = pq.read_schema(path)
    ns = tuple(
        f.name for f in arrow if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
    )
    arrow = pa.schema(f.with_type(pa.int64()) if f.name in ns else f for f in arrow)
    return from_arrow_schema(arrow, prefer_timestamp_ntz=True), ns


def table_schema(path: str) -> StructType:
    """The Spark schema of the parquet table at ``path``, from its footer
    (memoized per path)."""
    return _footer(path)[0]


def _to_micros(df: DataFrame, path: str) -> DataFrame:
    # nano-epoch longs → µs TimestampType, the precision Spark keeps
    # anyway (an empty withColumns would still add a Project)
    ns = _footer(path)[1]
    if not ns:
        return df
    return df.withColumns({c: F.timestamp_micros(F.expr(f"`{c}` div 1000")) for c in ns})


#: memoized source DataFrames, keyed by (session, resolved path). A
#: DataFrame is an immutable logical plan, so handing every caller the
#: same object is safe — and skips re-listing the file and re-reading
#: its footer on each of the suite's ~100 query constructions (the
#: engine analog of resolving a catalog table once).
_READ_CACHE: dict[tuple[int, str], DataFrame] = {}
# value keeps the DataFrame alive so its id() is never recycled
_PARTITIONS_CACHE: dict[tuple[int, int], list] = {}


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one synthetic table, with the schema from its parquet footer
    (:func:`table_schema`; the distributed analog of the reference's
    1-row probe, app.py:72), so the read runs no Spark job.

    Spark has no type for parquet TIMESTAMP(NANOS) columns and rejects
    them when it infers a schema; the footer schema reads them as
    nano-epoch longs, with or without ``nanosAsLong``, which are then
    truncated to µs TimestampType.
    """
    path = os.path.normpath(table_path(sf_dir, name))
    key = (id(spark), path)
    cached = _READ_CACHE.get(key)
    if cached is None:
        df = spark.read.schema(table_schema(path)).parquet(path)
        cached = _READ_CACHE[key] = _to_micros(df, path)
    return cached


def as_stream_dir(source: str) -> str:
    """FileStreamSource requires a directory (its basePath). Real
    streaming sources are directories of arriving files; the single-file
    test fixtures get staged into a temp dir via symlink (copy fallback)."""
    if os.path.isdir(source):
        return source
    d = tempfile.mkdtemp(prefix="pis_src_")
    target = os.path.join(d, os.path.basename(source))
    try:
        os.symlink(source, target)
    except OSError:
        shutil.copy2(source, target)
    return d


def read_stream(spark: SparkSession, path: str) -> DataFrame:
    """A file stream over the parquet table at ``path``, with the footer
    schema and the µs timestamps of :func:`read_table`. A single file is
    staged into a directory of its own on every call."""
    stream = spark.readStream.schema(table_schema(path)).parquet(as_stream_dir(path))
    return _to_micros(stream, path)


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
