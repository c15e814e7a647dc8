"""Postgres COPY-protocol bulk sink + scratch-server harness.

The reference's entire mission is parquet → Postgres import
(app.py:88-193): a pandas ``to_sql`` loop pushing 50k-row chunks
through ONE connection. The production-scale analog is the COPY
protocol over many parallel streams; COPY's bulk text framing beats
batched INSERTs by roughly an order of magnitude on a real warehouse.
This image ships no Postgres JDBC jar and no Python pg client, but it
does ship the full server (initdb/pg_ctl/postgres 15) and the ``psql``
CLI — and ``psql``'s ``COPY FROM STDIN`` over a unix socket IS the
COPY protocol, so the executor-side loader shells one ``psql`` per
stream and writes Arrow batches into it as CSV, encoded by Arrow's C++
writer.

Pieces:

- :func:`scratch_server` — find-or-start a throwaway Postgres: honors
  ``PIS_PG_DSN`` when the environment provides a real server, else
  initdb's a temp cluster (socket-only, trust auth, no TCP) and
  registers an atexit stop. Returns ``None`` when neither is possible
  (no binaries / no way to drop root), so callers degrade gracefully.
- :func:`copy_into_postgres` — the distributed sink: driver-side DDL
  with the reference's fail/replace/append semantics (app.py:21 →
  sinks.IF_EXISTS_TO_SAVEMODE mirrors the same map for JDBC), then one
  of two load paths, both streaming through one psql helper:

  - the **parquet path**, for a bare parquet scan (optionally a column
    projection) whose file schema is exactly what Spark would hand the
    worker: one Spark task per (file, row group) split decodes it with
    pyarrow, as the reference's ``iter_batches`` does, and feeds
    ``k = max(1, defaultParallelism // n_splits)`` COPY streams from
    threads;
  - the **JVM path**, for every other frame: ``mapInArrow`` streams
    each partition's Arrow batches into its own COPY.

  Either way the per-task row counts are the action that drives the
  load AND the load audit.
- :func:`read_back` — driver-side ``COPY (query) TO STDOUT`` for
  verification-sized results only (row counts, aggregates, spot rows);
  corpus-sized readback belongs to a parallel JDBC/FDW scan, not this.

Scale notes (100 TB): the DSN on a cluster points at the warehouse
over TCP and every stream holds a connection. On the JVM path the
stream count is the partition count — bound it with ``num_partitions``
exactly as the JDBC sink does (sinks.write_jdbc). On the parquet path
it is about ``defaultParallelism``: k streams per split when splits are
fewer than cores, one per task otherwise; files must be readable at
the same path from every executor, as they are for Spark's own scan.
A single Postgres backend parsing CSV is what bounds one stream (sf0.1
lineitem, 600k rows, one row group, 4-core VM: 1.64 s through one
pipe, 0.82 s through four), and a one-row-group file is one Spark task
— hence the fan-out inside the task rather than a Spark exchange
(``repartition(4)`` measured slower than one stream). The parquet path
also skips the JVM's decode-to-rows and Arrow re-encode for the worker
(1.5–1.9 s for that lineitem, against 0.45 s for pyarrow's read plus
CSV encode): that lineitem load went from 2.3 s to 1.1–1.5 s. The
parquet path covers scans of at most 64 files, the most
``io.parquet_footers`` probes; larger scans take the JVM path, where
Spark's own split count already gives every core a stream. Binary COPY
has no Arrow writer; it would need an encoder for Postgres's per-type
binary layout. The scratch server is a TEST harness, not the scale
path.
"""

from __future__ import annotations

import atexit
import os
import shutil
import subprocess
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from parquet_importer_spark.io import parquet_footers

__all__ = [
    "copy_into_postgres",
    "pg_type",
    "read_back",
    "scratch_server",
    "stop_scratch_server",
]

#: Spark → Postgres DDL type map (the reference delegated this to
#: pandas ``to_sql``; COPY needs the table to exist first)
_PG_TYPES = {
    "long": "bigint",
    "int": "integer",
    "integer": "integer",
    "bigint": "bigint",
    "smallint": "smallint",
    "tinyint": "smallint",
    "double": "double precision",
    "float": "real",
    "string": "text",
    "binary": "bytea",
    "boolean": "boolean",
    "date": "date",
}


def pg_type(dt: T.DataType) -> str:
    """Postgres column type for a Spark type (DDL generation)."""
    if isinstance(dt, T.DecimalType):
        return f"numeric({dt.precision},{dt.scale})"
    if isinstance(dt, T.TimestampType | T.TimestampNTZType):
        return "timestamp"
    s = dt.simpleString()
    if s in _PG_TYPES:
        return _PG_TYPES[s]
    raise ValueError(f"no Postgres mapping for Spark type {s}")


# ---------------------------------------------------------------------------
# scratch server lifecycle


_SCRATCH: dict | None = None


def _psql_base(dsn: dict) -> list[str]:
    return [
        "psql",
        "-h",
        dsn["host"],
        "-p",
        str(dsn["port"]),
        "-U",
        dsn["user"],
        "-d",
        dsn["dbname"],
        "-v",
        "ON_ERROR_STOP=1",
        "-q",
    ]


def _run_psql(dsn: dict, sql: str, timeout: float = 60.0) -> str:
    proc = subprocess.run(
        [*_psql_base(dsn), "-tA", "-c", sql],
        capture_output=True,
        text=True,
        timeout=timeout,
    )
    if proc.returncode != 0:
        raise RuntimeError(f"psql failed: {proc.stderr.strip()[:500]}")
    return proc.stdout


def _as_pg_user(cmd: list[str]) -> list[str]:
    """Postgres refuses to run as root; re-exec via setpriv when needed."""
    if os.geteuid() == 0:
        return [
            "setpriv",
            "--reuid=postgres",
            "--regid=postgres",
            "--init-groups",
            *cmd,
        ]
    return cmd


def scratch_server() -> dict | None:
    """Find-or-start a live Postgres; ``None`` if the environment can't.

    Resolution order: (1) ``PIS_PG_DSN`` (``host=/dir port=N user=u
    dbname=d``) — an externally managed server, never stopped by us;
    (2) a cached scratch cluster from an earlier call; (3) initdb a new
    temp cluster (trust auth, unix socket only — no TCP listener, so
    nothing is exposed) started via setpriv as the ``postgres`` system
    user when running as root. Startup is ~2 s once per process.
    """
    global _SCRATCH  # noqa: PLW0603
    env = os.environ.get("PIS_PG_DSN")
    if env:
        dsn = dict(kv.split("=", 1) for kv in env.split())
        dsn.setdefault("dbname", "postgres")
        dsn["managed"] = False
        return dsn
    if _SCRATCH is not None:
        return _SCRATCH
    for tool in ("initdb", "pg_ctl", "psql"):
        if shutil.which(tool) is None:
            return None
    if os.geteuid() == 0 and shutil.which("setpriv") is None:
        return None
    base = tempfile.mkdtemp(prefix="pis_pg_")
    data = os.path.join(base, "data")
    sock = os.path.join(base, "s")  # keep under the 107-char sockaddr cap
    os.makedirs(sock)
    if os.geteuid() == 0:
        shutil.chown(base, "postgres", "postgres")
        shutil.chown(sock, "postgres", "postgres")
    try:
        subprocess.run(
            _as_pg_user(
                ["initdb", "-D", data, "-U", "pis", "--no-sync", "-A", "trust"]
            ),
            capture_output=True,
            timeout=120,
            check=True,
        )
        subprocess.run(
            _as_pg_user(
                [
                    "pg_ctl",
                    "-D",
                    data,
                    "-o",
                    # durability off for the throwaway cluster only
                    # (externally-managed PIS_PG_DSN servers keep their
                    # own settings): COPY commits were fsync-bound on
                    # the sandbox's virtio disk, and a scratch cluster
                    # that is rm -rf'd at exit has nothing to make
                    # durable (r14 measured: steady-state COPY of the
                    # sf0.1 lineitem 3.0 s -> see OPTIMIZATION_r14.md)
                    f"-p 54329 -k {sock} -c listen_addresses= "
                    "-c fsync=off -c synchronous_commit=off "
                    "-c full_page_writes=off",
                    "-l",
                    os.path.join(base, "pg.log"),
                    "-w",
                    "start",
                ]
            ),
            capture_output=True,
            timeout=60,
            check=True,
            cwd=base,  # setpriv'd pg_ctl can't read a root-owned cwd
        )
    except (subprocess.SubprocessError, OSError):
        shutil.rmtree(base, ignore_errors=True)
        return None
    _SCRATCH = {
        "host": sock,
        "port": 54329,
        "user": "pis",
        "dbname": "postgres",
        "managed": True,
        "base": base,
    }
    atexit.register(stop_scratch_server)
    return _SCRATCH


def stop_scratch_server() -> None:
    """Stop and remove the scratch cluster (no-op for PIS_PG_DSN)."""
    global _SCRATCH  # noqa: PLW0603
    if _SCRATCH is None:
        return
    base = _SCRATCH["base"]
    _SCRATCH = None
    subprocess.run(
        _as_pg_user(
            ["pg_ctl", "-D", os.path.join(base, "data"), "-m", "immediate", "stop"]
        ),
        capture_output=True,
        timeout=30,
        check=False,
        cwd=base,
    )
    shutil.rmtree(base, ignore_errors=True)


# ---------------------------------------------------------------------------
# the distributed COPY sink


def _ddl_for(df: DataFrame, table: str, mode: str) -> list[str]:
    cols = ", ".join(f'"{f.name}" {pg_type(f.dataType)}' for f in df.schema.fields)
    if mode == "replace":
        return [f"DROP TABLE IF EXISTS {table}", f"CREATE TABLE {table} ({cols})"]
    if mode == "append":
        return [f"CREATE TABLE IF NOT EXISTS {table} ({cols})"]
    if mode == "fail":
        return [f"CREATE TABLE {table} ({cols})"]  # errors if it exists
    raise ValueError(f"mode must be fail/replace/append, got {mode!r}")


def _copy_stream(psql_cmd: list[str]):
    """``stream(batches) -> rows``: one ``psql COPY FROM STDIN`` fed Arrow
    batches through Arrow's C++ CSV writer. Raises with psql's stderr
    when the COPY fails, and kills psql if anything (a failed COPY, a
    failed read, an aborted load) leaves it running. Both load paths
    stream through it; the closure is self-contained because executor
    Python workers may not have this package on sys.path."""

    def stream(batches) -> int:
        from pyarrow import csv  # noqa: PLC0415

        proc = subprocess.Popen(
            psql_cmd,
            stdin=subprocess.PIPE,
            stdout=subprocess.DEVNULL,
            stderr=subprocess.PIPE,
        )
        n = 0
        writer = None
        try:
            try:
                for batch in batches:
                    if writer is None:
                        writer = csv.CSVWriter(
                            proc.stdin,
                            batch.schema,
                            write_options=csv.WriteOptions(include_header=False),
                        )
                    writer.write_batch(batch)
                    n += batch.num_rows
                if writer is not None:
                    writer.close()
                proc.stdin.close()
                broken = False
            except BrokenPipeError:  # psql quit early: its stderr says why
                broken = True
            if proc.wait(timeout=600) != 0 or broken:
                err = proc.stderr.read().decode(errors="replace")
                raise RuntimeError(f"COPY failed: {err.strip()[:500]}")
        finally:
            if proc.poll() is None:
                proc.kill()
        return n

    return stream


def _load_frame(df: DataFrame, num_partitions: int | None) -> DataFrame:
    """The frame exactly as the JVM path loads it: bytea rendered as
    Postgres ``\\x`` hex text on the JVM, then the optional repartition."""
    # other columns stay out of the projection: projecting every column
    # added ~0.5 s to a fresh session's first load
    bytea = {
        f.name: F.concat(
            F.lit("\\x"), F.lower(F.hex("`" + f.name.replace("`", "``") + "`"))
        )
        for f in df.schema.fields
        if isinstance(f.dataType, T.BinaryType)
    }
    src = df.withColumns(bytea) if bytea else df
    if num_partitions:
        src = src.repartition(num_partitions)
    return src


def _parquet_splits(src: DataFrame) -> list[tuple[str, int]] | None:
    """The ``(file, row group)`` splits of ``src`` when it is a bare
    parquet scan whose files decode to the very Arrow batches Spark would
    hand the worker; None sends the load down the JVM path.

    Bare: the optimized plan is a ``LogicalRelation`` over an
    unpartitioned parquet ``HadoopFsRelation``, optionally under a
    ``Project`` of plain attributes — so a filter, join, computed column,
    the bytea rendering or a repartition all fail it. Exact: each file's
    footer Arrow schema, restricted to ``src.columns``, has the names and
    types of ``to_arrow_schema(src.schema)`` — so a user schema that
    differs from the file, a Hive partition column or a bytea column
    fails it too. Zoned timestamps always take the JVM path: Spark hands
    the worker the session zone's wall clock, the file holds UTC.
    """
    import pyarrow as pa  # noqa: PLC0415
    from pyspark.sql.pandas.types import to_arrow_schema  # noqa: PLC0415

    plan = src._jdf.queryExecution().optimizedPlan()
    if plan.nodeName() == "Project":
        exprs = plan.projectList()
        if any(
            exprs.apply(i).nodeName() != "AttributeReference"
            for i in range(exprs.size())
        ):
            return None
        plan = plan.child()
    if plan.nodeName() != "LogicalRelation":
        return None
    rel = plan.relation()
    if (
        rel.getClass().getSimpleName() != "HadoopFsRelation"
        or rel.fileFormat().getClass().getSimpleName() != "ParquetFileFormat"
        or not rel.partitionSchema().isEmpty()
    ):
        return None
    want = [(f.name, f.type) for f in to_arrow_schema(src.schema)]
    if any(pa.types.is_timestamp(t) and t.tz is not None for _, t in want):
        return None
    footers = parquet_footers(src)
    if footers is None:
        return None
    splits = []
    for path, md in footers:
        # Spark rebases dates/timestamps of legacy-calendar files on read
        if any(k.startswith(b"org.apache.spark.legacy") for k in md.metadata or {}):
            return None
        have = md.schema.to_arrow_schema()
        idx = [have.get_field_index(name) for name, _ in want]
        if -1 in idx or [(have[i].name, have[i].type) for i in idx] != want:
            return None
        splits += [(path, rg) for rg in range(md.num_row_groups)]
    return splits


#: rows per Arrow batch on the parquet path: the unit the k streams of a
#: split share out, so a task holds about k batches, never a row group
_BATCH_ROWS = 65536


def _split_loader(stream, splits, columns: list[str], k: int):
    """``mapInArrow`` body over ``spark.range(len(splits))``: task i
    decodes ``splits[i]`` with pyarrow and feeds up to ``k`` COPY streams
    from threads, each pulling the next batch from one shared reader.
    The first failed stream fails the task; the others then abort, which
    kills their psql (each stream is its own transaction). Self-contained
    like the stream, for the same reason."""

    def load_split(path: str, rg: int) -> int:
        import threading  # noqa: PLC0415
        from concurrent.futures import (  # noqa: PLC0415
            FIRST_EXCEPTION,
            ThreadPoolExecutor,
            wait,
        )

        import pyarrow.parquet as pq  # noqa: PLC0415

        pf = pq.ParquetFile(path)
        reader = pf.iter_batches(
            batch_size=_BATCH_ROWS, row_groups=[rg], columns=columns
        )
        lock = threading.Lock()
        abort = threading.Event()

        def shared():
            while True:
                with lock:
                    if abort.is_set():
                        raise RuntimeError("aborted: another COPY stream failed")
                    batch = next(reader, None)
                if batch is None:
                    return
                yield batch

        n_batches = -(-pf.metadata.row_group(rg).num_rows // _BATCH_ROWS)
        n_streams = max(1, min(k, n_batches))
        with ThreadPoolExecutor(n_streams) as pool:
            futures = [pool.submit(stream, shared()) for _ in range(n_streams)]
            done, _ = wait(futures, return_when=FIRST_EXCEPTION)
            failed = [f.exception() for f in done if f.exception() is not None]
            if failed:
                abort.set()
                raise failed[0]
        return sum(f.result() for f in futures)

    def load(ids):
        import pyarrow as pa  # noqa: PLC0415

        n = 0
        for batch in ids:
            for i in batch.column(0).to_pylist():
                n += load_split(*splits[i])
        yield pa.RecordBatch.from_pydict({"rows_loaded": pa.array([n], pa.int64())})

    return load


def copy_into_postgres(
    df: DataFrame,
    dsn: dict,
    table: str,
    mode: str = "fail",
    num_partitions: int | None = None,
) -> int:
    """Bulk-load ``df`` into ``table`` via parallel COPY; returns rows loaded.

    The driver runs the DDL (reference mode semantics, app.py:21), then
    loads by one of two paths, chosen by :func:`_parquet_splits` on the
    frame exactly as it would be loaded:

    - **Parquet path** — ``df`` is a bare parquet scan (optionally a
      column projection) whose file schema is exactly what Spark would
      hand the worker. Each (file, row group) split is one Spark task
      that decodes it with pyarrow, as the reference's ``iter_batches``
      does, and feeds ``k = max(1, defaultParallelism // n_splits)``
      ``psql`` COPY streams from threads (capped at the split's batch
      count). No JVM decode, no Arrow hand-off to the worker.
    - **JVM path** — anything else (filters, joins, computed or bytea
      columns, zoned timestamps, a ``num_partitions`` repartition):
      each partition streams the Arrow batches Spark hands it into its
      own ``psql`` COPY, so the load parallelism is the partition count,
      exactly the ``numPartitions`` knob of the JDBC sink
      (sinks.write_jdbc). The JVM renders binary columns as Postgres
      ``\\x`` bytea hex literals before the Python boundary.

    Both paths write through Arrow's C++ CSV writer, no pandas and no
    per-row Python. The CSV contract (pinned by
    ``test_arrow_csv_contract``): every string value is quoted, so
    ``""`` stays empty text and ``\\N`` stays text; NULL is an unquoted
    empty field, Postgres's CSV default; int64 is written exactly;
    NaN/±inf are ``nan``/``inf``/``-inf``, which ``float8in`` reads back
    as NaN/±Infinity. Timestamps arrive tagged with the session time
    zone and are written as its wall clock plus an offset, which
    Postgres ``timestamp`` drops.

    Transactions: each COPY stream is its own transaction, on either
    path. A failed load raises with the failing stream's psql stderr,
    but rows that other streams already committed stay in the table.
    """
    for stmt in _ddl_for(df, table, mode):
        _run_psql(dsn, stmt)

    col_list = ", ".join(f'"{f.name}"' for f in df.schema.fields)
    copy_sql = f"COPY {table} ({col_list}) FROM STDIN WITH (FORMAT csv)"
    stream = _copy_stream([*_psql_base(dsn), "-c", copy_sql])

    src = _load_frame(df, num_partitions)
    splits = _parquet_splits(src)
    if splits is None:

        def load_partition(batches):
            import pyarrow as pa  # noqa: PLC0415

            n = stream(batches)
            yield pa.RecordBatch.from_pydict(
                {"rows_loaded": pa.array([n], pa.int64())}
            )

        audit = src.mapInArrow(load_partition, schema="rows_loaded long")
    elif not splits:
        return 0
    else:
        spark = src.sparkSession
        k = max(1, spark.sparkContext.defaultParallelism // len(splits))
        audit = spark.range(0, len(splits), 1, len(splits)).mapInArrow(
            _split_loader(stream, splits, src.columns, k),
            schema="rows_loaded long",
        )
    # the aggregate is the ACTION that runs the load — and its result is
    # the executor-side audit total the caller cross-checks in-database
    total = audit.groupBy().sum("rows_loaded").first()[0]
    return int(total or 0)


def read_back(
    spark: SparkSession, dsn: dict, query: str, schema: str
) -> DataFrame:
    """Run ``query`` in Postgres, return the (small) result as a DataFrame.

    Driver-side ``COPY (query) TO STDOUT`` — for verification-sized
    results only; a corpus-sized readback belongs to a parallel scan.
    ``schema`` is a Spark DDL string; values are cast from the CSV text
    through that schema so decimals stay exact.
    """
    import csv  # noqa: PLC0415
    import io  # noqa: PLC0415

    out = _run_psql(
        dsn, f"COPY ({query}) TO STDOUT WITH (FORMAT csv, NULL '\\N')"
    )
    target = T.StructType.fromDDL(schema)
    rows = []
    for rec in csv.reader(io.StringIO(out)):
        vals = []
        for raw, field in zip(rec, target.fields, strict=True):
            if raw == "\\N":
                vals.append(None)
                continue
            dt = field.dataType
            if isinstance(dt, T.DecimalType):
                from decimal import Decimal  # noqa: PLC0415

                vals.append(Decimal(raw))
            elif isinstance(dt, T.LongType | T.IntegerType):
                vals.append(int(raw))
            elif isinstance(dt, T.DoubleType | T.FloatType):
                vals.append(float(raw))
            elif isinstance(dt, T.BooleanType):
                vals.append(raw == "t")
            else:
                vals.append(raw)
        rows.append(tuple(vals))
    return spark.createDataFrame(rows, target)
