"""Postgres COPY-protocol bulk sink + scratch-server harness.

The reference's entire mission is parquet → Postgres import
(app.py:88-193): a pandas ``to_sql`` loop pushing 50k-row chunks
through ONE connection. The production-scale analog is the COPY
protocol — each Spark partition opens its own COPY stream, so load
parallelism equals ``numPartitions`` and COPY's bulk text framing
beats batched INSERTs by roughly an order of magnitude on a real
warehouse. This image ships no Postgres JDBC jar and no Python pg
client, but it does ship the full server (initdb/pg_ctl/postgres 15)
and the ``psql`` CLI — and ``psql``'s ``COPY FROM STDIN`` over a unix
socket IS the COPY protocol, so the executor-side loader shells one
``psql`` per partition and streams its Arrow batches through it as
CSV, encoded by Arrow's C++ writer.

Pieces:

- :func:`scratch_server` — find-or-start a throwaway Postgres: honors
  ``PIS_PG_DSN`` when the environment provides a real server, else
  initdb's a temp cluster (socket-only, trust auth, no TCP) and
  registers an atexit stop. Returns ``None`` when neither is possible
  (no binaries / no way to drop root), so callers degrade gracefully.
- :func:`copy_into_postgres` — the distributed sink: driver-side DDL
  with the reference's fail/replace/append semantics (app.py:21 →
  sinks.IF_EXISTS_TO_SAVEMODE mirrors the same map for JDBC), then
  ``mapInArrow`` partitions each streaming CSV into its own psql
  ``COPY FROM STDIN``; the returned per-partition row counts are the
  action that drives the load AND the load audit.
- :func:`read_back` — driver-side ``COPY (query) TO STDOUT`` for
  verification-sized results only (row counts, aggregates, spot rows);
  corpus-sized readback belongs to a parallel JDBC/FDW scan, not this.

Scale notes (100 TB): the DSN on a cluster points at the warehouse
over TCP and every executor holds a COPY stream — bound connection
count with ``df.repartition(n)`` exactly as the JDBC sink does
(sinks.write_jdbc). The text encode is Arrow's C++ CSV writer fed
straight from the Arrow batches Spark hands the Python worker, so it
costs next to nothing: sf0.1 lineitem (600k rows, one stream, 4-core
VM) runs ``mapInArrow`` + encode to /dev/null in 1.4–1.6 s against
1.5 s for a bare passthrough, where the whole pandas ``to_csv`` load
took 5.1–6.4 s. Postgres parsing that CSV (1.5–1.9 s through psql
from a file) is now what bounds one stream. Binary COPY has no Arrow
writer; it would need an encoder for Postgres's per-type binary
layout. The scratch server is a TEST harness, not the scale path.
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


def copy_into_postgres(
    df: DataFrame,
    dsn: dict,
    table: str,
    mode: str = "fail",
    num_partitions: int | None = None,
) -> int:
    """Bulk-load ``df`` into ``table`` via parallel COPY; returns rows loaded.

    Driver runs the DDL (reference mode semantics, app.py:21); then each
    partition streams its Arrow batches through Arrow's C++ CSV writer
    straight into its own ``psql COPY FROM STDIN`` — the load
    parallelism is the partition count, exactly the ``numPartitions``
    knob of the JDBC sink (sinks.write_jdbc). No pandas conversion and
    no per-row Python: the JVM renders binary columns as Postgres
    ``\\x`` bytea hex literals before the Python boundary, and the
    writer does the rest.

    The CSV contract (pinned by ``test_arrow_csv_contract``): every
    string value is quoted, so ``""`` stays empty text and ``\\N`` stays
    text; NULL is an unquoted empty field, Postgres's CSV default;
    int64 is written exactly; NaN/±inf are ``nan``/``inf``/``-inf``,
    which ``float8in`` reads back as NaN/±Infinity. Timestamps arrive
    tagged with the session time zone and are written as its wall clock
    plus an offset, which Postgres ``timestamp`` drops.
    """
    for stmt in _ddl_for(df, table, mode):
        _run_psql(dsn, stmt)

    col_list = ", ".join(f'"{f.name}"' for f in df.schema.fields)
    copy_sql = f"COPY {table} ({col_list}) FROM STDIN WITH (FORMAT csv)"
    psql_cmd = [*_psql_base(dsn), "-c", copy_sql]

    def load_partition(batches):
        import pyarrow as pa  # noqa: PLC0415
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
            if proc.wait(timeout=600) != 0:
                err = proc.stderr.read().decode(errors="replace")
                raise RuntimeError(f"COPY failed: {err.strip()[:500]}")
        finally:
            if proc.poll() is None:
                proc.kill()
        yield pa.RecordBatch.from_pydict(
            {"rows_loaded": pa.array([n], pa.int64())}
        )

    # bytea as Postgres ``\\x`` hex text, rendered on the JVM before the
    # Python boundary. Other columns stay out of the projection:
    # projecting every column added ~0.5 s to a fresh session's first load
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
    audit = src.mapInArrow(load_partition, schema="rows_loaded long")
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
