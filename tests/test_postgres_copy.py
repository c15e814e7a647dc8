"""Live Postgres COPY-sink integration (sources/postgres_copy).

Unlike test_postgis_live.py (which needs an externally provided
PostGIS server and skips here), these tests run LIVE in this image:
the harness initdb's a scratch Postgres 15 cluster (socket-only,
trust) once per session and tears it down at exit. Covered: the three
reference write modes, full-content round-trip fidelity, per-type CSV
↔ Postgres encoding (nulls, decimals, timestamps, dates, booleans,
bytea, ``\\N`` and empty text, NaN/±inf, int64 beyond 2^53), empty
input, the server's error surfacing, and parallel multi-partition COPY
streams. ``test_arrow_csv_contract`` needs neither Spark nor Postgres:
it pins the pyarrow CSV rendering the sink's COPY options rely on.
"""

from __future__ import annotations

import datetime
import io
import re
from decimal import Decimal

import pyarrow as pa
import pytest
from pyarrow import csv as pa_csv
from pyspark.sql import functions as F

from parquet_importer_spark.io import read_table
from parquet_importer_spark.sources.postgres_copy import (
    _run_psql,
    copy_into_postgres,
    read_back,
    scratch_server,
)


@pytest.fixture(scope="module")
def dsn():
    d = scratch_server()
    if d is None:
        pytest.skip("no startable Postgres in this environment")
    return d


def _count(dsn, table: str) -> int:
    return int(_run_psql(dsn, f"SELECT COUNT(*) FROM {table}").strip())


def test_modes_fail_replace_append(spark, dsn, sf_dir):
    n = read_table(spark, sf_dir, "nation")
    total = copy_into_postgres(n, dsn, "t_modes", mode="replace")
    assert total == n.count() == _count(dsn, "t_modes")
    copy_into_postgres(n, dsn, "t_modes", mode="append")
    assert _count(dsn, "t_modes") == 2 * total
    with pytest.raises(RuntimeError, match="already exists"):
        copy_into_postgres(n, dsn, "t_modes", mode="fail")
    copy_into_postgres(n, dsn, "t_modes", mode="replace")
    assert _count(dsn, "t_modes") == total
    _run_psql(dsn, "DROP TABLE t_modes")


def test_full_content_roundtrip(spark, dsn, sf_dir):
    n = read_table(spark, sf_dir, "nation")
    copy_into_postgres(n, dsn, "t_content", mode="replace", num_partitions=4)
    cols = ", ".join(f'"{c}"' for c in n.columns)
    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in n.schema.fields
    )
    back = read_back(
        spark, dsn, f"SELECT {cols} FROM t_content ORDER BY 1", schema
    )
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, n.collect())
    )
    _run_psql(dsn, "DROP TABLE t_content")


def test_type_fidelity_with_nulls(spark, dsn):
    rows = [
        (
            1,
            "plain",
            Decimal("12.34"),
            datetime.datetime(2024, 2, 29, 23, 59, 59),
            datetime.date(1999, 12, 31),
            True,
            b"\x00\x01\xff",
            2.5,
        ),
        (
            2,
            'quote " comma , newline\nback \\ slash',
            None,
            None,
            None,
            False,
            None,
            None,
        ),
        (3, None, Decimal("-0.01"), None, None, None, b"", 1e-300),
    ]
    schema = (
        "id long, s string, d decimal(10,2), ts timestamp, dt date, "
        "b boolean, raw binary, f double"
    )
    df = spark.createDataFrame(rows, schema)
    copy_into_postgres(df, dsn, "t_types", mode="replace")
    back = read_back(
        spark,
        dsn,
        "SELECT id, s, d, ts, dt, b, encode(raw, 'hex'), f "
        "FROM t_types ORDER BY id",
        "id long, s string, d decimal(10,2), ts string, dt string, "
        "b boolean, raw_hex string, f double",
    ).collect()
    assert [r["s"] for r in back] == [
        "plain",
        'quote " comma , newline\nback \\ slash',
        None,
    ]
    assert [r["d"] for r in back] == [
        Decimal("12.34"),
        None,
        Decimal("-0.01"),
    ]
    assert back[0]["ts"] == "2024-02-29 23:59:59"
    assert back[0]["dt"] == "1999-12-31"
    assert [r["b"] for r in back] == [True, False, None]
    assert [r["raw_hex"] for r in back] == ["0001ff", None, ""]
    assert back[0]["f"] == 2.5 and back[2]["f"] == 1e-300
    _run_psql(dsn, "DROP TABLE t_types")


def test_parallel_partitions_load_once_each(spark, dsn, sf_dir):
    """8 concurrent COPY streams must neither lose nor duplicate rows."""
    o = read_table(spark, sf_dir, "orders")
    total = copy_into_postgres(o, dsn, "t_par", mode="replace", num_partitions=8)
    assert total == o.count()
    db = read_back(
        spark,
        dsn,
        "SELECT COUNT(*), COUNT(DISTINCT o_orderkey) FROM t_par",
        "n long, keys long",
    ).first()
    assert db["n"] == total
    assert db["keys"] == o.select("o_orderkey").distinct().count()
    _run_psql(dsn, "DROP TABLE t_par")


def test_arrow_csv_contract():
    """The rendering ``COPY … WITH (FORMAT csv)`` relies on: strings are
    always quoted (so ``""`` is empty text, not NULL), NULL is an
    unquoted empty field, int64 stays exact, NaN/±inf are ``nan``/
    ``inf``/``-inf``, timestamps are ISO text and a zoned timestamp is
    its wall clock in that zone plus the offset."""
    table = pa.table(
        {
            "s": pa.array(["", None, "\\N", 'a"b'], pa.string()),
            "i": pa.array([2**53 + 1, None, -1, 0], pa.int64()),
            "f": pa.array([float("nan"), float("inf"), float("-inf"), None]),
            "ts": pa.array(
                [datetime.datetime(2024, 2, 29, 23, 59, 59, 123456), None]
                + [datetime.datetime(1, 1, 1)] * 2,
                pa.timestamp("us"),
            ),
        }
    )
    buf = io.BytesIO()
    pa_csv.write_csv(
        table, buf, write_options=pa_csv.WriteOptions(include_header=False)
    )
    assert buf.getvalue().decode().splitlines() == [
        '"",9007199254740993,nan,2024-02-29 23:59:59.123456',
        ",,inf,",
        '"\\N",-1,-inf,0001-01-01 00:00:00.000000',
        '"a""b",0,,0001-01-01 00:00:00.000000',
    ]
    zoned = pa.table(
        {
            "t": pa.array(
                [datetime.datetime(2024, 3, 10, 6, 30)],  # UTC instant
                pa.timestamp("us", tz="America/New_York"),
            )
        }
    )
    buf = io.BytesIO()
    pa_csv.write_csv(
        zoned, buf, write_options=pa_csv.WriteOptions(include_header=False)
    )
    assert buf.getvalue() == b"2024-03-10 01:30:00.000000-0500\n"


def test_backslash_n_text_is_not_null(spark, dsn):
    df = spark.createDataFrame(
        [(1, "\\N"), (2, ""), (3, None)], "id long, s string"
    )
    copy_into_postgres(df, dsn, "t_bsn", mode="replace")
    back = read_back(
        spark,
        dsn,
        "SELECT id, s IS NULL, s = E'\\\\N', s = '' FROM t_bsn ORDER BY id",
        "id long, is_null boolean, is_bsn boolean, is_empty boolean",
    ).collect()
    assert [tuple(r) for r in back] == [
        (1, False, True, False),
        (2, False, False, True),
        (3, True, None, None),
    ]
    _run_psql(dsn, "DROP TABLE t_bsn")


def test_nan_and_infinity_doubles_survive(spark, dsn):
    df = spark.createDataFrame(
        [(1, float("nan")), (2, float("inf")), (3, float("-inf")), (4, None)],
        "id long, f double",
    )
    copy_into_postgres(df, dsn, "t_nan", mode="replace")
    back = read_back(
        spark,
        dsn,
        "SELECT id, f::text FROM t_nan ORDER BY id",
        "id long, f string",
    ).collect()
    assert [r["f"] for r in back] == ["NaN", "Infinity", "-Infinity", None]
    _run_psql(dsn, "DROP TABLE t_nan")


def test_nullable_bigint_beyond_2_53_is_exact(spark, dsn):
    big = 2**53 + 1  # not representable as float64
    # both in one batch: the NULL must not widen the column to float64
    df = spark.createDataFrame([(1, big), (2, None)], "id long, v long")
    df = df.coalesce(1)
    copy_into_postgres(df, dsn, "t_big", mode="replace")
    back = read_back(
        spark,
        dsn,
        "SELECT id, v::text FROM t_big ORDER BY id",
        "id long, v string",
    ).collect()
    assert [r["v"] for r in back] == [str(big), None]
    _run_psql(dsn, "DROP TABLE t_big")


@pytest.mark.parametrize("shape", ["no_partitions", "empty_partitions"])
def test_empty_input_creates_empty_table(spark, dsn, shape):
    schema = "id long, s string, raw binary"
    if shape == "no_partitions":
        df = spark.createDataFrame([], schema)
    else:
        df = (
            spark.range(10)
            .select(
                "id",
                F.col("id").cast("string").alias("s"),
                F.col("id").cast("string").cast("binary").alias("raw"),
            )
            .filter(F.col("id") < 0)
            .repartition(3)
        )
    assert copy_into_postgres(df, dsn, "t_empty", mode="replace") == 0
    assert _count(dsn, "t_empty") == 0
    _run_psql(dsn, "DROP TABLE t_empty")


def test_copy_error_surfaces_server_message(spark, dsn):
    _run_psql(dsn, "CREATE TABLE t_bad (id bigint)")
    # one stream is one transaction: the good row before "x" rolls back
    df = spark.createDataFrame([("1",), ("x",)], "id string").coalesce(1)
    with pytest.raises(Exception, match="invalid input syntax for type bigint"):
        copy_into_postgres(df, dsn, "t_bad", mode="append")
    assert _count(dsn, "t_bad") == 0
    _run_psql(dsn, "DROP TABLE t_bad")


def test_sink_postgis_stage_loads_every_octet(spark, dsn, sf_dir):
    """The registry's PostGIS staging key records the in-database row
    count and bytea octet total beside its Spark-side expectation."""
    from parquet_importer_spark.suite import QUERIES  # noqa: PLC0415

    rows = {
        r["step"]: r["detail"]
        for r in QUERIES["sink_postgis"](spark, sf_dir).collect()
    }
    for step in ("live:rows_in_db", "live:octets"):
        got, want = re.fullmatch(r"(\d+) \(expected (\d+)\)", rows[step]).groups()
        assert got == want != "0", (step, rows[step])


def test_timestamp_is_session_wall_clock(spark, dsn):
    """Postgres ``timestamp`` has no zone: the loaded value is the wall
    clock of the Spark session's time zone, not the UTC instant (Arrow
    writes the zoned value with its offset, which Postgres drops)."""
    tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        df = spark.createDataFrame([(1,)], "id long").selectExpr(
            "id",
            "timestamp'2024-03-10 01:30:00' AS ts",
            "timestamp_ntz'2024-03-10 01:30:00' AS ntz",
        )
        copy_into_postgres(df, dsn, "t_tz", mode="replace")
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)
    got = _run_psql(dsn, "SELECT ts::text || '|' || ntz::text FROM t_tz")
    assert got.strip() == "2024-03-10 01:30:00|2024-03-10 01:30:00"
    _run_psql(dsn, "DROP TABLE t_tz")
