"""The workloads: their operations, and the checks on their outputs.

An operation (op) is one query build plus its noop-sink action, or one
table load into Postgres.  Ops run closed loop from one client; the
run's seed permutes their order within each pass.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import sys
from contextlib import contextmanager
from dataclasses import dataclass, field
from datetime import datetime

import numpy as np

#: build-heavy ops: the nearest-center family (semdedup, IVF, PQ) and
#: the iterative graph loops (pagerank, k-core, keep-best clustering)
LLM = (
    "llm_semdedup",
    "llm_sim_ivf",
    "llm_sim_pq",
    "graph_pagerank",
    "graph_kcore",
    "llm_dedup_keep_best",
)

#: tables loaded into Postgres, narrow numeric to string-heavy
INGEST_TABLES = ("lineitem", "orders", "events", "documents")
#: the table that also gets one ``append`` load after its ``replace``
APPEND_TABLE = "orders"

WORKLOADS = ("ingest_pg", "llm_pipeline")

#: the tables each workload reads; set-up scans them once
TABLES = {
    "ingest_pg": INGEST_TABLES,
    "llm_pipeline": ("documents", "embeddings"),
}


def input_dirs() -> tuple[str, str]:
    """The engine's read-only test tables: sf0.1 for the timed passes and
    sf0.01 for the warm-up pass, beside the package's default table set."""
    from parquet_importer_spark.io import DEFAULT_SF_DIR

    root = os.path.dirname(os.path.normpath(DEFAULT_SF_DIR))
    return os.path.join(root, "sf0.1"), os.path.join(root, "sf0.01")


def fingerprint(sf_dir: str) -> dict[str, dict[str, int]]:
    """Rows and bytes per table, read from the parquet footers."""
    import pyarrow.parquet as pq

    from parquet_importer_spark.io import TABLES, table_path

    out = {}
    for name in TABLES:
        path = table_path(sf_dir, name)
        out[name] = {
            "rows": pq.ParquetFile(path).metadata.num_rows,
            "bytes": os.path.getsize(path),
        }
    return out


def pg_table(table: str) -> str:
    return f"perfbench_{table}"


@dataclass
class Op:
    name: str
    key: str  # registry key, or the table to load
    mode: str = ""  # "replace" / "append" for loads


def ops_for(workload: str) -> list[Op]:
    if workload == "ingest_pg":
        ops = [Op(f"copy:{t}:replace", t, "replace") for t in INGEST_TABLES]
        return ops + [Op(f"copy:{APPEND_TABLE}:append", APPEND_TABLE, "append")]
    if workload == "llm_pipeline":
        return [Op(k, k) for k in LLM]
    raise ValueError(f"unknown workload {workload!r}")


def pass_order(ops: list[Op], rng: np.random.Generator) -> list[Op]:
    """A seeded permutation; an ``append`` load stays after the loads."""
    loads = [o for o in ops if o.mode != "append"]
    tail = [o for o in ops if o.mode == "append"]
    return [loads[i] for i in rng.permutation(len(loads))] + tail


# ---------------------------------------------------------------------------
# source-table recording and io spans


@contextmanager
def wrapped_read_table(hook):
    """Route every ``read_table`` call through ``hook(orig, *args)``.

    The suite modules import ``read_table`` by name, so each module
    attribute that holds the original function is swapped while the
    context is open.
    """
    import parquet_importer_spark.io as io_mod

    orig = io_mod.read_table

    def read_table(*args, **kwargs):
        return hook(orig, *args, **kwargs)

    patched = [
        mod
        for name, mod in list(sys.modules.items())
        if name.startswith("parquet_importer_spark")
        and getattr(mod, "read_table", None) is orig
    ]
    for mod in patched:
        mod.read_table = read_table
    try:
        yield
    finally:
        for mod in patched:
            mod.read_table = orig


# ---------------------------------------------------------------------------
# output checks


def _canon_cell(v) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "\x00NULL"
    if isinstance(v, float):
        return repr(float(v))
    if isinstance(v, datetime):
        import pandas as pd

        return pd.Timestamp(v).isoformat()
    if isinstance(v, np.ndarray):
        v = v.tolist()
    if isinstance(v, list | tuple):
        return "[" + ",".join(_canon_cell(x) for x in v) + "]"
    if isinstance(v, bytes | bytearray):
        return v.hex()
    return str(v)


def canonical(pdf) -> dict:
    """Column names and the sorted rows, every cell as a string."""
    cols = sorted(pdf.columns)
    rows = sorted(
        [_canon_cell(v) for v in row] for row in pdf[cols].itertuples(index=False)
    )
    return {"columns": cols, "rows": rows}


def mismatch(got: dict, want: dict) -> str | None:
    """Why two canonical results differ, or ``None`` when they agree."""
    if got["columns"] != want["columns"]:
        return f"columns {got['columns']} != {want['columns']}"
    if len(got["rows"]) != len(want["rows"]):
        return f"row count {len(got['rows'])} != {len(want['rows'])}"
    for a, b in zip(got["rows"], want["rows"], strict=True):
        if a != b:
            return f"first differing row {a} != {b}"
    return None


@dataclass
class Oracle:
    """DuckDB over the same parquet files, with answers cached on disk."""

    sf_dir: str
    cache_dir: str
    _con: object = field(default=None, repr=False)

    def expected(self, sql: str) -> dict:
        digest = hashlib.sha256(f"{self.sf_dir}\n{sql}".encode()).hexdigest()[:24]
        path = os.path.join(self.cache_dir, f"{digest}.json")
        if os.path.exists(path):
            with open(path) as fh:
                return json.load(fh)
        res = canonical(self.con().execute(sql).df())
        os.makedirs(self.cache_dir, exist_ok=True)
        with open(path + ".tmp", "w") as fh:
            json.dump(res, fh)
        os.replace(path + ".tmp", path)
        return res

    def con(self):
        if self._con is None:
            import duckdb

            from parquet_importer_spark.io import TABLES, table_path

            self._con = duckdb.connect()
            for t in TABLES:
                self._con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{table_path(self.sf_dir, t)}')"
                )
        return self._con

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None


def check_query(key: str, pdf, oracles: dict[str, str], oracle: Oracle) -> str | None:
    """Oracle comparison for keys that have one, else a non-empty check."""
    if key in oracles:
        return mismatch(canonical(pdf), oracle.expected(oracles[key]))
    return None if len(pdf) else "empty result"


def _column_sums(schema) -> list[tuple[str, str]]:
    """(Postgres, DuckDB) expression pairs that pin every column's content.

    The test tables' doubles carry at most two decimals, so their sums are
    exact as numeric(20,2); strings are pinned by total length and
    timestamps by the sum of their epoch microseconds.
    """
    import pyarrow as pa

    out = []
    for f in schema:
        c = f'"{f.name}"'
        if pa.types.is_integer(f.type):
            out.append((f"SUM({c})", f"SUM({c})"))
        elif pa.types.is_floating(f.type):
            out.append(
                (f"SUM({c}::numeric(20,2))", f"SUM(CAST({c} AS DECIMAL(20,2)))")
            )
        elif pa.types.is_string(f.type):
            out.append((f"SUM(length({c}))", f"SUM(length({c}))"))
        elif pa.types.is_timestamp(f.type):
            out.append(
                (
                    f"SUM((EXTRACT(EPOCH FROM {c}) * 1000000)::numeric)",
                    f"SUM(epoch_us({c}))",
                )
            )
        else:
            raise ValueError(f"no content check for {f.name}: {f.type}")
    return out


def check_loaded_table(spark, dsn, sf_dir: str, table: str, copies: int, oracle: Oracle, read_back):
    """Postgres row count and column sums against DuckDB on the source.

    Returns ``(error or None, stored relation bytes)``.
    """
    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, f"{table}.parquet")
    pairs = _column_sums(pq.read_schema(path))
    pg_cols = ["COUNT(*)", *[p for p, _ in pairs]]
    dk_cols = ["COUNT(*)", *[d for _, d in pairs]]
    pg_sql = (
        "SELECT "
        + ", ".join(f"({e})::numeric(38,2)" for e in pg_cols)
        + f", pg_total_relation_size('{pg_table(table)}') FROM {pg_table(table)}"
    )
    schema = ", ".join(f"c{i} decimal(38,2)" for i in range(len(pg_cols)))
    got = read_back(spark, dsn, pg_sql, schema + ", stored long").collect()[0]
    dk_sql = (
        "SELECT "
        + ", ".join(f"CAST({e} AS DECIMAL(38,2))" for e in dk_cols)
        + f" FROM read_parquet('{path}')"
    )
    want = [v * copies for v in oracle.con().execute(dk_sql).fetchone()]
    for i, (g, w) in enumerate(zip(got[:-1], want, strict=True)):
        if g != w:
            what = "row count" if i == 0 else f"column check {pg_cols[i]}"
            return f"{table}: {what} {g} != {w}", got[-1]
    return None, got[-1]
