"""The one rule for "equal to the DuckDB oracle", shared by the tests and
``tools/oracle.py``.

A Spark result and its oracle result (both as pandas frames) are equal
when they have the same column names, the same row count, the same
order-insensitive canonical rows, and the same driver hash. Floats
compare by ``repr``, so they must match exactly; every floating
aggregate is decimal-exact by construction (``registry.exact_sum``).

Two row encodings live here:
- ``canonical_rows`` is the strict rule. NULL, NaN and the string
  ``'None'`` stay distinct wherever pandas keeps them distinct (object
  and list cells), and numpy arrays read as lists.
- ``vhash`` mirrors the external driver's hash byte for byte. It is the
  gate's reference implementation, so it stays even though it accepts
  NULL against ``'None'``.
"""

from __future__ import annotations

import hashlib
import os
import re
from datetime import datetime

import numpy as np
import pandas as pd

#: The views the driver registers in DuckDB before it runs oracle SQL.
ORACLE_TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)

#: The driver's oracle scale factor.
GATE_SF = 0.01

#: Oracles whose SQL reads the sf0.01 tables by design (suite/scans.py),
#: so they only equal the Spark side at that scale factor.
SF_PINNED = {
    "scan_rowgroup_stats": (
        "oracle reads the sf0.01 footers with parquet_metadata() "
        "by documented design (suite/scans.py)"
    ),
}

#: Oracles whose SQL grows with the candidate-pair count (9x at a 3x
#: replica fixture). On a replica fixture of sf1 or more, DuckDB spills
#: past the local disk on them, so a run over every key skips them there.
#: Their over-gate coverage is sf0.1 plus the 3x pair-pressure fixture
#: sf03. Naming a key runs it anyway.
QUADRATIC = frozenset(
    """graph_assortativity graph_bfs_distance graph_kcore
    graph_link_prediction graph_lpa_communities graph_pagerank
    graph_triangle_count llm_chunk_overlap llm_cluster_kmeans_exact
    llm_contamination_near llm_contamination_ngram llm_decontam_substring
    llm_dedup_affine llm_dedup_bottomk llm_dedup_cc_bigstar
    llm_dedup_clusters llm_dedup_containment llm_dedup_editdist
    llm_dedup_embedding llm_dedup_embedding_capped llm_dedup_jaccard
    llm_dedup_keep_best llm_dedup_minhash_mllib llm_dedup_near
    llm_dedup_prefix_filter llm_dedup_simhash llm_dedup_weights
    llm_pipeline_e2e llm_semdedup llm_semdedup_adaptive llm_sim_ivf
    llm_sim_ivf_kmeans llm_sim_pairs_lsh llm_sim_pairs_lsh_capped
    llm_sim_pq""".split()
)

_NULL = "\x00NULL"


def _canon_cell(v) -> str:
    if v is None:
        return _NULL
    if isinstance(v, float):
        # repr of the double, so NaN reads 'nan', never NULL
        return repr(v)
    if isinstance(v, (pd.Timestamp, datetime)):
        return pd.Timestamp(v).isoformat()
    if isinstance(v, np.ndarray):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon_cell(x) for x in v) + "]"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def canonical_rows(df: pd.DataFrame) -> list[tuple]:
    """The rows of ``df`` under the strict cell rule, columns in name
    order, rows sorted."""
    cols = sorted(df.columns)
    return sorted(
        tuple(_canon_cell(v) for v in row)
        for row in df[cols].itertuples(index=False)
    )


def vhash(pdf: pd.DataFrame) -> str:
    """The external driver's order-insensitive value hash."""
    cols = sorted(pdf.columns)
    rows = sorted(
        tuple(repr(v) if isinstance(v, float) else str(v) for v in r)
        for r in pdf[cols].itertuples(index=False)
    )
    return hashlib.sha256(str(rows).encode()).hexdigest()[:12]


def digest(df: pd.DataFrame) -> tuple[int, str]:
    """Row count and a SHA-256 over the column names and strict canonical
    rows: equal digests mean equal results under ``compare``'s rule."""
    cols = sorted(df.columns)
    h = hashlib.sha256(repr((cols, canonical_rows(df))).encode()).hexdigest()
    return len(df), h


def compare(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame, name: str = "") -> None:
    """Raise ``AssertionError`` unless the two results are equal: column
    names, row count, strict canonical rows and driver hash."""
    s_cols, o_cols = sorted(spark_pdf.columns), sorted(oracle_pdf.columns)
    if s_cols != o_cols:
        raise AssertionError(f"{name}: column mismatch spark={s_cols} oracle={o_cols}")
    if len(spark_pdf) != len(oracle_pdf):
        raise AssertionError(
            f"{name}: row count mismatch spark={len(spark_pdf)} oracle={len(oracle_pdf)}"
        )
    s_rows, o_rows = canonical_rows(spark_pdf), canonical_rows(oracle_pdf)
    if s_rows != o_rows:
        diffs = [
            (i, a, b) for i, (a, b) in enumerate(zip(s_rows, o_rows)) if a != b
        ][:5]
        raise AssertionError(f"{name}: value mismatch, first diffs: {diffs}")
    s_hash, o_hash = vhash(spark_pdf), vhash(oracle_pdf)
    if s_hash != o_hash:
        raise AssertionError(f"{name}: driver hash mismatch spark={s_hash} oracle={o_hash}")


def oracle_skips(sf_dir: str, keys, named: bool = False) -> dict[str, str]:
    """``{key: reason}`` for the oracle ``keys`` that must not run at
    ``sf_dir``.

    The scale factor is parsed from the directory name (``sf0.015`` is
    not the gate, a relative ``sf0.01`` is). ``named`` means the caller
    asked for these keys by name, which overrides the quadratic skip."""
    label = os.path.basename(sf_dir.rstrip("/"))
    m = re.fullmatch(r"sf(\d+(?:\.\d+)?)", label)
    sf = float(m.group(1)) if m else None
    skips = {}
    if sf != GATE_SF:
        skips.update((k, why) for k, why in SF_PINNED.items() if k in keys)
    # sf03 is the 3x pair-pressure fixture, not a >= sf1 replica
    if not named and sf is not None and sf >= 1 and label != "sf03":
        skips.update(
            (k, f"replica-quadratic oracle at {label}: candidate-pair SQL "
                "spills DuckDB past local disk; over-gate coverage is sf0.1 "
                "and the sf03 pair-pressure fixture")
            for k in sorted(QUADRATIC)
            if k in keys
        )
    return skips


def duckdb_views(sf_dir: str):
    """A DuckDB connection with the driver's views over ``sf_dir``."""
    import duckdb

    con = duckdb.connect()
    for t in ORACLE_TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def run_pair(spark, duckdb_con, sf_dir: str, name: str):
    from parquet_importer_spark.registry import ORACLES, QUERIES

    sdf = QUERIES[name](spark, sf_dir)
    spark_pdf = sdf.toPandas()
    oracle_pdf = duckdb_con.execute(ORACLES[name]).df()
    compare(spark_pdf, oracle_pdf, name)
    return spark_pdf
