"""Round-10 correctness fixes from the round-9 ADVICE.

1. llm_char_entropy's run regex carries (?s): Java \\s is ASCII-only,
   so U+0085 / U+2028 / U+2029 survive the whitespace strip, and a
   bare ``.`` excludes exactly the five line-terminator code points —
   their runs silently vanished from counts/n_distinct_chars/entropy
   while the DuckDB oracle's per-character enumeration kept counting
   them. ASCII corpora (all driver SFs) are bit-identical either way;
   these tests pin the non-ASCII case BOTH semantically (hand-computed
   entropy) and against the oracle (tests/parity.py's compare).
"""

from __future__ import annotations

import math
import os

import duckdb
import pandas as pd

from tests.parity import compare


def _write(tmp_path, name, pdf):
    path = os.path.join(str(tmp_path), f"{name}.parquet")
    pdf.to_parquet(path, index=False)
    return str(tmp_path)


def test_char_entropy_counts_unicode_line_separators(spark, tmp_path):
    """U+2028 (LINE SEPARATOR) and U+0085 (NEL) survive the ASCII \\s+
    strip and must be counted like any other character: doc 1 is
    "aa<U+2028><U+2028>b" → n=5, 3 distinct classes, entropy
    -(2ln(2/5)·2 + 1ln(1/5))/5. Without DOTALL the separator runs
    vanish (n_distinct would read 2 and the entropy would use only the
    a/b terms over the unchanged n=5)."""
    from parquet_importer_spark.suite import QUERIES

    pdf = pd.DataFrame(
        [(1, "aa\u2028\u2028b"), (2, "x\u0085x"), (3, "plain ascii")],
        columns=["doc_id", "text"],
    )
    sf = _write(tmp_path, "documents", pdf)
    out = {r.doc_id: r for r in QUERIES["llm_char_entropy"](spark, sf).collect()}

    assert out[1].n_chars_nospace == 5
    assert out[1].n_distinct_chars == 3
    want = -(
        2 * math.log(2 / 5) + 2 * math.log(2 / 5) + 1 * math.log(1 / 5)
    ) / 5
    assert abs(out[1].entropy - want) < 1e-6

    # NEL between two x's: n=3, classes {x:2, NEL:1}
    assert out[2].n_chars_nospace == 3
    assert out[2].n_distinct_chars == 2


def test_char_entropy_unicode_matches_oracle(spark, tmp_path):
    """The oracle compare (columns, rows, values, driver hash) on a
    corpus that exercises every surviving Unicode terminator — the
    exact divergence the round-9 ADVICE predicted."""
    from parquet_importer_spark.suite import ORACLES, QUERIES

    pdf = pd.DataFrame(
        [
            (1, "aa\u2028\u2028b"),
            (2, "x\u0085x"),
            (3, "p\u2029q\u2029p"),
            (4, "mixed \u2028 with spaces \u2029 too"),
            (5, "plain ascii text"),
        ],
        columns=["doc_id", "text"],
    )
    sf = _write(tmp_path, "documents", pdf)
    sdf = QUERIES["llm_char_entropy"](spark, sf).toPandas()
    con = duckdb.connect()
    con.execute(
        f"""CREATE VIEW documents AS
            SELECT * FROM read_parquet('{sf}/documents.parquet')"""
    )
    odf = con.execute(ORACLES["llm_char_entropy"]).df()
    compare(sdf, odf, "llm_char_entropy")
    assert len(sdf) == 5
