"""Multimodal oracle gates (staged round 10, LIVE since round 11).

Round 9/10 verdicts item 6/3: the resize and frames keys were rows-only
with their full-value DuckDB oracles staged HERE (pytest-proven with
the driver's own compare) while round 10's window budget went to the
stale burndown. Round 11 flipped them — plus llm_multimodal itself
(verdict item 8: the numpy pairwise byte-entropy sum was replaced by
the suite's shared decimal-grid float contract, see
operators/multimodal.py byte_entropy) — into the ``@query`` decorators
in suite/llm_multimodal.py. This module remains as the LOCAL gate: the
ASCII precondition that makes VARCHAR slicing equal byte slicing, and
the resize key's one-row shape on top of its oracle compare (the full
compare of every key runs in tests/test_parity.py).

Oracle validity preconditions (both pinned below):
- the corpus is ASCII-only, so substring-by-chars IS substring-by-bytes
  and sha256(VARCHAR) hashes the same bytes Python's hashlib sees;
- text payloads never parse as images, so even a Pillow-present
  executor takes the deterministic byte-stride stubs the SQL mirrors.
"""

from __future__ import annotations

import duckdb

from tests.conftest import SF_ORACLE
from tests.parity import compare, duckdb_views


def test_corpus_is_ascii_so_varchar_slices_equal_byte_slices():
    """The oracles' validity precondition: every document's UTF-8 byte
    length equals its character length, so substring-by-chars IS
    substring-by-bytes and sha256(VARCHAR) hashes the same bytes
    Python's hashlib sees."""
    con = duckdb.connect()
    n_bad = con.execute(
        f"""SELECT COUNT(*) FROM read_parquet('{SF_ORACLE}/documents.parquet')
            WHERE octet_length(encode(text)) <> length(text)"""
    ).fetchone()[0]
    assert n_bad == 0


def test_multimodal_oracles_are_registered():
    """The round-11 flip actually happened: all three keys carry live
    oracles in the registry (the driver reads the same dict)."""
    import parquet_importer_spark.suite  # noqa: F401 — populates registry
    from parquet_importer_spark.registry import ORACLES

    for name in (
        "llm_multimodal",
        "llm_multimodal_resize",
        "llm_multimodal_frames",
    ):
        assert name in ORACLES, f"{name} regressed to rows-only"


def test_multimodal_resize_oracle_hash_matches(spark):
    """Codec-independence precondition: text payloads are not images,
    so both Pillow-present and Pillow-absent executors take the
    deterministic byte-stride stub the live SQL mirrors, and the key
    reduces the corpus to one row."""
    from parquet_importer_spark.suite import ORACLES, QUERIES

    name = "llm_multimodal_resize"
    sdf = QUERIES[name](spark, SF_ORACLE).toPandas()
    compare(sdf, duckdb_views(SF_ORACLE).execute(ORACLES[name]).df(), name)
    assert len(sdf) == 1


def test_byte_entropy_contract_edge_cases():
    """The Python-side term walk is exact on the grid: empty payload →
    0.0; single-class payload → entropy 0.0; two equal classes → 1 bit;
    and the Decimal accumulation is order-free by construction."""
    from parquet_importer_spark.operators import multimodal as mm  # noqa: F401
    # the closure is deliberately self-contained inside extract_features;
    # replicate the contract here to pin its arithmetic
    from decimal import Decimal
    from math import log2

    def ref_entropy(b: bytes) -> float:
        n = len(b)
        if n == 0:
            return 0.0
        counts: dict[int, int] = {}
        for x in b:
            counts[x] = counts.get(x, 0) + 1
        acc = Decimal(0)
        for c in sorted(counts.values()):
            acc += Decimal(round(c * log2(c / n), 8)).quantize(
                Decimal("0.00000001")
            )
        return round(-float(acc) / n, 6)

    assert ref_entropy(b"") == 0.0
    assert ref_entropy(b"aaaa") == 0.0
    assert ref_entropy(b"aabb") == 1.0
    assert ref_entropy(b"abcd") == 2.0
    # 3/4-1/4 split: -(0.75*log2(0.75) + 0.25*log2(0.25)) ≈ 0.811278
    assert ref_entropy(b"aaab") == 0.811278
