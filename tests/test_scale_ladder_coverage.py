"""SCALE_LADDER.json coverage guards.

The scale ladder is the repo's strongest 100-TB-design evidence; a
silently dropped key would read as "covered" when it isn't. Enforce:
every registered query has a ladder row except the documented
live-Postgres sinks (tools/scale_ladder.py SKIP), and no row names a
query that no longer exists (renames must re-ladder, not inherit stale
timings).
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_ladder_covers_registry_minus_live_sinks():
    """Every registry key gets a ladder row (sf0.1/sf1/sf10) or a
    pinned exclusion (tools/scale_ladder.py SKIP): the second decade is
    where fixed-width hash structures, saturating clamps, and
    cardinality contracts break."""
    ladder = os.path.join(REPO, "SCALE_LADDER.json")
    if not os.path.exists(ladder):
        return  # pre-first-ladder working tree
    sys.path.insert(0, REPO)
    sys.path.insert(0, os.path.join(REPO, "tools"))
    from parquet_importer_spark.suite import QUERIES

    import scale_ladder

    with open(ladder) as fh:
        rows = json.load(fh)["results"]
    missing = sorted(set(QUERIES) - set(rows) - scale_ladder.SKIP)
    stale = sorted(set(rows) - set(QUERIES))
    assert not missing, f"registry keys never laddered: {missing}"
    assert not stale, f"ladder rows for unregistered keys: {stale}"


def test_jdbc_import_ladder_row_carries_drain_split():
    """round-9 verdict item 3: stream_jdbc_import's ladder total rides
    the external Derby insert wall (throughput decays as the table
    grows), which as one number could mask a Spark-side regression.
    The ladder row must carry the drain split, and the Spark hop —
    the identical readStream → select → foreachBatch availableNow
    shape against a noop batch sink — gets its own <= 1.2 gate.
    Measured r10: drain 0.57/0.77/0.71 s across sf0.1/sf1/sf10
    (drain_xlin_b 0.09) vs 345 s total at sf10 — 344.5 s is Derby."""
    ladder = os.path.join(REPO, "SCALE_LADDER.json")
    if not os.path.exists(ladder):
        return
    with open(ladder) as fh:
        row = json.load(fh)["results"].get("stream_jdbc_import")
    if row is None:
        return
    assert "drain_xlin_b" in row and "derby_insert_sf10" in row, (
        "stream_jdbc_import ladder row lacks the drain split - re-run "
        "tools/scale_ladder.py stream_jdbc_import"
    )
    assert row["drain_xlin_b"] <= 1.2, (
        f"Spark-side streaming drain went super-linear: {row}"
    )
