"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query at sf0.001 (smoke check);
``queries()`` / ``oracle_sql()`` expose every implemented operator from
SURVEY.md §2 via :mod:`parquet_importer_spark.registry` — the driver runs
each pair at sf0.01 and hash-compares against DuckDB.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from parquet_importer_spark.suite import QUERIES  # noqa: PLC0415

    return QUERIES["flagship_pricing_summary"](spark, "/root/testdata/sf0.001")


# The driver's per-round correctness check truncates at the first 50
# keys of queries(), so each round rotates that window from the recorded
# CORRECTNESS_r{N}.json history of all prior rounds. Four tiers, in order:
#   1. the known-green sentinel, and every key that is not known-green
#      (latest driver row errored or mismatched, or no driver row yet);
#   2. forced re-checks (_FORCE_RECHECK), in that dict's order;
#   3. rows-only keys (no oracle hash, so the driver run IS their check)
#      whose latest green row is >= 2 rounds older than the newest round;
#   4. the verified tail, oldest green round first, so every key cycles
#      back through the window.
# Registry order breaks ties in every tier. Dropping a new
# CORRECTNESS_r{N}.json next to this file re-rotates automatically.
_SENTINEL = "flagship_pricing_summary"

# Keys whose implementation changed after their latest green driver row,
# mapped to the round the change shipped: a green row for the old code
# is not a green row for the shipped code. Each entry puts its key in
# tier 2 until the driver records a green row in a round >= that value,
# then the key graduates to the verified tail by itself, so entries never
# need manual removal. tests/test_driver_currency.py fails the build if a
# suite diff since the newest CORRECTNESS file is not covered here.
_FORCE_RECHECK: dict[str, int] = {
    # one Arrow batch nearest-center kernel replaced the cross-join
    # assignments; pagerank's dangling row is now tagged out_deg = -1
    "llm_semdedup": 16,
    "llm_sim_ivf": 16,
    "llm_sim_ivf_kmeans": 16,
    "llm_sim_pq": 16,
    "llm_cluster_kmeans_exact": 16,
    "graph_pagerank": 16,
    # the shared in_bucket_pairs expression replaced its hand-written
    # pair expansion (same plan modulo expression ids)
    "llm_source_overlap": 16,
    # streams read through io.read_stream (footer schema, no nanosAsLong
    # write); memory drains size state to the host's cores
    "stream_microbatch": 16,
    "stream_watermark_run": 16,
    "stream_stateful_count": 16,
    "stream_static_join": 16,
    "stream_file_sink": 16,
    "stream_jdbc_import": 16,
    "stream_stream_join": 16,
    "stream_transform_with_state": 16,
}


def _driver_latest(root: str | None = None) -> dict[str, tuple[int, dict]]:
    """Each key's LATEST recorded driver row, as {key: (round, row)}.

    Round numbers come from the CORRECTNESS_r{N}.json filenames; later
    rounds overwrite earlier rows for the same key, so the mapping is
    the driver's most recent word on every query — including WHICH
    round said it, which the rotation uses to re-check stale keys."""
    import glob  # noqa: PLC0415
    import json  # noqa: PLC0415
    import os  # noqa: PLC0415
    import re  # noqa: PLC0415

    if root is None:
        root = os.path.dirname(os.path.abspath(__file__))
    latest: dict[str, tuple[int, dict]] = {}
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        rnd = int(m.group(1)) if m else 0
        try:
            with open(path) as fh:
                rows = json.load(fh)
        except (OSError, ValueError):
            continue
        for key, row in rows.items():
            if isinstance(row, dict):
                latest[key] = (rnd, row)
    return latest


def _green(row: dict) -> bool:
    """A hash-matched row, or a rows-only row that ran (err == "no_oracle"
    with a row count). Anything else — an error or a hash/rows/schema
    mismatch — is not green."""
    ran_rows_only = (
        row.get("err") == "no_oracle" and row.get("spark_rows") is not None
    )
    return row.get("hash_match") is True or ran_rows_only


def _driver_order(root: str | None = None) -> list[str]:
    from parquet_importer_spark.suite import QUERIES  # noqa: PLC0415

    latest = _driver_latest(root)
    newest = max((rnd for rnd, _ in latest.values()), default=0)
    forced = list(_FORCE_RECHECK)

    def rank(name: str) -> tuple[int, int]:
        rnd, row = latest.get(name, (0, None))
        if name == _SENTINEL or row is None or not _green(row):
            return (1, 0)
        if rnd < _FORCE_RECHECK.get(name, 0):
            return (2, forced.index(name))
        if row.get("err") == "no_oracle" and rnd <= newest - 2:
            return (3, 0)
        return (4, rnd)

    # sorted() is stable, so registry order breaks ties within a tier
    return sorted(QUERIES, key=rank)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from parquet_importer_spark.suite import QUERIES  # noqa: PLC0415

    return {name: QUERIES[name] for name in _driver_order()}


def oracle_sql() -> dict[str, str]:
    from parquet_importer_spark.suite import ORACLES  # noqa: PLC0415

    return {n: ORACLES[n] for n in _driver_order() if n in ORACLES}
