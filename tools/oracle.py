"""Check registered queries against their DuckDB oracles from a fresh
process, with the comparator the tests use (tests/parity.py).

    python tools/oracle.py drive [key ...]
    python tools/oracle.py sweep SF_DIR [key ...]
    python tools/oracle.py invariance [key ...]

drive       Consumes __spark_entry__.py as the external driver does:
            import boundary only, bare local[8] session. Runs entry() at
            sf0.001, then every query (or the named ones) against its
            oracle at sf0.01, then probes a trailing-slash sf_dir, a
            repeated entry() and the isolation of the queries() dict.
            Run it from /tmp, so that executor Python workers lack the
            repo on sys.path, as they do at the driver.
sweep       Runs every oracle pair (or the named ones) at SF_DIR, less
            the keys tests/parity.py's oracle_skips names there, and
            merges each outcome into PARITY.json.
invariance  Runs each key (default: INVARIANCE_KEYS) at sf0.01 under
            local[5] with 7 shuffle partitions and under local[32] with
            32, one subprocess per layout, and requires equal digests.

Every mode exits 1 on any mismatch or error.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import re
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from tests.parity import compare, digest, duckdb_views, oracle_skips  # noqa: E402

GATE_DIR = "/root/testdata/sf0.01"

#: The two layouts `invariance` compares: an awkward prime layout and
#: the 32-core history's.
LAYOUTS = (("local[5]", 7), ("local[32]", 32))

#: Float-heavy and knob-bearing keys: results that would drift with the
#: partitioning if a float accumulated order-dependently or a knob read
#: an engine-layout value.
INVARIANCE_KEYS = (
    "llm_emb_pca_power",
    "llm_emb_whiten",
    "agg_ols_by_group",
    "agg_welch_ttest",
    "agg_mannwhitney_u",
    "ts_ewma",
    "ts_double_ewma_forecast",
    "agg_bootstrap_ci",
    "agg_rfm_rankcut",
    "ts_attribution_touch",
    "graph_pagerank",
    "llm_char_entropy",
    "llm_dedup_minhash_mllib",
    "llm_dedup_prefix_filter",
    "spatial_knn_join",
    "spatial_dbscan_core",
    "llm_dedup_near",
    "llm_dedup_containment",
    "llm_dedup_affine",
    "llm_sim_pairs_lsh_capped",
    "llm_semdedup_adaptive",
    "llm_dedup_embedding_capped",
    "llm_multimodal",
    "ts_change_points",
    "ts_cross_correlation",
    "ts_autocorr",
    # signed zeros of double-accumulated statistics are partition-order
    # noise, normalized to +0.0
    "agg_stats",
    "llm_dsir_weights",
    "limit_probe",
)


def _session(master: str, shuffle: int, conf: dict[str, str] | None = None):
    from pyspark.sql import SparkSession

    builder = (
        SparkSession.builder.master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _select(available, keys: list[str]) -> list[str]:
    """The keys of ``available`` to run, in its order: all, or the named."""
    unknown = sorted(set(keys) - set(available))
    if unknown:
        sys.exit(f"unknown query names: {unknown}")
    return [k for k in available if not keys or k in keys]


def _check(spark, con, sf_dir: str, name: str, query, oracle_sql) -> tuple[str, str | None]:
    """Run one key against its oracle (or alone, if rows-only), print
    its outcome and return it as ``(outcome, reason)``."""
    try:
        sdf = query(spark, sf_dir).toPandas()
        if oracle_sql is None:
            print(f"{name}: rows-only, {len(sdf)} rows")
            return "rows", None
        compare(sdf, con.execute(oracle_sql).df(), name)
    except AssertionError as ex:
        print(f"{name}: MISMATCH {str(ex)[:200]}")
        return "mismatch", str(ex)[:200]
    except Exception as ex:  # noqa: BLE001 — report the key, go on to the next
        why = f"{type(ex).__name__}: {str(ex)[:160]}"
        print(f"{name}: ERROR {why}")
        return "error", why
    print(f"{name}: {len(sdf)} rows -> OK")
    return "green", None


def _failures(outcomes: dict[str, tuple[str, str | None]]) -> int:
    return sum(o in ("mismatch", "error") for o, _ in outcomes.values())


def drive(keys: list[str]) -> int:
    import __spark_entry__ as e

    spark = _session("local[8]", 8)
    df = e.entry(spark)
    rows = df.collect()
    print(f"entry(): {len(rows)} rows, schema={[f.name for f in df.schema]}")
    if not rows:
        sys.exit("entry() returned no rows")
    print(df.limit(3).toPandas().to_string())

    qs, oracles = e.queries(), e.oracle_sql()
    if not set(oracles) <= set(qs):
        sys.exit("oracle keys must be a subset of the query keys")
    con = duckdb_views(GATE_DIR)
    outcomes = {
        name: _check(spark, con, GATE_DIR, name, qs[name], oracles.get(name))
        for name in _select(qs, keys)
    }

    print("--- probes ---")
    n = e.queries()["flagship_pricing_summary"](spark, GATE_DIR + "/").count()
    print(f"probe trailing-slash sf_dir: {n} rows")
    if [f.name for f in e.entry(spark).schema] != [f.name for f in df.schema]:
        sys.exit("probe repeat entry(): schema changed")
    print("probe repeat entry(): schema stable")
    e.queries().clear()
    if not e.queries():
        sys.exit("probe queries() mutation: queries() returned a shared dict")
    print("probe queries() mutation: isolated")
    return _failures(outcomes)


def sweep(sf_dir: str, keys: list[str]) -> int:
    import __spark_entry__ as e

    # the compare collects both sides; per-row projections return O(n)
    # rows, which overflow the 1 g default driver heap at sf1
    spark = _session("local[8]", 8, {"spark.driver.memory": "16g"})
    qs, oracles = e.queries(), e.oracle_sql()
    names = _select(oracles, keys)
    skips = oracle_skips(sf_dir, names, named=bool(keys))
    outcomes = {}
    for k, why in skips.items():
        print(f"{k}: SKIPPED at {sf_dir} — {why}")
        outcomes[k] = ("skip", why)
    con = duckdb_views(sf_dir)
    for name in names:
        if name not in skips:
            outcomes[name] = _check(spark, con, sf_dir, name, qs[name], oracles[name])
    _record_parity(con, sf_dir, outcomes)
    fails = _failures(outcomes)
    print(f"done, fails={fails} ({len(names) - len(skips)} oracle pairs at {sf_dir})")
    return fails


def _current_round() -> int:
    """The in-progress round: the newest CORRECTNESS_r{N}.json + 1 (the
    driver writes round N's file when round N ends)."""
    rounds = [
        int(m.group(1))
        for p in glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json"))
        if (m := re.search(r"CORRECTNESS_r(\d+)\.json$", p))
    ]
    return max(rounds, default=0) + 1


def _record_parity(con, sf_dir: str, outcomes: dict[str, tuple[str, str | None]]) -> None:
    """Merge a sweep's per-key outcomes into PARITY.json, the
    machine-readable over-gate parity census. Rows are keyed by (key,
    sf label); a later sweep of the same pair replaces the row."""
    path = os.path.join(ROOT, "PARITY.json")
    try:
        with open(path) as fh:
            doc = json.load(fh)
    except (OSError, ValueError):
        doc = {"rows": []}
    label = os.path.basename(sf_dir.rstrip("/")) or sf_dir
    fixture = {
        t: int(con.execute(f"SELECT COUNT(*) FROM {t}").fetchone()[0])
        for t in ("documents", "lineitem")
    }
    rnd = _current_round()
    rows = [
        r for r in doc["rows"] if not (r["key"] in outcomes and r["sf"] == label)
    ]
    rows += [
        {
            "key": k,
            "sf": label,
            "sf_dir": sf_dir,
            "fixture": fixture,
            "outcome": outcome,
            "reason": reason,
            "round": rnd,
        }
        for k, (outcome, reason) in outcomes.items()
    ]
    doc["rows"] = sorted(rows, key=lambda r: (r["key"], r["sf"]))
    with open(path, "w") as fh:
        json.dump(doc, fh, indent=1)
    print(f"PARITY.json: {len(outcomes)} rows merged at {label} (r{rnd})")


def layout_digests(master: str, shuffle: int, keys: list[str]) -> dict[str, tuple[int, str]]:
    """``{key: digest}`` of each key at sf0.01 under one layout."""
    import __spark_entry__ as e

    spark = _session(master, shuffle, {"spark.sql.session.timeZone": "UTC"})
    qs = e.queries()
    out = {k: digest(qs[k](spark, GATE_DIR).toPandas()) for k in keys}
    spark.stop()
    return out


# A session's master is fixed for the life of its JVM, so each layout
# runs in its own interpreter; cwd=/tmp keeps the repo off the workers'
# sys.path, as at the driver.
_CHILD = (
    "import json, sys; sys.path.insert(0, sys.argv[1]); import oracle; "
    "print('DIGESTS:' + json.dumps(oracle.layout_digests("
    "sys.argv[2], int(sys.argv[3]), sys.argv[4:])))"
)


def _run_layout(master: str, shuffle: int, keys: list[str]) -> dict[str, list]:
    tools = os.path.dirname(os.path.abspath(__file__))
    proc = subprocess.run(
        [sys.executable, "-c", _CHILD, tools, master, str(shuffle), *keys],
        capture_output=True,
        text=True,
        cwd="/tmp",
    )
    for line in proc.stdout.splitlines():
        if line.startswith("DIGESTS:"):
            return json.loads(line[len("DIGESTS:"):])
    raise RuntimeError(
        f"layout {master} failed:\n{proc.stdout[-2000:]}\n{proc.stderr[-2000:]}"
    )


def invariance(keys: list[str]) -> int:
    import __spark_entry__ as e

    _select(e.queries(), keys)
    keys = keys or list(INVARIANCE_KEYS)
    a, b = (_run_layout(master, shuffle, keys) for master, shuffle in LAYOUTS)
    bad = [k for k in keys if a[k] != b[k]]
    for k in keys:
        mark = "DIVERGED" if k in bad else "OK "
        print(f"{mark} {k}: rows={a[k][0]} digest={a[k][1][:16]}")
    if bad:
        print(f"FAILED: {bad}")
    else:
        print(f"all {len(keys)} keys identical under local[5]/7 and local[32]/32")
    return len(bad)


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter
    )
    modes = parser.add_subparsers(dest="mode", required=True)
    modes.add_parser("drive").add_argument("keys", nargs="*")
    sweep_args = modes.add_parser("sweep")
    sweep_args.add_argument("sf_dir")
    sweep_args.add_argument("keys", nargs="*")
    modes.add_parser("invariance").add_argument("keys", nargs="*")
    args = parser.parse_args(argv)
    if args.mode == "drive":
        fails = drive(args.keys)
    elif args.mode == "sweep":
        fails = sweep(args.sf_dir, args.keys)
    else:
        fails = invariance(args.keys)
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
