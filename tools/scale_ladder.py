"""Two-decade scale ladder: time the structurally hardest keys at
sf0.1 → sf1 (10×) → sf10 (100×, tools/make_scale_fixture.py 100 sf10)
and report BOTH per-decade slopes.

The first decade (xlin_a, every registry key) answers "did anything
blow up at 10×?"; the second answers "would the plan still hold at
another 10×?" — by default for the queries whose shapes carry real
risk: LSH/prefix dedup (bucket growth), iterative graph ops
(rounds × edges), adaptive-knob spatial grids (occupancy pinning),
corpus-token-linear text ops, and the big TPC-H joins at 60M lineitem
rows. xlin_a = sf1/(10·sf01), xlin_b = sf10/(10·sf1); a plan that is
genuinely linear-with-floors shows xlin_b drifting UP toward 1.0 as
fixed scheduling cost amortizes away — anything >1.2 at the second
decade is a real super-linear term that the first decade hid.

    python tools/scale_ladder.py            # the default list
    python tools/scale_ladder.py graph_     # prefix filter
    python tools/scale_ladder.py --missing      # every registry key not yet laddered
    python tools/scale_ladder.py --missing 40   # ...first 40 of those (tranche)
    python tools/scale_ladder.py --rung3 llm_dedup_editdist ...
        # THIRD decade (sf100 = 1000x, tools/make_scale_fixture.py 1000
        # sf100): adds sf100 + xlin_c to the named keys' existing rows.
        # Every decade so far has exposed a term the previous one hid
        # (fixed-width hashes at 10x->100x); this rung is for the keys
        # whose bound arguments are cap- or clamp-based and should be
        # WATCHED where they saturate, not trusted.
    python tools/scale_ladder.py --rung-mid KEY ...   # sf30 + xlin_m
    python tools/scale_ladder.py --cold-sf10 KEY ...  # sf10_cold + cold ratios

Writes SCALE_LADDER.json {key: {sf01, sf1, sf10, xlin_a, xlin_b}}.
Single-run timings with a min-of-2 rule per adjacent pair (re-time
when a smaller SF reads slower than the next rung). The fresh-JVM rungs
(FRESH) also record the timed run's event-log totals as
``<field>_metrics`` (bench.event_log).

Round-12 instrument rule: any third-decade row reading >1.2 gets a
``--cold-sf10`` follow-up before it is believed. The sf100/sf30
numerators run as the FIRST job of a fresh JVM (JIT-cold); the stored
sf10 denominators were measured in a warmed shared session or
re-timed in-process AFTER the sf100 run (JIT-hot) — an asymmetry that
inflated all three of round 11's surviving >1.2 rows (q21 1.45 → 0.68
cold, llm_dedup_near 1.37 → 0.96, graph_pagerank's sf30 mid-rung
1.52 → 1.16 with zero spill). Cold re-times land in ``sf10_cold`` with
``xlin_c_cold``/``xlin_m_cold`` alongside the original fields.

stream_jdbc_import gets a SPLIT row (round-9 verdict item 3): its
total time includes embedded Derby's insert wall (throughput decays
56k→30k rows/s as the table grows — an external term), which as a
single number could mask a genuine Spark-side regression. The ladder
therefore also times the IDENTICAL streaming drain (same readStream →
select → foreachBatch availableNow shape) against a noop batch sink
at every rung, and reports drain_* and drain_xlin_b alongside — the
Spark hop's own ≤1.2 gate, with the Derby term isolated as the
remainder.
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from bench import event_log  # noqa: E402

#: excluded from the ladder: both write into the LIVE scratch Postgres —
#: timing them at sf10 would bulk-load 60M rows into a shared external
#: server per run, and their scale story is the COPY throughput
#: measurement in SURVEY §6, not an xlin slope. Pinned by
#: tests/test_scale_ladder_coverage.py.
SKIP = frozenset({"sink_postgis", "sink_postgres_copy"})

RUNGS = (
    ("sf01", "/root/testdata/sf0.1"),
    ("sf1", os.path.join(ROOT, ".scale", "sf1")),
    ("sf10", os.path.join(ROOT, ".scale", "sf10")),
)

#: shapes with genuine second-decade risk, one per family
DEFAULT_KEYS = (
    # set-similarity / LSH dedup: bucket & posting growth
    "llm_dedup_near",
    "llm_dedup_affine",
    "llm_dedup_minhash_mllib",
    "llm_dedup_prefix_filter",
    "llm_dedup_containment",
    "llm_line_dedup",
    "llm_dedup_cc_bigstar",
    "llm_semdedup",
    "llm_sim_pairs_lsh",
    # iterative graph: rounds x edges
    "graph_pagerank",
    "graph_triangle_count",
    "graph_kcore",
    # adaptive-knob spatial grids: occupancy pinning across decades
    "spatial_knn_join",
    "spatial_dbscan_core",
    # corpus-token/byte-linear text ops
    "llm_contamination_ngram",
    "llm_bpe_pair_counts",
    "llm_char_entropy",
    "llm_source_overlap",
    "llm_pipeline_e2e",
    # big joins / aggregates at 60M lineitem rows
    "flagship_pricing_summary",
    "q9_product_profit",
    "q21_waiting_suppliers",
    "agg_bootstrap_ci",
)


def _drain_only(spark, sf_dir: str) -> None:
    """stream_jdbc_import's exact Spark-side shape — readStream over the
    events parquet, the same 2-column projection, foreachBatch with an
    availableNow drain — but the batch sink is noop instead of Derby
    JDBC. Timing this isolates the streaming hop from the external
    insert wall (see module docstring)."""
    import tempfile  # noqa: PLC0415

    from parquet_importer_spark.io import read_stream, table_path  # noqa: PLC0415

    ckpt = tempfile.mkdtemp(prefix="pis_drain_ckpt_")

    def _sink(batch_df, batch_id: int) -> None:
        batch_df.write.format("noop").mode("overwrite").save()

    q = (
        read_stream(spark, table_path(sf_dir, "events"))
        .select("event_id", "event_type")
        .writeStream.foreachBatch(_sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


#: heap for the 1000x rung's per-key JVMs. The sf0.1..sf10 rungs run
#: on the 8g default; 5M-doc / 600M-lineitem inputs need working-set
#: headroom a real cluster's executors would have (the first shared-JVM
#: rung-3 attempt died of heap poisoning after one key OOM'd and took
#: the rest of the list with it — process isolation + honest memory).
RUNG3_MEM = os.environ.get("SPARK_GRAFT_RUNG3_MEM", "48g")


def _sweep_sink_tmp() -> None:
    """Remove the sink keys' tempdirs between rung subprocesses. The
    sink operators write into tempfile.mkdtemp(prefix='pis_*') and the
    queries legitimately leave the data for the read-back; at sf100 a
    single zorder/bucketed write is multiple GB, and a 60-key campaign
    would otherwise fill the ~34 GB free local disk with dead
    fixtures."""
    import glob as _glob  # noqa: PLC0415
    import shutil  # noqa: PLC0415
    import tempfile  # noqa: PLC0415

    for d in _glob.glob(os.path.join(tempfile.gettempdir(), "pis_*")):
        shutil.rmtree(d, ignore_errors=True)


def _merge_base_row(old: dict, new: dict) -> dict:
    """Merge a freshly re-timed base row (sf01/sf1/sf10 + xlin_a/b)
    into the key's existing ladder row. Round-13 find: the base path
    used to REPLACE rows wholesale, silently destroying measured
    third-decade fields (sf100/sf30, metrics, exclusion notes) on any
    re-time. Preserved numerator rungs get their warm ratios
    recomputed against the new sf10; the cold-denominator campaign
    fields are DELETED — they were measured against the code state of
    their campaign, and a base re-time is the signal that state may
    have changed (the >1.2 auto-rebase re-creates them on demand)."""
    keep = {k: v for k, v in old.items() if k not in new}
    for stale in (
        "sf10_cold",
        "xlin_c_cold",
        "xlin_m_cold",
        "sf10_cold_error",
        "sf10_cold_metrics",
    ):
        keep.pop(stale, None)
    merged = {**keep, **new}
    if "sf100" in merged:
        merged["xlin_c"] = round(
            merged["sf100"] / (10 * max(merged["sf10"], 0.05)), 2
        )
    if "sf30" in merged:
        merged["xlin_m"] = round(
            merged["sf30"] / (3 * max(merged["sf10"], 0.05)), 2
        )
    return merged


def _refresh_cold_ratios(row: dict) -> None:
    """Recompute the cold ratios from ``sf10_cold`` whenever a
    numerator rung (sf100 / sf30) is re-timed. Round-12 ADVICE: the
    cold ratios take adjudication precedence over the warm ones, so a
    re-timed numerator left next to a STALE green ``xlin_c_cold``
    could mask a real regression."""
    if "sf10_cold" not in row:
        return
    den = max(row["sf10_cold"], 0.05)
    if "sf100" in row:
        row["xlin_c_cold"] = round(row["sf100"] / (10 * den), 2)
    if "sf30" in row:
        row["xlin_m_cold"] = round(row["sf30"] / (3 * den), 2)


def _needs_cold_rebase(row: dict) -> bool:
    """True when a rung row carries a warm super-linearity ratio >1.2
    with no cold denominator to adjudicate it. Round-12's census found
    the warm sf10 denominator is systematically JIT-deflated (it is
    re-timed in-process after the sf100 run, while every numerator
    runs as the first job of a cold JVM) — all three round-11 >1.2
    rows cleared on cold re-bases. The rung drivers auto-trigger a
    cold sf10 re-time for any such row instead of relying on the
    operator remembering the discipline (round-12 verdict item 5)."""
    warm_over = (
        row.get("xlin_c", 0) > 1.2 or row.get("xlin_m", 0) > 1.2
    )
    return warm_over and "sf10_cold" not in row


#: The fresh-JVM rungs, by CLI flag: (output field, fixture under
#: .scale/, warm ratio field, its decade factor, heap field). Each key
#: runs as the FIRST job of its own child JVM (``<flag>-one``) with the
#: RUNG3_MEM heap: an OOM at this scale poisons the shared heap and a
#: stopped SparkContext fails every later key, so isolation is what
#: makes a per-key error attributable to the KEY.
#:
#: - ``--rung3``: the third decade (sf100 = 1000x), for the keys whose
#:   bound arguments are cap- or clamp-based and should be WATCHED where
#:   they saturate, not trusted. xlin_c = sf100/(10·sf10).
#: - ``--rung-mid``: sf30 (300x) for the keys whose sf100 run is
#:   DISK-bound in this sandbox (shuffle/sort spill beyond the single
#:   local disk); a 3x input spills ~1/3.3 of the sf100 volume, so the
#:   third decade gets a measured partial slope xlin_m = sf30/(3·sf10),
#:   same ≤1.2 gate as xlin_c.
#: - ``--cold-sf10``: re-time sf10 COLD. The stored sf10 denominators
#:   were timed in a JIT-warm JVM while every sf100/sf30 numerator runs
#:   JIT-cold; a deflated denominator inflates xlin, and this mode
#:   measures that bias (``_refresh_cold_ratios`` gives the ratios).
FRESH = {
    "--rung3": ("sf100", "sf100", "xlin_c", 10, "rung3_mem"),
    "--rung-mid": ("sf30", "sf30", "xlin_m", 3, "rung_mid_mem"),
    "--cold-sf10": ("sf10_cold", "sf10", None, None, None),
}


def _spawn(flag: str, key: str) -> None:
    """Run one key's fresh-JVM rung (see FRESH) in a child process."""
    import subprocess  # noqa: PLC0415

    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM=RUNG3_MEM)
    subprocess.run(
        [sys.executable, os.path.abspath(__file__), f"{flag}-one", key],
        env=env,
        check=False,
    )
    _sweep_sink_tmp()


def _auto_cold_rebase(key: str, path: str | None = None) -> None:
    """After a rung child finishes, re-read its row; if it recorded a
    warm ratio >1.2 with no cold denominator, immediately re-time sf10
    in a fresh JVM (``--cold-sf10-one``) so the >1.2 reading never
    lands without its same-conditions adjudication."""
    path = path or os.path.join(ROOT, "SCALE_LADDER.json")
    if not os.path.exists(path):
        return
    with open(path) as fh:
        row = json.load(fh)["results"].get(key)
    if row is None or not _needs_cold_rebase(row):
        return
    print(
        f"{key}: warm ratio > 1.2 with no cold denominator — "
        "auto-triggering --cold-sf10",
        file=sys.stderr,
    )
    _spawn("--cold-sf10", key)


def _fresh(flag: str, keys: list[str]) -> None:
    """Fan ``keys`` out to one child JVM each, then list the rows whose
    ratio (cold-precedence: the warm sf10 denominator is JIT-deflated)
    reads > 1.2."""
    field, _, ratio, _, _ = FRESH[flag]
    for key in keys:
        _spawn(flag, key)
        if ratio:
            _auto_cold_rebase(key)
    if not ratio:
        return
    with open(os.path.join(ROOT, "SCALE_LADDER.json")) as fh:
        rows = json.load(fh)["results"]
    over = [
        (k, r.get(f"{ratio}_cold", r.get(ratio)))
        for k, r in rows.items()
        if r.get(f"{ratio}_cold", r.get(ratio, 0)) > 1.2
    ]
    print(f"{field} {ratio} (cold-precedence) > 1.2 ({len(over)}):")
    for k, x in over:
        print(f"  {x:5.2f}  {k}  ({rows[k]['sf10']}s -> {rows[k][field]}s)")


def _fresh_one(flag: str, key: str) -> None:
    """Child side of ``_fresh``: time ``key`` once on the rung's fixture
    and record the time, the timed run's event-log totals as
    ``<field>_metrics``, and the ratios."""
    from parquet_importer_spark.suite import QUERIES

    field, fixture, ratio, decade, mem_field = FRESH[flag]
    path = os.path.join(ROOT, "SCALE_LADDER.json")
    with open(path) as fh:
        data = json.load(fh)
    row = data["results"].get(key)
    if key not in QUERIES or row is None:
        print(f"{key}: skipped (not registered/laddered)", file=sys.stderr)
        return
    row.pop(f"{field}_error", None)
    group = f"ladder:{key}:{field}"
    try:
        with event_log(f"scale-ladder-{field}") as (spark, groups):

            def timed(sf_dir: str, gid: str) -> float:
                spark.sparkContext.setJobGroup(gid, key)
                t0 = time.perf_counter()
                QUERIES[key](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                return round(time.perf_counter() - t0, 2)

            row[field] = timed(os.path.join(ROOT, ".scale", fixture), group)
            if ratio and row["sf10"] > row[field]:
                # inversion = the stored sf10 was ambient-inflated; the
                # ladder's min-of-2 rule re-times it
                row["sf10"] = min(row["sf10"], timed(RUNGS[2][1], ""))
                row["xlin_b"] = round(row["sf10"] / (10 * max(row["sf1"], 0.05)), 2)
        row[f"{field}_metrics"] = groups.get(group, {})
        if ratio:
            row[ratio] = round(row[field] / (decade * max(row["sf10"], 0.05)), 2)
        _refresh_cold_ratios(row)
        print(f"{key}: {row}", file=sys.stderr)
    except Exception as exc:  # noqa: BLE001 — record, isolate, move on
        row[f"{field}_error"] = f"{type(exc).__name__}: {exc}"[:200]
        print(f"{key}: ERROR {row[f'{field}_error']}", file=sys.stderr)
    if mem_field:
        row[mem_field] = RUNG3_MEM
    with open(path, "w") as fh:
        json.dump(data, fh, indent=1)


def main() -> None:
    from parquet_importer_spark.session import get_spark
    from parquet_importer_spark.suite import QUERIES

    argv = sys.argv[1:]
    if argv and argv[0] in FRESH:
        _fresh(argv[0], argv[1:])
        return
    if argv and argv[0].removesuffix("-one") in FRESH:
        _fresh_one(argv[0].removesuffix("-one"), argv[1])
        return
    if argv and argv[0] == "--missing":
        path = os.path.join(ROOT, "SCALE_LADDER.json")
        done: dict = {}
        if os.path.exists(path):
            with open(path) as fh:
                done = json.load(fh).get("results", {})
        keys = [k for k in QUERIES if k not in done and k not in SKIP]
        if len(argv) > 1:
            keys = keys[: int(argv[1])]
    else:
        only = tuple(argv)
        keys = [
            k
            for k in (
                only
                and [q for q in QUERIES if any(q.startswith(p) for p in only)]
                or DEFAULT_KEYS
            )
            if k in QUERIES and k not in SKIP
        ]
    spark = get_spark("scale-ladder")

    def timed(key: str, sf_dir: str) -> float:
        t0 = time.perf_counter()
        QUERIES[key](spark, sf_dir).write.format("noop").mode("overwrite").save()
        return round(time.perf_counter() - t0, 2)

    results: dict[str, dict] = {}
    errors: dict[str, str] = {}
    for key in keys:
        row: dict = {}
        try:
            for name, sf_dir in RUNGS:
                row[name] = timed(key, sf_dir)
            # min-of-2 per adjacent inversion (ambient / first-compile)
            if row["sf01"] > row["sf1"]:
                row["sf01"] = min(row["sf01"], timed(key, RUNGS[0][1]))
            if row["sf1"] > row["sf10"]:
                row["sf1"] = min(row["sf1"], timed(key, RUNGS[1][1]))
            row["xlin_a"] = round(row["sf1"] / (10 * max(row["sf01"], 0.05)), 2)
            row["xlin_b"] = round(row["sf10"] / (10 * max(row["sf1"], 0.05)), 2)
            if key == "stream_jdbc_import":
                # Spark-drain-vs-Derby-insert split (module docstring)
                for name, sf_dir in RUNGS:
                    t0 = time.perf_counter()
                    _drain_only(spark, sf_dir)
                    row[f"drain_{name}"] = round(time.perf_counter() - t0, 2)
                if row["drain_sf01"] > row["drain_sf1"]:
                    t0 = time.perf_counter()
                    _drain_only(spark, RUNGS[0][1])
                    row["drain_sf01"] = min(
                        row["drain_sf01"], round(time.perf_counter() - t0, 2)
                    )
                row["drain_xlin_b"] = round(
                    row["drain_sf10"] / (10 * max(row["drain_sf1"], 0.05)), 2
                )
                row["derby_insert_sf10"] = round(
                    row["sf10"] - row["drain_sf10"], 2
                )
            results[key] = row
            print(f"{key}: {row}", file=sys.stderr)
        except Exception as exc:
            errors[key] = f"{type(exc).__name__}: {exc}"[:160]
            print(f"{key}: ERROR {errors[key]}", file=sys.stderr)
    path = os.path.join(ROOT, "SCALE_LADDER.json")
    prior: dict = {}
    if os.path.exists(path):
        try:
            with open(path) as fh:
                prior = json.load(fh).get("results", {})
        except (OSError, ValueError):
            prior = {}
    for key, row in results.items():
        prior[key] = _merge_base_row(prior.get(key, {}), row)
    ordered = dict(sorted(prior.items(), key=lambda kv: -kv[1]["xlin_b"]))
    with open(path, "w") as fh:
        json.dump({"results": ordered, "errors": errors}, fh, indent=1)
    over = [(k, r) for k, r in ordered.items() if r["xlin_b"] > 1.2]
    print(f"{len(results)} keys laddered, {len(errors)} errors")
    print(f"second-decade xlin_b > 1.2 ({len(over)}):")
    for k, r in over:
        print(f"  {r['xlin_b']:5.2f}  {k}  ({r['sf1']}s -> {r['sf10']}s)")


if __name__ == "__main__":
    main()
