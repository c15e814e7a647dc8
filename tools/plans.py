"""One plan tool: the plan ledger and plan dumps for every registry key.

    python tools/plans.py                            # rewrite tests/plan_ledger.json
    python tools/plans.py dump OUTDIR [SF_DIR] [KEY ...]

The ledger pins, per key at sf0.001, the scale-relevant shape of its
formatted physical plan and the number of Spark jobs its builder runs.
It is written from a fresh session configured like the tests' own
(``get_spark(shuffle_partitions=8)``), and tests/test_plan_invariants.py
rebuilds every key and compares: shape fields must be equal, build jobs
at most the pinned count, the largest of five builds.
After an intentional plan change, rerun the tool and list each changed
key's diff in CHANGES.md.

``dump`` writes each key's normalized formatted plan to ``OUTDIR/KEY.txt``
(two trees compare with ``diff -r``) and prints one JSON line per key:
build and noop-write seconds, the jobs and stages of both, and the
ledger entry. SF_DIR defaults to sf0.001; KEYs default to all.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
import uuid

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from parquet_importer_spark.io import DEFAULT_SF_DIR as SF_DIR  # noqa: E402  (sf0.001)

LEDGER = os.path.join(REPO, "tests", "plan_ledger.json")

#: plan-text markers whose presence or absence is pinned per key: a lost
#: broadcast, a new sort-merge join or a cartesian product changes them
MARKERS = (
    "BroadcastHashJoin",
    "BroadcastNestedLoopJoin",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "CartesianProduct",
    "TakeOrderedAndProject",
    "Generate",
    "Window",
    "WindowGroupLimit",
)

_PYTHON_NODE = re.compile(
    r"^\(\d+\) (?:MapInArrow|MapInPandas|EvalPython|ArrowEvalPython)\b", re.M
)

#: run-specific names that differ between two builds of one plan:
#: expression ids, higher-order-function lambda variables, RDD ids, AQE
#: plan ids and the ``pis_*`` temp directories the writer keys create
_RUN_IDS = (
    (re.compile(r"#\d+"), "#"),
    (re.compile(r"\b([xyz])_\d+\b"), r"\1_"),
    (re.compile(r"RDD\[\d+\]"), "RDD[]"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"/pis_\w+"), "/pis_"),
)


def normalize(plan: str) -> str:
    for pattern, repl in _RUN_IDS:
        plan = pattern.sub(repl, plan)
    return plan


def plan_fingerprint(plan: str) -> dict:
    """Scale-relevant shape of one formatted plan string."""
    pushed = plan.split("PushedFilters: [")[1:]
    return {
        "markers": sorted(m for m in MARKERS if m in plan),
        "nonempty_pushed_filters": any(not seg.startswith("]") for seg in pushed),
        "exchanges": plan.count("Exchange ("),  # initial-plan exchanges
        # serial points: every single-partition exchange (global windows,
        # unpartitioned sorts). >0 is only acceptable over provably
        # bounded inputs (dimension or bucket tables, a final top-k)
        "single_partition": plan.count("SinglePartition"),
        # map-side per-group cap: a PARTIAL WindowGroupLimit below the
        # exchange is the capped keys' scale contract, at most `cap` rows
        # per group per input partition ever shuffle. Counted per detail
        # block: the node header and its Arguments line are separated by
        # the Input [...] line in formatted mode
        "window_group_limit_partial": sum(
            1
            for block in plan.split("\n\n")
            if re.match(r"\(\d+\) WindowGroupLimit", block)
            and re.search(r"^Arguments: .*, Partial\s*$", block, re.M)
        ),
        "python_nodes": len(_PYTHON_NODE.findall(plan)),
    }


def _jobs_in_group(sc, group: str) -> list[int]:
    # job events reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return list(sc.statusTracker().getJobIdsForGroup(group))


def ledger_entry(spark, key: str, sf_dir: str = SF_DIR):
    """Build ``key`` in a job group of its own; return ``(df, plan,
    entry, jobs)``: ``entry`` is the plan's fingerprint plus
    ``build_jobs``, the number of ``jobs`` (ids) the build ran."""
    from parquet_importer_spark.suite import QUERIES

    sc = spark.sparkContext
    group = f"build:{key}:{uuid.uuid4().hex}"
    sc.setJobGroup(group, key)
    try:
        df = QUERIES[key](spark, sf_dir)
    finally:
        sc._jsc.clearJobGroup()
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    jobs = _jobs_in_group(sc, group)
    return df, plan, plan_fingerprint(plan) | {"build_jobs": len(jobs)}, jobs


def _pin(spark, key: str) -> dict:
    # AQE can run a loop round's stages as one job or two, so a count
    # varies by build: graph_pagerank ran 61 jobs in 11 and 62 in 29 of
    # 40 builds (two sessions, local[4] and local[8]). Pin the largest
    # of five builds
    entries = [ledger_entry(spark, key)[2] for _ in range(5)]
    return entries[0] | {"build_jobs": max(e["build_jobs"] for e in entries)}


def dump(spark, outdir: str, sf_dir: str, keys: list[str]) -> None:
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    os.makedirs(outdir, exist_ok=True)
    for key in keys:
        t0 = time.perf_counter()
        df, plan, entry, jobs = ledger_entry(spark, key, sf_dir)
        build_s = time.perf_counter() - t0
        with open(os.path.join(outdir, f"{key}.txt"), "w") as fh:
            fh.write(normalize(plan))
        group = f"exec:{key}:{uuid.uuid4().hex}"
        sc.setJobGroup(group, key)
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        exec_s = time.perf_counter() - t0
        sc._jsc.clearJobGroup()
        jobs += _jobs_in_group(sc, group)
        stages = {
            sid
            for jid in jobs
            for sid in tracker.getJobInfo(jid).stageIds
            if (info := tracker.getStageInfo(sid)) and info.numCompletedTasks
        }
        print(json.dumps({
            "query": key,
            "build_s": round(build_s, 3),
            "exec_s": round(exec_s, 3),
            "jobs": len(jobs),
            "stages": len(stages),
            **entry,
        }), flush=True)


def main(argv: list[str]) -> None:
    from parquet_importer_spark.session import get_spark
    from parquet_importer_spark.suite import QUERIES

    spark = get_spark("plans", shuffle_partitions=8)
    try:
        if argv[:1] == ["dump"]:
            outdir, rest = argv[1], argv[2:]
            sf_dir = rest.pop(0) if rest and os.sep in rest[0] else SF_DIR
            dump(spark, outdir, sf_dir, rest or sorted(QUERIES))
            return
        ledger = {key: _pin(spark, key) for key in sorted(QUERIES)}
    finally:
        spark.stop()
    with open(LEDGER, "w") as fh:  # one key per line: a diff names the key
        rows = (f" {json.dumps(k)}: {json.dumps(v, sort_keys=True)}" for k, v in ledger.items())
        fh.write("{\n" + ",\n".join(rows) + "\n}\n")
    print(f"wrote {LEDGER} ({len(ledger)} keys)")


if __name__ == "__main__":
    main(sys.argv[1:])
