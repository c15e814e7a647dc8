"""Capture .explain('formatted') + job/stage counts for headline queries.

Usage: python tools/dump_plans.py <outdir> [query ...]

Writes <outdir>/<query>_<suffix>.txt (suffix from $PLAN_SUFFIX, default
'before') containing the formatted physical plan, plus a JSON line per
query on stdout with plan-shape stats (exchange count, join strategies,
python eval nodes, and the jobs and stages Spark's event log records for
building the query and one noop materialization) — the measurement
inventory guide §1 prescribes (plan shape + job fan-out) for every
query before touching it. The JSON lines print once the session has
stopped, because the event log is read then.
"""

from __future__ import annotations

import io
import json
import os
import sys
import time
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE, event_log  # noqa: E402


def main() -> None:
    outdir = sys.argv[1]
    os.makedirs(outdir, exist_ok=True)
    suffix = os.environ.get("PLAN_SUFFIX", "before")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from parquet_importer_spark.suite import QUERIES

    names = sys.argv[2:] or list(HEADLINE)
    if names == ["ALL"]:
        names = list(QUERIES)

    lines: list[dict] = []
    with event_log("dump-plans") as (spark, groups):
        sc = spark.sparkContext
        # warm up codegen + footer reads so job counts reflect steady state
        QUERIES["flagship_pricing_summary"](spark, sf_dir).write.format(
            "noop"
        ).mode("overwrite").save()

        for qid in names:
            if qid not in QUERIES:
                lines.append({"query": qid, "error": "not registered"})
                continue
            sc.setJobGroup(f"plan:{qid}", qid)
            t0 = time.perf_counter()
            df = QUERIES[qid](spark, sf_dir)
            build_sec = time.perf_counter() - t0
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            plan = buf.getvalue()
            with open(os.path.join(outdir, f"{qid}_{suffix}.txt"), "w") as fh:
                fh.write(plan)
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            exec_sec = time.perf_counter() - t0
            sc.setJobGroup("", "")
            lines.append({
                "query": qid,
                "build_sec": round(build_sec, 3),
                "exec_sec": round(exec_sec, 3),
                "exchanges": plan.count("Exchange"),
                "reused_exchanges": plan.count("ReusedExchange"),
                "smj": plan.count("SortMergeJoin"),
                "bhj": plan.count("BroadcastHashJoin"),
                "shj": plan.count("ShuffledHashJoin"),
                "bnlj": plan.count("BroadcastNestedLoopJoin"),
                "py_eval": plan.count("EvalPython")
                + plan.count("MapInPandas")
                + plan.count("MapInArrow"),
                "window": plan.count("Window"),
                "sort": plan.count("Sort "),
            })

    for stats in lines:
        if "error" not in stats:
            g = groups.get(f"plan:{stats['query']}", {})
            stats["jobs"], stats["stages"] = g.get("jobs", 0), g.get("stages", 0)
        print(json.dumps(stats))


if __name__ == "__main__":
    main()
