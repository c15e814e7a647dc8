"""Benchmark of record for the engine: Parquet -> Postgres ingest and the
LLM-pipeline operators, measured end to end and, in a traced run, per layer.

Usage, from the repository root:

    python3 perfbench/run.py --workload ingest_pg --seed 1 --seconds 15 --trace 0

Workloads are ``ingest_pg`` and ``llm_pipeline`` (see perfbench/README.md).
The inputs are the engine's read-only test tables: sf0.1 (the directory
next to ``parquet_importer_spark.io.DEFAULT_SF_DIR``) for the timed passes
and sf0.01 for the warm-up pass.  One run:

1. sets up once, and reports the time as ``setup_s``: ``get_spark`` with a
   cold JVM at ``local[nproc]``, ``scratch_server`` for ingest, a scan of
   the workload's tables, and a warm-up pass that runs every op once on
   sf0.01, so the timed ops find their code compiled and the Python
   workers started;
2. runs timed passes over the ops, in an order permuted by ``--seed``,
   as long as one more pass of median length still ends within
   ``--seconds`` (at least one pass);
3. checks the outputs, outside the timed passes: each query result of
   the last pass against DuckDB (keys with an oracle) or for being
   non-empty, and for ingest the row counts and per-column sums in
   Postgres against DuckDB on the source files.

With ``--trace 1`` the timed passes are followed by a session restart
with Spark's event log on, and the same number of traced passes; the
per-layer metrics come from those.  The last stdout line is the result
JSON; the line before it holds the run's details (host facts, per-op
latencies, failures).
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import stat
import statistics
import subprocess
import sys
import tempfile
import time
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import spans as tr  # noqa: E402
import workloads as wl  # noqa: E402

END_TO_END_UNITS = {
    "setup_s": "s",
    "wall_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "rows_per_s": "rows/s",
}

PER_LAYER_UNITS = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "session.peak_rss_mb": "MB",
    "postgres_copy.server_start_s": "s",
    "suite.build_s": "s",
    "suite.build_jobs": "count",
    "suite.build_tasks": "count",
    "suite.build_executor_run_s": "s",
    "exec.action_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s",
    "exec.cpu_util": "ratio",
    "exec.gc_s": "s",
    "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_fetch_wait_s": "s",
    "exec.spill_bytes": "bytes",
    "exec.python_bytes": "bytes",
    "io.read_table_s": "s",
    "io.input_rows": "rows",
    "io.input_bytes": "bytes",
    "io.scan_tasks": "count",
    "io.scan_tasks_nonempty": "count",
    "postgres_copy.copy_s": "s",
    "postgres_copy.copy_rows": "rows",
    "postgres_copy.copy_streams": "count",
    "postgres_copy.copy_streams_nonempty": "count",
    "postgres_copy.wal_bytes": "bytes",
    "postgres_copy.table_bytes": "bytes",
    "postgres_copy.stored_bytes_ratio": "ratio",
    "postgres_copy.read_back_s": "s",
    "trace.wall_s": "s",
    "trace.overhead_s": "s",
}


# ---------------------------------------------------------------------------
# host facts


def _cpu_counters() -> tuple[int, int, int]:
    """Total, idle (with iowait) and steal jiffies over all CPUs."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    vals += [0] * (8 - len(vals))
    return sum(vals), vals[3] + vals[4], vals[7]


def ambient() -> dict:
    """Load average and CPU counters, to identify a co-loaded run."""
    total, idle, steal = _cpu_counters()
    return {
        "loadavg": list(os.getloadavg()),
        "cpu_total": total,
        "cpu_idle": idle,
        "cpu_steal": steal,
    }


def cpu_share(a: dict, b: dict, key: str) -> float:
    """Share of CPU time between two :func:`ambient` readings spent in ``key``."""
    dt = b["cpu_total"] - a["cpu_total"]
    return (b[key] - a[key]) / dt if dt > 0 else 0.0


def _version(cmd: str) -> str:
    path = shutil.which(cmd)
    if path is None:
        return "absent"
    out = subprocess.run([path, "--version"], capture_output=True, text=True, timeout=30)
    return out.stdout.strip()


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set size of a process, from /proc."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _others_can_traverse(path: str) -> bool:
    """Whether a different user (the ``postgres`` account) can reach ``path``."""
    path = os.path.abspath(path)
    while True:
        if not os.stat(path).st_mode & stat.S_IXOTH:
            return False
        parent = os.path.dirname(path)
        if parent == path:
            return True
        path = parent


# ---------------------------------------------------------------------------
# summary statistics


def summarize(passes: list[dict]) -> dict:
    """End-to-end numbers from timed passes (medians across passes)."""
    lat = [s for p in passes for s in p["ops"].values()]
    return {
        "wall_s": statistics.median(p["wall"] for p in passes),
        "op_p50_s": statistics.median(lat) if lat else 0.0,
        # the ops are a fixed set: the tail is the slowest op of a pass
        "op_tail_s": statistics.median(max(p["ops"].values(), default=0.0) for p in passes),
        "rows_per_s": statistics.median(
            p["rows"] / sum(p["ops"].values()) if p["ops"] else 0.0 for p in passes
        ),
        "op_samples": len(lat),
    }


# ---------------------------------------------------------------------------
# the run


@dataclass
class Run:
    workload: str
    sf_dir: str
    rows: dict[str, int]
    pg_tmp: str
    tracer: tr.Tracer
    ops: list[wl.Op]
    spark: object = None
    dsn: dict | None = None
    op_tables: dict[str, list[str]] = field(default_factory=dict)
    failures: list[str] = field(default_factory=list)
    attempted: int = 0

    @property
    def ingest(self) -> bool:
        return self.workload == "ingest_pg"

    def fail(self, what: str, exc: BaseException | str) -> None:
        msg = exc if isinstance(exc, str) else f"{type(exc).__name__}: {exc}"
        self.failures.append(f"{what}: {msg}"[:500])


def warm_up(run: Run) -> None:
    """Scan each of the workload's tables once, checking its row count."""
    from parquet_importer_spark.io import read_table

    for t in wl.TABLES[run.workload]:
        n = read_table(run.spark, run.sf_dir, t).count()
        if n != run.rows[t]:
            raise RuntimeError(f"warm-up scan of {t} read {n} rows, expected {run.rows[t]}")


def setup(run: Run, conf: dict, warm: tuple[str, dict[str, int]] | None = None) -> dict:
    """``get_spark``, the scratch server for ingest, a scan of the tables and,
    given ``warm`` (a table directory and its row counts), the warm-up pass."""
    from parquet_importer_spark.session import get_spark
    from parquet_importer_spark.sources.postgres_copy import scratch_server

    t = run.tracer
    out = {}
    t0 = time.perf_counter()
    with t.span("session.get_spark", op="setup"):
        run.spark = get_spark("perfbench", extra_conf=conf)
    out["start"] = time.perf_counter() - t0
    out["server"] = 0.0
    if run.ingest:
        t0 = time.perf_counter()
        saved, tempfile.tempdir = tempfile.tempdir, run.pg_tmp
        try:
            with t.span("postgres_copy.scratch_server", op="setup"):
                run.dsn = scratch_server()
        finally:
            tempfile.tempdir = saved
        if run.dsn is None:
            raise RuntimeError("no Postgres server could be started")
        out["server"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    with t.span("session.warmup", op="setup"):
        warm_up(run)
        if warm is not None:
            warm_pass(run, *warm)
    out["warmup"] = time.perf_counter() - t0
    out["total"] = out["start"] + out["warmup"] + out["server"]
    return out


def teardown(run: Run) -> None:
    from parquet_importer_spark.sources.postgres_copy import stop_scratch_server

    if run.spark is not None:
        run.spark.stop()
        run.spark = None
    if run.ingest:
        stop_scratch_server()
        run.dsn = None


def stop_jvm() -> None:
    """Shut the driver JVM down and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    SparkContext._gateway = SparkContext._jvm = None
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


def run_op(run: Run, op: wl.Op, gid: str, sf_dir: str, rows: dict[str, int]):
    """One op; returns (source rows consumed, the query's DataFrame or None).

    For a load the source rows are the rows landed in Postgres.
    """
    from parquet_importer_spark.io import read_table
    from parquet_importer_spark.registry import QUERIES
    from parquet_importer_spark.sources.postgres_copy import copy_into_postgres

    t = run.tracer
    sc = run.spark.sparkContext
    sc.setJobGroup(f"{gid}|build", op.name)
    if op.mode:
        df = read_table(run.spark, sf_dir, op.key)
        sc.setJobGroup(f"{gid}|exec", op.name)
        with t.span("postgres_copy.copy_into_postgres"):
            n = copy_into_postgres(df, run.dsn, wl.pg_table(op.key), mode=op.mode)
        if n != rows[op.key]:
            raise RuntimeError(f"loaded {n} rows, expected {rows[op.key]}")
        return n, None
    with t.span("suite.build"):
        df = QUERIES[op.key](run.spark, sf_dir)
    sc.setJobGroup(f"{gid}|exec", op.name)
    with t.span("exec.action"):
        df.write.format("noop").mode("overwrite").save()
    return sum(rows[name] for name in run.op_tables.get(op.name, ())), df


def _source_hook(seen: set):
    def hook(orig, *args, **kwargs):
        seen.add(args[2] if len(args) > 2 else kwargs["name"])
        return orig(*args, **kwargs)

    return hook


def warm_pass(run: Run, warm_dir: str, warm_rows: dict[str, int]) -> None:
    """Every op once on the small table set: compiles the plans' code,
    starts the Python workers, and records each op's source tables."""
    seen: set = set()
    with wl.wrapped_read_table(_source_hook(seen)):
        for op in run.ops:
            seen.clear()
            run.attempted += 1
            try:
                run_op(run, op, f"warm|{op.name}", warm_dir, warm_rows)
            except Exception as exc:  # noqa: BLE001 — a failing op is a result
                run.fail(f"warm:{op.name}", exc)
            run.op_tables[op.name] = sorted(seen)


def pg_value(run: Run, sql: str):
    from parquet_importer_spark.sources.postgres_copy import read_back

    with run.tracer.span("postgres_copy.read_back", op="verify"):
        return read_back(run.spark, run.dsn, sql, "v decimal(38,0)").collect()[0][0]


_WAL_SQL = "SELECT pg_wal_lsn_diff(pg_current_wal_lsn(), '0/0')"


def timed_passes(run: Run, label: str, seconds: float, rng, min_passes: int = 1):
    """Passes while one more of median length ends within ``seconds``;
    returns them and the DataFrames the last pass built."""
    passes, dfs = [], {}
    start = time.perf_counter()

    def another() -> bool:
        if len(passes) < min_passes:
            return True
        typical = statistics.median(p["wall"] for p in passes)
        return time.perf_counter() - start + typical <= seconds

    while another():
        tag = f"{label}{len(passes)}"
        wal0 = pg_value(run, _WAL_SQL) if run.ingest and run.tracer.enabled else None
        lat, rows = {}, 0
        t_pass = time.perf_counter()
        for op in wl.pass_order(run.ops, rng):
            run.attempted += 1
            t0 = time.perf_counter()
            try:
                with run.tracer.span("op", op=f"{tag}:{op.name}"):
                    n, dfs[op.name] = run_op(run, op, f"{tag}|{op.name}", run.sf_dir, run.rows)
            except Exception as exc:  # noqa: BLE001 — a failing op is a result
                run.fail(f"{tag}:{op.name}", exc)
                dfs.pop(op.name, None)
                continue
            lat[op.name] = time.perf_counter() - t0
            rows += n
        p = {"label": tag, "wall": time.perf_counter() - t_pass, "ops": lat, "rows": rows}
        if wal0 is not None:
            p["wal_bytes"] = int(pg_value(run, _WAL_SQL) - wal0)
        passes.append(p)
    return passes, dfs


def check_outputs(run: Run, dfs: dict, oracle: wl.Oracle) -> None:
    """The last timed pass's query results against their oracles."""
    from parquet_importer_spark.registry import ORACLES

    for op in run.ops:
        if op.mode or op.name not in dfs:
            continue
        run.attempted += 1
        run.spark.sparkContext.setJobGroup(f"check|{op.name}|exec", op.name)
        try:
            err = wl.check_query(op.key, dfs[op.name].toPandas(), ORACLES, oracle)
        except Exception as exc:  # noqa: BLE001
            run.fail(f"check:{op.name}", exc)
            continue
        if err:
            run.fail(f"check:{op.name}", err)


def verify_ingest(run: Run, oracle: wl.Oracle) -> int:
    """Postgres-side checks of the loaded tables; returns stored bytes."""
    from parquet_importer_spark.sources.postgres_copy import read_back

    stored = 0
    for table in wl.INGEST_TABLES:
        run.attempted += 1
        copies = 2 if table == wl.APPEND_TABLE else 1
        try:
            with run.tracer.span("postgres_copy.read_back", op="verify"):
                err, size = wl.check_loaded_table(
                    run.spark, run.dsn, run.sf_dir, table, copies, oracle, read_back
                )
        except Exception as exc:  # noqa: BLE001
            run.fail(f"verify:{table}", exc)
            continue
        stored += size
        if err:
            run.fail(f"verify:{table}", err)
    return stored


def per_layer(run, setup_t, untraced, traced, groups, stored_ratio, table_bytes, peak_rss) -> dict:
    """Per-pass layer metrics from the traced passes' spans and event log."""
    n = len(traced)
    spans = [s for s in run.tracer.spans if s.op[:1] == "t" or s.op == "verify"]
    self_t = tr.self_time_by_name(spans)
    verify_s = sum(s.end - s.start for s in spans if s.op == "verify")
    traced_pass = lambda g: g[:1] == "t"  # noqa: E731
    build = tr.total(groups, lambda g: traced_pass(g) and g.endswith("|build"))
    act = tr.total(groups, lambda g: traced_pass(g) and g.endswith("|exec"))
    both = tr.total(groups, traced_pass)
    run_s = both["executor_run_ms"] / 1e3
    cpu_s = both["executor_cpu_ns"] / 1e9
    trace_wall = statistics.median(p["wall"] for p in traced)
    return {
        "session.start_s": setup_t["start"],
        "session.warmup_s": setup_t["warmup"],
        "session.peak_rss_mb": peak_rss,
        "postgres_copy.server_start_s": setup_t["server"],
        "suite.build_s": self_t.get("suite.build", 0.0) / n,
        "suite.build_jobs": build["jobs"] / n,
        "suite.build_tasks": build["tasks"] / n,
        "suite.build_executor_run_s": build["executor_run_ms"] / 1e3 / n,
        "exec.action_s": self_t.get("exec.action", 0.0) / n,
        "exec.jobs": act["jobs"] / n,
        "exec.stages": act["stages"] / n,
        "exec.tasks": act["tasks"] / n,
        "exec.executor_run_s": run_s / n,
        "exec.executor_cpu_s": cpu_s / n,
        "exec.cpu_util": cpu_s / run_s if run_s else 0.0,
        "exec.gc_s": both["gc_ms"] / 1e3 / n,
        "exec.shuffle_write_bytes": both["shuffle_write_bytes"] / n,
        "exec.shuffle_read_bytes": both["shuffle_read_bytes"] / n,
        "exec.shuffle_fetch_wait_s": both["shuffle_fetch_wait_ms"] / 1e3 / n,
        "exec.spill_bytes": both["spill_bytes"] / n,
        "exec.python_bytes": both["python_bytes"] / n,
        "io.read_table_s": self_t.get("io.read_table", 0.0) / n,
        "io.input_rows": both["input_rows"] / n,
        "io.input_bytes": both["input_bytes"] / n,
        "io.scan_tasks": both["scan_tasks"] / n,
        "io.scan_tasks_nonempty": both["scan_tasks_nonempty"] / n,
        "postgres_copy.copy_s": self_t.get("postgres_copy.copy_into_postgres", 0.0) / n,
        "postgres_copy.copy_rows": (sum(p["rows"] for p in traced) / n) if run.ingest else 0.0,
        "postgres_copy.copy_streams": (act["python_tasks"] / n) if run.ingest else 0.0,
        "postgres_copy.copy_streams_nonempty": (
            act["python_tasks_nonempty"] / n if run.ingest else 0.0
        ),
        "postgres_copy.wal_bytes": sum(p.get("wal_bytes", 0) for p in traced) / n,
        "postgres_copy.table_bytes": float(table_bytes),
        "postgres_copy.stored_bytes_ratio": stored_ratio,
        "postgres_copy.read_back_s": verify_s,
        "trace.wall_s": trace_wall,
        "trace.overhead_s": trace_wall - summarize(untraced)["wall_s"],
    }


def _traced_read(tracer: tr.Tracer, orig, *args, **kwargs):
    with tracer.span("io.read_table"):
        return orig(*args, **kwargs)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=wl.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import numpy as np
        import pyspark

        import parquet_importer_spark.suite  # noqa: F401 — registers QUERIES
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {ROOT}: {exc}", file=sys.stderr)
        return 2

    amb0 = ambient()
    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(HERE, ".work")
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    for sub in ("tmp", "local", "eventlog", "stream-ck", "warehouse"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    system_tmp = tempfile.gettempdir()
    tmp = os.path.join(run_dir, "tmp")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["SPARK_GRAFT_STREAM_CK"] = os.path.join(run_dir, "stream-ck")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    # every JVM of the run (spark-submit's launcher too) skips its
    # hsperfdata file, which the JVM writes to /tmp whatever its temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "") + " -XX:-UsePerfData"
    ).strip()

    sf_dir, warm_dir = wl.input_dirs()
    missing = [d for d in (sf_dir, warm_dir) if not os.path.isdir(d)]
    if missing:
        print(f"perfbench: no input tables at {', '.join(missing)}", file=sys.stderr)
        return 2
    fp = wl.fingerprint(sf_dir)
    warm_rows = {t: v["rows"] for t, v in wl.fingerprint(warm_dir).items()}
    run = Run(
        workload=args.workload,
        sf_dir=sf_dir,
        rows={t: v["rows"] for t, v in fp.items()},
        # the scratch cluster runs as the postgres account, which must be
        # able to reach its directory; else it goes to the system temp dir
        pg_tmp=tmp if _others_can_traverse(tmp) else system_tmp,
        tracer=tr.Tracer(enabled=bool(args.trace)),
        ops=wl.ops_for(args.workload),
    )
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    oracle = wl.Oracle(sf_dir, os.path.join(HERE, ".data", "oracle"))
    rng = np.random.default_rng(args.seed)
    traced, groups = [], {}
    phases = {}
    mark = time.perf_counter()

    def phase(name: str) -> None:
        nonlocal mark
        now = time.perf_counter()
        phases[name] = now - mark
        mark = now

    try:
        setup_t = setup(run, conf, (warm_dir, warm_rows))
        phase("setup")
        jvm_pid = run.spark.sparkContext._gateway.proc.pid
        run.tracer.enabled = False
        untraced, dfs = timed_passes(run, "u", args.seconds, rng)
        phase("timed")
        check_outputs(run, dfs, oracle)
        del dfs
        phase("check")
        if args.trace:
            teardown(run)
            trace_conf = dict(conf)
            trace_conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + os.path.join(run_dir, "eventlog"),
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
            run.tracer.enabled = True
            setup(run, trace_conf)
            app_id = run.spark.sparkContext.applicationId
            hook = lambda orig, *a, **k: _traced_read(run.tracer, orig, *a, **k)  # noqa: E731
            with wl.wrapped_read_table(hook):
                traced, _ = timed_passes(run, "t", 0.0, rng, min_passes=len(untraced))
            phase("traced")
        stored_ratio, table_bytes = 0.0, 0
        if run.ingest:
            table_bytes = verify_ingest(run, oracle)
            src = sum(
                fp[t]["bytes"] * (2 if t == wl.APPEND_TABLE else 1) for t in wl.INGEST_TABLES
            )
            stored_ratio = table_bytes / src
            phase("verify")
        peak_rss = vm_hwm_mb(jvm_pid) + vm_hwm_mb("self")
        spark_version = run.spark.version
        teardown(run)
        if args.trace:
            with open(os.path.join(run_dir, "eventlog", app_id)) as fh:
                groups = tr.parse_event_log(fh)
    finally:
        oracle.close()
        if run.spark is not None or run.dsn is not None:
            teardown(run)
        stop_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)
    phase("teardown")

    amb1 = ambient()
    e2e = summarize(untraced)
    e2e["setup_s"] = setup_t["total"]
    trace_path = None
    if args.trace:
        metrics = per_layer(
            run, setup_t, untraced, traced, groups, stored_ratio, table_bytes, peak_rss
        )
        units = PER_LAYER_UNITS
        trace_path = os.path.join(work, f"trace-{args.workload}-seed{args.seed}.json")
        with open(trace_path, "w") as fh:
            json.dump({"spans": run.tracer.to_json(), "job_groups": groups}, fh)
    else:
        metrics = {k: e2e[k] for k in END_TO_END_UNITS}
        units = END_TO_END_UNITS
    failed = len(run.failures)
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "host": {
            "nproc": nproc,
            "spark": spark_version,
            "pyspark": pyspark.__version__,
            "postgres": _version("pg_ctl"),
            "python": platform.python_version(),
            "ambient_start": amb0,
            "ambient_end": amb1,
            "cpu_busy": 1.0 - cpu_share(amb0, amb1, "cpu_idle"),
            # time the hypervisor ran other guests on this VM's CPUs
            "cpu_steal": cpu_share(amb0, amb1, "cpu_steal"),
        },
        "inputs": {"dir": sf_dir, "warm_dir": warm_dir, "tables": fp},
        "phases": phases,
        "setup": setup_t,
        "passes": untraced,
        "traced_passes": traced,
        "op_sources": run.op_tables,
        "op_tail": {"percentile": 100, "samples": e2e["op_samples"]},
        "failed_frac": failed / run.attempted,
        "failures": run.failures,
        "stored_bytes_ratio": stored_ratio,
        "peak_rss_mb": peak_rss,
        "trace_file": trace_path,
    }
    print(json.dumps(detail))
    result = {
        "correct": failed == 0,
        "attempted": run.attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
