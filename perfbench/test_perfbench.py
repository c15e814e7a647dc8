"""The benchmark's own tests: python3 -m pytest perfbench -q"""

from __future__ import annotations

import json
import os
import sys
from types import SimpleNamespace

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run as bench  # noqa: E402
import spans as tr  # noqa: E402
import workloads as wl  # noqa: E402


def _benchmark_json() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_names_and_units_match_benchmark_json():
    spec = _benchmark_json()
    assert [w["name"] for w in spec["workloads"]] == list(wl.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == bench.END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == bench.PER_LAYER_UNITS


def _synthetic_passes():
    return [
        {"label": "u0", "wall": 3.0, "ops": {"a": 1.0, "b": 2.0}, "rows": 30},
        {"label": "u1", "wall": 5.0, "ops": {"a": 2.0, "b": 3.0}, "rows": 30},
    ]


def test_printed_metrics_cover_every_declared_metric():
    e2e = bench.summarize(_synthetic_passes())
    assert e2e["wall_s"] == 4.0
    assert e2e["op_p50_s"] == 2.0
    assert e2e["op_tail_s"] == 2.5  # median over passes of the slowest op
    assert e2e["rows_per_s"] == pytest.approx((10.0 + 6.0) / 2)
    assert set(bench.END_TO_END_UNITS) <= set(e2e) | {"setup_s"}

    tracer = tr.Tracer()
    with tracer.span("op", op="t0:a"), tracer.span("suite.build"):
        pass
    run = SimpleNamespace(tracer=tracer, ingest=False)
    setup_t = {"start": 0.1, "warmup": 0.5, "server": 0.0, "total": 0.6}
    traced = [dict(p, label=p["label"].replace("u", "t")) for p in _synthetic_passes()]
    groups = {"t0|a|build": tr._new_group(), "t0|a|exec": tr._new_group()}
    m = bench.per_layer(run, setup_t, _synthetic_passes(), traced, groups, 0.0, 0, 900.0)
    assert set(m) == set(bench.PER_LAYER_UNITS)
    assert m["trace.overhead_s"] == 0.0


def test_self_time_on_synthetic_span_tree():
    def span(name, start, end, parent):
        return tr.Span(name, start, end, parent, "op1")

    spans = [
        span("op", 0.0, 10.0, None),
        span("suite.build", 1.0, 6.0, 0),
        span("io.read_table", 2.0, 3.0, 1),
        span("io.read_table", 2.5, 4.0, 1),  # overlaps its sibling
        span("exec.action", 6.0, 9.5, 0),
        span("io.read_table", 9.0, 11.0, 4),  # runs past its parent's end
    ]
    assert tr.self_times(spans) == pytest.approx([1.5, 3.0, 1.0, 1.5, 3.0, 2.0])
    by_name = tr.self_time_by_name(spans)
    assert by_name["io.read_table"] == pytest.approx(4.5)
    assert by_name["op"] == pytest.approx(1.5)


def test_tracer_records_parent_and_op():
    t = tr.Tracer()
    with t.span("op", op="p0:x"):
        with t.span("suite.build"):
            pass
    assert [(s.name, s.parent, s.op) for s in t.spans] == [
        ("op", None, "p0:x"),
        ("suite.build", 0, "p0:x"),
    ]
    off = tr.Tracer(enabled=False)
    with off.span("op"):
        pass
    assert off.spans == []


def test_wrong_expected_value_counts_as_failed_not_crashed():
    sys.path.insert(0, bench.ROOT)
    import parquet_importer_spark.suite  # noqa: F401 — registers the oracles

    class FakeOracle:
        def expected(self, sql):
            return {"columns": ["k", "v"], "rows": [["1", "2.5"]]}

    class FakeFrame:
        def __init__(self, pdf):
            self.pdf = pdf

        def toPandas(self):
            return self.pdf

    class Boom:
        def toPandas(self):
            raise RuntimeError("executor lost")

    key = wl.LLM[0]
    run = bench.Run(
        workload="llm_pipeline",
        sf_dir="",
        rows={},
        pg_tmp="",
        tracer=tr.Tracer(enabled=False),
        ops=[wl.Op(key, key), wl.Op("other", wl.LLM[1])],
        spark=SimpleNamespace(sparkContext=SimpleNamespace(setJobGroup=lambda *a: None)),
    )
    dfs = {key: FakeFrame(pd.DataFrame({"k": [1], "v": [2.75]})), "other": Boom()}
    bench.check_outputs(run, dfs, FakeOracle())
    assert run.attempted == 2
    assert len(run.failures) == 2
    assert "first differing row" in run.failures[0]
    assert "executor lost" in run.failures[1]


def test_canonical_compare_is_order_insensitive():
    a = wl.canonical(pd.DataFrame({"x": [2, 1], "y": [0.5, None]}))
    b = wl.canonical(pd.DataFrame({"y": [None, 0.5], "x": [1, 2]}))
    assert wl.mismatch(a, b) is None
    c = wl.canonical(pd.DataFrame({"x": [1, 2], "y": [None, 0.25]}))
    assert wl.mismatch(a, c).startswith("first differing row")


def test_pass_order_is_seeded_and_keeps_append_last():
    import numpy as np

    ops = wl.ops_for("ingest_pg")
    a = wl.pass_order(ops, np.random.default_rng(7))
    b = wl.pass_order(ops, np.random.default_rng(7))
    assert a == b
    assert a[-1].mode == "append"
    assert sorted(o.name for o in a) == sorted(o.name for o in ops)


def test_event_log_parser_handles_one_tiny_job(tmp_path):
    """A real Spark job (parquet scan, Python mapInPandas, one shuffle)
    with the event log on, parsed per job group.  One of the two input
    files holds no rows, so one scan task and one Python task are empty."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pyspark = pytest.importorskip("pyspark")
    src = tmp_path / "t"
    src.mkdir()
    table = pa.table({"k": list(range(100)), "v": [1.0] * 100})
    pq.write_table(table, src / "full.parquet")
    pq.write_table(table.slice(0, 0), src / "empty.parquet")
    evdir = tmp_path / "ev"
    evdir.mkdir()
    spark = (
        pyspark.sql.SparkSession.builder.master("local[1]")
        .appName("perfbench-test")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", "file://" + str(evdir))
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .config("spark.sql.shuffle.partitions", "2")
        # one scan task per file
        .config("spark.sql.files.openCostInBytes", str(1 << 30))
        .getOrCreate()
    )
    try:
        app = spark.sparkContext.applicationId
        spark.sparkContext.setJobGroup("t0|tiny|exec", "tiny")

        def ident(batches):
            yield from batches

        df = spark.read.parquet(str(src)).mapInPandas(ident, "k long, v double")
        assert df.groupBy((df.k % 3).alias("g")).count().count() == 3
    finally:
        spark.stop()
    with open(evdir / app) as fh:
        groups = tr.parse_event_log(fh)
    g = groups["t0|tiny|exec"]
    assert g["jobs"] >= 1 and g["stages"] >= 2 and g["tasks"] >= 2
    assert g["input_rows"] == 100
    assert g["scan_tasks"] == 2 and g["scan_tasks_nonempty"] == 1
    assert g["shuffle_write_bytes"] > 0 and g["shuffle_read_bytes"] > 0
    assert g["python_bytes"] > 0
    assert g["python_tasks"] == 2 and g["python_tasks_nonempty"] == 1
    assert g["executor_run_ms"] >= 0 and g["executor_cpu_ns"] > 0
    total = tr.total(groups, lambda gid: gid.startswith("t0|"))
    assert total["tasks"] == g["tasks"]
