"""bench.py's event-log ledger: the fastest run's totals per key, and
the serial-plan flag derived from them.

The event log is synthetic (the JSON lines Spark writes for job start,
stage completion and task end), written by a stand-in session on
``stop()`` so :func:`bench.event_log` is exercised without a JVM.
"""

from __future__ import annotations

import json
import os
from types import SimpleNamespace

import bench

_sid = iter(range(1000))


def _job(group: str, tasks_per_stage: list[int], run_ms: int) -> list[dict]:
    """One job in ``group`` whose stages ran the given task counts."""
    sids = [next(_sid) for _ in tasks_per_stage]
    events = [{
        "Event": "SparkListenerJobStart",
        "Properties": {"spark.jobGroup.id": group},
        "Stage Infos": [{"Stage ID": s, "RDD Info": []} for s in sids],
    }]
    for s, n in zip(sids, tasks_per_stage, strict=True):
        events += [
            {
                "Event": "SparkListenerTaskEnd",
                "Stage ID": s,
                "Task Metrics": {"Executor Run Time": run_ms},
            }
        ] * n
        events.append(
            {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": s}}
        )
    return events


EVENTS = [
    # key "wide": run 0 is slow, run 1 fast; both have a 4-task stage
    *_job("bench:wide:0", [4, 1], run_ms=100),
    *_job("bench:wide:1", [4, 1], run_ms=50),
    # key "narrow": every stage ran one task
    *_job("bench:narrow:0", [1, 1], run_ms=10),
    # untagged warm-up
    *_job("", [4], run_ms=1),
]


class _Session:
    def __init__(self, conf: dict[str, str]):
        self.conf = conf
        self.sparkContext = SimpleNamespace(applicationId="local-test")

    def stop(self) -> None:
        log_dir = self.conf["spark.eventLog.dir"].removeprefix("file://")
        with open(os.path.join(log_dir, "local-test"), "w") as fh:
            fh.write("\n".join(json.dumps(e) for e in EVENTS) + "\n")


def test_event_log_ledger_keeps_best_run_and_flags_serial(monkeypatch):
    from parquet_importer_spark import session

    made: list[_Session] = []

    def fake_get_spark(app_name, extra_conf=None):
        made.append(_Session(extra_conf))
        return made[-1]

    monkeypatch.setattr(session, "get_spark", fake_get_spark)
    with bench.event_log("test") as (spark, groups):
        assert groups == {}
    conf = made[0].conf
    assert conf["spark.eventLog.enabled"] == "true"
    assert conf["spark.eventLog.compress"] == "false"
    assert conf["spark.eventLog.rolling.enabled"] == "false"
    assert set(groups) == {"bench:wide:0", "bench:wide:1", "bench:narrow:0", ""}

    ledger = bench.best_run_ledger(groups, {"wide": [2.0, 1.0], "narrow": [0.5]})
    assert ledger["wide"]["executor_run_ms"] == 5 * 50
    assert ledger["wide"]["jobs"] == 1
    assert (ledger["wide"]["stages"], ledger["wide"]["tasks"]) == (2, 5)
    # the other run is the best when its wall is the lower one
    slow_best = bench.best_run_ledger(groups, {"wide": [1.0, 2.0]})
    assert slow_best["wide"]["executor_run_ms"] == 5 * 100

    assert bench.serial_plans(ledger) == ["narrow"]
