"""Streaming drains: the state-store partition count follows the host."""

from __future__ import annotations

from pyspark.sql.streaming.readwriter import DataStreamWriter


def test_stateful_drain_sizes_state_to_the_host(spark, monkeypatch):
    """A memory-sink drain's stateful operators get one state partition
    per core, not one per batch shuffle partition (8 in this session),
    and the session's shuffle setting is left as it was."""
    from parquet_importer_spark.suite.streaming import stream_watermark_run

    started = []
    start = DataStreamWriter.start

    def recording_start(self, *args, **kwargs):
        started.append(start(self, *args, **kwargs))
        return started[-1]

    monkeypatch.setattr(DataStreamWriter, "start", recording_start)
    before = spark.conf.get("spark.sql.shuffle.partitions")
    assert stream_watermark_run(spark, "/root/testdata/sf0.001").count() > 0
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    (q,) = started
    ops = q.lastProgress["stateOperators"]
    assert len(ops) == 2  # dropDuplicates and the window aggregate
    cores = spark.sparkContext.defaultParallelism
    assert [op["numShufflePartitions"] for op in ops] == [cores, cores]
