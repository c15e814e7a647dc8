"""Incremental parquet import — the reference's chunked loop, re-done as
Structured Streaming.

Reference semantics being reproduced (app.py:94-193): bounded-memory
incremental flow, first-batch DDL mode then append (app.py:109/178/186),
per-batch progress (app.py:185-193). ``Trigger.AvailableNow`` drains the
source then stops — the batch-import shape — while the same pipeline
keeps running continuously against a live directory at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from parquet_importer_spark.io import read_stream


def incremental_parquet_import(
    spark: SparkSession,
    source_dir: str,
    dest_dir: str,
    checkpoint_dir: str,
    mode: str = "replace",
) -> dict[str, int]:
    """Stream parquet files from ``source_dir`` into ``dest_dir``.

    Micro-batches arrive via foreachBatch; the first batch applies the
    user's mode (fail/replace/append), later batches force append —
    byte-for-byte the reference's first-chunk dance (app.py:109-186),
    but with checkpointed exactly-once file tracking instead of hope.
    Returns progress counters (the app.py:185-193 analog).
    """
    from parquet_importer_spark.sources.sinks import IF_EXISTS_TO_SAVEMODE

    stream = read_stream(spark, source_dir)

    progress = {"batches": 0, "rows": 0}
    first_mode = IF_EXISTS_TO_SAVEMODE[mode]

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        save_mode = first_mode if progress["batches"] == 0 else "append"
        batch_df.write.mode(save_mode).parquet(dest_dir)
        progress["batches"] += 1
        progress["rows"] += batch_df.count()

    (
        stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return progress
