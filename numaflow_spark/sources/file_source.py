"""File source: streaming replay of a parquet directory.

The replay source is the test-harness analogue of the reference's e2e input
pumps (SURVEY.md §5): a directory of parquet part-files consumed
``maxFilesPerTrigger`` at a time gives deterministic micro-batches, the way
numaflow reads ``readBatchSize``(=500, const.go:185) messages per cycle.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def replay_stream(
    spark: SparkSession,
    directory: str,
    *,
    schema=None,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """Streaming read over a directory of parquet files, one batch per
    ``max_files_per_trigger`` files. Schema is required by the streaming file
    source; pass the batch scan's schema for the same directory."""
    if schema is None:
        schema = spark.read.parquet(directory).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(directory)
    )


def write_replay_batches(
    df: DataFrame, directory: str, *, batches: int, order_col: str
) -> str:
    """Materialize a DataFrame as N ordered parquet files so replay_stream
    feeds them as N deterministic micro-batches (arrival order = order_col,
    mirroring per-partition FIFO offsets, FIXTURES.md)."""
    os.makedirs(directory, exist_ok=True)
    pdf = df.orderBy(order_col).toPandas()
    n = len(pdf)
    per = max(1, (n + batches - 1) // batches)
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    t0 = time.time_ns()
    for i in range(batches):
        chunk = pdf.iloc[i * per : (i + 1) * per]
        if len(chunk) == 0:
            break
        path = os.path.join(directory, f"batch-{i:04d}.parquet")
        pq.write_table(
            pa.Table.from_pandas(chunk, preserve_index=False),
            path,
            # micro (not nano) timestamps so the files read back as
            # TimestampType under the engine's nanosAsLong setting
            coerce_timestamps="us",
            allow_truncated_timestamps=True,
        )
        # The streaming file source replays files in modification-time
        # order, at millisecond resolution; files written within one
        # millisecond tie and then replay in directory-listing order.
        # One-second steps keep the replay in batch order.
        mtime = t0 + i * 1_000_000_000
        os.utime(path, ns=(mtime, mtime))
    return directory
