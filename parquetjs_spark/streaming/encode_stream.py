"""Streaming encode — the ParquetTransformer analogue
(/root/reference/lib/writer.js:259-288: rows in -> encoded bytes out,
back-pressure via the stream) re-expressed as Structured Streaming with
``foreachBatch``: each micro-batch runs the same vectorized encode stage
and appends through ``pipeline.write_encoded``; checkpointing gives
exactly-once appends, which composes with the manifest anti-join resume
(the stream IS the checkpointed writer the reference's Transform stream
approximates).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from .. import pipeline


def encode_stream(
    stream_df: DataFrame,
    output_path: str,
    checkpoint_path: str,
    columns: list[str] | None = None,
    chunk_rows: int = pipeline.DEFAULT_CHUNK_ROWS,
    trigger_once: bool = False,
) -> StreamingQuery:
    """Start a streaming encode of `stream_df` (a readStream DataFrame).

    Each micro-batch: encode -> ``pipeline.write_encoded(mode="append")``,
    which writes the batch's blobs once and appends the manifest read
    back from just the files it added.  The append gives the batch's
    row groups identities (part_id, chunk_seq) disjoint from those
    already committed (a part_id the table holds moves to the next
    chunk_seq generation), which reads the manifest's two identity
    columns: O(table) on the driver, no Spark job on ``file:``."""

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        blobs = pipeline.encode_columns(batch_df, columns, chunk_rows=chunk_rows)
        pipeline.write_encoded(blobs, output_path, mode="append")

    writer = (
        stream_df.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
