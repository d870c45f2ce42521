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
    back from just the files it added, so a batch costs O(batch).
    batch_id is folded into chunk_seq space, so row group identity
    (part_id, chunk_seq) stays unique across batches."""

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import functions as F

        blobs = pipeline.encode_columns(batch_df, columns, chunk_rows=chunk_rows)
        # namespace chunk ids by micro-batch for cross-batch uniqueness
        blobs = blobs.withColumn(
            "chunk_seq",
            (F.lit(int(batch_id)) * F.lit(1 << 32) + F.col("chunk_seq")).cast("long"),
        )
        pipeline.write_encoded(blobs, output_path, mode="append")

    writer = (
        stream_df.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
