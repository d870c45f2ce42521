"""Streaming decode — the read-side complement of encode_stream (the
reference's cursor, /root/reference/lib/reader.js:51-67, driven by a
stream): new blob files appended by a running encode_stream are decoded
back to value rows as they land.

``readStream`` over the blobs directory + ``foreachBatch`` running the
same vectorized decode stage per micro-batch; checkpointing gives
exactly-once decode of each appended row group, so an encode stream and
a decode stream form a durable, resumable pipe whose unit of progress
is the row group.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from .. import pipeline


def decode_stream(
    spark: SparkSession,
    encoded_path: str,
    output_path: str,
    checkpoint_path: str,
    column: str,
    trigger_once: bool = False,
) -> StreamingQuery:
    """Start a streaming decode of one column from ``encoded_path``/blobs.

    The stream's schema comes from the table as it is when the stream
    starts (``pipeline.read_encoded``), and with it the column map that
    each micro-batch decodes by (``pipeline.blob_schema``)."""
    table = pipeline.read_encoded(spark, encoded_path)
    stream = spark.readStream.schema(table.schema).parquet(f"{encoded_path}/blobs")

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        out = pipeline.decode_table(batch_df, [column])
        out.write.mode("append").parquet(output_path)

    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
