"""Structured Streaming extraction.

The reference has no streaming surface (SURVEY.md §2.7); this is the
Spark-native extension: the SAME fused Arrow stage
(``operators.extract.extract``) applied to an unbounded source.
``mapInArrow`` is a stateless narrow map, so it composes with any
streaming source/sink, needs no watermark, and checkpointing comes from
the engine (exactly-once file sink via the streaming commit log --
complementing the batch-side manifest resume in ``sources.checkpoint``).

At production scale the source is Kafka or an Iceberg streaming read;
here the file source stands in, and ``Trigger.AvailableNow`` makes tests
deterministic.
"""

from __future__ import annotations

from pyspark.sql.pandas.types import from_arrow_schema

from ..operators.extract import extract
from ..sources.synthesis import SPANS_SCHEMA


def run_file_stream(spark, source_dir, out_dir, checkpoint_dir,
                    source_schema=None, model=None):
    """File-source -> parquet-sink streaming job, one availableNow pass.

    Returns the StreamingQuery (already awaited to termination)."""
    schema = source_schema or from_arrow_schema(SPANS_SCHEMA)
    src = spark.readStream.schema(schema).parquet(source_dir)
    out = extract(src, model)
    q = (out.writeStream
         .format('parquet')
         .option('path', out_dir)
         .option('checkpointLocation', checkpoint_dir)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return q
