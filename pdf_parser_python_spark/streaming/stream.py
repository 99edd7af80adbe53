"""Structured Streaming front-end for the extraction pipeline.

The reference's background worker is a hand-rolled micro-batch engine
(page-at-a-time commits + checkpoint column,
/root/reference/parser/background_worker.py:134-298). Structured
Streaming owns all of that here:

- source: ``readStream`` over the documents table's directory (new
  files = new documents; one row per doc so no cross-batch FSM state);
- transform: the same packed kernel — stateless per row, so the whole
  extraction runs *inside* the streaming query, no foreachBatch needed;
- sink: parquet/Iceberg append with exactly-once via checkpointLocation
  (replaces the reference's delete-before-insert idempotence dance);
- `availableNow` trigger gives the reference's "process the backlog,
  then stop" worker behavior.

Validation aggregates are per-document and arrive with the document,
so they stream too; corpus-level rollups belong in a batch query over
the sink table (they need ALL docs regardless of engine).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from .. import schema
from ..plans import pipeline


def read_documents_stream(
    spark: SparkSession, input_dir: str, with_page: bool = True
) -> DataFrame:
    sch = schema.DOCUMENT_SPANS_EXT if with_page else schema.DOCUMENT_SPANS
    return (
        spark.readStream.schema(sch)
        .option("maxFilesPerTrigger", 16)
        .parquet(input_dir)
    )


def start_extraction(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    available_now: bool = True,
    with_page: bool = True,
) -> StreamingQuery:
    """Launch the incremental extraction job.

    Exactly-once file processing via the checkpoint under output_dir;
    restarting after adding input files processes only the new ones —
    the streaming analogue of plans/lineage.ExtractionJob.
    """
    stream = read_documents_stream(spark, input_dir, with_page)
    # the batch call: it skips the giant-doc probe on a streaming input
    # (no eager job on a stream), and its one mapInArrow stage is
    # stateless per document row
    qs = pipeline.extract_questions(stream)
    writer = (
        qs.writeStream.format("parquet")
        .option("path", os.path.join(output_dir, "questions"))
        .option("checkpointLocation", os.path.join(output_dir, "_checkpoint"))
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_text_documents_stream(
    spark: SparkSession, input_dir: str
) -> DataFrame:
    """Stream of text documents (doc_id, text, ...) from a parquet
    directory — schema taken from a one-time batch footer read (the
    streaming source needs it declared up front)."""
    sch = spark.read.parquet(input_dir).schema
    return (
        spark.readStream.schema(sch)
        .option("maxFilesPerTrigger", 16)
        .parquet(input_dir)
    )


def start_curation(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    available_now: bool = True,
    line_width: int = 10,
    **gate_kw,
) -> StreamingQuery:
    """Incremental curation: the composite keep/drop gate
    (operators/curation.py) over a document stream. The native gate is
    a single map-only projection — stateless per row — so the whole
    verdict computes INSIDE the streaming query with exactly-once file
    processing via the checkpoint; restarting after new corpus files
    arrive gates only the new ones. Batch/streaming parity is
    hash-checked by the streaming_gate driver query against the same
    DuckDB oracle as the batch curation_gate."""
    from pyspark.sql import functions as F

    from ..operators.curation import curation_filter
    from ..operators.repetition import chunked_lines

    stream = read_text_documents_stream(spark, input_dir)
    gate = curation_filter(
        stream, lines=chunked_lines(F.col("text"), line_width), **gate_kw
    )
    writer = (
        gate.writeStream.format("parquet")
        .option("path", os.path.join(output_dir, "verdicts"))
        .option("checkpointLocation", os.path.join(output_dir, "_checkpoint"))
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
