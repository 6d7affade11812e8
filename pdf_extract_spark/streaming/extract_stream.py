"""Streaming extraction: the flagship PDF→span operator as a Structured
Streaming job.

The reference's closest analogue is the batch-file mode that tails a
work list into a thread pool (S3, PDFExtract.java:453-516). Here newly
arriving files of interleaved documents are discovered by a file-source
stream and flow through the SAME ``extract_spans`` narrow map used in
batch (``mapInArrow`` is streaming-safe: stateless, one output row per
input row), with exactly-once sink semantics from the checkpoint — the
streaming twin of the batch pipeline's lineage/resume (a failed run
restarts from the last committed micro-batch instead of anti-joining).

Scale notes: the file source lists new files per trigger
(``maxFilesPerTrigger`` bounds micro-batch size → bounded executor
memory with payload-heavy rows); no shuffle anywhere in the query plan,
so state is only the source's file log.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StringType, StructField, StructType

from ..plans.pipeline import SPAN_TYPE, extract_spans

INPUT_SCHEMA = StructType(
    [StructField("doc_id", StringType()), StructField("spans", SPAN_TYPE)]
)


def extract_docs_stream(
    spark: SparkSession,
    input_dir: str,
    config: dict | None = None,
    max_pages: int | None = None,
    max_files_per_trigger: int | None = None,
    sj_model=None,
    time_budget_s: float | None = None,
) -> DataFrame:
    """Streaming DataFrame of extracted documents from a parquet
    directory of interleaved (doc_id, spans) files."""
    reader = spark.readStream.schema(INPUT_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    sdf = reader.parquet(input_dir)
    # num_partitions stays None: repartition on a stream would shuffle;
    # scan granularity is the parallelism lever, as in batch
    return extract_spans(sdf, config=config, max_pages=max_pages,
                         sj_model=sj_model, time_budget_s=time_budget_s)


def run_extract_stream(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    **extract_kwargs,
) -> None:
    """Run the streaming extraction to a parquet sink with exactly-once
    checkpointing. ``available_now=True`` drains what exists and stops
    (the catch-up / backfill mode); False tails the directory forever."""
    out = extract_docs_stream(spark, input_dir, **extract_kwargs)
    writer = (
        out.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
    else:
        q = writer.start()
    q.awaitTermination()
