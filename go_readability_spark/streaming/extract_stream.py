"""Structured Streaming wrapper: the batch plan's mapInArrow extractor
over a streaming `pages` source (SURVEY.md §1: 'Structured Streaming is
an optional later wrapper (same UDF under foreachBatch)')."""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..plans.extract import make_extractor
from ..plans.schema import ARTICLES_SCHEMA, PAGES_SCHEMA


def read_pages_stream(spark, path: str, max_files_per_trigger: int = 4) -> DataFrame:
    """File-based streaming source over a parquet `pages` directory."""
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def extract_pages_stream(pages_stream: DataFrame,
                         readerable_gate: bool = False) -> DataFrame:
    """Streaming extraction: stateless mapInArrow, so it composes with any
    sink; watermarks aren't needed (per-row transform, no event-time agg).
    ``readerable_gate`` drops pages that fail Check inside that stage."""
    return pages_stream.select("url", "warc_ts", "html").mapInArrow(
        make_extractor(readerable_gate), schema=ARTICLES_SCHEMA)


def run_stream_to_parquet(
    pages_stream: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
    trigger_once: bool = True,
):
    """Write the streaming extraction to parquet with Spark's own streaming
    checkpoint (exactly-once file sink)."""
    articles = extract_pages_stream(pages_stream)
    writer = (
        articles.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
