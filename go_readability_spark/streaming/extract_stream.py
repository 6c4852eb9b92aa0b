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


def read_pages_stream_warc(
    spark, path: str, max_files_per_trigger: int = 4
) -> DataFrame:
    """File-based streaming source over a directory that RECEIVES
    .warc/.warc.gz archives (the continuous-crawl ingestion shape: each
    newly landed archive becomes one micro-batch unit). Same per-archive
    parser and corrupt-archive containment as the batch WARC source."""
    from ..sources.warc import archive_parser, warc_bytes_to_page_rows

    files = (
        spark.readStream.format("binaryFile")
        # streaming file sources require an explicit schema; binaryFile's
        # is fixed by the format
        .schema(
            "path string, modificationTime timestamp, length long, content binary"
        )
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .option("pathGlobFilter", "*.warc*")
        .load(path)
        .select("path", "content")
    )
    return files.mapInPandas(
        archive_parser(warc_bytes_to_page_rows), schema=PAGES_SCHEMA
    )


def extract_pages_stream(pages_stream: DataFrame,
                         readerable_gate: bool = False) -> DataFrame:
    """Streaming extraction: stateless mapInArrow, so it composes with any
    sink; watermarks aren't needed (per-row transform, no event-time agg).
    ``readerable_gate`` drops pages that fail Check inside that stage."""
    return pages_stream.select("url", "warc_ts", "html").mapInArrow(
        make_extractor(readerable_gate), schema=ARTICLES_SCHEMA)


def run_discovery_stream(
    spark,
    index_dir: str,
    warc_base_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    robots: DataFrame | None = None,
    agent: str = "*",
    max_files_per_trigger: int = 4,
    trigger_once: bool = True,
    readerable_gate: bool = False,
    seen_bloom_dir: str | None = None,
):
    """Continuous-crawl discovery: CDXJ index shards landing in
    `index_dir` stream through selection -> (optional robots gate) ->
    byte-range fetch -> extraction — the streaming composition of the
    batch crawl loop (crawl-plan + crawl-fetch CLIs).

    `readerable_gate=True` runs the cheap Check
    (readability/check.py check_document, the reference's
    parser-check.go fast path) inside the extraction stage and drops a
    page that fails it before any scoring: on real crawls most fetched
    pages are link farms, stubs, and boilerplate shells that Check
    rejects for a fraction of the cost of running the full
    candidate-scoring pipeline on them. Gated pages are dropped
    entirely (they would exit curation at the `readerable` gate
    anyway); leave the flag off to keep the every-page extraction
    record.

    `seen_bloom_dir` points at a persistent sharded Bloom store
    (operators/bloom.py bloom_store_*): each micro-batch drops urls the
    store marks maybe-seen BEFORE fetching, and records its own
    (robots-allowed) plan urls AFTER writing the batch output — the
    streaming composition of `crawl-plan --seen-bloom` / `crawl-fetch
    --record-seen-bloom`.  "Attempted" is the recorded set (see the CLI
    rationale); re-recording on a replayed batch is a Bloom-OR no-op,
    so the sink stays idempotent, and the versioned store keeps a
    concurrent reader's files alive.

    Each micro-batch OVERWRITES its own `output_dir/batch=<id>`
    partition, so a retried batch is idempotent — the foreachBatch
    analog of the atomic sink's bucket renames.  Newest-good capture
    selection runs per micro-batch (an index shard is one crawl
    segment's captures); cross-segment url-level dedup is the
    downstream snapshot dedup (operators/snapshots.py latest_snapshot)
    or the Bloom seen-filter (operators/bloom.py), both batch
    operators over the accumulated output."""
    from ..sources.cdx import cdx_fetch_plan, parse_cdxj
    from ..sources.warc import pages_from_fetch_plan

    lines = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(index_dir)
        .withColumnRenamed("value", "line")
    )

    def sink(batch_df, batch_id):
        sess = batch_df.sparkSession
        plan = cdx_fetch_plan(parse_cdxj(batch_df))
        if robots is not None:
            from ..operators.robots import filter_by_robots, robots_rules

            plan = filter_by_robots(plan, robots_rules(robots), agent=agent)
        if seen_bloom_dir is not None:
            from ..operators.bloom import (
                bloom_store_exists,
                bloom_store_read,
                filter_unseen_sharded,
            )

            if bloom_store_exists(seen_bloom_dir):
                filt, meta = bloom_store_read(sess, seen_bloom_dir)
                plan = filter_unseen_sharded(
                    plan, filt, key_col="url", n_shards=meta["n_shards"],
                    bits_per_shard=meta["bits_per_shard"], k=meta["k"])
        pages = pages_from_fetch_plan(plan, warc_base_dir)
        arts = extract_pages_stream(pages, readerable_gate=readerable_gate)
        arts.write.mode("overwrite").parquet(
            f"{output_dir}/batch={batch_id}")
        if seen_bloom_dir is not None:
            from ..operators.bloom import bloom_store_record

            bloom_store_record(sess, seen_bloom_dir,
                               plan.select("url").distinct())

    writer = (
        lines.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


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
