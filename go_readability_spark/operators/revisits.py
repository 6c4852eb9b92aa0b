"""WARC revisit resolution — materialize server-side dedup pointers.

Common Crawl (and every ISO-28500 crawler that deduplicates) writes a
body-less `revisit` record when a re-fetch returns a payload it already
stored: the record carries the URL + timestamp of the visit and the
WARC-Payload-Digest of the original content (WARC/1.1 §6.7.2).  A real
snapshot is 10-30% revisits, so a pipeline that reads only `response`
records silently loses those URLs from the corpus — wrong host counts,
wrong dedup statistics, wrong URL universes for the link graph.

`resolve_revisits` turns the full-fidelity record table
(sources/warc.py records_from_warc) back into pages: revisit rows join
the stored payloads on digest.  Relational shape at 10^12 records:

  * one groupBy(digest) with map-side partial agg picks THE canonical
    payload per digest (payloads sharing a digest are identical by
    construction; min-by-url keeps the pick deterministic) — the canon
    table has one row per distinct payload, orders of magnitude smaller
    than the record table;
  * one equi-join revisits × canon on digest.  A viral page revisited
    10^6 times fans out 10^6 × 1 (one canon row per digest) — linear,
    never quadratic.  Spark broadcasts the canon side when it fits.

The reference library has no archive layer (reference N/A — LLM-data-ops
surface on top of extraction parity, like sources/warc.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def resolve_revisits(records: DataFrame,
                     keep_responses: bool = True) -> DataFrame:
    """Pages-shaped (url, warc_ts, html, text, lang) rows with every
    resolvable revisit materialized against its stored payload.

    Responses ride through unchanged (keep_responses=True, the corpus
    view); revisits whose digest was never stored in this record set are
    dropped — at crawl scale the referred record can live in an earlier
    snapshot, so unresolvable pointers are a join against the historical
    digest index, not an error."""
    null_s = F.lit(None).cast("string")
    responses = records.where(
        (F.col("record_type") == "response") & F.col("html").isNotNull())
    canon = (
        responses.where(F.col("digest").isNotNull())
        .groupBy("digest")
        .agg(F.min_by("html", "url").alias("html"))
    )
    revisits = records.where(
        (F.col("record_type") == "revisit") & F.col("digest").isNotNull())
    resolved = (
        revisits.select("url", "warc_ts", "digest")
        .join(canon, "digest")
        .select("url", "warc_ts", "html",
                null_s.alias("text"), null_s.alias("lang"))
    )
    if not keep_responses:
        return resolved
    return responses.select(
        "url", "warc_ts", "html", null_s.alias("text"), null_s.alias("lang")
    ).unionByName(resolved)
