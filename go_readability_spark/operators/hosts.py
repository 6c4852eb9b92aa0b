"""Host-level corpus curation: per-host statistics and blocklist gating.

Web-corpus pipelines curate at the HOST granularity before the document
granularity — spam/SEO farms, link mirrors, and adult-content domains are
identified per host (UT1/Blacklists-style lists), and per-host volume
caps stop a single domain from dominating the training mix. The reference
operates on one page at a time and has no corpus view; these operators
supply it on the pages/documents table.

All host math is pure column expressions (whole-stage codegen, pushdown-
friendly), with regex semantics chosen to be identical in DuckDB so the
driver oracles verify bit-for-bit.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import Column, DataFrame, functions as F

# host = authority minus userinfo and port, lowercased. RE2-compatible
# (no backrefs/lookarounds) so Spark (Java regex) and DuckDB (RE2) agree.
HOST_PATTERN = r"^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]+)"


def host_of_url(url: Column) -> Column:
    """Lowercase registered host of an absolute URL ('' if unparseable —
    kept rather than nulled so bad rows group visibly)."""
    return F.lower(F.regexp_extract(url, HOST_PATTERN, 1))


def host_stats(
    df: DataFrame,
    url_col: str = "url",
    size_col: str | None = None,
) -> DataFrame:
    """(host, n_docs, n_urls[, sum_size]): the corpus roll-up that feeds
    host-cap and spam-triage decisions. One shuffle; count-distinct is
    the only non-trivially-combinable aggregate and Spark executes it as
    the standard two-phase expand — fine at 10^12 rows because the key
    space (hosts) is ~10^8."""
    aggs = [
        F.count("*").alias("n_docs"),
        F.countDistinct(url_col).alias("n_urls"),
    ]
    if size_col is not None:
        aggs.append(F.sum(size_col).alias("sum_size"))
    return (
        df.withColumn("host", host_of_url(F.col(url_col)))
        .groupBy("host")
        .agg(*aggs)
    )


def filter_blocked_hosts(
    df: DataFrame, blocked: list[str], url_col: str = "url"
) -> DataFrame:
    """Drop rows whose host is a blocked domain OR any subdomain of one
    ('spam.example' also blocks 'a.b.spam.example' — list semantics of
    UT1-style blocklists).

    Plan shape: the blocklist is a broadcast side of a left_anti join on
    a suffix condition (BroadcastNestedLoopJoin). That is the right
    physical plan at any corpus size because the blocklist side is small
    (10^4-10^6 names) and broadcast cost is independent of the corpus row
    count; the corpus side streams map-only. For multi-million-entry
    lists, swap to an equi-join on the reversed-host domain ladder — not
    needed at list sizes that exist in practice."""
    if not blocked:
        return df
    norm = sorted({b.strip().lower().lstrip(".") for b in blocked if b.strip()})
    spark = df.sparkSession
    bl = spark.createDataFrame(pa.table({"blocked_host": pa.array(norm, pa.string())}))
    staged = df.withColumn("_bh_host", host_of_url(F.col(url_col)))
    cond = (F.col("_bh_host") == F.col("blocked_host")) | F.col(
        "_bh_host"
    ).endswith(F.concat(F.lit("."), F.col("blocked_host")))
    return staged.join(F.broadcast(bl), cond, "left_anti").drop("_bh_host")
