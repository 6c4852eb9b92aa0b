"""CDXJ crawl-index source: SURT keys, record parse, fetch-plan selection.

A 100-TB Common Crawl pipeline does NOT start by scanning WARC bytes —
it starts from the (public) CDXJ capture index: one line per capture,

    <urlkey> <timestamp14> {"url": ..., "mime": ..., "status": ...,
                            "digest": ..., "length": ..., "offset": ...,
                            "filename": ...}

selects the captures worth fetching (dedup to the newest good HTML
capture per canonical key), and only then issues byte-range reads
against the named WARC members.  That selection is 3 orders of
magnitude cheaper than scanning archives: the index is ~1% of the
corpus bytes and the fetch plan prunes most of the rest.  The reference
library has no index layer (reference N/A — LLM-data-ops surface on top
of extraction parity, like sources/warc.py).

Everything is pure column expressions with DuckDB-identical semantics,
so the driver oracle verifies the parse + SURT + selection bit-for-bit
against a closed form (see __spark_entry__ `cdx_fetch_plan`).

SURT (Sort-friendly URI Reordering Transform — the public convention
used by OpenWayback/pywb and the Common Crawl index) as implemented
here, each step documented because variants exist:
  1. drop the scheme and userinfo, lowercase the rest of the URL
  2. drop the port and a leading `www.`
  3. reverse the host on dots with commas: docs.example.org ->
     org,example,docs
  4. append `)` + path (default `/`) + `?` + alphabetically sorted
     query (empty params dropped; unlike functions/urls.py
     canonical_url, tracking params are KEPT — an index key must not
     merge captures the crawler stored separately)

Scale notes:
  * parse + surt are map-only (one stage, no shuffle).
  * `cdx_fetch_plan` is ONE hash shuffle on urlkey (row_number window);
    the output is one row per kept capture — the driver never sees more
    than the fetch list it would hand to the range-fetch stage.
  * A fetch plan groups naturally by `filename` for locality:
    `.repartition("filename")` co-locates all ranges of one archive.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

_SCHEME_AUTH = r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*"
_HOST = r"^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]+)"


def surt_key(url: Column) -> Column:
    """SURT index key for a URL column (see module docstring for the
    exact variant). Pure column expressions; DuckDB twin in
    __spark_entry__ uses list_reverse/string_split/list_sort."""
    host = F.lower(F.regexp_extract(url, _HOST, 1))
    host = F.regexp_replace(host, r"^www\.", "")
    rev = F.array_join(F.reverse(F.split(host, r"\.")), ",")
    tail = F.lower(F.regexp_replace(
        F.regexp_replace(url, "#.*$", ""), _SCHEME_AUTH, ""))
    path = F.when(tail == "", F.lit("/")).otherwise(
        F.regexp_extract(tail, r"^([^?]*)", 1))
    path = F.when(path == "", F.lit("/")).otherwise(path)
    q0 = F.when(tail.contains("?"),
                F.regexp_extract(tail, r"^[^?]*\?(.*)$", 1)).otherwise(F.lit(""))
    q = F.array_join(
        F.array_sort(F.filter(F.split(q0, "&"), lambda x: x != "")), "&")
    return F.concat(
        rev, F.lit(")"), path,
        F.when(q == "", F.lit("")).otherwise(F.concat(F.lit("?"), q)),
    )


def parse_cdxj(lines: DataFrame, line_col: str = "line") -> DataFrame:
    """(urlkey, ts, url, mime, status, digest, length, offset, filename)
    from raw CDXJ lines.  Malformed lines (no 14-digit timestamp or no
    JSON body) yield NULL fields rather than failing the task — an index
    shard with a truncated tail must not kill the job."""
    line = F.col(line_col)
    urlkey = F.regexp_extract(line, r"^(\S+) (\d{14}) (\{.*\})\s*$", 1)
    ts = F.regexp_extract(line, r"^(\S+) (\d{14}) (\{.*\})\s*$", 2)
    js = F.regexp_extract(line, r"^(\S+) (\d{14}) (\{.*\})\s*$", 3)
    nn = lambda c: F.when(c == "", None).otherwise(c)  # noqa: E731
    return lines.select(
        nn(urlkey).alias("urlkey"),
        nn(ts).alias("ts"),
        F.get_json_object(js, "$.url").alias("url"),
        F.get_json_object(js, "$.mime").alias("mime"),
        F.get_json_object(js, "$.status").cast("int").alias("status"),
        F.get_json_object(js, "$.digest").alias("digest"),
        F.get_json_object(js, "$.length").cast("long").alias("length"),
        F.get_json_object(js, "$.offset").cast("long").alias("offset"),
        F.get_json_object(js, "$.filename").alias("filename"),
    )


def cdx_fetch_plan(cdx: DataFrame, mime: str = "text/html",
                   status: int = 200) -> DataFrame:
    """Newest good capture per urlkey -> the byte-range fetch list.

    Filter first (most captures are redirects/404s/non-HTML — the
    predicate prunes before the shuffle), then ONE row_number window
    per urlkey ordered by (ts desc, url, filename, offset) — the
    trailing keys make the pick deterministic when a crawler recorded
    two captures in the same second."""
    good = cdx.where(
        (F.col("status") == status) & (F.col("mime") == mime)
        & F.col("urlkey").isNotNull()
    )
    w = Window.partitionBy("urlkey").orderBy(
        F.col("ts").desc(), F.col("url"), F.col("filename"), F.col("offset"))
    return (
        good.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn", "mime", "status")
    )
