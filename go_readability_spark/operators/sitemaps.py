"""Sitemap protocol parsing (sitemaps.org, public spec): urlset
documents to relational rows.

Completes the crawl-discovery chain robots.txt -> sitemap fetch -> THIS
parser -> url frontier (operators/robots.py frontier_schedule).  The reference
library has no crawl layer (reference N/A — LLM-data-ops surface).

Sitemaps are machine-generated XML with a tiny fixed grammar, so the
parse is regex-per-element — each <url> element is extracted
whole, then its child tags are picked out.  That keeps the whole parse
in JVM codegen (regexp_extract_all + explode, no Python, no XML
library) and is robust to the real-world mess sitemaps exhibit
(attribute-bearing roots, namespace prefixes, whitespace around
values).  A full XML parser would be wasted here: the spec forbids
nested <url> elements and entities beyond the five XML built-ins.

Scale: map-only per sitemap document (explode fans out to <=50,000
url entries per the spec cap — bounded row fan-out per input row).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# Whole <url> elements ((?s): values may wrap lines). Optional namespace
# prefix on tags, e.g. <sm:url>.
_URL_EL = r"(?is)<(?:\w+:)?url\s*>.*?</(?:\w+:)?url\s*>"


def _child(el, tag):
    """Trimmed text of the first <tag> child, XML built-in entities
    unescaped; '' when absent (mapped to NULL by callers)."""
    raw = F.regexp_extract(
        el, rf"(?is)<(?:\w+:)?{tag}\s*>\s*(.*?)\s*</(?:\w+:)?{tag}\s*>", 1)
    for ent, ch in (("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
                    ("&apos;", "'"), ("&amp;", "&")):  # &amp; LAST
        raw = F.replace(raw, F.lit(ent), F.lit(ch))
    return raw


def parse_sitemap(sitemaps: DataFrame, host_col: str = "host",
                  xml_col: str = "sitemap_xml") -> DataFrame:
    """(host, loc, lastmod, changefreq, priority) — one row per <url>
    entry.  Entries with no <loc> are dropped (spec: loc is required);
    the optional fields are NULL when absent, priority is a try_cast
    (a malformed priority in one sitemap must not fail the stage)."""
    el = F.col("el")
    nn = lambda c: F.when(c == "", None).otherwise(c)  # noqa: E731
    return (
        sitemaps.select(
            F.col(host_col).alias("host"),
            F.explode(
                F.regexp_extract_all(F.col(xml_col), F.lit(_URL_EL), 0)
            ).alias("el"),
        )
        .select(
            "host",
            nn(_child(el, "loc")).alias("loc"),
            nn(_child(el, "lastmod")).alias("lastmod"),
            nn(_child(el, "changefreq")).alias("changefreq"),
            # try_cast: a malformed priority is NULL, never a task error
            _child(el, "priority").try_cast("double").alias("priority"),
        )
        .where(F.col("loc").isNotNull())
    )
