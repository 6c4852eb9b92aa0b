"""Link-graph operators: anchor extraction, host graph, PageRank.

A Common-Crawl-scale curation pipeline uses the link graph as a quality
signal (host-level rank gates URL selection in C4/RefinedWeb-style
corpora) and for frontier scheduling.  The reference library extracts one
page at a time and has no graph layer (reference N/A — this is the
LLM-data-ops surface BASELINE.json's north rule asks for on top of
extraction parity); everything here is pure JVM column expressions plus
standard joins, no Python in the hot path.

Scale notes (10^12 pages, ~10^8 hosts):
  * `extract_links` is map-only (regexp_extract_all + explode); the only
    shuffle anywhere below is the groupBy in `host_graph` (partial
    aggregation applies — the map side collapses each page's ~50 links to
    per-host-pair counts before exchanging).
  * mega-host skew (30%+ of a crawl links to a handful of CDNs) lands on
    the groupBy reduce side, where AQE skew-join/partial agg handles it;
    the pair key (src_host, dst_host) is already finer than dst_host
    alone.
  * `host_rank` is one equi-join + groupBy per iteration over the HOST
    graph (orders of magnitude smaller than the page graph).  Iterations
    extend lineage linearly; at real scale persist + localCheckpoint the
    rank table every few rounds (the loop takes `checkpoint_every` for
    exactly that — default off at test scale).

href resolution is deliberately bounded: absolute http(s), protocol-
relative (//host/...), root-relative (/path), and same-directory relative
links are resolved; fragments, javascript:, mailto:, data:, tel: and
empty hrefs are dropped; `../` segments are NOT normalized (a crawl
frontier canonicalizes separately — functions/urls.py).  The quote
grammar accepts "..." or '...' (via a [^"'] value class: an href whose
value itself mixes quote characters is skipped, which is the safe
direction for a crawler).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# group 1 = href value for "..." or '...' quoted anchors (case-insensitive
# tag/attr). Java regex; the oracle never duplicates this — driver queries
# verify extraction against PLANTED ground-truth links instead.
HREF_PATTERN = "(?i)<a\\s[^>]*?href\\s*=\\s*[\"']([^\"']*)[\"']"

_DROP_SCHEMES = "^(javascript:|mailto:|data:|tel:|#)"


# First <base href> of the document (HTML spec: only the first counts).
BASE_PATTERN = "(?i)<base\\s[^>]*?href\\s*=\\s*[\"']([^\"']*)[\"']"


def extract_links(pages: DataFrame, url_col: str = "url",
                  html_col: str = "html") -> DataFrame:
    """(src, href, base) for every quoted <a href> occurrence, document
    order; `base` is the page's first <base href> (NULL when absent —
    the common case), which resolve_links honors for relative hrefs.
    Map-only; html may be binary (cast) or string."""
    html_str = F.col(html_col).cast("string")
    base = F.regexp_extract(html_str, BASE_PATTERN, 1)
    return (
        pages.select(
            F.col(url_col).alias("src"),
            F.explode(F.regexp_extract_all(html_str, F.lit(HREF_PATTERN), 1))
            .alias("href"),
            F.when(base == "", None).otherwise(base).alias("base"),
        )
    )


def _host_of(url_expr: str) -> str:
    """SQL snippet: authority host of an absolute URL (drops userinfo and
    port). Mirrors operators/hosts.py host_of_url semantics."""
    return (
        f"regexp_replace(regexp_extract({url_expr}, "
        f"'^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1), '^.*@|:[0-9]*$', '')"
    )


def resolve_links(edges: DataFrame, src_col: str = "src",
                  href_col: str = "href",
                  carry: tuple = (),
                  base_col: str = "base") -> DataFrame:
    """(src, dst, *carry, src_host, dst_host) with hrefs resolved against
    the page's effective base; `carry` names extra columns to keep
    (e.g. anchor text).  Pure column CASE logic — stays in whole-stage
    codegen.

    When the edges carry a `base` column (extract_links emits the
    page's first <base href>), relative hrefs resolve against it
    instead of the page URL — the HTML base-element semantics old pages
    rely on.  Only ABSOLUTE http(s) bases are honored (the overwhelming
    real-world case); a relative or exotic base falls back to the page
    URL, consistent with this module's deliberately bounded
    resolution."""
    src = F.col(src_col)
    href = F.trim(F.col(href_col))
    if base_col and base_col in edges.columns:
        eff = F.when(
            F.col(base_col).rlike("^https?://"), F.col(base_col)
        ).otherwise(src)
    else:
        eff = src
    scheme = F.regexp_extract(eff, "^([a-zA-Z][a-zA-Z0-9+.-]*):", 1)
    authority = F.regexp_extract(eff, "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*", 0)
    base = F.regexp_replace(eff, "[?#].*$", "")
    # A path-less base ("https://example.org") must resolve same-directory
    # hrefs against authority + "/" — stripping the trailing [^/]* run
    # would eat the host itself and mint phantom hosts like "page.html".
    src_dir = F.when(
        F.length(base) == F.length(authority), F.concat(authority, F.lit("/"))
    ).otherwise(F.regexp_replace(base, "[^/]*$", ""))

    dst = (
        F.when(href.rlike("^https?://"), href)
        .when(href.startswith("//"), F.concat(scheme, F.lit(":"), href))
        .when(href.startswith("/"), F.concat(authority, href))
        .when(
            href.rlike(_DROP_SCHEMES) | (href == "") | href.rlike("^[a-zA-Z][a-zA-Z0-9+.-]*:"),
            F.lit(None),
        )
        .otherwise(F.concat(src_dir, F.regexp_replace(href, "^\\./", "")))
    )
    out = edges.select(
        src.alias("src"), dst.alias("dst"), *[F.col(c) for c in carry]
    ).where(F.col("dst").isNotNull())
    return out.select(
        "src", "dst", *carry,
        F.expr(_host_of("src")).alias("src_host"),
        F.expr(_host_of("dst")).alias("dst_host"),
    )


def link_edges(pages: DataFrame, url_col: str = "url",
               html_col: str = "html") -> DataFrame:
    """extract + resolve in one shot (the shipping composition)."""
    return resolve_links(extract_links(pages, url_col, html_col))


# WAT Links[].path values selecting which link kinds become edges; the
# default matches extract_links (anchor hrefs only). Common Crawl also
# emits IMG@/src, LINK@/href, SCRIPT@/src, FORM@/action, ...
DEFAULT_WAT_PATHS = ("A@/href",)


def _wat_exploded(wat: DataFrame, paths: tuple) -> DataFrame:
    l = F.explode("links").alias("l")
    e = wat.select(F.col("url").alias("src"), l, "base")
    return e.where(F.col("l.path").isin(list(paths)))


def edges_from_wat(wat: DataFrame,
                   paths: tuple = DEFAULT_WAT_PATHS) -> DataFrame:
    """(src, dst, src_host, dst_host) straight from WAT per-page rows
    (sources/wat.py links_from_wat) — the HTML-free route to the link
    graph. WAT hrefs are raw (as written), the same contract as
    extract_links' regex output, so resolve_links applies unchanged and
    this is differentially tested equal to link_edges over the same
    corpus (tests/test_wat.py). At crawl scale this drops the scan to
    ~1/5 the bytes and deletes the regex extraction stage entirely."""
    picked = _wat_exploded(wat, paths)
    return resolve_links(
        picked.select("src", F.col("l.href").alias("href"), "base"))


# Whole quoted-href anchor element, inner markup included ((?s): anchors
# may span lines). Non-greedy body stops at the first </a> — nested <a>
# is invalid HTML and the HTML5 parser would auto-close it the same way.
FULL_ANCHOR_PATTERN = (
    "(?is)<a\\s[^>]*?href\\s*=\\s*[\"'][^\"']*[\"'][^>]*>.*?</a>"
)


def extract_anchor_texts(pages: DataFrame, url_col: str = "url",
                         html_col: str = "html") -> DataFrame:
    """(src, href, text) — every quoted-href anchor with its rendered
    inner text (tags stripped, whitespace collapsed).  Map-only."""
    html_str = F.col(html_col).cast("string")
    base = F.regexp_extract(html_str, BASE_PATTERN, 1)
    picked = pages.select(
        F.col(url_col).alias("src"),
        F.explode(
            F.regexp_extract_all(html_str, F.lit(FULL_ANCHOR_PATTERN), 0)
        ).alias("m"),
        F.when(base == "", None).otherwise(base).alias("base"),
    )
    inner = F.regexp_extract("m", "(?is)>(.*)</a>$", 1)
    text = F.trim(F.regexp_replace(
        F.regexp_replace(inner, "<[^>]*>", " "), "\\s+", " "))
    return picked.select(
        "src",
        F.regexp_extract("m", HREF_PATTERN, 1).alias("href"),
        text.alias("text"),
        "base",
    )


def _anchor_texts_topk(resolved: DataFrame, max_texts: int,
                       text_subkeys: int) -> DataFrame:
    """(dst, text) — at most `text_subkeys * max_texts` rows per dst:
    the lexicographically-smallest `max_texts` DISTINCT texts within each
    of `text_subkeys` hash sub-keys of dst.  Because the final cap keeps
    the globally-smallest `max_texts` texts and every one of those is
    also among the smallest of its own sub-key, the union is a superset
    of the global top-k — the pre-cap loses nothing.

    This is the two-phase top-k of stratified_sample/global_shuffle
    applied to the agg buffer problem: a mega-inlinked homepage with 10^7
    distinct anchor texts must not build a GB-wide collect_set buffer
    (aggregation state for ONE key cannot spill).  Each window partition
    here holds ~1/text_subkeys of the dst's texts and the sort spills to
    disk, so memory stays bounded no matter the fan-in."""
    from pyspark.sql.window import Window

    sub = F.pmod(F.xxhash64("text"), F.lit(text_subkeys))
    # distinct (dst, sub, text) via groupBy: constant-size agg state
    dt = resolved.groupBy("dst", sub.alias("_sub"), "text").agg(F.lit(1))
    w = Window.partitionBy("dst", "_sub").orderBy("text")
    return (
        dt.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= max_texts)
        .select("dst", "text")
    )


def anchor_text_stats(pages: DataFrame, url_col: str = "url",
                      html_col: str = "html",
                      max_texts: int = 64,
                      text_subkeys: int = 16) -> DataFrame:
    """(dst, n_anchors, n_srcs, texts) — inbound anchor-text profile per
    resolved target URL, the classic relevance/label signal for URL
    selection and weak supervision.

    texts is the sorted distinct inner texts joined with '|', capped at
    `max_texts` AFTER sorting so the value is deterministic; the cap
    bounds row width on mega-inlinked targets.  The distinct-text set is
    pre-capped per (dst, hash(text) % text_subkeys) sub-key
    (_anchor_texts_topk) BEFORE the final aggregation, so no collect_set
    buffer ever exceeds text_subkeys * max_texts entries — the count
    stats aggregate separately with constant-size state (countDistinct
    rewrites to an expand + two-phase agg, never a buffered set)."""
    at = extract_anchor_texts(pages, url_col, html_col)
    resolved = resolve_links(at, carry=("text",))
    stats = resolved.groupBy("dst").agg(
        F.count("*").alias("n_anchors"),
        F.countDistinct("src").alias("n_srcs"),
    )
    texts = _anchor_texts_topk(resolved, max_texts, text_subkeys).groupBy(
        "dst"
    ).agg(
        F.array_join(
            F.slice(F.array_sort(F.collect_set("text")), 1, max_texts), "|"
        ).alias("texts"),
    )
    # inner: every resolved row carries a text (possibly ""), so the topk
    # side has >= 1 row for every dst in stats.
    return stats.join(texts, "dst")


def host_graph(edges: DataFrame, keep_self_loops: bool = False) -> DataFrame:
    """(src_host, dst_host, n_links) — the single shuffle of the pipeline
    (map-side partial agg collapses per-page fan-out first)."""
    g = edges
    if not keep_self_loops:
        g = g.where(F.col("src_host") != F.col("dst_host"))
    return g.groupBy("src_host", "dst_host").agg(
        F.count("*").alias("n_links"))


def host_rank(graph: DataFrame, iterations: int = 5, damping: float = 0.85,
              checkpoint_every: int = 0) -> DataFrame:
    """Weighted PageRank over the host graph, unnormalized Brin-Page form:

        r_0(h)  = 1
        r_k(h)  = (1-d) + d * sum_incoming r_{k-1}(src) * w(src,h)/out_w(src)

    Dangling hosts (no outlinks) keep the (1-d) floor and contribute
    nothing — the standard simplification when rank is used as a relative
    quality signal rather than a probability.  Deterministic for a fixed
    iteration count, so the DuckDB oracle unrolls the same recurrence
    (__spark_entry__._host_rank_sql).  Returns (host, rank) with rank
    rounded to 6 decimals (sum order across engines).
    """
    nodes = (
        graph.select(F.col("src_host").alias("host"))
        .union(graph.select(F.col("dst_host").alias("host")))
        .distinct()
    )
    out_w = graph.groupBy("src_host").agg(F.sum("n_links").alias("out_w"))
    weighted = graph.join(out_w, "src_host").select(
        "src_host", "dst_host",
        (F.col("n_links") / F.col("out_w")).alias("share"),
    )

    rank = nodes.select("host", F.lit(1.0).alias("rank"))
    for i in range(iterations):
        contrib = (
            weighted.join(rank, weighted.src_host == rank.host)
            .groupBy("dst_host")
            .agg(F.sum(F.col("rank") * F.col("share")).alias("incoming"))
        )
        rank = nodes.join(contrib, nodes.host == contrib.dst_host, "left").select(
            "host",
            (F.lit(1.0 - damping)
             + F.lit(damping) * F.coalesce(F.col("incoming"), F.lit(0.0))
             ).alias("rank"),
        )
        if checkpoint_every and (i + 1) % checkpoint_every == 0:
            rank = rank.localCheckpoint()

    return rank.select("host", F.round("rank", 6).alias("rank"))
