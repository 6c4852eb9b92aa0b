"""robots.txt parsing and crawl-policy gating (RFC 9309, public spec).

A Common-Crawl-style pipeline needs the Robots Exclusion Protocol twice:
once at crawl time (frontier filtering) and again at curation time
(retro-active removal of pages a publisher has since disallowed — the
standard takedown sweep before a training snapshot).  The reference
library fetches single pages and has no crawl-policy layer (reference
N/A — this is the LLM-data-ops surface BASELINE.json's north rule asks
for on top of extraction parity).

Everything here is relational — the "stateful" group structure of a
robots.txt file (User-agent lines bind to the rule lines that follow,
RFC 9309 §2.2.1) is recovered with one window over (host, line number):
a User-agent line whose predecessor is NOT a User-agent line starts a
new group, `group_id` is the running sum of those starts, and agents ×
rules join back on (host, group_id).  No Python in any hot path.

Rule matching follows RFC 9309 §2.2.2: `*` matches any octet sequence,
a trailing `$` anchors end-of-path, the longest matched pattern wins,
and an allow/disallow tie at equal length resolves to allow.  "Longest"
is measured in pattern octets including wildcards (the Googlebot
documented behavior; the RFC leaves the tiebreak metric open).
Patterns compile to Java regexes with a single metachar-escaping
regexp_replace so the whole match stays in whole-stage codegen.

Scale notes (10^12 pages, ~10^8 hosts):
  * `robots_rules` explodes per-host files ≤ 500 KiB (RFC cap) — the
    window is partitioned by host, so no partition exceeds ~10^4 rows.
  * `robots_verdicts` joins pages × rules on host.  The rules table is
    ~20 rows/host; against a full-crawl host set that is a standard
    equi-join (AQE handles CDN mega-hosts — fan-out is rules-per-host,
    bounded, never pages × pages).  With a curated blocklist-style
    rules table (≤ ~10^6 rows) Spark broadcasts it, leaving ONE
    shuffle: the per-url verdict aggregation.
  * The verdict is groupBy(url).max(struct(len, allow, …)) — an
    aggregation with map-side partial combine, NOT a window, so the
    per-url tiebreak never materializes a sorted partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from .hosts import host_of_url

# Regex metachars escaped when compiling a rule path to a Java regex.
# `*` is handled separately (wildcard), `$` only as a trailing anchor.
_META = r"([.^$+?(){}\[\]\\|])"

# Every group-scoped field the engine understands.  Group boundaries are
# segmented over ALL of these regardless of which fields the caller
# extracts — otherwise a group whose only lines are other known fields
# (e.g. `User-agent: a / Crawl-delay: 5 / User-agent: b / Disallow: /x`)
# would merge into the next group and mis-bind its rules (RFC 9309
# §2.2.1: any rule line ends a user-agent run).  Sitemap stays out: it is
# group-independent per the sitemaps.org protocol.
_GROUP_FIELDS = ("allow", "disallow", "crawl-delay")

# RFC 9309 §2.5: a parser MUST process at least 500 KiB and MAY ignore
# the rest.  Enforcing the cap bounds the per-host window partition (the
# module's scale claim) against adversarial or broken mega-files —
# without it one 2 GB robots.txt becomes one 2 GB sort partition.
_MAX_ROBOTS_CHARS = 512_000


def _grouped_fields(robots: DataFrame, fields: tuple,
                    host_col: str, txt_col: str):
    """Shared RFC 9309 group recovery (module docstring): explode lines,
    strip comments, segment groups over every known group-scoped field
    with the one window over (host, line number), THEN filter to the
    caller's `fields` + user-agent.  Returns (grouped, agents, is_ua)
    for the caller to pair rule rows with agent rows."""
    lines = robots.select(
        F.col(host_col).alias("host"),
        F.posexplode(F.split(
            F.substring(F.col(txt_col), 1, _MAX_ROBOTS_CHARS), "\n"
        )).alias("pos", "line"),
    ).select(
        "host", "pos",
        F.trim(F.regexp_replace("line", "#.*$", "")).alias("line"),
    ).where(F.col("line") != "")
    parsed = lines.select(
        "host", "pos",
        F.lower(F.regexp_extract("line", r"^([A-Za-z-]+)\s*:", 1)).alias("field"),
        F.trim(F.regexp_extract("line", r"^[A-Za-z-]+\s*:(.*)$", 1)).alias("value"),
    ).where(F.col("field").isin("user-agent", *_GROUP_FIELDS))
    w = Window.partitionBy("host").orderBy("pos")
    is_ua = F.col("field") == "user-agent"
    starts_group = is_ua & (
        F.lag(is_ua).over(w).isNull() | ~F.lag(is_ua).over(w)
    )
    grouped = parsed.withColumn(
        "group_id", F.sum(starts_group.cast("int")).over(w)
    ).where(
        F.col("group_id").isNotNull()
        & F.col("field").isin("user-agent", *fields)
    )
    agents = (
        grouped.where(is_ua)
        .select("host", "group_id", F.lower(F.col("value")).alias("agent"))
    )
    return grouped, agents, is_ua


def robots_rules(robots: DataFrame, host_col: str = "host",
                 txt_col: str = "robots_txt") -> DataFrame:
    """(host, group_id, agent, allow, path, pattern_len, path_regex) —
    one row per (agent line x rule line) pair of every group in every
    robots.txt.  A group with NO surviving rule lines (empty file tail,
    or only empty-value `Disallow:` — the allow-all idiom) still emits
    one no-op marker row per agent with NULL path/pattern_len/path_regex:
    a marker never matches a URL, but it keeps the group VISIBLE to
    `_rules_for_agent`'s specific-group selection, so `User-agent:
    goodbot / Disallow:` correctly shields goodbot from the `*` group
    (RFC 9309 §2.2.1: the matching specific group wins even when empty).
    Unknown fields (Sitemap, ...) are ignored per RFC §2.2.3;
    `crawl_delays` recovers Crawl-delay separately."""
    grouped, agents, is_ua = _grouped_fields(
        robots, ("allow", "disallow"), host_col, txt_col)
    has_anchor = F.col("value").endswith("$")
    body = F.when(
        has_anchor, F.expr("substring(value, 1, length(value) - 1)")
    ).otherwise(F.col("value"))
    regex = F.concat(
        F.lit("^"),
        F.replace(
            F.regexp_replace(body, _META, r"\\$1"), F.lit("*"), F.lit(".*")
        ),
        F.when(has_anchor, F.lit("$")).otherwise(F.lit("")),
    )
    rules = (
        grouped.where(~is_ua & (F.col("value") != ""))
        .select(
            "host", "group_id",
            (F.col("field") == "allow").cast("int").alias("allow"),
            F.col("value").alias("path"),
            F.length("value").alias("pattern_len"),
            regex.alias("path_regex"),
        )
    )
    # left join: agent groups with zero surviving rules become no-op
    # marker rows (NULL path_regex never matches in robots_verdicts).
    return agents.join(rules, ["host", "group_id"], "left")


def crawl_delays(robots: DataFrame, agent: str = "*",
                 host_col: str = "host",
                 txt_col: str = "robots_txt") -> DataFrame:
    """(host, delay_sec) — the Crawl-delay value applicable to `agent`
    (the de-facto extension field most crawlers honor; RFC 9309 §2.2.3
    lets unknown fields carry group semantics).  Group selection matches
    robots_verdicts: a group naming the agent wins over `*`; several
    applicable values collapse to the MAX, and a named group WITHOUT a
    Crawl-delay falls back to the `*` group's value (both conservative
    reads: some delay beats none).  Non-numeric values are ignored.  Same single window as
    robots_rules, then one aggregation — no Python anywhere."""
    grouped, agents, is_ua = _grouped_fields(
        robots, ("crawl-delay",), host_col, txt_col)
    delays = grouped.where(~is_ua).select(
        "host", "group_id",
        # try_cast: malformed values become NULL (ANSI cast would fail
        # the task on one bad robots.txt in a billion-host corpus)
        F.expr("try_cast(value AS double)").alias("delay_sec"),
    ).where(F.col("delay_sec").isNotNull())
    tagged = agents.join(delays, ["host", "group_id"])
    return (
        _rules_for_agent(tagged, agent)
        .groupBy("host")
        .agg(F.max("delay_sec").alias("delay_sec"))
    )


def frontier_schedule(fetch_plan: DataFrame, delays: DataFrame,
                      default_delay: float = 1.0,
                      url_col: str = "url",
                      n_blocks: int = 1024) -> DataFrame:
    """(url, host, slot, eta_sec) — a politeness-aware fetch schedule:
    per host, fetches are sequenced deterministically and the k-th fetch
    is eligible at k * delay_sec seconds (host's Crawl-delay, else
    `default_delay`).

    This is the frontier math of a polite distributed crawler: the
    per-host sequence IS the partition order a fetcher task walks, and
    eta_sec bounds request rate per host no matter how many executors
    fetch in parallel.

    The sequence order is (md5-bucket of url, url) — deterministic,
    engine-portable (the DuckDB oracle replays it), and chosen over
    plain lexicographic url so the rank can be computed TWO-PHASE: a
    naive row_number over Window.partitionBy(host) would funnel a CDN
    mega-host's entire URL set through one task.  Here the md5 bucket's
    top bits pre-split each host's order into `n_blocks` hash ranges
    (the block-rank machinery of sampling.global_shuffle, keyed per
    host): per-(host, block) counts roll into exclusive offsets with a
    window over ≤ n_blocks tiny count rows per host, and each (host,
    block) ranks locally — the widest sorted partition is ~1/n_blocks
    of the worst host.  Hash order also interleaves a host's fetches
    across path prefixes, which is what a crawl frontier wants anyway.
    The delays side is per-host tiny — broadcast."""
    from .sampling import _BUCKETS, hash_bucket

    url = F.col(url_col)
    block_span = max(1, _BUCKETS // n_blocks)
    staged = fetch_plan.select(
        url.alias("url"), host_of_url(url).alias("host"),
    ).withColumn("_fs_h", hash_bucket(F.col("url"), salt="frontier")) \
     .withColumn("_fs_blk", F.expr(f"_fs_h div {block_span}"))
    counts = staged.groupBy("host", "_fs_blk").agg(
        F.count(F.lit(1)).alias("_fs_n"))
    w_off = (
        Window.partitionBy("host").orderBy("_fs_blk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        "host", "_fs_blk",
        F.coalesce(F.sum("_fs_n").over(w_off), F.lit(0)).alias("_fs_off"),
    )
    w_blk = Window.partitionBy("host", "_fs_blk").orderBy("_fs_h", "url")
    ranked = (
        staged.join(offsets, ["host", "_fs_blk"])
        .withColumn(
            "slot",
            (F.row_number().over(w_blk) - 1 + F.col("_fs_off")).cast("int"),
        )
    )
    return (
        ranked.join(F.broadcast(delays), "host", "left")
        .select(
            "url", "host", "slot",
            (F.col("slot")
             * F.coalesce(F.col("delay_sec"), F.lit(float(default_delay)))
             ).alias("eta_sec"),
        )
    )


def _rules_for_agent(rules: DataFrame, agent: str) -> DataFrame:
    """RFC §2.2.1 group selection: if any group names this product token
    (case-insensitive exact match on the UA line value), only those
    groups apply for the host; otherwise the `*` groups do."""
    specific = rules.where(F.col("agent") == agent.lower())
    star = rules.where(F.col("agent") == "*").join(
        specific.select("host").distinct(), "host", "left_anti"
    )
    return specific.unionByName(star)


def robots_verdicts(pages: DataFrame, rules: DataFrame, agent: str = "*",
                    url_col: str = "url") -> DataFrame:
    """(url, allowed, rule) — the RFC 9309 verdict per page URL.

    `rule` is the winning pattern (longest match, allow on ties) or NULL
    when no rule of the applicable group matches (allowed).  Pages whose
    host has no robots.txt are allowed.  Single aggregation shuffle; the
    rules side broadcasts when small (see module scale notes)."""
    url = F.col(url_col)
    path = F.regexp_extract(url, r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^#]*)", 1)
    keyed = pages.select(
        url.alias("url"),
        host_of_url(url).alias("host"),
        F.when(path == "", "/").otherwise(path).alias("url_path"),
    )
    applicable = _rules_for_agent(rules, agent)
    matched = keyed.join(applicable, "host", "left").withColumn(
        "hit",
        F.col("path_regex").isNotNull() & F.expr("url_path rlike path_regex"),
    )
    best = F.max(
        F.when(
            F.col("hit"),
            F.struct(
                F.col("pattern_len"), F.col("allow"), F.col("path").alias("rule")
            ),
        )
    ).alias("best")
    return (
        matched.groupBy("url").agg(best)
        .select(
            "url",
            F.coalesce(F.col("best.allow") == 1, F.lit(True)).alias("allowed"),
            F.col("best.rule").alias("rule"),
        )
    )


def filter_by_robots(pages: DataFrame, rules: DataFrame, agent: str = "*",
                     url_col: str = "url") -> DataFrame:
    """Pages surviving the robots gate, all columns carried.  The verdict
    table is (url, allowed) — a semi-join back on the natural key, so the
    wide html column never rides through the verdict aggregation."""
    keep = robots_verdicts(pages, rules, agent, url_col).where("allowed")
    return pages.join(keep.select(F.col("url").alias(url_col)), url_col, "left_semi")
