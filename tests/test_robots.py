"""RFC 9309 robots.txt parse + gate (operators/robots.py)."""

import pytest

from go_readability_spark.operators import (
    filter_by_robots,
    robots_rules,
    robots_verdicts,
)

TXT = """# comment line
User-agent: *
Disallow: /private/
Allow: /private/open.html
Crawl-delay: 10

User-agent: graftbot
User-agent: otherbot
Disallow: /docs/
Allow: /docs/pub
Disallow:
Disallow: /tmp/*.log$
Sitemap: https://a.example.org/sitemap.xml
"""


@pytest.fixture(scope="module")
def rules(spark):
    robots = spark.createDataFrame(
        [("a.example.org", TXT)], "host string, robots_txt string"
    )
    return robots_rules(robots).cache()


def _verdict(spark, rules, url, agent):
    pages = spark.createDataFrame([(url,)], "url string")
    row = robots_verdicts(pages, rules, agent=agent).collect()[0]
    return row.allowed, row.rule


def test_group_structure(rules):
    rows = rules.collect()
    # group 1: 2 rules x 1 agent; group 2: 3 rules x 2 agents
    # (empty Disallow dropped, Crawl-delay/Sitemap ignored)
    assert len([r for r in rows if r.agent == "*"]) == 2
    assert len([r for r in rows if r.agent == "graftbot"]) == 3
    assert len([r for r in rows if r.agent == "otherbot"]) == 3
    assert all(r.path != "" for r in rows)


def test_longest_match_wins_and_allow_ties(spark, rules):
    # /private/open.html: Allow len 18 beats Disallow len 9
    assert _verdict(spark, rules, "https://a.example.org/private/open.html", "*") \
        == (True, "/private/open.html")
    assert _verdict(spark, rules, "https://a.example.org/private/x.html", "*") \
        == (False, "/private/")


def test_specific_group_overrides_star(spark, rules):
    # graftbot never sees the * group: /private/ is allowed for it
    assert _verdict(spark, rules, "https://a.example.org/private/x.html",
                    "GraftBot") == (True, None)
    assert _verdict(spark, rules, "https://a.example.org/docs/x.html",
                    "graftbot") == (False, "/docs/")
    assert _verdict(spark, rules, "https://a.example.org/docs/pub1.html",
                    "otherbot") == (True, "/docs/pub")


def test_wildcard_and_anchor(spark, rules):
    assert _verdict(spark, rules, "https://a.example.org/tmp/a/b.log",
                    "graftbot") == (False, "/tmp/*.log$")
    # anchor: .log.bak must NOT match the $-terminated pattern
    assert _verdict(spark, rules, "https://a.example.org/tmp/a.log.bak",
                    "graftbot") == (True, None)


def test_unknown_host_and_agent_allowed(spark, rules):
    # host with no robots at all -> allowed
    assert _verdict(spark, rules, "https://nobody.example.net/x", "*") \
        == (True, None)
    # agent with no specific group falls back to *
    assert _verdict(spark, rules, "https://a.example.org/private/y", "crawler9") \
        == (False, "/private/")


def test_root_path_default(spark, rules):
    # bare authority URL resolves to path "/"
    assert _verdict(spark, rules, "https://a.example.org", "*") == (True, None)


def test_filter_by_robots_semi_join(spark, rules):
    pages = spark.createDataFrame(
        [("https://a.example.org/docs/x.html", "k1"),
         ("https://a.example.org/docs/pub.html", "k2")],
        "url string, payload string",
    )
    out = filter_by_robots(pages, rules, agent="graftbot").collect()
    assert [(r.url, r.payload) for r in out] \
        == [("https://a.example.org/docs/pub.html", "k2")]


def test_planted_closed_form(spark):
    """The planted robots_for_hosts policy vs arithmetic ground truth
    (same closed form the driver oracle uses)."""
    from go_readability_spark.sources import (
        pages_from_documents_linked,
        robots_for_hosts,
    )

    pages = pages_from_documents_linked(spark, "/root/testdata/sf0.001")
    rules = robots_rules(robots_for_hosts(spark))
    star = {r.url: (r.allowed, r.rule)
            for r in robots_verdicts(pages, rules, agent="*").collect()}
    bot = {r.url: (r.allowed, r.rule)
           for r in robots_verdicts(pages, rules, agent="graftbot").collect()}
    assert star and set(star) == set(bot)
    for url in star:
        i = int(url.rsplit("/", 1)[1].split(".")[0])
        h = i % 5
        exp_star = (i % 10 != 7,
                    "/" if i % 10 != 7 else "/docs/*7.html$")
        exp_bot = (str(i)[0] == str(h),
                   f"/docs/{h}" if str(i)[0] == str(h) else "/docs/")
        assert star[url] == exp_star, (url, star[url], exp_star)
        assert bot[url] == exp_bot, (url, bot[url], exp_bot)


def test_verdict_plan_shape(spark, rules):
    """Broadcast rules side + single aggregation exchange, no Python."""
    pages = spark.createDataFrame([("https://a.example.org/x",)], "url string")
    plan = robots_verdicts(pages, rules, agent="*") \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_crawl_delays_group_selection(spark):
    txt = (
        "User-agent: *\nCrawl-delay: 10\nDisallow: /x\n\n"
        "User-agent: slowbot\nCrawl-delay: 30\nCrawl-delay: 5\n\n"
        "User-agent: nodelaybot\nDisallow: /y\n"
    )
    from go_readability_spark.operators import crawl_delays

    robots = spark.createDataFrame(
        [("a.example.org", txt), ("b.example.org", "User-agent: *\nCrawl-delay: oops\n")],
        "host string, robots_txt string",
    )
    star = {r.host: r.delay_sec for r in crawl_delays(robots, "*").collect()}
    assert star == {"a.example.org": 10.0}  # non-numeric ignored
    slow = {r.host: r.delay_sec for r in crawl_delays(robots, "SlowBot").collect()}
    assert slow == {"a.example.org": 30.0}  # specific wins, max of several
    # named group without a delay falls back to * (conservative read)
    nod = {r.host: r.delay_sec for r in crawl_delays(robots, "nodelaybot").collect()}
    assert nod == {"a.example.org": 10.0}


def _frontier_order(urls):
    """The engine-portable sequence frontier_schedule produces per host:
    (md5 bucket of 'frontier:url', url)."""
    import hashlib

    def bucket(u):
        return int(hashlib.md5(f"frontier:{u}".encode()).hexdigest()[:8],
                   16) % 1_000_000

    return sorted(urls, key=lambda u: (bucket(u), u))


def test_frontier_schedule(spark):
    from go_readability_spark.operators import crawl_delays, frontier_schedule

    robots = spark.createDataFrame(
        [("a.example.org", "User-agent: *\nCrawl-delay: 2\n")],
        "host string, robots_txt string",
    )
    a_urls = ["https://a.example.org/b", "https://a.example.org/a"]
    o_urls = ["https://other.example.net/x", "https://other.example.net/y"]
    plan = spark.createDataFrame([(u,) for u in a_urls + o_urls], "url string")
    out = {r.url: (r.slot, r.eta_sec)
           for r in frontier_schedule(plan, crawl_delays(robots), 1.0).collect()}
    # per-host portable hash order; host with Crawl-delay 2 spaces at 2s
    a0, a1 = _frontier_order(a_urls)
    assert out[a0] == (0, 0.0) and out[a1] == (1, 2.0)
    # unknown host gets the default delay
    o0, o1 = _frontier_order(o_urls)
    assert out[o0] == (0, 0.0) and out[o1] == (1, 1.0)


def test_frontier_schedule_mega_host_two_phase(spark):
    """A CDN mega-host: slots must be the exact 0..n-1 sequence in hash
    order (the two-phase block rank equals a single global window), and
    the plan must NOT contain a window partitioned by host alone — the
    sort partitions are (host, block)."""
    from go_readability_spark.operators import frontier_schedule

    urls = [f"https://cdn.example.net/obj/{i:05d}" for i in range(3000)]
    plan = spark.createDataFrame([(u,) for u in urls], "url string")
    delays = spark.createDataFrame([], "host string, delay_sec double")
    sched = frontier_schedule(plan, delays, 1.0, n_blocks=64)
    rows = sched.collect()
    got = {r.url: r.slot for r in rows}
    expect = {u: k for k, u in enumerate(_frontier_order(urls))}
    assert got == expect
    assert all(r.eta_sec == float(r.slot) for r in rows)
    # plan shape: every window partitions by (host, _fs_blk), never host
    # alone — no single-task mega-host sort
    plan_str = sched._jdf.queryExecution().executedPlan().toString()
    import re

    for spec in re.findall(r"partitionBy=\[([^\]]*)\]", plan_str):
        cols = [c.split("#")[0].strip() for c in spec.split(",")]
        assert cols != ["host"], plan_str


def test_group_boundary_segmented_over_all_fields(spark):
    """A group whose only line is a field the caller does NOT extract
    (Crawl-delay) must still terminate the user-agent run: Disallow /x
    binds to agent b only, and the delay binds to agent a only."""
    from go_readability_spark.operators import crawl_delays

    txt = "User-agent: a\nCrawl-delay: 5\nUser-agent: b\nDisallow: /x\n"
    robots = spark.createDataFrame(
        [("a.example.org", txt)], "host string, robots_txt string")
    rules = robots_rules(robots)
    assert _verdict(spark, rules, "https://a.example.org/x/1", "a") == (True, None)
    assert _verdict(spark, rules, "https://a.example.org/x/1", "b") \
        == (False, "/x")
    delays = {r.host: r.delay_sec for r in crawl_delays(robots, "a").collect()}
    assert delays == {"a.example.org": 5.0}
    # b's group carries no delay and there is no * group to fall back to
    assert crawl_delays(robots, "b").collect() == []
    # the common real-world shape: '*' keeps its delay, BadBot's Disallow
    # must NOT leak into the '*' group (would drop the whole host)
    txt2 = ("User-agent: *\nCrawl-delay: 10\n\n"
            "User-agent: BadBot\nDisallow: /\n")
    robots2 = spark.createDataFrame(
        [("b.example.org", txt2)], "host string, robots_txt string")
    rules2 = robots_rules(robots2)
    assert _verdict(spark, rules2, "https://b.example.org/page", "*") \
        == (True, None)
    assert _verdict(spark, rules2, "https://b.example.org/page", "badbot") \
        == (False, "/")


def test_empty_disallow_group_shields_agent(spark):
    """RFC 9309: a specific group whose only rule is the allow-all idiom
    `Disallow:` (or that has no rules at all) still WINS group selection
    — the `*` group must not apply to that agent."""
    txt = "User-agent: goodbot\nDisallow:\n\nUser-agent: *\nDisallow: /\n"
    robots = spark.createDataFrame(
        [("a.example.org", txt)], "host string, robots_txt string")
    rules = robots_rules(robots)
    assert _verdict(spark, rules, "https://a.example.org/any", "goodbot") \
        == (True, None)
    assert _verdict(spark, rules, "https://a.example.org/any", "*") \
        == (False, "/")
    # group with zero rule lines at the end of the file: same shield
    txt2 = "User-agent: *\nDisallow: /\n\nUser-agent: trustedbot\n"
    robots2 = spark.createDataFrame(
        [("b.example.org", txt2)], "host string, robots_txt string")
    rules2 = robots_rules(robots2)
    assert _verdict(spark, rules2, "https://b.example.org/any", "trustedbot") \
        == (True, None)
    assert _verdict(spark, rules2, "https://b.example.org/any", "otherbot") \
        == (False, "/")


def test_curate_robots_takedown_sweep(spark):
    """curate_corpus(robots=...) drops disallowed pages before
    extraction (CLI --robots)."""
    from go_readability_spark.plans import curate_corpus

    body = ("A sufficiently long clean paragraph about crawling and "
            "curation pipelines, repeated for length and substance. " * 5)
    def page(url):
        html = (f"<html><body><div class='article-content'><h1>T</h1>"
                f"<p>{body}</p><p>{body}</p></div></body></html>").encode()
        return (url, None, bytearray(html), None, None)

    pages = spark.createDataFrame(
        [page("https://a.example.org/private/x.html"),
         page("https://a.example.org/public/y.html")],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    robots = spark.createDataFrame(
        [("a.example.org", "User-agent: *\nDisallow: /private/\n")],
        "host string, robots_txt string",
    )
    out = curate_corpus(pages, min_length=50, min_quality=0.0,
                        languages=(), robots=robots).collect()
    assert [r.url for r in out] == ["https://a.example.org/public/y.html"]


def test_robots_500kib_cap(spark):
    """RFC 9309 §2.5: rules beyond the 500 KiB processing cap are
    ignored (bounds the per-host window partition against adversarial
    mega-files); rules before the cap still apply."""
    filler = ("# pad" + "x" * 94 + "\n") * 5300  # ~530 KB of comments
    txt = ("User-agent: *\nDisallow: /early/\n" + filler
           + "Disallow: /late/\n")
    assert len(txt) > 520_000
    robots = spark.createDataFrame(
        [("a.example.org", txt)], "host string, robots_txt string")
    rules = robots_rules(robots)
    assert _verdict(spark, rules, "https://a.example.org/early/x", "*") \
        == (False, "/early/")
    # the post-cap rule never materializes
    assert _verdict(spark, rules, "https://a.example.org/late/x", "*") \
        == (True, None)
