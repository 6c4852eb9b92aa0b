"""Sitemap protocol parse (operators/sitemaps.py)."""

from go_readability_spark.operators import parse_sitemap

URLSET = """<?xml version="1.0" encoding="UTF-8"?>
<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
  <url>
    <loc>https://a.example.org/p?x=1&amp;y=&lt;2&gt;</loc>
    <lastmod>2024-06-01</lastmod>
    <changefreq>daily</changefreq>
    <priority>0.8</priority>
  </url>
  <url><loc> https://a.example.org/bare </loc></url>
  <url><lastmod>2024-01-01</lastmod></url>
  <url><loc>https://a.example.org/bad</loc><priority>high</priority></url>
</urlset>"""

PREFIXED = """<sm:urlset xmlns:sm="http://www.sitemaps.org/schemas/sitemap/0.9">
<sm:url><sm:loc>https://b.example.org/1</sm:loc>
<sm:lastmod>2024-02-02</sm:lastmod></sm:url>
</sm:urlset>"""

def _df(spark, xml, host="a.example.org"):
    return spark.createDataFrame(
        [(host, xml)], "host string, sitemap_xml string")


def test_parse_urlset(spark):
    rows = {r.loc: r for r in parse_sitemap(_df(spark, URLSET)).collect()}
    # entities unescaped, values trimmed, loc-less entry dropped
    full = rows["https://a.example.org/p?x=1&y=<2>"]
    assert (full.lastmod, full.changefreq, full.priority) == (
        "2024-06-01", "daily", 0.8)
    bare = rows["https://a.example.org/bare"]
    assert bare.lastmod is None and bare.priority is None
    # malformed priority -> NULL, row kept
    assert rows["https://a.example.org/bad"].priority is None
    assert len(rows) == 3


def test_parse_namespace_prefix(spark):
    rows = parse_sitemap(_df(spark, PREFIXED, "b.example.org")).collect()
    assert len(rows) == 1
    assert rows[0].loc == "https://b.example.org/1"
    assert rows[0].lastmod == "2024-02-02"


def test_planted_closed_form(spark):
    """sitemaps_for_hosts -> parse equals the arithmetic ground truth
    (same closed form as the driver oracle)."""
    from go_readability_spark.sources import sitemaps_for_hosts

    parsed = parse_sitemap(sitemaps_for_hosts(spark, "/root/testdata/sf0.001"))
    rows = parsed.collect()
    assert rows
    cfs = ["always", "hourly", "daily", "weekly", "monthly", "yearly", "never"]
    for r in rows:
        i = int(r.loc.rsplit("/", 1)[1].split(".")[0])
        assert r.host == f"host{i % 5}.example.org"
        assert r.loc == (f"https://host{i % 5}.example.org/docs/{i}"
                         ".html?a=1&b=2")
        assert r.lastmod == f"2025-01-{i % 28 + 1:02d}"
        assert r.changefreq == cfs[i % 7]
        assert r.priority == (i % 10) / 10.0


def test_plan_shape(spark):
    plan = parse_sitemap(_df(spark, URLSET)) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Exchange" not in plan  # map-only
