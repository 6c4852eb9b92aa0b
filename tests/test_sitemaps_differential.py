"""Differential fuzz of the regex-per-element sitemap parser against
Python's ElementTree — a fully independent XML implementation — over
seeded-random well-formed sitemaps (namespace prefixes, attribute-
bearing roots, entity escapes, wrapped values, missing optional fields,
malformed priorities).  All documents travel in one DataFrame, so the
comparison is two Spark actions."""

import random
import xml.etree.ElementTree as ET

from go_readability_spark.operators import parse_sitemap


def _ref_parse_urlset(xml_text):
    root = ET.fromstring(xml_text)
    out = []
    for el in root:
        if not el.tag.endswith("url"):
            continue
        fields = {}
        for child in el:
            tag = child.tag.rsplit("}", 1)[-1].rsplit(":", 1)[-1]
            fields[tag] = (child.text or "").strip()
        loc = fields.get("loc") or None
        if not loc:
            continue
        pr = fields.get("priority")
        try:
            pr = float(pr) if pr else None
        except ValueError:
            pr = None
        out.append((loc, fields.get("lastmod") or None,
                    fields.get("changefreq") or None, pr))
    return out


def _random_urlset(rng, j):
    pfx = "sm:" if rng.random() < 0.4 else ""
    ns = (' xmlns="http://www.sitemaps.org/schemas/sitemap/0.9"'
          if not pfx else
          ' xmlns:sm="http://www.sitemaps.org/schemas/sitemap/0.9"')
    entries = []
    for k in range(rng.randint(1, 8)):
        path = f"/p{j}/{k}" + ("?a=1&amp;b=2" if rng.random() < 0.4 else "")
        loc = f"https://h{j}.example.org{path}"
        parts = [f"<{pfx}loc>{loc}</{pfx}loc>"]
        if rng.random() < 0.7:
            parts.append(
                f"<{pfx}lastmod>2025-0{rng.randint(1, 9)}-1{k % 10}"
                f"</{pfx}lastmod>")
        if rng.random() < 0.5:
            cf = rng.choice(["always", "hourly", "daily", "never"])
            parts.append(f"<{pfx}changefreq>{cf}</{pfx}changefreq>")
        if rng.random() < 0.6:
            pr = rng.choice(["0.5", "1.0", "0.85", "oops"])
            parts.append(f"<{pfx}priority>{pr}</{pfx}priority>")
        if rng.random() < 0.3:  # entry with no loc: dropped by both
            parts = parts[1:]
        rng.shuffle(parts)
        sep = "\n  " if rng.random() < 0.5 else ""
        entries.append(f"<{pfx}url>{sep}" + sep.join(parts) + f"</{pfx}url>")
    body = ("\n".join(entries) if rng.random() < 0.7
            else " ".join(entries))
    return (f'<?xml version="1.0" encoding="UTF-8"?>\n'
            f"<{pfx}urlset{ns}>\n{body}\n</{pfx}urlset>")


def test_differential_urlset_random(spark):
    rng = random.Random(424242)
    docs = {f"h{j}.example.org": _random_urlset(rng, j) for j in range(80)}
    df = spark.createDataFrame(
        list(docs.items()), "host string, sitemap_xml string")
    got = {}
    for r in parse_sitemap(df).collect():
        got.setdefault(r.host, []).append(
            (r.loc, r.lastmod, r.changefreq, r.priority))
    for host, xml_text in docs.items():
        exp = _ref_parse_urlset(xml_text)
        assert sorted(got.get(host, [])) == sorted(exp), (host, xml_text)
