"""WAT sidecar source (sources/wat.py) + the HTML-free link-graph route
(operators/linkgraph.py edges_from_wat).

The load-bearing test is differential: the SAME planted corpus goes
through (a) HTML regex extraction + resolution (link_edges) and (b) WAT
parse + resolution (edges_from_wat), and the edge sets must be equal —
including base-href honoring, dropped schemes, and non-anchor WAT paths
being excluded. That is the contract Common Crawl's WAT files promise
(raw as-written hrefs), and it is what makes the ~5x cheaper WAT route a
drop-in for the link-graph pipeline.
"""

from datetime import datetime

import pytest

from go_readability_spark.sources.wat import (
    wat_bytes_to_link_rows,
    write_wat,
)

TS = datetime(2024, 5, 1, 12, 0, 0)


def _planted(n=12):
    """Per page: (url, html, wat_links, base). WAT links mirror the html
    anchors AS WRITTEN (plus a non-anchor IMG entry the edge route must
    exclude); page n-1 carries a <base href> exercised by both routes."""
    pages = []
    for i in range(n):
        url = f"https://h{i % 3}.example.org/d/{i}.html"
        base = "https://based.example.org/sub/" if i == n - 1 else None
        anchors = [
            (f"https://h{(i + 1) % 3}.example.org/d/{i + 1}.html",
             f"next {i}"),
            (f"/r/{i}.html", "rel link"),
            (f"//cdn.example.net/c{i % 2}.html", "cdn"),
            (f"p{i + 3}.html", f"sib  {i}"),  # double space: collapses
            ("#frag", "frag"),
            ("mailto:x@example.org", "mail"),
            ("javascript:void(0)", "js"),
        ]
        a_html = "".join(
            f'<a href="{h}">{t}</a>' for h, t in anchors)
        base_html = f'<base href="{base}">' if base else ""
        html = (f"<html><head>{base_html}</head><body><h1>D{i}</h1>"
                f"{a_html}<img src=\"/i/{i}.png\"></body></html>")
        wat_links = [("A@/href", h, t) for h, t in anchors]
        wat_links.append(("IMG@/src", f"/i/{i}.png", None))
        pages.append((url, html, wat_links, base))
    return pages


def test_write_parse_roundtrip():
    pages = _planted(4)
    blob = write_wat(
        [(u, TS, links, base) for u, _, links, base in pages])
    rows = list(wat_bytes_to_link_rows(blob))
    assert [r["url"] for r in rows] == [u for u, *_ in pages]
    assert all(r["warc_ts"] == TS for r in rows)
    assert rows[-1]["base"] == "https://based.example.org/sub/"
    assert rows[0]["base"] is None
    got = [(li["path"], li["href"], li["text"]) for li in rows[0]["links"]]
    assert got == list(pages[0][2])


def test_tolerant_parse_contains_bad_records():
    import gzip

    good = write_wat([("https://a.example.org/", TS,
                       [("A@/href", "/x.html", "x")], None)], gz=False)
    bad_json = (
        b"WARC/1.0\r\nWARC-Type: metadata\r\n"
        b"WARC-Target-URI: https://bad.example.org/\r\n"
        b"WARC-Date: 2024-05-01T12:00:00Z\r\n"
        b"Content-Type: application/json\r\n"
        b"Content-Length: 9\r\n\r\n{not json\r\n\r\n"
    )
    no_meta = (
        b"WARC/1.0\r\nWARC-Type: metadata\r\n"
        b"WARC-Target-URI: https://empty.example.org/\r\n"
        b"WARC-Date: 2024-05-01T12:00:00Z\r\n"
        b"Content-Type: application/json\r\n"
        b"Content-Length: 16\r\n\r\n{\"Envelope\": {}}\r\n\r\n"
    )
    # valid JSON, wrong shape: Envelope is null — must skip the RECORD,
    # not blow up and lose the archive (review finding)
    shape_body = b'{"Envelope": null}'
    wrong_shape = (
        b"WARC/1.0\r\nWARC-Type: metadata\r\n"
        b"WARC-Target-URI: https://shape.example.org/\r\n"
        b"WARC-Date: 2024-05-01T12:00:00Z\r\n"
        b"Content-Type: application/json\r\n"
        b"Content-Length: " + str(len(shape_body)).encode()
        + b"\r\n\r\n" + shape_body + b"\r\n\r\n"
    )
    rows = list(wat_bytes_to_link_rows(
        gzip.compress(good + bad_json + no_meta + wrong_shape)))
    by_url = {r["url"]: r for r in rows}
    assert set(by_url) == {"https://a.example.org/",
                           "https://shape.example.org/",
                           "https://empty.example.org/"}
    # a page without HTML-Metadata keeps its row (empty links), so page
    # counts survive; the malformed-JSON record alone is dropped
    assert by_url["https://empty.example.org/"]["links"] == []
    assert by_url["https://shape.example.org/"]["links"] == []
    assert len(by_url["https://a.example.org/"]["links"]) == 1


def test_request_derived_records_filtered_and_types_coerced():
    """Real Common Crawl WAT holds metadata records derived from request
    AND response records of the same URI: only the response-derived one
    yields a row (no duplicate empty rows per page). Non-string
    path/text values coerce to str instead of reaching the Arrow
    serializer as objects (review findings)."""
    import gzip as _gz
    import json as _json

    def rec(envelope):
        body = _json.dumps(envelope).encode()
        return (b"WARC/1.0\r\nWARC-Type: metadata\r\n"
                b"WARC-Target-URI: https://p.example.org/\r\n"
                b"WARC-Date: 2024-05-01T12:00:00Z\r\n"
                b"Content-Type: application/json\r\n"
                b"Content-Length: " + str(len(body)).encode()
                + b"\r\n\r\n" + body + b"\r\n\r\n")

    req = rec({"Envelope": {"WARC-Header-Metadata":
                            {"WARC-Type": "request"}}})
    resp = rec({"Envelope": {
        "WARC-Header-Metadata": {"WARC-Type": "response"},
        "Payload-Metadata": {"HTTP-Response-Metadata": {"HTML-Metadata": {
            "Links": [{"path": 7, "url": "/x.html", "text": 123},
                      {"url": 42}]}}}}})
    meta = rec({"Envelope": {"WARC-Header-Metadata":
                             {"WARC-Type": "metadata"}}})
    rows = list(wat_bytes_to_link_rows(_gz.compress(req + resp + meta)))
    assert len(rows) == 1  # one page, one row — not three
    links = rows[0]["links"]
    assert links[0] == {"path": "7", "href": "/x.html", "text": "123"}
    assert links[1] == {"path": None, "href": "42", "text": None}


@pytest.fixture()
def wat_dir(tmp_path):
    pages = _planted()
    half = len(pages) // 2
    d = tmp_path / "wat"
    d.mkdir()
    for k, chunk in enumerate((pages[:half], pages[half:])):
        (d / f"seg-{k}.wat.gz").write_bytes(
            write_wat([(u, TS, links, base)
                       for u, _, links, base in chunk]))
    return str(d), pages


def test_edges_differential_html_vs_wat(spark, wat_dir):
    from pyspark.sql import functions as F

    from go_readability_spark.operators import edges_from_wat, link_edges
    from go_readability_spark.sources import links_from_wat

    d, pages = wat_dir
    html_pages = spark.createDataFrame(
        [(u, h.encode()) for u, h, _, _ in pages], "url string, html binary")
    cols = ("src", "dst", "src_host", "dst_host")
    via_html = sorted(map(tuple, link_edges(html_pages)
                          .select(*cols).collect()))
    wat = links_from_wat(spark, d)
    via_wat = sorted(map(tuple, edges_from_wat(wat)
                         .select(*cols).collect()))
    assert via_wat == via_html
    assert len(via_wat) == len(pages) * 4  # kept kinds only
    # the base-href page resolved its same-dir link against the base
    assert any(dst == "https://based.example.org/sub/p14.html"
               for _, dst, _, _ in via_wat)
    # non-anchor WAT paths never become edges
    assert not any("/i/" in dst for _, dst, _, _ in via_wat)
    # ...unless asked for: the IMG kind is selectable
    imgs = edges_from_wat(wat, paths=("IMG@/src",))
    assert imgs.count() == len(pages)
