"""The retry sieve's upper bound (Parser._grab_article).

Once an attempt's article holds every character of ``<body>``'s text, no
later attempt can be longer, so the sieve skips the retries left. The
bound must not change any output: these tests compare the parser with the
bound against the same parser with the bound turned off (a monkeypatch
inside the test), over the pinned corpora and generated short pages, and
hold hand-written edge pages to digests taken before the bound existed."""

import logging
import math
from dataclasses import fields

import pytest
from hypothesis import HealthCheck, example, given, settings, strategies as st

from go_readability_spark.dom import parse_html
from go_readability_spark.plans.extract import extract_record
from go_readability_spark.readability import Parser
from go_readability_spark.sources.sieve_corpus import (
    LONG_PAGES,
    LONG_SEED,
    LONG_SYNTH_PAGES,
    SIEVE_PAGES,
    SIEVE_SEED,
    long_corpus,
    record_digest,
    sieve_corpus,
)

_WORDS = "word " * 30

# edge pages of the bound, with their [ungated, gated] extract_record
# digests taken before the bound existed
EDGE_PAGES = {
    # a scorable div outside <body>: the template's 299-character article
    # beats the 55-character body, so the bound must not apply
    "head_template": (
        f"<html><head><template><div class='promo'><p>{_WORDS}</p><p>{_WORDS}</p>"
        "</div></template></head><body><div class='article'><p>First short body line"
        " here.</p><p>Second short body line here.</p></div></body></html>",
        ["9bec0d8324f11ead23bb4fcfa3f0523e", None]),
    # an unlikely role on <body> ends the first walk before it reaches the
    # byline; the body fallback still holds all the text, and only the
    # retry without strip_unlikelys finds the byline
    "byline_in_unlikely_body": (
        '<html><body role="navigation"><div class="byline">By Jane Roe, staff writer'
        " at the river desk</div><p>The harbor signal turned green at dawn.</p>"
        "</body></html>",
        ["dc933c664def6555b48816f16f83ce89", None]),
    # the byline inside an unlikely container
    "byline_in_unlikely_div": (
        '<html><body><div class="sidebar"><span class="byline">By Jane Roe</span>'
        "</div><article><p>The harbor signal turned green at dawn, and the pilots"
        " moved.</p></article></body></html>",
        ["b8451211b4d64a3ad7eea12d8b1579d5", None]),
    "empty_body": (
        "<html><head><title>Nothing here</title></head><body></body></html>",
        ["09332e9bba42758c4213a5e8472e20f6", None]),
    "blank_body": (
        "<html><body> \n\t&nbsp; </body></html>",
        ["fb70dc1ee4fbf4732ea9ab16f3c840b3", None]),
    # a tab, a double space, newlines and an NBSP: the normalized length
    # counts each ASCII whitespace run once and the NBSP as a character
    "whitespace": (
        '<html><body>\n<div class="article">\n<p>One short line\twith  two spaces.</p>'
        "\n<p>Second&nbsp;line,\n  here.</p></div>\n</body></html>",
        ["1b524aaf200a2e780915af2a9b7ae6bf", None]),
    # the pages_from_documents shape
    "doc_page": (
        '<html><head><title>doc 7 | src7</title></head><body><div class="article-content">'
        "<h1>Document 7</h1><p>spark window merge table column vector.</p>"
        "<p>stream value data small join.</p></div></body></html>",
        ["ad6e8b214381fa46892e590b09d8eb98", None]),
}


def _unbounded(monkeypatch):
    """Turn the bound off: no page's body bounds its articles."""
    monkeypatch.setattr(Parser, "_body_text_length", lambda self: math.inf)


def _fields(article) -> dict:
    return {f.name: getattr(article, f.name) for f in fields(article) if f.name != "node"}


def _parse(html: bytes, url: str = "http://bound.example/"):
    ps = Parser()
    return _fields(ps.parse_document(parse_html(html), url)), len(ps.attempts)


@pytest.mark.parametrize("name", sorted(EDGE_PAGES))
def test_edge_pages_match_pins(name):
    html, pins = EDGE_PAGES[name]
    url = f"http://bound.example/{name}"
    got = [record_digest(extract_record(url, html.encode())),
           record_digest(extract_record(url, html.encode(), readerable_gate=True))]
    assert got == pins


def test_head_template_article_is_not_bounded_by_the_body():
    article, attempts = _parse(EDGE_PAGES["head_template"][0].encode())
    assert article["length"] == 299
    assert attempts == 2


def test_byline_past_an_unlikely_body_is_still_found():
    article, attempts = _parse(EDGE_PAGES["byline_in_unlikely_body"][0].encode())
    assert article["byline"] == "By Jane Roe, staff writer at the river desk"
    assert attempts == 3


@pytest.mark.parametrize("name", ["empty_body", "blank_body", "whitespace", "doc_page"])
def test_article_holding_the_whole_body_grabs_once(name, monkeypatch):
    html = EDGE_PAGES[name][0].encode()
    bounded, attempts = _parse(html)
    assert attempts == 1
    _unbounded(monkeypatch)
    unbounded, unbounded_attempts = _parse(html)
    assert unbounded == bounded
    assert unbounded_attempts > 1


def test_bound_skip_is_logged(caplog):
    html = EDGE_PAGES["doc_page"][0].encode()
    with caplog.at_level(logging.INFO, "go_readability_spark.readability"):
        Parser(debug=True).parse_document(parse_html(html), "http://x/")
    assert any(r.message.startswith("skipping retries: ") for r in caplog.records)
    # a page the sieve stops on without any retry to skip says nothing
    caplog.clear()
    short = b"<html><body><p>One short line, and nothing else.</p></body></html>"
    with caplog.at_level(logging.INFO, "go_readability_spark.readability"):
        Parser(debug=True).parse_document(parse_html(short), "http://x/")
    assert not any(r.message.startswith("skipping retries: ") for r in caplog.records)


@pytest.mark.parametrize("which", ["sieve", "long"])
def test_bound_changes_no_article_on_the_pinned_corpora(which, monkeypatch):
    pages = (sieve_corpus(SIEVE_PAGES, SIEVE_SEED) if which == "sieve"
             else long_corpus(LONG_PAGES, LONG_SEED, LONG_SYNTH_PAGES))
    bounded = {url: _parse(html, url) for url, html in pages}
    _unbounded(monkeypatch)
    unbounded = {url: _parse(html, url) for url, html in pages}
    changed = [url for url in bounded if unbounded[url][0] != bounded[url][0]]
    assert not changed, f"{len(changed)} articles changed, first: {changed[:5]}"
    if which == "sieve":
        # the bound skips retries on part of the corpus
        assert sum(bounded[url][1] < unbounded[url][1] for url in bounded) > len(pages) // 20


_TEXT = st.lists(st.sampled_from(["a", "b", ",", ".", " ", "\t", "\n", "\xa0", "word ",
                                  "  "]), max_size=40).map("".join)
_CLASS = st.sampled_from(["", "article", "content", "byline", "sidebar", "meta",
                          "comment", "share", "promo", "article-content"])
_ROLE = st.sampled_from(["", "navigation", "main", "dialog"])


@st.composite
def _short_pages(draw) -> bytes:
    head = ""
    if draw(st.booleans()):
        head += f"<title>{draw(_TEXT)}</title>"
    if draw(st.integers(0, 4)) == 0:
        head += f"<template><div><p>{draw(_TEXT)}</p></div></template>"
    blocks = []
    for _ in range(draw(st.integers(0, 4))):
        tag = draw(st.sampled_from(["p", "div", "h1", "h2", "span", "section", "ul"]))
        inner = draw(_TEXT)
        if tag == "ul":
            inner = f"<li>{inner}</li>"
        if draw(st.booleans()):
            inner = f'<a href="/{draw(st.sampled_from(["x", "#y"]))}">{draw(_TEXT)}</a>' + inner
        if tag == "div" and draw(st.booleans()):
            inner = f"<p>{inner}</p><p>{draw(_TEXT)}</p>"
        attrs = f' class="{draw(_CLASS)}"'
        role = draw(_ROLE)
        if role:
            attrs += f' role="{role}"'
        blocks.append(f"<{tag}{attrs}>{inner}</{tag}>")
    body_role = draw(_ROLE)
    body_attr = f' role="{body_role}"' if body_role else ""
    wrap = draw(_CLASS)
    body = "".join(blocks)
    if wrap:
        body = f'<div class="{wrap}">{body}</div>'
    return f"<html><head>{head}</head><body{body_attr}>{body}</body></html>".encode()


@settings(max_examples=150, deadline=None, suppress_health_check=[HealthCheck.too_slow,
                                                                  HealthCheck.function_scoped_fixture])
@given(html=_short_pages())
# <body role="navigation"> is removed, so the only-child climb from the
# <head> text reaches the document node, which has no parent
@example(html=b'<html><head><template><div><p>aaaaaaaaaaaaaaword word a</p></div>'
              b'</template></head><body role="navigation"></body></html>')
def test_bound_changes_no_article_on_generated_short_pages(html, monkeypatch):
    bounded = _parse(html)[0]
    with monkeypatch.context() as m:
        _unbounded(m)
        assert _parse(html)[0] == bounded
