"""Parser option surface (reference parser.go:97-144): the knobs the
reference exposes must behave equivalently here."""

import re

import pytest

from go_readability_spark.dom import parse_html
from go_readability_spark.readability import Parser

ARTICLE = b"""<html><head><title>Opt Test</title></head><body>
<div class="article-content" id="main">
<h2>Section</h2>
""" + b"".join(
    b"<p>This is paragraph %d with some, commas, and enough text to score "
    b"points in the readability algorithm overall scheme.</p>" % i
    for i in range(20)
) + b"""
<iframe src="https://www.youtube.com/embed/xyz"></iframe>
<iframe src="https://evil.example.com/ad"></iframe>
</div></body></html>"""


def test_keep_classes():
    art = Parser(keep_classes=True).parse(ARTICLE, None)
    assert 'class="article-content"' in art.content
    art2 = Parser(keep_classes=False).parse(ARTICLE, None)
    assert 'class="article-content"' not in art2.content
    # the synthetic page div always keeps class="page" (classes_to_preserve)
    assert 'class="page"' in art2.content


def test_max_elems_to_parse():
    with pytest.raises(ValueError, match="documents too large"):
        Parser(max_elems_to_parse=3).parse(ARTICLE, None)
    assert Parser(max_elems_to_parse=10_000).parse(ARTICLE, None).length > 0


def test_char_thresholds_controls_retry():
    # giant threshold -> never satisfied -> best-attempt fallback still
    # returns the longest text
    art = Parser(char_thresholds=10**9).parse(ARTICLE, None)
    assert art.length > 0


def test_allowed_video_regex():
    default = Parser().parse(ARTICLE, None)
    assert "youtube.com/embed" in default.content  # whitelisted embed kept
    assert "evil.example.com" not in default.content
    custom = Parser(allowed_video_regex=re.compile(r"evil\.example\.com")).parse(ARTICLE, None)
    assert "evil.example.com" in custom.content
    assert "youtube.com/embed" not in custom.content


def test_disable_jsonld():
    page = b"""<html><head><title>Base Title Here Now</title>
    <script type="application/ld+json">{"@context":"https://schema.org",
    "@type":"NewsArticle","headline":"LD Title Here"}</script></head>
    <body><p>Some content present here.</p></body></html>"""
    with_ld = Parser().parse(page, None)
    assert with_ld.title == "LD Title Here"
    without = Parser(disable_jsonld=True).parse(page, None)
    assert without.title == "Base Title Here Now"


def test_n_top_candidates_surface():
    art = Parser(n_top_candidates=1).parse(ARTICLE, None)
    assert art.length > 0


def test_tags_to_score_override():
    # score nothing -> body fallback still wraps content
    art = Parser(tags_to_score=()).parse(ARTICLE, None)
    assert "readability-page-1" in art.content


def test_parse_document_twice_resets_state():
    p = Parser()
    a1 = p.parse(ARTICLE, None)
    a2 = p.parse(ARTICLE, None)
    assert a1.text_content == a2.text_content
    assert a1.byline == a2.byline


def test_from_document_preserves_caller_doc():
    from go_readability_spark.dom import parse_html, text_content
    from go_readability_spark.readability import check_document, from_document

    doc = parse_html(ARTICLE)
    before = text_content(doc)
    art = from_document(doc, "http://fakehost/test/page.html")
    assert art.length > 0
    # caller's tree untouched (reference clones at parser-parse.go:29)
    assert text_content(doc) == before
    # still usable for the readerable check afterwards (paragraphs here are
    # <140 bytes each, so the answer is legitimately False — parser-check.go:73)
    assert check_document(doc) is False


def test_debug_flag_logs_decisions(caplog):
    """parser.go:113 Debug parity: removal decisions surface through the
    stdlib logger when debug=True, and stay silent by default."""
    import logging

    from go_readability_spark.dom import parse_html
    from go_readability_spark.readability import Parser

    html = (
        b"<html><body><div class='sidebar'>junk</div>"
        b"<p>" + b"real content with, commas, and length. " * 30 + b"</p>"
        b"</body></html>"
    )
    with caplog.at_level(logging.INFO, "go_readability_spark.readability"):
        Parser().parse_document(parse_html(html), "http://x/")
    assert not caplog.records
    with caplog.at_level(logging.INFO, "go_readability_spark.readability"):
        Parser(debug=True).parse_document(parse_html(html), "http://x/")
    assert any("unlikely candidate" in r.message for r in caplog.records)
    assert not any("skipping retry without strip_unlikelys" in r.message
                   for r in caplog.records)

    # a short page with no unlikely nodes: the strip_unlikelys retry would
    # replay the first attempt, so the sieve skips it and says why
    short = b"<html><body><p>One short line, and nothing else.</p></body></html>"
    caplog.clear()
    with caplog.at_level(logging.INFO, "go_readability_spark.readability"):
        Parser().parse_document(parse_html(short), "http://x/")
    assert not caplog.records
    with caplog.at_level(logging.INFO, "go_readability_spark.readability"):
        Parser(debug=True).parse_document(parse_html(short), "http://x/")
    assert any(
        "skipping retry without strip_unlikelys: it decided nothing" in r.message
        for r in caplog.records
    )
