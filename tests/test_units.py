"""Unit tier: operator-level tests mirroring the reference's unit suites
(utils_test.go, internal/re2go/re2go_test.go) plus the precision quirks
called out in SURVEY.md §2 (score quantization, ASCII tokenization,
normalize-spaces character set)."""

from datetime import datetime, timedelta, timezone

from go_readability_spark.dom import (
    body_element,
    get_attribute,
    get_elements_by_tag_name,
    inner_html,
    parse_html,
    text_content,
)
from go_readability_spark.readability import Parser
from go_readability_spark.readability.metadata import parse_date
from go_readability_spark.readability.regexps import (
    RX_BYLINE,
    RX_MAYBE_CANDIDATE,
    RX_NEGATIVE_CLASS,
    RX_POSITIVE_CLASS,
    RX_UNLIKELY_CANDIDATES,
    count_commas,
    normalize_spaces,
)
from go_readability_spark.readability.utils import (
    text_similarity,
    to_absolute_uri,
    trim,
    word_count,
)


def test_unlikely_candidates():
    # mirrors re2go_test.go positive/negative cases
    for s in ("ad-break banner", "comment", "disqus_thread", "footer-widgets",
              "sidebar", "yom-remote", "social-share"):
        assert RX_UNLIKELY_CANDIDATES.search(s), s
    for s in ("article-body", "mainline", ""):
        assert not RX_UNLIKELY_CANDIDATES.search(s), s


def test_maybe_candidate():
    for s in ("and", "article", "main-shadow", "body column"):
        assert RX_MAYBE_CANDIDATE.search(s), s
    assert not RX_MAYBE_CANDIDATE.search("sidebar")


def test_negative_class_hid_word_boundaries():
    # the split DFA cases in class-weight.re:53-75
    assert RX_NEGATIVE_CLASS.search("hid")
    assert RX_NEGATIVE_CLASS.search("foo hid")
    assert RX_NEGATIVE_CLASS.search("hid bar")
    assert RX_NEGATIVE_CLASS.search("foo hid bar")
    assert not RX_NEGATIVE_CLASS.search("hidx")
    assert not RX_NEGATIVE_CLASS.search("xhid")
    assert RX_NEGATIVE_CLASS.search("hidden thing")
    assert RX_NEGATIVE_CLASS.search("com-thing")


def test_positive_class():
    assert RX_POSITIVE_CLASS.search("article-content")
    assert RX_POSITIVE_CLASS.search("h-entry")
    assert not RX_POSITIVE_CLASS.search("widget")


def test_byline():
    assert RX_BYLINE.search("p-author h-card")
    assert RX_BYLINE.search("writtenby")
    assert not RX_BYLINE.search("written by")  # DFA has no space variant
    assert RX_BYLINE.search("dateline")
    assert not RX_BYLINE.search("contents")


def test_count_commas_unicode():
    # nine comma variants (grab-article.re:41-61)
    assert count_commas("a,b،c﹐d︐e︑f⹁g⸴h⸲i，j") == 9
    assert count_commas("no commas here") == 0


def test_normalize_spaces_charset():
    # only [\t\n\f\r ]{2,} collapses — \v and unicode spaces are preserved
    assert normalize_spaces("a  b\t\tc\n\nd") == "a b c d"
    assert normalize_spaces("a\x0b\x0bb") == "a\x0b\x0bb"
    assert normalize_spaces("a  b") == "a  b"
    assert normalize_spaces("single\nnewline") == "single\nnewline"


def test_text_similarity_ascii_tokenize():
    assert text_similarity("Hello World", "hello world") == 1.0
    assert text_similarity("abc def", "xyz uvw") == 0.0
    # Go \W is ASCII: unicode letters are separators
    assert text_similarity("naïve approach", "naïve approach") == 1.0


def test_to_absolute_uri():
    base = "http://fakehost/test/page.html"
    assert to_absolute_uri("#frag", base) == "#frag"
    assert to_absolute_uri("data:image/png;base64,x", base).startswith("data:")
    assert to_absolute_uri("http://other/x", base) == "http://other/x"
    assert to_absolute_uri("foo/bar", base) == "http://fakehost/test/foo/bar"
    assert to_absolute_uri("/foo", base) == "http://fakehost/foo"
    assert to_absolute_uri("//cdn.host/x", base) == "http://cdn.host/x"


def test_trim_and_wordcount():
    assert trim("  a \t b\n c  ") == "a b c"
    assert word_count("one two  three") == 3


def test_score_quantization():
    # %.4f round-trip (parser.go:2262-2282)
    doc = parse_html("<body><div id=x></div></body>")
    node = get_elements_by_tag_name(doc, "div")[0]
    Parser._set_content_score(node, 1.23456789)
    assert get_attribute(node, "data-readability-score") == "1.2346"
    assert Parser._get_content_score(node) == 1.2346


def test_parse_date_formats():
    assert parse_date("2018-04-05T06:00") == datetime(2018, 4, 5, 6, 0)
    got = parse_date("2021-11-01T10:52:50+01:00")
    assert got == datetime(2021, 11, 1, 10, 52, 50, tzinfo=timezone(timedelta(hours=1)))
    assert parse_date("garbage!!") is None
    assert parse_date("") is None


# ----------------------------------------------------------------- DOM builder

def test_builder_implied_structure():
    doc = parse_html("<p>hello")
    assert inner_html(doc) == "<html><head></head><body><p>hello</p></body></html>"


def test_builder_p_auto_close():
    doc = parse_html("<body><p>a<div>b</div>")
    body = body_element(doc)
    assert [c.tag for c in body.children()] == ["p", "div"]


def test_builder_table_fostering():
    doc = parse_html("<body><table>oops<tr><td>x</td></tr></table>")
    body = body_element(doc)
    assert text_content(body.first_child) == "oops"
    assert body.children()[0].tag == "table"


def test_builder_implied_tbody():
    doc = parse_html("<table><tr><td>x</td></tr></table>")
    table = get_elements_by_tag_name(doc, "table")[0]
    assert [c.tag for c in table.children()] == ["tbody"]


def test_builder_raw_text_elements():
    doc = parse_html("<body><script>if (a < b) { x(); }</script><noscript><img src=x></noscript>")
    script = get_elements_by_tag_name(doc, "script")[0]
    assert "a < b" in text_content(script)
    noscript = get_elements_by_tag_name(doc, "noscript")[0]
    # raw text, not parsed into elements (scripting-enabled behavior)
    assert get_elements_by_tag_name(noscript, "img") == []
    assert "<img" in text_content(noscript)


def test_builder_rcdata_entities():
    doc = parse_html("<title>a &amp; b</title>")
    assert text_content(get_elements_by_tag_name(doc, "title")[0]) == "a & b"


def test_builder_end_p_inserts_empty():
    doc = parse_html("<body></p>x")
    body = body_element(doc)
    assert body.children()[0].tag == "p"


def test_builder_self_closing_div_stays_open():
    doc = parse_html("<body><div/>inside</body>")
    div = get_elements_by_tag_name(doc, "div")[0]
    assert text_content(div) == "inside"


def test_builder_crlf_normalized():
    doc = parse_html(b"<body><pre>\r\na\r\nb</pre>")
    pre = get_elements_by_tag_name(doc, "pre")[0]
    assert text_content(pre) == "a\nb"


def test_to_absolute_uri_reference_table():
    """utils_test.go:50-73 verbatim (Go net/url ResolveReference parity)."""
    from go_readability_spark.readability.utils import to_absolute_uri

    base = "http://localhost:8080/absolute/"
    table = {
        "#here": "#here",
        "/test/123": "http://localhost:8080/test/123",
        "test/123": "http://localhost:8080/absolute/test/123",
        "//www.google.com": "http://www.google.com",
        "https://www.google.com": "https://www.google.com",
        "ftp://ftp.server.com": "ftp://ftp.server.com",
        "www.google.com": "http://localhost:8080/absolute/www.google.com",
        "http//www.google.com": "http://localhost:8080/absolute/http//www.google.com",
        "../hello/relative": "http://localhost:8080/hello/relative",
    }
    for url, expected in table.items():
        assert to_absolute_uri(url, base) == expected, url


def test_word_count_and_index_of_reference_table():
    """utils_test.go:9-47 verbatim."""
    from go_readability_spark.readability.utils import index_of, word_count

    sample = ("hello this is a simple sentence and we try "
              "to repeat some simple word like this").split()
    for word, expected in {"hello": 0, "this": 1, "simple": 4, "we": 7, "repeat": 10}.items():
        assert index_of(sample, word) == expected, word

    counts = {
        "German fashion designer Karl Lagerfeld, best known for his creative "
        "work at Chanel, dies at the age of 85.": 19,
        "A suicide bombing attack near Pulwama, in Indian administered "
        "Kashmir, kills 40 security personnel.": 14,
        "NASA concludes the 15 year Opportunity Mars rover mission after "
        "being unable to wake the rover from hibernation.": 18,
    }
    for sentence, expected in counts.items():
        assert word_count(sentence) == expected, sentence


def test_env_confs_parsing():
    """SPARK_GRAFT_CONF grammar: 'k=v;k=v', malformed segments skipped,
    values may contain '=' (only the first splits)."""
    from go_readability_spark.plans.session import env_confs

    assert env_confs("spark.io.compression.codec=zstd") == {
        "spark.io.compression.codec": "zstd"}
    assert env_confs(" a = 1 ; b=x=y ; garbage ; =v ; c=") == {
        "a": "1", "b": "x=y", "c": ""}
    assert env_confs("") == {}
