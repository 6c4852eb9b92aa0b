"""Retry-sieve regression corpus (sources/sieve_corpus.py).

The sieve skips a retry that would replay the attempt just run
(Parser._grab_article). These tests hold its output to digests pinned
before that skip existed, on short pages built to make each flag-gated
branch fire or stay idle, plus one hand-written page per guard. The pins
are regression pins, not reference parity."""

from dataclasses import asdict

import pytest

from go_readability_spark.dom import parse_html
from go_readability_spark.readability import Parser
from go_readability_spark.sources.sieve_corpus import (
    SIEVE_PAGES,
    SIEVE_SEED,
    TARGETED_PAGES,
    corpus_digests,
    load_sieve_pins,
    sieve_corpus,
)


@pytest.fixture(scope="module")
def corpus():
    return sieve_corpus(SIEVE_PAGES, SIEVE_SEED)


@pytest.fixture(scope="module")
def pins():
    doc = load_sieve_pins()
    assert (doc["seed"], doc["pages"]) == (SIEVE_SEED, SIEVE_PAGES)
    return doc["pins"]


def test_pins_cover_the_corpus(corpus, pins):
    assert sorted(pins) == sorted(url for url, _ in corpus)
    # the generator reaches both sides of the readerable gate
    assert any(gated is not None for _, gated in pins.values())
    assert any(gated is None for _, gated in pins.values())


def test_corpus_matches_pins(corpus, pins):
    got = corpus_digests(corpus)
    # hand-written pages first: each names the guard that broke
    changed = sorted((url for url in pins if got[url] != pins[url]),
                     key=lambda url: (url not in TARGETED_PAGES, url))
    assert not changed, f"{len(changed)} urls changed, first: {changed[:5]}"


def _grabs(html: bytes) -> int:
    ps = Parser()
    ps.parse_document(parse_html(html), "http://sieve.example/")
    return len(ps.attempts)


@pytest.mark.parametrize("url", sorted(TARGETED_PAGES))
def test_targeted_page_runs_one_retry(url):
    # the first attempt fires exactly one guard: the retries before it are
    # skipped, it runs, and nothing fires after it
    assert _grabs(TARGETED_PAGES[url].encode("utf-8")) == 2


def test_short_page_with_no_decisions_grabs_once():
    assert _grabs(b"<html><body><p>One short line, and nothing else.</p></body></html>") == 1


def _fields(article) -> dict:
    out = asdict(article)
    out.pop("node")
    return out


def test_reused_parser_matches_fresh_parser(corpus):
    """Per-attempt sieve state must not leak from one document to the next."""
    reused = Parser()
    for url, html in corpus:
        want = _fields(Parser().parse_document(parse_html(html), url))
        assert _fields(reused.parse_document(parse_html(html), url)) == want, url
