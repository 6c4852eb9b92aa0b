"""Long multi-candidate regression corpus (``long_corpus`` in
sources/sieve_corpus.py).

The retry-sieve corpus is short, so its pages never reach the decisions
that only long pages make: which sibling of the top candidate joins the
article, and whether a link-heavy block with a positive class survives
``_clean_conditionally``. These tests hold ``extract_record`` on long
pages with several scored candidates to digests pinned before the kernel
changed. The pins are regression pins, not reference parity."""

import pytest

from go_readability_spark.sources.sieve_corpus import (
    LONG_PAGES,
    LONG_PINS,
    LONG_SEED,
    LONG_SYNTH_PAGES,
    corpus_digests,
    load_sieve_pins,
    long_corpus,
)


@pytest.fixture(scope="module")
def corpus():
    return long_corpus(LONG_PAGES, LONG_SEED, LONG_SYNTH_PAGES)


@pytest.fixture(scope="module")
def pins():
    doc = load_sieve_pins(LONG_PINS)
    assert (doc["seed"], doc["pages"], doc["synth_pages"]) == (
        LONG_SEED, LONG_PAGES, LONG_SYNTH_PAGES)
    return doc["pins"]


def test_long_pins_cover_the_corpus(corpus, pins):
    assert sorted(pins) == sorted(url for url, _ in corpus)
    # most pages pass the readerable gate; the digests differ per page
    assert sum(gated is not None for _, gated in pins.values()) > len(pins) // 2
    assert len({ungated for ungated, _ in pins.values()}) == len(pins)


def test_long_corpus_matches_pins(corpus, pins):
    got = corpus_digests(corpus)
    changed = sorted(url for url in pins if got[url] != pins[url])
    assert not changed, f"{len(changed)} urls changed, first: {changed[:5]}"
