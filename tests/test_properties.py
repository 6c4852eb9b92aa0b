"""Property-based tests (hypothesis) over the pure-Python kernels, plus a
seeded Spark-vs-pure-Python cross-check of the jaccard family. These pin
the 'never crashes on adversarial input' contract that a 10^12-row crawl
corpus effectively guarantees will be exercised."""

import re

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

SET = settings(
    max_examples=60, deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)


@SET
@given(st.binary(max_size=2048))
def test_parse_html_never_raises(data):
    from go_readability_spark.dom import parse_html, text_content

    doc = parse_html(data)
    text_content(doc)  # and the serializer's text walk survives too


@SET
@given(st.text(max_size=1024))
def test_extract_record_never_raises_and_keeps_schema(html):
    from go_readability_spark.plans.extract import extract_record
    from go_readability_spark.plans.schema import ARTICLES_SCHEMA

    rec = extract_record("https://example.org/x", html.encode("utf-8", "ignore"))
    missing = {f.name for f in ARTICLES_SCHEMA.fields} - set(rec) - {"warc_ts"}
    assert not missing
    rec2 = extract_record("https://example.org/x", html.encode("utf-8", "ignore"))
    assert rec == rec2  # deterministic
    # the readerable gate drops exactly the pages whose Check did not pass,
    # and leaves every other record untouched
    gated = extract_record("https://example.org/x", html.encode("utf-8", "ignore"),
                           readerable_gate=True)
    assert (gated is None) == (rec["readerable"] is not True)
    assert gated is None or gated == rec


@SET
@given(st.text(max_size=64))
def test_parse_date_never_raises(s):
    from go_readability_spark.readability.metadata import parse_date

    parse_date(s)  # None or datetime, never an exception


@SET
@given(st.text(max_size=256))
def test_parity_normalization_idempotent(s):
    from go_readability_spark.sources.fixture_corpus import normalize_parity_text

    once = normalize_parity_text(s)
    assert normalize_parity_text(once) == once
    assert "­" not in once
    assert not re.search(r"[\t\n\x0b\x0c\r]| {2,}", once)


def _py_jaccard_pairs(docs, n=3, threshold=0.5):
    """Independent pure-Python reference for ngram_jaccard_pairs."""
    shingles = {}
    for i, text in docs:
        if text.strip() == "":
            continue
        toks = re.sub(r"\s+", " ", text.strip().lower()).split(" ")
        grams = {" ".join(toks[j:j + n]) for j in range(len(toks) - n + 1)}
        if grams:
            shingles[i] = grams
    out = set()
    ids = sorted(shingles)
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = ids[x], ids[y]
            inter = len(shingles[a] & shingles[b])
            if inter == 0:
                continue
            jac = inter / (len(shingles[a]) + len(shingles[b]) - inter)
            if round(jac, 6) >= threshold:
                out.add((a, b, inter))
    return out


def test_spark_jaccard_matches_pure_python_reference(spark):
    """Seeded random corpus with heavy overlap: the Spark plan must agree
    with an independent in-memory implementation exactly."""
    import random

    rng = random.Random(1234)
    vocab = [f"w{i}" for i in range(30)]
    docs = []
    for i in range(40):
        length = rng.randint(0, 12)
        docs.append((i, " ".join(rng.choice(vocab) for _ in range(length))))
    # planted exact + near duplicates
    docs.append((100, docs[0][1]))
    docs.append((101, docs[1][1] + " extraword"))

    from go_readability_spark.operators.dedup import ngram_jaccard_pairs

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r.id_a, r.id_b, r.inter)
        for r in ngram_jaccard_pairs(df, threshold=0.5, max_df=None).collect()
    }
    assert got == _py_jaccard_pairs(docs)


@given(st.binary(max_size=4096))
def test_pdf_text_contained_on_arbitrary_bytes(data):
    """pdf_text either extracts or raises ValueError — never hangs, never
    leaks an unexpected exception type (the Spark wrapper maps ValueError
    to a per-row error)."""
    from go_readability_spark.sources.pdf import pdf_text

    try:
        out = pdf_text(data)
        assert isinstance(out, str)
    except ValueError:
        pass


@given(st.binary(max_size=4096))
def test_pdf_text_contained_with_pdf_header(data):
    from go_readability_spark.sources.pdf import pdf_text

    try:
        out = pdf_text(b"%PDF-1.4\n" + data)
        assert isinstance(out, str)
    except ValueError:
        pass


@given(st.binary(max_size=4096))
def test_warc_parsers_contained_on_arbitrary_bytes(data):
    """Both archive parsers terminate with rows or a contained exception
    on arbitrary bytes (the mapInPandas wrappers skip such archives)."""
    from go_readability_spark.sources.warc import (
        warc_bytes_to_page_rows,
        wet_bytes_to_doc_rows,
    )

    for fn in (warc_bytes_to_page_rows, wet_bytes_to_doc_rows):
        try:
            rows = list(fn(data))
            assert all(isinstance(r, dict) for r in rows)
        except (ValueError, EOFError, OSError):  # gzip/framing errors
            pass


@given(st.binary(max_size=2048))
def test_warc_parsers_contained_on_valid_framing_prefix(data):
    """A syntactically valid first record followed by garbage must yield
    the record and then stop or raise contained errors."""
    from datetime import datetime

    from go_readability_spark.sources.warc import (
        warc_bytes_to_page_rows,
        write_warc,
    )

    good = write_warc(
        [("http://x/ok", datetime(2024, 1, 1), b"<html>ok</html>")], gz=False
    )
    try:
        rows = list(warc_bytes_to_page_rows(good + data))
    except ValueError:
        return
    assert rows and rows[0]["url"] == "http://x/ok"
