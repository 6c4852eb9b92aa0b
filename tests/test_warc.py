"""WARC source: ISO 28500 record parsing, Common-Crawl-style multi-member
gzip archives, robustness to corrupt archives, and the Spark read path
into the `pages` shape (feeding the same extraction plan as parquet
input; reference surface: go-readability consumes fetched HTML —
parser.go FromReader — this source is the crawl-scale on-ramp to it)."""

from __future__ import annotations

import gzip
import subprocess
import sys
from datetime import datetime

import pytest

from go_readability_spark.sources.warc import (
    iter_warc_records,
    pages_from_warc,
    warc_bytes_to_page_rows,
    write_warc,
)

DOC = (
    b"<html><head><title>T%d</title></head><body>"
    b"<article><p>" + b"Readable sentence, with commas, and length. " * 8
    + b"</p></article></body></html>"
)


def _records(n=3):
    return [
        (
            f"http://example.org/a{i}",
            datetime(2024, 5, 1, 12, 0, i),
            DOC.replace(b"%d", str(i).encode()),
        )
        for i in range(n)
    ]


def test_roundtrip_gz_and_plain():
    for gz in (True, False):
        blob = write_warc(_records(3), gz=gz)
        rows = list(warc_bytes_to_page_rows(blob))
        assert [r["url"] for r in rows] == [u for u, _, _ in _records(3)]
        assert rows[0]["warc_ts"] == datetime(2024, 5, 1, 12, 0, 0)
        assert rows[2]["html"] == DOC.replace(b"%d", b"2")


def test_multi_member_gzip_concatenation():
    # Common Crawl archives are concatenations of per-record gzip members
    a = write_warc(_records(2), gz=True)
    b = write_warc([("http://example.org/z", datetime(2024, 1, 1), b"<html><body>z</body></html>")], gz=True)
    rows = list(warc_bytes_to_page_rows(a + b))
    assert len(rows) == 3
    assert rows[-1]["url"] == "http://example.org/z"


def test_non_response_and_non_html_records_skipped():
    body = b"<html><body>x</body></html>"
    http = (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\nContent-Length: "
        + str(len(body)).encode() + b"\r\n\r\n" + body
    )
    rec = (
        b"WARC/1.0\r\nWARC-Type: request\r\n"
        b"WARC-Target-URI: http://example.org/req\r\n"
        b"Content-Length: " + str(len(http)).encode() + b"\r\n\r\n" + http + b"\r\n\r\n"
    )
    png = (
        b"HTTP/1.1 200 OK\r\nContent-Type: image/png\r\nContent-Length: 3\r\n\r\nabc"
    )
    rec2 = (
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        b"WARC-Target-URI: http://example.org/img.png\r\n"
        b"Content-Length: " + str(len(png)).encode() + b"\r\n\r\n" + png + b"\r\n\r\n"
    )
    good = write_warc([("http://example.org/ok", datetime(2024, 1, 1), body)], gz=False)
    rows = list(warc_bytes_to_page_rows(rec + rec2 + good))
    assert [r["url"] for r in rows] == ["http://example.org/ok"]


def test_malformed_http_payload_skipped_bad_date_tolerated():
    raw = write_warc([("http://example.org/bad", datetime(2024, 1, 1), b"x")], gz=False)
    # corrupt the HTTP status line so _split_http_response rejects it
    raw = raw.replace(b"HTTP/1.1 200 OK", b"NOTHTTP 200 OKx")
    assert list(warc_bytes_to_page_rows(raw)) == []
    raw2 = write_warc([("http://example.org/d", datetime(2024, 1, 1), b"<html>d</html>")], gz=False)
    raw2 = raw2.replace(b"2024-01-01T00:00:00Z", b"not-a-date-at-allZ")
    rows = list(warc_bytes_to_page_rows(raw2))
    assert len(rows) == 1 and rows[0]["warc_ts"] is None


def test_garbage_blob_raises_in_iter():
    with pytest.raises(ValueError):
        list(iter_warc_records(b"GARBAGE NOT A WARC\r\n\r\n"))


def test_truncated_record_stops_cleanly():
    raw = write_warc(_records(2), gz=False)
    rows = list(warc_bytes_to_page_rows(raw[: len(raw) - 40]))
    assert [r["url"] for r in rows] == ["http://example.org/a0"]


@pytest.fixture(scope="module")
def warc_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("warc")
    (d / "part-00000.warc.gz").write_bytes(write_warc(_records(4)))
    (d / "part-00001.warc.gz").write_bytes(
        write_warc(
            [("http://example.org/b%d" % i, datetime(2024, 6, 1, 0, 0, i),
              DOC.replace(b"%d", b"b%d" % i)) for i in range(3)]
        )
    )
    # corrupt archive: truncated gzip member — must be skipped, not fatal
    (d / "part-00002.warc.gz").write_bytes(write_warc(_records(1))[:25])
    # garbage framing inside valid gzip — must also be skipped
    (d / "part-00003.warc.gz").write_bytes(gzip.compress(b"NOT A WARC AT ALL"))
    return str(d)


def test_pages_from_warc_spark(spark, warc_dir):
    df = pages_from_warc(spark, warc_dir)
    from go_readability_spark.plans.schema import PAGES_SCHEMA

    assert df.schema == PAGES_SCHEMA
    rows = {r.url: r for r in df.collect()}
    assert len(rows) == 7  # corrupt archives contributed nothing, job survived
    assert rows["http://example.org/a1"].warc_ts == datetime(2024, 5, 1, 12, 0, 1)
    assert bytes(rows["http://example.org/b2"].html) == DOC.replace(b"%d", b"b2")


def test_pages_from_warc_strict_raises(spark, warc_dir):
    with pytest.raises(Exception):
        pages_from_warc(spark, warc_dir, strict=True).count()


def test_warc_feeds_extraction_plan(spark, warc_dir):
    from go_readability_spark.plans.extract import extract_pages

    arts = extract_pages(pages_from_warc(spark, warc_dir), num_partitions=4)
    got = {r.url: r for r in arts.collect()}
    assert len(got) == 7
    a0 = got["http://example.org/a0"]
    assert a0.title == "T0" and a0.error is None
    assert "Readable sentence" in a0.text_content


def test_cli_extract_from_warc(tmp_path, warc_dir):
    out = tmp_path / "articles"
    ckpt = tmp_path / "ckpt"
    r = subprocess.run(
        [sys.executable, "-m", "go_readability_spark", "extract",
         "--input", warc_dir, "--input-format", "warc",
         "--output", str(out), "--checkpoint", str(ckpt),
         "--buckets", "4", "--master", "local[2]"],
        capture_output=True, text=True, timeout=600, cwd="/root/repo",
    )
    assert r.returncode == 0, r.stderr[-4000:]
    import duckdb

    n = duckdb.sql(f"select count(*) from '{out}/**/*.parquet'").fetchone()[0]
    assert n == 7


def test_wet_roundtrip_and_spark(spark, tmp_path):
    """WET (conversion-record) sidecar format: text docs round-trip; a
    response-record WARC yields nothing through the WET reader and vice
    versa (record-type discrimination)."""
    from go_readability_spark.sources.warc import (
        docs_from_wet,
        wet_bytes_to_doc_rows,
        write_wet,
    )

    recs = [
        ("http://example.org/w0", datetime(2024, 2, 1, 8, 0, 0), "extracted text zero"),
        ("http://example.org/w1", datetime(2024, 2, 1, 8, 0, 1), "unicode café — text"),
    ]
    rows = list(wet_bytes_to_doc_rows(write_wet(recs)))
    assert [(r["url"], r["text"]) for r in rows] == [(u, t) for u, _, t in recs]
    # WARC response records are not WET conversions
    assert list(wet_bytes_to_doc_rows(write_warc(_records(2)))) == []
    assert list(warc_bytes_to_page_rows(write_wet(recs))) == []

    (tmp_path / "a.wet.gz").write_bytes(write_wet(recs))
    (tmp_path / "b.wet.gz").write_bytes(write_wet(recs)[:20])  # corrupt: skipped
    got = {r.url: r for r in docs_from_wet(spark, str(tmp_path)).collect()}
    assert len(got) == 2
    assert got["http://example.org/w1"].text == "unicode café — text"
    assert got["http://example.org/w0"].warc_ts == datetime(2024, 2, 1, 8, 0, 0)


def _wrap_http(http: bytes, url=b"http://example.org/h") -> bytes:
    return (
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        b"WARC-Target-URI: " + url + b"\r\n"
        b"WARC-Date: 2024-01-01T00:00:00Z\r\n"
        b"Content-Length: " + str(len(http)).encode() + b"\r\n\r\n"
        + http + b"\r\n\r\n"
    )


def test_non_2xx_responses_skipped():
    """404 error pages and 301 redirect stubs are crawl noise, not pages."""
    for status in (b"404 Not Found", b"301 Moved Permanently", b"500 Oops"):
        http = (b"HTTP/1.1 " + status +
                b"\r\nContent-Type: text/html\r\n\r\n<html>stub</html>")
        assert list(warc_bytes_to_page_rows(_wrap_http(http))) == []
    ok = b"HTTP/1.1 204 No Content\r\nContent-Type: text/html\r\n\r\n<html>x</html>"
    assert len(list(warc_bytes_to_page_rows(_wrap_http(ok)))) == 1  # 2xx kept


def test_chunked_transfer_encoding_decoded():
    body = b"7\r\n<html>h\r\n8\r\nello</h1\r\n4\r\ntml>\r\n0\r\n\r\n"
    http = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
            b"Transfer-Encoding: chunked\r\n\r\n" + body)
    rows = list(warc_bytes_to_page_rows(_wrap_http(http)))
    assert len(rows) == 1
    assert rows[0]["html"] == b"<html>hello</h1tml>"


def test_content_encoding_gzip_decoded_unknown_skipped():
    page = b"<html><body>compressed page body</body></html>"
    http = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
            b"Content-Encoding: gzip\r\n\r\n" + gzip.compress(page))
    rows = list(warc_bytes_to_page_rows(_wrap_http(http)))
    assert rows and rows[0]["html"] == page
    # brotli: no stdlib decoder — the record must be skipped, not emitted raw
    http_br = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
               b"Content-Encoding: br\r\n\r\n\x1b\x2e\x00")
    assert list(warc_bytes_to_page_rows(_wrap_http(http_br))) == []
    # corrupt gzip body: skipped, not raised
    http_bad = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
                b"Content-Encoding: gzip\r\n\r\nnot-gzip")
    assert list(warc_bytes_to_page_rows(_wrap_http(http_bad))) == []


def test_warc_date_offset_converted_to_utc():
    raw = write_warc([("http://example.org/tz", datetime(2024, 5, 1, 12, 0, 0), b"<html>t</html>")], gz=False)
    raw = raw.replace(b"2024-05-01T12:00:00Z", b"2024-05-01T12:00:00+02:00")
    rows = list(warc_bytes_to_page_rows(raw))
    assert rows[0]["warc_ts"] == datetime(2024, 5, 1, 10, 0, 0)  # converted, not truncated


def test_lf_headers_with_crlfcrlf_in_body():
    """LF-only HTTP headers whose BODY contains a CRLFCRLF must split on
    the earlier LFLF, keeping the real headers."""
    http = (b"HTTP/1.0 200 OK\nContent-Type: text/html\n\n"
            b"<html>before\r\n\r\nafter</html>")
    rows = list(warc_bytes_to_page_rows(_wrap_http(http)))
    assert len(rows) == 1
    assert rows[0]["html"] == b"<html>before\r\n\r\nafter</html>"


def test_ranged_fetch_matches_whole_archive(spark, tmp_path):
    """The closed crawl loop: CDXJ index (real measured offsets) ->
    cdx_fetch_plan -> byte-range member reads -> rows byte-identical to
    the whole-archive path -> extraction.  A 404 capture in the index is
    excluded by the plan, so its (bogus) byte range is never read."""
    from go_readability_spark.plans.extract import extract_pages
    from go_readability_spark.sources import (
        cdx_fetch_plan,
        pages_from_fetch_plan,
        parse_cdxj,
    )

    d = tmp_path / "arch"
    d.mkdir()
    lines, urls = [], []
    for j in range(2):
        off, blob = 0, b""
        fname = f"a{j}.warc.gz"
        for k in range(3):
            i = j * 3 + k
            url = f"http://example.org/r{i}"
            member = write_warc(
                [(url, datetime(2024, 5, 1, 0, 0, i),
                  DOC.replace(b"%d", str(i).encode()))])
            lines.append(
                f'org,example)/r{i} 2024050100000{i} '
                f'{{"url": "{url}", "mime": "text/html", "status": "200", '
                f'"digest": "sha1:{i}", "length": "{len(member)}", '
                f'"offset": "{off}", "filename": "{fname}"}}')
            blob += member
            off += len(member)
            urls.append(url)
        (d / fname).write_bytes(blob)
    # 404 capture: the plan must drop it BEFORE any read — its byte range
    # is garbage on purpose
    lines.append(
        'org,example)/gone 20240501000009 '
        '{"url": "http://example.org/gone", "mime": "text/html", '
        '"status": "404", "digest": "x", "length": "7", '
        '"offset": "999999", "filename": "a0.warc.gz"}')
    idx = spark.createDataFrame([(ln,) for ln in lines], "line string")
    plan = cdx_fetch_plan(parse_cdxj(idx))
    fetched = {r.url: r
               for r in pages_from_fetch_plan(plan, str(d)).collect()}
    whole = {r.url: r for r in pages_from_warc(spark, str(d)).collect()}
    assert set(fetched) == set(whole) == set(urls)
    for u in urls:
        assert bytes(fetched[u].html) == bytes(whole[u].html)
        assert fetched[u].warc_ts == whole[u].warc_ts
    arts = {r.url: r
            for r in extract_pages(pages_from_fetch_plan(plan, str(d)),
                                   num_partitions=2).collect()}
    assert len(arts) == len(urls)
    assert arts["http://example.org/r0"].title == "T0"
    assert arts["http://example.org/r0"].error is None


def test_ranged_fetch_corrupt_member_skipped(spark, tmp_path):
    """A plan row whose byte range is garbage skips that member only
    (strict=False), like corrupt archives elsewhere; strict=True raises."""
    from go_readability_spark.sources import pages_from_fetch_plan

    d = tmp_path / "arch"
    d.mkdir()
    member = write_warc([("http://example.org/ok", datetime(2024, 5, 1),
                          DOC.replace(b"%d", b"ok"))])
    (d / "a.warc.gz").write_bytes(member + b"\x1f\x8bGARBAGE-NOT-GZIP")
    plan = spark.createDataFrame(
        [("http://example.org/ok", "a.warc.gz", 0, len(member)),
         ("http://example.org/bad", "a.warc.gz", len(member), 16)],
        "url string, filename string, offset long, length long")
    rows = pages_from_fetch_plan(plan, str(d)).collect()
    assert [r.url for r in rows] == ["http://example.org/ok"]
    with pytest.raises(Exception):
        pages_from_fetch_plan(plan, str(d), strict=True).count()


def test_revisit_records_parse_and_resolve(spark, tmp_path):
    """Server-side dedup pointers (WARC revisit records) parse from real
    archives and resolve back to the stored payloads by digest; a
    revisit whose digest was never stored is dropped; responses ride
    through unchanged."""
    from go_readability_spark.operators import resolve_revisits
    from go_readability_spark.sources import records_from_warc
    from go_readability_spark.sources.warc import write_revisit

    d = tmp_path / "arch"
    d.mkdir()
    body_a = DOC.replace(b"%d", b"A")
    body_b = DOC.replace(b"%d", b"B")
    blob = write_warc(
        [("http://example.org/a", datetime(2024, 5, 1), body_a),
         ("http://example.org/b", datetime(2024, 5, 2), body_b)],
        digests=["sha1:DIGA", "sha1:DIGB"],
    )
    # two resolvable pointers (one with Refers-To, one without) and one
    # dangling pointer into an earlier snapshot
    blob += write_revisit("http://mirror.example.net/a-copy",
                          datetime(2024, 6, 1), "sha1:DIGA",
                          refers_to="http://example.org/a")
    blob += write_revisit("http://example.org/a?utm=x",
                          datetime(2024, 6, 2), "sha1:DIGA")
    blob += write_revisit("http://example.org/old",
                          datetime(2024, 6, 3), "sha1:GONE")
    (d / "a.warc.gz").write_bytes(blob)

    records = records_from_warc(spark, str(d))
    rows = {r.url: r for r in records.collect()}
    assert sorted(r.record_type for r in rows.values()) \
        == ["response"] * 2 + ["revisit"] * 3
    rv = rows["http://mirror.example.net/a-copy"]
    assert rv.record_type == "revisit" and rv.digest == "sha1:DIGA"
    assert rv.refers_to == "http://example.org/a" and rv.html is None

    out = {r.url: r for r in resolve_revisits(records).collect()}
    assert set(out) == {
        "http://example.org/a", "http://example.org/b",
        "http://mirror.example.net/a-copy", "http://example.org/a?utm=x",
    }  # dangling sha1:GONE dropped
    assert bytes(out["http://mirror.example.net/a-copy"].html) == body_a
    assert bytes(out["http://example.org/a?utm=x"].html) == body_a
    assert bytes(out["http://example.org/b"].html) == body_b
    assert out["http://mirror.example.net/a-copy"].warc_ts \
        == datetime(2024, 6, 1)  # the REVISIT's timestamp, not the original's
    # revisit-only view
    only = resolve_revisits(records, keep_responses=False).collect()
    assert len(only) == 2


def test_pages_from_warc_still_skips_revisits(spark, tmp_path):
    """The pages-only view must not surface body-less revisit records."""
    d = tmp_path / "arch"
    d.mkdir()
    from go_readability_spark.sources.warc import write_revisit

    blob = write_warc([("http://example.org/a", datetime(2024, 5, 1),
                        DOC.replace(b"%d", b"A"))], digests=["sha1:X"])
    blob += write_revisit("http://example.org/dup", datetime(2024, 6, 1),
                          "sha1:X")
    (d / "a.warc.gz").write_bytes(blob)
    assert [r.url for r in pages_from_warc(spark, str(d)).collect()] \
        == ["http://example.org/a"]


def test_ranged_fetch_mega_archive_chunked(spark, tmp_path):
    """A mega-archive's ranges split into independent monotone sweeps
    (chunk_bytes) instead of serializing through one task; output is
    identical to the single-task read."""
    from go_readability_spark.sources import pages_from_fetch_plan

    d = tmp_path / "arch"
    d.mkdir()
    blob, offs = b"", []
    for i in range(20):
        member = write_warc([(f"http://example.org/m{i}",
                              datetime(2024, 5, 1, 0, 0, i),
                              DOC.replace(b"%d", str(i).encode()))])
        offs.append((len(blob), len(member)))
        blob += member
    (d / "big.warc.gz").write_bytes(blob)
    plan = spark.createDataFrame(
        [(f"http://example.org/m{i}", "big.warc.gz", o, ln)
         for i, (o, ln) in enumerate(offs)],
        "url string, filename string, offset long, length long")
    whole = {r.url: bytes(r.html)
             for r in pages_from_fetch_plan(plan, str(d)).collect()}
    # chunk small enough to split this archive across many tasks
    chunked_df = pages_from_fetch_plan(plan, str(d), chunk_bytes=1024)
    chunked = {r.url: bytes(r.html) for r in chunked_df.collect()}
    assert chunked == whole and len(chunked) == 20
    p = chunked_df._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(filename" in p and "FLOOR" in p.upper(), p


def test_ranged_fetch_missing_archive_skipped(spark, tmp_path):
    """One deleted/renamed archive among many must skip its ranges
    (strict=False), not kill the job; strict=True raises."""
    from go_readability_spark.sources import pages_from_fetch_plan

    d = tmp_path / "arch"
    d.mkdir()
    member = write_warc([("http://example.org/ok", datetime(2024, 5, 1),
                          DOC.replace(b"%d", b"ok"))])
    (d / "present.warc.gz").write_bytes(member)
    plan = spark.createDataFrame(
        [("http://example.org/ok", "present.warc.gz", 0, len(member)),
         ("http://example.org/gone1", "deleted.warc.gz", 0, 100),
         ("http://example.org/gone2", "deleted.warc.gz", 100, 100)],
        "url string, filename string, offset long, length long")
    rows = pages_from_fetch_plan(plan, str(d)).collect()
    assert [r.url for r in rows] == ["http://example.org/ok"]
    with pytest.raises(Exception):
        pages_from_fetch_plan(plan, str(d), strict=True).count()


def test_ranged_fetch_random_layouts_fuzz(spark, tmp_path):
    """Seeded fuzz: random member sizes, random plan subsets in random
    order, duplicate plan rows, random chunk sizes — every planned
    member must come back byte-identical to the whole-archive read."""
    import random

    from go_readability_spark.sources import pages_from_fetch_plan

    rng = random.Random(7)
    d = tmp_path / "arch"
    d.mkdir()
    plan_rows, expect = [], {}
    for j in range(3):
        fname = f"r{j}.warc.gz"
        blob, off = b"", 0
        for k in range(rng.randint(3, 12)):
            url = f"http://example.org/{j}/{k}"
            body = (b"<html><title>T" + str(k).encode() + b"</title><p>"
                    + bytes([97 + (k % 26)]) * rng.randint(10, 4000)
                    + b"</p></html>")
            member = write_warc([(url, datetime(2024, 5, 1, 0, j, k), body)])
            blob += member
            if rng.random() < 0.8:  # random subset is planned
                plan_rows.append((url, fname, off, len(member)))
                expect[url] = body
                if rng.random() < 0.2:  # duplicate plan row
                    plan_rows.append((url, fname, off, len(member)))
            off += len(member)
        (d / fname).write_bytes(blob)
    rng.shuffle(plan_rows)
    plan = spark.createDataFrame(
        plan_rows, "url string, filename string, offset long, length long")
    out = pages_from_fetch_plan(
        plan, str(d), chunk_bytes=rng.choice([512, 1 << 30]))
    got = {}
    dup_total = 0
    for r in out.collect():
        got.setdefault(r.url, []).append(bytes(r.html))
        dup_total += 1
    assert set(got) == set(expect)
    for u, bodies in got.items():
        assert all(b == expect[u] for b in bodies), u
    # duplicate plan rows produce duplicate rows (plan hygiene is the
    # planner's job — cdx_fetch_plan dedups per urlkey upstream)
    assert dup_total == len(plan_rows)


def test_cli_extract_resolve_revisits(spark, tmp_path):
    """extract --input-format warc --resolve-revisits: revisit-record
    URLs reach the extracted articles table carrying the referred
    payload's content."""
    from go_readability_spark.sources.warc import write_revisit

    d = tmp_path / "arch"
    d.mkdir()
    blob = write_warc(
        [("http://example.org/orig", datetime(2024, 5, 1),
          DOC.replace(b"%d", b"99"))],
        digests=["sha1:D99"],
    )
    blob += write_revisit("http://mirror.example.net/copy",
                          datetime(2024, 6, 1), "sha1:D99")
    (d / "a.warc.gz").write_bytes(blob)
    out = tmp_path / "articles"
    r = subprocess.run(
        [sys.executable, "-m", "go_readability_spark", "extract",
         "--input", str(d), "--input-format", "warc", "--resolve-revisits",
         "--output", str(out), "--buckets", "4", "--master", "local[2]"],
        capture_output=True, text=True, timeout=600, cwd="/root/repo",
    )
    assert r.returncode == 0, r.stderr[-2000:]
    arts = {a.url: a for a in spark.read.parquet(str(out)).collect()}
    assert set(arts) == {"http://example.org/orig",
                         "http://mirror.example.net/copy"}
    assert arts["http://mirror.example.net/copy"].title == "T99"
    assert arts["http://mirror.example.net/copy"].text_content \
        == arts["http://example.org/orig"].text_content


def test_warc_generator_rejects_indexless_preexisting_dir(spark, tmp_path):
    """ADVICE r5: an os.rename failure is only a benign concurrency race
    when the winner's index.cdxj is actually there — a pre-existing
    out_dir WITHOUT an index (external mkdir, non-atomic path) must
    raise instead of being returned as a silently unreadable archive
    dir."""
    import os

    import pytest as _pytest

    from go_readability_spark.sources import warc_archives_from_documents

    import shutil

    out = str(tmp_path / "archives")
    os.makedirs(out)
    # non-empty (rename -> ENOTEMPTY) but WITHOUT index.cdxj
    with open(os.path.join(out, "crawl-00.warc.gz"), "wb") as fh:
        fh.write(b"partial junk")
    with _pytest.raises(RuntimeError, match="index.cdxj"):
        warc_archives_from_documents(spark, "/root/testdata/sf0.001", out)
    # after the caller removes the bad dir, generation succeeds
    shutil.rmtree(out)
    got = warc_archives_from_documents(spark, "/root/testdata/sf0.001", out)
    assert os.path.exists(os.path.join(got, "index.cdxj"))
