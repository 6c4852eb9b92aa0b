"""Every extraction surface runs the same per-document kernel: the batch
plan (hash-exchanged, and exchange-free over a multi-file parquet scan),
the atomic sink (read back), and the streaming plan over a static frame
give identical records per url, and each surface's readerable-gated
run equals its ungated output filtered to ``readerable = true``.  The
corpus is built in the repository: synthetic readable pages mixed with
stub pages that fail Check."""

import glob
import os
import re
from datetime import datetime, timezone

import pytest

N_BUCKETS = 16


def _corpus_rows():
    from go_readability_spark.sources import synth_corpus_rows

    rows = synth_corpus_rows(8, seed=31, skew=False)
    stubs = [b"<html><head><title>J%d</title></head><body><p>hi</p></body></html>" % i
             for i in range(14)]
    stubs += [b"<html><body><div>nav</div></body></html>", b"\xff\xfe<div>", b"", None]
    rows += [{"url": f"https://stub.example.org/{i}.html", "warc_ts": None,
              "html": html, "text": None, "lang": None}
             for i, html in enumerate(stubs)]
    return rows


def _by_url(rows):
    from go_readability_spark.plans.schema import ARTICLES_SCHEMA

    return {r["url"]: {c: r[c] for c in ARTICLES_SCHEMA.names} for r in rows}


@pytest.fixture(scope="module")
def surfaces(spark, tmp_path_factory):
    """{surface: {"plain": records, "gated": records}} plus the atomic
    sink's directories and its gated restart's bucket count."""
    from go_readability_spark.plans import (
        extract_pages,
        run_extraction_job_atomic,
        session_parallelism,
    )
    from go_readability_spark.plans.schema import PAGES_SCHEMA
    from go_readability_spark.sources import read_pages
    from go_readability_spark.streaming import extract_pages_stream

    tmp = tmp_path_factory.mktemp("surfaces")
    pages = spark.createDataFrame(_corpus_rows(), schema=PAGES_SCHEMA)
    # one file per core: the default extract_pages runs in place over it
    dirs = {"pages": str(tmp / "pages")}
    pages.repartition(session_parallelism(spark)).write.parquet(dirs["pages"])
    files = read_pages(spark, dirs["pages"])
    got = {"batch": {}, "batch_files": {}, "atomic": {}, "stream": {}}
    for gate in (False, True):
        leg = "gated" if gate else "plain"
        got["batch"][leg] = _by_url(extract_pages(
            pages, num_partitions=4,
            readerable_gate=gate).collect())
        got["batch_files"][leg] = _by_url(extract_pages(
            files, readerable_gate=gate).collect())
        got["stream"][leg] = _by_url(extract_pages_stream(
            pages, readerable_gate=gate).collect())
        out, ckpt = str(tmp / f"out_{leg}"), str(tmp / f"ckpt_{leg}")
        dirs[leg] = (out, ckpt)
        run_extraction_job_atomic(pages, out, checkpoint_dir=ckpt,
                                  n_buckets=N_BUCKETS, num_partitions=4,
                                  readerable_gate=gate)
        got["atomic"][leg] = _by_url(spark.read.parquet(out).collect())
    restart = run_extraction_job_atomic(pages, dirs["gated"][0],
                                        checkpoint_dir=dirs["gated"][1],
                                        n_buckets=N_BUCKETS, num_partitions=4,
                                        readerable_gate=True)
    return got, dirs, restart


def test_surfaces_agree_per_url(spark, surfaces):
    from go_readability_spark.plans.schema import PAGES_SCHEMA
    from go_readability_spark.streaming import extract_pages_stream

    got, _, _ = surfaces
    urls = {r["url"] for r in _corpus_rows()}
    batch = got["batch"]["plain"]
    assert set(batch) == urls
    assert got["atomic"]["plain"] == batch
    assert got["stream"]["plain"] == batch
    # the corpus exercises both sides of the gate
    assert 0 < sum(r["readerable"] is True for r in batch.values()) < len(batch)
    # the streaming plan is select -> mapInArrow: no exchange, no salt
    stream = extract_pages_stream(spark.createDataFrame(_corpus_rows(), schema=PAGES_SCHEMA))
    plan = stream._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "salt" not in plan, plan
    assert plan.count("MapInArrow") == 1 and "MapInPandas" not in plan, plan


def test_exchange_free_batch_agrees_per_url(spark, surfaces):
    """The default extract_pages over a multi-file parquet scan runs with
    no exchange and gives, ungated and gated, the same records per url as
    the atomic sink and the stream."""
    from go_readability_spark.plans import extract_pages
    from go_readability_spark.sources import read_pages

    got, dirs, _ = surfaces
    for leg in ("plain", "gated"):
        assert got["batch_files"][leg] == got["atomic"][leg]
        assert got["batch_files"][leg] == got["stream"][leg]
    assert set(got["batch_files"]["plain"]) == {r["url"] for r in _corpus_rows()}
    pages = read_pages(spark, dirs["pages"])
    plan = extract_pages(pages)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


@pytest.mark.parametrize("surface", ["batch", "atomic", "stream"])
def test_gated_equals_ungated_filtered(surfaces, surface):
    got, _, _ = surfaces
    plain = got[surface]["plain"]
    want = {u: r for u, r in plain.items() if r["readerable"] is True}
    assert got[surface]["gated"] == want


def test_gated_atomic_restart_writes_nothing(spark, surfaces, tmp_path):
    """Gated-out rows count in rows_in/bytes_in only, so rows_out matches
    the bucket's data file; a bucket whose every page was gated gets a
    lineage row with rows_out = 0 and no data file, and still counts as
    done on restart. Every bucket's four counters, in its lineage row and
    in the sink's stats frame, equal the counts Spark computes from the
    input pages and the ungated output."""
    from pyspark.sql import functions as F

    from go_readability_spark.plans.extract import (
        _salted_exchange,
        completed_buckets,
        make_extractor,
        make_sink_extractor,
    )
    from go_readability_spark.plans.schema import (
        ARTICLES_SCHEMA,
        PAGES_SCHEMA,
        SINK_STATS_SCHEMA,
    )

    _, dirs, restart = surfaces
    out, ckpt = dirs["gated"]
    assert restart == 0
    lineage = spark.read.parquet(ckpt).groupBy("partition_key").agg(
        F.max("rows_in").alias("rows_in"), F.max("rows_out").alias("rows_out"))
    rows = {int(r["partition_key"]): r for r in lineage.collect()}
    assert sum(r["rows_in"] for r in rows.values()) == len(_corpus_rows())
    all_gated = {s for s, r in rows.items() if r["rows_out"] == 0}
    assert all_gated  # the case this test exists for
    for s in all_gated:
        assert not os.path.exists(os.path.join(out, f"salt={s}"))
    done = {r["salt"] for r in completed_buckets(
        spark, ckpt, verify_output_dir=out).collect()}
    assert done == set(rows)

    # every counter of every bucket, on the gated corpus plus pages that
    # pass Check and then fail scoring; the failure is raised inside the
    # Python worker, so the wrapper is a closure (pickled by value)
    def scoring_fails(mapper):
        def run(batches):
            from go_readability_spark.readability import Parser

            score = Parser.parse_document

            def parse_document(self, doc, url):
                if "/scoring-fails/" in url:
                    raise RuntimeError("scoring failed")
                return score(self, doc, url)

            Parser.parse_document = parse_document
            try:
                yield from mapper(batches)
            finally:
                Parser.parse_document = score
        return run

    failing = [dict(r, url=f"https://x.example.org/scoring-fails/{i}.html")
               for i, r in enumerate(_corpus_rows()[:3])]
    pages = spark.createDataFrame(_corpus_rows() + failing, schema=PAGES_SCHEMA)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    stats = _salted_exchange(pages, N_BUCKETS, 4, None, out).mapInArrow(
        scoring_fails(make_sink_extractor(out, ckpt, readerable_gate=True)),
        schema=SINK_STATS_SCHEMA).collect()
    ungated = pages.select("url", "warc_ts", "html").mapInArrow(
        scoring_fails(make_extractor()), schema=ARTICLES_SCHEMA)

    bucket = F.pmod(F.xxhash64("url"), F.lit(N_BUCKETS)).alias("bucket")
    want = {r["bucket"]: [r["rows_in"], 0, 0, r["bytes_in"]]
            for r in pages.groupBy(bucket).agg(
                F.count("*").alias("rows_in"),
                F.coalesce(F.sum(F.octet_length("html")), F.lit(0)).alias("bytes_in"),
            ).collect()}
    # the gate keeps exactly the ungated records that pass Check
    for r in ungated.where(F.col("readerable")).groupBy(bucket).agg(
            F.count(F.when(F.col("error").isNull(), 1)).alias("rows_out"),
            F.count("error").alias("parse_errors")).collect():
        want[r["bucket"]][1:3] = [r["rows_out"], r["parse_errors"]]
    assert sum(w[2] for w in want.values()) == len(failing)

    counters = ["rows_in", "rows_out", "parse_errors", "bytes_in"]
    lineage = spark.read.parquet(ckpt).collect()
    assert len(lineage) == len(want)  # one lineage row per bucket
    assert {int(r["partition_key"]): [r[c] for c in counters] for r in lineage} == want
    assert {r["salt"]: [r[c] for c in counters] for r in stats} == want


def test_all_gated_job_resumes_without_output(spark, tmp_path):
    """When every page is gated out no data file exists at all; the
    restart must still see every bucket as done."""
    from go_readability_spark.plans import run_extraction_job_atomic
    from go_readability_spark.plans.schema import PAGES_SCHEMA

    stubs = [r for r in _corpus_rows() if r["url"].startswith("https://stub.")]
    pages = spark.createDataFrame(stubs, schema=PAGES_SCHEMA)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    first = run_extraction_job_atomic(pages, out, checkpoint_dir=ckpt,
                                      n_buckets=N_BUCKETS, num_partitions=2,
                                      readerable_gate=True)
    assert first > 0
    assert not glob.glob(os.path.join(out, "salt=*"))
    assert run_extraction_job_atomic(pages, out, checkpoint_dir=ckpt,
                                     n_buckets=N_BUCKETS, num_partitions=2,
                                     readerable_gate=True) == 0


def test_killed_checkpoint_write_leaves_no_visible_file(spark, tmp_path, monkeypatch):
    """A lineage write that dies halfway (ENOSPC, kill) leaves no visible
    ckpt-*.parquet, so the restart over that checkpoint dir still reads
    it and completes."""
    import errno
    import io
    from datetime import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from go_readability_spark.plans import run_extraction_job_atomic
    from go_readability_spark.plans.extract import _write_checkpoint_rows
    from go_readability_spark.plans.schema import PAGES_SCHEMA

    pages = spark.createDataFrame(_corpus_rows(), schema=PAGES_SCHEMA)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    assert run_extraction_job_atomic(pages, out, checkpoint_dir=ckpt,
                                     n_buckets=N_BUCKETS, num_partitions=2) > 0
    visible = sorted(glob.glob(os.path.join(ckpt, "ckpt-*.parquet")))
    write_table = pq.write_table

    def dies_halfway(table, where, **kwargs):
        buf = io.BytesIO()
        write_table(table, buf, **kwargs)
        with open(where, "wb") as fh:
            fh.write(buf.getvalue()[:len(buf.getvalue()) // 2])
        raise OSError(errno.ENOSPC, "No space left on device")

    monkeypatch.setattr(pq, "write_table", dies_halfway)
    stats = pa.RecordBatch.from_pydict({"salt": [0], "rows_in": [1], "rows_out": [1],
                                        "parse_errors": [0], "bytes_in": [10]})
    with pytest.raises(OSError):
        _write_checkpoint_rows(ckpt, stats, datetime(2026, 1, 1))
    monkeypatch.undo()
    assert sorted(glob.glob(os.path.join(ckpt, "ckpt-*.parquet"))) == visible
    assert run_extraction_job_atomic(pages, out, checkpoint_dir=ckpt,
                                     n_buckets=N_BUCKETS, num_partitions=2) == 0


def test_on_disk_format(surfaces):
    """Task-side parquet writes keep the format earlier outputs and
    checkpoints were written in (resume reads both): naive timestamp[us],
    int32 length/attempt, int64 counts, bool readerable."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    _, dirs, _ = surfaces
    out, ckpt = dirs["plain"]
    art = pq.read_schema(sorted(glob.glob(os.path.join(out, "salt=*", "part-*.parquet")))[0])
    for name in ("warc_ts", "published_time", "modified_time"):
        assert art.field(name).type == pa.timestamp("us"), name
    assert art.field("length").type == pa.int32()
    assert art.field("readerable").type == pa.bool_()
    assert art.field("url").type == pa.string()
    assert art.names == [
        "url", "warc_ts", "title", "byline", "content", "text_content",
        "length", "excerpt", "site_name", "image", "favicon", "lang",
        "published_time", "modified_time", "readerable", "error"]

    ck = pq.read_schema(sorted(glob.glob(os.path.join(ckpt, "ckpt-*.parquet")))[0])
    assert ck.field("attempt").type == pa.int32()
    for name in ("rows_in", "rows_out", "parse_errors", "bytes_in"):
        assert ck.field(name).type == pa.int64(), name
    for name in ("started_at", "finished_at"):
        assert ck.field(name).type == pa.timestamp("us"), name
    assert ck.names == [
        "partition_key", "attempt", "status", "rows_in", "rows_out",
        "parse_errors", "bytes_in", "started_at", "finished_at"]


def test_gate_keeps_error_rows_that_passed_check(monkeypatch):
    """A page that passes Check but fails scoring keeps its error row
    under the gate, identical to the ungated record."""
    from go_readability_spark.plans.extract import extract_record
    from go_readability_spark.readability import Parser
    from go_readability_spark.sources import synth_corpus_rows

    html = synth_corpus_rows(1, seed=31, skew=False)[0]["html"]

    def boom(self, doc, url):
        raise RuntimeError("scoring failed")

    monkeypatch.setattr(Parser, "parse_document", boom)
    plain = extract_record("https://x/a.html", html)
    assert plain["readerable"] is True
    assert plain["error"] == "RuntimeError: scoring failed"
    assert extract_record("https://x/a.html", html, readerable_gate=True) == plain


# Valid Spark timestamps outside pandas' nanosecond range, as warehouse
# tables use them for sentinels.  0001-01-01 itself stays out of the
# warc_ts leg: pyspark's own driver-side collect of it raises in a UTC
# session, with no extraction involved.
_FAR_PAST, _FAR_FUTURE = datetime(1, 1, 2), datetime(9999, 12, 31)


def _every_surface(spark, rows, tmp):
    """{surface: {url: record}} for ``rows`` through extract_pages with its
    url exchange and in place over a one-wave parquet scan, the bucket
    sink read back, and the stream over a parquet streaming source."""
    from go_readability_spark.plans import (
        extract_pages,
        run_extraction_job_atomic,
        session_parallelism,
    )
    from go_readability_spark.plans.schema import PAGES_SCHEMA
    from go_readability_spark.sources import read_pages
    from go_readability_spark.streaming import read_pages_stream, run_stream_to_parquet

    pages = spark.createDataFrame(rows, schema=PAGES_SCHEMA)
    pages.repartition(session_parallelism(spark)).write.parquet(str(tmp / "pages"))
    files = read_pages(spark, str(tmp / "pages"))
    in_place = extract_pages(files)
    assert "Exchange" not in in_place._jdf.queryExecution().executedPlan().toString()
    got = {"exchanged": extract_pages(pages, num_partitions=2).collect(),
           "in_place": in_place.collect()}
    run_extraction_job_atomic(pages, str(tmp / "sink"), checkpoint_dir=str(tmp / "ckpt"),
                              n_buckets=N_BUCKETS, num_partitions=2)
    got["sink"] = spark.read.parquet(str(tmp / "sink")).collect()
    run_stream_to_parquet(read_pages_stream(spark, str(tmp / "pages")), str(tmp / "stream"),
                          str(tmp / "stream_ckpt")).awaitTermination()
    got["stream"] = spark.read.parquet(str(tmp / "stream")).collect()
    return {surface: {r["url"]: r for r in recs} for surface, recs in got.items()}


def test_out_of_range_warc_ts_passes_through_every_surface(spark, tmp_path):
    """A page whose warc_ts is a valid Spark timestamp outside pandas'
    nanosecond range is extracted like any other on every surface, and
    its warc_ts comes out unchanged."""
    from go_readability_spark.sources import synth_corpus_rows

    rows = synth_corpus_rows(6, seed=31, skew=False)
    for i, row in enumerate(rows):
        row["warc_ts"] = (_FAR_PAST, _FAR_FUTURE, datetime(2020, 1, 2, 3, 4, 5))[i % 3]
    want = {r["url"]: r["warc_ts"] for r in rows}
    for surface, recs in _every_surface(spark, rows, tmp_path).items():
        assert {u: r["warc_ts"] for u, r in recs.items()} == want, surface
        assert all(r["error"] is None and r["length"] > 0 for r in recs.values()), surface


def test_published_and_modified_time_range_is_kept(spark, tmp_path):
    """published_time/modified_time parsed from a page's metadata come out
    as earlier runs wrote them: a date outside pandas' nanosecond range
    (0001-01-01, 9999-12-31) is null, an in-range one is its UTC value,
    on every surface."""
    from go_readability_spark.sources import synth_corpus_rows

    stamps = {"0001-01-01T00:00:00Z": None, "9999-12-31T23:59:59Z": None,
              "2021-03-04T05:06:07+02:00": datetime(2021, 3, 4, 3, 6, 7)}
    rows, want = synth_corpus_rows(6, seed=31, skew=False), {}
    for i, row in enumerate(rows):
        published, modified = list(stamps)[i % 3], list(stamps)[(i + 1) % 3]
        meta = (b'<meta property="article:published_time" content="%s"/>'
                b'<meta property="article:modified_time" content="%s"/>'
                % (published.encode(), modified.encode()))
        row["html"] = re.sub(rb'<meta property="article:published_time"[^>]*>', meta,
                             row["html"], count=1)
        want[row["url"]] = (stamps[published], stamps[modified])
    for surface, recs in _every_surface(spark, rows, tmp_path).items():
        assert {u: (r["published_time"], r["modified_time"])
                for u, r in recs.items()} == want, surface


def test_timestamps_are_utc_under_any_session_time_zone(spark, tmp_path):
    """warc_ts and published_time keep their instant through extract_pages,
    and the bucket files hold both as UTC wall time, whatever the
    session time zone."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from go_readability_spark.plans import extract_pages, run_extraction_job_atomic
    from go_readability_spark.plans.schema import PAGES_SCHEMA
    from go_readability_spark.sources import synth_corpus_rows

    row = synth_corpus_rows(1, seed=31, skew=False)[0]
    row["html"] = re.sub(rb'<meta property="article:published_time"[^>]*>',
                         b'<meta property="article:published_time" content="2021-03-04T05:06:07Z"/>',
                         row["html"], count=1)
    row["warc_ts"] = datetime(2020, 1, 2, 3, 4, 5)
    published = datetime(2021, 3, 4, 5, 6, 7, tzinfo=timezone.utc)
    before = spark.conf.get("spark.sql.session.timeZone")
    try:
        pages = spark.createDataFrame([row], schema=PAGES_SCHEMA)
        warc_epoch = pages.select(F.col("warc_ts").cast("long")).first()[0]
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        got = extract_pages(pages, num_partitions=1).select(
            F.col("warc_ts").cast("long"), F.col("published_time").cast("long")).first()
        assert tuple(got) == (warc_epoch, int(published.timestamp()))
        out = str(tmp_path / "out")
        run_extraction_job_atomic(pages, out, checkpoint_dir=str(tmp_path / "ckpt"),
                                  n_buckets=N_BUCKETS, num_partitions=1)
    finally:
        spark.conf.set("spark.sql.session.timeZone", before)
    written = pq.read_table(glob.glob(os.path.join(out, "salt=*", "part-*.parquet"))[0])
    utc_wall = [datetime.fromtimestamp(warc_epoch, timezone.utc).replace(tzinfo=None),
                published.replace(tzinfo=None)]
    assert [written.column(c)[0].as_py() for c in ("warc_ts", "published_time")] == utc_wall


def test_cli_and_http_agree_with_extract_record(tmp_path, capsys):
    """The single-document surfaces run the same kernel: on every
    readerable page of the corpus, ``parse -t`` prints the record's
    text_content, ``parse -m`` its five metadata fields (file sources
    resolve against http://fakehost.com), and the HTTP server's
    ``?text=true`` answers with the same text."""
    import http.server
    import json
    import threading
    from urllib.parse import quote
    from urllib.request import urlopen

    from go_readability_spark.cli import main, make_http_server
    from go_readability_spark.plans.extract import extract_record

    pages = {}
    for row in _corpus_rows():
        rec = extract_record("http://fakehost.com", row["html"])
        if rec["readerable"] is True:
            pages[f"/{len(pages)}.html"] = (row["html"], rec)
    assert pages

    class Origin(http.server.BaseHTTPRequestHandler):
        def do_GET(self):
            self.send_response(200)
            self.send_header("Content-Type", "text/html; charset=utf-8")
            self.end_headers()
            self.wfile.write(pages[self.path][0])

        def log_message(self, *a):
            pass

    origin = http.server.HTTPServer(("127.0.0.1", 0), Origin)
    server = make_http_server("127.0.0.1:0")
    for s in (origin, server):
        threading.Thread(target=s.serve_forever, daemon=True).start()
    try:
        for path, (html, rec) in pages.items():
            src = tmp_path / path.lstrip("/")
            src.write_bytes(html)
            assert main(["parse", str(src), "-t"]) == 0
            assert capsys.readouterr().out == rec["text_content"] + "\n", path
            assert main(["parse", str(src), "-m"]) == 0
            meta = json.loads(capsys.readouterr().out)
            assert meta == {k: rec[k] for k in ("title", "byline", "excerpt", "image",
                                                "favicon")}, path
            page = quote(f"http://127.0.0.1:{origin.server_port}{path}", safe="")
            with urlopen(f"http://127.0.0.1:{server.server_address[1]}/?url={page}"
                         "&text=true") as r:
                assert r.read().decode("utf-8") == rec["text_content"], path
    finally:
        for s in (origin, server):
            s.shutdown()
            s.server_close()
