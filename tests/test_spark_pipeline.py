"""Spark tier: the full extraction pipeline over the fixture corpus packed
into the north-rule `pages` shape, plus checkpoint/resume semantics."""

import os

import pytest

from conftest import BEAUTIFIED_GOLDENS, fixture_cases

needs_corpus = pytest.mark.skipif(not fixture_cases(), reason="reference corpus not present")


def _norm(s):
    return " ".join(s.replace("\xad", "").split())


@pytest.fixture(scope="module")
def extracted(spark):
    from go_readability_spark.plans import extract_pages
    from go_readability_spark.sources import pages_dataframe

    pages = pages_dataframe(spark)
    return {r["url"]: r.asDict() for r in extract_pages(pages, num_partitions=8).collect()}


@needs_corpus
def test_pipeline_text_parity(spark, extracted):
    from go_readability_spark.sources import expected_articles_rows

    expected = expected_articles_rows()
    assert len(extracted) == len(expected)
    for exp in expected:
        got = extracted[exp["url"]]
        assert got["error"] is None, (exp["case_id"], got["error"])
        if exp["case_id"] in BEAUTIFIED_GOLDENS:
            assert _norm(got["text_content"]) == _norm(exp["expected_text"]), exp["case_id"]
        else:
            assert got["text_content"] == exp["expected_text"], exp["case_id"]


@needs_corpus
def test_pipeline_metadata_parity(spark, extracted):
    from go_readability_spark.sources import expected_articles_rows

    for exp in expected_articles_rows():
        got = extracted[exp["url"]]
        assert got["title"] == (exp["title"] or ""), exp["case_id"]
        assert got["byline"] == (exp["byline"] or ""), exp["case_id"]
        assert got["readerable"] == exp["readerable"], exp["case_id"]


@needs_corpus
def test_pipeline_schema(spark, extracted):
    row = next(iter(extracted.values()))
    assert set(row) == {
        "url", "warc_ts", "title", "byline", "content", "text_content",
        "length", "excerpt", "site_name", "image", "favicon", "lang",
        "published_time", "modified_time", "readerable", "error",
    }


@needs_corpus
def test_checkpoint_resume(spark, tmp_path):
    """Run half the corpus, then resume: completed salt buckets are skipped
    (left_anti on the checkpoint table) and the union covers everything."""
    from pyspark.sql import functions as F

    from go_readability_spark.plans import run_extraction_job, with_salt
    from go_readability_spark.sources import pages_dataframe

    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "articles")
    pages = pages_dataframe(spark)
    n_total = pages.count()

    salted = with_salt(pages, n_buckets=16)
    first_half = salted.where(F.col("salt") < 8).drop("salt")
    run_extraction_job(first_half, out, checkpoint_dir=ckpt, n_buckets=16, num_partitions=4)
    n1 = spark.read.parquet(out).count()
    assert 0 < n1 < n_total

    # completed buckets are recorded
    ckpt_df = spark.read.parquet(ckpt)
    done = {r["partition_key"] for r in ckpt_df.collect()}
    assert done and all(int(k) < 8 for k in done)
    assert ckpt_df.where("status = 'done'").count() == len(done)

    # resume over the FULL corpus: only the unfinished buckets re-run
    run_extraction_job(pages, out, checkpoint_dir=ckpt, n_buckets=16, num_partitions=4)
    final = spark.read.parquet(out)
    assert final.count() == n_total  # no duplicates, full coverage
    assert final.select("url").distinct().count() == n_total

    # lineage metrics add up
    ckpt_df = spark.read.parquet(ckpt)
    total_in = ckpt_df.agg(F.sum("rows_in")).collect()[0][0]
    assert total_in == n_total
    assert ckpt_df.agg(F.sum("bytes_in")).collect()[0][0] > 0


def test_salt_distribution(spark):
    """The salt must spread a host-skewed corpus ~uniformly over buckets."""
    from pyspark.sql import functions as F

    from go_readability_spark.plans import with_salt
    from go_readability_spark.sources import synth_pages_dataframe

    pages = synth_pages_dataframe(spark, 400, seed=7, skew=True)
    counts = [
        r["c"]
        for r in with_salt(pages, n_buckets=8)
        .groupBy("salt").agg(F.count("*").alias("c")).collect()
    ]
    assert len(counts) == 8
    assert max(counts) < 2.0 * (400 / 8)  # no bucket more than 2x the mean


def test_synthetic_corpus_extracts(spark):
    from go_readability_spark.plans import extract_pages
    from go_readability_spark.sources import synth_pages_dataframe

    pages = synth_pages_dataframe(spark, 24, seed=3, skew=False)
    rows = extract_pages(pages, num_partitions=4).collect()
    assert len(rows) == 24
    ok = [r for r in rows if r["error"] is None and len(r["text_content"]) > 200]
    assert len(ok) == 24
    assert all(r["title"] for r in ok)


def test_curate_corpus_end_to_end(spark):
    """Full curation composition: extract -> quality/lang filters ->
    exact + near dedup. Duplicated pages must collapse to one survivor."""
    from pyspark.sql import functions as F

    from go_readability_spark.plans import curate_corpus
    from go_readability_spark.plans.schema import PAGES_SCHEMA
    from go_readability_spark.sources import synth_corpus_rows

    rows = synth_corpus_rows(16, seed=31, skew=False)
    # plant exact duplicates under different urls
    import copy

    for k in range(3):
        dup = dict(rows[0])
        dup["url"] = f"https://dup{k}.example.org/copy.html"
        rows.append(dup)
    pages = spark.createDataFrame(rows, schema=PAGES_SCHEMA)

    curated = curate_corpus(pages, min_length=100, min_quality=0.0,
                            languages=("en", "und"), num_partitions=4).cache()
    urls = [r["url"] for r in curated.select("url").collect()]
    assert len(urls) == len(set(urls))
    # the 4 identical docs collapsed to exactly one
    n_total = curated.count()
    assert n_total <= 17
    fp = curated.groupBy("fingerprint").count().agg(F.max("count")).collect()[0][0]
    assert fp == 1


def test_resume_verifies_output(spark, tmp_path):
    """A bucket whose checkpoint row exists but whose output was lost
    (task died between lineage write and commit) must re-run: the
    resumable writer verifies every bucket against the output."""
    import glob
    import os

    from go_readability_spark.plans import run_extraction_job
    from go_readability_spark.plans.extract import completed_buckets
    from go_readability_spark.sources import synth_pages_dataframe

    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "articles")
    pages = synth_pages_dataframe(spark, 40, seed=23, skew=False)
    run_extraction_job(pages, out, checkpoint_dir=ckpt, n_buckets=8, num_partitions=4)
    assert spark.read.parquet(out).count() == 40

    # all 8 buckets verified-done while output is intact
    done = completed_buckets(spark, ckpt, verify_output_dir=out)
    assert done.count() == 8

    # simulate lost output: delete one bucket's parquet file
    parts = sorted(glob.glob(out + "/salt=*/part-*.parquet"))
    os.remove(parts[0])
    survivors = spark.read.parquet(out).count()
    assert survivors < 40

    done2 = completed_buckets(spark, ckpt, verify_output_dir=out)
    assert done2.count() < 8  # damaged buckets no longer count as done

    # resume re-runs exactly the damaged buckets
    run_extraction_job(pages, out, checkpoint_dir=ckpt, n_buckets=8, num_partitions=4)
    final = spark.read.parquet(out)
    assert final.select("url").distinct().count() == 40


def test_sink_refuses_another_bucket_count(spark, tmp_path):
    """The salt pmod(xxhash64(url), B) places a url in another bucket file
    under another B, and the earlier B's salt=<n> files stay: a restart
    with a different bucket count would add a second copy of the pages.
    The first run records B in an underscore-prefixed marker; a run with
    another B raises before writing, and the same B resumes."""
    from go_readability_spark.plans import run_extraction_job_atomic
    from go_readability_spark.sources import synth_pages_dataframe

    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "articles")
    pages = synth_pages_dataframe(spark, 40, seed=29, skew=False)
    assert run_extraction_job_atomic(pages, out, checkpoint_dir=ckpt, n_buckets=16) > 0
    assert os.path.exists(os.path.join(out, "_BUCKETS"))
    for n_buckets in (4, 64):
        with pytest.raises(ValueError, match="n_buckets"):
            run_extraction_job_atomic(pages, out, checkpoint_dir=ckpt, n_buckets=n_buckets)
    rows = spark.read.parquet(out)
    assert rows.count() == 40 and rows.select("url").distinct().count() == 40
    assert run_extraction_job_atomic(pages, out, checkpoint_dir=ckpt, n_buckets=16) == 0
    # bucket files without a marker were written under an unknown B: refused
    # for every B, the recorded one included
    os.remove(os.path.join(out, "_BUCKETS"))
    for n_buckets in (16, 4):
        with pytest.raises(ValueError, match="no _BUCKETS marker"):
            run_extraction_job_atomic(pages, out, checkpoint_dir=ckpt, n_buckets=n_buckets)
    assert not os.path.exists(os.path.join(out, "_BUCKETS"))


def test_sink_publishes_buckets_while_the_job_runs(spark, tmp_path):
    """A sink task publishes its buckets and lineage rows when its input
    ends, so the sink runs Spark's shuffle task count, not one task per
    slot: with more shuffle partitions than cores the first buckets land
    while later tasks still wait for a slot, and a job killed then
    resumes from them. The job is cancelled at its first lineage file:
    tasks still waiting never start, so the rerun has buckets left to
    write, but not all of them, and the output holds every page once.
    (With one task per slot every task is running at that point and
    publishes before the cancel stops it: nothing is left to resume.)"""
    import glob
    import threading
    import time

    from go_readability_spark.plans import run_extraction_job_atomic
    from go_readability_spark.sources import synth_pages_dataframe

    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "articles")
    n_pages, n_buckets = 320, 32
    pages = synth_pages_dataframe(spark, n_pages, seed=31, skew=False)
    stop = threading.Event()

    def cancel_at_first_publish():
        while not stop.is_set():
            if glob.glob(os.path.join(ckpt, "ckpt-*.parquet")):
                spark.sparkContext.cancelAllJobs()
                return
            time.sleep(0.005)

    before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n_buckets))
    watcher = threading.Thread(target=cancel_at_first_publish, daemon=True)
    watcher.start()
    try:
        with pytest.raises(Exception, match="(?i)cancel"):
            run_extraction_job_atomic(pages, out, checkpoint_dir=ckpt, n_buckets=n_buckets)
        published = {p.split("salt=")[1].split("/")[0]
                     for p in glob.glob(os.path.join(out, "salt=*", "part-*.parquet"))}
        assert 0 < len(published) < n_buckets
        resumed = run_extraction_job_atomic(pages, out, checkpoint_dir=ckpt,
                                            n_buckets=n_buckets)
        assert 0 < resumed < n_buckets
    finally:
        stop.set()
        spark.conf.set("spark.sql.shuffle.partitions", before)
    rows = spark.read.parquet(out)
    assert rows.count() == n_pages and rows.select("url").distinct().count() == n_pages


def test_extraction_partitioning_invariance(spark):
    """Per-url results must not depend on partition count or parallelism —
    the cluster-resize invariant behind the scaling claim."""
    from go_readability_spark.plans import extract_pages
    from go_readability_spark.sources import synth_pages_dataframe

    pages = synth_pages_dataframe(spark, 30, seed=41, skew=True)
    a = {
        r["url"]: (r["text_content"], r["title"], r["length"], r["readerable"])
        for r in extract_pages(pages, num_partitions=2).collect()
    }
    b = {
        r["url"]: (r["text_content"], r["title"], r["length"], r["readerable"])
        for r in extract_pages(pages, num_partitions=16).collect()
    }
    assert a == b


# page-supplied <html lang> values that must not steer the partition path
HOSTILE_LANGS = {"plain": None, "dotdot": "../x", "slash": "a/b", "equals": "k=v",
                 "percent": "%2F", "empty": "", "non-ascii": "日本語"}


@pytest.mark.parametrize("hostile", list(HOSTILE_LANGS.values()), ids=list(HOSTILE_LANGS))
def test_partitioned_output_and_resume(spark, tmp_path, hostile):
    """partition_by hive-partitions the articles table; resume verification
    reads the partitioned layout and a rerun stays idempotent. A partition
    value comes from the page, so it is escaped as Spark's writer escapes
    it: the read-back matches a Spark partitionBy write of the same pages,
    and every file stays one directory level per partition column deep."""
    import glob
    import os

    from go_readability_spark.plans import extract_pages, run_extraction_job
    from go_readability_spark.plans.schema import PAGES_SCHEMA
    from go_readability_spark.sources import synth_corpus_rows

    rows = synth_corpus_rows(12, seed=31, skew=False)
    if hostile is not None:
        page = dict(rows[0], url="https://hostile.example.org/page.html")
        page["html"] = page["html"].replace(
            b'<html lang="en">', f'<html lang="{hostile}">'.encode(), 1)
        rows.append(page)
    pages = spark.createDataFrame(rows, schema=PAGES_SCHEMA)
    out = str(tmp_path / "articles_part")
    ck = str(tmp_path / "ck_part")
    assert run_extraction_job(pages, out, checkpoint_dir=ck, n_buckets=8,
                              num_partitions=4, partition_by=("lang",)) > 0
    assert any(d.startswith("lang=") for d in os.listdir(out)), os.listdir(out)
    first = spark.read.parquet(out)
    assert first.count() == len(rows) and "lang" in first.columns

    ref = str(tmp_path / "spark_part")
    extract_pages(pages, num_partitions=4).write.partitionBy("lang").parquet(ref)

    def url_lang(path):
        return sorted(map(tuple, spark.read.parquet(path).select("url", "lang").collect()))

    assert url_lang(out) == url_lang(ref)

    # every file lies under output_dir, at lang=<v>/salt=<n>/part-<n>.parquet
    allowed = tuple(os.path.realpath(d) + os.sep for d in (out, ck, ref))
    for f in glob.glob(str(tmp_path / "**"), recursive=True):
        assert not os.path.isfile(f) or os.path.realpath(f).startswith(allowed), f
    data = glob.glob(os.path.join(out, "**", "*.parquet"), recursive=True)
    assert data
    for f in data:
        lang_dir, salt_dir, name = os.path.relpath(f, out).split(os.sep)
        assert lang_dir.startswith("lang=") and salt_dir.startswith("salt="), f
        assert name.startswith("part-"), f

    # idempotent resume against the partitioned layout
    assert run_extraction_job(pages, out, checkpoint_dir=ck, n_buckets=8,
                              num_partitions=4, partition_by=("lang",)) == 0
    assert spark.read.parquet(out).count() == len(rows)


def test_sink_partition_escape_matches_spark(spark):
    """The bucket sink escapes partition values exactly as Spark's writer
    does (ExternalCatalogUtils.escapePathName), for every ASCII char and
    some non-ASCII text; empty and null map to the default partition."""
    import pyarrow as pa

    from go_readability_spark.plans.extract import _hive_dirs

    utils = spark._jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    values = [chr(c) for c in range(1, 128)] + ["日本語", "é/ß", "../x", "a b"]
    got = _hive_dirs(pa.table({"lang": values + ["", None]}), ("lang",))
    assert got[:len(values)] == ["lang=" + utils.escapePathName(v) for v in values]
    assert got[len(values):] == ["lang=__HIVE_DEFAULT_PARTITION__"] * 2


@pytest.mark.parametrize("remote", ["output", "checkpoint"])
def test_bucket_sink_refuses_remote_dirs(spark, tmp_path, monkeypatch, remote):
    """The bucket sink publishes by local rename: a remote output or
    checkpoint URI is refused up front instead of building a local
    's3a:' tree that the resume verifier never reads."""
    import os

    from go_readability_spark.plans import run_extraction_job_atomic
    from go_readability_spark.sources import synth_pages_dataframe

    monkeypatch.chdir(tmp_path)
    dirs = {"output": str(tmp_path / "out"), "checkpoint": str(tmp_path / "ck")}
    dirs[remote] = f"s3a://bucket/{remote}"
    pages = synth_pages_dataframe(spark, 4, seed=3, skew=False)
    with pytest.raises(ValueError, match="Iceberg"):
        run_extraction_job_atomic(pages, dirs["output"], checkpoint_dir=dirs["checkpoint"])
    assert os.listdir(tmp_path) == []


def test_curate_with_gopher_gate(spark):
    """The gate composes with the full curation pipeline (this hung for
    minutes before the lambda-bound metric expressions: predicate pushdown
    re-inlined staged arrays into the filter, re-tokenizing per bigram)."""
    from go_readability_spark.plans import curate_corpus
    from go_readability_spark.sources import synth_pages_distributed

    pages = synth_pages_distributed(spark, 40, seed=9, skew=False, num_partitions=4)
    base = curate_corpus(pages, min_length=150, min_quality=0.2,
                         languages=("en",), num_partitions=4)
    gated = curate_corpus(pages, min_length=150, min_quality=0.2,
                          languages=("en",), num_partitions=4, gopher_gate=True)
    nb, ng = base.count(), gated.count()
    assert 0 < ng <= nb


def test_curate_with_pii_and_lm_gate(spark):
    """Round-2 continuation stages compose into curation: PII masking
    rewrites text_content in place (schema unchanged), and the LM
    perplexity cap only ever removes docs."""
    from pyspark.sql import functions as F

    from go_readability_spark.plans import curate_corpus
    from go_readability_spark.plans.schema import PAGES_SCHEMA
    from go_readability_spark.sources import synth_corpus_rows

    rows = synth_corpus_rows(16, seed=31, skew=False)
    # plant PII inside one page's article body so it survives extraction
    target = rows[2]
    target["html"] = target["html"].replace(
        b"</p>", b" write to alice@example.com or 10.1.2.3.</p>", 1
    )
    pages = spark.createDataFrame(rows, schema=PAGES_SCHEMA)
    kw = dict(min_length=100, min_quality=0.0, languages=("en", "und"),
              num_partitions=4)

    base = curate_corpus(pages, **kw).cache()
    redacted = curate_corpus(pages, redact_pii=True, **kw).cache()
    try:
        assert redacted.columns == base.columns
        assert redacted.count() == base.count()
        joined = (base.alias("b").join(redacted.alias("r"), "url")
                  .select(F.col("b.text_content").alias("bt"),
                          F.col("r.text_content").alias("rt")).collect())
        assert any("<EMAIL>" in r.rt and "<IP>" in r.rt for r in joined)
        assert all("alice@example.com" not in r.rt for r in joined)
        assert any(r.bt != r.rt for r in joined)

        # generous cap keeps everything; cap 0 drops every doc with bigrams
        loose = curate_corpus(pages, max_lm_nll_per_bigram=1000.0, **kw)
        tight = curate_corpus(pages, max_lm_nll_per_bigram=0.0, **kw)
        assert loose.count() == base.count()
        assert tight.count() < base.count()
    finally:
        base.unpersist()
        redacted.unpersist()


def test_cli_curate_from_warc(tmp_path):
    """The curate subcommand end-to-end from WARC input with PII redaction
    on (subprocess: real spark-submit-equivalent surface)."""
    import subprocess
    import sys as _sys
    from datetime import datetime

    from go_readability_spark.sources import synth_corpus_rows, write_warc

    rows = synth_corpus_rows(12, seed=5, skew=False)
    (tmp_path / "in").mkdir()
    (tmp_path / "in" / "a.warc.gz").write_bytes(
        write_warc([(r["url"], datetime(2024, 1, 1), r["html"]) for r in rows])
    )
    out = tmp_path / "curated"
    r = subprocess.run(
        [_sys.executable, "-m", "go_readability_spark", "curate",
         "--input", str(tmp_path / "in"), "--input-format", "warc",
         "--output", str(out), "--min-length", "100", "--min-quality", "0.0",
         "--languages", "en,und", "--redact-pii", "--partitions", "4",
         "--master", "local[2]"],
        capture_output=True, text=True, timeout=600, cwd="/root/repo",
    )
    assert r.returncode == 0, r.stderr[-4000:]
    import duckdb

    n, cols = duckdb.sql(
        f"select count(*), count(distinct url) from '{out}/*.parquet'"
    ).fetchone(), duckdb.sql(f"describe select * from '{out}/*.parquet'").fetchall()
    assert n[0] > 0 and n[0] == n[1]
    assert {c[0] for c in cols} >= {"url", "text_content", "lang_id", "quality"}


def test_resume_counts_all_error_bucket_as_done(spark, tmp_path):
    """Review finding: a bucket whose every page errored (rows_out=0,
    only error rows in its file) must verify as done — the inner join
    dropped it and every resume re-extracted it forever."""
    from datetime import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from go_readability_spark.plans.extract import _ARTICLES_ARROW, completed_buckets
    from go_readability_spark.plans.schema import CHECKPOINT_SCHEMA

    now = datetime(2024, 1, 1)
    ck = [
        ("3", 1, "done", 5, 0, 5, 1000, now, now),   # all-error bucket
        ("7", 1, "done", 2, 2, 0, 400, now, now),    # healthy bucket
    ]
    ckpt_dir = str(tmp_path / "ck")
    spark.createDataFrame(ck, schema=CHECKPOINT_SCHEMA).write.parquet(ckpt_dir)
    # the sink's layout: bucket 3's file holds its 5 error rows, bucket
    # 7's its two good rows
    from pyspark.sql import functions as F

    urls = [f"https://x{i}.org/p" for i in range(200)]
    pool = spark.createDataFrame([(u,) for u in urls], "url string").withColumn(
        "salt", F.pmod(F.xxhash64("url"), F.lit(16))
    )
    out_dir = str(tmp_path / "out")
    for salt, n, error in ((3, 5, "RuntimeError: scoring failed"), (7, 2, None)):
        picked = [r.url for r in pool.where(f"salt = {salt}").limit(n).collect()]
        assert len(picked) == n
        rows = [{**{f.name: None for f in _ARTICLES_ARROW}, "url": u, "error": error}
                for u in picked]
        os.makedirs(os.path.join(out_dir, f"salt={salt}"))
        pq.write_table(pa.Table.from_pylist(rows, schema=_ARTICLES_ARROW),
                       os.path.join(out_dir, f"salt={salt}", f"part-{salt:05d}.parquet"))

    done = completed_buckets(spark, ckpt_dir, verify_output_dir=out_dir)
    salts = {r.salt for r in done.collect()}
    assert salts == {3, 7}, salts


def test_curate_dedups_recrawled_url(spark):
    """Review finding: the same url recrawled (same content, two warc_ts)
    survived both dedup stages — exact dedup keyed on (fingerprint, url)
    keeps both rows and equal urls never form a near-dup pair."""
    from datetime import datetime

    from go_readability_spark.plans import curate_corpus
    from go_readability_spark.plans.schema import PAGES_SCHEMA
    from go_readability_spark.sources import synth_corpus_rows

    rows = synth_corpus_rows(8, seed=41, skew=False)
    dup = dict(rows[0])
    dup["warc_ts"] = datetime(2025, 1, 1)
    rows.append(dup)  # identical url + html, later capture
    pages = spark.createDataFrame(rows, schema=PAGES_SCHEMA)
    curated = curate_corpus(pages, min_length=100, min_quality=0.0,
                            languages=("en", "und"), num_partitions=4)
    urls = [r.url for r in curated.select("url").collect()]
    assert len(urls) == len(set(urls))
    assert urls.count(rows[0]["url"]) <= 1


def test_cli_curate_sharded_output(spark, tmp_path):
    """--shard-bytes writes byte-balanced shard_id=K/ directories with
    one file each, preserving every curated row."""
    import os
    import subprocess
    import sys as _sys

    from go_readability_spark.plans.schema import PAGES_SCHEMA
    from go_readability_spark.sources import synth_corpus_rows

    rows = synth_corpus_rows(30, seed=9, skew=False)
    src = tmp_path / "pages"
    # NB: use the shared fixture session — getOrCreate() here would
    # return that same session and stopping it kills every later test
    spark.createDataFrame(rows, schema=PAGES_SCHEMA).write.parquet(str(src))
    out = tmp_path / "curated"
    r = subprocess.run(
        [_sys.executable, "-m", "go_readability_spark", "curate",
         "--input", str(src), "--output", str(out),
         "--min-length", "100", "--min-quality", "0.0",
         "--languages", "en,und", "--shard-bytes", "20000",
         "--partitions", "4", "--master", "local[2]"],
        capture_output=True, text=True, timeout=600, cwd="/root/repo",
    )
    assert r.returncode == 0, r.stderr[-4000:]
    shards = [d for d in os.listdir(out) if d.startswith("shard_id=")]
    assert len(shards) >= 2, shards
    import duckdb

    (n, d) = duckdb.sql(
        f"select count(*), count(distinct url) from '{out}/*/*.parquet'"
    ).fetchone()
    assert n > 0 and n == d


def test_stale_staging_dir_not_adopted(spark, tmp_path):
    """A Spark job killed mid-write leaves task-committed files under the
    output's _temporary/ dir; a Spark-committer restart's job commit would
    adopt them and duplicate rows (observed at the 1M kill+restart probe:
    1.68M rows for 1M urls). The resumable writer must not adopt them."""
    import glob
    import os
    import shutil

    from go_readability_spark.plans import run_extraction_job
    from go_readability_spark.plans.schema import PAGES_SCHEMA
    from go_readability_spark.sources import synth_corpus_rows

    pages = spark.createDataFrame(synth_corpus_rows(10, seed=77, skew=False),
                                  schema=PAGES_SCHEMA)
    out = str(tmp_path / "articles_stale")
    ck = str(tmp_path / "ck_stale")
    run_extraction_job(pages, out, checkpoint_dir=ck, n_buckets=4,
                       num_partitions=2)
    parts = glob.glob(os.path.join(out, "salt=*", "part-*.parquet"))
    assert parts
    assert spark.read.parquet(out).count() == 10
    # simulate a dead job's task-committed leftovers in the staging dir
    stale_task = os.path.join(out, "_temporary", "0",
                              "task_000000000000000_0001_m_000000")
    os.makedirs(stale_task)
    shutil.copy(parts[0], os.path.join(stale_task, "part-stale.parquet"))
    # rerun (resume no-ops the extraction)
    run_extraction_job(pages, out, checkpoint_dir=ck, n_buckets=4,
                       num_partitions=2)
    assert spark.read.parquet(out).count() == 10  # stale file NOT adopted


def test_atomic_sink_roundtrip_and_bucket_resume(spark, tmp_path):
    """Task-committed sink: output readable as hive-partitioned parquet,
    rerun is a true no-op (bucket files untouched), and a lost bucket is
    selectively re-extracted while completed buckets are skipped."""
    import glob
    import os
    import shutil
    import time

    from go_readability_spark.plans import run_extraction_job_atomic
    from go_readability_spark.plans.schema import PAGES_SCHEMA
    from go_readability_spark.sources import synth_corpus_rows

    pages = spark.createDataFrame(synth_corpus_rows(24, seed=5, skew=False),
                                  schema=PAGES_SCHEMA)
    out = str(tmp_path / "atomic_articles")
    ck = str(tmp_path / "atomic_ck")
    n1 = run_extraction_job_atomic(pages, out, checkpoint_dir=ck,
                                   n_buckets=8, num_partitions=4)
    assert n1 > 0
    back = spark.read.parquet(out)
    assert back.count() == 24
    assert back.select("url").distinct().count() == 24
    assert "salt" in back.columns  # hive partition column
    assert back.where("error is not null").count() == 0

    files = sorted(glob.glob(os.path.join(out, "salt=*", "part-*.parquet")))
    mtimes = {f: os.path.getmtime(f) for f in files}

    # no-op resume: zero buckets written, no file touched
    n2 = run_extraction_job_atomic(pages, out, checkpoint_dir=ck,
                                   n_buckets=8, num_partitions=4)
    assert n2 == 0
    assert {f: os.path.getmtime(f) for f in files} == mtimes

    # lose one bucket's data (simulates a kill after some buckets
    # published): only that bucket is re-extracted.  The dead attempt
    # also left a TRUNCATED dot-prefixed staging file (what an ENOSPC /
    # SIGKILL mid-write leaves): readers and the resume verifier must
    # never see it, and the rewrite must sweep it.
    lost_dir = os.path.dirname(files[0])
    shutil.rmtree(lost_dir)
    os.makedirs(lost_dir)
    salt_name = os.path.basename(files[0])
    stale = os.path.join(lost_dir, f".{salt_name}.tmp-deadbeef")
    with open(stale, "wb") as fh:
        fh.write(b"PAR1 truncated garbage")
    two_hours_ago = time.time() - 7200
    os.utime(stale, (two_hours_ago, two_hours_ago))
    # a FRESH tmp (mtime now) simulates a CONCURRENT attempt still
    # writing its staging file: the sweep must leave it alone (ADVICE
    # r5 — unlinking it mid-write would break that attempt's publish),
    # and being dot-prefixed it stays invisible to readers anyway
    fresh = os.path.join(lost_dir, f".{salt_name}.tmp-feedc0de")
    with open(fresh, "wb") as fh:
        fh.write(b"PAR1 concurrent attempt in flight")
    n3 = run_extraction_job_atomic(pages, out, checkpoint_dir=ck,
                                   n_buckets=8, num_partitions=4)
    assert n3 >= 1
    assert spark.read.parquet(out).count() == 24  # garbage invisible
    assert not os.path.exists(stale)  # old tmp swept by the rewrite
    assert os.path.exists(fresh)  # young tmp spared (concurrent writer)
    os.remove(fresh)
    assert not glob.glob(os.path.join(out, "salt=*", "*.tmp-*"))  # hidden only
    survivors = [f for f in files if not f.startswith(lost_dir + os.sep)]
    for f in survivors:
        assert os.path.getmtime(f) == mtimes[f], f  # untouched


def test_output_codec_knob(tmp_path, monkeypatch):
    """SPARK_GRAFT_PARQUET_CODEC drives every task-side pyarrow write (the
    atomic sink and the checkpoint lineage share _write_checkpoint_rows'
    plumbing); driver-side check keeps this independent of executor-daemon
    env caching."""
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from go_readability_spark.plans.extract import (
        _output_codec, _write_checkpoint_rows)

    assert _output_codec() == "snappy"  # default matches Spark's
    monkeypatch.setenv("SPARK_GRAFT_PARQUET_CODEC", "zstd")
    assert _output_codec() == "zstd"

    ck = str(tmp_path / "ck")
    from datetime import datetime, timezone
    started = datetime.now(timezone.utc).replace(tzinfo=None)
    _write_checkpoint_rows(ck, pa.RecordBatch.from_pydict(
        {"salt": [7], "rows_in": [3], "rows_out": [3], "parse_errors": [0],
         "bytes_in": [123]}), started)
    import glob
    f = glob.glob(f"{ck}/ckpt-*.parquet")[0]
    meta = pq.ParquetFile(f).metadata
    assert meta.row_group(0).column(0).compression == "ZSTD"


def test_curate_with_host_rank_gate(spark):
    """host_rank_floor drops pages on low-authority hosts BEFORE
    extraction; hosts absent from the link graph carry no signal and are
    kept. Planted graph: low.example.org links to hub.example.org and
    receives nothing (rank = 0.15 floor); nolink.example.org has no
    anchors at all (absent from the graph)."""
    from go_readability_spark.plans import curate_corpus
    from go_readability_spark.plans.schema import PAGES_SCHEMA
    from go_readability_spark.sources import synth_corpus_rows

    rows = synth_corpus_rows(12, seed=13, skew=False)
    hosts = ["low.example.org", "hub.example.org", "nolink.example.org"]
    for k, row in enumerate(rows):
        h = hosts[k % 3]
        row["url"] = f"https://{h}/p{k}.html"
        if h == "low.example.org":
            row["html"] = row["html"] + (
                b'<a href="https://hub.example.org/p1.html">hub</a>'
            )
    pages = spark.createDataFrame(rows, schema=PAGES_SCHEMA)

    kw = dict(min_length=100, min_quality=0.0, languages=("en", "und"),
              num_partitions=4)
    base = {r["url"] for r in curate_corpus(pages, **kw).select("url").collect()}
    gated = {
        r["url"]
        for r in curate_corpus(pages, host_rank_floor=0.2, **kw)
        .select("url").collect()
    }
    assert any("low.example.org" in u for u in base)  # gate did the removal
    assert not any("low.example.org" in u for u in gated)
    # hub (rank ~1) and nolink (no signal) survive identically to base
    assert {u for u in base if "low.example.org" not in u} == gated
