"""Archive-aligned worklist segmentation for crawl-fetch (plans/crawl.py).

The 10M-page record in BENCH/BASELINE.md round 6 first ran as one
monolithic fetch+extract job and died on shuffle ENOSPC; split into 4
archive-aligned segments it completed with peak scratch at ~1/4. These
tests pin that recipe as product behavior: the split is archive-aligned
and deterministic, the segmented output reunites byte-identical to the
unsegmented run, resume composes per segment, and the CLI flag drives it.
"""

import os
import subprocess
import sys
from datetime import datetime

from pyspark.sql import functions as F

from go_readability_spark.plans.crawl import run_crawl_fetch, segment_plan
from go_readability_spark.sources.warc import write_warc

BODY = ("<html><head><title>T%d</title></head><body><article><p>"
        + "Readable sentence, with commas, and length. " * 8
        + "</p></article></body></html>")


def _make_corpus(tmp_path, n_archives=3, per_archive=3):
    """n_archives .warc.gz files, each holding per_archive members, plus
    the (url, filename, offset, length) plan rows with REAL offsets."""
    d = tmp_path / "arch"
    d.mkdir(exist_ok=True)
    plan_rows = []
    k = 0
    for a in range(n_archives):
        blob, off = b"", 0
        for j in range(per_archive):
            url = f"https://example.org/a{a}/p{j}"
            member = write_warc([(url, datetime(2024, 5, 1, 0, 0, k % 60),
                                  (BODY % k).encode())])
            plan_rows.append((url, f"arch-{a}.warc.gz", off, len(member)))
            blob += member
            off += len(member)
            k += 1
        (d / f"arch-{a}.warc.gz").write_bytes(blob)
    return d, plan_rows


def _plan_df(spark, rows):
    return spark.createDataFrame(
        rows, "url string, filename string, offset long, length long")


def test_segment_plan_archive_aligned(spark):
    rows = [(f"u{i}", f"f{i % 5}.warc.gz", i * 10, 10) for i in range(40)]
    plan = _plan_df(spark, rows)
    segs = segment_plan(plan, 3)
    assert [i for i, _ in segs] == [0, 1, 2]
    # each archive's rows land in exactly one segment
    seen_in = {}
    total = 0
    for i, seg in segs:
        for r in seg.select("filename").distinct().collect():
            assert seen_in.setdefault(r.filename, i) == i
        total += seg.count()
    assert total == plan.count()  # disjoint cover, nothing dropped
    # deterministic: same plan -> same assignment
    again = {r.filename: i for i, seg in segment_plan(plan, 3)
             for r in seg.select("filename").distinct().collect()}
    assert again == seen_in
    # K=1 passes the plan through untouched
    assert segment_plan(plan, 1)[0][1] is plan


def test_segmented_fetch_matches_unsegmented(spark, tmp_path):
    d, rows = _make_corpus(tmp_path)
    plan = _plan_df(spark, rows)

    flat_out = str(tmp_path / "flat")
    n_flat = run_crawl_fetch(spark, plan, str(d), flat_out,
                             extract=True, n_buckets=4)
    seg_out = str(tmp_path / "segd")
    n_seg = run_crawl_fetch(
        spark, plan, str(d), seg_out, extract=True,
        checkpoint_dir=str(tmp_path / "ckpt"), n_buckets=4, n_segments=2)
    assert n_flat == n_seg == len(rows)

    segd = spark.read.parquet(seg_out)
    assert "seg" in segd.columns  # Hive partition discovery reunites + tags
    assert set(segd.select("seg").distinct().toPandas()["seg"]) <= {0, 1}
    cols = ["url", "title", "text_content", "length", "readerable"]
    flat_rows = sorted(map(tuple, spark.read.parquet(flat_out)
                           .select(*cols).collect()))
    seg_rows = sorted(map(tuple, segd.select(*cols).collect()))
    assert seg_rows == flat_rows  # byte-identical reunion

    # per-segment checkpoint + output dirs exist for every non-empty segment
    for i, seg in segment_plan(plan, 2):
        if seg.count():
            assert os.path.isdir(os.path.join(seg_out, f"seg={i}"))
            assert os.path.isdir(str(tmp_path / "ckpt" / f"seg={i}"))


def test_segmented_rerun_is_noop_resume(spark, tmp_path):
    d, rows = _make_corpus(tmp_path)
    plan = _plan_df(spark, rows)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    n1 = run_crawl_fetch(spark, plan, str(d), out, extract=True,
                         checkpoint_dir=ckpt,
                         n_buckets=4, n_segments=3)
    # a restart of the whole loop: completed segments no-op via their own
    # checkpoints — no duplicate rows, same corpus
    n2 = run_crawl_fetch(spark, plan, str(d), out, extract=True,
                         checkpoint_dir=ckpt,
                         n_buckets=4, n_segments=3)
    assert n1 == n2 == len(rows)
    urls = spark.read.parquet(out).groupBy("url").count()
    assert urls.where(F.col("count") > 1).count() == 0


def test_segment_marker_refuses_k_mismatch(tmp_path):
    """Changing --segments K against an existing segmented output would
    reshuffle the hash assignment over stale seg=i dirs and duplicate
    rows (review finding) — the marker refuses it, including a K=1 rerun
    and a kind mismatch; same-K reruns pass."""
    import pytest

    from go_readability_spark.plans.crawl import check_segment_marker

    out = str(tmp_path / "out")
    check_segment_marker(out, 3, "archive-hash")  # first run records K
    assert os.path.exists(os.path.join(out, "_SEGMENTS"))
    check_segment_marker(out, 3, "archive-hash")  # same K: fine
    with pytest.raises(ValueError, match="reshuffle"):
        check_segment_marker(out, 2, "archive-hash")
    with pytest.raises(ValueError, match="reshuffle"):
        check_segment_marker(out, 1, "archive-hash")
    with pytest.raises(ValueError, match="reshuffle"):
        check_segment_marker(out, 3, "file-hash")
    # plain run into a FRESH dir: no marker written, nothing to refuse
    fresh = str(tmp_path / "fresh")
    check_segment_marker(fresh, 1, "file-hash")
    assert not os.path.exists(os.path.join(fresh, "_SEGMENTS"))


def test_segment_input_files_per_file_stable(tmp_path):
    """A file's segment depends only on its own relative path — adding
    files to the input dir never reassigns already-checkpointed ones
    (the property that keeps per-segment resume sound on a growing dir)."""
    from go_readability_spark.plans.crawl import segment_input_files

    d = tmp_path / "pages"
    d.mkdir()
    for i in range(8):
        (d / f"part-{i:05d}.parquet").write_bytes(b"x")
    (d / "_SUCCESS").write_bytes(b"")  # commit markers never enter a group
    before = {p: i
              for i, grp in enumerate(
                  segment_input_files(str(d), 3, (".parquet",)))
              for p in grp}
    assert len(before) == 8
    for i in range(8, 12):
        (d / f"part-{i:05d}.parquet").write_bytes(b"x")
    after = {p: i
             for i, grp in enumerate(
                 segment_input_files(str(d), 3, (".parquet",)))
             for p in grp}
    assert len(after) == 12
    assert all(after[p] == s for p, s in before.items())
    try:
        segment_input_files("s3a://bucket/pages", 3, (".parquet",))
        raise AssertionError("remote URI must be rejected")
    except ValueError:
        pass


def test_extract_segments_parquet_matches_flat(spark, tmp_path):
    """extract --segments 2 over a multi-file pages parquet reunites
    identical to the unsegmented job; rerun is a checkpointed no-op."""
    from go_readability_spark.sources import synth_pages_distributed

    pages_dir = str(tmp_path / "pages")
    synth_pages_distributed(spark, 40, seed=17, skew=True,
                            num_partitions=4).write.parquet(pages_dir)

    def run(extra, out):
        r = subprocess.run(
            [sys.executable, "-m", "go_readability_spark", "extract",
             "--input", pages_dir, "--output", out,
             "--buckets", "4", "--master", "local[2]",
             *extra],
            capture_output=True, text=True, timeout=420, cwd="/root/repo")
        assert r.returncode == 0, r.stderr[-1500:]
        return r

    flat_out = str(tmp_path / "flat")
    run(["--checkpoint", str(tmp_path / "ck_flat")], flat_out)
    seg_out = str(tmp_path / "segd")
    run(["--segments", "2", "--checkpoint", str(tmp_path / "ck_seg")],
        seg_out)
    cols = ["url", "title", "text_content", "length"]
    flat = sorted(map(tuple, spark.read.parquet(flat_out)
                      .select(*cols).collect()))
    segd_df = spark.read.parquet(seg_out)
    assert "seg" in segd_df.columns
    segd = sorted(map(tuple, segd_df.select(*cols).collect()))
    assert segd == flat and len(flat) == 40
    # whole-loop rerun: per-segment checkpoints make it a no-op
    r = run(["--segments", "2", "--checkpoint", str(tmp_path / "ck_seg")],
            seg_out)
    assert spark.read.parquet(seg_out).count() == 40
    assert "0 buckets written" in r.stderr


def test_extract_segments_warc_and_revisit_refusal(spark, tmp_path):
    d = tmp_path / "warcs"
    d.mkdir()
    urls = []
    for a in range(3):
        url = f"https://example.org/w/{a}"
        urls.append(url)
        (d / f"c-{a}.warc.gz").write_bytes(
            write_warc([(url, datetime(2024, 5, 1), (BODY % a).encode())]))
    out = str(tmp_path / "arts")
    r = subprocess.run(
        [sys.executable, "-m", "go_readability_spark", "extract",
         "--input", str(d), "--input-format", "warc", "--output", out,
         "--segments", "2",
         "--checkpoint", str(tmp_path / "ck"),
         "--buckets", "2", "--master", "local[2]"],
        capture_output=True, text=True, timeout=420, cwd="/root/repo")
    assert r.returncode == 0, r.stderr[-1500:]
    assert {a.url for a in spark.read.parquet(out).collect()} == set(urls)

    r = subprocess.run(
        [sys.executable, "-m", "go_readability_spark", "extract",
         "--input", str(d), "--input-format", "warc", "--output", out,
         "--segments", "2", "--resolve-revisits", "--master", "local[2]"],
        capture_output=True, text=True, timeout=120, cwd="/root/repo")
    assert r.returncode != 0
    assert "resolve-revisits" in r.stderr  # corpus-global digests: refused


def test_segments_cli_flag(spark, tmp_path):
    d, rows = _make_corpus(tmp_path, n_archives=2, per_archive=2)
    plan_dir = str(tmp_path / "plan")
    _plan_df(spark, rows).write.parquet(plan_dir)
    out = str(tmp_path / "articles")
    r = subprocess.run(
        [sys.executable, "-m", "go_readability_spark", "crawl-fetch",
         "--plan", plan_dir, "--warc-dir", str(d), "--output", out,
         "--extract",
         "--checkpoint", str(tmp_path / "ckpt"),
         "--segments", "2", "--buckets", "4", "--master", "local[2]"],
        capture_output=True, text=True, timeout=300, cwd="/root/repo")
    assert r.returncode == 0, r.stderr[-1500:]
    assert f"crawl fetch: {len(rows)} articles" in r.stdout
    got = spark.read.parquet(out)
    assert {a.url for a in got.collect()} == {u for u, *_ in rows}


def test_crawl_fetch_cli_checkpoint_resumes(spark, tmp_path):
    """crawl-fetch --extract --checkpoint is resumable: a second run over
    the same plan writes 0 buckets and touches no data file."""
    import glob

    d, rows = _make_corpus(tmp_path, n_archives=2, per_archive=2)
    plan_dir = str(tmp_path / "plan")
    _plan_df(spark, rows).write.parquet(plan_dir)
    out = str(tmp_path / "articles")

    def run():
        r = subprocess.run(
            [sys.executable, "-m", "go_readability_spark", "crawl-fetch",
             "--plan", plan_dir, "--warc-dir", str(d), "--output", out,
             "--extract", "--checkpoint", str(tmp_path / "ckpt"),
             "--buckets", "4", "--master", "local[2]"],
            capture_output=True, text=True, timeout=300,
            cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
        assert r.returncode == 0, r.stderr[-1500:]
        assert f"crawl fetch: {len(rows)} articles" in r.stdout
        return r

    assert "0 buckets written" not in run().stderr
    files = glob.glob(os.path.join(out, "salt=*", "part-*.parquet"))
    assert files
    mtimes = {f: os.stat(f).st_mtime_ns for f in files}
    assert "atomic sink: 0 buckets written" in run().stderr
    assert {f: os.stat(f).st_mtime_ns
            for f in glob.glob(os.path.join(out, "**", "*.parquet"),
                               recursive=True)} == mtimes
