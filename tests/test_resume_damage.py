"""A restart of the bucket sink over damaged files redoes exactly the
damaged buckets.

One one-shot sink run per layout (flat, and ``partition_by=("lang",)``)
is copied for each state, one file is damaged, and the same job is run
again.  The restart must write lineage rows for exactly the buckets the
damaged file held (for a lineage file, the buckets it recorded), and the
output read back must equal the one-shot run per url, each url once."""

import glob
import os
import shutil

import pytest

N_BUCKETS = 16
_LANGS = (b"en", b"de", b"fr")


def _corpus_rows():
    from go_readability_spark.sources import synth_corpus_rows

    rows = synth_corpus_rows(200, seed=1103, skew=False)
    # three page languages, so a lang-partitioned bucket has several files
    for i, row in enumerate(rows):
        row["html"] = row["html"].replace(b'lang="en"', b'lang="%s"' % _LANGS[i % 3], 1)
    return rows


def _lineage_files(ckpt):
    return set(glob.glob(os.path.join(ckpt, "ckpt-*.parquet")))


def _recorded_buckets(paths):
    import pyarrow.parquet as pq

    return {int(k) for p in paths for k in pq.read_table(p).column("partition_key").to_pylist()}


def _salt_of(path):
    return int(os.path.basename(os.path.dirname(path))[len("salt="):])


def _truncate(path, keep):
    with open(path, "r+b") as fh:
        fh.truncate(int(os.path.getsize(path) * keep))


def _by_url(spark, out):
    rows = [r.asDict() for r in spark.read.parquet(out).collect()]
    urls = [r["url"] for r in rows]
    assert len(urls) == len(set(urls)), "a url appears twice"
    return {r["url"]: r for r in rows}


@pytest.fixture(scope="module")
def one_shot(spark, tmp_path_factory):
    """{layout: (output dir, checkpoint dir, partition_by, records by url)}"""
    from go_readability_spark.plans import run_extraction_job_atomic
    from go_readability_spark.plans.schema import PAGES_SCHEMA

    base = tmp_path_factory.mktemp("one_shot")
    pages = spark.createDataFrame(_corpus_rows(), schema=PAGES_SCHEMA)
    runs = {}
    for layout, partition_by in (("flat", ()), ("lang", ("lang",))):
        out, ckpt = str(base / layout / "out"), str(base / layout / "ckpt")
        assert run_extraction_job_atomic(pages, out, checkpoint_dir=ckpt, n_buckets=N_BUCKETS,
                                         num_partitions=4, partition_by=partition_by) > 0
        runs[layout] = (out, ckpt, partition_by, _by_url(spark, out))
    return pages, runs


def _data_file(out, pick):
    return sorted(glob.glob(os.path.join(out, "**", "salt=*", "*.parquet"), recursive=True))[pick]


def _damage(state, out, ckpt):
    """Damage one file; returns the buckets the restart must redo."""
    if state == "bucket_file_deleted":
        path = _data_file(out, 0)
        os.remove(path)
    elif state == "bucket_file_truncated":
        path = _data_file(out, 5)
        _truncate(path, 0.5)
    elif state == "bucket_file_emptied":
        path = _data_file(out, -1)
        _truncate(path, 0)
    elif state == "lang_file_truncated":
        files = glob.glob(os.path.join(out, "lang=*", "salt=*", "*.parquet"))
        salts = [_salt_of(p) for p in files]
        path = sorted(p for p in files if salts.count(_salt_of(p)) > 1)[0]
        _truncate(path, 0.5)
    else:
        # a lineage file truncated, or deleted as after a kill between a
        # task's data renames and its lineage rename
        path = sorted(_lineage_files(ckpt))[1]
        redo = _recorded_buckets([path])
        if state == "lineage_file_truncated":
            _truncate(path, 0.5)
        else:
            os.remove(path)
        return redo
    return {_salt_of(path)}


@pytest.mark.parametrize("state,layout", [
    ("bucket_file_deleted", "flat"),
    ("bucket_file_truncated", "flat"),
    ("bucket_file_emptied", "flat"),
    ("lang_file_truncated", "lang"),
    ("lineage_file_truncated", "flat"),
    ("lineage_file_deleted", "flat"),
])
def test_restart_redoes_exactly_the_damaged_buckets(spark, one_shot, tmp_path, state, layout):
    from go_readability_spark.plans import run_extraction_job_atomic

    pages, runs = one_shot
    src_out, src_ckpt, partition_by, want = runs[layout]
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    shutil.copytree(src_out, out)
    shutil.copytree(src_ckpt, ckpt)
    redo = _damage(state, out, ckpt)
    assert 0 < len(redo) < N_BUCKETS

    before = _lineage_files(ckpt)
    written = run_extraction_job_atomic(pages, out, checkpoint_dir=ckpt, n_buckets=N_BUCKETS,
                                        num_partitions=4, partition_by=partition_by)
    assert _recorded_buckets(_lineage_files(ckpt) - before) == redo
    assert written == len(redo)
    assert _by_url(spark, out) == want


def test_restart_sets_an_unreadable_lineage_file_aside(spark, one_shot, tmp_path):
    """A restart renames a lineage file it cannot read to a dot-prefixed
    name, so the checkpoint dir reads as a table again: the buckets that
    file recorded are redone, and their new lineage rows replace it."""
    import pyarrow.parquet as pq

    from go_readability_spark.plans import run_extraction_job_atomic

    pages, runs = one_shot
    src_out, src_ckpt, partition_by, want = runs["flat"]
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    shutil.copytree(src_out, out)
    shutil.copytree(src_ckpt, ckpt)
    damaged = sorted(_lineage_files(ckpt))[0]
    redo = _recorded_buckets([damaged])
    _truncate(damaged, 0.5)

    assert run_extraction_job_atomic(pages, out, checkpoint_dir=ckpt, n_buckets=N_BUCKETS,
                                     num_partitions=4, partition_by=partition_by) == len(redo)
    name = os.path.basename(damaged)
    assert not os.path.exists(damaged)
    assert os.path.exists(os.path.join(ckpt, f".{name}.unreadable"))
    recorded = {int(k) for k in pq.read_table(ckpt).column("partition_key").to_pylist()}
    assert recorded == _recorded_buckets(_lineage_files(src_ckpt))
    assert spark.read.parquet(ckpt).count() == pq.read_table(ckpt).num_rows
    assert _by_url(spark, out) == want


def test_restart_keeps_a_lineage_file_it_failed_to_open(spark, one_shot, tmp_path,
                                                        monkeypatch):
    """A lineage file that fails to open with an OSError (here EMFILE) is
    skipped, its buckets left not done, and not renamed: only a file
    pyarrow finds damaged is set aside."""
    import errno

    import pyarrow.parquet as pq

    from go_readability_spark.plans.extract import completed_buckets

    _pages, runs = one_shot
    src_out, src_ckpt, _partition_by, _want = runs["flat"]
    ckpt = str(tmp_path / "ckpt")
    shutil.copytree(src_ckpt, ckpt)
    busy = sorted(_lineage_files(ckpt))[0]
    read_table = pq.read_table

    def failing(path, *args, **kwargs):
        if path == busy:
            raise OSError(errno.EMFILE, "Too many open files", path)
        return read_table(path, *args, **kwargs)

    monkeypatch.setattr(pq, "read_table", failing)
    before = sorted(os.listdir(ckpt))
    done = {r.salt for r in completed_buckets(spark, ckpt, src_out).collect()}
    assert sorted(os.listdir(ckpt)) == before
    assert done == _recorded_buckets(_lineage_files(ckpt) - {busy})
