"""Per-task import-cache cost: pyspark's worker calls
``importlib.invalidate_caches()`` before every task, and on Python 3.11
and 3.12 each cached ``zipimporter`` re-reads its whole archive directory
on that call.  The extraction tasks wrap those importers so an unchanged
archive is not re-read (plans/extract.py ``_stat_checked_zip_importers``)."""

import importlib
import importlib.util
import sys
import zipfile
import zipimport

import pyarrow as pa
import pytest


@pytest.fixture
def unwrap_afterwards():
    """Take the wrappers off every importer of this process that had none
    before the test."""
    bare = [f for f in list(sys.path_importer_cache.values())
            if isinstance(f, zipimport.zipimporter) and "invalidate_caches" not in vars(f)]
    yield
    for finder in bare:
        vars(finder).pop("invalidate_caches", None)


def _counting_reads(monkeypatch):
    """Count the archive directory reads from now on; restored by
    monkeypatch."""
    reads = []
    read_directory = zipimport._read_directory

    def counted(archive):
        reads.append(archive)
        return read_directory(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    return reads


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, source in modules.items():
            zf.writestr(f"{name}.py", source)


def test_unchanged_archive_is_not_reread_and_rewritten_one_reloads(tmp_path, monkeypatch,
                                                                  unwrap_afterwards):
    from go_readability_spark.plans.extract import _stat_checked_zip_importers

    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zmod_a": "VALUE = 'a'\n"})
    finder = zipimport.zipimporter(archive)
    monkeypatch.setitem(sys.path_importer_cache, archive, finder)

    reads = _counting_reads(monkeypatch)
    # (Python 3.13 reads a dropped directory at the next lookup, 3.11 and
    # 3.12 inside invalidate_caches; each check looks a module up)
    importlib.invalidate_caches()
    assert finder.find_spec("zmod_a") is not None
    assert archive in reads  # the unwrapped importer re-reads on every call

    _stat_checked_zip_importers()
    _stat_checked_zip_importers()  # wrapping twice is a no-op
    del reads[:]
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert finder.find_spec("zmod_a") is not None
    assert reads == []

    _write_zip(archive, {"zmod_a": "VALUE = 'a'\n", "zmod_b": "VALUE = 'b'\n"})
    importlib.invalidate_caches()
    spec = finder.find_spec("zmod_b")
    assert reads == [archive]
    assert spec is not None
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    assert module.VALUE == "b"


def test_extraction_task_leaves_no_archive_to_reread(spark):
    """Inside a Spark task, once the extractor has drained its batches,
    the worker's per-task ``importlib.invalidate_caches()`` reads no
    archive directory again, and the worker does hold archive importers
    (pyspark.zip on its path), so the check is not vacuous."""
    from go_readability_spark.plans.extract import make_extractor
    from go_readability_spark.sources.synthetic import synth_page

    pages = [synth_page(seed=5, idx=i, host="example.org", n_paragraphs=4) for i in range(6)]
    df = spark.createDataFrame(
        [(p["url"], p["warc_ts"], p["html"]) for p in pages],
        "url string, warc_ts timestamp, html binary").coalesce(1)

    def probe(batches):
        import importlib
        import sys
        import zipimport

        urls = sum((a.num_rows for a in make_extractor()(batches)), 0)
        importers = sum(isinstance(f, zipimport.zipimporter)
                        for f in sys.path_importer_cache.values())
        reads = []
        read_directory = zipimport._read_directory
        zipimport._read_directory = lambda archive: (reads.append(archive),
                                                     read_directory(archive))[1]
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        yield pa.RecordBatch.from_pydict(
            {"articles": [urls], "zip_importers": [importers], "rereads": [len(reads)]})

    (row,) = df.mapInArrow(probe, "articles long, zip_importers long, rereads long").collect()
    assert row.articles == len(pages)
    assert row.zip_importers >= 1
    assert row.rereads == 0
