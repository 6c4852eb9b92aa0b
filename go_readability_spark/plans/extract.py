"""The extraction pipeline: Iceberg/parquet scan → [at most one exchange]
→ mapInArrow extraction → sink, with per-bucket checkpoint/lineage rows
for resumability (SURVEY.md §3 'Spark lifecycle').

Design notes for 10^12-row scale:

* Column pruning is explicit: only (url, warc_ts, html) leave the scan;
  Catalyst pushes the projection into the parquet/Iceberg scan.
* Extracting a page is a per-row map, so HTML moves through an exchange
  only where one is needed. ``extract_pages`` runs in place over an
  exchange-free scan whose splits fill the session's slots in one wave
  (task sizes then follow the splits, and the extractor's bounded
  collector pause keeps a worker's memory flat in split size);
  otherwise, or when ``num_partitions`` is given, it adds one
  deterministic hash exchange on the full-width
  ``xxhash64(url)``, which spreads rows evenly. The resumable sink
  always exchanges, keyed on the salt
  ``pmod(xxhash64(url), n_buckets)``, so each bucket lives in exactly one
  task, which is what makes bucket-level resume sound. The salt is the
  sink's own unit of lineage; no other plan computes it.
* The extraction itself is partition-local: one ``mapInArrow`` call per
  partition, iterator form, so the compiled regexes and parser setup
  amortize across all Arrow batches of the partition (no per-row Python
  dispatch at the Spark boundary). Record batches go in and out with no
  pandas in between, and warc_ts passes through untouched. The optional
  readerable gate runs in the same stage: a page that fails Check is
  dropped before scoring.
* Resume: a job with a ``checkpoint_dir`` runs through the task-committed
  bucket sink (``run_extraction_job_atomic``), the one resumable writer.
  Each task publishes its bucket files by atomic rename and then records
  the buckets in the checkpoint table; a restart anti-joins pages against
  the buckets whose lineage rows match their files' parquet footers
  (``completed_buckets``, on the driver). The checkpoint table is a parquet
  directory written atomically per task (on a cluster with a remote
  filesystem, an Iceberg table with transactional appends takes its place).
"""

from __future__ import annotations

import contextlib
import gc
import glob
import os
import sys
import time
import uuid
import zipimport
from collections.abc import Iterator
from datetime import datetime, timezone

import pyarrow as pa
from pyspark.sql import DataFrame, functions as F

from ..readability.record import extract_record
from .parallelism import shuffle_partitions, splits_fill_session
from .schema import ARTICLES_SCHEMA, CHECKPOINT_SCHEMA, SINK_STATS_SCHEMA

DEFAULT_N_BUCKETS = 256

_COLUMNS = ARTICLES_SCHEMA.names
# per-bucket counters, in the order bucket_stats lists them
_BUCKET_COUNTS = ("rows_in", "rows_out", "parse_errors", "bytes_in")


def _output_codec() -> str:
    """Parquet codec for task-side pyarrow writes (atomic sink, checkpoint
    lineage), kept in lockstep with the session-level
    spark.sql.parquet.compression.codec knob (plans/session.py). Local mode
    inherits the driver env; on a cluster ship it via spark.executorEnv."""
    return os.environ.get("SPARK_GRAFT_PARQUET_CODEC", "snappy")


def _arrow_schema(struct):
    """pyarrow schema for the record batches and task-side parquet writes
    of ``struct``.

    Pinned to the on-disk format earlier outputs and checkpoints were
    written in, so resume keeps reading them: naive ``timestamp[us]``
    (pyspark's own Arrow mapping is UTC-zoned; Spark reads either as the
    same UTC microseconds) and every field nullable."""
    types = {"string": pa.string(), "timestamp": pa.timestamp("us"),
             "int": pa.int32(), "bigint": pa.int64(), "boolean": pa.bool_()}
    return pa.schema([(f.name, types[f.dataType.simpleString()])
                      for f in struct.fields])


_ARTICLES_ARROW = _arrow_schema(ARTICLES_SCHEMA)

# published_time/modified_time outside pandas' nanosecond timestamp range
# come out null.  Earlier versions built these columns through pandas,
# which coerced such dates to null; output stays equal to theirs and to
# the files they wrote.
_PANDAS_TIMESTAMP_RANGE = (datetime(1677, 9, 21, 0, 12, 43, 145225),
                           datetime(2262, 4, 11, 23, 47, 16, 854775))


# HTML bytes a task reads between full sweeps of the cyclic collector,
# which stays paused for the rest of the task.  extract_record tears the
# trees it can reach down explicitly; what it leaves to the collector is
# the subtrees the kernel detached on the way (about 83 DOM nodes per
# skew-corpus page, found by a DEBUG_SAVEALL sweep at the end of a
# 2,000-page task).  Those pile up for as long as the pause lasts, so a
# task's memory grew with its input: one 211 MB parquet split (770 MB of
# skew-corpus HTML, 42,000 pages) as one local[1] task peaked the Python
# worker at 835 MB RSS paused, 264 MB with the collector on, and 336 MB
# as 8 hash-exchanged tasks.  With a sweep per 32 MB it peaked at
# 296-298 MB in the same wall time (105.1/96.0 s against 104.6/96.4 s,
# interleaved); a task below the budget never sweeps.  Between tasks
# pyspark's daemon collects after every task of a reused worker
# (pyspark/daemon.py), and a worker without the daemon exits after one.
_GC_EVERY_HTML_BYTES = 32 << 20


@contextlib.contextmanager
def _gc_paused():
    """Pauses the cyclic collector for one extraction task's body; both
    mapInArrow functions run inside it."""
    # extract_record tears its trees down explicitly, so the cyclic
    # collector has little to do mid-partition — its full gen-2 sweeps
    # (triggered purely by allocation counts at this node rate) were the
    # single largest per-doc latency source.  _extract_batches sweeps
    # the detached residue itself, once per _GC_EVERY_HTML_BYTES read.
    gc_was_enabled = gc.isenabled()
    gc.disable()
    try:
        yield
    finally:
        if gc_was_enabled:
            gc.enable()


def _archive_stamp(path):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _stat_checked(finder):
    seen = _archive_stamp(finder.archive)

    def invalidate_caches():
        nonlocal seen
        stamp = _archive_stamp(finder.archive)
        if stamp != seen:
            seen = stamp
            zipimport.zipimporter.invalidate_caches(finder)

    return invalidate_caches


def _stat_checked_zip_importers() -> None:
    """Make each archive importer on the import path re-read its
    directory only when its archive file has changed.

    pyspark's worker calls ``importlib.invalidate_caches()`` at the start
    of every task (``worker_util.setup_spark_files``), reused workers
    included.  On Python 3.11 and 3.12 every cached ``zipimporter`` then
    re-reads its whole archive directory: the worker's 16-17, over
    pyspark.zip, py4j, the spark-core jar (5,359 entries) and the
    shipped package, took 137-470 ms of every task measured, before any
    of the task's own code ran.  Wrapped, an importer costs one ``stat``
    per call and re-reads only when the archive's (mtime_ns, size)
    moved, so a worker pays the re-read on its first task alone and a
    rewritten archive still reloads.  Importers created since the last
    call are wrapped on the next."""
    for finder in list(sys.path_importer_cache.values()):
        if (isinstance(finder, zipimport.zipimporter)
                and "invalidate_caches" not in vars(finder)):
            finder.invalidate_caches = _stat_checked(finder)


def make_extractor(readerable_gate: bool = False):
    """Build the mapInArrow function. Iterator form: per-partition setup
    runs once, then every Arrow batch streams through."""

    def extract_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        with _gc_paused():
            for batch, kept, articles in _extract_batches(batches, readerable_gate):
                if kept:
                    yield articles
                del batch, articles  # not held while the next batch is extracted

    return extract_batches


def _write_checkpoint_rows(checkpoint_dir, stats, started):
    """Append one lineage row per completed salt bucket (one per row of
    the sink's ``stats`` batch: salt + _BUCKET_COUNTS). Atomic per task:
    written to a unique file name, so concurrent tasks never collide, and
    published by rename, so a write killed halfway leaves only a
    dot-prefixed tmp that readers skip, never a truncated visible file.
    (Production: Iceberg transactional append — same rows, same schema.)"""
    import pyarrow.parquet as pq
    from pyspark import TaskContext

    ctx = TaskContext.get()  # None outside a Spark task
    attempt = ctx.attemptNumber() + 1 if ctx is not None else 1
    finished = datetime.now(timezone.utc).replace(tzinfo=None)
    n = stats.num_rows
    rows = pa.RecordBatch.from_pydict({
        "partition_key": [str(s) for s in stats.column("salt").to_pylist()],
        "attempt": [attempt] * n,
        "status": ["done"] * n,
        **{c: stats.column(c) for c in _BUCKET_COUNTS},
        "started_at": [started] * n,
        "finished_at": [finished] * n,
    }, schema=_arrow_schema(CHECKPOINT_SCHEMA))
    os.makedirs(checkpoint_dir, exist_ok=True)
    name = f"ckpt-{uuid.uuid4().hex}.parquet"
    tmp = os.path.join(checkpoint_dir, f".{name}.tmp")
    pq.write_table(pa.Table.from_batches([rows]), tmp, compression=_output_codec())
    os.replace(tmp, os.path.join(checkpoint_dir, name))


def with_salt(pages: DataFrame, n_buckets: int = DEFAULT_N_BUCKETS) -> DataFrame:
    """Deterministic skew-defusing salt: pmod(xxhash64(url), n_buckets)."""
    return pages.withColumn("salt", F.pmod(F.xxhash64(F.col("url")), F.lit(n_buckets)))


def completed_buckets(spark, checkpoint_dir: str, verify_output_dir: str) -> DataFrame | None:
    """Salt buckets safe to skip on resume, decided on the driver from
    the sink's own files: its lineage rows and its bucket files' parquet
    footers.  No article column is read and no Spark job runs to decide.

    A bucket is done when the largest ``rows_out + parse_errors`` among
    its lineage rows (a retried or speculative attempt appends another
    row for the same bucket, so max, not sum) equals the ``num_rows`` its
    ``salt=<n>`` files' footers record, summed across the hive dirs of
    ``partition_by``.  A bucket with no file counts 0 rows, so one whose
    every page was gated out is done and one whose file was lost is not.
    A footer that cannot be read (a truncated or emptied file) leaves its
    bucket not done, and a lineage file that cannot be read is skipped,
    so the buckets it recorded are redone.  This call changes the
    checkpoint dir: a lineage file that is damaged (pyarrow finds no
    valid footer, ``ArrowInvalid``) is renamed to a dot-prefixed name,
    which Spark and pyarrow skip, so the dir reads as a table again once
    the restart has rewritten the buckets' lineage.  A file that fails
    to read for another reason (an ``OSError`` such as EMFILE or EIO) is
    only skipped, so a good file stays visible to the next restart.
    (Iceberg: manifest row counts play the footers' role.)"""
    import pyarrow.parquet as pq

    if not checkpoint_dir or not os.path.isdir(checkpoint_dir):
        return None
    owed: dict[int, int] = {}
    for path in glob.glob(os.path.join(glob.escape(checkpoint_dir), "*.parquet")):
        try:
            rows = pq.read_table(path, columns=["partition_key", "status", "rows_out",
                                                "parse_errors"]).to_pylist()
        except pa.ArrowInvalid:
            with contextlib.suppress(OSError):
                os.replace(path, os.path.join(checkpoint_dir,
                                              f".{os.path.basename(path)}.unreadable"))
            continue
        except (OSError, pa.ArrowException):
            continue
        for r in rows:
            if r["status"] == "done":
                salt = int(r["partition_key"])
                owed[salt] = max(owed.get(salt, 0), r["rows_out"] + r["parse_errors"])
    found: dict[int, int] = {}
    unreadable = set()
    for path in glob.glob(os.path.join(glob.escape(verify_output_dir), "**", "salt=*",
                                       "*.parquet"), recursive=True):
        salt = int(os.path.basename(os.path.dirname(path))[len("salt="):])
        try:
            found[salt] = found.get(salt, 0) + pq.read_metadata(path).num_rows
        except (OSError, pa.ArrowException):
            unreadable.add(salt)
    done = [salt for salt, n in sorted(owed.items())
            if salt not in unreadable and found.get(salt, 0) == n]
    # from an Arrow table Spark builds a local relation (LocalTableScan);
    # from a list of rows it would build an RDD, and counting or
    # broadcasting that took 0.4 s more on local[4]
    return spark.createDataFrame(pa.table({"salt": pa.array(done, pa.int64())}))


def _salted_exchange(pages: DataFrame, n_buckets: int, num_partitions: int | None,
                     checkpoint_dir: str | None, output_dir: str) -> DataFrame:
    """The sink's plan prelude: prune to (url, warc_ts, html), salt,
    anti-join the buckets ``checkpoint_dir`` records as completed in
    ``output_dir``, and run the one exchange keyed on the salt, into
    ``num_partitions`` tasks or else min(n_buckets,
    max(``spark.sql.shuffle.partitions``, cores)).

    A sink task publishes its buckets and their lineage rows when its
    input ends, so the tasks are the unit a mid-job kill resumes from,
    and each holds its share of the articles until then.  The sink
    therefore keeps Spark's shuffle task count (200 by default: several
    waves that publish as they finish), floored at one task per core.
    One task per core would publish nothing until the job nears its end
    and hold N/cores articles per task."""
    spark = pages.sparkSession
    df = with_salt(pages.select("url", "warc_ts", "html"), n_buckets)

    done = completed_buckets(spark, checkpoint_dir, verify_output_dir=output_dir)
    if done is not None:
        df = df.join(F.broadcast(done), "salt", "left_anti")

    # bucket-level resume requires each salt bucket to live in exactly
    # one task: the checkpoint marks whole buckets done, so a bucket
    # split across tasks could be half-recorded as complete
    tasks = max(shuffle_partitions(spark), spark.sparkContext.defaultParallelism)
    return df.repartition(num_partitions or min(n_buckets, tasks), "salt")


def extract_pages(
    pages: DataFrame,
    num_partitions: int | None = None,
    readerable_gate: bool = False,
) -> DataFrame:
    """The extraction plan:

    pages → select(url, warc_ts, html)          # column pruning to the scan
          → [repartition(P, xxhash64(url))]     # only when the input needs it
          → mapInArrow(extract, ARTICLES)       # partition-local, Arrow batches

    Extracting a page is a per-row map, so the pages move through an
    exchange only when that buys parallelism: always when
    ``num_partitions`` asks for P tasks, and otherwise unless the pruned
    input is an exchange-free batch plan whose splits fill the session's
    slots in one wave (``splits_fill_session``: 4 splits on 4 cores).
    Such a scan runs in place, one Python task per split; any other
    split count, a stream, or an input that already shuffles (the
    crawl-fetch plan's repartition by archive, whose AQE-coalesced task
    count is unknown until it runs) gets the hash exchange, into one
    task per core (``defaultParallelism``): each Python task has a fixed
    cost, so more tasks than cores only add it, and
    ``spark.sql.shuffle.partitions`` (200 by default) neither raises nor
    caps the count.

    ``readerable_gate`` drops pages that fail Check inside that one
    mapInArrow stage, before scoring. A pure transform: resumable jobs
    go through ``run_extraction_job`` with a ``checkpoint_dir``.
    """
    df = pages.select("url", "warc_ts", "html")
    if num_partitions or not splits_fill_session(df):
        # no resume semantics on this plan, so the exchange is keyed on the
        # full-width hash, not on B coarse buckets: B values hashed into P
        # partitions leave measured row-count imbalance (guide §2.5: use
        # 20-100x more distinct keys than partitions; at B/P = 8 the per-task
        # row counts ranged 15-69 around a mean of 31 on the fixture bench,
        # max task 1.8s vs 0.97s mean). xxhash64(url) spreads counts
        # multinomially and stays retry-safe (deterministic key, not rand()).
        df = df.repartition(num_partitions or pages.sparkSession.sparkContext.defaultParallelism,
                            F.xxhash64(F.col("url")))
    return df.mapInArrow(make_extractor(readerable_gate), schema=ARTICLES_SCHEMA)


# chars Spark's writer %XX-escapes in a hive partition value
# (ExternalCatalogUtils.escapePathName, non-Windows set)
_HIVE_ESCAPE = frozenset([*map(chr, range(1, 32)), *"\"#%'*/:=?\\{[]^", "\x7f"])
_HIVE_DEFAULT_PARTITION = "__HIVE_DEFAULT_PARTITION__"


def _hive_dirs(articles, partition_by) -> list[str]:
    """Per-row hive partition path ``col=<value>/...`` for ``partition_by``,
    escaped the way Spark's writer escapes it: null and empty values map
    to the default partition, and every char that could end the path
    component ('/' included) is %XX-encoded, so no value names a path
    outside the table. Spark's partition discovery reads it back."""
    def component(col, v):
        if v is None or v == "":
            return f"{col}={_HIVE_DEFAULT_PARTITION}"
        return col + "=" + "".join(f"%{ord(ch):02X}" if ch in _HIVE_ESCAPE else ch
                                   for ch in v)

    return [os.path.join(*(component(c, v) for c, v in zip(partition_by, vals)))
            for vals in zip(*(articles.column(c).to_pylist() for c in partition_by))]


def make_sink_extractor(output_dir: str, checkpoint_dir: str | None,
                        readerable_gate: bool = False,
                        partition_by: tuple[str, ...] = ()):
    """mapInArrow function for the ATOMIC task-committed sink: the
    extraction output is written per salt bucket straight into the
    articles table from inside the task, and the mapInArrow result is
    only the tiny per-bucket stats relation.

    The properties that make mid-job resume REAL on a plain filesystem
    (Spark's own committer only exposes output at job commit, so a
    mid-job kill loses everything):

    * per-bucket data file `salt=<n>/part-<n>.parquet` written to a tmp
      name and os.replace()d — atomic, so readers (including the resume
      verifier) never see partial data;
    * the file name is DETERMINISTIC per bucket and repartition(salt)
      puts each bucket in exactly one partition, so a retried /
      speculative / resumed task overwrites its own bucket instead of
      duplicating it — the write is idempotent;
    * the checkpoint lineage row lands strictly AFTER the bucket's data
      rename: a crash between the two leaves an orphan data file that
      the next attempt simply overwrites, never a 'done' row without
      visible data (the silent-loss window the verifier guards).

    With ``partition_by`` the hive partition directories go outermost
    (`lang=<v>/salt=<n>/part-<n>.parquet`, one file per bucket and value)
    and the partition columns leave the data files, as in Spark's
    ``partitionBy`` writer.

    A bucket whose every page is gated out gets a lineage row with
    rows_out = 0 and no data file.
    """
    columns = [c for c in _COLUMNS if c not in partition_by]

    def publish(parts):
        import pyarrow.parquet as pq

        for (salt_val, rel), pieces in parts.items():
            bucket_dir = os.path.join(output_dir, rel, f"salt={salt_val}")
            os.makedirs(bucket_dir, exist_ok=True)
            final = os.path.join(bucket_dir, f"part-{salt_val:05d}.parquet")
            # staging name MUST be dot-prefixed: Spark/parquet directory
            # listings ignore '.'/'_' files, so a kill mid-write (ENOSPC,
            # SIGKILL) leaves garbage that readers and the resume
            # verifier never see.  (A non-hidden '<final>.tmp-…' name
            # broke the 10M crawl-fetch resume: the truncated staging
            # file failed the whole output read.)  Stale tmps from dead
            # attempts are swept before this attempt writes its own —
            # but only ones older than an hour: a CONCURRENT attempt for
            # the same bucket (speculative or zombie task) may still be
            # writing its staging file, and unlinking it mid-write would
            # turn its os.replace into FileNotFoundError.  Younger tmps
            # are left alone; being dot-prefixed they are invisible to
            # readers and the resume verifier regardless.
            sweep_horizon = time.time() - 3600
            for stale in glob.glob(os.path.join(
                    bucket_dir, f".part-{salt_val:05d}.parquet.tmp-*")):
                try:
                    if os.path.getmtime(stale) < sweep_horizon:
                        os.remove(stale)
                except OSError:
                    pass
            tmp = os.path.join(
                bucket_dir,
                f".part-{salt_val:05d}.parquet.tmp-{uuid.uuid4().hex}")
            bucket = pa.Table.from_batches(
                [articles.take(pa.array(rows, pa.int64())) for articles, rows in pieces])
            pq.write_table(bucket.select(columns), tmp, compression=_output_codec())
            os.replace(tmp, final)  # atomic publish

    def sink_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import pyarrow.compute as pc

        started = datetime.now(timezone.utc).replace(tzinfo=None)
        bucket_stats: dict[int, list] = {}  # salt -> [rows_in, rows_out, errors, bytes_in]
        parts: dict[tuple, list] = {}  # (salt, hive dir) -> [(article batch, rows)]
        with _gc_paused():
            for batch, kept, articles in _extract_batches(batches, readerable_gate):
                # every input row counts in rows_in/bytes_in, gated-out
                # pages included
                salts = batch.column("salt").to_pylist()
                for salt, size in zip(salts, pc.binary_length(batch.column("html")).to_pylist()):
                    st = bucket_stats.setdefault(salt, [0, 0, 0, 0])
                    st[0] += 1
                    st[3] += size or 0
                dirs = _hive_dirs(articles, partition_by) if partition_by else [""] * len(kept)
                groups: dict[tuple, list] = {}  # (salt, hive dir) -> article rows
                for row, (i, error, rel) in enumerate(
                        zip(kept, articles.column("error").to_pylist(), dirs)):
                    bucket_stats[salts[i]][1 if error is None else 2] += 1
                    groups.setdefault((salts[i], rel), []).append(row)
                for key, rows in groups.items():
                    parts.setdefault(key, []).append((articles, rows))
                del batch  # not held while the next batch is extracted
        publish(parts)
        stats = pa.RecordBatch.from_pydict({
            "salt": list(bucket_stats),
            **{c: [counts[k] for counts in bucket_stats.values()]
               for k, c in enumerate(_BUCKET_COUNTS)}}, schema=_arrow_schema(SINK_STATS_SCHEMA))
        if checkpoint_dir and stats.num_rows:
            _write_checkpoint_rows(checkpoint_dir, stats, started)
        yield stats

    return sink_batches


def _extract_batches(batches, readerable_gate=False):
    """The per-row loop both mapInArrow functions share: yields, per input
    record batch (url, warc_ts, html, ...), that batch, the positions of
    the rows the gate kept, and their article batch in _ARTICLES_ARROW.
    warc_ts is the input column's kept rows, passed through unconverted."""
    _stat_checked_zip_importers()
    lo, hi = _PANDAS_TIMESTAMP_RANGE
    unswept = 0
    for batch in batches:
        if unswept >= _GC_EVERY_HTML_BYTES:
            # sweep the subtrees the pages read so far left detached
            gc.collect()
            unswept = 0
        data: dict[str, list] = {c: [] for c in _COLUMNS if c != "warc_ts"}
        kept = []
        htmls = batch.column("html")
        for i, url in enumerate(batch.column("url").to_pylist()):
            html = htmls[i].as_py()  # one page's bytes at a time
            unswept += len(html or b"")
            rec = extract_record(url, html, readerable_gate)
            if rec is None:
                continue
            for c, values in data.items():
                values.append(rec[c])
            kept.append(i)
        for c in ("published_time", "modified_time"):
            data[c] = [t if t is not None and lo <= t <= hi else None for t in data[c]]
        warc_ts = batch.column("warc_ts").take(pa.array(kept, pa.int64()))
        data["warc_ts"] = warc_ts.cast(_ARTICLES_ARROW.field("warc_ts").type)
        yield batch, kept, pa.RecordBatch.from_pydict(data, schema=_ARTICLES_ARROW)


def _is_remote_uri(path: str) -> bool:
    """True for scheme-qualified non-local paths (hdfs://, s3a://, ...).
    file:// and plain paths are local."""
    scheme = path.split("://", 1)[0] if "://" in path else ""
    return scheme not in ("", "file")


def check_layout_marker(output_dir: str, marker: str, layout: dict, cells: str,
                        record: bool = True) -> None:
    """Refuse writing into ``output_dir`` under another hash layout than
    the one its ``marker`` file records.

    Output is written per hash cell (``seg=i`` dirs, ``salt=<n>`` files),
    so rerunning with another cell count reassigns rows while the cells
    of the earlier count survive: the output would silently hold
    duplicate rows.  The first run with ``record`` stores ``layout`` in
    the underscore-prefixed marker (invisible to parquet discovery)
    before it writes a cell; every later run against the same output must
    match it.  An output that holds cells (entries matching the ``cells``
    glob under ``output_dir``) but no marker was written under an
    unknown layout and is refused too."""
    import json

    path = os.path.join(output_dir, marker)
    if os.path.exists(path):
        with open(path) as fh:
            prev = json.load(fh)
        if prev != layout:
            raise ValueError(
                f"output {output_dir} was written with {prev}; rerunning "
                f"with {layout} would reshuffle the hash assignment over "
                "the earlier run's files and duplicate rows — rerun with "
                f"{prev}, or remove the output and checkpoints to start over")
        return
    if glob.glob(os.path.join(glob.escape(output_dir), cells), recursive=True):
        raise ValueError(
            f"output {output_dir} holds {cells} entries but no {marker} "
            f"marker, so the layout they were written under is unknown; "
            f"rerunning with {layout} could reshuffle the hash assignment "
            "over them and duplicate rows — remove the output and "
            "checkpoints to start over")
    if record:
        os.makedirs(output_dir, exist_ok=True)
        tmp = path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(layout, fh)
        os.replace(tmp, path)


def run_extraction_job_atomic(
    pages: DataFrame,
    output_dir: str,
    checkpoint_dir: str | None = None,
    n_buckets: int = DEFAULT_N_BUCKETS,
    num_partitions: int | None = None,
    readerable_gate: bool = False,
    partition_by: tuple[str, ...] | None = None,
) -> int:
    """The resumable extraction writer: bucket data files publish
    atomically DURING the job, so a mid-job kill resumes at bucket
    granularity instead of redoing all uncommitted work. This is the
    shape an Iceberg sink gives for free; here the atomicity unit is one
    bucket file + rename, so both dirs must be on a local (or mounted)
    filesystem.

    `partition_by` (e.g. ("lang",)) hive-partitions the output by string
    article columns (make_sink_extractor).

    ``n_buckets`` is recorded in ``output_dir/_BUCKETS`` on the first run;
    a later run into the same output with another value, or into bucket
    files with no marker, raises ValueError (check_layout_marker), since
    the earlier salt's bucket files would stay beside the new ones.

    Returns the number of buckets processed this run (0 on a no-op
    resume)."""
    for path in (output_dir, checkpoint_dir):
        if path and _is_remote_uri(path):
            raise ValueError(
                f"run_extraction_job_atomic: {path!r} is a remote URI; the "
                "bucket sink publishes by local rename and cannot write or "
                "verify it. Write remote output through an Iceberg table, "
                "whose transactional commit gives the same resume.")
    partition_by = tuple(partition_by or ())
    for col in partition_by:
        if col not in _COLUMNS or ARTICLES_SCHEMA[col].dataType.simpleString() != "string":
            raise ValueError(f"partition_by column {col!r}: the bucket sink "
                             "partitions by string article columns only")
    check_layout_marker(output_dir, "_BUCKETS", {"n_buckets": n_buckets},
                        "**/salt=*")
    df = _salted_exchange(pages, n_buckets, num_partitions, checkpoint_dir, output_dir)
    os.makedirs(output_dir, exist_ok=True)
    stats = df.mapInArrow(
        make_sink_extractor(output_dir, checkpoint_dir, readerable_gate, partition_by),
        schema=SINK_STATS_SCHEMA,
    )
    return stats.count()


def run_extraction_job(
    pages: DataFrame,
    output_dir: str,
    checkpoint_dir: str | None = None,
    n_buckets: int = DEFAULT_N_BUCKETS,
    num_partitions: int | None = None,
    partition_by: tuple[str, ...] | None = None,
) -> int | None:
    """Batch job: extract and write a parquet articles table.

    With a `checkpoint_dir` the job is resumable and runs through the
    bucket sink (run_extraction_job_atomic), returning the number of
    buckets written this run; without one it appends ``extract_pages``
    through Spark's writer and returns None.

    `partition_by` (e.g. ("lang",)) hive-partitions the output — at 100 TB
    the downstream curation filters (language, crawl slice) then prune
    whole directories instead of scanning; resume verification reads the
    partitioned layout transparently."""
    if checkpoint_dir:
        return run_extraction_job_atomic(
            pages, output_dir, checkpoint_dir=checkpoint_dir, n_buckets=n_buckets,
            num_partitions=num_partitions, partition_by=partition_by)
    writer = extract_pages(pages, num_partitions=num_partitions).write.mode("append")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(output_dir)
    return None
