"""Crawl-fetch orchestration: execute a byte-range fetch worklist against
WARC archives, optionally gated + extracted, optionally split into
archive-aligned segments so each sub-job's shuffle footprint is bounded.

Why segmentation exists (the 100-TB argument): the fetch+extract job's one
shuffle repartitions every fetched page (by url hash; by salt bucket only
in the resumable sink), so its scratch footprint is proportional to the
WHOLE worklist. On a cluster whose aggregate shuffle scratch is smaller
than the corpus — always true at 10^12 documents — the job must be run as
K sequential sub-jobs over disjoint slices of the plan, each with its own
checkpoint and output partition, so no single shuffle ever exceeds ~1/K of
the corpus. This module makes that the product
surface instead of an operator's bash loop: the 10M-page record in
BENCH/BASELINE.md round 6 first hit ENOSPC as one monolithic job and
completed cleanly as 4 segments.

Segment assignment is ARCHIVE-aligned — ``pmod(xxhash64(filename), K)`` —
not url-hashed, for two reasons:

* ``pages_from_fetch_plan`` opens each archive once per task and sweeps
  its planned members in monotone offset order; url-hashing the split
  would make every segment touch every archive, K× the opens and seeks.
* The plan parquet is naturally clustered by filename, so the per-segment
  plan filter prunes cheaply and deterministically.

Resume composes per segment: each segment owns ``checkpoint_dir/seg=i``
and ``output_dir/seg=i``, so a kill anywhere restarts the loop, completed
segments no-op via their own checkpoints, and the interrupted segment
resumes at bucket granularity.  The ``seg=i`` output layout is plain Hive
partitioning — ``spark.read.parquet(output_dir)`` reunites the corpus with
a ``seg`` lineage column.

Reference loop parity: cmd/go-readability/main.go:38-177 processes one
document per invocation; the crawl loop (plan -> fetch -> extract) is the
Spark-scale composition of that surface.
"""

from __future__ import annotations

import gc
import os
import sys

from pyspark.sql import DataFrame, functions as F


def segment_plan(plan: DataFrame, n_segments: int,
                 archive_col: str = "filename") -> list[tuple[int, DataFrame]]:
    """Split a fetch plan into ``n_segments`` archive-aligned slices.

    Every row of one archive lands in exactly one segment (the hash is on
    the archive filename, not the url), so per-task archive locality in
    the byte-range reader survives the split. Deterministic: the same plan
    always yields the same segmentation, which is what makes per-segment
    resume sound.
    """
    if n_segments <= 1:
        return [(0, plan)]
    seg = F.pmod(F.xxhash64(F.col(archive_col)), F.lit(n_segments))
    return [(i, plan.where(seg == i)) for i in range(n_segments)]


def segment_input_files(input_dir: str, n_segments: int,
                        suffixes: tuple[str, ...]) -> list[list[str]]:
    """File-aligned segmentation for directory inputs (extract --segments).

    The batch extraction job has the same unbounded-shuffle exposure as
    crawl-fetch: its one repartition moves the WHOLE input. Splitting by
    a row-level hash would not help — every segment would still scan every
    input file. Splitting by FILE prunes perfectly: each segment reads
    only its own files, so both scan and shuffle are ~1/K.

    Assignment is per-file — ``md5(relative_path) mod K`` — not
    list-positional, so a file's segment never depends on what else is in
    the listing: re-running after new files landed in the input dir
    leaves every already-checkpointed file in the segment whose
    checkpoint covers it. Empty groups are possible (and fine) for tiny
    inputs. Local filesystems only: on a cluster the file manifest comes
    from the table format (Iceberg snapshot manifests give this split for
    free); scheme-qualified URIs are rejected rather than mis-listed.
    """
    import glob as _glob
    import hashlib

    if "://" in input_dir and not input_dir.startswith("file://"):
        raise ValueError(
            "segment_input_files enumerates local paths only; for remote "
            "inputs derive per-segment manifests from the table format "
            "(e.g. Iceberg snapshot manifests)")
    root = input_dir[len("file://"):] if input_dir.startswith("file://") \
        else input_dir
    groups: list[list[str]] = [[] for _ in range(n_segments)]
    names = sorted(
        p for p in _glob.glob(os.path.join(root, "**"), recursive=True)
        if os.path.isfile(p) and p.endswith(suffixes)
        and not os.path.basename(p).startswith((".", "_"))
        and os.sep + "_temporary" + os.sep not in p
    )
    if not names and os.path.isfile(root) and root.endswith(suffixes):
        names = [root]
    for p in names:
        rel = os.path.relpath(p, root)
        h = int.from_bytes(
            hashlib.md5(rel.encode("utf-8")).digest()[:8], "big")
        groups[h % n_segments].append(p)
    return groups


def check_segment_marker(output_dir: str, n_segments: int,
                         kind: str) -> None:
    """Refuse resuming a segmented output with a different K.

    pmod-hash assignment reshuffles every archive/file across segments
    when K changes, while stale seg=i dirs from the previous K survive
    (writes are per-segment). The first segmented run records (K, kind)
    in ``_SEGMENTS`` (check_layout_marker); any later run against the
    same output must match, including a K=1 rerun into a previously
    segmented dir, and seg=i dirs without the marker are refused."""
    from .extract import check_layout_marker

    check_layout_marker(output_dir, "_SEGMENTS",
                        {"n_segments": n_segments, "kind": kind}, "seg=*",
                        record=n_segments > 1)


def _release_job_state(spark) -> None:
    """Nudge shuffle-file cleanup between sequential sub-jobs.

    Spark frees a job's shuffle files when the ContextCleaner sees the
    shuffle dependency get garbage-collected; across K back-to-back
    segments in one JVM that can lag a full segment behind, holding ~2x
    the intended scratch bound. Dropping the Python refs and forcing a GC
    on both sides makes the bound deterministic. On a real cluster each
    segment is typically its own spark-submit and this is moot.
    """
    gc.collect()
    try:
        spark.sparkContext._jvm.System.gc()
    except Exception:
        pass  # connect-mode sessions have no _jvm; cleaner still runs lazily


def run_crawl_fetch(
    spark,
    plan: DataFrame,
    warc_dir: str,
    output_dir: str,
    *,
    extract: bool = False,
    readerable_gate: bool = False,
    checkpoint_dir: str | None = None,
    n_buckets: int = 64,
    record_seen_bloom: str | None = None,
    n_segments: int = 1,
) -> int:
    """Execute a crawl-plan worklist; returns total output rows.

    With ``extract`` and a ``checkpoint_dir`` the extraction runs through
    the resumable bucket sink (run_extraction_job_atomic), so a rerun
    skips the buckets already written; ``n_buckets`` is that sink's salt
    and applies only there. Without a checkpoint each run overwrites the
    output through ``extract_pages``.

    With ``n_segments > 1`` the plan is split archive-aligned and the
    segments run as sequential Spark jobs, each writing
    ``output_dir/seg=i`` (and checkpointing under
    ``checkpoint_dir/seg=i``), so peak shuffle scratch is ~1/K of the
    corpus. Seen-URL recording happens per segment as it completes: a
    kill between segments preserves the finished segments' seen-set, and
    re-recording an already-recorded segment is a Bloom OR no-op.
    """
    from ..sources.warc import pages_from_fetch_plan

    segments = segment_plan(plan, n_segments)
    multi = len(segments) > 1
    check_segment_marker(output_dir, n_segments, "archive-hash")
    for i, seg_plan in segments:
        seg_out = os.path.join(output_dir, f"seg={i}") if multi else output_dir
        seg_ckpt = (os.path.join(checkpoint_dir, f"seg={i}")
                    if (multi and checkpoint_dir) else checkpoint_dir)
        pages = pages_from_fetch_plan(seg_plan, warc_dir)
        # the readerable gate (cheap Check: most real-crawl pages fail it)
        # runs inside the extraction stage, on the parse it needs anyway
        if extract and checkpoint_dir:
            # the resumable leg: bucket-granular atomic publishes, so a
            # killed fetch+extract restarts from the checkpoint table
            from .extract import run_extraction_job_atomic

            n = run_extraction_job_atomic(
                pages,
                output_dir=seg_out,
                checkpoint_dir=seg_ckpt,
                n_buckets=n_buckets,
                readerable_gate=readerable_gate,
            )
            tag = f" (seg {i}/{len(segments)})" if multi else ""
            print(f"atomic sink: {n} buckets written this run{tag}",
                  file=sys.stderr)
        elif extract:
            from .extract import extract_pages

            extract_pages(pages, readerable_gate=readerable_gate).write.mode(
                "overwrite").parquet(seg_out)
        else:
            if readerable_gate:
                # fetch-only: no extraction stage to fold the gate into
                from ..functions.extraction_udfs import readerable

                pages = pages.where(readerable(F.col("html")))
            pages.write.mode("overwrite").parquet(seg_out)
        if record_seen_bloom:
            # record the PLAN's urls — everything this run ATTEMPTED —
            # not the output's: with --readerable-gate the output lacks
            # the gated-out pages (fetched, deliberately rejected — they
            # must not be refetched next segment), and byte-level fetch
            # failures are permanent in the WARC-archive model, so
            # "attempted" is the correct seen-set
            from ..operators.bloom import bloom_store_record

            attempted = seg_plan.select("url").distinct()
            meta = bloom_store_record(spark, record_seen_bloom, attempted)
            print(f"seen-bloom: recorded {attempted.count()} urls "
                  f"({meta['n_shards']} shards) -> {record_seen_bloom}",
                  file=sys.stderr)
        if multi:
            _release_job_state(spark)
    return spark.read.parquet(output_dir).count()
