"""Scan-parallelism restoration for compute-heavy operators (r7).

The round-7 audit found that every driver-provided contract table is a
single-row-group parquet file: Spark cannot split inside a row group, so
the scan is ONE task and every compute-heavy projection above it
(shingling + 32-seed MinHash, SimHash bit math, the repetition-filter
regex gauntlet, interpreted array dot products) runs single-core while 31
cores idle — measured 30 s wall for `embedding_near_pairs` at sf0.1
whose total CPU is ~2 s of parallel work.

``ensure_scan_parallelism`` round-robin repartitions an input only when
its current partitioning offers less parallelism than the session
(min(shuffle.partitions, defaultParallelism)).  Properties:

* value-neutral: the row set is unchanged, and every contract query is
  hash-verified against a single-threaded DuckDB oracle, so no declared
  result can depend on partitioning;
* retry-safe: keyless repartition sorts before exchanging
  (spark.sql.execution.sortBeforeRepartition, on by default since
  SPARK-23207) and the guarded inputs are deterministic scans/plans;
* scale-neutral: real crawl-scale inputs arrive in thousands of
  row-group splits, so the guard is a no-op there — no extra shuffle is
  ever added to a table that already parallelizes (guide §2.4: do not
  add exchanges; §2.5: fix input skew/under-split at the source).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

# a physical-plan node that runs Spark jobs before the plan's own tasks can
# start: any exchange (shuffle, broadcast, reused), an AQE query stage, a
# subquery, or the AQE wrapper itself (present only when the plan has one
# of the others); matched on the node name that opens a tree-string line
_STAGED_NODE = re.compile(
    r"^[\s:|+-]*(?:\*\(\d+\) )?"
    r"(?:\w*(?:Exchange|QueryStage)|\w*Subquery\w*|AdaptiveSparkPlan)\b",
    re.MULTILINE)


def shuffle_partitions(spark) -> int:
    """The session's ``spark.sql.shuffle.partitions``."""
    return int(spark.conf.get("spark.sql.shuffle.partitions", "200"))


def session_parallelism(spark) -> int:
    """The session's task slots as the in-place decision and the scan
    guard below count them: min(shuffle.partitions, cores)."""
    return max(1, min(shuffle_partitions(spark), spark.sparkContext.defaultParallelism))


def fills_one_wave(splits: int, slots: int) -> bool:
    """True iff ``splits`` tasks run in one wave that keeps at least
    ``_MIN_SLOT_FILL`` of the ``slots`` busy: 4 of 4, 7 or 8 of 8."""
    return _MIN_SLOT_FILL * slots <= splits <= slots


# Measured on 4 cores: default extract_pages over S parquet files read
# one split per file, in place against the xxhash64(url) exchange (8
# Python tasks), interleaved, medians of 5-7 runs, on the short-page and
# the kernel-bound skew corpus.  One full wave (4 splits) took 0.84x and
# 0.86x the exchanged time.  More splits than slots did not pay: 0.90-1.23x
# at 5-8 splits (wins only at 5 and 6 on the skew corpus) and 1.05-1.23x
# at 9-16, since every Python task then carried a fixed cost of about
# 0.2 s of worker CPU (pyspark's per-task importlib.invalidate_caches()
# re-reading every zip archive on the worker's path) and these tasks are
# small.  The extraction functions now skip that re-read
# (extract._stat_checked_zip_importers), and the same sweep on short
# pages reads 0.84x at 4 splits and 0.91x at 8 (0.78x and 1.02x with the
# re-read); the rule is not re-priced yet.  One partial wave at fill f takes about 1/f of the full
# wave's time, so it beats an exchange costing 1.17-1.19x only while
# f >= 1/1.17, about 0.85; at 3 of 4 (0.75) the ratios straddled 1.
_MIN_SLOT_FILL = 0.85


def splits_fill_session(df: DataFrame) -> bool:
    """True iff `df` is a batch plan with no exchange of any kind whose
    input splits fill the session's ``session_parallelism`` slots in one
    wave (``fills_one_wave``): a per-row map over it then keeps the cores
    busy without an exchange.

    The split count is read off the physical plan already built for the
    check, and only once that plan is known to be exchange-free: there
    ``execute()`` just wraps the scan's file splits in an RDD and runs no
    job, while on a plan holding an exchange AQE would first run the
    shuffle (one job) and then answer with its coalesced partition count."""
    if df.isStreaming:
        return False
    plan = df._jdf.queryExecution().executedPlan()
    if _STAGED_NODE.search(plan.toString()):
        return False
    return fills_one_wave(plan.execute().getNumPartitions(),
                          session_parallelism(df.sparkSession))


def ensure_scan_parallelism(df: DataFrame) -> DataFrame:
    """Repartition `df` round-robin iff it currently has fewer partitions
    than the session could use (no-op for streaming frames and for
    already-parallel inputs)."""
    if df.isStreaming:
        return df
    target = session_parallelism(df.sparkSession)
    try:
        current = df.rdd.getNumPartitions()
    except Exception:
        return df
    if current >= target:
        return df
    return df.repartition(target)
