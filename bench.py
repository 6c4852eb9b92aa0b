#!/usr/bin/env python
"""Benchmark harness (driver contract): runs the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
  {"metric": ..., "value": total_sec, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ..., "docs_per_sec": ...}
A leaf whose input is absent on this host reports null in "queries" and
its reason in "skipped"; the total sums the leaves that ran.

Usage:
  python bench.py                # full headline suite
  python bench.py --scaling      # extraction at local[8] vs local[32]
                                 # (north-rule scaling-efficiency evidence)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
SYNTH_DOCS = int(os.environ.get("BENCH_SYNTH_DOCS", "3000"))
FIXTURE_DOCS = int(os.environ.get("BENCH_FIXTURE_DOCS", "1000"))


def _session(cpus):
    from go_readability_spark.plans import build_session

    # build_session already zips + addPyFile's the package (ship_package),
    # so executors can import it regardless of CWD — no second artifact
    spark = build_session(master=f"local[{cpus}]", app_name="bench",
                          **{"spark.sql.shuffle.partitions": str(max(8, int(cpus)))})
    return spark


def _count(df):
    return df.count()


class LeafSkipped(Exception):
    """A bench leaf whose input is absent: reported with its reason,
    never timed."""


def bench_queries(spark):
    from pyspark.sql import functions as F

    from go_readability_spark.functions import with_text_features
    from go_readability_spark.operators import (
        brute_force_topk,
        minhash_dedup_pairs,
    )
    from go_readability_spark.plans import extract_pages
    from go_readability_spark.sources import pages_from_documents, synth_pages_distributed

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")

    def q_extract_documents():
        pages = pages_from_documents(spark, SF_DIR)
        return _count(extract_pages(pages))

    def q_extract_synth():
        pages = synth_pages_distributed(spark, SYNTH_DOCS, seed=42, skew=True,
                                        num_partitions=int(CPUS))
        return _count(extract_pages(pages))

    def q_extract_fixture_mix():
        # real-world HTML structures: the reference's own 118 pages expanded
        from go_readability_spark.sources import fixture_mix_pages

        try:
            pages = fixture_mix_pages(spark, FIXTURE_DOCS, seed=42,
                                      num_partitions=int(CPUS))
        except FileNotFoundError as exc:
            raise LeafSkipped(str(exc)) from exc
        return _count(extract_pages(pages))

    def q_text_features():
        return _count(with_text_features(docs, "text"))

    def q_minhash_dedup():
        return _count(minhash_dedup_pairs(docs, threshold=0.5))

    def q_ann_topk():
        queries = emb.where(F.col("vec_id") < 20)
        return _count(brute_force_topk(emb, queries, k=10))

    return {
        "extract_documents": (q_extract_documents, None),
        "extract_synth": (q_extract_synth, SYNTH_DOCS),
        "extract_fixture_mix": (q_extract_fixture_mix, FIXTURE_DOCS),
        "text_features": (q_text_features, None),
        "minhash_dedup": (q_minhash_dedup, None),
        "ann_topk": (q_ann_topk, None),
    }


def run_suite():
    """Per-query MEDIANS over $BENCH_REPEATS runs (default 5) in one
    session — the r2 verdict flagged that single-shot numbers on this
    shared host swing +-50%; medians + IQR separate host noise from real
    regressions. All repeats recompute from the source parquet: each one
    starts by clearing the session's cache, so a relation an operator
    persisted in an earlier repeat (minhash_dedup_pairs' shingles and
    signatures) is not a cache hit; repeat 1 additionally pays
    Python-worker fork+import, which the median naturally discards and
    the IQR leaves out."""
    repeats = max(1, int(os.environ.get("BENCH_REPEATS", "5")))
    spark = _session(CPUS)
    try:
        samples: dict[str, list] = {}
        skipped: dict[str, str] = {}
        doc_counts = {}
        for i in range(repeats):
            spark.catalog.clearCache()
            for name, (fn, n_docs) in bench_queries(spark).items():
                times = samples.setdefault(name, [])
                t0 = time.time()
                try:
                    n = fn()
                except LeafSkipped as exc:
                    skipped[name] = str(exc)
                    continue
                times.append(time.time() - t0)
                doc_counts[name] = n_docs or n

        def _median(xs):
            s = sorted(xs)
            m = len(s) // 2
            return s[m] if len(s) % 2 else (s[m - 1] + s[m]) / 2

        # a skipped leaf has no samples: null, never 0 s
        timings = {k: round(_median(v), 3) if v else None for k, v in samples.items()}
        def _iqr(xs):
            # over repeats 2..n: repeat 1's worker forks and first imports
            # are not run-to-run spread (with 3 repeats it would be max - min)
            s = sorted(xs[1:] or xs)
            return s[(3 * len(s)) // 4] - s[len(s) // 4]

        iqr = {k: round(_iqr(v), 3) if v else None for k, v in samples.items()}
        total = round(sum(t for t in timings.values() if t is not None), 3)
        extract_rate = round(doc_counts["extract_synth"] / timings["extract_synth"], 2)
        print(json.dumps({
            "metric": "readability extraction + corpus-ops wall time "
                      f"(median of {repeats})",
            "value": total,
            "unit": "sec",
            "queries": timings,
            "iqr": iqr,
            "skipped": skipped,
            "repeats": repeats,
            "sf": SF_DIR.rstrip("/").split("sf")[-1],
            "docs_per_sec": extract_rate,
            "cpus": int(CPUS),
        }))
    finally:
        spark.stop()


def run_scaling():
    """North-rule scaling evidence: the identical extraction job over the
    identical materialized input table at two parallelism levels (local[8]
    vs local[32] stands in for N vs 4N executors in this sandbox).

    Methodology: the corpus is written to parquet once and read by both
    runs; each level runs a small warm-up extraction first so Python-worker
    fork + module import (a fixed per-executor cost that a long-running
    cluster amortizes to zero) is excluded from the measured window.

    The parallelism pair defaults to N=2 vs 4N=8 because this sandbox host
    does not provide linear CPU beyond ~8 runnable processes: a pure
    arithmetic spin control (reported as cpu_control) measures the
    machine's own aggregate-CPU scaling at the same pair, so the job's
    efficiency can be read against actual hardware headroom."""
    import shutil
    import tempfile

    from go_readability_spark.plans import extract_pages
    from go_readability_spark.sources import synth_pages_distributed

    n_low = int(os.environ.get("BENCH_SCALE_N", "2"))
    n_high = 4 * n_low
    n_docs = int(os.environ.get("BENCH_SCALING_DOCS", "8000"))
    corpus_dir = tempfile.mkdtemp(prefix="bench_corpus_")
    try:
        spark = _session(CPUS)
        try:
            synth_pages_distributed(
                spark, n_docs, seed=42, skew=True, num_partitions=128
            ).write.mode("overwrite").parquet(corpus_dir)
        finally:
            spark.stop()

        results = {}
        for cpus in (n_low, n_high):
            spark = _session(cpus)
            try:
                pages = spark.read.parquet(corpus_dir)
                warm = pages.limit(int(cpus) * 4)
                extract_pages(warm, num_partitions=int(cpus)).count()
                t0 = time.time()
                n = extract_pages(pages, num_partitions=128).count()
                dt = time.time() - t0
                results[cpus] = {"sec": round(dt, 2), "docs_per_sec": round(n / dt, 2)}
            finally:
                spark.stop()
    finally:
        shutil.rmtree(corpus_dir, ignore_errors=True)

    speedup = results[n_high]["docs_per_sec"] / results[n_low]["docs_per_sec"]
    efficiency = speedup / 4.0
    control = _cpu_control(n_low, n_high)
    print(json.dumps({
        "metric": f"extraction scaling efficiency local[{n_low}] -> local[{n_high}]",
        "value": round(efficiency, 3),
        "unit": "efficiency",
        "n_docs": n_docs,
        f"local{n_low}": results[n_low],
        f"local{n_high}": results[n_high],
        "speedup": round(speedup, 2),
        "cpu_control": control,
    }))


def _spin(seconds):
    t0 = time.time()
    x = 0
    while time.time() - t0 < seconds:
        x += 1
    return x


def _cpu_control(n_low, n_high, seconds=1.5):
    """Machine-headroom control: aggregate pure-Python spin throughput at
    both process counts. If the host itself can't scale arithmetic 4x,
    no job on it can."""
    import multiprocessing as mp

    out = {}
    for n in (n_low, n_high):
        with mp.Pool(n) as p:
            out[n] = sum(p.map(_spin, [seconds] * n))
    ratio = out[n_high] / out[n_low]
    return {"aggregate_speedup": round(ratio, 2), "efficiency": round(ratio / 4.0, 3)}


if __name__ == "__main__":
    if "--scaling" in sys.argv:
        run_scaling()
    else:
        run_suite()
