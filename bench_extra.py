#!/usr/bin/env python
"""Round-7 optimization instrumentation (bench.py is FROZEN — this file
carries the noop-sink isolation, phase splits and plan captures cited in
OPTIMIZATION_r07.md).

Usage:
  python bench_extra.py phases      # per-query noop-sink timings + phase splits
  python bench_extra.py plans DIR   # write explain("formatted") per query to DIR
  python bench_extra.py parts       # extraction partition-count sweep
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
REPEATS = int(os.environ.get("BENCH_EXTRA_REPEATS", "3"))


def _session():
    from go_readability_spark.plans import build_session

    return build_session(master=f"local[{CPUS}]", app_name="bench_extra",
                         **{"spark.sql.shuffle.partitions": str(max(8, int(CPUS)))})


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def _med(xs):
    s = sorted(xs)
    m = len(s) // 2
    return s[m] if len(s) % 2 else (s[m - 1] + s[m]) / 2


def _time(spark, label, mk, sink=noop, repeats=REPEATS):
    ts = []
    for _ in range(repeats):
        spark.sparkContext.setJobDescription(label)
        t0 = time.time()
        sink(mk())
        ts.append(round(time.time() - t0, 3))
    spark.sparkContext.setJobDescription(None)
    print(f"{label:45s} median={_med(ts):7.3f}  samples={ts}", flush=True)
    return _med(ts)


def bench_dfs(spark):
    from pyspark.sql import functions as F

    from go_readability_spark.functions import with_text_features
    from go_readability_spark.operators import brute_force_topk, minhash_dedup_pairs
    from go_readability_spark.plans import extract_pages
    from go_readability_spark.sources import (
        fixture_mix_pages,
        pages_from_documents,
        synth_pages_distributed,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    return {
        "extract_documents": lambda: extract_pages(
            pages_from_documents(spark, SF_DIR)),
        "extract_synth": lambda: extract_pages(
            synth_pages_distributed(spark, SYNTH_DOCS, seed=42, skew=True,
                                    num_partitions=int(CPUS))),
        "extract_fixture_mix": lambda: extract_pages(
            fixture_mix_pages(spark, FIXTURE_DOCS, seed=42,
                              num_partitions=int(CPUS))),
        "text_features": lambda: with_text_features(docs, "text"),
        "minhash_dedup": lambda: minhash_dedup_pairs(docs, threshold=0.5),
        "ann_topk": lambda: brute_force_topk(
            emb, emb.where(F.col("vec_id") < 20), k=10),
    }


def run_phases():
    from go_readability_spark.sources import (
        fixture_mix_pages,
        pages_from_documents,
        synth_pages_distributed,
    )

    spark = _session()
    try:
        dfs = bench_dfs(spark)
        # warm-up: fork python workers + JIT once, as bench.py's median discards
        noop(dfs["extract_synth"]())
        noop(dfs["text_features"]())

        print("== full queries, noop sink ==", flush=True)
        for name, mk in dfs.items():
            _time(spark, name, mk)
        print("== count sink (bench.py's methodology) ==", flush=True)
        for name, mk in dfs.items():
            _time(spark, f"{name} [count]", mk, sink=lambda d: d.count())
        print("== phase splits: source generation only ==", flush=True)
        _time(spark, "gen: pages_from_documents",
              lambda: pages_from_documents(spark, SF_DIR))
        _time(spark, "gen: synth_pages_distributed",
              lambda: synth_pages_distributed(spark, SYNTH_DOCS, seed=42,
                                              skew=True, num_partitions=int(CPUS)))
        _time(spark, "gen: fixture_mix_pages",
              lambda: fixture_mix_pages(spark, FIXTURE_DOCS, seed=42,
                                        num_partitions=int(CPUS)))
    finally:
        spark.stop()


def run_parts():
    """Extraction partition-count sweep over the fixture mix (the skewed,
    dominant query) and synth."""
    from go_readability_spark.plans import extract_pages
    from go_readability_spark.sources import fixture_mix_pages, synth_pages_distributed

    spark = _session()
    try:
        noop(extract_pages(synth_pages_distributed(
            spark, 200, seed=42, skew=True, num_partitions=int(CPUS))))
        for parts in (None, 64, 128, 256):
            _time(spark, f"fixture_mix parts={parts}",
                  lambda p=parts: extract_pages(
                      fixture_mix_pages(spark, FIXTURE_DOCS, seed=42,
                                        num_partitions=int(CPUS)),
                      num_partitions=p))
        for parts in (None, 64, 128, 256):
            _time(spark, f"synth parts={parts}",
                  lambda p=parts: extract_pages(
                      synth_pages_distributed(spark, SYNTH_DOCS, seed=42, skew=True,
                                              num_partitions=int(CPUS)),
                      num_partitions=p))
    finally:
        spark.stop()


def run_ops():
    """Sub-phase isolation for the two non-extraction heavy queries."""
    from pyspark.sql import functions as F

    from go_readability_spark.operators import brute_force_topk, minhash_dedup_pairs
    from go_readability_spark.operators.dedup import (
        _minhash_fn_xxhash64,
        minhash_lsh_candidates,
        minhash_signatures,
        shingle_table,
    )
    from go_readability_spark.operators.similarity import with_unit_vectors

    spark = _session()
    try:
        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        # warm-up
        noop(brute_force_topk(emb, emb.where(F.col("vec_id") < 20), k=10))
        noop(minhash_dedup_pairs(docs, threshold=0.5))
        spark.catalog.clearCache()

        _time(spark, "ann: full brute_force_topk",
              lambda: brute_force_topk(emb, emb.where(F.col("vec_id") < 20), k=10))
        _time(spark, "ann: unit vectors only",
              lambda: with_unit_vectors(emb).select("vec_id", "unit_vec"))
        def _scored():
            base = with_unit_vectors(emb).select(
                F.col("vec_id").alias("neighbor_id"), "unit_vec")
            qs = with_unit_vectors(emb.where(F.col("vec_id") < 20)).select(
                F.col("vec_id").alias("query_id"),
                F.col("unit_vec").alias("query_vec"))
            return base.join(
                F.broadcast(qs), F.col("neighbor_id") != F.col("query_id")
            ).withColumn("score", F.aggregate(
                F.zip_with("unit_vec", "query_vec", lambda x, y: x * y),
                F.lit(0.0), lambda acc, v: acc + v))
        _time(spark, "ann: scored join, no window/guard", _scored)
        _time(spark, "mh: shingle_table only",
              lambda: shingle_table(docs))

        def _sigs():
            spark.catalog.clearCache()
            return minhash_signatures(docs)
        _time(spark, "mh: signatures (incl shingle)", _sigs)

        def _cands():
            spark.catalog.clearCache()
            return minhash_lsh_candidates(minhash_signatures(docs), 8, 4,
                                          lambda s, b: F.xxhash64(F.lit(b), s))
        _time(spark, "mh: candidates (incl sigs)", _cands)

        def _full():
            spark.catalog.clearCache()
            return minhash_dedup_pairs(docs, threshold=0.5)
        _time(spark, "mh: full (cache cleared per run)", _full)
        _time(spark, "floor: spark.range(1000).count",
              lambda: spark.range(1000), sink=lambda d: d.count())
    finally:
        spark.stop()


def run_audit():
    """Time EVERY declared contract query once (noop sink) and summarize
    its physical-plan shape — the r7 operator checklist evidence."""
    import re as _re

    import __spark_entry__ as e

    spark = _session()
    sf = SF_DIR
    qs = e.queries()
    print(f"# {len(qs)} declared queries at {sf}")
    rows = []
    for name, fn in qs.items():
        try:
            df = fn(spark, sf)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
            shape = {
                "exch": len(_re.findall(r"\bExchange\b", plan)),
                "bhj": plan.count("BroadcastHashJoin"),
                "smj": plan.count("SortMergeJoin"),
                "bnlj": plan.count("BroadcastNestedLoopJoin"),
                "py": plan.count("BatchEvalPython") + plan.count("ArrowEvalPython")
                      + plan.count("MapInPandas") + plan.count("PythonMapInArrow")
                      + plan.count("MapInArrow"),
            }
            spark.sparkContext.setJobDescription(f"audit:{name}")
            t0 = time.time()
            noop(df)
            dt = time.time() - t0
            rows.append((name, round(dt, 2), shape))
            print(f"{name:28s} {dt:7.2f}s  exch={shape['exch']} bhj={shape['bhj']} "
                  f"smj={shape['smj']} bnlj={shape['bnlj']} py={shape['py']}",
                  flush=True)
        except Exception as ex:
            print(f"{name:28s} FAILED: {str(ex)[:120]}", flush=True)
    spark.sparkContext.setJobDescription(None)
    total = sum(r[1] for r in rows)
    print(f"# total {total:.1f}s over {len(rows)} queries")
    spark.stop()


def run_plans(out_dir):
    os.makedirs(out_dir, exist_ok=True)
    spark = _session()
    try:
        for name, mk in bench_dfs(spark).items():
            path = os.path.join(out_dir, f"{name}.txt")
            df = mk()
            with open(path, "w") as fh:
                fh.write(df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"))
            print("wrote", path)
    finally:
        spark.stop()


if __name__ == "__main__":
    cmd = sys.argv[1] if len(sys.argv) > 1 else "phases"
    if cmd == "phases":
        run_phases()
    elif cmd == "parts":
        run_parts()
    elif cmd == "ops":
        run_ops()
    elif cmd == "audit":
        run_audit()
    elif cmd == "plans":
        run_plans(sys.argv[2] if len(sys.argv) > 2 else "plans/r07/before")
    else:
        raise SystemExit(f"unknown command {cmd}")
