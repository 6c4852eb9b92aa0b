#!/usr/bin/env python
"""Dump .explain('formatted') for the engine's key plans into EXPLAIN.md —
the plan-shape evidence (pruning, pushdown, broadcast, at most one exchange)
that tests/test_plan_quality.py asserts programmatically."""

import contextlib
import io
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from go_readability_spark.operators import brute_force_topk, minhash_dedup_pairs
from go_readability_spark.plans import (
    build_session,
    extract_pages,
    run_extraction_job,
    session_parallelism,
)
from go_readability_spark.plans.extract import _salted_exchange
from go_readability_spark.sources import synth_pages_distributed

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def formatted(df):
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main():
    spark = build_session(master="local[4]")
    out = ["# EXPLAIN — physical plans of the key pipelines\n"]
    with tempfile.TemporaryDirectory() as tmp:
        pages_path = f"{tmp}/pages"
        synth_pages_distributed(spark, 32, seed=2, skew=False, num_partitions=2)\
            .write.parquet(pages_path)
        pages = spark.read.parquet(pages_path)

        ckpt, articles = f"{tmp}/ckpt", f"{tmp}/articles"
        run_extraction_job(pages, articles, checkpoint_dir=ckpt, n_buckets=16,
                           num_partitions=2)

        out.append("## extract_pages with num_partitions (scan → xxhash64(url) "
                   "exchange → mapInArrow)\n```")
        out.append(formatted(extract_pages(pages, num_partitions=2)))
        out.append("```\n")

        # one file per core: the default plan extracts over the scan in place
        split_path = f"{tmp}/pages_split"
        synth_pages_distributed(spark, 32, seed=2, skew=False,
                                num_partitions=session_parallelism(spark))\
            .write.parquet(split_path)
        out.append("## extract_pages over a scan with one split per core "
                   "(scan → mapInArrow, no exchange)\n```")
        out.append(formatted(extract_pages(spark.read.parquet(split_path))))
        out.append("```\n")

        out.append("## resumable sink prelude on resume (broadcast left_anti → "
                   "salt exchange)\n```")
        out.append(formatted(_salted_exchange(pages, 16, 2, ckpt, articles)))
        out.append("```\n")

        out.append("## filter pushdown into the pages scan\n```")
        out.append(formatted(pages.where(F.col("url").startswith("https://site1"))
                             .select("url", "html")))
        out.append("```\n")

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        out.append("## minhash_dedup_pairs (signatures → LSH bands → per-pair verify)\n```")
        out.append(formatted(minhash_dedup_pairs(docs.limit(50))))
        out.append("```\n")

        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        out.append("## brute_force_topk (broadcast queries → dot → rank)\n```")
        out.append(formatted(brute_force_topk(emb, emb.where(F.col("vec_id") < 2), k=3)))
        out.append("```\n")

        from go_readability_spark.operators import semantic_dedup
        from go_readability_spark.operators.ann_oracle import load_pinned_ivf_index

        cents = load_pinned_ivf_index()["centroids"]
        out.append("## semantic_dedup (assign clusters → within-cluster "
                   "prune → keep flag)\n```")
        out.append(formatted(semantic_dedup(emb, cents, threshold=0.35)))
        out.append("```\n")

        # crawl-discovery suite (rounds 4-5)
        from go_readability_spark.functions import with_mojibake_repaired
        from go_readability_spark.operators import (
            anchor_text_stats,
            crawl_delays,
            frontier_schedule,
            robots_rules,
            robots_verdicts,
        )
        from go_readability_spark.sources import (
            cdx_fetch_plan,
            pages_from_fetch_plan,
            parse_cdxj,
            robots_for_hosts,
        )

        out.append("# Crawl-discovery suite (rounds 4-5)\n")
        robots = robots_for_hosts(spark)
        rules = robots_rules(robots)
        out.append("## robots_verdicts (robots_gate)\n```")
        out.append(formatted(robots_verdicts(pages.select("url"), rules)))
        out.append("```\n")

        lines = spark.createDataFrame(
            [('org,example)/a 20240101000000 {"url": "https://example.org/a", '
              '"mime": "text/html", "status": "200", "digest": "d", '
              '"length": "10", "offset": "0", "filename": "f.warc.gz"}',)],
            "line string")
        plan_df = cdx_fetch_plan(parse_cdxj(lines))
        out.append("## cdx_fetch_plan (parse -> filter -> newest-good window)\n```")
        out.append(formatted(plan_df))
        out.append("```\n")

        out.append("## anchor_stats (extract -> resolve -> bounded two-phase "
                   "text top-k + count agg)\n```")
        out.append(formatted(anchor_text_stats(pages)))
        out.append("```\n")

        out.append("## frontier_schedule (two-phase block rank per "
                   "(host, md5-block) — no per-host single-task window)\n```")
        out.append(formatted(frontier_schedule(
            pages.select("url"), crawl_delays(robots))))
        out.append("```\n")

        out.append("## ranged fetch (crawl-plan worklist -> repartition by "
                   "archive -> monotone offset sweep in mapInPandas)\n```")
        out.append(formatted(pages_from_fetch_plan(plan_df, "/tmp")))
        out.append("```\n")

        out.append("## mojibake_repair (pure codegen, no exchange)\n```")
        out.append(formatted(with_mojibake_repaired(
            pages.select("url", F.col("html").cast("string").alias("text")))))
        out.append("```\n")

        from go_readability_spark.operators.bloom import (
            bloom_build_sharded,
            bloom_maybe_seen_sharded,
        )

        seen = pages.select("url")
        filt = bloom_build_sharded(seen, n_shards=7, bits_per_shard=12289,
                                   k=3)
        out.append("## sharded Bloom membership (probe explode -> "
                   "(shard, word) equi-join vs the filter relation -> "
                   "per-key AND -> left join back)\n```")
        out.append(formatted(bloom_maybe_seen_sharded(
            pages.select("url"), filt, n_shards=7, bits_per_shard=12289,
            k=3)))
        out.append("```\n")

    open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                      "EXPLAIN.md"), "w").write("\n".join(out))
    spark.stop()
    print("wrote EXPLAIN.md")


if __name__ == "__main__":
    main()
