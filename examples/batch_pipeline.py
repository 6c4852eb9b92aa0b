#!/usr/bin/env python
"""Cluster-pipeline example: synthesize a skewed corpus, run the full
extraction as a resumable (checkpointed) job, then curate it for training
data."""

import sys
import tempfile

sys.path.insert(0, __file__.rsplit("/", 2)[0])

from go_readability_spark.plans import build_session, curate_corpus, run_extraction_job
from go_readability_spark.sources import synth_pages_distributed

spark = build_session(master="local[8]")
tmp = tempfile.mkdtemp(prefix="example_")

pages = synth_pages_distributed(spark, 500, seed=7, skew=True, num_partitions=8)

run_extraction_job(pages, f"{tmp}/articles", checkpoint_dir=f"{tmp}/ckpt",
                   n_buckets=64, num_partitions=8)
print("extracted:", spark.read.parquet(f"{tmp}/articles").count(), "->", f"{tmp}/articles")

curated = curate_corpus(pages, min_length=200, min_quality=0.2,
                        languages=("en",), num_partitions=8)
print("curated rows:", curated.count())
curated.show(5, truncate=60)
spark.stop()
