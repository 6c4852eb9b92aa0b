"""DSIR: Data Selection with Importance Resampling (Xie et al. 2023,
public method — arXiv:2302.03169).

Given a RAW crawl corpus and a small TARGET corpus that exemplifies the
distribution you want (e.g. curated books/wiki), estimate per-document
importance weights

    w(doc) = sum over the doc's hashed n-gram features b of
             ln( p_target(b) / p_raw(b) )

with both feature distributions estimated over a fixed number of hash
buckets (the paper's hashed n-gram parameterization — bucket counts,
not vocabularies, so the estimator's size is INDEPENDENT of corpus
size).  A caller resamples the raw corpus toward the target by a top-k
over these weights.

Scale shape (sf0.01 plan = 100 TB plan):
- features are unigram+bigram buckets via the repo's portable 32-bit
  md5 hash (functions/text.py md5_prefix_long) — narrow map + explode;
- the two distribution estimates are groupBy(bucket) counts with
  map-side partial aggregation — bounded at n_buckets rows each no
  matter the corpus size, so the joined log-ratio table BROADCASTS;
- per-doc weights: explode features -> broadcast-join the ratio table
  -> groupBy(doc) sum.  ONE real shuffle (the per-doc agg); the raw
  corpus is never joined against itself.

Exactness: per-bucket log-ratios are quantized to integer micro-nats
(round(ln(r)*1e6) BIGINT) BEFORE summing, so sums are order-independent
and the DuckDB oracle matches bit-for-bit (same discipline as
operators/lm_score.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.text import md5_prefix_long

MICRO = 1_000_000


def _doc_features(docs: DataFrame, id_col: str, text_col: str,
                  n_buckets: int) -> DataFrame:
    """(id, bucket) — one row per unigram and bigram occurrence, hashed
    into n_buckets with the repo's portable md5 hash.  Tokenization
    matches lm_score (lowercased whitespace split)."""
    toks = F.filter(
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+"), lambda t: t != ""
    )
    # unigrams ++ bigrams in one generator expression (no persist needed:
    # explode evaluates it once per row). The size guard matters:
    # sequence(0, -1) would generate a DESCENDING [0, -1], not [].
    bigrams = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - 2),
            lambda i: F.concat_ws(" ", F.element_at(toks, i + 1),
                                  F.element_at(toks, i + 2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    grams = F.concat(toks, bigrams)
    return docs.select(
        F.col(id_col).alias("id"), F.explode(grams).alias("gram")
    ).select(
        "id", (md5_prefix_long(F.col("gram")) % n_buckets).alias("bucket")
    )


def _bucket_dist(feats: DataFrame, n_buckets: int, alpha: float):
    """(bucket, p) with add-alpha smoothing over the full bucket space.
    Total count is a 1-row cross join (broadcast, never a shuffle)."""
    counts = feats.groupBy("bucket").agg(F.count("*").alias("c"))
    # r7: total derived from the aggregated counts, NOT a second scan of
    # `feats` — the unigram+bigram explode pipeline is the expensive part
    # and was evaluated twice per distribution. sum(c) == count(*) by
    # construction; coalesce keeps the empty-corpus case at 0 exactly
    # like count(*).
    total = counts.agg(F.coalesce(F.sum("c"), F.lit(0)).alias("n"))
    # materialize every bucket id so unseen buckets get the smoothed floor
    spark = feats.sparkSession
    all_b = spark.range(n_buckets).select(F.col("id").alias("bucket"))
    return (
        all_b.join(counts, "bucket", "left")
        .crossJoin(F.broadcast(total))
        .select(
            "bucket",
            ((F.coalesce(F.col("c"), F.lit(0)) + F.lit(alpha))
             / (F.col("n") + F.lit(alpha * n_buckets))).alias("p"),
        )
    )


def dsir_weights(raw: DataFrame, target: DataFrame,
                 id_col: str = "doc_id", text_col: str = "text",
                 n_buckets: int = 10_000, alpha: float = 1.0) -> DataFrame:
    """(doc_id, n_feats, w_micro) — per-document DSIR importance weight
    in integer micro-nats over the raw corpus.  n_feats counts the
    doc's hashed features (unigrams + bigrams); docs with no tokens are
    absent (no features, no weight — callers keep or drop them
    explicitly)."""
    raw_f = _doc_features(raw, id_col, text_col, n_buckets)
    tgt_f = _doc_features(target, id_col, text_col, n_buckets)
    ratio = (
        _bucket_dist(tgt_f, n_buckets, alpha)
        .withColumnRenamed("p", "p_t")
        .join(_bucket_dist(raw_f, n_buckets, alpha)
              .withColumnRenamed("p", "p_r"), "bucket")
        .select(
            "bucket",
            F.round(F.log(F.col("p_t") / F.col("p_r")) * MICRO)
            .cast("long").alias("lr_micro"),
        )
    )
    return (
        raw_f.join(F.broadcast(ratio), "bucket")
        .groupBy(F.col("id").alias(id_col))
        .agg(
            F.count("*").alias("n_feats"),
            F.sum("lr_micro").alias("w_micro"),
        )
    )
