"""Benchmark decontamination: flag training documents that overlap an
evaluation set (the GPT-3 appendix-C style rule — any shared word n-gram,
classically n=13, marks the document contaminated; public methodology from
Brown et al. 2020 and its successors).

Plan shape for 10^12 training docs vs a ~10^4-doc benchmark: the benchmark
side's distinct n-grams are SMALL (millions) — broadcast them and
semi-join the exploded training n-grams, so the big side never shuffles:

  train → shingles (staged, persisted) → explode → broadcast-semi-join
        → distinct doc ids (drop them with a broadcast left-anti join)

Reuses the dedup shingle machinery (same short-doc guards)."""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .dedup import shingle_table


def contaminated_doc_ids(
    train: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str | None = None,
    scope=None,
    storage_level=None,
) -> DataFrame:
    """Distinct ids of training docs sharing >= 1 word n-gram with any
    benchmark doc. The benchmark n-gram set is broadcast (it is the small
    side by construction; at 10^12 train rows it MUST be, or the join
    shuffles the corpus).

    Both shingle tables are persisted BEFORE the explode (r7): without
    the materialization boundary, predicate pushdown / CollapseProject
    re-inline the O(tokens x n) shingle builder into the pushed filter
    and the Generate operator, re-running it several times per row —
    measured 14x on the train side at sf0.1 (7.3 s -> 0.5 s for the
    explode alone).  The identical trap and fix as ngram_jaccard_pairs;
    ``scope``/``storage_level`` follow the CacheScope discipline
    (DISK_ONLY for corpus-scale callers)."""
    from ..cache import persist_scoped

    bench_sh = persist_scoped(
        shingle_table(benchmark, id_col, bench_text_col or text_col, n),
        scope, storage_level)
    train_sh = persist_scoped(
        shingle_table(train, id_col, text_col, n), scope, storage_level)
    bench_grams = (
        bench_sh.select(F.explode("shingles").alias("gram"))
        .distinct()
    )
    train_grams = train_sh.select(
        "id", F.explode("shingles").alias("gram")
    )
    return (
        train_grams.join(F.broadcast(bench_grams), "gram", "left_semi")
        .select(F.col("id").alias(id_col))
        .distinct()
    )
