"""Deterministic sampling and corpus mixing.

Training pipelines never use rand() sampling: runs must be reproducible,
resumable, and consistent across retries — so membership is a pure
function of the row key. `mix_corpus` keeps a row iff a hash of its key
falls under its source's rate (the standard source-weighting step when
blending crawl slices); `stratified_sample` and `global_shuffle` order
rows by the same hash.

The hash is an md5 prefix (engine-portable — the DuckDB oracle reproduces
membership bit-for-bit); a `salt` decorrelates independent samples drawn
from the same keys. Map-only: no shuffle, prunes with the scan."""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import Column, DataFrame, functions as F

from ..functions.text import md5_prefix_long

_BUCKETS = 1_000_000


def hash_bucket(key: Column, salt: str = "") -> Column:
    """Uniform bucket in [0, 1e6) from md5(salt:key) — deterministic and
    engine-portable (32-bit prefix, same formula as the oracle twins)."""
    keyed = F.concat(F.lit(f"{salt}:"), key.cast("string"))
    return F.pmod(md5_prefix_long(keyed), F.lit(_BUCKETS))


def global_shuffle(
    df: DataFrame,
    key_col: str = "doc_id",
    salt: str = "",
    n_blocks: int = 4096,
) -> DataFrame:
    """Adds `shuffle_pos`: a deterministic global permutation position —
    the rank of (md5(salt:key), key) over the whole corpus. This is the
    training-order shuffle: seeded by `salt`, reproducible across runs
    and retries, and a different `salt` gives an independent epoch order.

    No global sort: the hash is uniform, so `hash div (BUCKETS/n_blocks)`
    splits the order into n_blocks pre-sorted ranges of ~equal size.
    Block counts (n_blocks tiny rows) are aggregated, exclusive offsets
    computed on the driver, and each block ranks locally — the same
    two-phase scan as sequence packing, keyed by hash instead of id."""
    from pyspark.sql import Window

    if n_blocks <= 0:
        raise ValueError(f"n_blocks must be positive, got {n_blocks}")
    block_span = max(1, _BUCKETS // n_blocks)
    h = hash_bucket(F.col(key_col), salt)
    staged = df.withColumn("_gs_h", h).withColumn(
        "_gs_blk", F.expr(f"_gs_h div {block_span}")
    )
    totals = staged.groupBy("_gs_blk").agg(F.count(F.lit(1)).alias("_gs_n")).collect()
    running, blocks, starts = 0, [], []
    for row in sorted(totals, key=lambda r: r["_gs_blk"]):
        blocks.append(row["_gs_blk"])
        starts.append(running)
        running += row["_gs_n"]
    off = df.sparkSession.createDataFrame(pa.table({
        "_gs_blk": pa.array(blocks, pa.int64()), "_gs_off": pa.array(starts, pa.int64())}))
    w = Window.partitionBy("_gs_blk").orderBy("_gs_h", key_col)
    return (
        staged.join(F.broadcast(off), "_gs_blk")
        .withColumn("shuffle_pos", F.row_number().over(w) - 1 + F.col("_gs_off"))
        .drop("_gs_blk", "_gs_h", "_gs_off")
    )


def stratified_sample(
    df: DataFrame,
    n_per_group: int,
    group_col: str = "source",
    key_col: str = "doc_id",
    salt: str = "",
    n_salts: int = 64,
) -> DataFrame:
    """Exactly the n_per_group rows per group with the SMALLEST hash
    order (md5(salt:key), key) — a deterministic, engine-portable
    stratified sample.

    Scale note: the naive spelling — row_number() over
    (PARTITION BY group ORDER BY hash) — funnels each group through ONE
    task; with a handful of huge sources that is a single-executor sort
    of the whole corpus. This does the standard two-phase exact top-k:

      1. local top-k within (group, hash-derived subkey of n_salts):
         every subgroup is ~1/n_salts of the group, and only k rows per
         subgroup survive
      2. global top-k among the n_salts*k survivors per group — bounded
         input regardless of corpus size

    Both phases pick by the same total order, so the result is identical
    to the single-partition spelling (top-k of a union == top-k of the
    per-part top-ks).
    """
    from pyspark.sql import Window

    if n_per_group <= 0:
        raise ValueError(f"n_per_group must be positive, got {n_per_group}")
    h = F.pmod(md5_prefix_long(F.concat(F.lit(f"{salt}:"), F.col(key_col).cast("string"))), F.lit(_BUCKETS))
    # subgroup from the hash itself, NOT a numeric cast of the key — a
    # string key (url) would cast to NULL and silently collapse every
    # row into one subgroup, i.e. exactly the single-task window this
    # function exists to avoid. Any partitioning preserves correctness
    # (top-k of per-part top-ks == global top-k), so h-residues are fine.
    staged = df.withColumn("_ss_h", h).withColumn(
        "_ss_sub", F.pmod(F.col("_ss_h"), F.lit(int(n_salts)))
    )
    local = Window.partitionBy(group_col, "_ss_sub").orderBy("_ss_h", key_col)
    survivors = (
        staged.withColumn("_ss_rn", F.row_number().over(local))
        .where(F.col("_ss_rn") <= n_per_group)
        .drop("_ss_rn")
    )
    final = Window.partitionBy(group_col).orderBy("_ss_h", key_col)
    return (
        survivors.withColumn("_ss_rn", F.row_number().over(final))
        .where(F.col("_ss_rn") <= n_per_group)
        .drop("_ss_rn", "_ss_h", "_ss_sub")
    )


def mix_corpus(
    df: DataFrame,
    rates: dict[str, float],
    source_col: str = "source",
    key_col: str = "doc_id",
    default_rate: float = 0.0,
    salt: str = "",
) -> DataFrame:
    """Per-source sampling rates in ONE scan (no per-source unions): the
    row's threshold comes from its source. Sources absent from `rates` use
    default_rate (0.0 = drop — the allowlist semantics of corpus mixing)."""
    thresh = F.lit(int(default_rate * _BUCKETS))
    for src, rate in sorted(rates.items()):
        if not 0.0 <= rate <= 1.0:
            raise ValueError(f"rate for {src!r} must be in [0, 1], got {rate}")
        thresh = F.when(
            F.col(source_col) == src, F.lit(int(rate * _BUCKETS))
        ).otherwise(thresh)
    return df.where(hash_bucket(F.col(key_col), salt) < thresh)
