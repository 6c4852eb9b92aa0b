"""Distributed Bloom filter over URL sets — the crawl-frontier
"have we seen this URL?" structure.

At 10^12 crawled URLs the exact answer (left_anti join against the
history table) shuffles the full history every scheduling round.  The
classic crawler answer is a Bloom filter: ~1.2 GB of bits answers
membership with ~0.1% false positives (a false positive means one URL
is wrongly skipped — an acceptable crawl-side loss; false negatives
never happen, so nothing is fetched twice because of the filter).

Representation is RELATIONAL, not a driver-side bitmap: the filter is a
(word:long, bits:long) DataFrame — at most n_bits/64 rows — built with
ONE groupBy(word) + bit_or aggregation.  Membership tests JOIN on word
(Spark broadcasts the filter when it fits; at the multi-GB end it stays
a shuffled equi-join on a table orders of magnitude smaller than the
history).  A candidate is "maybe seen" iff ALL k probe bits are set.

Hashes are the repo's engine-portable md5 scheme (functions/text.py):
probe i's position is the first 16 md5 hex chars of "bf{i}:{key}" mod
n_bits (two 32-bit words composed with overflow-safe modular
arithmetic).  One flat filter caps at 2^31 bits; the 10^10+ bits a
10^12-URL universe needs come from the sharded layout implemented
below (`bloom_build_sharded` / `bloom_maybe_seen_sharded`): shard =
md5 of the key mod n_shards, one private filter per shard stored as a
single (shard, word, bits) relation, membership an equi-join on
(shard, word) — which is also how the build parallelizes.
Everything is JVM column expressions; a DuckDB twin can replay the
bitmap bit-for-bit (same conv/md5 trick the decontamination oracle
uses), and the pytest reference recomputes it in pure Python.

Reference N/A (single-document library) — this is the LLM-data-ops /
crawl-discovery surface on top of extraction parity.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def _position(key: Column, i: int, n_bits: int) -> Column:
    """Engine-portable probe position: the first 16 md5 hex chars of
    "bf{i}:{key}" as an unsigned 64-bit value, mod n_bits — composed
    from two 32-bit words with modular arithmetic so no intermediate
    overflows a signed long (hence the n_bits <= 2^31 guard in
    bloom_build: ((m-1) * (2^32 mod m) + m) stays under 2^63).
    Equals int(md5(...)[:16], 16) % n_bits exactly."""
    md5 = F.md5(F.concat(F.lit(f"bf{i}:"), key.cast("string")))
    hi = F.conv(F.substring(md5, 1, 8), 16, 10).cast("long")
    lo = F.conv(F.substring(md5, 9, 8), 16, 10).cast("long")
    m = F.lit(n_bits)
    return F.pmod(
        F.pmod(hi, m) * F.lit((1 << 32) % n_bits) + F.pmod(lo, m), m)


def _probes(key: Column, n_bits: int, k: int):
    """(word, mask) pairs for the k probe positions of a key."""
    out = []
    for i in range(k):
        pos = _position(key, i, n_bits)
        # F.shiftleft only takes a literal shift count; the SQL function
        # accepts column expressions for both operands
        mask = F.call_function(
            "shiftleft", F.lit(1).cast("long"),
            F.pmod(pos, F.lit(64)).cast("int"))
        out.append((
            (pos / 64).cast("long").alias("word"),
            mask.alias("mask"),
        ))
    return out


def bloom_build(df: DataFrame, key_col: str = "url",
                n_bits: int = 1 << 22, k: int = 5) -> DataFrame:
    """(word, bits) — the Bloom filter of df's key column.  One explode
    (k rows per key) + one groupBy(word) with map-side partial bit_or;
    output has at most n_bits/64 rows regardless of input size.

    n_bits caps at 2^31 (a 256 MB filter, good for ~2×10^8 keys at 1%
    FP with k=7) so the positional arithmetic never overflows; a
    10^12-URL universe uses the standard partitioned-Bloom layout —
    shard keys by hash and give each shard its own filter (which is
    also how the build parallelizes)."""
    if not 64 <= n_bits <= (1 << 31):
        raise ValueError(f"n_bits must be in [64, 2^31], got {n_bits}")
    key = F.col(key_col)
    pairs = F.array(*[
        F.struct(w.alias("word"), m.alias("mask"))
        for w, m in _probes(key, n_bits, k)
    ])
    return (
        df.select(F.explode(pairs).alias("p"))
        .select(F.col("p.word").alias("word"), F.col("p.mask").alias("mask"))
        .groupBy("word")
        .agg(F.bit_or("mask").alias("bits"))
    )


def _shard_of(key: Column, n_shards: int) -> Column:
    """Engine-portable shard assignment: the first 8 md5 hex chars of
    "bfshard:{key}" (an unsigned 32-bit value) mod n_shards.  Same
    md5-derived scheme as the probe positions so a DuckDB twin and the
    pure-Python pytest reference replay it exactly."""
    md5 = F.md5(F.concat(F.lit("bfshard:"), key.cast("string")))
    return F.pmod(F.conv(F.substring(md5, 1, 8), 16, 10).cast("long"),
                  F.lit(n_shards)).cast("int")


def bloom_build_sharded(df: DataFrame, key_col: str = "url",
                        n_shards: int = 16, bits_per_shard: int = 1 << 22,
                        k: int = 5) -> DataFrame:
    """(shard, word, bits) — the partitioned-Bloom layout for key
    universes past one filter's 2^31-bit cap (10^10-10^12 URLs).  Each
    key is assigned to shard = md5("bfshard:"+key) mod n_shards and
    probed into that shard's private filter, so every (shard,) slice is
    bit-identical to `bloom_build` run over just that shard's keys.

    Total capacity is n_shards × bits_per_shard (e.g. 4096 × 2^31 =
    2^43 bits ≈ 1 TB of bitmap for 10^12 keys at 0.1% FP) while every
    per-position computation stays inside the overflow-safe ≤2^31
    arithmetic of `_position`.  Still ONE explode + ONE
    groupBy(shard, word) with map-side partial bit_or — the build
    parallelizes across shards for free, and the output is at most
    n_shards × bits_per_shard/64 rows regardless of input size."""
    if not 64 <= bits_per_shard <= (1 << 31):
        raise ValueError(
            f"bits_per_shard must be in [64, 2^31], got {bits_per_shard}")
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    key = F.col(key_col)
    pairs = F.array(*[
        F.struct(w.alias("word"), m.alias("mask"))
        for w, m in _probes(key, bits_per_shard, k)
    ])
    return (
        df.select(_shard_of(key, n_shards).alias("shard"),
                  F.explode(pairs).alias("p"))
        .select("shard", F.col("p.word").alias("word"),
                F.col("p.mask").alias("mask"))
        .groupBy("shard", "word")
        .agg(F.bit_or("mask").alias("bits"))
    )


def bloom_maybe_seen_sharded(df: DataFrame, bloom: DataFrame,
                             key_col: str = "url", n_shards: int = 16,
                             bits_per_shard: int = 1 << 22,
                             k: int = 5) -> DataFrame:
    """df + `maybe_seen:boolean` against a `bloom_build_sharded` filter:
    each key probes ONLY its own shard's slice via an equi-join on
    (shard, word) — the filter relation is the only thing joined, never
    the history table, and no shard ever sees another shard's probes.
    NULL keys are kept with maybe_seen = false."""
    key = F.col(key_col)
    probes = df.select(
        key.alias("_bf_key"),
        _shard_of(key, n_shards).alias("shard"),
        F.explode(F.array(*[
            F.struct(w.alias("word"), m.alias("mask"))
            for w, m in _probes(key, bits_per_shard, k)
        ])).alias("p"),
    ).select("_bf_key", "shard", F.col("p.word").alias("word"),
             F.col("p.mask").alias("mask"))
    hit = probes.join(bloom, ["shard", "word"], "left").select(
        "_bf_key",
        (F.col("bits").isNotNull()
         & (F.col("bits").bitwiseAND(F.col("mask")) == F.col("mask"))
         ).alias("_bf_hit"),
    )
    verdict = hit.groupBy("_bf_key").agg(
        F.min(F.col("_bf_hit").cast("int")).alias("_bf_all"))
    # left join + coalesce: a NULL key never equi-matches, so it falls
    # through as "definitely unseen" instead of being dropped
    return df.join(
        verdict.select(F.col("_bf_key").alias(key_col),
                       (F.col("_bf_all") == 1).alias("maybe_seen")),
        key_col, "left",
    ).withColumn("maybe_seen", F.coalesce(F.col("maybe_seen"), F.lit(False)))


def filter_unseen_sharded(df: DataFrame, bloom: DataFrame,
                          key_col: str = "url", n_shards: int = 16,
                          bits_per_shard: int = 1 << 22,
                          k: int = 5) -> DataFrame:
    """Rows whose key is DEFINITELY not in a sharded filter (no false
    negatives: every truly-seen key is dropped; ~FP-rate of unseen keys
    are wrongly dropped too — the crawl-side trade).  Every other
    column of df is kept; NULL keys pass through as unseen."""
    return (
        bloom_maybe_seen_sharded(df, bloom, key_col, n_shards,
                                 bits_per_shard, k)
        .where(~F.col("maybe_seen"))
        .drop("maybe_seen")
    )


def bloom_merge_sharded(*filters: DataFrame) -> DataFrame:
    """Shard-wise union of sharded filters built with the SAME
    (n_shards, bits_per_shard, k): bitwise OR per (shard, word) — one
    groupBy over the (tiny) filter relations.  The incremental-crawl
    composition: yesterday's filter ∪ today's newly crawled keys without
    touching either history table.  Bloom unions are exact: the merged
    filter equals the filter of the merged key sets."""
    if not filters:
        raise ValueError("bloom_merge_sharded needs at least one filter")
    merged = filters[0]
    for f in filters[1:]:
        merged = merged.unionByName(f)
    return merged.groupBy("shard", "word").agg(F.bit_or("bits").alias("bits"))


# ------------------------------------------------------------- filter store

BLOOM_META = "_bloom_meta.json"


def bloom_store_exists(path: str) -> bool:
    import os

    return os.path.exists(os.path.join(path, BLOOM_META))


def bloom_store_write(bloom: DataFrame, path: str, n_shards: int,
                      bits_per_shard: int, k: int) -> dict:
    """Persist a sharded filter + its parameters as a NEW version.  The
    parameters are part of the filter's identity — probing with
    different (n_shards, bits_per_shard, k) is silently wrong — so they
    ride in a meta file the reader validates instead of being
    re-supplied by every caller.

    Versioned layout: each write lands in filter-{version:06d}.parquet
    and the meta (written LAST, atomically) points at it — a merge can
    therefore READ the current version while WRITING the next one, and
    any still-live plan over the previous version keeps its files (an
    in-place overwrite broke exactly that: a plan derived from
    filter_unseen_sharded failed with FILE_NOT_EXIST after the
    subsequent record pass replaced the parquet under it).  A crash
    mid-write leaves the meta on the old version — the store never
    half-reads.  SINGLE WRITER assumed (a crawl scheduler's record
    passes are sequential); concurrent writers could race the same
    version directory.  Returns the meta written."""
    import json
    import os

    version = 1
    if bloom_store_exists(path):
        with open(os.path.join(path, BLOOM_META)) as fh:
            version = json.load(fh).get("version", 0) + 1
    bloom.write.mode("overwrite").parquet(
        os.path.join(path, f"filter-{version:06d}.parquet"))
    meta = {"n_shards": n_shards, "bits_per_shard": bits_per_shard, "k": k,
            "version": version}
    tmp = os.path.join(path, f".{BLOOM_META}.tmp")
    with open(tmp, "w") as fh:
        json.dump(meta, fh)
    os.replace(tmp, os.path.join(path, BLOOM_META))
    return meta


def bloom_store_read(spark, path: str) -> tuple[DataFrame, dict]:
    """(filter relation, {n_shards, bits_per_shard, k, version}) for the
    store's CURRENT version."""
    import json
    import os

    with open(os.path.join(path, BLOOM_META)) as fh:
        meta = json.load(fh)
    return spark.read.parquet(os.path.join(
        path, f"filter-{meta['version']:06d}.parquet")), meta


def bloom_store_prune(path: str, keep: int = 2) -> list[str]:
    """Delete filter versions older than the newest `keep` (default 2:
    current + immediately-prior, so a reader that grabbed the previous
    version just before a record pass still has its files).  Returns the
    removed directory names."""
    import glob
    import os
    import shutil

    versions = sorted(glob.glob(os.path.join(path, "filter-*.parquet")))
    doomed = versions[:-keep] if keep > 0 else versions
    for d in doomed:
        shutil.rmtree(d, ignore_errors=True)
    return [os.path.basename(d) for d in doomed]


def bloom_store_record(spark, path: str, df: DataFrame,
                       key_col: str = "url", n_shards: int = 16,
                       bits_per_shard: int = 1 << 22, k: int = 5,
                       prune_keep: int = 2) -> dict:
    """Merge df's keys into the store (creating it if absent): the
    incremental-crawl composition — each fetched segment's urls enter
    the filter, and the next planning run's `filter_unseen_sharded`
    against the store skips them.  An existing store's parameters WIN
    over the arguments (they are the filter's identity).  The merge
    writes a NEW version (live readers of older versions keep their
    files; versions beyond the newest `prune_keep` are then deleted).
    Returns the effective meta."""
    if bloom_store_exists(path):
        old, meta = bloom_store_read(spark, path)
        new = bloom_build_sharded(df, key_col, meta["n_shards"],
                                  meta["bits_per_shard"], meta["k"])
        params = {kk: meta[kk] for kk in ("n_shards", "bits_per_shard", "k")}
        meta = bloom_store_write(bloom_merge_sharded(old, new), path,
                                 **params)
        bloom_store_prune(path, keep=prune_keep)
        return meta
    return bloom_store_write(
        bloom_build_sharded(df, key_col, n_shards, bits_per_shard, k),
        path, n_shards=n_shards, bits_per_shard=bits_per_shard, k=k)
