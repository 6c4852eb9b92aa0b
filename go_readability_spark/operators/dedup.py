"""Deduplication operators for web-scale corpora.

Four tiers, cheapest to most semantic:
  * exact        — hash-groupBy on a normalized-text fingerprint
  * n-gram Jaccard — exact set similarity over word shingles (oracle-able)
  * MinHash+LSH  — the scale path: signatures → bands → bucket join
  * SimHash      — bitwise near-dup fingerprint (vectorized pandas UDF)

All the heavy lifting is JVM-side DataFrame ops; the only Python is the
SimHash bit-twiddling (Arrow-batched). Shuffle analysis in docstrings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.text import fingerprint, md5_prefix_long


def normalized_text(col):
    return F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")


def exact_duplicates(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup: one shuffle (groupBy fingerprint). Returns
    (fingerprint, canonical_id, dup_count) for groups with >1 member.
    At 100 TB: the groupBy key is a 32-char md5 — partial aggregation
    (map-side combine) reduces shuffle volume to ~#distinct docs."""
    return (
        df.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count("*").alias("dup_count"),
        )
        .where(F.col("dup_count") > 1)
    )


def word_shingles(col, n: int = 3):
    """Distinct word n-grams from a *token array column*. IMPORTANT: pass a
    staged column (see shingle_table), not a raw expression — Catalyst does
    not CSE subexpressions into higher-order-function lambdas, so an inline
    tokenizer would re-split the text once per shingle (measured 19x slower
    at sf0.1).

    Docs with fewer than n tokens yield an EMPTY array. The guard matters:
    sequence(1, 0) in Spark is the DESCENDING array [1, 0], and slice(col,
    0, n) then throws INVALID_PARAMETER_VALUE.START, killing the whole job
    on the first short document in the corpus."""
    count = F.size(col) - (n - 1)
    grams = F.transform(
        F.sequence(F.lit(1), count),
        lambda i: F.array_join(F.slice(col, i, n), " "),
    )
    return F.when(count >= 1, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


def shingle_table(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                  n: int = 3) -> DataFrame:
    """(id, shingles) with tokens staged as a real column between the two
    selects, keeping every lambda O(1) per element.

    The non-empty filter is expressed on the TOKEN count (size(toks) >= n,
    exactly equivalent: an n-gram list is empty iff there are fewer than n
    tokens). Filtering on size(shingles) instead re-inlines the whole
    shingle builder into the pushed-down scan filter (predicate pushdown
    has no cost guard), rebuilding the n-gram array 2-3x per row before
    the projection builds it again — measured 3-4x slower at sf0.1."""
    tokens = F.split(F.trim(normalized_text(F.col(text_col))), " ")
    staged = df.select(F.col(id_col).alias("id"), tokens.alias("toks"))
    return staged.where(F.size("toks") >= n).select(
        "id", word_shingles(F.col("toks"), n).alias("shingles")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = 10_000,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for every pair sharing ≥1 shingle.

    Plan: explode distinct shingles (each exploded row CARRIES its doc's
    shingle count, so no per-document sizes table — and therefore no join,
    let alone a broadcast of a table that grows with the corpus) →
    self-join on shingle → count intersections →
    jaccard = inter / (|A| + |B| - inter).

    Skew control: shingles appearing in more than ``max_df`` documents are
    dropped before the self-join — a hot shingle produces df² join rows,
    which is both the skew bottleneck and quadratic blowup at 10^12 docs.
    A shingle shared by >max_df docs carries ~no near-dup signal (its
    contribution to any one pair's intersection is 1), so the cap trades
    an ε recall loss for bounded per-key join fan-out. Pass ``None`` for
    the exact (uncapped) semantics.
    """
    # persist before exploding (CollapseProject would re-inline the shingle
    # expression into the Generate operator — see winnowing.py)
    shingled = shingle_table(df, id_col, text_col, n).persist()
    exploded = shingled.select(
        "id",
        F.size("shingles").alias("n_shingles"),
        F.explode("shingles").alias("shingle"),
    )
    if max_df is not None:
        rare = (
            exploded.groupBy("shingle")
            .agg(F.count("*").alias("df"))
            .where(F.col("df") <= max_df)
            .select("shingle")
        )
        exploded = exploded.join(rare, "shingle", "left_semi")

    a = exploded.alias("a")
    b = exploded.alias("b")
    return (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.n_shingles").alias("size_a"),
            F.col("b.n_shingles").alias("size_b"),
        )
        .agg(F.count("*").alias("inter"))
        .withColumn("jaccard", F.round(F.col("inter") / (F.col("size_a") + F.col("size_b") - F.col("inter")), 6))
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "inter", "size_a", "size_b", "jaccard")
    )


def _minhash_fn_xxhash64(s, k):
    """Production per-(seed, shingle) hash: JVM xxhash64. `k` may be an
    int literal or an integer Column (the seed-sequence lambda variable) —
    xxhash64 hashes the VALUE, so both forms are bit-identical."""
    return F.xxhash64(F.lit(k) if isinstance(k, int) else k, s)


def _minhash_fn_md5(s, k):
    """Engine-portable per-(seed, shingle) hash: 32-bit md5 prefix. Slower
    than xxhash64 but reproducible in DuckDB for the oracle twin."""
    kc = F.lit(f"{k}:") if isinstance(k, int) else F.concat(k.cast("string"), F.lit(":"))
    return md5_prefix_long(F.concat(kc, s))


def _signature_expr(sh, num_hashes: int, hash_fn):
    """sig[k] = min over shingles of hash_fn(shingle, k) for k in
    [0, num_hashes) — as ONE nested transform over a runtime seed
    sequence, not num_hashes unrolled columns. The unrolled form's codegen
    unit grew with num_hashes and cost ~10s of first-execution JIT at 32
    hashes (the dominant minhash_dedup bench cost); this form is O(1) in
    code size, bit-identical output (locked by test_operators_more).

    Two optimizer traps apply (see also quality_filters.py):
    - `sh` would be a SINGLE static reference inside a lambda —
      CollapseProject re-inlines it and re-tokenizes per seed (32x).
      Binding it as a lambda variable via element_at(transform(array(e)))
      materializes it once per row.
    - seed lambdas must be single-parameter: a two-parameter callable gets
      (element, INDEX) — the round-1 bug that collapsed all 32 "seeded"
      hashes into one (caught by the md5 oracle twin in round 2).
    """
    seeds = F.sequence(F.lit(0), F.lit(num_hashes - 1))
    return F.element_at(
        F.transform(
            F.array(sh),
            lambda shb: F.transform(
                seeds,
                lambda k: F.array_min(F.transform(shb, lambda s: hash_fn(s, k))),
            ),
        ),
        1,
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    hash_fn=_minhash_fn_xxhash64,
) -> DataFrame:
    """MinHash signature per document, entirely JVM-side:
    sig[k] = min over shingles of hash_fn(k, shingle). One narrow pass,
    no shuffle (array ops per row over a staged shingle column)."""
    shingled = shingle_table(df, id_col, text_col, n)
    return shingled.select(
        "id", _signature_expr(F.col("shingles"), num_hashes, hash_fn).alias("signature")
    )


def _band_bucket_xxhash64(band_str, b: int):
    return F.xxhash64(F.lit(b), band_str)


def _band_bucket_md5(band_str, b: int):
    return F.md5(F.concat(F.lit(f"{b}:"), band_str))


def _band_buckets(signatures: DataFrame, num_bands: int, rows_per_band: int,
                  bucket_fn) -> DataFrame:
    """(id, band, bucket) — one row per signature band, the shared
    banding of the batch candidate join AND the incremental index/probe
    pair (both sides MUST band identically for recall)."""
    bands = F.posexplode(
        F.array(
            *[
                bucket_fn(
                    F.concat_ws(
                        ",",
                        *[
                            F.element_at(F.col("signature"), b * rows_per_band + r + 1).cast("string")
                            for r in range(rows_per_band)
                        ],
                    ),
                    b,
                )
                for b in range(num_bands)
            ]
        )
    )
    return signatures.select(F.col("id"), bands.alias("band", "bucket"))


def minhash_lsh_candidates(
    signatures: DataFrame,
    num_bands: int = 8,
    rows_per_band: int = 4,
    bucket_fn=_band_bucket_xxhash64,
    max_bucket_size: int | None = 10_000,
) -> DataFrame:
    """LSH banding: hash each signature band, bucket-join docs sharing a
    band bucket. Shuffle key = (band, bucket-hash). Returns candidate
    pairs.

    Skew control (``max_bucket_size``): bucket hashes are uniform for
    *random* text, but a template-page flood (10^5 near-identical pages)
    shares ALL its bands, so one bucket holds the whole flood and the
    pair generation + distinct go quadratic on that key. Buckets with
    more than ``max_bucket_size`` members are dropped — the identical
    trade ngram_jaccard_pairs makes with ``max_df``: a bounded recall
    loss on flood groups (which upstream exact dedup and flood-group
    handling should own — a 10^5-page template farm is a grouping
    problem, not a pairwise one) for O(cap²) worst-case per-key fan-out.
    Pass ``None`` for the uncapped semantics.

    Plan shape: ONE groupBy(band, bucket) collects each bucket's sorted
    member ids, the size filter applies the cap on the aggregated row
    (no separate count + semi-join pass — that cost a second shuffle and
    a repeated band explode, measured +50% on the r4 bench), and pairs
    stream out of two chained generators (posexplode × slice-explode, so
    the k² pair set is pipelined, never materialized per row). Membership
    ids within one (band, bucket) are unique (one row per doc per band),
    so sorted i<j enumeration equals the old a.id < b.id self-join.  The
    agg buffer holds one bucket's ids — 8 bytes/member, transient and
    spill-capable; a 10^7-doc flood bucket costs an 80 MB sort-agg
    buffer, orders of magnitude below the old self-join's k² blow-up."""
    buckets = _band_buckets(signatures, num_bands, rows_per_band, bucket_fn)
    grouped = buckets.groupBy("band", "bucket").agg(
        F.sort_array(F.collect_list("id")).alias("ids")
    )
    pop = F.size("ids")
    keep = (pop >= 2) if max_bucket_size is None else (
        (pop >= 2) & (pop <= max_bucket_size))
    exploded = grouped.where(keep).select(
        "ids", F.posexplode("ids").alias("i", "id_a"))
    return exploded.select(
        "id_a",
        F.explode(
            F.slice(F.col("ids"), F.col("i") + 2, F.size("ids"))
        ).alias("id_b"),
    ).distinct()


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    num_bands: int = 8,
    threshold: float = 0.5,
    max_bucket_size: int | None = 10_000,
    scope=None,
    storage_level=None,
) -> DataFrame:
    """Full MinHash+LSH near-dup pipeline with exact-Jaccard verification
    of the (small) candidate set.

    Verification is per-PAIR: candidate pairs join the shingle arrays of
    both sides and compute |A∩B| via array_intersect — O(candidates), not
    a second global shingle self-join. At 100 TB the candidate set is
    orders of magnitude smaller than the corpus, so this is the step that
    keeps the exact check affordable. ``max_bucket_size`` bounds band-
    bucket population against template floods (see
    minhash_lsh_candidates)."""
    return _minhash_pairs_impl(
        df, id_col, text_col, n, num_hashes, num_bands, threshold,
        hash_fn=_minhash_fn_xxhash64, bucket_fn=_band_bucket_xxhash64,
        max_bucket_size=max_bucket_size, scope=scope,
        storage_level=storage_level,
    )


def minhash_dedup_pairs_md5(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
    num_bands: int = 4,
    threshold: float = 0.5,
    max_bucket_size: int | None = 10_000,
) -> DataFrame:
    """Engine-portable twin of :func:`minhash_dedup_pairs`: the identical
    signature → band → bucket-join → exact-verify pipeline, with md5-based
    hash functions a DuckDB oracle can reproduce bit-for-bit. Production
    uses the xxhash64 variant (faster JVM hash); this twin exists so the
    banding/bucket-join LOGIC is hash-verified, not just row-counted.
    The DuckDB oracle replays the ``max_bucket_size`` cap too (a plain
    HAVING over the bucket groups)."""
    return _minhash_pairs_impl(
        df, id_col, text_col, n, num_hashes, num_bands, threshold,
        hash_fn=_minhash_fn_md5, bucket_fn=_band_bucket_md5,
        max_bucket_size=max_bucket_size,
    )


def _minhash_pairs_impl(
    df, id_col, text_col, n, num_hashes, num_bands, threshold, hash_fn, bucket_fn,
    max_bucket_size=10_000, scope=None, storage_level=None,
) -> DataFrame:
    if num_bands < 1 or num_hashes % num_bands != 0:
        # num_bands > num_hashes would give rows_per_band = 0: every band
        # string becomes '' so EVERY doc shares EVERY bucket (the candidate
        # join degenerates to all-pairs); a non-divisor would silently
        # ignore the trailing signature components. Both are config bugs —
        # fail loudly.
        raise ValueError(
            f"num_bands={num_bands} must be a positive divisor of "
            f"num_hashes={num_hashes}"
        )
    rows_per_band = num_hashes // num_bands
    # r7 note on input parallelism: a single-row-group parquet input
    # scans as ONE task, serializing the tokenize+shingle pass onto one
    # core.  The restoration (plans/parallelism.ensure_scan_parallelism)
    # deliberately lives at the READ site (__spark_entry__._read, the
    # curation readers), NOT here: the shingle table is persisted and
    # re-scanned by ~4 downstream jobs per run (signature cache build,
    # banding, both verification joins), and an operator-injected
    # repartition was MEASURED to cost more in per-re-scan task churn
    # than the one-shot compute win on already-cached repeats (bench
    # ABAB: +0.15-0.3 s), while read-site restoration keeps the
    # first-compute win (minhash_pairs_md5 6.7 s -> 1.1 s) without
    # touching caller-chosen partitioning.
    # materialize the SHINGLE table once: it feeds the signatures AND both
    # sides of the verification join — unpersisted, the tokenize+shingle
    # pass (the pipeline's dominant per-row cost) would run three times.
    # (At 10^12 scale both this and the signatures are checkpointed
    # tables, not caches.)
    from ..cache import persist_scoped

    # storage_level=DISK_ONLY for corpus-scale callers (curate at the 1M
    # volume run OOMed the shared local heap caching 10^8 shingle rows
    # deserialized); None keeps the fast heap default for small inputs.
    shingled = persist_scoped(shingle_table(df, id_col, text_col, n), scope,
                              storage_level)
    # persist signatures too: the banding self-join references them twice
    sigs = persist_scoped(shingled.select(
        "id", _signature_expr(F.col("shingles"), num_hashes, hash_fn).alias("signature")
    ), scope, storage_level)
    candidates = minhash_lsh_candidates(
        sigs, num_bands, rows_per_band, bucket_fn, max_bucket_size
    )
    sa = shingled.select(F.col("id").alias("id_a"), F.col("shingles").alias("sh_a"))
    sb = shingled.select(F.col("id").alias("id_b"), F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    return (
        candidates.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("inter", inter)
        .withColumn("size_a", F.size("sh_a"))
        .withColumn("size_b", F.size("sh_b"))
        .withColumn(
            "jaccard",
            F.round(F.col("inter") / (F.col("size_a") + F.col("size_b") - F.col("inter")), 6),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "inter", "size_a", "size_b", "jaccard")
    )


# ------------------------------------------------- incremental (index/probe)


def minhash_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    num_bands: int = 8,
    hash_fn=_minhash_fn_xxhash64,
    bucket_fn=_band_bucket_xxhash64,
    max_bucket_size: int | None = 10_000,
    scope=None,
) -> tuple[DataFrame, DataFrame]:
    """The STORED side of incremental near-dedup: (buckets, shingles).

    A production pipeline dedups each NEW crawl segment against the
    EXISTING corpus, not just within the batch — re-running pairwise
    dedup over corpus ∪ batch would redo the whole corpus every
    segment.  Instead the corpus is indexed ONCE: `buckets` is the
    (id, band, bucket) banding (flood buckets dropped at build time —
    cheaper than re-filtering on every probe) and `shingles` is the
    (id, shingles) table the probe's exact-Jaccard verify joins.  Both
    are plain DataFrames — persist them as tables and append each
    accepted segment's rows (the banding is deterministic, so
    incremental appends compose exactly).  Appends are pruned only
    WITHIN each increment: a bucket whose population crosses
    max_bucket_size across appends keeps its rows until
    `compact_index` re-applies the cap over the composed relation —
    run it on the stored index whenever cumulative appends since the
    last compaction approach the original corpus size (or on a fixed
    cadence, e.g. nightly for an hourly-append pipeline).

    Cache lifecycle: the internal shingle relation is persist()ed (it
    feeds both outputs).  Pass a `go_readability_spark.cache.CacheScope`
    as `scope` and release it after writing the outputs; with no scope
    the persist is left for the caller/session to clear (historical
    behaviour).

    The probe side (minhash_probe) MUST use identical
    (n, num_hashes, num_bands, hash_fn, bucket_fn)."""
    from ..cache import persist_scoped

    if num_bands < 1 or num_hashes % num_bands != 0:
        raise ValueError(
            f"num_bands={num_bands} must be a positive divisor of "
            f"num_hashes={num_hashes}")
    rows_per_band = num_hashes // num_bands
    shingled = persist_scoped(shingle_table(df, id_col, text_col, n), scope)
    sigs = shingled.select(
        "id", _signature_expr(F.col("shingles"), num_hashes, hash_fn)
        .alias("signature"))
    buckets = _band_buckets(sigs, num_bands, rows_per_band, bucket_fn)
    if max_bucket_size is not None:
        ok = (
            buckets.groupBy("band", "bucket")
            .agg(F.count("*").alias("pop"))
            .where(F.col("pop") <= max_bucket_size)
            .select("band", "bucket")
        )
        # index build is a one-time artifact: the count+semi-join pass
        # is fine here (the hot per-segment path is the probe)
        buckets = buckets.join(ok, ["band", "bucket"], "left_semi")
    return buckets, shingled.select("id", "shingles")


def minhash_probe(
    new_df: DataFrame,
    index_buckets: DataFrame,
    index_shingles: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    num_bands: int = 8,
    threshold: float = 0.5,
    hash_fn=_minhash_fn_xxhash64,
    bucket_fn=_band_bucket_xxhash64,
    max_bucket_size: int | None = 10_000,
    scope=None,
) -> DataFrame:
    """(id_new, id_corpus, inter, size_new, size_corpus, jaccard) — the
    new segment's near-duplicates OF THE INDEXED CORPUS (directional:
    within-segment pairs come from minhash_dedup_pairs on the segment
    itself).

    Shape: band the new docs identically, cap the new side's own flood
    buckets, equi-join against the stored buckets on (band, bucket)
    — candidate fan-out per key is new-side × index-side populations,
    both ≤ max_bucket_size (index-side boundedness assumes the stored
    relation is compacted on cadence; see compact_index) — then
    exact-verify the (small) candidate set against the stored shingle
    table.  The corpus is touched ONLY through the index relations: no
    corpus rescans, no corpus shuffle beyond the candidate ids' shingle
    rows.

    Cache lifecycle: the segment's shingle relation is persist()ed (it
    feeds both the banding and the verify join).  A long-lived scheduler
    probing many segments should pass a CacheScope and release it after
    materialising the result; with no scope the persist is left to the
    caller/session (historical behaviour).

    ORDERING HAZARD (lazy evaluation): a plan derived from this probe —
    e.g. `segment.join(doomed, left_anti)` — READS the stored index
    relations.  MATERIALIZE that plan (write the kept docs) BEFORE
    appending the segment's own banding to the same index storage: a
    re-evaluation after the append would find every segment doc in the
    index (jaccard 1.0 against itself) and doom the whole segment.  See
    examples/incremental_crawl_pipeline.py for the correct order."""
    from ..cache import persist_scoped

    if num_bands < 1 or num_hashes % num_bands != 0:
        raise ValueError(
            f"num_bands={num_bands} must be a positive divisor of "
            f"num_hashes={num_hashes}")
    rows_per_band = num_hashes // num_bands
    shingled = persist_scoped(shingle_table(new_df, id_col, text_col, n),
                              scope)
    sigs = shingled.select(
        "id", _signature_expr(F.col("shingles"), num_hashes, hash_fn)
        .alias("signature"))
    buckets = _band_buckets(sigs, num_bands, rows_per_band, bucket_fn)
    if max_bucket_size is not None:
        grouped = buckets.groupBy("band", "bucket").agg(
            F.collect_list("id").alias("ids"))
        buckets = grouped.where(F.size("ids") <= max_bucket_size).select(
            "band", "bucket", F.explode("ids").alias("id"))
    cand = (
        buckets.join(
            index_buckets.select(
                "band", "bucket", F.col("id").alias("id_corpus")),
            ["band", "bucket"],
        )
        .select(F.col("id").alias("id_new"), "id_corpus")
        .distinct()
    )
    sa = shingled.select(F.col("id").alias("id_new"),
                         F.col("shingles").alias("sh_a"))
    sb = index_shingles.select(F.col("id").alias("id_corpus"),
                               F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    return (
        cand.join(sa, "id_new")
        .join(sb, "id_corpus")
        .withColumn("inter", inter)
        .withColumn("size_new", F.size("sh_a"))
        .withColumn("size_corpus", F.size("sh_b"))
        .withColumn(
            "jaccard",
            F.round(F.col("inter")
                    / (F.col("size_new") + F.col("size_corpus") - F.col("inter")), 6),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_new", "id_corpus", "inter", "size_new", "size_corpus",
                "jaccard")
    )


def compact_index(
    index_buckets: DataFrame,
    index_shingles: DataFrame | None = None,
    max_bucket_size: int | None = 10_000,
    prune_shingles: bool = False,
):
    """Re-apply the flood cap over a COMPOSED incremental index
    (VERDICT r5 #3).

    minhash_index prunes flood buckets within each increment only, so a
    (band, bucket) that stays under max_bucket_size in every append but
    crosses it in the union keeps its full population — probe fan-out
    on that key then grows linearly with appends.  Compaction applies
    exactly the build-time rule to the stored relation: drop every
    (band, bucket) whose TOTAL population exceeds the cap.  It is
    idempotent, and compact(index(a) ∪ index(b)) == index(a ∪ b)'s
    bucket relation under the same cap wherever neither increment was
    individually pruned (the planted-flood test pins this).

    Cadence: run whenever cumulative appends since the last compaction
    approach the pre-append corpus size, or on a fixed schedule (e.g.
    nightly for an hourly-append crawl) — one count-aggregation plus a
    left_semi join over the bucket relation, the same cost as one index
    build's pruning pass.

    Returns the compacted buckets, or (buckets, shingles) when
    index_shingles is given: with prune_shingles=True the shingle rows
    of ids that lost ALL bucket rows (unmatchable dead weight) are
    dropped via one left_semi join; with False (default — the shingle
    table is the big relation) shingles pass through unchanged."""
    buckets = index_buckets
    if max_bucket_size is not None:
        ok = (
            buckets.groupBy("band", "bucket")
            .agg(F.count("*").alias("pop"))
            .where(F.col("pop") <= max_bucket_size)
            .select("band", "bucket")
        )
        buckets = buckets.join(ok, ["band", "bucket"], "left_semi")
    if index_shingles is None:
        return buckets
    shingles = index_shingles
    if prune_shingles:
        live = buckets.select("id").distinct()
        shingles = shingles.join(live, "id", "left_semi")
    return buckets, shingles


# --------------------------------------------------------------------- SimHash

SIMHASH_SCHEMA = "id long, simhash long"


def simhash_chunks(col, n_chunks: int):
    """Array of the signature's n_chunks band values — THE banding both the
    batch pair join and the streaming state keys use; pigeonhole recall
    depends on every consumer banding identically."""
    return F.array(
        *[
            F.shiftright(col, off).bitwiseAND(F.lit((1 << width) - 1)).cast("int")
            for off, width in simhash_chunk_layout(n_chunks)
        ]
    )


def simhash_chunk_layout(n_chunks: int, bits: int = 64) -> list[tuple[int, int]]:
    """(offset, width) per chunk, splitting `bits` as evenly as possible.
    Shared by the Spark plan and the DuckDB oracle twin so both band the
    signature identically."""
    base, rem = divmod(bits, n_chunks)
    layout, off = [], 0
    for c in range(n_chunks):
        w = base + (1 if c < rem else 0)
        layout.append((off, w))
        off += w
    return layout


def simhash_table(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """64-bit SimHash per doc, entirely JVM-side column expressions (no
    Python in the hot path — the per-token md5 loop was the measured
    100×-scale hotspot of the old Arrow-batched version; this produces
    bit-identical hashes).

    Token hash = first 8 bytes of md5, big-endian signed int64, composed
    from two 32-bit conv() halves (portable to the DuckDB oracle). Votes
    and bit-packing are aggregate/zip_with trees over STAGED array columns
    (Catalyst does not CSE into higher-order-function lambdas)."""
    src = df.select(
        F.col(id_col).alias("id"),
        normalized_text(F.col(text_col)).alias("t"),
    )
    toks = src.select(
        "id",
        F.expr("filter(split(t, ' '), x -> x != '')").alias("toks"),
    )
    # md5(tok) is bound once per token via an inner lambda variable —
    # mentioned twice inline it would be computed twice per token (no CSE
    # inside HOF lambdas), doubling the dominant per-token cost
    hashed = toks.select(
        "id",
        F.expr(
            "transform(toks, tok -> element_at(transform(array(md5(tok)), m -> "
            "  shiftleft(cast(conv(substring(m, 1, 8), 16, 10) as bigint), 32)"
            "  | cast(conv(substring(m, 9, 8), 16, 10) as bigint)), 1))"
        ).alias("hashes"),
    )
    # votes is BOUND as a lambda variable: staged as a plain column it gets
    # re-inlined by CollapseProject into the per-bit packing lambda, which
    # recomputes the O(tokens x 64) vote aggregate once per bit — measured
    # 64x: ~75s -> ~1s for 500 documents at sf0.01
    votes_expr = (
        "aggregate(hashes, "
        "  array_repeat(0, 64), "
        "  (acc, h) -> zip_with(acc, "
        "      transform(sequence(0, 63), j -> "
        "          CASE WHEN (shiftright(h, j) & 1) = 1 THEN 1 ELSE -1 END), "
        "      (x, y) -> x + y))"
    )
    sim = F.expr(
        f"element_at(transform(array({votes_expr}), v -> "
        "  aggregate(sequence(0, 63), cast(0 as bigint), "
        "    (acc, j) -> acc + CASE WHEN element_at(v, j + 1) > 0 "
        "        THEN shiftleft(cast(1 as bigint), j) ELSE cast(0 as bigint) END)"
        "), 1)"
    )
    return hashed.select("id", sim.alias("simhash"))


def simhash_near_pairs(
    simhashes: DataFrame, max_hamming: int = 3, n_chunks: int | None = None
) -> DataFrame:
    """Near-dup pairs by Hamming distance ≤ k. Banding into k+1 chunks
    (pigeonhole: distance ≤ k ⇒ at least one of k+1 chunks is equal — with
    FEWER chunks than k+1 the guarantee breaks and pairs are silently
    missed) keeps the join keyed instead of cross. `n_chunks` may be
    raised above k+1 for cheaper buckets at the cost of extra candidate
    rows; it must never be below k+1, which is enforced here."""
    if n_chunks is None:
        n_chunks = max_hamming + 1
    if n_chunks < max_hamming + 1:
        raise ValueError(
            f"n_chunks={n_chunks} < max_hamming+1={max_hamming + 1}: "
            "pigeonhole recall guarantee would be violated"
        )
    chunks = simhash_chunks(F.col("simhash"), n_chunks)
    banded = simhashes.select("id", "simhash", F.posexplode(chunks).alias("chunk_no", "chunk"))
    a, b = banded.alias("a"), banded.alias("b")
    # r7: the Hamming gate runs BEFORE the duplicate-candidate distinct,
    # not after — hamming is a pure function of the joined row, so
    # filter∘distinct ≡ distinct∘filter, and at sf0.1 the gate drops the
    # distinct's shuffle from ~191k candidate rows to just the surviving
    # near-pairs (the multi-chunk duplicates it exists to collapse).
    # Same trade at any scale: the xor+popcount is codegen'd map-side
    # work, the distinct is an exchange.
    hamming = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            (F.col("a.chunk_no") == F.col("b.chunk_no"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            hamming.alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )
