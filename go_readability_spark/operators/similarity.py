"""Similarity search over an embedding column (array<float>).

* brute-force cosine top-k — the exact baseline (JVM-side vector math via
  zip_with/aggregate; one shuffle for the global rank)
* random-hyperplane LSH bucketing — the scale path (signature → bucket
  join; only same-bucket candidates are scored)
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, Window, functions as F


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a, b):
    """NULL (not an ANSI DIVIDE_BY_ZERO crash) when either vector is 0."""
    return _dot(a, b) / F.nullif(_norm(a) * _norm(b), F.lit(0.0))


def with_unit_vectors(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Pre-normalize once so the join-side math is a plain dot product.

    The vector and its norm are bound as lambda variables: (a) a zero
    vector maps to the zero unit vector instead of throwing Spark 4's
    ANSI DIVIDE_BY_ZERO and killing the job on the first degenerate
    embedding in the corpus, and (b) the norm is computed once per row —
    the naive `transform(v, x -> x / norm_expr)` re-evaluates the norm
    aggregate per ELEMENT (O(dim^2) per row; ruinous at dim 768)."""
    staged = df.withColumn("_uv_src", F.col(vec_col).cast("array<double>"))
    unit = F.expr(
        "element_at(transform(array(_uv_src), v -> "
        "  element_at(transform(array(sqrt(aggregate(v, cast(0.0 as double), "
        "                                  (acc, x) -> acc + x * x))), n -> "
        "    transform(v, x -> CASE WHEN n = 0.0 THEN cast(0.0 as double) "
        "                           ELSE x / n END)), 1)), 1)"
    )
    return staged.withColumn("unit_vec", unit).drop("_uv_src")


def _guarded(df: DataFrame, max_rows: int | None, what: str) -> DataFrame:
    """Scale guard for exactness baselines: refuse inputs past max_rows so
    an O(n²)/cross-product baseline can't be pointed at a corpus by
    accident.

    The guard is LAZY — a single-row broadcast relation carrying an
    execution-time raise_error, cross-joined into the plan — so building
    the operator launches no Spark job (the eager limit(n+1).count()
    probe of the round-3 version was itself the plan-construction-job
    antipattern this module's docstrings forbid, and it recomputed a
    possibly expensive derived input twice). The probe branch reads at
    most max_rows+1 rows of `df`'s lineage, inside the same job."""
    if max_rows is None:
        return df
    probe = df.select(F.lit(1).alias("_probe")).limit(max_rows + 1)
    guard = probe.groupBy().agg(F.count("*").alias("_n")).select(
        F.when(
            F.col("_n") > max_rows,
            F.raise_error(
                F.lit(
                    f"{what}: input exceeds max_rows={max_rows}. This operator "
                    "is an exactness BASELINE with quadratic/cross-product "
                    "cost — use the LSH/IVF variant at corpus scale, or pass "
                    "max_rows=None (or a higher bound) if the blowup is "
                    "intentional."
                )
            ),
        )
        .otherwise(F.lit(True))
        .alias("_guard_ok")
    )
    # the filter REFERENCES _guard_ok: without it, column pruning removes
    # the unused when()/raise_error projection and the guard never fires
    return df.join(F.broadcast(guard)).where(F.col("_guard_ok")).drop("_guard_ok")


def brute_force_topk(
    df: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_queries: int | None = 10_000,
) -> DataFrame:
    """Exact cosine top-k. The (small) query set is broadcast, so the scan
    over the big side is shuffle-free; the only shuffle is the per-query
    rank. Returns (query_id, neighbor_id, rank) — ids only, so the result
    is float-rounding-proof for oracle comparison.

    Cost is |df| × |queries| score evaluations: exact and fine for a
    bounded query set against any corpus size, but unbounded Q makes it a
    full cross product — max_queries guards that (None disables)."""
    queries = _guarded(queries, max_queries, "brute_force_topk")
    from ..plans.parallelism import ensure_scan_parallelism

    # r7: a single-row-group parquet corpus scans as ONE task, running
    # every per-pair dot product single-core; no-op when already parallel
    base = with_unit_vectors(ensure_scan_parallelism(df), vec_col).select(
        F.col(id_col).alias("neighbor_id"), "unit_vec"
    )
    qs = with_unit_vectors(queries, vec_col).select(
        F.col(id_col).alias("query_id"), F.col("unit_vec").alias("query_vec")
    )
    scored = base.join(F.broadcast(qs), F.col("neighbor_id") != F.col("query_id")).withColumn(
        "score", _dot(F.col("unit_vec"), F.col("query_vec"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def make_planes(dim: int, n_planes: int = 8, seed: int = 42):
    import numpy as np

    rng = np.random.RandomState(seed)
    return [list(rng.randn(dim)) for _ in range(n_planes)]


def _band_bucket_expr(vec_name: str, band: int, per_band: int) -> "F.Column":
    """Bucket of one band: sign bits of the vector against planes
    [band*per_band, (band+1)*per_band) of the broadcast `hp_planes` matrix
    column, packed into a long. All data lives in the (single-row,
    broadcast) planes relation — the expression tree stays O(n_bands),
    not O(n_planes x dim) literal nodes (at dim=768 the literal form is
    thousands of nodes per signature; plan-bloat flagged in round 1).

    The vector is BOUND as a lambda variable: as a staged single-reference
    column, CollapseProject would re-inline its cast into the per-plane
    lambda (one O(dim) array rebuild per plane per row)."""
    return F.expr(
        f"element_at(transform(array({vec_name}), vv -> "
        f"aggregate(sequence(0, {per_band - 1}), cast(0 as bigint), (acc, r) -> "
        f"  acc + CASE WHEN aggregate("
        f"      zip_with(vv, element_at(hp_planes, {band * per_band} + r + 1), (x, y) -> x * y),"
        f"      cast(0.0 as double), (a, v) -> a + v) >= 0 "
        f"    THEN shiftleft(cast(1 as bigint), r) ELSE cast(0 as bigint) END)"
        f"), 1)"
    )


def with_hyperplane_bands(
    df: DataFrame,
    planes: list,
    n_bands: int,
    vec_col: str = "embedding",
) -> DataFrame:
    """Explode each row into (band, bucket) pairs — multi-band random-
    hyperplane LSH (OR-construction, like MinHash banding): a pair is a
    candidate if ANY band bucket matches, so recall rises with n_bands
    while per-bucket population stays 1/2^(n_planes/n_bands) of the data.
    The planes ride in as ONE broadcast single-row relation."""
    if n_bands < 1 or len(planes) % n_bands != 0:
        raise ValueError(f"n_planes={len(planes)} not divisible by n_bands={n_bands}")
    per_band = len(planes) // n_bands
    spark = df.sparkSession
    planes_df = spark.createDataFrame(pa.table({"hp_planes": pa.array(
        [[list(map(float, p)) for p in planes]], pa.list_(pa.list_(pa.float64())))}))
    staged = df.withColumn("_hp_vec", F.col(vec_col).cast("array<double>"))
    joined = staged.join(F.broadcast(planes_df))
    bands = F.posexplode(
        F.array(*[_band_bucket_expr("_hp_vec", b, per_band) for b in range(n_bands)])
    )
    return joined.select(
        *[c for c in df.columns], bands.alias("band", "bucket")
    )


def lsh_bucketed_topk(
    df: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    seed: int = 42,
    dim: int | None = None,
    n_bands: int = 1,
) -> DataFrame:
    """Approximate top-k: score only vectors sharing a hyperplane band
    bucket with the query. At 10^12 scale the bucket column becomes the
    table's physical partition key so the probe prunes to
    1/2^(n_planes/n_bands) of the data per band; raise n_bands for recall
    (every single-band candidate is also a multi-band candidate).

    `dim` is required: sniffing it from the data would launch a Spark job
    during plan construction (a driver-side `.first()` per call)."""
    if dim is None:
        raise ValueError(
            "dim is required (embedding dimensionality): inferring it via "
            "df.first() would launch a Spark job during plan construction"
        )
    planes = make_planes(dim, n_planes, seed)
    from ..plans.parallelism import ensure_scan_parallelism

    base = with_hyperplane_bands(
        with_unit_vectors(ensure_scan_parallelism(df), vec_col).select(
            F.col(id_col).alias("neighbor_id"), "unit_vec"
        ),
        planes, n_bands, vec_col="unit_vec",
    )
    qs = with_hyperplane_bands(
        with_unit_vectors(queries, vec_col).select(
            F.col(id_col).alias("query_id"), F.col("unit_vec").alias("query_vec")
        ),
        planes, n_bands, vec_col="query_vec",
    )
    cand = base.join(
        F.broadcast(qs),
        (F.col("neighbor_id") != F.col("query_id"))
        & (base["band"] == qs["band"])
        & (base["bucket"] == qs["bucket"]),
    )
    if n_bands > 1:
        # a pair matching in several bands must score once, not n times
        cand = cand.groupBy("query_id", "neighbor_id").agg(
            F.first("unit_vec").alias("unit_vec"),
            F.first("query_vec").alias("query_vec"),
        )
    scored = cand.withColumn("score", _dot(F.col("unit_vec"), F.col("query_vec")))
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def cosine_near_pairs_exact(
    df: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_rows: int | None = 100_000,
) -> DataFrame:
    """EXACT embedding-cosine near-duplicate pairs: all-pairs scoring,
    ids-only output (float scores are not engine-portable; membership at a
    threshold is). O(n²) — the correctness baseline the LSH variant is
    judged against, and the right tool for bounded candidate corpora
    (e.g. within-cluster verification). max_rows refuses corpus-scale
    inputs (None disables); cosine_near_pairs is the scale path."""
    df = _guarded(df, max_rows, "cosine_near_pairs_exact")
    from ..plans.parallelism import ensure_scan_parallelism

    base = with_unit_vectors(ensure_scan_parallelism(df), vec_col).select(
        F.col(id_col).alias("id"), "unit_vec")
    a, b = base.alias("a"), base.alias("b")
    return (
        a.join(b, F.col("a.id") < F.col("b.id"))
        .withColumn("score", _dot(F.col("a.unit_vec"), F.col("b.unit_vec")))
        .where(F.col("score") >= threshold)
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
    )


def cosine_near_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 16,
    seed: int = 42,
    dim: int | None = None,
    n_bands: int = 2,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, multi-band LSH-bucketed:
    pairs are scored only when some band bucket matches. Bucket population
    is data/2^(n_planes/n_bands) per band — sized so the within-bucket
    self-join stays near-linear; n_bands buys back the recall that the
    deeper buckets cost (OR-construction)."""
    if dim is None:
        raise ValueError(
            "dim is required (embedding dimensionality): inferring it via "
            "df.first() would launch a Spark job during plan construction"
        )
    planes = make_planes(dim, n_planes, seed)
    from ..plans.parallelism import ensure_scan_parallelism

    base = with_hyperplane_bands(
        with_unit_vectors(ensure_scan_parallelism(df), vec_col).select(
            F.col(id_col).alias("id"), "unit_vec"),
        planes, n_bands, vec_col="unit_vec",
    )
    a, b = base.alias("a"), base.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(
            F.first(F.col("a.unit_vec")).alias("va"),
            F.first(F.col("b.unit_vec")).alias("vb"),
        )
    )
    return (
        pairs.withColumn("score", _dot(F.col("va"), F.col("vb")))
        .where(F.col("score") >= threshold)
        .select(
            "id_a",
            "id_b",
            F.round("score", 6).alias("cosine"),
        )
    )
