"""IVF (inverted-file) approximate nearest neighbor over an embedding
column — the classic coarse-quantizer scale path next to the hyperplane
LSH in .similarity:

  build:  train k centroids (mini Lloyd iterations, spherical k-means),
          assign every vector to its nearest centroid = its BUCKET
  probe:  a query scores only vectors in its `nprobe` nearest buckets

At 10^12 rows the bucket becomes the table's physical partition key, so a
probe prunes the scan to nprobe/k of the data; the index build is an
explicit (and cheap: one pass per Lloyd round) batch job, NOT something
that happens during query-plan construction. Exactness knob: with
nprobe == k the probe covers every bucket and results equal brute force
(locked in by tests).

Centroids travel as plain Python lists (k x dim — kilobytes), shipped to
executors inside ONE broadcast single-row relation (same discipline as
similarity.with_hyperplane_bands: no O(k x dim) literal expression trees).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, Window, functions as F

from .similarity import _dot, with_unit_vectors


def _with_matrix(df: DataFrame, matrix, col_name: str) -> DataFrame:
    mdf = df.sparkSession.createDataFrame(pa.table({col_name: pa.array(
        [[list(map(float, row)) for row in matrix]],
        pa.list_(pa.list_(pa.float64())))}))
    return df.join(F.broadcast(mdf))


def _dots_expr(vec_name: str) -> "F.Column":
    return F.expr(
        f"transform(_ivf_cents, c -> "
        f"aggregate(zip_with({vec_name}, c, (x, y) -> x * y), "
        f"cast(0.0 as double), (a, v) -> a + v))"
    )


def assign_buckets(
    df: DataFrame, centroids, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """(id, unit_vec, bucket): nearest-centroid assignment, map-only."""
    base = with_unit_vectors(df, vec_col).select(F.col(id_col).alias("id"), "unit_vec")
    staged = _with_matrix(base, centroids, "_ivf_cents").withColumn(
        "_ivf_dots", _dots_expr("unit_vec")
    )
    return staged.select(
        "id",
        "unit_vec",
        (F.expr("array_position(_ivf_dots, array_max(_ivf_dots))").cast("int") - 1).alias("bucket"),
    )


def train_ivf_centroids(
    df: DataFrame,
    dim: int,
    k: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iterations: int = 3,
    seed: int = 42,
):
    """Spherical k-means, deterministically seeded: init = the k vectors
    with the smallest xxhash64(seed, id) (a uniform deterministic sample),
    then `iterations` Lloyd rounds (assign → per-bucket mean → renormalize).
    Each round is one assign pass + one (bucket, position) aggregation;
    the k x dim centroid matrix is collected to the driver — it is the
    INDEX, a few kilobytes, not data."""
    import numpy as np

    base = with_unit_vectors(df, vec_col).select(F.col(id_col).alias("id"), "unit_vec")
    init_rows = (
        base.orderBy(F.xxhash64(F.lit(seed), F.col("id")), F.col("id"))
        .limit(k)
        .collect()
    )
    bad = next((len(r.unit_vec) for r in init_rows if len(r.unit_vec) != dim), None)
    if bad is not None:
        raise ValueError(f"dim={dim} but embeddings have {bad} components")
    cents = np.array([r.unit_vec for r in init_rows], dtype="float64")
    if len(cents) < k:
        raise ValueError(f"need >= {k} vectors to train {k} centroids, got {len(cents)}")

    for _ in range(iterations):
        assigned = assign_buckets(df, cents.tolist(), id_col, vec_col)
        means = (
            assigned.select("bucket", F.posexplode("unit_vec").alias("pos", "val"))
            .groupBy("bucket", "pos")
            .agg(F.avg("val").alias("v"))
            .groupBy("bucket")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "v"))).alias("sv"))
            .select("bucket", F.expr("transform(sv, s -> s.v)").alias("centroid"))
            .collect()
        )
        new = cents.copy()  # empty buckets keep their old centroid
        for r in means:
            new[r.bucket] = r.centroid
        norms = np.linalg.norm(new, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        cents = new / norms
    return cents.tolist()


def ivf_topk(
    df: DataFrame,
    queries: DataFrame,
    centroids,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate cosine top-k probing the query's nprobe nearest
    buckets. Plan: base assigned once (bucket = partition key at scale);
    queries (small, broadcast) explode into nprobe probe rows; candidates
    come from ONE equi-join on bucket; one window shuffle ranks per
    query. nprobe == len(centroids) degrades gracefully to exact."""
    nprobe = min(nprobe, len(centroids))
    base = assign_buckets(df, centroids, id_col, vec_col).select(
        F.col("id").alias("neighbor_id"), "unit_vec", "bucket"
    )
    qbase = with_unit_vectors(queries, vec_col).select(
        F.col(id_col).alias("query_id"), F.col("unit_vec").alias("query_vec")
    )
    qstaged = _with_matrix(qbase, centroids, "_ivf_cents").withColumn(
        "_ivf_dots", _dots_expr("query_vec")
    )
    # indices of the nprobe largest dots: sort (dot desc, index asc), slice
    probes = qstaged.select(
        "query_id",
        "query_vec",
        F.explode(
            F.expr(
                f"transform(slice(array_sort(zip_with(_ivf_dots, "
                f"sequence(0, size(_ivf_dots) - 1), "
                f"(d, i) -> named_struct('nd', -d, 'i', i))), "
                f"1, {nprobe}), s -> s.i)"
            )
        ).alias("bucket"),
    )
    scored = base.join(F.broadcast(probes), "bucket").where(
        F.col("neighbor_id") != F.col("query_id")
    ).withColumn("score", _dot(F.col("unit_vec"), F.col("query_vec")))
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )
