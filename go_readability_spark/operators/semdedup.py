"""SemDeDup-style semantic deduplication over an embedding column.

Follows the shape of SemDeDup (Abbas et al., 2023, arXiv:2303.09540):
cluster the corpus embeddings with a coarse k-means index, then inside
each cluster score pairwise cosine similarity and drop all but one
member of every near-duplicate group. Clustering is what makes the
pairwise step tractable at scale — pair candidates are bounded to
O(n²/k) within clusters instead of all-pairs, and the cluster id is a
plain equi-join key (at 10^12 rows it becomes the table's physical
partition key, same as the IVF probe path in operators/ivf.py).

Skew control (``max_cluster_size``): k-means on real embeddings skews —
a boilerplate flood or a degenerate (zero-ish) embedding mode can land
10^6 rows in ONE centroid, making the within-cluster pair join O(n²) on
a single hot key. Oversized clusters are therefore split into
ceil(size / cap) deterministic sub-buckets by an md5 salt of the id
before the pair join; pairs are only compared within a sub-bucket. That
bounds per-key join fan-out to ~cap rows (in expectation — the salt is
a uniform hash) at an ε recall cost on the split clusters, the same
trade the LSH/band caps in operators/dedup.py make. The split is a
pure function of (id, cluster population), so the DuckDB oracle replays
it exactly and results stay deterministic at any parallelism.

Representative selection: the paper keeps the member with the lowest
similarity to the cluster centroid; this implementation keeps the
LOWEST ID of each duplicate group (drop i iff some j < i in the same
cluster has cos(i, j) >= threshold). That rule is deterministic,
engine-portable (the driver's DuckDB oracle replays it exactly), and
keeps the same number of representatives per group.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.text import md5_prefix_long
from .ivf import assign_buckets
from .similarity import _dot


def _with_salt_sub(assigned: DataFrame, max_cluster_size: int | None) -> DataFrame:
    """Add a `sub` split key: 0 everywhere except clusters larger than
    ``max_cluster_size``, which are salted into ceil(size/cap) sub-keys
    by md5(id) — deterministic, engine-portable. The sizes table is one
    row per cluster (k rows — kilobytes), hence the broadcast join."""
    if max_cluster_size is None:
        return assigned.withColumn("sub", F.lit(0).cast("int"))
    sizes = assigned.groupBy("bucket").agg(F.count("*").alias("_csize"))
    n_sub = F.greatest(
        F.lit(1).cast("long"),
        F.ceil(F.col("_csize").cast("double") / F.lit(max_cluster_size)),
    )
    return (
        assigned.join(F.broadcast(sizes), "bucket")
        .withColumn(
            "sub",
            F.pmod(md5_prefix_long(F.col("id").cast("string")), n_sub).cast("int"),
        )
        .drop("_csize")
    )


def semantic_dedup(
    df: DataFrame,
    centroids,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cluster_size: int | None = 10_000,
) -> DataFrame:
    """-> (id, bucket, keep): every input row, its cluster, and whether
    it survives semantic dedup. `centroids` is the trained k-means index
    (train_ivf_centroids, or any frozen k x dim matrix). Clusters larger
    than ``max_cluster_size`` are deterministically split before the
    pair join (see module docstring); pass ``None`` for the exact
    uncapped semantics."""
    assigned = _with_salt_sub(
        assign_buckets(df, centroids, id_col, vec_col), max_cluster_size
    )
    a = assigned.alias("a")
    # a sort-merge join on (bucket, sub) by choice: left to its size
    # estimate, Spark broadcasts one whole side when the input is small
    b = assigned.alias("b").hint("merge")
    dup_ids = (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.sub") == F.col("b.sub"))
            & (F.col("b.id") < F.col("a.id")),
        )
        .where(_dot(F.col("a.unit_vec"), F.col("b.unit_vec")) >= threshold)
        .select(F.col("a.id").alias("id"))
        .distinct()
    )
    return (
        assigned.join(dup_ids.withColumn("_dup", F.lit(True)), "id", "left")
        .select(
            "id",
            "bucket",
            F.coalesce(~F.col("_dup"), F.lit(True)).alias("keep"),
        )
    )


def duck_semantic_dedup_sql(centroids, threshold: float,
                            table: str = "embeddings",
                            max_cluster_size: int | None = 10_000) -> str:
    """DuckDB twin: same unit vectors, same first-index-argmax cluster
    assignment (centroid literals embedded), same md5-salt cluster split,
    same keep-lowest-id rule."""
    from .ann_oracle import duck_unit_cte, matrix_literal

    n_cents = len(centroids)
    if max_cluster_size is None:
        sub_expr = "0"
    else:
        sub_expr = (
            f"CAST(('0x' || substr(md5(CAST(assigned.id AS VARCHAR)), 1, 8)) AS BIGINT)"
            f" % greatest(1, CAST(ceil(CAST(csize AS DOUBLE) / {max_cluster_size}) AS BIGINT))"
        )
    return f"""
    WITH {duck_unit_cte(table)},
    cents AS (SELECT {matrix_literal(centroids)} AS c),
    assigned AS (
      SELECT u.id, u.uv,
        (SELECT r.r FROM range({n_cents}) r(r), cents
         ORDER BY list_dot_product(u.uv, cents.c[r.r + 1]) DESC, r.r ASC LIMIT 1) AS bucket
      FROM u
    ),
    sizes AS (SELECT bucket, count(*) AS csize FROM assigned GROUP BY bucket),
    salted AS (
      SELECT assigned.id, assigned.uv, assigned.bucket, {sub_expr} AS sub
      FROM assigned JOIN sizes USING (bucket)
    ),
    dups AS (
      SELECT DISTINCT a.id
      FROM salted a JOIN salted b
        ON a.bucket = b.bucket AND a.sub = b.sub AND b.id < a.id
      WHERE list_dot_product(a.uv, b.uv) >= {threshold}
    )
    SELECT salted.id, salted.bucket,
           (dups.id IS NULL) AS keep
    FROM salted LEFT JOIN dups ON salted.id = dups.id
    """
