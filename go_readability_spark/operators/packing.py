"""Training-sequence packing: place every document at its exact global
token offset and derive which fixed-length training sequences it spans.

Pretraining pipelines concatenate the whole tokenized corpus in a
deterministic document order and cut it every `seq_len` tokens (documents
cross sequence boundaries; nothing is padded or dropped). The per-doc
quantities that drive sharding and provenance are therefore exact GLOBAL
prefix sums of token counts — a classic distributed scan.

The naive Spark spelling — `sum().over(Window.orderBy(id))` with no
partitionBy — funnels the entire corpus through ONE task and is the
textbook 100 TB anti-pattern. This operator does the standard two-phase
prefix sum instead:

  1. block id = floor(id / block_size)  (pure arithmetic — deterministic,
     unlike rangepartitioning's sampled boundaries)
  2. per-block token totals: ONE map-side-combined aggregation, yielding
     n_blocks tiny rows
  3. exclusive running offsets over those block totals on the driver,
     broadcast back
  4. within each block: a window cumsum bounded by block_size rows

Sizing block_size at scale: the driver materializes n_blocks =
id_range / block_size rows (id_RANGE, not doc count — floor(id /
block_size) only lands ~block_size docs per block when ids are DENSE).
The 100_000 default keeps the driver list at 10^6 rows up to 10^11
dense ids; at 10^12 docs raise it to ~10^6 so the collect stays ~10^6
rows rather than 10^7. For SPARSE ids (63-bit url hashes) the ratio
id_range/block_size is what counts: pick block_size ≈ 2^63 / 10^6, or
rank-compact the ids first — otherwise nearly every doc gets its own
block and the driver collect degenerates to one row per document.

Every arithmetic step is integer, so results are bit-exact and order-
independent — the DuckDB oracle reproduces them with a plain window
cumsum.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, Window, functions as F


def with_token_offsets(
    df: DataFrame,
    tokens_col: str = "n_tokens",
    id_col: str = "doc_id",
    block_size: int = 100_000,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Adds `start_offset` / `end_offset`: the half-open global token span
    [start, end) of each document when the corpus is concatenated in
    ascending `id_col` order. Exact (integer prefix sums).

    `id_col` must be unique for the layout to be deterministic; when it
    can collide (e.g. a hash of a crawl URL), pass `tiebreak_col` — the
    within-block cumsum then orders by (id, tiebreak) so tied ids get a
    stable order across runs/retries instead of whatever the shuffle
    delivered."""
    if block_size <= 0:
        raise ValueError(f"block_size must be positive, got {block_size}")
    # integer `div` (monotonic in id, exact for 63-bit hash-derived ids
    # where double division is not); block ranges stay disjoint and
    # id-ordered, which is all the two-phase scan needs
    blk = F.expr(f"{id_col} div {int(block_size)}")
    staged = df.withColumn("_pk_blk", blk)

    totals = (
        staged.groupBy("_pk_blk")
        .agg(F.sum(tokens_col).alias("_pk_sum"))
        .collect()
    )
    running, blocks, starts = 0, [], []
    for row in sorted(totals, key=lambda r: r["_pk_blk"]):
        blocks.append(row["_pk_blk"])
        starts.append(running)
        running += row["_pk_sum"]
    off = df.sparkSession.createDataFrame(pa.table({
        "_pk_blk": pa.array(blocks, pa.int64()), "_pk_off": pa.array(starts, pa.int64())}))

    order = [F.col(id_col).asc()]
    if tiebreak_col is not None:
        order.append(F.col(tiebreak_col).asc())
    w = (
        Window.partitionBy("_pk_blk")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = (
        staged.join(F.broadcast(off), "_pk_blk")
        .withColumn(
            "start_offset",
            F.col("_pk_off") + F.sum(tokens_col).over(w) - F.col(tokens_col),
        )
        .withColumn("end_offset", F.col("start_offset") + F.col(tokens_col))
        .drop("_pk_blk", "_pk_off")
    )
    return out


def with_sequence_spans(
    df: DataFrame,
    seq_len: int,
    tokens_col: str = "n_tokens",
    id_col: str = "doc_id",
    block_size: int = 100_000,
) -> DataFrame:
    """Adds `first_seq` / `last_seq`: the inclusive range of seq_len-token
    training sequences this document's tokens land in (empty documents
    occupy no tokens and get first_seq == last_seq == the sequence their
    offset points at, for stable provenance)."""
    if seq_len <= 0:
        raise ValueError(f"seq_len must be positive, got {seq_len}")
    staged = with_token_offsets(
        df, tokens_col=tokens_col, id_col=id_col, block_size=block_size
    )
    # integer `div`, not floor(x / L): double division loses exactness
    # past 2^53 and a 10^12-doc corpus holds ~10^16 tokens
    first = F.expr(f"start_offset div {int(seq_len)}")
    last = F.when(
        F.col(tokens_col) > 0, F.expr(f"(end_offset - 1) div {int(seq_len)}")
    ).otherwise(first)
    return staged.withColumn("first_seq", first).withColumn("last_seq", last)


def sequence_manifest(
    df: DataFrame,
    seq_len: int,
    tokens_col: str = "n_tokens",
    id_col: str = "doc_id",
    block_size: int = 100_000,
) -> DataFrame:
    """One row per (sequence, contributing document): the shard-builder's
    work list. `take_from`/`take_to` are the half-open token slice of the
    DOCUMENT that lands in this sequence — a writer can materialize any
    sequence by concatenating its rows in doc order. Explode width per doc
    is O(doc_tokens / seq_len), so total output rows ≈ corpus_tokens /
    seq_len + n_docs: linear, no skew amplification."""
    spans = with_sequence_spans(
        df, seq_len, tokens_col=tokens_col, id_col=id_col, block_size=block_size
    ).where(F.col(tokens_col) > 0)
    seq = F.explode(F.sequence(F.col("first_seq"), F.col("last_seq"))).alias(
        "seq_id"
    )
    staged = spans.select(id_col, tokens_col, "start_offset", "end_offset", seq)
    lo = F.greatest(F.col("seq_id") * seq_len, F.col("start_offset"))
    hi = F.least((F.col("seq_id") + 1) * seq_len, F.col("end_offset"))
    return staged.select(
        "seq_id",
        F.col(id_col),
        (lo - F.col("start_offset")).alias("take_from"),
        (hi - F.col("start_offset")).alias("take_to"),
    )
