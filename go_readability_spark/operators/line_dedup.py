"""Corpus-level boilerplate line removal (the CCNet/C4 passage-dedup
step): a line that appears in many documents is navigation/footer/cookie
boilerplate, not content — drop it from every document while preserving
the order (and the blank-line paragraph structure) of what remains.

Plan:
  docs → posexplode(ALL lines) ONCE, persisted (1 narrow pass — the df
         pass, the keep/drop marking, and the regroup all reuse it)
       → line fingerprint document-frequency  (groupBy md5 — 1 shuffle,
                                               map-side combined)
       → ONE left join against hot fingerprints (broadcast: the hot set is
                                               tiny by construction — only
                                               lines with df > threshold)
       → regroup by doc, order by position    (1 shuffle)

Blank lines are never fingerprinted and never dropped — they carry the
paragraph boundaries downstream quality filters split on. A document
whose every content line is boilerplate still yields an output row
(empty-ish clean_text, full n_lines_dropped accounting) — documents never
vanish from a cleaning operator. Engine-portable fingerprints (md5) — the
DuckDB oracle reproduces the whole pipeline bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def _exploded_lines(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, pos, line, fingerprint) for EVERY line; fingerprint is null
    for blank (trimmed-empty) lines."""
    return (
        df.select(
            F.col(id_col).alias("id"),
            F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
        )
        .withColumn(
            "fingerprint",
            F.when(F.trim("line") != "", F.md5(F.trim(F.col("line")))),
        )
    )


def remove_boilerplate_lines(
    df: DataFrame,
    max_df: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, clean_text, n_lines_kept, n_lines_dropped): documents with
    every content line that occurs in more than `max_df` documents
    removed; remaining lines (blank lines included) rejoined in original
    order. Counts are over CONTENT (non-blank) lines. Every input
    document appears in the output."""
    exploded = _exploded_lines(df, id_col, text_col).persist()
    freq = (
        exploded.where(F.col("fingerprint").isNotNull())
        .select("id", "fingerprint")
        .distinct()
        .groupBy("fingerprint")
        .agg(F.count("*").alias("df"))
    )
    hot = (
        freq.where(F.col("df") > max_df)
        .select("fingerprint", F.lit(True).alias("_hot"))
    )
    # one join marks every line; blank lines (null fingerprint) never match
    marked = exploded.join(F.broadcast(hot), "fingerprint", "left")
    kept = marked.where(F.col("_hot").isNull())
    rebuilt = kept.groupBy("id").agg(
        F.array_join(
            F.expr(
                "transform(array_sort(collect_list(struct(pos, line))), s -> s.line)"
            ),
            "\n",
        ).alias("clean_text"),
        F.sum(F.when(F.col("fingerprint").isNotNull(), 1).otherwise(0))
        .alias("n_lines_kept"),
    )
    dropped = (
        marked.where(F.col("_hot").isNotNull())
        .groupBy("id")
        .agg(F.count("*").alias("n_lines_dropped"))
    )
    ids = df.select(F.col(id_col).alias("id")).distinct()
    return (
        ids.join(rebuilt, "id", "left")
        .join(dropped, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.coalesce("n_lines_kept", F.lit(0)).cast("long").alias("n_lines_kept"),
            F.coalesce("n_lines_dropped", F.lit(0)).cast("long")
            .alias("n_lines_dropped"),
        )
    )
