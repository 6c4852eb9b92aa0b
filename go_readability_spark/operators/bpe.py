"""Distributed BPE (byte-pair-encoding) tokenizer training — the classic
Sennrich et al. 2016 algorithm as an iterative Spark job, for corpora too
large to count words on one machine:

  word-frequency table (DISTRIBUTED, one shuffle to build)
    per merge round:
      1. explode adjacent symbol pairs weighted by word freq
      2. groupBy pair, sum — pick the argmax (ONE row to the driver;
         ties break lexicographically so training is deterministic)
      3. apply the merge to every word's symbol array (Arrow-batched
         mapInPandas — the in-word merge is sequential by nature)

Each round is two shuffles over the ~|vocab|-row word table (NOT the
corpus — the corpus is touched exactly once). The word table is persisted
per round and localCheckpoint-ed periodically to bound plan lineage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

END_OF_WORD = "</w>"
_WORDS_SCHEMA = "symbols array<string>, freq long"


def word_freq_table(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(symbols, freq): whitespace words of the corpus as char-symbol
    arrays with an end-of-word marker. One shuffle (groupBy word)."""
    words = F.expr(f"filter(split(trim(lower({text_col})), '\\\\s+'), x -> x != '')")
    wf = (
        df.select(F.explode(words).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )
    symbols = F.expr(f"concat(split(word, ''), array('{END_OF_WORD}'))")
    return wf.select(symbols.alias("symbols"), "freq")


def _pair_counts(words: DataFrame) -> DataFrame:
    pairs = F.expr(
        "CASE WHEN size(symbols) < 2 THEN array() "
        "ELSE transform(sequence(1, size(symbols) - 1), "
        "     i -> struct(element_at(symbols, i) AS left, "
        "                 element_at(symbols, i + 1) AS right)) END"
    )
    return (
        words.select(F.explode(pairs).alias("pair"), "freq")
        .groupBy("pair")
        .agg(F.sum("freq").alias("count"))
    )


def _apply_merge(words: DataFrame, left: str, right: str) -> DataFrame:
    """Merge every adjacent (left, right) into left+right. Sequential scan
    per word (BPE merges are inherently order-dependent within a word) —
    Arrow-batched; the word table is small relative to the corpus."""
    import pandas as pd

    def merge(batches):
        for pdf in batches:
            out_syms = []
            for syms in pdf["symbols"]:
                syms = list(syms)
                merged, i, n = [], 0, len(syms)
                while i < n:
                    if i + 1 < n and syms[i] == left and syms[i + 1] == right:
                        merged.append(left + right)
                        i += 2
                    else:
                        merged.append(syms[i])
                        i += 1
                out_syms.append(merged)
            yield pd.DataFrame({"symbols": out_syms, "freq": pdf["freq"]})

    return words.mapInPandas(merge, schema=_WORDS_SCHEMA)


def train_bpe(
    df: DataFrame,
    text_col: str = "text",
    num_merges: int = 50,
    min_pair_count: int = 2,
    checkpoint_every: int = 10,
    table_partitions: int = 4,
) -> list[tuple[str, str]]:
    """Ordered merge list. Deterministic: the best pair each round is the
    (count DESC, left ASC, right ASC) argmax; training stops early when no
    pair reaches min_pair_count.

    `table_partitions` sizes the word-frequency table: it is |vocab| rows
    (tiny next to the corpus — ~10^8 even at 100 TB), and every merge
    round launches tasks per partition, so inheriting the corpus-sized
    shuffle partitioning makes each round pay ~10x task overhead
    (measured: 16 rounds dropped from 94s to seconds at sf0.01)."""
    words = (
        word_freq_table(df, text_col).coalesce(table_partitions).persist()
    )
    merges: list[tuple[str, str]] = []
    prev = None
    for it in range(num_merges):
        # this argmax job also materializes `words`' cache, so the
        # PREVIOUS table can only be unpersisted after it (one job per
        # round instead of an extra eager count)
        best = (
            _pair_counts(words)
            .orderBy(F.desc("count"), F.asc("pair.left"), F.asc("pair.right"))
            .limit(1)
            .collect()
        )
        if prev is not None:
            prev.unpersist()
            prev = None
        if not best or best[0]["count"] < min_pair_count:
            break
        left, right = best[0]["pair"]["left"], best[0]["pair"]["right"]
        merges.append((left, right))
        nxt = _apply_merge(words, left, right)
        if checkpoint_every and (it + 1) % checkpoint_every == 0:
            nxt = nxt.localCheckpoint(eager=True)
            words.unpersist()
        else:
            nxt = nxt.persist()
            prev = words
        words = nxt
    if prev is not None:
        prev.unpersist()
    words.unpersist()
    return merges
