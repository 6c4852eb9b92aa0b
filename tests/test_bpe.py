"""Distributed BPE training vs an independent pure-Python reference
(identical tie-breaking)."""

from collections import Counter

import pytest

from go_readability_spark.operators.bpe import (
    END_OF_WORD,
    train_bpe,
    word_freq_table,
)

TEXTS = [
    "the lower the newer the lowest",
    "lower lower newest newest newest wide",
    "low low low lowing widely the the",
    "new newer newest lowering",
]


def py_train_bpe(texts, num_merges, min_count=2):
    wf = Counter()
    for t in texts:
        for w in t.lower().split():
            wf[w] += 1
    words = {w: (list(w) + [END_OF_WORD], c) for w, c in wf.items()}
    merges = []
    for _ in range(num_merges):
        pc = Counter()
        for syms, c in words.values():
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += c
        if not pc:
            break
        (left, right), count = min(
            pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        if count < min_count:
            break
        merges.append((left, right))
        for w, (syms, c) in words.items():
            merged, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
                    merged.append(left + right)
                    i += 2
                else:
                    merged.append(syms[i])
                    i += 1
            words[w] = (merged, c)
    return merges


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(TEXTS)], "doc_id long, text string"
    )


def test_word_freq_table(spark, corpus):
    rows = {tuple(r.symbols): r.freq for r in word_freq_table(corpus).collect()}
    assert rows[("t", "h", "e", END_OF_WORD)] == 5
    assert rows[("l", "o", "w", END_OF_WORD)] == 3


def test_train_matches_pure_python_reference(spark, corpus):
    got = train_bpe(corpus, num_merges=12, checkpoint_every=4)
    want = py_train_bpe(TEXTS, num_merges=12)
    assert got == want, f"\nspark: {got}\npy   : {want}"
    assert len(got) >= 8  # corpus is rich enough to actually train


def test_train_matches_pure_python_reference_on_sf_corpus(spark):
    """The same equality on corpus text (sf0.001 documents): a far larger
    vocabulary and deeper merge chains than TEXTS."""
    import os

    path = "/root/testdata/sf0.001/documents.parquet"
    if not os.path.exists(path):
        pytest.skip("testdata missing")
    docs = spark.read.parquet(path)
    texts = [r.text for r in docs.select("text").collect()]
    got = train_bpe(docs, num_merges=30, checkpoint_every=10)
    assert got == py_train_bpe(texts, num_merges=30)
