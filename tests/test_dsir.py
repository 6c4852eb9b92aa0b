"""DSIR importance resampling (operators/dsir.py) vs a pure-Python
reference with identical hashing/quantization."""

import hashlib
import math

import pytest

from go_readability_spark.operators import dsir_weights

N_BUCKETS = 50
ALPHA = 1.0


def _h32(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def _feats(text: str):
    toks = [t for t in text.lower().strip().split() if t]
    grams = toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]
    return [_h32(g) % N_BUCKETS for g in grams]


def _ref_weights(raw, target):
    def dist(docs):
        counts = {}
        n = 0
        for _, text in docs:
            for b in _feats(text):
                counts[b] = counts.get(b, 0) + 1
                n += 1
        denom = n + ALPHA * N_BUCKETS
        return {b: (counts.get(b, 0) + ALPHA) / denom
                for b in range(N_BUCKETS)}

    p_t, p_r = dist(target), dist(raw)
    lr = {b: round(math.log(p_t[b] / p_r[b]) * 1e6) for b in range(N_BUCKETS)}
    out = {}
    for i, text in raw:
        fs = _feats(text)
        if fs:
            out[i] = (len(fs), sum(lr[b] for b in fs))
    return out

RAW = [
    (0, "the cat sat on the mat"),
    (1, "stock market prices rose sharply today"),
    (2, "the dog sat on the log"),
    (3, "buy cheap pills online now now now"),
    (4, "a treatise on the nature of cats and dogs"),
    (5, ""),
]
TARGET = [
    (10, "the cat and the dog are friends"),
    (11, "cats sat quietly near dogs"),
]


@pytest.fixture(scope="module")
def dfs(spark):
    raw = spark.createDataFrame(RAW, "doc_id long, text string")
    tgt = spark.createDataFrame(TARGET, "doc_id long, text string")
    return raw, tgt


def test_weights_match_pure_python(spark, dfs):
    raw, tgt = dfs
    got = {r.doc_id: (r.n_feats, r.w_micro)
           for r in dsir_weights(raw, tgt, n_buckets=N_BUCKETS).collect()}
    assert got == _ref_weights(RAW, TARGET)


def test_weights_favor_target_like_docs(spark, dfs):
    raw, tgt = dfs
    w = {r.doc_id: r.w_micro / r.n_feats
         for r in dsir_weights(raw, tgt, n_buckets=N_BUCKETS).collect()}
    # cat/dog docs should outrank spam under a cat/dog target
    assert w[0] > w[3] and w[2] > w[3] and w[4] > w[3]


def test_empty_doc_absent(spark, dfs):
    raw, tgt = dfs
    ids = {r.doc_id for r in dsir_weights(raw, tgt, n_buckets=N_BUCKETS).collect()}
    assert 5 not in ids and ids == {0, 1, 2, 3, 4}


def test_plan_shape(spark, dfs):
    raw, tgt = dfs
    plan = dsir_weights(raw, tgt, n_buckets=N_BUCKETS) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
