"""Distributed Bloom seen-URL filter (operators/bloom.py): bit-exact
vs a pure-Python reference, zero false negatives, measured FP rate vs
theory, and the relational plan shape."""

import hashlib
import math

import pytest

from go_readability_spark.operators.bloom import bloom_build

N_BITS, K = 1 << 14, 5


def _py_positions(key, n_bits=N_BITS, k=K):
    out = []
    for i in range(k):
        h = int(hashlib.md5(f"bf{i}:{key}".encode()).hexdigest()[:16], 16)
        out.append(h % n_bits)
    return out


def _py_bitmap(keys, n_bits=N_BITS, k=K):
    words = {}
    for key in keys:
        for pos in _py_positions(key, n_bits, k):
            words[pos // 64] = words.get(pos // 64, 0) | (1 << (pos % 64))
    return words


def _signed64(v):
    return v - (1 << 64) if v >= (1 << 63) else v


@pytest.fixture(scope="module")
def seen_urls():
    return [f"https://h{i % 7}.example.org/p/{i}" for i in range(400)]


@pytest.fixture(scope="module")
def bloom(spark, seen_urls):
    df = spark.createDataFrame([(u,) for u in seen_urls], "url string")
    return bloom_build(df, n_bits=N_BITS, k=K).cache()


def test_bitmap_bit_exact_vs_pure_python(bloom, seen_urls):
    got = {r.word: r.bits for r in bloom.collect()}
    exp = {w: _signed64(b) for w, b in _py_bitmap(seen_urls).items()}
    assert got == exp
    assert "bit_or" in bloom._jdf.queryExecution().executedPlan().toString()


# ---------------------------------------------------------------- sharded

N_SHARDS = 5  # deliberately not a power of two


def _py_shard(key, n_shards=N_SHARDS):
    return int(hashlib.md5(f"bfshard:{key}".encode()).hexdigest()[:8],
               16) % n_shards


def _py_sharded_bitmap(keys, n_shards=N_SHARDS, n_bits=N_BITS, k=K):
    out = {}
    for key in keys:
        s = _py_shard(key, n_shards)
        for pos in _py_positions(key, n_bits, k):
            w = (s, pos // 64)
            out[w] = out.get(w, 0) | (1 << (pos % 64))
    return out


@pytest.fixture(scope="module")
def sharded_bloom(spark, seen_urls):
    from go_readability_spark.operators.bloom import bloom_build_sharded

    df = spark.createDataFrame([(u,) for u in seen_urls], "url string")
    return bloom_build_sharded(df, n_shards=N_SHARDS, bits_per_shard=N_BITS,
                               k=K).cache()


def test_sharded_bitmap_bit_exact_vs_pure_python(sharded_bloom, seen_urls):
    got = {(r.shard, r.word): r.bits for r in sharded_bloom.collect()}
    exp = {w: _signed64(b) for w, b in _py_sharded_bitmap(seen_urls).items()}
    assert got == exp
    assert len({s for s, _ in got}) == N_SHARDS  # every shard populated


def test_sharded_slice_equals_flat_filter_of_shard_keys(spark, sharded_bloom,
                                                        seen_urls):
    """Each (shard,) slice must be bit-identical to bloom_build run over
    just that shard's keys — the defining property of the layout."""
    for s in range(N_SHARDS):
        keys = [u for u in seen_urls if _py_shard(u) == s]
        flat = bloom_build(
            spark.createDataFrame([(u,) for u in keys], "url string"),
            n_bits=N_BITS, k=K)
        assert ({r.word: r.bits for r in flat.collect()}
                == {r.word: r.bits
                    for r in sharded_bloom.where(f"shard = {s}").collect()})


def test_sharded_zero_false_negatives(spark, sharded_bloom, seen_urls):
    from go_readability_spark.operators.bloom import (
        bloom_maybe_seen_sharded,
        filter_unseen_sharded,
    )

    df = spark.createDataFrame([(u,) for u in seen_urls], "url string")
    out = bloom_maybe_seen_sharded(df, sharded_bloom, n_shards=N_SHARDS,
                                   bits_per_shard=N_BITS, k=K)
    assert out.where("NOT maybe_seen").count() == 0
    assert filter_unseen_sharded(df, sharded_bloom, n_shards=N_SHARDS,
                                 bits_per_shard=N_BITS, k=K).count() == 0


def test_sharded_false_positive_rate_near_theory(spark, sharded_bloom,
                                                 seen_urls):
    """Per-shard load is ~n/S keys into n_bits bits, so the sharded FP
    theory uses the per-shard fill — within 3x at this sample size."""
    from go_readability_spark.operators.bloom import filter_unseen_sharded

    fresh = [f"https://new{i}.example.net/x/{i}" for i in range(3000)]
    df = spark.createDataFrame([(u,) for u in fresh], "url string")
    kept = filter_unseen_sharded(df, sharded_bloom, n_shards=N_SHARDS,
                                 bits_per_shard=N_BITS, k=K).count()
    fp = 1.0 - kept / len(fresh)
    theory = (1.0 - math.exp(-K * (len(seen_urls) / N_SHARDS) / N_BITS)) ** K
    assert fp <= max(3 * theory, 0.01), (fp, theory)


def test_sharded_null_key_unseen(spark, sharded_bloom):
    """A NULL key was never inserted, so it is definitely unseen: the
    verdict join keeps it.  The filter keeps every column of its input
    (`crawl-plan --seen-bloom` carries the whole plan through it)."""
    from go_readability_spark.operators.bloom import (
        bloom_maybe_seen_sharded,
        filter_unseen_sharded,
    )

    df = spark.createDataFrame(
        [("https://newx.example.net/1", 1), (None, 2)],
        "url string, payload int")
    out = {r.payload: r.maybe_seen
           for r in bloom_maybe_seen_sharded(
               df, sharded_bloom, n_shards=N_SHARDS,
               bits_per_shard=N_BITS, k=K).collect()}
    assert out == {1: False, 2: False}
    kept = filter_unseen_sharded(df, sharded_bloom, n_shards=N_SHARDS,
                                 bits_per_shard=N_BITS, k=K)
    assert kept.columns == df.columns
    assert sorted(kept.collect(), key=lambda r: r.payload) == [
        ("https://newx.example.net/1", 1), (None, 2)]


def test_sharded_merge_equals_filter_of_union(spark, seen_urls,
                                              sharded_bloom):
    from go_readability_spark.operators.bloom import (
        bloom_build_sharded,
        bloom_merge_sharded,
    )

    a_urls, b_urls = seen_urls[:150], seen_urls[150:]
    a = bloom_build_sharded(
        spark.createDataFrame([(u,) for u in a_urls], "url string"),
        n_shards=N_SHARDS, bits_per_shard=N_BITS, k=K)
    b = bloom_build_sharded(
        spark.createDataFrame([(u,) for u in b_urls], "url string"),
        n_shards=N_SHARDS, bits_per_shard=N_BITS, k=K)
    merged = {(r.shard, r.word): r.bits
              for r in bloom_merge_sharded(a, b).collect()}
    union = {(r.shard, r.word): r.bits for r in sharded_bloom.collect()}
    assert merged == union


def test_sharded_membership_plan_shape(spark, sharded_bloom):
    """Plan lock (VERDICT r5 #2): membership is an equi-join between the
    candidate probes and the (shard, word, bits) filter relation — no
    cartesian product, no Python eval, and the history table never
    appears (the filter IS the only stored state).  The probe join keys
    must include shard so no shard scans another shard's slice."""
    from go_readability_spark.operators.bloom import bloom_maybe_seen_sharded

    df = spark.createDataFrame([("https://q.example.org/1",)], "url string")
    plan = bloom_maybe_seen_sharded(
        df, sharded_bloom, n_shards=N_SHARDS, bits_per_shard=N_BITS,
        k=K)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    join_lines = [ln for ln in plan.splitlines()
                  if "Join" in ln and "shard" in ln]
    assert any("word" in ln for ln in join_lines), plan


def test_bloom_store_roundtrip_and_record(spark, tmp_path, seen_urls):
    """Persistent store: write/read round-trips the filter bit-for-bit
    with its parameters; record() creates then merges, and an existing
    store's parameters win over the caller's."""
    from go_readability_spark.operators.bloom import (
        bloom_build_sharded,
        bloom_store_exists,
        bloom_store_read,
        bloom_store_record,
    )

    path = str(tmp_path / "bloomstore")
    assert not bloom_store_exists(path)
    df1 = spark.createDataFrame([(u,) for u in seen_urls[:200]], "url string")
    meta = bloom_store_record(spark, path, df1, n_shards=N_SHARDS,
                              bits_per_shard=N_BITS, k=K)
    assert bloom_store_exists(path)
    assert meta == {"n_shards": N_SHARDS, "bits_per_shard": N_BITS, "k": K,
                    "version": 1}

    # second record with DIFFERENT (ignored) params merges into the store
    # as a NEW version (live readers of v1 keep their files)
    df2 = spark.createDataFrame([(u,) for u in seen_urls[200:]], "url string")
    meta2 = bloom_store_record(spark, path, df2, n_shards=99,
                               bits_per_shard=1 << 20, k=2)
    assert meta2 == {**meta, "version": 2}  # store params win

    stored, got_meta = bloom_store_read(spark, path)
    assert got_meta == meta2
    union = bloom_build_sharded(
        spark.createDataFrame([(u,) for u in seen_urls], "url string"),
        n_shards=N_SHARDS, bits_per_shard=N_BITS, k=K)
    assert ({(r.shard, r.word): r.bits for r in stored.collect()}
            == {(r.shard, r.word): r.bits for r in union.collect()})


def test_sharded_random_config_fuzz(spark):
    """Differential fuzz: random (n_shards, n_bits, k, keys) configs —
    the Spark bitmap must equal the pure-Python reference bit-for-bit
    and membership must match the reference verdict for every probe."""
    import random

    from go_readability_spark.operators.bloom import (
        bloom_build_sharded,
        bloom_maybe_seen_sharded,
    )

    rng = random.Random(617)
    for trial in range(4):
        n_shards = rng.choice([1, 2, 3, 8, 11])
        n_bits = rng.choice([64, 257, 4096, 12289])
        k = rng.randint(1, 6)
        keys = [f"k{rng.randrange(10**9)}" for _ in range(rng.randint(1, 120))]
        probes = keys[::3] + [f"p{rng.randrange(10**9)}" for _ in range(40)]

        df = spark.createDataFrame([(u,) for u in set(keys)], "url string")
        filt = bloom_build_sharded(df, n_shards=n_shards,
                                   bits_per_shard=n_bits, k=k)
        got = {(r.shard, r.word): r.bits for r in filt.collect()}
        exp_bits = {}
        for key in set(keys):
            s = _py_shard(key, n_shards)
            for pos in _py_positions(key, n_bits, k):
                w = (s, pos // 64)
                exp_bits[w] = exp_bits.get(w, 0) | (1 << (pos % 64))
        assert got == {w: _signed64(b) for w, b in exp_bits.items()}, (
            trial, n_shards, n_bits, k)

        pdf = spark.createDataFrame([(u,) for u in set(probes)], "url string")
        verdicts = {r.url: r.maybe_seen for r in bloom_maybe_seen_sharded(
            pdf, filt, n_shards=n_shards, bits_per_shard=n_bits,
            k=k).collect()}
        for u in set(probes):
            s = _py_shard(u, n_shards)
            expect = all(
                exp_bits.get((s, pos // 64), 0) >> (pos % 64) & 1
                for pos in _py_positions(u, n_bits, k))
            assert verdicts[u] == expect, (trial, u)


def test_bloom_store_versioning_keeps_live_reader(spark, tmp_path,
                                                  seen_urls):
    """A record pass must not yank files out from under a live reader:
    each merge writes a NEW version and prune keeps the previous one, so
    a plan built over the pre-record filter still evaluates (the
    in-place overwrite broke exactly this with FILE_NOT_EXIST)."""
    import glob
    import os

    from go_readability_spark.operators.bloom import (
        bloom_store_read,
        bloom_store_record,
        filter_unseen_sharded,
    )

    path = str(tmp_path / "store")
    df1 = spark.createDataFrame([(u,) for u in seen_urls[:100]], "url string")
    bloom_store_record(spark, path, df1, n_shards=N_SHARDS,
                       bits_per_shard=N_BITS, k=K)

    filt_v1, meta = bloom_store_read(spark, path)  # live reader of v1
    probe = spark.createDataFrame(
        [(u,) for u in seen_urls[:100]]
        + [("https://newz.example.net/q",)], "url string")
    derived = filter_unseen_sharded(
        probe, filt_v1, n_shards=meta["n_shards"],
        bits_per_shard=meta["bits_per_shard"], k=meta["k"])

    # record MORE keys (v2) — the derived plan over v1 must still run
    df2 = spark.createDataFrame([(u,) for u in seen_urls[100:200]],
                                "url string")
    bloom_store_record(spark, path, df2)
    assert derived.count() == 1  # v1 files intact, verdicts unchanged

    # a third record prunes v1 (keep=2): disk holds exactly v2+v3
    bloom_store_record(spark, path, spark.createDataFrame(
        [("https://extra.example.org/1",)], "url string"))
    versions = sorted(os.path.basename(p) for p in glob.glob(
        os.path.join(path, "filter-*.parquet")))
    assert versions == ["filter-000002.parquet", "filter-000003.parquet"]
    _, meta3 = bloom_store_read(spark, path)
    assert meta3["version"] == 3
