"""Emulates the driver's correctness gate: every queries() entry runs on
sf0.01 and is compared against its oracle_sql() twin in DuckDB — row count,
column names, and order-insensitive values."""

import math
import os

import pytest

SF_DIR = "/root/testdata/sf0.01"
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

pytestmark = pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="testdata missing")


def _duck(sql):
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        p = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con.sql(sql).df()


def _canon(value):
    if isinstance(value, float):
        if math.isnan(value):
            return "nan"
        return f"{value:.6g}"
    return str(value)


def _rows_set(df_rows, columns):
    out = []
    for r in df_rows:
        out.append(tuple(_canon(r[c]) for c in sorted(columns)))
    return sorted(out)


@pytest.fixture(scope="module")
def entry_mod():
    import importlib

    return importlib.import_module("__spark_entry__")


def test_entry_smoke(spark, entry_mod):
    df = entry_mod.entry(spark)
    rows = df.limit(5).collect()
    assert df.columns
    assert len(rows) >= 0


def test_every_query_runs(spark, entry_mod):
    qs = entry_mod.queries()
    assert qs
    for name, fn in qs.items():
        df = fn(spark, SF_DIR)
        assert df.count() >= 0, name


@pytest.mark.parametrize("name", [
    "text_features", "exact_dup_groups", "ngram_jaccard", "dup_clusters", "winnowing_pairs", "ann_topk",
    "events_windowed", "events_sessionize", "resume_antijoin", "partition_metrics", "quality_partition",
    "extract_salted_md5", "tpch_q1", "tpch_q3_like",
    "minhash_pairs_md5", "simhash_pairs", "fixture_parity",
    "extract_articles", "bpe_merges",
    "extract_salted", "minhash_pairs",
    "ann_lsh_topk", "ann_recall", "ann_ivf_topk", "semantic_dedup", "embedding_near_pairs_lsh",
    "quality_classifier",
    "embedding_near_pairs", "repetition_filters", "url_canonical", "decontamination", "corpus_mixture", "line_dedup",
    "pii_redaction", "lm_perplexity", "substring_dedup",
    "latest_snapshot", "snapshot_history", "host_stats", "blocked_hosts",
    "link_edges", "host_graph", "host_rank", "pdf_extract", "robots_gate",
    "cdx_fetch_plan", "ranged_fetch", "warc_revisits", "anchor_stats", "frontier_schedule", "mojibake_repair",
    "sitemap_entries", "mojibake_segments", "dsir_weights", "nfc_text",
    "sequence_packing", "sequence_manifest", "shard_stats", "stratified_sample",
    "global_shuffle", "bloom_sharded", "wat_link_edges",
])
def test_oracle_match(spark, entry_mod, name):
    qs = entry_mod.queries()
    sqls = entry_mod.oracle_sql()
    sdf = qs[name](spark, SF_DIR)
    spark_rows = [r.asDict() for r in sdf.collect()]
    ddf = _duck(sqls[name])
    duck_rows = ddf.to_dict("records")
    assert sorted(sdf.columns) == sorted(ddf.columns.tolist()), name
    assert len(spark_rows) == len(duck_rows), f"{name}: rowcount {len(spark_rows)} vs {len(duck_rows)}"
    assert _rows_set(spark_rows, sdf.columns) == _rows_set(duck_rows, ddf.columns.tolist()), name


def test_minhash_recall_vs_exact(spark, entry_mod):
    """MinHash+LSH (no SQL oracle) self-check: verified pairs are a subset
    of the exact jaccard pairs and recall is reasonable."""
    from go_readability_spark.operators import minhash_dedup_pairs, ngram_jaccard_pairs

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(200)
    exact = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(docs, threshold=0.6).collect()
    }
    mh = {
        (r["id_a"], r["id_b"])
        for r in minhash_dedup_pairs(docs, threshold=0.6).collect()
    }
    assert mh.issubset(exact)
    if exact:
        assert len(mh) / len(exact) >= 0.5  # LSH recall sanity


def test_entry_from_foreign_cwd():
    """The driver may import __spark_entry__ from any CWD — executors must
    still import the package (shipped via addPyFile)."""
    import subprocess
    import sys

    script = (
        "import sys; sys.path.insert(0, '/root/repo')\n"
        "import __spark_entry__ as e\n"
        "from pyspark.sql import SparkSession\n"
        "spark = (SparkSession.builder.master('local[4]')"
        ".config('spark.ui.enabled','false').getOrCreate())\n"
        "rows = e.entry(spark).take(3)\n"
        "assert len(rows) == 3 and rows[0]['error'] is None\n"
        "print('FOREIGN_CWD_OK')\n"
    )
    out = subprocess.run([sys.executable, "-c", script], cwd="/tmp",
                         capture_output=True, text=True, timeout=300)
    assert "FOREIGN_CWD_OK" in out.stdout, out.stderr[-1000:]


def test_every_oracle_entry_is_gated(entry_mod):
    """Every oracle_sql() key must be in the parametrized oracle-match
    list above, and every oracle key must have a queries() twin — a new
    oracle entry that skips the gate would claim verification it never
    had."""
    import re

    gated = set()
    src = open(__file__).read()
    m = re.search(r"@pytest\.mark\.parametrize\(\"name\", \[(.*?)\]\)", src, re.S)
    gated = set(re.findall(r'"([a-z0-9_]+)"', m.group(1)))
    oracle_keys = set(entry_mod.oracle_sql().keys())
    assert oracle_keys <= set(entry_mod.queries().keys())
    missing = oracle_keys - gated
    assert not missing, f"oracle entries not exercised by test_oracle_match: {missing}"
