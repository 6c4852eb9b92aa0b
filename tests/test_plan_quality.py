"""Physical-plan assertions (SURVEY.md §4): these lock in the properties
that make the pipeline survive a 100x scale-up — column pruning into the
scan, broadcast resume-join, at most one exchange (none over a scan whose
splits fill the session's slots in one wave), predicate pushdown."""

import glob
import os
import re

import pytest


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def pages_parquet(spark, tmp_path_factory):
    from go_readability_spark.sources import synth_pages_distributed

    path = str(tmp_path_factory.mktemp("plans") / "pages")
    synth_pages_distributed(spark, 64, seed=4, skew=False, num_partitions=4).write.parquet(path)
    return path


def test_scan_column_pruning(spark, pages_parquet):
    """The extract plan must read only (url, warc_ts, html) — never `text`
    or `lang` — so the 100 TB scan skips unused columns."""
    from go_readability_spark.plans import extract_pages

    df = extract_pages(spark.read.parquet(pages_parquet), num_partitions=4)
    plan = _plan(df)
    m = re.search(r"ReadSchema: ([^\n]+)", plan)
    assert m, plan
    read_schema = m.group(1)
    assert "url" in read_schema and "html" in read_schema
    assert "text" not in read_schema.replace("text_content", "")
    assert "lang" not in read_schema


def test_resume_antijoin_is_broadcast(spark, pages_parquet, tmp_path):
    """The resumable sink's checkpoint anti-join must broadcast the (tiny)
    bucket list, not shuffle the 10^12-row pages table."""
    from go_readability_spark.plans import run_extraction_job
    from go_readability_spark.plans.extract import _salted_exchange

    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")
    pages = spark.read.parquet(pages_parquet)
    run_extraction_job(pages, out, checkpoint_dir=ckpt, n_buckets=16, num_partitions=4)
    plan = _plan(_salted_exchange(pages, 16, 4, ckpt, out))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_single_exchange_in_extract(spark, pages_parquet):
    """Exactly one shuffle: the repartition on xxhash64(url). (AQE may add
    a read node, but there must be a single Exchange operator.)"""
    from go_readability_spark.plans import extract_pages

    df = extract_pages(spark.read.parquet(pages_parquet), num_partitions=4)
    plan = _plan(df)
    assert plan.count("Exchange") == 1, plan


def test_extract_exchange_key_follows_resume_semantics(spark, pages_parquet, tmp_path):
    """The one extraction exchange is keyed by the coarse salt ONLY in the
    resumable sink (checkpoint marks whole buckets done, so each bucket
    must live in one task); extract_pages uses the full-width url hash —
    n_buckets values hashed into P partitions leave measured ~±40% per-task
    row-count imbalance at n_buckets/P = 8 (guide §2.5 wants 20-100x more
    keys than partitions)."""
    from go_readability_spark.plans import extract_pages
    from go_readability_spark.plans.extract import _salted_exchange

    pages = spark.read.parquet(pages_parquet)
    no_resume = _plan(extract_pages(pages, num_partitions=4))
    m = re.search(r"hashpartitioning\(([^)]*)", no_resume)
    assert m and "xxhash64(url" in m.group(1), no_resume
    assert no_resume.count("Exchange") == 1, no_resume
    # the salt is the resumable sink's alone: extract_pages never computes
    # or ships it
    assert "salt" not in no_resume, no_resume
    assert "pmod(" not in no_resume, no_resume

    resumable = _plan(_salted_exchange(pages, 16, 4, str(tmp_path / "ckpt_key"),
                                       str(tmp_path / "out_key")))
    m = re.search(r"hashpartitioning\(([^)]*)", resumable)
    assert m and m.group(1).startswith("salt"), resumable
    assert "xxhash64(url" not in m.group(1), resumable
    assert resumable.count("Exchange") == 1, resumable


@pytest.fixture
def four_way_session(spark):
    """The session with at most 4 parallel tasks (session_parallelism ≤ 4),
    so the 4-file ``pages_parquet`` fixture gives every core a split."""
    from go_readability_spark.plans import session_parallelism

    before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    assert 2 <= session_parallelism(spark) <= 4
    yield spark
    spark.conf.set("spark.sql.shuffle.partitions", before)


@pytest.fixture(scope="module")
def one_file_pages(spark, pages_parquet, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("plans") / "pages_one_file")
    spark.read.parquet(pages_parquet).coalesce(1).write.parquet(path)
    return path


def _jobs(spark):
    """Job ids Spark has started so far (listener bus drained first)."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return set(sc.statusTracker().getJobIdsForGroup(None))


def _built_plan(spark, build):
    """(plan string, jobs launched while building and planning it)."""
    before = _jobs(spark)
    plan = _plan(build())
    return plan, _jobs(spark) - before


def test_default_extract_over_split_scan_is_exchange_free(four_way_session, pages_parquet):
    """Without num_partitions, a scan whose splits fill the session's slots
    in one wave is extracted in place: no exchange, one MapInArrow straight
    over the pruned scan, and building the plan launches no job."""
    from go_readability_spark.plans import extract_pages

    spark = four_way_session
    pages = spark.read.parquet(pages_parquet)
    assert pages.rdd.getNumPartitions() == 4
    for gate in (False, True):
        plan, jobs = _built_plan(spark, lambda: extract_pages(pages, readerable_gate=gate))
        assert "Exchange" not in plan, plan
        assert plan.count("MapInArrow") == 1, plan
        assert not jobs, plan
        read_schema = re.search(r"ReadSchema: ([^\n]+)", plan).group(1)
        assert read_schema == "struct<url:string,warc_ts:timestamp,html:binary>", plan


def test_default_extract_over_one_split_keeps_url_exchange(four_way_session, one_file_pages):
    """A single-split input cannot feed every core: it keeps the one
    xxhash64(url) exchange, and deciding so launches no job."""
    from go_readability_spark.plans import extract_pages

    spark = four_way_session
    pages = spark.read.parquet(one_file_pages)
    plan, jobs = _built_plan(spark, lambda: extract_pages(pages))
    assert plan.count("Exchange") == 1, plan
    assert "hashpartitioning(xxhash64(url" in plan, plan
    assert plan.count("MapInArrow") == 1, plan
    assert not jobs, plan


def test_one_wave_rule_admits_only_a_nearly_full_single_wave():
    """In place only where the splits run in one wave that keeps the slots
    nearly busy; fewer splits idle cores, more take extra waves of Python
    tasks, and both keep the exchange."""
    from go_readability_spark.plans.parallelism import fills_one_wave

    assert [s for s in range(1, 17) if fills_one_wave(s, 4)] == [4]
    assert [s for s in range(1, 17) if fills_one_wave(s, 8)] == [7, 8]
    assert [s for s in range(1, 65) if fills_one_wave(s, 32)] == list(range(28, 33))


@pytest.fixture
def one_split_per_file(spark):
    """Read small files one split each: no per-file open cost, no per-core
    byte target, and a split cap of the largest file, so no file is cut
    and no two files share a split."""
    keys = ("spark.sql.files.openCostInBytes", "spark.sql.files.minPartitionNum",
            "spark.sql.files.maxPartitionBytes")
    before = {k: spark.conf.get(k, None) for k in keys}

    def read(path):
        fmax = max(os.path.getsize(f) for f in glob.glob(f"{path}/*.parquet"))
        spark.conf.set("spark.sql.files.openCostInBytes", "0")
        spark.conf.set("spark.sql.files.minPartitionNum", "1")
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(fmax))
        return spark.read.parquet(path)

    yield read
    for k, v in before.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


@pytest.mark.parametrize("n_files", [5, 8])
def test_default_extract_over_more_splits_than_slots_keeps_url_exchange(
        four_way_session, pages_parquet, one_split_per_file, tmp_path, n_files):
    """More splits than slots (a ragged 5, or two waves of 8) keep the
    xxhash64(url) exchange; deciding launches no job."""
    from go_readability_spark.plans import extract_pages

    spark = four_way_session
    path = str(tmp_path / "pages")
    (spark.read.parquet(pages_parquet).coalesce(1).write
     .option("maxRecordsPerFile", -(-64 // n_files)).parquet(path))
    pages = one_split_per_file(path)
    assert pages.rdd.getNumPartitions() == n_files
    plan, jobs = _built_plan(spark, lambda: extract_pages(pages))
    assert plan.count("Exchange") == 1, plan
    assert "hashpartitioning(xxhash64(url" in plan, plan
    assert not jobs, plan


def test_default_extract_over_shuffled_input_keeps_url_exchange(four_way_session,
                                                                pages_parquet):
    """An input whose plan already holds an exchange, shuffle or broadcast,
    keeps the xxhash64(url) exchange; its split count is never probed,
    because the probe would run the shuffle first (the control below shows
    it does)."""
    from pyspark.sql import functions as F

    from go_readability_spark.plans import extract_pages

    spark = four_way_session
    pages = spark.read.parquet(pages_parquet)
    hosts = spark.createDataFrame([("https://site1",)], "host string")
    broadcast_join = pages.join(F.broadcast(hosts), F.col("url").startswith(F.col("host")),
                                "left_semi")
    for shuffled in (pages.repartition(3), broadcast_join):
        plan, jobs = _built_plan(spark, lambda: extract_pages(shuffled))
        assert "hashpartitioning(xxhash64(url" in plan, plan
        assert plan.count("MapInArrow") == 1, plan
        assert not jobs, plan

    before = _jobs(spark)
    pages.repartition(3).rdd.getNumPartitions()
    assert _jobs(spark) - before, "the job counter must see a probed shuffle"


def test_salted_exchange_keeps_one_salt_exchange(four_way_session, pages_parquet, tmp_path):
    """The resumable sink keeps its salt exchange whatever the input's
    splits: each bucket must live in exactly one task."""
    from go_readability_spark.plans.extract import _salted_exchange

    spark = four_way_session
    pages = spark.read.parquet(pages_parquet)
    plan, jobs = _built_plan(spark, lambda: _salted_exchange(
        pages, 16, None, None, str(tmp_path / "out")))
    assert plan.count("Exchange") == 1, plan
    m = re.search(r"hashpartitioning\(([^)]*)", plan)
    assert m and m.group(1).startswith("salt"), plan
    assert not jobs, plan


def test_gated_extract_is_one_python_stage(spark, pages_parquet):
    """The readerable gate runs inside the extraction stage: the gated plan
    has exactly one Python node (the MapInArrow) — no separate Arrow or
    row-at-a-time UDF stage that parses every page a second time."""
    from go_readability_spark.plans import extract_pages

    pages = spark.read.parquet(pages_parquet)
    plan = _plan(extract_pages(pages, num_partitions=4, readerable_gate=True))
    assert plan.count("MapInArrow") == 1, plan
    assert "ArrowEvalPython" not in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_filter_pushdown_to_scan(spark, pages_parquet):
    """A pre-filter (e.g. warc_ts window or url prefix) must reach the
    parquet scan as PushedFilters, not run post-scan only."""
    from pyspark.sql import functions as F

    pages = spark.read.parquet(pages_parquet).where(F.col("url").startswith("https://site1"))
    plan = _plan(pages)
    assert re.search(r"PushedFilters: \[.*StringStartsWith\(url", plan), plan


def test_extract_has_no_python_row_udf(spark, pages_parquet):
    """The extraction stage must be Arrow-batched (MapInArrow/ArrowEvalPython),
    never row-at-a-time BatchEvalPython."""
    from go_readability_spark.plans import extract_pages

    plan = _plan(extract_pages(spark.read.parquet(pages_parquet), num_partitions=4))
    assert "MapInArrow" in plan or "ArrowEvalPython" in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_ann_broadcasts_queries(spark):
    from pyspark.sql import functions as F

    from go_readability_spark.operators import brute_force_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    df = brute_force_topk(emb, emb.where(F.col("vec_id") < 3), k=5)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan


def test_ngram_jaccard_no_per_document_broadcast(spark):
    """The per-document sizes table must NOT be broadcast (it grows with
    the corpus — broadcasting it is impossible at 10^12 docs). Shingle
    counts ride through the explode instead, so the only joins left are
    the max-df semi-join and the shingle self-join."""
    from go_readability_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(ngram_jaccard_pairs(docs, "doc_id", "text"))
    # every join must be keyed on the shingle (max-df semi-join + the
    # self-join); a join keyed on document id would mean the sizes table
    # is back. (AQE may choose broadcast for the small shingle joins at
    # this scale — that's statistics-driven and fine; a HINTED broadcast
    # of a per-document table is not, and can't appear if the join itself
    # is gone.)
    for m in re.finditer(r"(?:HashJoin|SortMergeJoin)\w* \[([a-z_]+)#", plan):
        assert m.group(1) == "shingle", plan
    assert re.search(r"(?:HashJoin|SortMergeJoin)", plan), plan


def test_pii_redaction_stays_jvm_side(spark):
    """PII masking must be whole-stage-codegen column expressions — no
    Python evaluation nodes, no Exchange (it's map-only)."""
    from go_readability_spark.functions.pii import with_pii_redacted

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(with_pii_redacted(docs, "text"))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert "Exchange" not in plan, plan
    assert "*(1)" in plan, plan  # whole-stage codegen marker


def test_lm_scoring_broadcasts_vocab_not_corpus(spark):
    """The <unk> vocab-mapping join must broadcast the vocab side (bounded
    by language, not corpus size). The per-token table must never be the
    build side of a broadcast."""
    from go_readability_spark.operators.lm_score import bigram_lm_scores

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(bigram_lm_scores(docs))
    assert "BroadcastHashJoin" in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_warc_scan_ships_paths_not_bytes(spark, tmp_path):
    """Archive bytes must never enter the JVM plan: the reader ships a
    PATH list into MapInPandas and each Python task opens its own files
    (binaryFile materialized every concurrent archive on the shared
    local heap and OOMed the 1M WET volume run)."""
    from datetime import datetime

    from go_readability_spark.sources.warc import pages_from_warc, write_warc

    p = tmp_path / "a.warc.gz"
    p.write_bytes(write_warc([("http://x/1", datetime(2024, 1, 1), b"<html>x</html>")]))
    plan = _plan(pages_from_warc(spark, str(tmp_path)))
    assert "MapInPandas" in plan, plan
    assert "binaryFile" not in plan, plan  # no JVM-side archive bytes
    assert "content" not in plan, plan


def test_quality_classifier_is_pure_codegen(spark):
    """Frozen-weight scoring must stay JVM-side: no Python UDF, no
    exchange — a map-only projection over the scan."""
    import json
    import os

    from go_readability_spark.operators import score_with_weights

    pins = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "go_readability_spark", "sources", "quality_lr_sf001.json")
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    plan = _plan(score_with_weights(docs, json.load(open(pins))))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Exchange" not in plan  # map-only: no shuffle at any scale


def test_semantic_dedup_pair_join_is_bucket_equi(spark):
    """The within-cluster prune must be an equi-join on the cluster id
    (SortMergeJoin/ShuffledHashJoin keyed on bucket), never a cartesian
    across clusters; the only nested-loop join allowed is against the
    single-row centroid relation."""
    import json
    import os

    from go_readability_spark.operators import semantic_dedup

    pins = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "go_readability_spark", "sources", "ivf_index_sf001.json")
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    cents = json.load(open(pins))["centroids"]
    plan = _plan(semantic_dedup(emb, cents, threshold=0.35))
    assert "CartesianProduct" not in plan
    joins = [l for l in plan.splitlines()
             if "SortMergeJoin" in l or "ShuffledHashJoin" in l]
    assert joins and any("bucket" in j for j in joins), joins


def test_host_graph_single_exchange_partial_agg(spark):
    """host_graph over the planted-link corpus must be one shuffle (the
    (src_host, dst_host) groupBy) with a map-side partial aggregate
    collapsing per-page fan-out before the exchange, and no Python in
    the plan — link extraction is regexp_extract_all/explode, JVM-side."""
    from go_readability_spark.operators import host_graph, link_edges
    from go_readability_spark.sources import pages_from_documents_linked

    pages = pages_from_documents_linked(spark, "/root/testdata/sf0.001")
    plan = _plan(host_graph(link_edges(pages)))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("Exchange") == 1, plan
    # partial_count before the exchange, final count after it
    assert "partial_count" in plan or plan.count("HashAggregate") >= 2, plan


def test_minhash_flood_cap_single_aggregation(spark):
    """The max_bucket_size cap must ride the ONE band-bucket aggregation
    (sorted-id collect + streamed pair generators), not a separate
    count + semi-join pass (the round-4 +50% regression): exactly one
    ObjectHashAggregate exchange for the bucket collect, pair
    enumeration as Generate nodes, and no join before the verify stage's
    shingle joins."""
    from go_readability_spark.operators.dedup import (
        _band_bucket_md5,
        minhash_lsh_candidates,
        minhash_signatures,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sigs = minhash_signatures(docs.limit(50), num_hashes=16)
    plan = _plan(minhash_lsh_candidates(
        sigs, num_bands=4, rows_per_band=4,
        bucket_fn=_band_bucket_md5, max_bucket_size=100))
    assert "Join" not in plan, plan  # candidates need NO join at all now
    assert plan.count("Generate") >= 2, plan  # streamed pair explode
    # two aggregations total: the bucket collect + the pair distinct
    assert plan.count("Exchange") <= 2, plan


def test_frontier_schedule_no_host_window(spark):
    """frontier_schedule must never sort a whole host in one window
    partition: every window/sort key set includes the block column, and
    the offsets side is a tiny per-(host, block) count aggregation."""
    import re as _re

    from go_readability_spark.operators import frontier_schedule

    plan_df = spark.createDataFrame(
        [(f"https://m.example.net/{i}",) for i in range(50)], "url string")
    delays = spark.createDataFrame([], "host string, delay_sec double")
    plan = _plan(frontier_schedule(plan_df, delays, 1.0, n_blocks=8))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    for spec in _re.findall(r"partitionBy=\[([^\]]*)\]", plan):
        cols = [c.split("#")[0].strip() for c in spec.split(",")]
        assert cols != ["host"], plan


def test_anchor_stats_bounded_topk_shape(spark):
    """anchor_text_stats must pre-cap texts with the two-phase rank: a
    row_number window over (dst, sub-key) feeding the final collect_set,
    and the count stats must come from an expand-rewritten
    count-distinct (constant-size agg state), never a collected set of
    srcs."""
    from go_readability_spark.operators import anchor_text_stats
    from go_readability_spark.sources import pages_from_documents_linked

    pages = pages_from_documents_linked(spark, "/root/testdata/sf0.001")
    plan = _plan(anchor_text_stats(pages))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "row_number" in plan, plan          # the pre-cap rank
    assert plan.count("collect_set") <= 2, plan  # only the capped texts agg
    assert "collect_set(src" not in plan, plan
    # count(DISTINCT src) rewritten to constant-state aggregation: either
    # an Expand (multi-distinct) or a two-level group-by-(dst, src) pass
    assert "Expand" in plan or "keys=[dst" in plan and "src" in plan, plan
    assert "partial_count(distinct" in plan or "Expand" in plan, plan


def test_ranged_fetch_partitions_by_archive(spark):
    """pages_from_fetch_plan must repartition by filename (archive
    locality) and sort within partitions by (filename, offset) — the
    monotone sweep — with the parse as MapInPandas, never a row UDF."""
    from go_readability_spark.sources import pages_from_fetch_plan

    plan_df = spark.createDataFrame(
        [("u1", "a.warc.gz", 0, 10), ("u2", "a.warc.gz", 10, 10)],
        "url string, filename string, offset long, length long")
    plan = _plan(pages_from_fetch_plan(plan_df, "/tmp"))
    assert "MapInPandas" in plan, plan
    assert "BatchEvalPython" not in plan, plan
    assert "hashpartitioning(filename" in plan, plan
    assert "Sort [filename" in plan, plan


def test_revisit_resolution_join_is_digest_equi(spark):
    """resolve_revisits must join revisits to the canonical-payload
    table on digest (equi-join, broadcast or shuffled) — never a
    cartesian — and the canon pick must be an aggregation with partial
    combine (min_by), not a window over all responses."""
    from go_readability_spark.operators import resolve_revisits

    records = spark.createDataFrame(
        [("u1", None, "response", "d1", None, bytearray(b"<html>1</html>")),
         ("u2", None, "revisit", "d1", "u1", None)],
        "url string, warc_ts timestamp, record_type string, digest string, "
        "refers_to string, html binary")
    plan = _plan(resolve_revisits(records))
    assert "CartesianProduct" not in plan, plan
    assert "min_by" in plan or "partial_min_by" in plan, plan
    assert "Window" not in plan, plan


def test_bloom_sharded_build_single_exchange_partial_agg(spark):
    """bloom_build_sharded is ONE shuffle (the (shard, word) groupBy)
    with a map-side partial bit_or collapsing per-key probe fan-out
    before the exchange, and no Python anywhere — positions are md5/conv
    column arithmetic."""
    from go_readability_spark.operators.bloom import bloom_build_sharded

    df = spark.range(500).selectExpr("concat('https://h', id) AS url")
    plan = _plan(bloom_build_sharded(df, n_shards=8,
                                     bits_per_shard=1 << 14, k=5))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("Exchange") == 1, plan
    assert plan.count("HashAggregate") >= 2, plan  # partial + final bit_or
