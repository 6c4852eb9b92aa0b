"""End-to-end training-data curation: the composition a 100 TB pipeline
actually runs —

  pages ──extract──▶ articles ──filter──▶ quality/langid ──▶ exact dedup
        ──▶ MinHash near-dedup ──▶ curated corpus

Each stage is one of this package's operators; the composition adds no new
shuffle beyond what the stages own (extract: at most 1 repartition on
xxhash64(url), none over a scan whose splits fill the cores in one wave, and
no salt — only the resumable bucket sink salts; dedup: groupBy fingerprint
+ LSH band join). Stage boundaries are natural Iceberg table checkpoints at
scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.text import fingerprint, lang_id, quality_score, ws_token_count
from ..operators.dedup import minhash_dedup_pairs
from .extract import extract_pages


def articles_from_texts(docs: DataFrame) -> DataFrame:
    """(url, warc_ts, text) -> the minimal articles shape
    ``curate_corpus(extract=False)`` consumes: pre-extracted corpora
    (Common Crawl WET conversion records, sources/warc.py docs_from_wet)
    enter curation with the extraction stage deleted. `readerable` is
    vacuously true (extraction already happened upstream of the WET
    writer) and article metadata (title/byline) is absent — WET carries
    text only."""
    return docs.select(
        "url",
        "warc_ts",
        F.lit(None).cast("string").alias("title"),
        F.col("text").alias("text_content"),
        F.length("text").cast("int").alias("length"),
        F.lit(True).alias("readerable"),
        F.lit(None).cast("string").alias("error"),
    )


def curate_corpus(
    pages: DataFrame,
    min_length: int = 200,
    min_quality: float = 0.3,
    languages: tuple = ("en",),
    near_dup_threshold: float = 0.7,
    num_partitions: int | None = None,
    gopher_gate: bool = False,
    redact_pii: bool = False,
    max_lm_nll_per_bigram: float | None = None,
    quality_model: dict | None = None,
    host_rank_floor: float | None = None,
    host_rank_iterations: int = 5,
    fix_mojibake: bool = False,
    robots: DataFrame | None = None,
    robots_agent: str = "*",
    scope=None,
    extract: bool = True,
    host_ranks: DataFrame | None = None,
) -> DataFrame:
    """Returns the curated articles DataFrame:
    (url, title, text_content, length, lang_id, quality, ws_tokens,
    fingerprint) — readerable, long enough, high-quality, language-matched,
    exact- and near-deduplicated (min-url representative per group).

    redact_pii masks emails/IPs/phones in text_content (map-only stage).
    max_lm_nll_per_bigram additionally gates docs by CCNet-style bigram-LM
    perplexity (NATS per bigram — e.g. 8.0; the LM trains on a hash-sample
    of the already-curated docs).

    host_rank_floor gates pages by link-graph authority BEFORE the
    expensive extraction UDF (the C4/RefinedWeb URL-selection order):
    anchor edges come from a map-only regex pass over the raw html
    (operators/linkgraph.py), host PageRank runs on the host graph
    (orders of magnitude smaller than the page set), and pages whose
    host ranks below the floor are dropped. Hosts absent from the graph
    carry no signal and are KEPT. Scale shape: the rank table is
    |hosts| rows joined on the host key — a plain equi-join (AQE handles
    the mega-host skew the same way host_stats' groupBy does); the graph
    build adds one groupBy to the pipeline, nothing else.

    extract=False takes a PRE-EXTRACTED corpus instead of raw pages
    (articles_from_texts over WET docs — Common Crawl's text sidecar):
    the extraction UDF and its url-hash shuffle are skipped; every
    downstream gate (lang/quality/Gopher/LM/PII, exact + near dedup)
    applies unchanged. host_rank_floor without a
    `host_ranks` table is refused — it needs the raw html's anchors,
    which WET does not carry.

    host_ranks: a precomputed (host, rank) table to gate against instead
    of building the graph from the input's own html — e.g. derived from
    the crawl's WAT sidecar (operators/linkgraph.py edges_from_wat ->
    host_graph -> host_rank, the CLI's --wat-host-rank). This is how the
    host-authority gate composes with WET input: WET text + WAT graph =
    full curation with the WARC never read."""
    if not extract and host_rank_floor is not None and host_ranks is None:
        raise ValueError(
            "curate_corpus(extract=False): host_rank_floor needs the raw "
            "html's link graph, which a pre-extracted (WET) corpus does "
            "not carry — compute host ranks from the crawl's WAT sidecar "
            "(operators/linkgraph.py edges_from_wat) and pass them as "
            "host_ranks (CLI: --wat-host-rank DIR)")
    if robots is not None:
        # retroactive robots.txt takedown sweep (operators/robots.py):
        # drop pages the publisher's CURRENT policy disallows before any
        # extraction work. robots is (host, robots_txt); the verdict
        # aggregation shuffles only (url, rule-match) pairs — the wide
        # html column rides the cheap semi-join back.
        from ..operators.robots import filter_by_robots, robots_rules

        pages = filter_by_robots(
            pages, robots_rules(robots), agent=robots_agent)

    if host_rank_floor is not None:
        from ..operators.hosts import host_of_url

        if host_ranks is not None:
            ranks = host_ranks.select("host", "rank")
        else:
            from ..operators.linkgraph import (
                host_graph,
                host_rank,
                link_edges,
            )

            ranks = host_rank(
                host_graph(link_edges(pages)),
                iterations=host_rank_iterations)
        pages = (
            pages.withColumn("_h", host_of_url(F.col("url")))
            .join(ranks.withColumnRenamed("host", "_h"), "_h", "left")
            .where(F.col("rank").isNull() | (F.col("rank") >= host_rank_floor))
            .drop("_h", "rank")
        )

    if extract:
        articles = extract_pages(pages, num_partitions=num_partitions)
    else:
        articles = pages  # already article-shaped (articles_from_texts)

    if fix_mojibake:
        # segment-level repair (functions/mojibake.py with_fixed_text):
        # curation already pays an Arrow pass for the extraction UDF, so
        # one more batched pass is marginal here, and the segment kernel
        # subsumes the whole-string JVM path with cp1252-correct
        # semantics (mixed-content pages included). Runs BEFORE the
        # lang/quality features so they score the repaired text; the
        # `length` gate below still uses the extraction-time length
        # (repair only ever shrinks mojibake, never grows text).
        from ..functions.mojibake import with_fixed_text

        articles = with_fixed_text(articles, "text_content")

    c = F.col("text_content")
    enriched = (
        articles.where(F.col("error").isNull())
        .where(F.col("readerable"))
        .where(F.col("length") >= min_length)
        .withColumn("lang_id", lang_id(c))
        .withColumn("quality", quality_score(c))
        .withColumn("ws_tokens", ws_token_count(c))
        .withColumn("fingerprint", fingerprint(c))
        .where(F.col("quality") >= min_quality)
    )
    # one row per url FIRST (latest capture wins, fingerprint tiebreak):
    # a recrawled url would otherwise survive both dedup stages — exact
    # dedup keys on (fingerprint, url), and the near-dup pair join
    # requires id_a < id_b, which equal urls never satisfy
    from pyspark.sql import Window

    w = Window.partitionBy("url").orderBy(
        F.col("warc_ts").desc_nulls_last(), F.col("fingerprint")
    )
    enriched = (
        enriched.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
    if languages:
        enriched = enriched.where(F.col("lang_id").isin(*languages))
    if gopher_gate:
        # Gopher/C4-style repetition + structure gates (quality_filters)
        from ..functions.quality_filters import gopher_quality_gate

        enriched = gopher_quality_gate(enriched, "text_content").where(
            F.col("gopher_pass")
        )
    if quality_model is not None:
        # distilled linear classifier gate (operators/classifier.py):
        # frozen weights, map-only column arithmetic — no model server
        from ..operators.classifier import FEATURE_ORDER, score_with_weights

        enriched = (
            score_with_weights(enriched, quality_model, text_col="text_content")
            .where(F.col("pred_quality"))
            .drop("logit", "pred_quality", "bpe_tokens", "punct_ratio",
                  "stopword_ratio", *FEATURE_ORDER)
        )

    # stage boundary: `enriched` feeds four downstream branches (exact-dedup
    # keep-set, its semi-join, and both minhash shingle sides). Without a
    # persist every branch re-runs the extraction UDF AND carries a copy of
    # the full enrichment expression tree through the optimizer — with the
    # gopher gate's large HOF lambdas that made Catalyst optimization time
    # explode (minutes of driver spin at 60 docs). At 100 TB this boundary
    # is an Iceberg table write, which truncates the plan the same way.
    # Pass a CacheScope (go_readability_spark.cache) as `scope` to own the
    # release after materializing the curated output; with no scope the
    # persist stays for the session (one-shot curation jobs).
    from ..cache import persist_scoped

    # DISK_ONLY: this boundary holds the FULL text of every surviving
    # doc — heap-deserialized caching (the persist() default) inflates
    # that 2-4x and OOMed the 8g local JVM at the 1M-doc volume run; a
    # local disk re-read per downstream branch is cheap next to the
    # extraction it avoids, and it is exactly the access pattern the
    # Iceberg-table version of this boundary would have.
    from pyspark import StorageLevel

    enriched = persist_scoped(enriched, scope, StorageLevel.DISK_ONLY)

    # exact dedup: keep min-url representative per fingerprint
    keep = enriched.groupBy("fingerprint").agg(F.min("url").alias("url"))
    exact_unique = enriched.join(keep, ["fingerprint", "url"], "left_semi")

    # near dedup: drop the lexicographically larger side of each verified pair
    docs = exact_unique.select(F.col("url").alias("doc_id"), F.col("text_content").alias("text"))
    # DISK_ONLY for the same reason as the stage boundary above: the
    # shingle/signature internals are 10^8-row relations at 1M docs and
    # OOMed the shared local heap cached deserialized (measured).
    pairs = minhash_dedup_pairs(docs, threshold=near_dup_threshold,
                                scope=scope,
                                storage_level=StorageLevel.DISK_ONLY)
    drop = pairs.select(F.greatest("id_a", "id_b").alias("url")).distinct()
    curated = exact_unique.join(drop, "url", "left_anti")

    if max_lm_nll_per_bigram is not None:
        # LM-perplexity gate (CCNet): train on a hash-sample of the curated
        # docs themselves, keep docs whose per-bigram NLL is at or below the
        # cap. Docs with < 2 tokens have no bigrams and are kept (no signal).
        from ..operators.lm_score import bigram_lm_scores

        scores = bigram_lm_scores(
            curated.select(F.col("url").alias("doc_id"),
                           F.col("text_content").alias("text")),
        ).where(
            F.col("nll_micro")
            > F.col("n_bigrams") * F.lit(max_lm_nll_per_bigram * 1_000_000)
        ).select(F.col("doc_id").alias("url"))
        curated = curated.join(scores, "url", "left_anti")

    if redact_pii:
        from ..functions.pii import with_pii_redacted

        curated = with_pii_redacted(curated, "text_content").drop(
            "text_content", "n_emails", "n_ips", "n_phones"
        ).withColumnRenamed("text_redacted", "text_content")

    return curated.select(
        "url", "title", "text_content", "length",
        "lang_id", "quality", "ws_tokens", "fingerprint",
    )
