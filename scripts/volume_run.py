#!/usr/bin/env python
"""Volume-run harness: generate an N-doc synthetic pages corpus and push it
through the shipping CLI extraction path, printing one RESULT line.

This is the committed recipe behind the BENCH/BASELINE.md volume numbers
(50k/150k/300k/1M in rounds 1-3 were ad-hoc; this file makes the 10M run —
and any rerun — reproducible).  Phases are separate so a kill+restart probe
can SIGKILL the extract phase and re-invoke it:

  python scripts/volume_run.py gen      --n-docs 10000000 --size-scale 0.5 \
      --workdir /root/vol10m
  python scripts/volume_run.py extract  --workdir /root/vol10m \
      --buckets 2048 --partitions 1024
  python scripts/volume_run.py verify   --workdir /root/vol10m --n-docs 10000000

``size_scale`` shrinks the per-page paragraph count so the 10M input +
shuffle + output fits this sandbox's 80 GB free disk (documented in
BENCH/BASELINE.md); linearity comparisons use a same-size_scale control run.
"""

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def phase_gen(args):
    from go_readability_spark.plans import build_session
    from go_readability_spark.sources import synth_pages_distributed

    spark = build_session(master=args.master)
    t0 = time.time()
    pages = synth_pages_distributed(
        spark, args.n_docs, seed=args.seed, skew=True,
        num_partitions=args.gen_partitions, size_scale=args.size_scale)
    pages.write.mode("overwrite").parquet(f"{args.workdir}/pages")
    dt = time.time() - t0
    n = spark.read.parquet(f"{args.workdir}/pages").count()
    size = 0
    for root, _dirs, files in os.walk(f"{args.workdir}/pages"):
        size += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    print(json.dumps({"phase": "gen", "rows": n, "sec": round(dt, 1),
                      "parquet_mb": size // (1 << 20),
                      "size_scale": args.size_scale}))
    spark.stop()


def phase_extract(args):
    from go_readability_spark.cli import main

    argv = ["extract",
            "--input", f"{args.workdir}/pages",
            "--output", f"{args.workdir}/articles",
            "--checkpoint", f"{args.workdir}/ckpt",
            "--buckets", str(args.buckets),
            "--partitions", str(args.partitions)]
    if args.master:
        argv += ["--master", args.master]
    if args.partition_by:
        argv += ["--partition-by", args.partition_by]
    t0 = time.time()
    rc = main(argv)
    dt = time.time() - t0
    print(json.dumps({"phase": "extract", "rc": rc, "sec": round(dt, 1)}))
    return rc


def phase_verify(args):
    from pyspark.sql import functions as F

    from go_readability_spark.plans import build_session

    spark = build_session(master=args.master)
    out = spark.read.parquet(f"{args.workdir}/articles")
    err = (F.when(F.col("error").isNotNull(), 1).otherwise(0)
           if "error" in out.columns else F.lit(0))
    agg = out.agg(F.count("*").alias("rows"),
                  F.countDistinct("url").alias("urls"),
                  F.sum(err).alias("errors")).collect()[0]
    ok = (agg.rows == args.n_docs and agg.urls == args.n_docs
          and (agg.errors or 0) == 0)
    print(json.dumps({"phase": "verify", "rows": agg.rows, "urls": agg.urls,
                      "errors": int(agg.errors or 0),
                      "expected": args.n_docs, "ok": ok}))
    spark.stop()
    return 0 if ok else 1


def phase_crawl(args):
    """Crawl-discovery suite at volume over the generated pages corpus:
    planted cross-host anchors are appended Spark-side (map-only concat —
    the extraction regex still scans every page's full html), then

      link_edges -> host_graph            (map-only + ONE groupBy)
      host_rank(5 iters, checkpoint_every=2)
      robots_verdicts over every url      (planted per-host policy)

    Each stage is timed and forced separately; the RESULT line carries
    pages/s per stage so BENCH/BASELINE.md can compare 1M vs 10M
    linearity the way the extraction volume runs do."""
    from pyspark.sql import functions as F

    from go_readability_spark.operators import (
        host_graph,
        host_rank,
        link_edges,
        robots_rules,
        robots_verdicts,
    )
    from go_readability_spark.plans import build_session

    spark = build_session(master=args.master)
    pages = spark.read.parquet(f"{args.workdir}/pages")
    n = pages.count()

    # 3 planted outlinks per page, targets keyed on a url hash: two
    # cross-host (site{k}, cdn) and one same-host (dropped by host_graph)
    k1 = F.pmod(F.xxhash64(F.col("url")), F.lit(32)).cast("string")
    k2 = F.pmod(F.xxhash64(F.col("url")) + 7, F.lit(32)).cast("string")
    anchors = F.concat(
        F.lit('<p><a href="https://site'), k1,
        F.lit('.example.org/x/'), k2, F.lit('.html">a</a>'),
        F.lit('<a href="//cdn.example.net/lib'), k2,
        F.lit('.js.html">cdn</a>'),
        F.lit('<a href="/local/'), k1, F.lit('.html">l</a></p>'),
    )
    linked = pages.select(
        "url", F.concat(F.col("html").cast("string"), anchors).alias("html"))

    t0 = time.time()
    g = host_graph(link_edges(linked)).persist()
    host_pairs = g.count()
    n_links = g.agg(F.sum("n_links")).collect()[0][0]
    t_graph = time.time() - t0

    t0 = time.time()
    rank = host_rank(g, iterations=5, damping=0.85, checkpoint_every=2)
    top = rank.orderBy(F.desc("rank")).limit(3).collect()
    t_rank = time.time() - t0

    # planted policy: every site host disallows /t/ (the synth sidebar
    # path) for *; ONLY megahost additionally blocks graftbot outright,
    # so the graftbot verdict pass blocks exactly the megahost share
    star = "User-agent: *\nDisallow: /t/\nAllow: /t/open\n"
    robots = spark.createDataFrame(
        [(f"site{i}.example.org", star) for i in range(32)]
        + [("megahost.example.org",
            star + "\nUser-agent: graftbot\nDisallow: /\n")],
        "host string, robots_txt string",
    )
    t0 = time.time()
    verd = robots_verdicts(
        pages.select("url"), robots_rules(robots), agent="graftbot")
    blocked = verd.where("NOT allowed").count()  # megahost share (~30%)
    allowed = verd.where("allowed").count()
    t_robots = time.time() - t0

    # frontier: the two-phase block rank against the megahost (~30% of
    # all urls on ONE host — the exact single-task-window stressor the
    # round-5 rewrite removes)
    from go_readability_spark.operators import crawl_delays, frontier_schedule

    t0 = time.time()
    sched = frontier_schedule(
        pages.select("url"), crawl_delays(robots, agent="*"))
    agg = sched.agg(
        F.count("*").alias("n"), F.max("slot").alias("max_slot")).collect()[0]
    t_frontier = time.time() - t0

    print(json.dumps({
        "phase": "crawl", "rows": n,
        "graph_sec": round(t_graph, 1),
        "graph_pages_per_sec": round(n / t_graph, 1),
        "host_pairs": host_pairs, "links": int(n_links),
        "rank_sec": round(t_rank, 1),
        "top_hosts": [[r.host, r.rank] for r in top],
        "robots_sec": round(t_robots, 1),
        "robots_pages_per_sec": round(n / t_robots, 1),
        "blocked": blocked, "allowed": allowed,
        "frontier_sec": round(t_frontier, 1),
        "frontier_pages_per_sec": round(n / t_frontier, 1),
        "frontier_rows": agg.n, "frontier_max_slot": int(agg.max_slot),
    }))
    spark.stop()
    return 0


def phase_bloom(args):
    """Sharded Bloom filter at volume: build over --n-docs synthetic urls
    (spark.range — disk-free), then probe the same count half-seen /
    half-fresh.  Asserts zero false negatives and reports measured FP
    vs theory plus build/probe throughput.  Sizing: 64 shards x 2^21
    bits = 2^27 total bits (~0.3% theoretical FP at 10M keys, k=5); at
    this scale the membership join is the SHUFFLED (shard, word)
    equi-join — the multi-GB path, not the broadcast shortcut."""
    import math

    from pyspark.sql import functions as F

    from go_readability_spark.operators import (
        bloom_build_sharded,
        bloom_maybe_seen_sharded,
    )
    from go_readability_spark.plans import build_session

    spark = build_session(master=args.master)
    n = args.n_docs
    n_shards, bits, k = args.bloom_shards, args.bloom_bits, 5

    def seen_url(idc):
        return F.concat(F.lit("https://h"), (idc % 997).cast("string"),
                        F.lit(".example.org/p/"), idc.cast("string"))

    urls = spark.range(n, numPartitions=args.partitions).select(
        seen_url(F.col("id")).alias("url"))
    t0 = time.time()
    filt = bloom_build_sharded(urls, n_shards=n_shards,
                               bits_per_shard=bits, k=k).persist()
    words = filt.count()
    t_build = time.time() - t0

    half = n // 2
    probes = spark.range(n, numPartitions=args.partitions).select(
        F.when(F.col("id") < half, seen_url(F.col("id")))
        .otherwise(F.concat(F.lit("https://fresh.example.net/x/"),
                            F.col("id").cast("string"))).alias("url"),
        (F.col("id") < half).alias("is_seen"))
    t0 = time.time()
    out = bloom_maybe_seen_sharded(probes, filt, n_shards=n_shards,
                                   bits_per_shard=bits, k=k)
    agg = {bool(r.is_seen): (r.n, int(r.hits)) for r in out.groupBy(
        "is_seen").agg(
            F.count("*").alias("n"),
            F.sum(F.col("maybe_seen").cast("long")).alias("hits"))
        .collect()}
    t_probe = time.time() - t0

    false_neg = agg[True][0] - agg[True][1]
    fp = agg[False][1] / agg[False][0]
    theory = (1.0 - math.exp(-k * n / float(n_shards * bits))) ** k
    print(json.dumps({
        "phase": "bloom", "keys": n,
        "n_shards": n_shards, "bits_per_shard": bits, "k": k,
        "filter_rows": words,
        "build_sec": round(t_build, 1),
        "build_keys_per_sec": round(n / t_build, 1),
        "probe_sec": round(t_probe, 1),
        "probe_keys_per_sec": round(n / t_probe, 1),
        "false_negatives": int(false_neg),
        "fp_rate": round(fp, 6), "fp_theory": round(theory, 6),
    }))
    spark.stop()
    return 1 if false_neg else 0


def phase_compact(args):
    """Incremental near-dedup compaction at volume: two index increments
    each keep a planted template flood UNDER the cap, their union
    crosses it, and probe fan-out explodes until compact_index re-prunes
    — the exact cross-increment gap VERDICT r5 flagged, measured at
    --n-docs corpus scale (default 1M).

    Prints candidate fan-out and probe wall time before/after
    compaction; the post-compaction probe must return ZERO flood pairs
    while non-flood near-dups survive."""
    from pyspark.sql import functions as F

    from go_readability_spark.operators import compact_index, minhash_probe
    from go_readability_spark.operators.dedup import minhash_index
    from go_readability_spark.plans import build_session

    spark = build_session(master=args.master)
    n = args.n_docs
    flood_n = 40_000          # 20k per increment, cap 30k: union 40k > cap
    cap = 30_000
    kw = dict(n=3, num_hashes=32, num_bands=8, max_bucket_size=cap)

    words = ("alpha bravo charlie delta echo foxtrot golf hotel india "
             "juliet kilo lima mike november oscar papa quebec romeo "
             "sierra tango uniform victor whiskey xray yankee zulu")
    flood_text = F.lit("identical template boilerplate page body " * 6)
    # per-doc distinct text: rotate a token window + splice the id in
    normal_text = F.concat(
        F.lit(words), F.lit(" doc"), F.col("id").cast("string"),
        F.lit(" tail"), (F.col("id") % 997).cast("string"))
    base = spark.range(n, numPartitions=args.partitions).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < flood_n, flood_text)
        .otherwise(normal_text).alias("text"))

    inc1 = base.where(F.col("doc_id") % 2 == 0)
    inc2 = base.where(F.col("doc_id") % 2 == 1)
    t0 = time.time()
    b1, s1 = minhash_index(inc1, **kw)
    b2, s2 = minhash_index(inc2, **kw)
    b1.unionByName(b2).write.mode("overwrite").parquet(f"{args.workdir}/cb")
    s1.unionByName(s2).write.mode("overwrite").parquet(f"{args.workdir}/cs")
    t_index = time.time() - t0
    buckets = spark.read.parquet(f"{args.workdir}/cb")
    shingles = spark.read.parquet(f"{args.workdir}/cs")

    # probe segment: 100 flood re-crawls + 900 near-dups of normal docs
    probe_docs = spark.range(1000).select(
        (F.col("id") + 10_000_000).alias("doc_id"),
        F.when(F.col("id") < 100, flood_text).otherwise(F.concat(
            F.lit(words), F.lit(" doc"),
            (F.col("id") + flood_n).cast("string"),
            F.lit(" tail"), ((F.col("id") + flood_n) % 997).cast("string"),
            F.lit(" extra"))).alias("text"))

    t0 = time.time()
    pre = minhash_probe(probe_docs, buckets, shingles, threshold=0.5, **kw)
    pre_pairs = pre.count()
    t_pre = time.time() - t0

    t0 = time.time()
    cb, cs = compact_index(buckets, shingles, max_bucket_size=cap)
    cb.write.mode("overwrite").parquet(f"{args.workdir}/cb2")
    cs.write.mode("overwrite").parquet(f"{args.workdir}/cs2")
    t_compact = time.time() - t0

    t0 = time.time()
    post = minhash_probe(
        probe_docs, spark.read.parquet(f"{args.workdir}/cb2"),
        spark.read.parquet(f"{args.workdir}/cs2"), threshold=0.5, **kw)
    post_pairs = post.count()
    post_flood = post.where(F.col("id_corpus") < flood_n).count()
    t_post = time.time() - t0

    print(json.dumps({
        "phase": "compact", "docs": n, "flood_docs": flood_n, "cap": cap,
        "index_sec": round(t_index, 1),
        "probe_pre_sec": round(t_pre, 1), "pre_pairs": pre_pairs,
        "compact_sec": round(t_compact, 1),
        "probe_post_sec": round(t_post, 1), "post_pairs": post_pairs,
        "post_flood_pairs": post_flood,
    }))
    spark.stop()
    return 1 if post_flood else 0


def phase_warcgen(args):
    """Distributed WARC+CDXJ corpus: every generator partition writes ONE
    real .warc.gz archive (one gzip member per record, offsets measured
    while writing) plus its CDXJ index shard — the on-disk shape of an
    actual crawl snapshot, produced executor-side with no driver
    bottleneck.  Feeds phase_crawlfetch."""
    import json as _json

    from go_readability_spark.plans import build_session
    from go_readability_spark.sources import synth_pages_distributed

    spark = build_session(master=args.master)
    warc_dir = os.path.abspath(f"{args.workdir}/warc")
    os.makedirs(warc_dir, exist_ok=True)
    pages = synth_pages_distributed(
        spark, args.n_docs, seed=args.seed, skew=True,
        num_partitions=args.gen_partitions, size_scale=args.size_scale)

    def write_archives(batches):
        import pandas as pd
        from pyspark import TaskContext

        from go_readability_spark.sources.warc import write_warc

        pid = TaskContext.get().partitionId()
        fname = f"part-{pid:05d}.warc.gz"
        off, lines = 0, []
        with open(os.path.join(warc_dir, fname), "wb") as fh:
            for pdf in batches:
                for url, ts, html in zip(pdf["url"], pdf["warc_ts"],
                                         pdf["html"]):
                    member = write_warc(
                        [(url, ts.to_pydatetime(), bytes(html))])
                    fh.write(member)
                    body = _json.dumps({
                        "url": url, "mime": "text/html", "status": "200",
                        "digest": f"sha1:{pid}-{len(lines)}",
                        "length": str(len(member)), "offset": str(off),
                        "filename": fname,
                    })
                    lines.append(f"{url.lower()} 20250101000000 {body}")
                    off += len(member)
        yield pd.DataFrame({"line": lines})

    t0 = time.time()
    idx = pages.mapInPandas(write_archives, schema="line string")
    idx.write.mode("overwrite").text(f"{args.workdir}/index")
    dt = time.time() - t0
    n = spark.read.text(f"{args.workdir}/index").count()
    size = 0
    for root, _dirs, files in os.walk(warc_dir):
        size += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    print(json.dumps({"phase": "warcgen", "index_lines": n,
                      "sec": round(dt, 1), "warc_mb": size // (1 << 20),
                      "archives": args.gen_partitions}))
    spark.stop()


def phase_crawlfetch(args):
    """The closed crawl loop at volume: CDXJ index -> crawl-plan CLI
    (selection + frontier) -> crawl-fetch CLI (byte-range member reads
    -> extraction through the resumable bucket sink, which --checkpoint
    selects) -> verify row counts.  A kill+restart probe SIGKILLs this
    phase mid-extract and re-invokes it; the sink resumes bucket-granular."""
    from go_readability_spark.cli import main

    base = ["--master", args.master] if args.master else []
    t0 = time.time()
    rc = main(["crawl-plan", "--index", f"{args.workdir}/index",
               "--output", f"{args.workdir}/plan"] + base)
    t_plan = time.time() - t0
    if rc:
        return rc
    t0 = time.time()
    rc = main(["crawl-fetch", "--plan", f"{args.workdir}/plan",
               "--warc-dir", f"{args.workdir}/warc",
               "--output", f"{args.workdir}/articles",
               "--extract",
               "--checkpoint", f"{args.workdir}/ckpt",
               "--buckets", str(args.buckets)] + base)
    t_fetch = time.time() - t0
    print(json.dumps({
        "phase": "crawlfetch", "rc": rc,
        "plan_sec": round(t_plan, 1),
        "fetch_extract_sec": round(t_fetch, 1),
        "docs_per_sec": round(args.n_docs / t_fetch, 1),
    }))
    return rc


def phase_wat(args):
    """WAT sidecar at volume: derive the WAT from the pages corpus (the
    once-per-crawl step Common Crawl performs), then build the host graph
    TWICE over the same corpus — (a) html -> link_edges regex route,
    (b) WAT -> edges_from_wat — assert the graphs identical, and report
    both walls plus the bytes ratio.  Needs `phase gen` output
    (workdir/pages)."""
    from pyspark.sql import functions as F

    from go_readability_spark.operators import (
        edges_from_wat,
        extract_anchor_texts,
        host_graph,
        link_edges,
    )
    from go_readability_spark.plans import build_session
    from go_readability_spark.sources import links_from_wat

    spark = build_session(master=args.master)
    pages = spark.read.parquet(f"{args.workdir}/pages")
    wat_dir = os.path.abspath(f"{args.workdir}/wat")
    if os.path.isdir(wat_dir):
        import shutil
        # stale part files from a previous run with different
        # partitioning would be re-read and fail the A/B
        shutil.rmtree(wat_dir)
    os.makedirs(wat_dir, exist_ok=True)

    # --- derivation: group the regex-extracted anchors back per page and
    # write one .wat.gz per partition (executor-side, no driver data)
    t0 = time.time()
    at = extract_anchor_texts(pages)
    per_page = at.groupBy("src").agg(
        F.collect_list(F.struct("href", "text")).alias("links"),
        F.first("base").alias("base"))
    src = pages.select("url", "warc_ts").join(
        per_page, pages["url"] == per_page["src"], "left")

    def write_wat_files(batches):
        import pandas as pd
        from pyspark import TaskContext

        from go_readability_spark.sources.wat import write_wat

        pid = TaskContext.get().partitionId()
        n = 0
        path = os.path.join(wat_dir, f"part-{pid:05d}.wat.gz")
        with open(path, "wb") as fh:
            for pdf in batches:
                for url, ts, links, base in zip(
                        pdf["url"], pdf["warc_ts"], pdf["links"],
                        pdf["base"]):
                    triples = [] if links is None else [
                        ("A@/href", li["href"], li["text"]) for li in links]
                    fh.write(write_wat(
                        [(url, ts.to_pydatetime(), triples,
                          None if base is None else base)]))
                    n += 1
        yield pd.DataFrame({"n": [n]})

    n_pages = src.mapInPandas(
        write_wat_files, schema="n long").agg(F.sum("n")).collect()[0][0]
    t_derive = time.time() - t0

    # --- A/B: edges + host graph from html vs from the WAT sidecar.
    # Edge-set equality is checked by an order-independent distributed
    # fingerprint (sum of per-edge hashes + count) — the edge relation is
    # ~15 links/page and must never be collected; the host graph keeps
    # self-loops so same-host corpora still compare a non-trivial graph.
    def _route(edges):
        t0 = time.time()
        fp = tuple(edges.select(
            F.expr("bit_xor(xxhash64(src, dst))").alias("x"),
            F.expr("sum(cast(xxhash64(src, dst) as decimal(38,0)))")
            .alias("s"),
            F.count("*").alias("n")).collect()[0])
        g = sorted(map(tuple,
                       host_graph(edges, keep_self_loops=True).collect()))
        return fp, g, time.time() - t0

    fp_html, g_html, t_html = _route(link_edges(pages))
    fp_wat, g_wat, t_wat = _route(
        edges_from_wat(links_from_wat(spark, wat_dir)))
    identical = fp_wat == fp_html and g_wat == g_html
    rows_wat = g_wat
    n_edges = fp_wat[2]

    def _tree_bytes(d):
        return sum(os.path.getsize(os.path.join(r, f))
                   for r, _dd, ff in os.walk(d) for f in ff)

    pages_mb = _tree_bytes(f"{args.workdir}/pages") // (1 << 20)
    wat_mb = _tree_bytes(wat_dir) // (1 << 20)
    print(json.dumps({
        "phase": "wat", "pages": int(n_pages),
        "derive_sec": round(t_derive, 1),
        "host_graph_from_html_sec": round(t_html, 1),
        "host_graph_from_wat_sec": round(t_wat, 1),
        "graphs_identical": identical,
        "edges": int(n_edges or 0),
        "host_graph_rows": len(rows_wat),
        "pages_mb": pages_mb, "wat_mb": wat_mb,
        "bytes_ratio": round(pages_mb / max(1, wat_mb), 2),
        "speedup": round(t_html / max(0.001, t_wat), 2),
    }))
    spark.stop()
    return 0 if identical else 1


def build_parser():
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("phase", choices=["gen", "extract", "verify", "crawl",
                                     "warcgen", "crawlfetch", "bloom", "compact",
                                     "wat"])
    p.add_argument("--workdir", required=True)
    p.add_argument("--n-docs", type=int, default=10_000_000)
    p.add_argument("--size-scale", type=float, default=0.5)
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--gen-partitions", type=int, default=1024)
    p.add_argument("--buckets", type=int, default=2048)
    p.add_argument("--partitions", type=int, default=1024)
    p.add_argument("--partition-by", default="")
    p.add_argument("--bloom-shards", type=int, default=64)
    p.add_argument("--bloom-bits", type=int, default=1 << 21)
    p.add_argument("--master", default=None)
    return p


if __name__ == "__main__":
    a = build_parser().parse_args()
    if a.phase == "gen":
        phase_gen(a)
    elif a.phase == "extract":
        raise SystemExit(phase_extract(a))
    elif a.phase == "crawl":
        raise SystemExit(phase_crawl(a))
    elif a.phase == "warcgen":
        phase_warcgen(a)
    elif a.phase == "crawlfetch":
        raise SystemExit(phase_crawlfetch(a))
    elif a.phase == "bloom":
        raise SystemExit(phase_bloom(a))
    elif a.phase == "compact":
        raise SystemExit(phase_compact(a))
    elif a.phase == "wat":
        raise SystemExit(phase_wat(a))
    else:
        raise SystemExit(phase_verify(a))
