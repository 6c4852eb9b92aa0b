"""Command-line surface.

Mirrors the reference CLI capabilities (cmd/go-readability/main.go:38-186:
parse a file OR a URL, -m metadata-only, -t text-only, -l check-readerable,
plus the HTTP-server mode) and adds the cluster job entrypoint used with
spark-submit:

  # single document (no Spark); source may be a file, '-' (stdin), or a URL
  python -m go_readability_spark parse page.html [--url U] [-m|-t|-l]
  python -m go_readability_spark parse https://example.org/story [-m|-t]

  # HTTP server (main.go:82-112: GET /?url=...&metadata=true&text=true)
  python -m go_readability_spark serve --listen 127.0.0.1:8123

  # cluster batch job (spark-submit --py-files go_readability_spark.zip)
  python -m go_readability_spark extract \
      --input /path/pages_parquet --output /path/articles \
      --checkpoint /path/ckpt --buckets 256 [--partitions P]

With --checkpoint the extraction (extract, crawl-fetch --extract) is
resumable: it writes task-committed per-bucket files, so a killed job
restarts at bucket granularity. Without it the output is written by
Spark's parquet writer.
"""

from __future__ import annotations

import argparse
import json
import sys


# mirror of the reference server's index form (main.go:19-36)
_INDEX_HTML = """<!DOCTYPE HTML>
<html>
 <head>
  <meta charset="utf-8">
  <title>go-readability</title>
 </head>
 <body>
 <form action="/" style="width:80%">
  <fieldset>
   <legend>Get readability content</legend>
   <p><label for="url">URL </label><input type="url" name="url" style="width:90%"></p>
   <p><input type="checkbox" name="text" value="true">text only</p>
   <p><input type="checkbox" name="metadata" value="true">only get the page's metadata</p>
  </fieldset>
  <p><input type="submit"></p>
 </form>
 </body>
</html>"""


def _is_url(path: str) -> bool:
    """main.go:179-186 validateURL: absolute http(s) URL with a host."""
    from urllib.parse import urlsplit

    parts = urlsplit(path)
    return bool(parts.scheme in ("http", "https") and parts.netloc)


def _render_article(data: bytes, page_url: str, metadata_only: bool,
                    text_only: bool, check_only: bool = False,
                    debug: bool = False) -> str:
    """The shared tail of the reference's getContent (main.go:139-176):
    gate on the readerability Check (unreadable pages are an ERROR, not
    empty output), then emit content / text / the 5-key indented metadata
    JSON — identical for file and URL sources, like the reference.  The
    record comes from the batch kernel, ``extract_record``."""
    from .readability.record import extract_record

    rec = extract_record(page_url, data, readerable_gate=True, debug=debug)
    if check_only:
        return "false" if rec is None else "true"
    if rec is None:
        raise ValueError("failed to parse page: the page is not readable")
    if rec["error"] is not None:
        raise ValueError(f"failed to parse page: {rec['error']}")
    if metadata_only:
        return json.dumps(
            {k: rec[k] for k in ("title", "byline", "excerpt", "image", "favicon")},
            ensure_ascii=False, indent=4, sort_keys=True,
        )
    return rec["text_content"] if text_only else rec["content"]


def _get_url_content(url: str, metadata_only: bool, text_only: bool,
                     check_only: bool = False) -> str:
    """main.go:114-137 getContent for a URL source. Only http(s) URLs are
    fetched — the server mode exposes this to untrusted query strings, and
    urlopen would otherwise happily open file:// (local-file disclosure)
    or ftp:// references."""
    from urllib.request import Request, urlopen

    if not _is_url(url):
        raise ValueError(f"not a valid http(s) URL: {url}")
    req = Request(url, headers={"User-Agent": "go-readability-spark/0.1"})
    with urlopen(req, timeout=30.0) as resp:  # noqa: S310 — scheme-gated above
        data = resp.read()
        final_url = resp.geturl()
    return _render_article(data, final_url, metadata_only, text_only, check_only)


def cmd_parse(args) -> int:
    if _is_url(args.file):
        try:
            out = _get_url_content(
                args.file, args.metadata_only, args.text_only,
                check_only=args.check_only,
            )
        except Exception as exc:
            print(f"error: {exc}", file=sys.stderr)
            return 1
        print(out)
        return 1 if (args.check_only and out == "false") else 0

    try:
        data = sys.stdin.buffer.read() if args.file == "-" else open(args.file, "rb").read()
    except OSError as exc:
        print(f"error: cannot read {args.file}: {exc.strerror}", file=sys.stderr)
        return 2
    # file sources resolve against http://fakehost.com like the reference
    # (main.go:135), so relative hrefs/srcs absolutize identically
    page_url = args.url or "http://fakehost.com"
    try:
        if args.debug:
            import logging

            logging.basicConfig(level=logging.INFO, stream=sys.stderr)
        out = _render_article(
            data, page_url, args.metadata_only, args.text_only,
            check_only=args.check_only, debug=args.debug,
        )
    except Exception as exc:
        print(f"error: {exc}", file=sys.stderr)
        return 1
    print(out)
    return 1 if (args.check_only and out == "false") else 0


def make_http_server(listen: str):
    """The reference's HTTP-server mode (main.go:82-112): GET / with no
    `url` query serves the submission form; with `url=` it returns the
    extracted content (or text/metadata per the query flags), 400 on any
    fetch/parse failure."""
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
    from urllib.parse import parse_qs, urlsplit

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, fmt, *a):  # quiet by default
            pass

        def do_GET(self):
            q = parse_qs(urlsplit(self.path).query)

            def flag(name):
                v = (q.get(name) or [""])[0].lower()
                return v in ("true", "1", "t", "yes")

            url = (q.get("url") or [""])[0]
            if not url:
                body = _INDEX_HTML.encode("utf-8")
                self.send_response(200)
                self.send_header("Content-Type", "text/html; charset=utf-8")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)
                return
            metadata_only, text_only = flag("metadata"), flag("text")
            try:
                content = _get_url_content(url, metadata_only, text_only)
            except Exception as exc:
                msg = f"{exc}".encode("utf-8")
                self.send_response(400)
                self.send_header("Content-Type", "text/plain; charset=utf-8")
                self.send_header("Content-Length", str(len(msg)))
                self.end_headers()
                self.wfile.write(msg)
                return
            ctype = (
                "application/json" if metadata_only
                else "text/plain; charset=utf-8" if text_only
                else "text/html; charset=utf-8"
            )
            body = content.encode("utf-8")
            self.send_response(200)
            self.send_header("Content-Type", ctype)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

    host, _, port = listen.rpartition(":")
    return ThreadingHTTPServer((host or "127.0.0.1", int(port)), Handler)


def cmd_serve(args) -> int:
    server = make_http_server(args.listen)
    print(f"Starting HTTP server at {args.listen}", file=sys.stderr)
    try:
        server.serve_forever()
    except KeyboardInterrupt:
        pass
    finally:
        server.server_close()
    return 0


def _read_input(spark, args, files: list[str] | None = None):
    """The table ``--input`` holds, read by ``--input-format``: pages, or
    for ``wet`` the pre-extracted articles.  ``files`` narrows a parquet
    or warc input to those files (one segment of ``extract --segments``)."""
    if args.input_format == "warc":
        if args.resolve_revisits:
            # full-fidelity record table: body-less revisit records
            # (10-30% of a real snapshot) resolve to their stored
            # payloads by digest before extraction
            from .operators.revisits import resolve_revisits
            from .sources.warc import records_from_warc

            return resolve_revisits(records_from_warc(spark, args.input))
        from .sources.warc import pages_from_warc

        return pages_from_warc(spark, files or args.input, num_partitions=args.partitions)
    if args.input_format == "wet":
        # Common Crawl's text sidecar: extraction already happened
        # upstream of the WET writer, so curation starts at the gates
        from .plans.curate import articles_from_texts
        from .sources.warc import docs_from_wet

        return articles_from_texts(docs_from_wet(spark, args.input))
    if files:
        from .plans.schema import PAGES_SCHEMA

        return spark.read.option("basePath", args.input).schema(PAGES_SCHEMA).parquet(*files)
    from .sources.pages_table import read_pages

    return read_pages(spark, args.input, format=args.input_format)


def cmd_extract(args) -> int:
    """extract [--segments K]: K file-aligned sub-jobs (plans/crawl.py).

    With K > 1 each segment reads only its own input files (scan AND
    shuffle are ~1/K) and owns output/seg=i + checkpoint/seg=i, so a kill
    anywhere restarts the loop with completed segments no-oping via their
    own checkpoints. K > 1 is refused for --resolve-revisits (digest
    resolution is corpus-global: a revisit's stored payload can live in
    another segment's archive) and for Iceberg inputs (split on snapshot
    manifests instead). K = 1 is one segment over the whole input,
    written to --output itself."""
    import os

    from .plans import build_session, run_extraction_job
    from .plans.crawl import _release_job_state, check_segment_marker, segment_input_files

    multi = args.segments > 1
    if multi and args.input_format == "iceberg":
        raise SystemExit(
            "--segments with Iceberg input: split on the table's snapshot "
            "manifests (per-segment file lists) rather than a directory "
            "listing; directory segmentation is for parquet/warc dirs")
    if multi and args.resolve_revisits:
        raise SystemExit(
            "--segments cannot be combined with --resolve-revisits: "
            "revisit records resolve by digest across the WHOLE corpus, "
            "and a segment cannot see payloads stored in another "
            "segment's archives")
    check_segment_marker(args.output, args.segments, "file-hash")
    spark = build_session(master=args.master)
    try:
        segments = [None]  # K = 1: the whole input, into --output itself
        if multi:
            sufs = ((".warc", ".warc.gz") if args.input_format == "warc"
                    else (".parquet",))
            segments = segment_input_files(args.input, args.segments, sufs)
        for i, files in enumerate(segments):
            if files == []:  # a hash group a small input left empty
                continue
            n = run_extraction_job(
                _read_input(spark, args, files),
                output_dir=os.path.join(args.output, f"seg={i}") if multi else args.output,
                checkpoint_dir=(os.path.join(args.checkpoint, f"seg={i}")
                                if multi and args.checkpoint else args.checkpoint),
                n_buckets=args.buckets,
                num_partitions=args.partitions,
                partition_by=tuple(args.partition_by.split(",")) if args.partition_by else None,
            )
            if n is not None:
                tag = f" (seg {i}/{len(segments)}, {len(files)} files)" if multi else ""
                print(f"atomic sink: {n} buckets written this run{tag}", file=sys.stderr)
            if multi:
                _release_job_state(spark)
    finally:
        spark.stop()
    return 0


def cmd_curate(args) -> int:
    from .plans import build_session, curate_corpus

    spark = build_session(master=args.master)
    try:
        pre_extracted = args.input_format == "wet"
        pages = _read_input(spark, args)
        host_ranks = None
        if getattr(args, "wat_host_rank", None) and args.host_rank_floor is None:
            raise SystemExit(
                "--wat-host-rank supplies the rank table but only "
                "--host-rank-floor turns the gate on — set a floor, or "
                "drop --wat-host-rank (refusing to silently skip the "
                "authority gate you asked for)")
        if getattr(args, "wat_host_rank", None):
            # host authority from the crawl's WAT sidecar: lets the
            # host-rank gate compose with WET input (WET text + WAT
            # graph = full curation with the WARC never read)
            from .operators.linkgraph import (
                edges_from_wat,
                host_graph,
                host_rank,
            )
            from .sources.wat import links_from_wat

            host_ranks = host_rank(host_graph(edges_from_wat(
                links_from_wat(spark, args.wat_host_rank))))
        curated = curate_corpus(
            pages,
            extract=not pre_extracted,
            host_ranks=host_ranks,
            min_length=args.min_length,
            min_quality=args.min_quality,
            languages=tuple(args.languages.split(",")) if args.languages else (),
            near_dup_threshold=args.near_dup_threshold,
            num_partitions=args.partitions,
            gopher_gate=args.gopher_gate,
            redact_pii=args.redact_pii,
            max_lm_nll_per_bigram=args.max_lm_nll,
            host_rank_floor=args.host_rank_floor,
            fix_mojibake=args.fix_mojibake,
            robots=(
                spark.read.parquet(args.robots) if args.robots else None
            ),
            robots_agent=args.robots_agent,
            quality_model=(
                json.load(open(args.quality_model)) if args.quality_model else None
            ),
        )
        if args.shard_bytes:
            from pyspark.sql import functions as F

            from .operators.sharding import write_sharded

            staged = curated.withColumn(
                "_shard_key", F.xxhash64(F.col("url"))
            ).withColumn("_n_bytes", F.octet_length(F.col("text_content")))
            write_sharded(
                staged, args.output,
                bytes_col="_n_bytes", id_col="_shard_key",
                target_bytes=args.shard_bytes,
                # duplicate URLs hash to tied keys — url tiebreak keeps
                # row→shard assignment deterministic across retries
                tiebreak_col="url",
                # keep the sharded schema = curated schema + shard_id
                drop_cols=("_shard_key", "_n_bytes"),
            )
        else:
            curated.write.mode("overwrite").parquet(args.output)
    finally:
        spark.stop()
    return 0


def cmd_crawl_plan(args) -> int:
    """CDX index lines -> robots-gated, politeness-scheduled fetch plan.

    The crawl-side composition of the discovery suite: parse the CDXJ
    index, select the newest good capture per SURT key, drop URLs the
    robots policies disallow, and sequence the remainder per host with
    Crawl-delay spacing. Output parquet: (url, host, slot, eta_sec,
    filename, offset, length) — the byte-range fetch worklist, ordered
    for politeness."""
    from pyspark.sql import functions as F

    from .plans import build_session, ship_package
    from .sources.cdx import cdx_fetch_plan, parse_cdxj

    spark = build_session(master=args.master)
    try:
        ship_package(spark)
        lines = spark.read.text(args.index).withColumnRenamed("value", "line")
        plan = cdx_fetch_plan(parse_cdxj(lines))
        if getattr(args, "seen_bloom", None):
            # cross-segment seen-URL suppression: consult the persistent
            # sharded Bloom store (written by crawl-fetch
            # --record-seen-bloom) so already-fetched urls never reach
            # scheduling — without ever joining a history table
            from .operators.bloom import (
                bloom_store_exists,
                bloom_store_read,
                filter_unseen_sharded,
            )

            if bloom_store_exists(args.seen_bloom):
                filt, meta = bloom_store_read(spark, args.seen_bloom)
                plan = filter_unseen_sharded(
                    plan, filt, key_col="url", n_shards=meta["n_shards"],
                    bits_per_shard=meta["bits_per_shard"], k=meta["k"])
        delays = None
        if args.robots:
            from .operators.robots import (
                crawl_delays,
                filter_by_robots,
                robots_rules,
            )

            robots = spark.read.parquet(args.robots)
            plan = filter_by_robots(
                plan, robots_rules(robots), agent=args.robots_agent)
            delays = crawl_delays(robots, agent=args.robots_agent)
        else:
            delays = spark.createDataFrame(
                [], "host string, delay_sec double")
        from .operators.robots import frontier_schedule

        sched = frontier_schedule(plan, delays,
                                  default_delay=args.default_delay)
        out = sched.join(
            plan.select("url", "filename", "offset", "length"), "url")
        out.write.mode("overwrite").parquet(args.output)
        n = spark.read.parquet(args.output).count()
        print(f"crawl plan: {n} fetches -> {args.output}")
    finally:
        spark.stop()
    return 0


def cmd_crawl_fetch(args) -> int:
    """Execute a crawl-plan worklist: byte-range reads of the planned
    gzip members under --warc-dir (sources/warc.py pages_from_fetch_plan)
    into the pages shape — the stage that closes CDX -> robots ->
    frontier -> FETCH -> extract.  With --extract the fetched pages run
    straight through the extraction plan; with --segments K the
    worklist runs as K archive-aligned sub-jobs so no single shuffle
    exceeds ~1/K of the corpus (plans/crawl.py)."""
    from .plans import build_session, ship_package
    from .plans.crawl import run_crawl_fetch

    spark = build_session(master=args.master)
    try:
        ship_package(spark)
        plan = spark.read.parquet(args.plan)
        n = run_crawl_fetch(
            spark, plan, args.warc_dir, args.output,
            extract=args.extract,
            readerable_gate=getattr(args, "readerable_gate", False),
            checkpoint_dir=args.checkpoint,
            n_buckets=args.buckets,
            record_seen_bloom=getattr(args, "record_seen_bloom", None),
            n_segments=args.segments,
        )
        what = "articles" if args.extract else "pages"
        print(f"crawl fetch: {n} {what} -> {args.output}")
    finally:
        spark.stop()
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(prog="go_readability_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    p = sub.add_parser("parse", help="extract one document (no Spark)")
    p.add_argument("file", help="HTML file path, - for stdin, or an http(s) URL")
    p.add_argument("--url", default=None, help="page URL for link resolution")
    p.add_argument("-m", "--metadata-only", action="store_true")
    p.add_argument("-t", "--text-only", action="store_true")
    p.add_argument("--debug", action="store_true",
                   help="log removal/scoring decisions to stderr "
                        "(reference Debug flag, parser.go:113)")
    p.add_argument("-l", "--check-only", action="store_true",
                   help="print readerable check result only")
    p.set_defaults(fn=cmd_parse)

    s = sub.add_parser("serve", help="HTTP extraction server (reference --http mode)")
    s.add_argument("--listen", "-l", default="127.0.0.1:8123",
                   help="address:port to listen on")
    s.set_defaults(fn=cmd_serve)

    e = sub.add_parser("extract", help="Spark batch extraction job")
    e.add_argument("--input", required=True, help="pages parquet/Iceberg path")
    e.add_argument("--input-format", choices=("parquet", "warc", "iceberg"), default="parquet",
                   help="input source: pages parquet (default) or raw "
                        ".warc/.warc.gz archives (Common Crawl layout)")
    e.add_argument("--output", required=True, help="articles output path")
    e.add_argument("--checkpoint", default=None,
                   help="checkpoint table dir: makes the job resumable "
                        "(task-committed per-bucket files, atomic rename), "
                        "so a killed job resumes at bucket granularity")
    e.add_argument("--buckets", type=int, default=256,
                   help="salt buckets of the resumable sink; applies with "
                        "--checkpoint")
    e.add_argument("--partitions", type=int, default=None)
    e.add_argument("--master", default=None, help="override spark master")
    e.add_argument("--partition-by", default=None,
                   help="comma-separated output partition columns (e.g. lang)")
    e.add_argument("--resolve-revisits", action="store_true",
                   help="with --input-format warc: resolve body-less "
                        "revisit records (dedup pointers) to their stored "
                        "payloads by digest before extraction")
    e.add_argument("--segments", type=int, default=1,
                   help="split the input into N file-aligned sub-jobs run "
                        "sequentially (output under seg=i/ dirs, "
                        "per-segment checkpoints): each segment reads "
                        "only its own files, bounding scan and shuffle "
                        "at ~1/N (not valid with --resolve-revisits)")
    e.set_defaults(fn=cmd_extract)

    c = sub.add_parser("curate", help="full curation pipeline: extract -> "
                       "quality/lang gates -> exact+near dedup [-> LM gate, "
                       "PII redaction]")
    c.add_argument("--input", required=True,
                   help="pages parquet, warc dir, or wet dir")
    c.add_argument("--quality-model", default=None,
                   help="frozen linear quality-classifier weights JSON "
                        "(train_quality_classifier); gates curated docs")
    c.add_argument("--input-format",
                   choices=("parquet", "warc", "wet", "iceberg"),
                   default="parquet",
                   help="'wet' curates Common Crawl's pre-extracted text "
                        "sidecar directly: the extraction stage is "
                        "skipped, every downstream gate applies "
                        "(host-rank-floor refused — WET has no anchors)")
    c.add_argument("--resolve-revisits", action="store_true",
                   help="with --input-format warc: resolve revisit "
                        "records to stored payloads before curation")
    c.add_argument("--output", required=True, help="curated parquet path")
    c.add_argument("--min-length", type=int, default=200)
    c.add_argument("--min-quality", type=float, default=0.3)
    c.add_argument("--languages", default="en",
                   help="comma-separated lang_id whitelist; empty = all")
    c.add_argument("--near-dup-threshold", type=float, default=0.7)
    c.add_argument("--gopher-gate", action="store_true",
                   help="apply Gopher/C4 repetition + structure gates")
    c.add_argument("--redact-pii", action="store_true",
                   help="mask emails/IPs/phones in text_content")
    c.add_argument("--fix-mojibake", action="store_true",
                   help="repair UTF-8 double-decode corruption in "
                        "extracted text (segment-level cp1252 inversion)")
    c.add_argument("--robots", default=None,
                   help="parquet of (host, robots_txt): drop pages the "
                        "current policy disallows (takedown sweep, "
                        "RFC 9309 longest-match semantics)")
    c.add_argument("--robots-agent", default="*",
                   help="product token for robots group selection")
    c.add_argument("--host-rank-floor", type=float, default=None,
                   help="drop pages whose host PageRank (computed over "
                        "the input's own link graph) is below this floor; "
                        "unlinked hosts are kept")
    c.add_argument("--wat-host-rank", default=None,
                   help="WAT sidecar dir: compute the host-rank gate's "
                        "PageRank from the crawl's WAT link metadata "
                        "instead of the input's html (required for "
                        "--input-format wet, cheaper everywhere)")
    c.add_argument("--max-lm-nll", type=float, default=None,
                   help="CCNet-style per-bigram NLL cap (nats); unset = off")
    c.add_argument("--partitions", type=int, default=None)
    c.add_argument("--shard-bytes", type=int, default=None,
                   help="write ~N-byte balanced output shards "
                        "(shard_id=K/ dirs, one file each) instead of a "
                        "flat parquet dir")
    c.add_argument("--master", default=None)
    c.set_defaults(fn=cmd_curate)

    cp = sub.add_parser("crawl-plan", help="CDXJ index -> robots-gated, "
                        "politeness-scheduled byte-range fetch plan")
    cp.add_argument("--index", required=True,
                    help="CDXJ index file(s)/dir (text lines)")
    cp.add_argument("--output", required=True, help="fetch-plan parquet")
    cp.add_argument("--robots", default=None,
                    help="parquet of (host, robots_txt) to gate + pace by")
    cp.add_argument("--robots-agent", default="*")
    cp.add_argument("--default-delay", type=float, default=1.0,
                    help="per-host spacing (sec) when no Crawl-delay")
    cp.add_argument("--seen-bloom", default=None,
                    help="sharded Bloom store dir (from crawl-fetch "
                         "--record-seen-bloom): drop maybe-seen urls "
                         "before scheduling")
    cp.add_argument("--master", default=None)
    cp.set_defaults(fn=cmd_crawl_plan)

    cf = sub.add_parser("crawl-fetch", help="execute a crawl-plan worklist: "
                        "byte-range reads against WARC archives -> pages "
                        "(or extracted articles with --extract)")
    cf.add_argument("--plan", required=True,
                    help="fetch-plan parquet (from crawl-plan)")
    cf.add_argument("--warc-dir", required=True,
                    help="directory holding the plan's .warc.gz archives")
    cf.add_argument("--output", required=True, help="output parquet")
    cf.add_argument("--extract", action="store_true",
                    help="run extraction on the fetched pages")
    cf.add_argument("--readerable-gate", action="store_true",
                    help="drop pages failing the cheap readerable Check "
                         "(crawl fast path; gated pages would exit curation "
                         "anyway): with --extract inside the extraction "
                         "stage, before scoring; without it, as a filter "
                         "on the fetched pages")
    cf.add_argument("--buckets", type=int, default=64,
                    help="salt buckets of the resumable sink; applies "
                         "with --extract --checkpoint")
    cf.add_argument("--checkpoint", default=None,
                    help="with --extract: checkpoint table dir; makes the "
                         "extraction resumable at bucket granularity "
                         "(kill+restart skips the buckets already written)")
    cf.add_argument("--record-seen-bloom", default=None,
                    help="merge this run's fetched urls into a sharded "
                         "Bloom store dir (consulted by crawl-plan "
                         "--seen-bloom on the next segment)")
    cf.add_argument("--segments", type=int, default=1,
                    help="split the worklist into N archive-aligned "
                         "sub-jobs run sequentially (output under "
                         "seg=i/ dirs, per-segment checkpoints): bounds "
                         "peak shuffle scratch at ~1/N of the corpus")
    cf.add_argument("--master", default=None)
    cf.set_defaults(fn=cmd_crawl_fetch)

    args = ap.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
