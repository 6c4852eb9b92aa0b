#!/usr/bin/env python3
"""Repository benchmark: one workload, one closed-loop client.

    python3 perfbench/run.py --workload extract_short --seed 3 --seconds 20 --trace 0

One driver process runs the workload on ``local[nproc]``: one job at a
time, the next submitted when the previous one completes, until
``--seconds`` have passed (and at least ``MIN_JOBS`` jobs ran).  Every
job's output is checked against the pins in ``perfbench/pins``.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the
traced variant (spans around the program's public functions, Spark event
log) and prints the per-layer metrics.  The last stdout line is the
result object; the line before it holds the host facts.  Metric names,
units and the reason for each workload are in ``BENCHMARK.json``.

Exit codes: 0 with a result line, 2 when the program or its inputs are
missing (no result line).
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import harness, inputs, sparklog, tracing  # noqa: E402
from perfbench.workloads import Ctx, count_failed  # noqa: E402

SETUPS = 3  # session set-ups per untraced run; setup_s is their median
MIN_JOBS = {0: 2, 1: 4}
RUN_DIRS_KEPT = 24
WARMUP_ROWS = 500


def median(xs):
    return statistics.median(xs) if xs else 0.0


def pct(xs, q):
    """Nearest-rank percentile of a sorted list."""
    if not xs:
        return 0.0
    return xs[min(len(xs) - 1, max(0, -(-len(xs) * q // 100) - 1))]


def host_facts() -> dict:
    import pyarrow
    import pyspark

    return {"nproc": harness.nproc(), "python": platform.python_version(),
            "spark": pyspark.__version__, "arrow": pyarrow.__version__,
            "machine": platform.machine()}


def n_docs(ctx) -> int:
    """Input documents per job (corpus_ops also checks query keys)."""
    return sum(1 for k in ctx.expected if not k.startswith("q:"))


def run_loop(wl, ctx, seconds: float, modes: list[str], min_jobs: int, mem) -> None:
    """The closed loop: one job at a time until seconds have passed."""
    spans_dir = os.path.join(ctx.run_dir, "spans")
    start = time.perf_counter()
    i = 0
    while i < min_jobs or time.perf_counter() - start < seconds:
        mode = modes[i % len(modes)]
        tag = f"pb:{mode}:{i}"
        with ctx.spans.span(f"bench.job.{mode}", value=i), harness.StealClock() as clock:
            try:
                if mode == "traced":
                    parent = ctx.spans.current_id()
                    with tracing.traced_extractors(spans_dir, tag, parent):
                        observed = wl.job(ctx, tag)
                else:
                    observed = wl.job(ctx, tag)
            except Exception as exc:  # a job that raises fails every key
                print(f"perfbench: job {tag} raised {type(exc).__name__}: {exc}",
                      file=sys.stderr)
                observed = None
        ctx.attempted += len(ctx.expected)
        if observed is None:
            ctx.failed += len(ctx.expected)
        else:
            ctx.failed += count_failed(ctx.expected, observed)
            ctx.raw_walls[mode].append(ctx.spans.last(wl.job_span))
            ctx.walls[mode].append(clock.net(ctx.raw_walls[mode][-1]))
            ctx.steal.append(clock.share)
        mem.sample()
        ctx.release_cache()
        i += 1


def cleanup_runs(keep_dir: str) -> None:
    root = os.path.dirname(keep_dir)
    dirs = sorted((os.path.join(root, d) for d in os.listdir(root)), key=os.path.getmtime)
    for d in dirs[:-RUN_DIRS_KEPT]:
        shutil.rmtree(d, ignore_errors=True)
    shutil.rmtree(os.path.join(keep_dir, "sink"), ignore_errors=True)


def end_to_end(ctx, setups, mem) -> dict:
    """Timings are wall times net of hypervisor steal (harness.StealClock)."""
    docs = n_docs(ctx)
    return {
        "docs_per_s": (median([docs / w for w in ctx.walls["untraced"]]), "1/s"),
        "setup_s": (median(setups), "s"),
        "ok_frac": (1.0 - min(1.0, ctx.failed / max(1, ctx.attempted)), "fraction"),
        "worker_peak_rss_mb": (mem.peak_mb, "MB"),
    }


def per_layer(ctx, spans, jvm_mb, extra, event_dir, kernel) -> dict:
    """Every per-layer metric; a layer the workload does not run reads 0."""
    spans_dir = os.path.join(ctx.run_dir, "spans")
    worker = tracing.load_spans(spans_dir) if os.path.isdir(spans_dir) else []
    tracing.with_self_time(worker)
    traced_runs = sorted({s["run"] for s in worker})
    n_traced = max(1, len(traced_runs))

    def spans_named(name):
        return [s for s in worker if s["name"] == name]

    def per_job(name, field="dur"):
        return sum(s[field] for s in spans_named(name)) / 1e9 / n_traced

    parse, check, pdoc, rec = (spans_named(n) for n in (
        "dom.parse_html", "readability.check_document",
        "readability.parse_document", "plans.extract_record"))
    ms = {n: sorted(s["dur"] / 1e6 for s in v)
          for n, v in (("parse", parse), ("pdoc", pdoc), ("rec", rec))}
    parse_s, rec_s = per_job("dom.parse_html"), per_job("plans.extract_record")
    attempts = [s["value"] for s in pdoc if s["value"] is not None]
    m = {
        "dom.parse_s": (parse_s, "s"),
        "dom.parse_ms_p50": (pct(ms["parse"], 50), "ms"),
        "dom.parse_ms_p99": (pct(ms["parse"], 99), "ms"),
        "dom.mb_per_s": ((sum(s["value"] or 0 for s in parse) / 1e6)
                         / (sum(s["dur"] for s in parse) / 1e9) if parse else 0.0, "MB/s"),
        "dom.nodes_per_doc": (kernel.get("nodes_per_doc", 0.0), "count"),
        "readability.check_s": (per_job("readability.check_document"), "s"),
        "readability.parse_document_s": (per_job("readability.parse_document"), "s"),
        "readability.parse_document_ms_p50": (pct(ms["pdoc"], 50), "ms"),
        "readability.parse_document_ms_p99": (pct(ms["pdoc"], 99), "ms"),
        "readability.attempts_per_doc": (sum(attempts) / len(attempts) if attempts else 0.0,
                                         "count"),
        "readability.retry_share": (sum(a > 1 for a in attempts) / len(attempts)
                                    if attempts else 0.0, "fraction"),
        "readability.readerable_share": (sum(s["value"] or 0 for s in check) / len(check)
                                         if check else 0.0, "fraction"),
        "readability.error_rows": (sum(s["value"] or 0 for s in rec) / n_traced, "count"),
        "plans.extract_record_s": (rec_s, "s"),
        "plans.extract_record_ms_p50": (pct(ms["rec"], 50), "ms"),
        "plans.extract_record_ms_p99": (pct(ms["rec"], 99), "ms"),
        "plans.extract_record_ms_max": (ms["rec"][-1] if ms["rec"] else 0.0, "ms"),
        "plans.teardown_s": (per_job("plans.extract_record", "self"), "s"),
        "plans.frame_build_s": (per_job("plans.frame_build", "self"), "s"),
        "plans.input_batches_s": (per_job("plans.input_batch"), "s"),
    }
    phases = (parse_s + m["readability.check_s"][0] + m["readability.parse_document_s"][0]
              + m["plans.teardown_s"][0])
    m["trace.reconcile_frac"] = (phases / rec_s if rec_s else 0.0, "fraction")

    # Spark's own numbers. Extraction: the untraced timed jobs (pb:untraced:<i>);
    # operators: every corpus job, tagged pb:<mode>:<i>:<operator>
    tasks = sparklog.tasks_by_description(sparklog.read_events(event_dir))
    ext_jobs: dict[str, list] = {}
    op_jobs: dict[str, list] = {}
    for desc, ts in tasks.items():
        parts = desc.split(":")
        if len(parts) == 4 and parts[1] in ("untraced", "ops"):
            op_jobs.setdefault(":".join(parts[1:3]), []).extend(ts)
        elif len(parts) == 3 and parts[1] == "untraced":
            ext_jobs.setdefault(parts[2], []).extend(ts)
    ext_m = [sparklog.job_metrics(ts) for ts in ext_jobs.values()]
    op_m = [sparklog.job_metrics(ts) for ts in op_jobs.values()]

    for key, unit in (("python.boot_s", "s"), ("python.init_s", "s"), ("python.total_s", "s"),
                      ("python.data_sent_mb", "MB"), ("python.data_recv_mb", "MB"),
                      ("python_tasks", "count"), ("exchange.shuffle_write_mb", "MB"),
                      ("exchange.shuffle_read_mb", "MB"), ("exchange.fetch_wait_s", "s"),
                      ("exchange.spill_mb", "MB"), ("extract_stage.run_s", "s"),
                      ("extract_stage.cpu_s", "s"), ("extract_stage.gc_s", "s"),
                      ("extract_stage.task_max_s", "s"), ("extract_stage.task_median_s", "s"),
                      ("extract_stage.task_skew", "ratio"), ("sched_delay_s", "s"),
                      ("failed_tasks", "count")):
        m[f"plans.{key}"] = (median([j[key] for j in ext_m]), unit)

    def drv(name):
        vals = [(s[2] - s[1]) / 1e9 for s in spans.spans if s[0] == name and s[2]]
        return median(vals)

    def drv_value(name):
        return median([s[4] for s in spans.spans if s[0] == name and s[2]])

    m.update({
        "plans.sink.overhead_s": (extra.get("plans.sink.overhead_s", 0.0), "s"),
        "plans.sink.files_written": (extra.get("plans.sink.files_written", 0.0), "count"),
        "plans.sink.output_mb": (extra.get("plans.sink.output_mb", 0.0), "MB"),
        "plans.checkpoint.rows": (extra.get("plans.checkpoint.rows", 0.0), "count"),
        "plans.resume.verify_s": (extra.get("plans.resume.verify_s", 0.0), "s"),
        "plans.resume.noop_s": (drv("plans.resume.noop"), "s"),
        "plans.resume.buckets_rewritten": (float(ctx.buckets_rewritten or 0), "count"),
        "plans.session.build_s": (drv("plans.session.build"), "s"),
        "plans.session.first_task_s": (drv("plans.session.first_task"), "s"),
        "plans.jvm_peak_rss_mb": (jvm_mb, "MB"),
        "sources.scan_s": (drv("sources.scan"), "s"),
        "sources.rows": (extra.get("sources.rows", 0.0), "count"),
        "sources.html_mb": (extra.get("sources.html_mb", 0.0), "MB"),
    })
    docs = n_docs(ctx)
    untraced = median([docs / w for w in ctx.walls["untraced"]])
    traced = median([docs / w for w in ctx.walls["traced"]])
    k1t = kernel.get("docs_per_s_1t", 0.0)
    m.update({
        "plans.kernel_docs_per_s_1t": (k1t, "1/s"),
        "plans.engine_efficiency": (untraced / (harness.nproc() * k1t) if k1t else 0.0, "ratio"),
        "trace.docs_per_s_untraced": (untraced, "1/s"),
        "trace.docs_per_s_traced": (traced, "1/s"),
        "trace.overhead_frac": (1.0 - traced / untraced if untraced else 0.0, "fraction"),
    })
    m.update({
        "functions.text_features_s": (drv("functions.with_text_features"), "s"),
        "operators.minhash_dedup_s": (drv("operators.minhash_dedup_pairs"), "s"),
        "operators.ann_topk_s": (drv("operators.brute_force_topk"), "s"),
        "operators.minhash.pairs": (float(drv_value("operators.minhash_dedup_pairs")), "count"),
        "operators.shuffle_write_mb": (median([j["exchange.shuffle_write_mb"] for j in op_m]),
                                       "MB"),
        "operators.task_skew": (median([j["task_skew"] for j in op_m]), "ratio"),
        "operators.persisted_rdds_after": (float(max(ctx.persisted_after, default=0)), "count"),
    })
    return m


def kernel_baseline(inp: str) -> dict:
    """extract_record in a plain loop on the driver, no Spark; the cyclic
    GC is off during the loop, as it is in the engine's workers."""
    import gc

    import pyarrow.parquet as pq

    from go_readability_spark.dom import parse_html, unlink_tree
    from go_readability_spark.plans import extract_record

    table = pq.read_table(os.path.join(inp, "pages"), columns=["url", "html"])
    urls, htmls = table.column("url").to_pylist(), table.column("html").to_pylist()
    gc.disable()
    try:
        t0 = time.perf_counter()
        for url, html in zip(urls, htmls):
            extract_record(url, html)
        dt = time.perf_counter() - t0
    finally:
        gc.enable()
    # tree size on an even sample of at most 200 pages
    sample = htmls[::max(1, len(htmls) // 200)]
    nodes = 0
    for html in sample:
        doc = parse_html(html)
        stack = [doc]
        while stack:
            n = stack.pop()
            nodes += 1
            c = n.first_child
            while c is not None:
                stack.append(c)
                c = c.next
        unlink_tree(doc)
    return {"docs_per_s_1t": len(urls) / dt, "nodes_per_doc": nodes / len(sample)}


def scan(wl, ctx) -> dict:
    from pyspark.sql import functions as F

    if wl.kind == "corpus":
        df, col = ctx.spark.read.parquet(os.path.join(ctx.inp, "documents.parquet")), "text"
    else:
        from go_readability_spark.sources import read_pages

        df, col = read_pages(ctx.spark, os.path.join(ctx.inp, "pages")), "html"
    ctx.describe("pb:scan")
    with ctx.spans.span("sources.scan"):
        rows, size = df.agg(F.count(F.lit(1)), F.sum(F.length(col))).collect()[0]
    return {"sources.rows": float(rows), "sources.html_mb": size / 1e6}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:  # fail before any JVM starts when the program is not here
        import go_readability_spark  # noqa: F401
        import pyspark  # noqa: F401

        from perfbench.workloads import WORKLOADS, expected_digests, load_pins
    except ImportError as exc:
        print(f"perfbench: cannot import the program: {exc}", file=sys.stderr)
        return 2
    wl = WORKLOADS.get(args.workload)
    if wl is None:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    with open(os.path.join(harness.REPO_ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    variant = inputs.variant_of(args.seed)
    pins = load_pins(wl.kind, variant)
    if pins is None:
        print(f"perfbench: no pins for {wl.kind} variant {variant}", file=sys.stderr)
        return 2

    harness.confine_to_work_dir()
    tracing.ship()
    run_id = f"{wl.name}-s{args.seed}-t{args.trace}-{os.getpid()}-{int(time.time())}"
    run_dir = os.path.join(harness.WORK_DIR, "runs", run_id)
    os.makedirs(run_dir)
    spans = tracing.SpanLog(run_id)
    event_dir = os.path.join(run_dir, "eventlog") if args.trace else None
    conf = harness.session_conf(event_dir)

    spark = None
    try:
        with spans.span("bench.run"):
            setups = []
            for _ in range(SETUPS if args.trace == 0 else 1):
                if spark is not None:
                    spark.stop()
                with harness.StealClock() as clock:
                    spark = harness.set_up(spans, conf)
                setups.append(clock.net(spans.last("plans.session.build")
                                        + spans.last("plans.session.first_task")))
            mem = harness.WorkerMemory(harness.jvm_pid(spark))
            mem.sample()
            with spans.span("sources.prepare"):
                inp = inputs.prepare(wl.kind, variant, spark)
            ctx = Ctx(spark, spans, inp, variant, run_dir)
            ctx.expected, reason = expected_digests(pins, wl.keys(ctx))
            if ctx.expected is None:
                print(f"perfbench: output check cannot run: {reason}", file=sys.stderr)
                return 2
            # warm-up: the same job over a few rows absorbs the first job's
            # JIT and first-use costs; its output is a sample, not checked
            ctx.sample = WARMUP_ROWS
            with spans.span("bench.warmup"):
                try:
                    wl.job(ctx, "pb:warmup")
                except Exception as exc:  # the timed jobs will fail and count it
                    print(f"perfbench: warm-up raised {type(exc).__name__}: {exc}",
                          file=sys.stderr)
            ctx.sample = 0
            spark.catalog.clearCache()
            extra = scan(wl, ctx) if args.trace else {}
            # traced run: untraced and traced jobs in ABBA order, so neither
            # side gets all the early (still warming) jobs
            modes = ["untraced", "traced", "traced", "untraced"] if args.trace else ["untraced"]
            run_loop(wl, ctx, args.seconds, modes, MIN_JOBS[args.trace], mem)
            wl.after_loop(ctx)
            if args.trace:
                extra.update(wl.probe(ctx))
            mem.sample()
            jvm_mb = harness.peak_rss_mb(harness.jvm_pid(spark))
    finally:
        if spark is not None:
            harness.stop_jvm(spark)
    kernel = kernel_baseline(inp) if args.trace and wl.kind != "corpus" else {}

    if args.trace:
        metrics = per_layer(ctx, spans, jvm_mb, extra, event_dir, kernel)
        spans.dump(os.path.join(run_dir, "spans"))
    else:
        metrics = end_to_end(ctx, setups, mem)
    declared = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]
    if sorted(declared) != sorted(metrics):
        print(f"perfbench: metrics {sorted(set(metrics) ^ set(declared))} are not "
              "both declared in BENCHMARK.json and measured", file=sys.stderr)
        return 1
    metrics = {k: metrics[k] for k in declared}
    result = {
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }
    facts = {"host": host_facts(), "workload": wl.name, "seed": args.seed,
             "variant": variant, "trace": args.trace, "setups_net_s": setups,
             "job_walls_raw_s": ctx.raw_walls, "job_steal_share": ctx.steal,
             "run_dir": os.path.relpath(run_dir, harness.REPO_ROOT)}
    with open(os.path.join(run_dir, "result.json"), "w") as fh:
        json.dump({**facts, "result": result}, fh, indent=1)
    cleanup_runs(run_dir)
    print(json.dumps(facts))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
