"""The four workloads: one job each, its output digests, and the pins.

Every job returns ``(key, digest)`` pairs for the records it produced; a
workload's pins hold the digest each input key must get.  A key whose
record is missing, duplicated or different counts as failed, and so does
a key the input does not have.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import statistics
from datetime import datetime

from . import inputs

PINS_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pins")

# the pinned article fields; the two large ones enter as their md5
_ARTICLE_FIELDS = ("title", "byline", "excerpt", "site_name", "lang",
                   "readerable", "published_time", "modified_time", "image",
                   "favicon", "error")
_NULL = "␀"


def short_md5(text: str) -> str:
    return hashlib.md5(text.encode("utf-8")).hexdigest()[:8]


def _str(col):
    from pyspark.sql import functions as F

    return F.coalesce(col.cast("string"), F.lit(_NULL))


def article_digests(articles):
    """(url, digest) per output row, computed in Spark over every pinned
    column, so the action that collects them materializes the articles."""
    from pyspark.sql import functions as F

    fields = [_str(F.md5(F.col("text_content"))), _str(F.md5(F.col("content")))]
    for name in _ARTICLE_FIELDS:
        col = F.col(name)
        if name.endswith("_time"):
            col = F.date_format(col, "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
        fields.append(_str(col))
    digest = F.substring(F.md5(F.concat_ws("\u001f", *fields)), 1, 8)
    return [(r[0], r[1]) for r in articles.select("url", digest).collect()]


def _py_str(v) -> str:
    """The Spark cast(... as string) of one value, as article_digests uses it."""
    if v is None:
        return _NULL
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, datetime):
        return v.strftime("%Y-%m-%dT%H:%M:%S.%f")
    return str(v)


def _md5_or_null(text):
    return _NULL if text is None else hashlib.md5(text.encode("utf-8")).hexdigest()


def parquet_article_digests(path: str):
    """article_digests computed in Python over an articles parquet table
    (the atomic sink's output); read with pyarrow, not through Spark, which
    lists and schedules its 256 bucket files far slower."""
    import pyarrow.dataset as ds

    cols = ["url", "text_content", "content", *_ARTICLE_FIELDS]
    out = []
    for rec in ds.dataset(path, format="parquet", partitioning="hive").to_table(columns=cols).to_pylist():
        fields = [_md5_or_null(rec["text_content"]), _md5_or_null(rec["content"])]
        fields += [_py_str(rec[name]) for name in _ARTICLE_FIELDS]
        out.append((rec["url"], short_md5("\u001f".join(fields))))
    return out


def row_digests(df, key: str):
    """(key, digest) over every column of df."""
    from pyspark.sql import functions as F

    cols = [_str(F.col(c)) for c in df.columns]
    digest = F.substring(F.md5(F.concat_ws("\u001f", *cols)), 1, 8)
    return [(r[0], r[1]) for r in df.select(F.col(key).cast("string"), digest).collect()]


# ------------------------------------------------------------------ pins


def load_pins(kind: str, variant: int) -> dict | None:
    path = os.path.join(PINS_DIR, f"{kind}.json")
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        return json.load(fh)["variants"].get(str(variant))


def keys_md5(keys: list[str]) -> str:
    return hashlib.md5("\n".join(keys).encode("utf-8")).hexdigest()


def pin_entry(keys: list[str], observed: list[tuple[str, str]]) -> dict:
    got = dict(observed)
    if sorted(got) != keys or len(observed) != len(keys):
        raise ValueError("output keys do not match input keys; refusing to pin")
    return {"n": len(keys), "keys_md5": keys_md5(keys),
            "digests": "".join(got[k] for k in keys)}


def expected_digests(pins: dict | None, keys: list[str]) -> tuple[dict | None, str | None]:
    """key -> pinned digest, or (None, reason) when the check cannot run."""
    if pins is None:
        return None, "no pins for this input variant"
    if pins["keys_md5"] != keys_md5(keys):
        return None, "input keys differ from the pinned inputs"
    d = pins["digests"]
    return {k: d[8 * i:8 * i + 8] for i, k in enumerate(keys)}, None


def count_failed(expected: dict, observed: list[tuple[str, str]]) -> int:
    seen: dict[str, list[str]] = {}
    for key, digest in observed:
        seen.setdefault(key, []).append(digest)
    bad = sum(1 for k, want in expected.items() if seen.get(k) != [want])
    return bad + sum(1 for k in seen if k not in expected)


# ------------------------------------------------------------- workloads


class Ctx:
    """What a workload's job needs: the session, its inputs, the spans."""

    def __init__(self, spark, spans, inp, variant, run_dir):
        self.spark, self.spans, self.inp = spark, spans, inp
        self.variant, self.run_dir = variant, run_dir
        self.sample = 0  # > 0: jobs read only that many input rows (warm-up)
        self.expected: dict = {}
        self.keep_sink = None
        self.buckets_rewritten = None
        self.attempted = 0
        self.failed = 0
        # job wall times as measured, and net of steal (harness.StealClock)
        self.raw_walls: dict[str, list[float]] = {"untraced": [], "traced": []}
        self.walls: dict[str, list[float]] = {"untraced": [], "traced": []}
        self.steal: list[float] = []  # StealClock.share per job
        self.persisted_after: list[int] = []

    def describe(self, tag: str) -> None:
        self.spark.sparkContext.setJobDescription(tag)

    def release_cache(self) -> None:
        """Count the RDDs a job left persisted, then clear Spark's cache,
        so no job reads the previous one's persist."""
        self.persisted_after.append(self.spark.sparkContext._jsc.getPersistentRDDs().size())
        self.spark.catalog.clearCache()

    def table(self, name: str):
        """An input table through the program's own reader."""
        path = os.path.join(self.inp, name)
        if name == "pages":
            from go_readability_spark.sources import read_pages

            df = read_pages(self.spark, path)
        else:
            df = self.spark.read.parquet(path)
        return df.limit(self.sample) if self.sample else df


class Workload:
    name = ""
    kind = ""  # input kind, see inputs.py
    job_span = ""  # the driver span that times one job

    def keys(self, ctx) -> list[str]:
        """Sorted input keys, in pin order."""
        raise NotImplementedError

    def job(self, ctx, tag: str) -> list[tuple[str, str]]:
        """Run one timed job; return the output digests."""
        raise NotImplementedError

    def after_loop(self, ctx) -> None:
        """Checks after the timed loop; add to ctx.attempted/ctx.failed."""

    def probe(self, ctx) -> dict[str, float]:
        """Traced run only: layer numbers that need extra jobs."""
        return {}


def _page_urls(inp: str) -> list[str]:
    import pyarrow.parquet as pq

    urls = pq.read_table(os.path.join(inp, "pages"), columns=["url"]).column("url")
    return sorted(urls.to_pylist())


class ExtractPages(Workload):
    """extract_pages over a pages table; the timed action collects the
    per-url digests of every article column."""

    job_span = "plans.extract_pages"

    def __init__(self, name: str, kind: str):
        self.name, self.kind = name, kind

    def keys(self, ctx):
        return _page_urls(ctx.inp)

    def job(self, ctx, tag):
        from go_readability_spark.plans import extract_pages

        ctx.describe(tag)
        with ctx.spans.span(self.job_span):
            return article_digests(extract_pages(ctx.table("pages")))


class ExtractShort(ExtractPages):
    """extract_pages over pages made from documents.  Its traced run also
    runs the corpus operators over the same variant's documents, so the
    functions/operators layers are measured without a gated workload."""

    def __init__(self):
        super().__init__("extract_short", "doc_pages")

    def probe(self, ctx):
        ops = WORKLOADS["corpus_ops"]
        sub = Ctx(ctx.spark, ctx.spans, inputs.prepare("corpus", ctx.variant, ctx.spark),
                  ctx.variant, ctx.run_dir)
        sub.expected, reason = expected_digests(load_pins("corpus", ctx.variant), ops.keys(sub))
        if sub.expected is None:
            raise RuntimeError(f"corpus operators cannot be checked: {reason}")
        for k in range(3):  # the first job pays the operators' JIT warm-up
            ctx.failed += count_failed(sub.expected, ops.job(sub, f"pb:ops:{k}"))
            ctx.attempted += len(sub.expected)
            ctx.release_cache()
        return {}


class ExtractResumeSink(Workload):
    """run_extraction_job_atomic with a checkpoint_dir into fresh output;
    the output is read back and checked, and one restart over completed
    output per run must write 0 buckets."""

    name = "extract_resume_sink"
    kind = "skew_pages"
    job_span = "plans.run_extraction_job_atomic"

    def keys(self, ctx):
        return _page_urls(ctx.inp)

    def _dirs(self, ctx, tag):
        base = os.path.join(ctx.run_dir, "sink", tag.replace(":", "-"))
        return os.path.join(base, "articles"), os.path.join(base, "ckpt")

    def job(self, ctx, tag):
        from go_readability_spark.plans import run_extraction_job_atomic

        out, ckpt = self._dirs(ctx, tag)
        shutil.rmtree(os.path.dirname(out), ignore_errors=True)  # fresh output
        ctx.describe(tag)
        with ctx.spans.span(self.job_span) as sp:
            sp["value"] = run_extraction_job_atomic(ctx.table("pages"), out, checkpoint_dir=ckpt)
        observed = parquet_article_digests(out)
        if ctx.keep_sink is not None:
            shutil.rmtree(ctx.keep_sink, ignore_errors=True)
        ctx.keep_sink = os.path.dirname(out)
        return observed

    def after_loop(self, ctx):
        """Restart over the last completed output: 0 buckets rewritten."""
        from go_readability_spark.plans import run_extraction_job_atomic

        out, ckpt = (os.path.join(ctx.keep_sink, "articles"),
                     os.path.join(ctx.keep_sink, "ckpt"))
        ctx.describe("pb:noop")
        with ctx.spans.span("plans.resume.noop") as sp:
            sp["value"] = run_extraction_job_atomic(ctx.table("pages"), out, checkpoint_dir=ckpt)
        ctx.buckets_rewritten = sp["value"]
        ctx.attempted += len(ctx.expected)
        ctx.failed += len(ctx.expected) if sp["value"] else 0

    def probe(self, ctx):
        """Resume verification, sink output, and the sink's cost over
        extract_pages on the same input (two untraced jobs)."""
        import glob

        import pyarrow.parquet as pq

        from go_readability_spark.plans.extract import completed_buckets

        out, ckpt = (os.path.join(ctx.keep_sink, "articles"),
                     os.path.join(ctx.keep_sink, "ckpt"))
        ctx.describe("pb:verify")
        with ctx.spans.span("plans.resume.verify") as sp:
            sp["value"] = completed_buckets(ctx.spark, ckpt, verify_output_dir=out).count()
        files = glob.glob(os.path.join(out, "salt=*", "part-*.parquet"))
        plain = WORKLOADS["extract_skewed"]
        walls = []
        for k in range(2):
            ctx.failed += count_failed(ctx.expected, plain.job(ctx, f"pb:overhead:{k}"))
            ctx.attempted += len(ctx.expected)
            walls.append(ctx.spans.last(plain.job_span))
        return {
            "plans.resume.verify_s": ctx.spans.last("plans.resume.verify"),
            "plans.sink.files_written": float(len(files)),
            "plans.sink.output_mb": sum(os.path.getsize(f) for f in files) / 1e6,
            "plans.checkpoint.rows": float(pq.read_table(ckpt).num_rows),
            "plans.sink.overhead_s": (statistics.median(ctx.walls["untraced"])
                                      - statistics.median(walls)),
        }


class CorpusOps(Workload):
    """with_text_features, brute_force_topk and minhash_dedup_pairs over
    documents/embeddings; no readability kernel.  Units are documents
    (features row plus the near-duplicate pairs it is in) and queries
    (ordered neighbour ids)."""

    name = "corpus_ops"
    kind = "corpus"
    job_span = "corpus_ops.job"

    def keys(self, ctx):
        import pyarrow.parquet as pq

        ids = pq.read_table(os.path.join(ctx.inp, "documents.parquet"),
                            columns=["doc_id"]).column("doc_id").to_pylist()
        return sorted([f"doc:{i}" for i in ids]
                      + [f"q:{q}" for q in inputs.query_ids(ctx.variant)])

    def job(self, ctx, tag):
        from pyspark.sql import functions as F

        from go_readability_spark.functions import with_text_features
        from go_readability_spark.operators import brute_force_topk, minhash_dedup_pairs

        docs, emb = ctx.table("documents.parquet"), ctx.table("embeddings.parquet")
        qids = inputs.query_ids(ctx.variant)
        with ctx.spans.span(self.job_span):
            ctx.describe(tag + ":features")
            with ctx.spans.span("functions.with_text_features"):
                feats = row_digests(with_text_features(docs, "text"), "doc_id")
            ctx.describe(tag + ":topk")
            with ctx.spans.span("operators.brute_force_topk"):
                topk = brute_force_topk(emb, emb.where(F.col("vec_id").isin(qids)), k=10).collect()
            ctx.describe(tag + ":minhash")
            with ctx.spans.span("operators.minhash_dedup_pairs") as sp:
                pairs = minhash_dedup_pairs(docs, threshold=0.5).collect()
                sp["value"] = len(pairs)
        return self._units(feats, topk, pairs)

    @staticmethod
    def _units(feats, topk, pairs):
        partners: dict[str, list[str]] = {}
        for p in pairs:
            line = f"{p.id_a},{p.id_b},{p.inter},{p.size_a},{p.size_b},{p.jaccard!r}"
            for side in (p.id_a, p.id_b):
                partners.setdefault(str(side), []).append(line)
        units = [(f"doc:{k}", short_md5(d + "|" + ";".join(sorted(partners.get(k, ())))))
                 for k, d in feats]
        by_query: dict[int, list] = {}
        for r in topk:
            by_query.setdefault(r.query_id, []).append((r.rank, r.neighbor_id))
        units += [(f"q:{q}", short_md5(",".join(str(n) for _, n in sorted(rows))))
                  for q, rows in by_query.items()]
        # a pair naming a document that has no features row is an extra key
        have = {k for k, _ in feats}
        units += [(f"doc:{k}", "") for k in partners if k not in have]
        return units


WORKLOADS = {
    w.name: w for w in (
        ExtractShort(),
        ExtractResumeSink(),
        CorpusOps(),
        # the skew corpus through extract_pages: runnable by hand and used by
        # the sink's probe and the pins, not listed in BENCHMARK.json
        ExtractPages("extract_skewed", "skew_pages"),
    )
}
