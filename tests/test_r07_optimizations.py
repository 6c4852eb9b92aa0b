"""Round-7 optimization guards: every behavior-preserving rewrite from the
optimization round keeps its exact-equivalence contract, and the new
parallelism/partitioning policies do what their docstrings claim."""

import random

import pytest
from pyspark.sql import functions as F


# --------------------------------------------------- synth_page bit-parity


def _reference_synth_page(seed, idx, host, n_paragraphs):
    """The pre-r7 spelling of synth_page, kept verbatim as the parity
    reference: rng.choice via random.Random (the inlined fast path must
    consume the identical getrandbits stream)."""
    from datetime import datetime, timedelta

    from go_readability_spark.sources import synthetic as S

    rng = S._rng_for(seed, f"page:{idx}")
    title = " ".join(rng.choice(S._WORDS) for _ in range(6)).title()
    author = f"{rng.choice(S._WORDS).title()} {rng.choice(S._WORDS).title()}"
    paragraphs = []
    for p in range(n_paragraphs):
        n = rng.randint(40, 120)
        words = [
            rng.choice(S._STOPWORDS) if i % 3 == 1 else rng.choice(S._WORDS)
            for i in range(n)
        ]
        text = " ".join(words)
        text = text.replace(" ", ", ", 3) if p % 2 == 0 else text
        paragraphs.append(f"<p>{text}.</p>")
    sidebar = "".join(f"<li><a href='/t/{w}'>{w}</a></li>" for w in S._WORDS[:12])
    published = (datetime(2024, 1, 1) + timedelta(hours=idx % 8760)).isoformat()
    url = f"https://{host}/{seed}/{idx}/{title.split()[0].lower()}.html"
    html = S._HTML_SHELL.format(
        lang="en", title=title, site=host.split(".")[0].title(),
        excerpt=" ".join(rng.choice(S._WORDS) for _ in range(12)),
        published=published, author=author, sidebar=sidebar,
        paragraphs="\n".join(paragraphs),
    )
    return {
        "url": url,
        "warc_ts": datetime(2025, 1, 1) + timedelta(seconds=idx),
        "html": html.encode("utf-8"),
        "text": None,
        "lang": "en",
    }


def test_synth_page_bit_identical_to_rng_choice_spelling():
    from go_readability_spark.sources.synthetic import synth_page

    for idx in (0, 1, 7, 123, 999, 4242):
        for n_para in (2, 9, 40):
            assert synth_page(77, idx, "site3.example.org", n_para) == \
                _reference_synth_page(77, idx, "site3.example.org", n_para)


def test_inlined_choice_matches_random_module_contract():
    """The inline depends on random.Random.choice == seq[_randbelow(len)]
    with the getrandbits redraw loop; fail loudly if a future CPython
    changes the draw pattern."""
    seq = list(range(13))
    a, b = random.Random(99), random.Random(99)
    n = len(seq)
    k = n.bit_length()
    for _ in range(2000):
        want = a.choice(seq)
        r = b.getrandbits(k)
        while r >= n:
            r = b.getrandbits(k)
        assert want == seq[r]


# ------------------------------------------------- normalize_spaces memo


def test_normalize_spaces_memo_exact_and_capped():
    import go_readability_spark.readability.regexps as rx

    rx._NORM_MEMO.clear()
    big = ("word  " * 2000) + "\ttail\n"   # > 4096 chars, hits the memo
    want = rx.RX_NORMALIZE.sub(" ", big)
    assert rx.normalize_spaces(big) == want
    assert rx.normalize_spaces(big) == want          # memo hit
    assert big in rx._NORM_MEMO
    # small strings bypass the memo entirely
    rx._NORM_MEMO.clear()
    assert rx.normalize_spaces("a  b") == "a b"
    assert not rx._NORM_MEMO
    # cap: the memo clears instead of growing without bound
    for i in range(70):
        rx.normalize_spaces(f"{i:06d}  " + "x" * 4096)
    assert len(rx._NORM_MEMO) <= 64


# ------------------------------------------------- fused attribute passes


def test_class_and_id_first_occurrence_semantics():
    from go_readability_spark.dom import class_and_id, class_name, node_id
    from go_readability_spark.dom.node import ELEMENT, Node

    n = Node(ELEMENT, "div", "", [["id", "first"], ["class", "c1"],
                                  ["id", "second"], ["class", "c2"]])
    assert class_and_id(n) == (class_name(n), node_id(n)) == ("c1", "first")
    empty = Node(ELEMENT, "div", "", [])
    assert class_and_id(empty) == ("", "")


def test_is_probably_visible_matches_attribute_lookups():
    from go_readability_spark.dom.node import ELEMENT, Node
    from go_readability_spark.readability.parser import Parser

    cases = [
        [],
        [["style", "display:none"]],
        [["style", "visibility: hidden"]],
        [["hidden", ""]],
        [["aria-hidden", "true"]],
        [["aria-hidden", "true"], ["class", "x fallback-image y"]],
        [["aria-hidden", "false"]],
        [["style", "color:red"], ["class", "a"], ["id", "b"]],
        # duplicate attrs: first occurrence must win, as in get_attribute
        [["style", "display:none"], ["style", "color:red"]],
        [["style", "color:red"], ["style", "display:none"]],
    ]
    expected = [True, False, False, False, False, True, True, True,
                False, True]
    for attrs, want in zip(cases, expected):
        node = Node(ELEMENT, "div", "", [list(a) for a in attrs])
        assert Parser._is_probably_visible(node) is want, attrs


# --------------------------------------------- scan-parallelism restoration


def test_ensure_scan_parallelism_restores_and_noops(spark, tmp_path):
    from go_readability_spark.plans import ensure_scan_parallelism

    p = str(tmp_path / "one_group.parquet")
    spark.range(0, 1000, 1, 1).write.parquet(p)
    df = spark.read.parquet(p)
    assert df.rdd.getNumPartitions() == 1
    fixed = ensure_scan_parallelism(df)
    assert fixed.rdd.getNumPartitions() > 1
    # identical row set
    assert sorted(r.id for r in fixed.collect()) == list(range(1000))
    # no-op when the input already offers enough parallelism
    wide = spark.range(0, 1000, 1, 64)
    assert ensure_scan_parallelism(wide) is wide


def test_extraction_exchange_task_counts(spark, tmp_path):
    """extract_pages over an under-split input exchanges into one task per
    core, whatever spark.sql.shuffle.partitions says: not 200 on a
    session left at the default, and not fewer than the cores when it is
    set lower. The resumable sink keeps min(n_buckets, max(shuffle
    partitions, cores)) salt tasks: its tasks are the unit it publishes
    and resumes by. num_partitions overrides both."""
    import re

    from go_readability_spark.plans import extract_pages
    from go_readability_spark.plans.extract import _salted_exchange
    from go_readability_spark.plans.schema import PAGES_SCHEMA
    from go_readability_spark.sources import read_pages, synth_corpus_rows

    def planned_tasks(df, key):
        plan = df._jdf.queryExecution().executedPlan().toString()
        m = re.search(r"hashpartitioning\((\w+)[^,]*(?:, \d+\))?, (\d+)\)", plan)
        assert m and m.group(1) == key, plan
        return int(m.group(2))

    path = str(tmp_path / "pages")
    spark.createDataFrame(synth_corpus_rows(8, seed=5, skew=False),
                          schema=PAGES_SCHEMA).coalesce(1).write.parquet(path)
    out = str(tmp_path / "out")
    cores = spark.sparkContext.defaultParallelism
    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        # 2 only where it leaves a 1-split input short of one wave
        for shuffle in (200, 2) if cores > 2 else (200,):
            spark.conf.set("spark.sql.shuffle.partitions", str(shuffle))
            pages = read_pages(spark, path)
            assert pages.rdd.getNumPartitions() == 1
            assert planned_tasks(extract_pages(pages), "xxhash64") == cores
            for n_buckets in (256, 4, 2):
                # the salt's number of distinct values caps the useful task count
                sink = _salted_exchange(pages, n_buckets, None, None, out)
                assert planned_tasks(sink, "salt") == min(n_buckets, max(shuffle, cores))
            assert planned_tasks(extract_pages(pages, num_partitions=3), "xxhash64") == 3
            assert planned_tasks(_salted_exchange(pages, 256, 3, None, out),
                                 "salt") == 3
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)


def _cycle_pinned_batches(n_batches, rows, refs):
    """Input record batches each kept alive only by a reference cycle:
    stand-ins for the cyclic residue (detached DOM subtrees) a batch
    leaves behind. A weakref to each batch goes to `refs`."""
    import weakref

    import pyarrow as pa

    from go_readability_spark.sources.synthetic import synth_page

    for b in range(n_batches):
        pages = [synth_page(seed=3, idx=b * rows + i, host="example.org", n_paragraphs=6)
                 for i in range(rows)]
        batch = pa.RecordBatch.from_pydict(
            {"url": [p["url"] for p in pages], "html": [p["html"] for p in pages],
             "warc_ts": pa.nulls(rows, pa.timestamp("us", tz="UTC"))})
        holder = {"batch": batch}
        holder["self"] = holder
        refs.append(weakref.ref(batch))
        del batch, holder
        yield refs[-1]()


@pytest.mark.parametrize("budget, freed_mid_task", [(1, True), (1 << 40, False)])
def test_extractor_sweeps_paused_collector_per_html_budget(monkeypatch, budget,
                                                          freed_mid_task):
    """The collector stays paused through an extraction task, except that a
    task which has read _GC_EVERY_HTML_BYTES of HTML sweeps before its next
    batch: cyclic garbage the earlier batches left is freed mid-task
    instead of piling up for the whole split."""
    from go_readability_spark.plans import extract as ex

    monkeypatch.setattr(ex, "_GC_EVERY_HTML_BYTES", budget)
    refs, alive_at_frame, urls = [], [], []
    for frame in ex.make_extractor()(_cycle_pinned_batches(4, 3, refs)):
        # frames arrive one per input batch; count the earlier batches
        # still held when this one's frame comes out
        alive_at_frame.append(sum(r() is not None for r in refs[:-1]))
        urls += frame.column("url").to_pylist()
    assert len(urls) == 12 and len(set(urls)) == 12
    assert alive_at_frame == ([0, 0, 0, 0] if freed_mid_task else [0, 1, 2, 3])


# ------------------------------------------------- text-features staging


def test_with_text_features_stages_each_lang_regex_once(spark):
    from go_readability_spark.functions import with_text_features

    df = spark.createDataFrame([(1, "the and of to der die")], "doc_id long, text string")
    out = with_text_features(df)
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted")
    # each language regex must appear exactly once in the physical plan —
    # the pre-r7 collapsed projection carried up to 9 copies (11 of the
    # en regex, 68 regexp evaluations total)
    for fragment in ("der|die|das", "le|la|les", "che|della", "het|een"):
        assert plan.count(fragment) == 1, (fragment, plan.count(fragment))
    assert plan.count("the|and|of|to") == 1


def test_with_text_features_edge_values(spark):
    """Pinned edge-case outputs (computed with the pre-r7 implementation)."""
    from go_readability_spark.functions import with_text_features

    df = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, None), (4, "the the the"),
         (5, "não uma são você the the der"),
         (6, "the der le el")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in with_text_features(df).collect()}
    assert rows[1].ws_tokens == 0 and rows[1].lang_id == "und"
    assert rows[2].ws_tokens == 0 and rows[2].punct_ratio == 0.0
    assert rows[3].ws_tokens is None and rows[3].lang_id == "und"
    assert rows[4].lang_id == "en" and rows[4].stopword_ratio == 1.0
    # pt wins 4 hits vs en 2 / de 1 — argmax, not definition order
    assert rows[5].lang_id == "pt"
    # exact tie (1 hit each) resolves in LANG_ORDER -> en
    assert rows[6].lang_id == "en"
