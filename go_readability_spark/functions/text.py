"""Text-analysis functions for large-scale training-data pipelines:
language-ID, quality scoring, token counting, document fingerprinting.

Everything here is built from JVM-side ``pyspark.sql.functions`` column
expressions (whole-stage codegen, no Python in the hot path), and every
formula has an exact ANSI-SQL twin used for the DuckDB oracle checks in
``__spark_entry__.py`` — keep the two in sync.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

# BPE-ish tokenizer: letter runs, single digits, single punctuation marks
BPE_TOKEN_PATTERN = r"[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\s]"
PUNCT_PATTERN = r"[^a-zA-Z0-9\s]"

# per-language stopword regexes for the n-gram/stopword language heuristic
LANG_STOPWORDS = {
    "en": r"\b(the|and|of|to|in|is|it|for|on|with|that|was)\b",
    "de": r"\b(der|die|das|und|ist|nicht|ein|eine|mit|für|auf|ich)\b",
    "fr": r"\b(le|la|les|et|est|une|des|dans|pour|que|qui|pas)\b",
    "es": r"\b(el|la|los|las|es|una|con|para|del|por|que|como)\b",
    # r2 additions use words UNIQUE to each language so they never bleed
    # hits into the original four (fr/es share 'de'-class tokens heavily)
    "it": r"\b(che|della|sono|anche|perché|più|gli|nel|questo)\b",
    "pt": r"\b(não|uma|são|mais|já|também|isso|até|você)\b",
    "nl": r"\b(het|een|niet|ook|voor|maar|deze|wordt|hebben)\b",
}
LANG_ORDER = ("en", "de", "fr", "es", "it", "pt", "nl")


# DuckDB/RE2 twin of Java's \s: RE2's \s omits \x0B (vertical tab), so
# oracles that tokenize must spell the class out or they diverge from the
# Spark side on \x0B-bearing text
DUCK_WS_CLASS = r"[ \t\n\x0b\f\r]+"


def md5_prefix_long(col: Column) -> Column:
    """First 8 hex chars of md5 as a bigint — THE engine-portable 32-bit
    hash (DuckDB twin: CAST(('0x' || substr(md5(x), 1, 8)) AS BIGINT)).
    Every portable hash in the repo (sampling buckets, the minhash md5
    oracle twin, winnowing k-gram hashes, salted-bucket twins) must use
    this exact formula or bit-parity with the oracles breaks."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def ws_token_count(col: Column) -> Column:
    """Whitespace token count; 0 for empty/blank strings.

    Counted as regexp_count(separators) + 1 instead of
    size(split(...)).  Identical by construction — split on a
    non-overlapping pattern always yields (#separator-matches + 1)
    elements.  (Note: Spark lowers regexp_count to
    size(regexp_extract_all(...)) — RuntimeReplaceable — so the win here
    is avoiding the token-substring array of split, not the match
    array.)"""
    trimmed = F.trim(col)
    return F.when(F.length(trimmed) == 0, F.lit(0)).otherwise(
        F.regexp_count(trimmed, F.lit(r"\s+")) + F.lit(1)
    )


def bpe_token_count(col: Column) -> Column:
    """Token count under a BPE-ish regex segmentation.  (regexp_count
    is RuntimeReplaceable sugar for size(regexp_extract_all(..., 0)) —
    value-identical; kept for readability.)"""
    return F.regexp_count(col, F.lit(BPE_TOKEN_PATTERN))


def punct_ratio(col: Column) -> Column:
    n = F.length(col)
    punct = F.regexp_count(col, F.lit(PUNCT_PATTERN))
    return F.when(n == 0, F.lit(0.0)).otherwise(punct / n)


def stopword_ratio(col: Column, lang: str = "en") -> Column:
    hits = F.regexp_count(F.lower(col), F.lit(LANG_STOPWORDS[lang]))
    toks = ws_token_count(col)
    return F.when(toks == 0, F.lit(0.0)).otherwise(hits / toks)


def quality_score(col: Column) -> Column:
    """Deterministic [0,1] quality heuristic: length, punctuation,
    stopword signals (the classic 'looks like prose' gates)."""
    toks = ws_token_count(col)
    length_signal = F.least(F.lit(1.0), toks / F.lit(100.0))
    punct_signal = F.lit(1.0) - F.least(F.lit(1.0), punct_ratio(col) * 5)
    stop_signal = F.least(F.lit(1.0), stopword_ratio(col) * 5)
    return F.round(0.4 * length_signal + 0.3 * punct_signal + 0.3 * stop_signal, 6)


def lang_id(col: Column) -> Column:
    """Stopword-hit argmax over LANG_ORDER; 'und' (undetermined) when no
    language scores a hit. Ties resolve in LANG_ORDER.

    The per-language hit counts are bound ONCE per row as a lambda
    variable (the repo's standard CollapseProject guard): the naive
    spelling referenced every count inside `greatest` AND its own
    `when` branch, expanding to ~9 regex scans per language per row
    after projection collapse (r7 optimization — the before/after plans
    are in plans/r07/)."""
    lowered = F.lower(col)
    counts = F.array(*[
        F.regexp_count(lowered, F.lit(LANG_STOPWORDS[lang]))
        for lang in LANG_ORDER
    ])

    def pick(cs):
        best = F.greatest(*[F.element_at(cs, i + 1) for i in range(len(LANG_ORDER))])
        result = F.lit("und")
        for i in range(len(LANG_ORDER) - 1, -1, -1):
            result = F.when(
                F.element_at(cs, i + 1) == best, F.lit(LANG_ORDER[i])
            ).otherwise(result)
        return F.when(best == 0, F.lit("und")).otherwise(result)

    return F.element_at(F.transform(F.array(counts), pick), 1)


def fingerprint(col: Column) -> Column:
    """Document fingerprint: md5 over the whitespace-normalized, lowercased
    text. Stable across engines (the DuckDB oracle computes the same md5)."""
    return F.md5(F.regexp_replace(F.lower(F.trim(col)), r"\s+", " "))


def with_text_features(df, text_col: str = "text"):
    """Attach the full feature set as columns.

    r7 optimization: the raw counts (whitespace tokens, punctuation
    marks, per-language stopword hits) are STAGED as intermediate
    columns and every output column is built from the staged values, so
    each regex scans the document once instead of once per consumer
    (quality + stopword_ratio + lang_id all share the en-hit count; the
    collapsed single-projection form evaluated the language regexes up
    to 9x per row).  CollapseProject cannot re-inline the staging: each
    staged column is referenced more than once and regexp_count is not
    in Catalyst's cheap-expression set.  Output values are bit-identical
    (same formulas over the same counts) — the driver's text_features
    oracle row verifies."""
    c = F.col(text_col)
    lowered = F.lower(c)
    langs = list(LANG_ORDER)
    staged = df.withColumns({
        "_tf_ws": ws_token_count(c),
        "_tf_punct": F.regexp_count(c, F.lit(PUNCT_PATTERN)),
        **{
            f"_tf_{lang}": F.regexp_count(lowered, F.lit(LANG_STOPWORDS[lang]))
            for lang in langs
        },
    }).withColumn("_tf_best", F.greatest(*[F.col(f"_tf_{lang}") for lang in langs]))

    ws = F.col("_tf_ws")
    n = F.length(c)
    punct_raw = F.when(n == 0, F.lit(0.0)).otherwise(F.col("_tf_punct") / n)
    stop_raw = F.when(ws == 0, F.lit(0.0)).otherwise(F.col("_tf_en") / ws)
    best = F.col("_tf_best")
    lang_expr = F.lit("und")
    for lang in reversed(langs):
        lang_expr = F.when(F.col(f"_tf_{lang}") == best, F.lit(lang)).otherwise(lang_expr)
    lang_expr = F.when(best == 0, F.lit("und")).otherwise(lang_expr)

    length_signal = F.least(F.lit(1.0), ws / F.lit(100.0))
    punct_signal = F.lit(1.0) - F.least(F.lit(1.0), punct_raw * 5)
    stop_signal = F.least(F.lit(1.0), stop_raw * 5)
    quality = F.round(
        0.4 * length_signal + 0.3 * punct_signal + 0.3 * stop_signal, 6
    )

    return (
        staged.withColumn("ws_tokens", ws)
        .withColumn("bpe_tokens", bpe_token_count(c))
        .withColumn("punct_ratio", F.round(punct_raw, 6))
        .withColumn("stopword_ratio", F.round(stop_raw, 6))
        .withColumn("quality", quality)
        .withColumn("lang_id", lang_expr)
        .withColumn("fingerprint", fingerprint(c))
        .drop("_tf_ws", "_tf_punct", "_tf_best", *[f"_tf_{lang}" for lang in langs])
    )
