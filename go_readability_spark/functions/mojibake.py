"""Mojibake repair: recover text that was UTF-8 double-decoded.

The single most common encoding corruption in web corpora: a page's
UTF-8 bytes were decoded as ISO-8859-1/cp1252 somewhere upstream, so
every multibyte sequence surfaces as 1 Latin-1 char per byte
("café" -> "cafÃ©", curly quote -> "â€™").  The inverse is exact when
it applies: re-encode the characters as Latin-1 (recovering the
original bytes) and decode them as UTF-8 — the ftfy approach, public
knowledge, here as pure JVM column expressions (encode/decode/
is_valid_utf8), no Python in the hot path.

The repair fires only when ALL THREE hold, each a CASE guard so ANSI
encode/decode can never throw on the rows we leave alone:
  1. the string is Latin-1-representable (chars <= U+00FF) — otherwise
     it cannot be a Latin-1 misread in the first place (and encode
     would raise);
  2. it shows a mojibake marker: a UTF-8 lead byte 0xC2-0xF4 followed
     by a continuation byte 0x80-0xBF, read as Latin-1 chars — plain
     ASCII/Latin-1 text never matches;
  3. the recovered bytes are valid UTF-8 (is_valid_utf8) — a stray 'Ã'
     in genuine Latin-1 text fails this and is preserved.
Known ftfy tradeoff, inherited deliberately: text whose author really
meant a marker sequence like "Ã©" (and which round-trips as valid
UTF-8) is indistinguishable from mojibake and gets repaired.

Doubly-corrupted text (decoded wrong twice) repairs one layer per
application; call twice for paranoid pipelines — the operator is
idempotent on clean text.

Scale: map-only, whole-stage codegen, no shuffle, no UDF.  The three
guards are cheap (two char-class regexes + one validation pass) and
short-circuit: an ASCII-only corpus pays two regex scans per row.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# UTF-8 lead byte (0xC2-0xF4) + continuation byte (0x80-0xBF), as the
# Latin-1 characters they become after a wrong decode.
MOJIBAKE_MARKER = "[\\u00c2-\\u00f4][\\u0080-\\u00bf]"
_LATIN1_ONLY = "^[\\u0000-\\u00ff]*$"


def mojibake_flag(text: Column) -> Column:
    """True where `text` is repairable mojibake (all three guards)."""
    latin1 = text.rlike(_LATIN1_ONLY)
    marker = text.rlike(MOJIBAKE_MARKER)
    # is_valid_utf8 is only reachable when latin1 holds (encode of a
    # char > U+00FF raises under ANSI), hence the nested CASE
    valid = F.when(
        latin1 & marker, F.is_valid_utf8(F.encode(text, "ISO-8859-1"))
    ).otherwise(F.lit(False))
    return latin1 & marker & valid


def with_mojibake_repaired(df: DataFrame, text_col: str = "text",
                           out_col: str | None = None,
                           flag_col: str = "was_mojibake") -> DataFrame:
    """Adds boolean `flag_col` and writes the repaired text to `out_col`
    (default: in place).  Rows failing any guard pass through
    byte-identical."""
    out_col = out_col or text_col
    text = F.col(text_col)
    return df.withColumn(flag_col, mojibake_flag(text)).withColumn(
        out_col,
        F.when(F.col(flag_col),
               F.decode(F.encode(text, "ISO-8859-1"), "UTF-8"))
        .otherwise(text),
    )


# ---------------------------------------------------------------- segments
#
# Real pages are often only PARTIALLY corrupted: a CMS re-encoded the
# body but an editor pasted a clean em-dash into the title, so the
# string mixes genuine non-Latin-1 chars with mojibake units.  The
# whole-string path above correctly refuses those rows (guard 1).  The
# segment path repairs them: find each maximal run of mojibake UNITS —
# a UTF-8 lead byte followed by the right number of continuation bytes,
# both viewed through the cp1252 lens the corruption used — and invert
# just that run.  cp1252, not ISO-8859-1, because that is what web
# stacks actually decode with: bytes 0x80-0x9F surface as "€™"-class
# punctuation, not C1 controls.  Per-match byte transcoding is not
# expressible with the builtin whole-column encode/decode, so this path
# is an Arrow-batched pandas UDF (the documented slow path) — use
# with_mojibake_repaired for bulk fully-corrupted corpora and
# with_fixed_text when mixed content matters.

import re as _re

# cp1252 images of continuation bytes 0x80-0xBF: the Latin-1 range plus
# the 27 punctuation/letter chars cp1252 maps into 0x80-0x9F (unmapped
# bytes 81 8D 8F 90 9D stay as the control chars, inside \x80-\xbf).
_CONT = ("[\\x80-\\xbf€‚ƒ„…†‡ˆ"
         "‰Š‹ŒŽ‘’“”•"
         "–—˜™š›œžŸ]")
# UTF-8 structure through the cp1252 lens: C2-DF+1, E0-EF+2, F0-F4+3.
_UNIT = _re.compile(
    f"(?:[\\xc2-\\xdf]{_CONT}"
    f"|[\\xe0-\\xef]{_CONT}{{2}}"
    f"|[\\xf0-\\xf4]{_CONT}{{3}})+"
)


def _cp1252_byte(ch: str) -> bytes:
    try:
        return ch.encode("cp1252")
    except UnicodeEncodeError:
        # cp1252-unmapped controls (0x81 8D 8F 90 9D) keep their byte
        return bytes([ord(ch)])


def fix_mojibake_text(s: str) -> str:
    """Segment-level cp1252 mojibake repair of one string (driver-side
    twin of with_fixed_text; also its per-row kernel).  Clean text —
    including genuine 'é'/'—'/curly quotes — is untouched: a unit needs
    a lead-byte char AND its continuation chars adjacent."""
    def _repair(m: "_re.Match[str]") -> str:
        seg = m.group(0)
        try:
            return b"".join(map(_cp1252_byte, seg)).decode("utf-8")
        except UnicodeDecodeError:
            # structurally a unit but not valid UTF-8 (overlong,
            # surrogate range): genuine text, keep it
            return seg
    return _UNIT.sub(_repair, s)


def with_fixed_text(df: DataFrame, text_col: str = "text",
                    out_col: str | None = None) -> DataFrame:
    """Segment-level repair over a DataFrame column (Arrow-batched
    pandas UDF — see the segment-path note above for why this one is
    not pure column expressions)."""
    import pandas as pd  # noqa: F401
    from pyspark.sql.functions import pandas_udf

    out_col = out_col or text_col

    @pandas_udf("string")
    def _fix(s):
        return s.map(lambda x: None if x is None else fix_mojibake_text(x))

    return df.withColumn(out_col, _fix(F.col(text_col)))


# ------------------------------------------------------------- normalize
#
# Unicode normalization is the other half of web-text cleanup: the same
# visible string arrives as precomposed (é) or decomposed (e + U+0301)
# codepoints, and NFKC additionally folds compatibility forms
# (ligatures, fullwidth ASCII, font variants) that otherwise defeat
# exact dedup, tokenization, and fingerprinting.  Spark has no built-in
# normalizer, so this is an Arrow-batched pandas UDF over Python's
# unicodedata (the authoritative UCD implementation); the driver oracle
# replays the NFC form with DuckDB's independent nfc_normalize, so the
# two implementations check each other.

def with_normalized_text(df: DataFrame, text_col: str = "text",
                         form: str = "NFC",
                         out_col: str | None = None) -> DataFrame:
    """Adds/overwrites `out_col` with the `form`-normalized text
    (NFC/NFD/NFKC/NFKD).  Map-only; NULLs pass through."""
    import unicodedata

    from pyspark.sql.functions import pandas_udf

    if form not in ("NFC", "NFD", "NFKC", "NFKD"):
        raise ValueError(f"unknown normalization form: {form!r}")
    out_col = out_col or text_col

    @pandas_udf("string")
    def _norm(s):
        return s.map(
            lambda x: None if x is None else unicodedata.normalize(form, x))

    return df.withColumn(out_col, _norm(F.col(text_col)))
