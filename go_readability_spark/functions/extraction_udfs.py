"""SQL-callable extraction functions: register the readability engine as
Arrow UDFs so users can call it from Spark SQL directly:

    SELECT url, readability_text(html) FROM pages WHERE readerable(html)

The heavy pipeline entry point remains plans.extract_pages (mapInArrow
with lineage); these UDFs are the ad-hoc query surface over the same
per-document kernel (readability/record.py extract_record).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import functions as F, types as T


@F.arrow_udf(T.BooleanType())
def readerable(html: pa.Array) -> pa.Array:
    """CheckDocument as a SQL boolean (parser-check.go:25-80); False when
    the page cannot be parsed."""
    from ..dom import parse_html
    from ..plans.extract import _stat_checked_zip_importers
    from ..readability import check_document
    from ..readability.record import release_trees

    _stat_checked_zip_importers()

    def one(h):
        doc = None
        try:
            doc = parse_html(h if h is not None else b"")
            return bool(check_document(doc))
        except Exception:
            return False
        finally:
            release_trees(doc)

    return pa.array([one(h) for h in html.to_pylist()], pa.bool_())


def _record_field(html: pa.Array, field: str) -> pa.Array:
    from ..plans.extract import _stat_checked_zip_importers, extract_record

    _stat_checked_zip_importers()
    return pa.array([extract_record(None, h)[field] for h in html.to_pylist()], pa.string())


@F.arrow_udf(T.StringType())
def readability_text(html: pa.Array) -> pa.Array:
    """Extracted main text as a SQL string (Article.TextContent)."""
    return _record_field(html, "text_content")


@F.arrow_udf(T.StringType())
def readability_title(html: pa.Array) -> pa.Array:
    return _record_field(html, "title")


def register_all(spark) -> None:
    """Make the functions available to spark.sql queries."""
    spark.udf.register("readerable", readerable)
    spark.udf.register("readability_text", readability_text)
    spark.udf.register("readability_title", readability_title)
