"""Input adapter for the pages table (north-rule input shape:
url string, warc_ts timestamp, html binary, text string, lang string).

The production deployment reads an Iceberg table (BASELINE.json: "Iceberg
table of Common-Crawl-style web pages"); this sandbox ships no Iceberg
runtime jar (verified: pyspark 4.1.2's jars/ carries 287 jars, none of
them iceberg/delta/hudi) and has no network route to Maven Central to
vendor one, so the parquet leg is the tested one and the Iceberg leg
fails with an actionable message instead of a py4j stack. What CAN ship
without the jar does: iceberg_session_conf() below builds the exact
session conf as code, and tests/test_iceberg_e2e.py is a complete
create→append→resume e2e contract that self-skips here and runs
unmodified on any machine where ICEBERG_JAR points at the public
iceberg-spark-runtime jar. The extraction plan downstream is identical
either way — Catalyst sees the same relation and pushes the (url,
warc_ts, html) projection into either scan; with Iceberg, the
checkpoint table additionally upgrades to transactional appends
(plans/extract.py docstrings) and the task-committed bucket sink that
plain-filesystem resume needs becomes unnecessary.

Production session conf (public Iceberg quickstart settings):

    spark-submit --py-files go_readability_spark.zip \\
      --packages org.apache.iceberg:iceberg-spark-runtime-3.5_2.12:<ver> \\
      --conf spark.sql.extensions=org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions \\
      --conf spark.sql.catalog.crawl=org.apache.iceberg.spark.SparkCatalog \\
      --conf spark.sql.catalog.crawl.type=hadoop \\
      --conf spark.sql.catalog.crawl.warehouse=<warehouse-uri> \\
      scripts/extract_job.py --input crawl.db.pages --input-format iceberg ...
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..plans.schema import PAGES_SCHEMA

_PAGES_COLS = [f.name for f in PAGES_SCHEMA.fields]


def iceberg_session_conf(catalog: str, warehouse: str) -> dict[str, str]:
    """The Iceberg session conf as a dict (public Iceberg quickstart
    settings) — code, not documentation, so deploy scripts and the gated
    e2e test assemble the session identically. Hadoop catalog flavor:
    the warehouse URI is the only state, which is what a
    filesystem/object-store deployment wants."""
    return {
        "spark.sql.extensions":
            "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions",
        f"spark.sql.catalog.{catalog}":
            "org.apache.iceberg.spark.SparkCatalog",
        f"spark.sql.catalog.{catalog}.type": "hadoop",
        f"spark.sql.catalog.{catalog}.warehouse": warehouse,
    }


def read_pages(spark: SparkSession, location: str,
               format: str = "parquet") -> DataFrame:
    """-> pages DataFrame in the canonical column order.

    format='parquet': `location` is a path; the explicit schema keeps the
    scan honest (no inference job) and rejects shape drift at plan time.
    format='iceberg': `location` is a catalog table identifier
    (e.g. crawl.db.pages); requires the Iceberg runtime + catalog conf
    (module docstring). Extra columns are projected away so downstream
    plans see exactly the contract shape."""
    if format == "parquet":
        return spark.read.schema(PAGES_SCHEMA).parquet(location)
    if format == "iceberg":
        try:
            df = spark.table(location)
        except Exception as exc:
            raise RuntimeError(
                f"cannot read Iceberg table {location!r}: the Iceberg "
                "runtime jar / catalog configuration is not loaded in this "
                "session (see go_readability_spark/sources/pages_table.py "
                "for the spark-submit conf)"
            ) from exc
        missing = [c for c in _PAGES_COLS if c not in df.columns]
        if missing:
            raise ValueError(
                f"Iceberg table {location!r} lacks pages columns {missing}; "
                f"expected at least {_PAGES_COLS}"
            )
        return df.select(*_PAGES_COLS)
    raise ValueError(f"unknown pages format {format!r} (parquet|iceberg)")
