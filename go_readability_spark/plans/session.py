"""SparkSession builder with the configuration the extraction pipeline
wants at scale (SURVEY.md §4): Arrow transport on, small Arrow batches
(HTML rows are ~100 KB median, so 512 rows/batch keeps buffers sane),
AQE for post-shuffle coalescing, UTC session timezone."""

from __future__ import annotations

import os


def env_confs(raw: str | None = None) -> dict:
    """Parse SPARK_GRAFT_CONF ("k=v;k=v") into a conf dict — malformed
    segments (no '=') are skipped, whitespace trimmed."""
    if raw is None:
        raw = os.environ.get("SPARK_GRAFT_CONF", "")
    out = {}
    for pair in raw.split(";"):
        if "=" in pair:
            k, v = pair.split("=", 1)
            if k.strip():
                out[k.strip()] = v.strip()
    return out


def build_session(master: str | None = None, app_name: str = "go-readability-spark", **extra):
    from pyspark.sql import SparkSession

    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # local mode: the driver JVM is the executor — the 1g default heap
        # OOMs under 32 concurrent HTML-heavy tasks (measured at 50k docs)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.driver.maxResultSize", "2g")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "512")
        # vectorized parquet reader: the default 4096-row columnar batch
        # over a binary html column (10 KB-1.6 MB/page on real crawls)
        # asks for up-to-hundreds-of-MB contiguous per column vector and
        # OOMed 32 concurrent read tasks at the 1M-doc volume run; 256
        # rows keeps the per-batch reservation in the tens of MB at
        # Common-Crawl page sizes
        .config("spark.sql.parquet.columnarReaderBatchSize", "256")
        # same sizing logic for the CACHE builder: DataFrame persist()
        # (any storage level, DISK_ONLY included) builds 10000-row
        # columnar batches on heap by default — 10k full-text rows is a
        # ~100 MB ByteBuffer per column per task, and 32 concurrent
        # builders OOMed the 1M-doc curation run's 8g heap in
        # NullableColumnBuilder.build. 512 rows keeps the build buffer
        # tens-of-MB for crawl-width text columns.
        .config("spark.sql.inMemoryColumnarStorage.batchSize", "512")
        # storage codec for every parquet sink (Spark committer + atomic
        # sink). snappy default matches Spark; at crawl scale zstd cuts
        # HTML-heavy outputs ~30-40% for similar CPU — the 10M volume run
        # uses SPARK_GRAFT_PARQUET_CODEC=zstd (see BENCH/BASELINE.md)
        .config("spark.sql.parquet.compression.codec",
                os.environ.get("SPARK_GRAFT_PARQUET_CODEC", "snappy"))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "256m")
        .config("spark.ui.enabled", "false")
    )
    # arbitrary per-job conf via env — the spark-submit --conf equivalent
    # for python-invoked paths (e.g. SPARK_GRAFT_CONF=
    # "spark.io.compression.codec=zstd" shrinks HTML-heavy shuffles
    # ~40% vs lz4 when local disk, not CPU, is the constraint)
    for k, v in env_confs().items():
        b = b.config(k, v)
    for k, v in extra.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    # always make the package importable on executors, regardless of CWD
    ship_package(spark)
    return spark


def write_package_zip(zip_path: str) -> str:
    """Write this package's .py files, under ``go_readability_spark/``,
    to the zip archive ``zip_path``: the --py-files artifact executors
    import the package from.  Returns ``zip_path``."""
    import zipfile

    import go_readability_spark as pkg

    pkg_dir = os.path.dirname(os.path.abspath(pkg.__file__))
    with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as zf:
        for dirpath, dirnames, filenames in os.walk(pkg_dir):
            dirnames[:] = [d for d in dirnames if d != "__pycache__"]
            for fn in filenames:
                if fn.endswith(".py"):
                    full = os.path.join(dirpath, fn)
                    rel = os.path.join(
                        "go_readability_spark", os.path.relpath(full, pkg_dir)
                    )
                    zf.write(full, rel)
    return zip_path


def ship_package(spark) -> None:
    """Make this package importable on executors regardless of the driver's
    CWD or install location: zip the package directory and addPyFile it.
    No-op when already shipped to this context."""
    import tempfile

    sc = spark.sparkContext
    if getattr(sc, "_grs_pkg_shipped", False):
        return
    # unique per-driver file: a fixed path races when two drivers on the
    # same host overlap (addPyFile could ship a mid-overwrite zip)
    fd, zip_path = tempfile.mkstemp(
        prefix="go_readability_spark_shipped_", suffix=".zip"
    )
    os.close(fd)
    sc.addPyFile(write_package_zip(zip_path))  # Spark copies it into its own file-server dir
    sc._grs_pkg_shipped = True
    # don't leak one zip per driver into the temp dir (the pre-round-2
    # fixed path self-overwrote; the unique path needs explicit cleanup)
    import atexit

    atexit.register(lambda p=zip_path: os.path.exists(p) and os.unlink(p))
