from .extract_stream import (  # noqa: F401
    extract_pages_stream,
    read_pages_stream,
    run_stream_to_parquet,
)
