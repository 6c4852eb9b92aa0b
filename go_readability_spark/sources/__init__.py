from .fixtures import (  # noqa: F401
    case_url,
    expected_articles_rows,
    fixture_case_ids,
    load_pages_rows,
    pages_dataframe,
)
from .fixture_corpus import fixture_mix_pages, load_fixture_blobs  # noqa: F401
from .pages_table import read_pages  # noqa: F401
from .pdf import docs_from_pdf, pdf_roundtrip, pdf_text, write_pdf  # noqa: F401
from .wat import (  # noqa: F401
    links_from_wat,
    wat_bytes_to_link_rows,
    write_wat,
)
from .warc import (  # noqa: F401
    docs_from_wet,
    pages_from_fetch_plan,
    pages_from_warc,
    records_from_warc,
    write_warc,
    write_wet,
)
from .cdx import (  # noqa: F401
    cdx_fetch_plan,
    parse_cdxj,
    surt_key,
)
from .synthetic import (  # noqa: F401
    cdxj_from_documents,
    pages_from_documents,
    pages_from_documents_linked,
    robots_for_hosts,
    sitemaps_for_hosts,
    synth_corpus_rows,
    synth_pages_dataframe,
    synth_pages_distributed,
    warc_archives_from_documents,
)
