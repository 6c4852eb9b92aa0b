"""Seeded benchmark inputs, written once per variant to multi-file parquet.

``--seed`` picks one of ``N_VARIANTS`` input variants (``seed mod
N_VARIANTS``); every variant has pinned output digests (``pins/``), so any
seed is checked.  The program sees only the tables written here:

* ``skew_pages``: ``sources.synth_pages_distributed`` skew corpus (30% of
  rows on one host, 10% tiny pages, 3% tail of 150-400 paragraphs).
* ``doc_pages``: ``sources.pages_from_documents`` over a generated
  ``documents`` table; doc ids (and so urls) are offset per variant, which
  changes how pages hash into tasks.
* ``corpus``: the ``documents`` table plus an ``embeddings`` table and a
  seeded query set for ``brute_force_topk``.

The ``documents``/``embeddings`` generator reproduces the shape of the
sf0.1 ``documents``/``embeddings`` test tables (5,000 documents of 10-100 words over a 30-word
vocabulary, 5% of them near-duplicates marked ``dup``; 2,000 unit vectors
of dimension 64 with 10 labels) so the benchmark reads nothing outside its
checkout.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
import uuid

from .harness import WORK_DIR

CACHE_DIR = os.path.join(WORK_DIR, "inputs")
N_VARIANTS = 8
SKEW_PAGES = 2000
DOCUMENTS = 5000
EMBEDDINGS = 2000
EMBED_DIM = 64
QUERIES = 20
FILES = 4

_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = (("en", 0.41), ("zh", 0.15), ("es", 0.15), ("fr", 0.15), ("de", 0.14))


def variant_of(seed: int) -> int:
    return seed % N_VARIANTS


def _rng(variant: int, what: str) -> random.Random:
    h = hashlib.sha256(f"perfbench:{what}:{variant}".encode()).digest()
    return random.Random(int.from_bytes(h[:8], "big"))


def documents_rows(variant: int, id_offset: int = 0) -> dict[str, list]:
    rng = _rng(variant, "documents")
    langs, weights = zip(*_LANGS)
    cols: dict[str, list] = {"doc_id": [], "text": [], "lang": [], "source": [], "n_chars": []}
    for i in range(DOCUMENTS):
        if i > 0 and rng.random() < 0.05:
            text = cols["text"][rng.randrange(i)] + " dup"
        else:
            text = " ".join(rng.choice(_VOCAB) for _ in range(rng.randint(10, 100)))
        cols["doc_id"].append(id_offset + i)
        cols["text"].append(text)
        cols["lang"].append(rng.choices(langs, weights)[0])
        cols["source"].append(f"src{i % 20}")
        cols["n_chars"].append(len(text))
    return cols


def embeddings_rows(variant: int) -> dict[str, list]:
    import numpy as np

    rng = np.random.default_rng(_rng(variant, "embeddings").getrandbits(63))
    vecs = rng.standard_normal((EMBEDDINGS, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    return {
        "vec_id": list(range(EMBEDDINGS)),
        "embedding": [v.tolist() for v in vecs],
        "label": rng.integers(0, 10, EMBEDDINGS).astype("int32").tolist(),
    }


def query_ids(variant: int) -> list[int]:
    return sorted(_rng(variant, "queries").sample(range(EMBEDDINGS), QUERIES))


def _write_files(cols: dict[str, list], out_dir: str, schema=None) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table(cols, schema=schema)
    os.makedirs(out_dir)
    step = -(-table.num_rows // FILES)
    for k in range(FILES):
        pq.write_table(table.slice(k * step, step),
                       os.path.join(out_dir, f"part-{k:05d}.parquet"))


def _write_documents(variant: int, out_dir: str, id_offset: int = 0) -> None:
    import pyarrow as pa

    schema = pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                        ("lang", pa.string()), ("source", pa.string()),
                        ("n_chars", pa.int64())])
    _write_files(documents_rows(variant, id_offset), out_dir, schema)


def _build(kind: str, variant: int, spark, tmp: str) -> None:
    if kind == "skew_pages":
        from go_readability_spark.sources import synth_pages_distributed

        (synth_pages_distributed(spark, SKEW_PAGES, seed=variant, skew=True,
                                 num_partitions=FILES)
         .write.parquet(os.path.join(tmp, "pages")))
    elif kind == "doc_pages":
        from go_readability_spark.sources import pages_from_documents

        _write_documents(variant, os.path.join(tmp, "documents.parquet"),
                         id_offset=(variant + 1) * 1_000_000)
        pages_from_documents(spark, tmp).write.parquet(os.path.join(tmp, "pages"))
    elif kind == "corpus":
        import pyarrow as pa

        _write_documents(variant, os.path.join(tmp, "documents.parquet"))
        schema = pa.schema([("vec_id", pa.int64()),
                            ("embedding", pa.list_(pa.float32())),
                            ("label", pa.int32())])
        _write_files(embeddings_rows(variant), os.path.join(tmp, "embeddings.parquet"), schema)
    else:
        raise ValueError(f"unknown input kind {kind!r}")


def prepare(kind: str, variant: int, spark) -> str:
    """Directory holding the variant's tables; generated on first use."""
    final = os.path.join(CACHE_DIR, f"{kind}-v{variant}")
    if os.path.exists(os.path.join(final, "_DONE")):
        return final
    os.makedirs(CACHE_DIR, exist_ok=True)
    shutil.rmtree(final, ignore_errors=True)
    tmp = os.path.join(CACHE_DIR, f".tmp-{kind}-v{variant}-{uuid.uuid4().hex[:8]}")
    try:
        os.makedirs(tmp)
        _build(kind, variant, spark, tmp)
        open(os.path.join(tmp, "_DONE"), "w").close()
        os.rename(tmp, final)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return final
