"""Regenerate the pinned-output oracle artifacts for the contract
queries whose computation is not expressible in ANSI SQL:

  * sources/extract_articles_sf001.json — (url, title, length,
    readerable, error) of _q_extract_articles at sf0.01. The VALUES are
    independently verified by the fixture-parity tier (118/118 goldens,
    byte-level text checks in tests/test_parity.py); the pin freezes the
    sf0.01 corpus run so the driver can hash-compare instead of
    row-counting.
  * sources/bpe_merges_sf001.json — (rank, left, right, merged) of
    _q_bpe_merges at sf0.01. The iterative trainer is independently
    verified against a pure-Python BPE reference with identical
    tie-breaking in tests/test_bpe.py.
  * sources/extract_salted_sf001.json — (salt, n_pages) of
    _q_extract_salted at sf0.01. xxhash64 is a deterministic Spark
    built-in; the PARTITIONING LOGIC is independently hash-verified by
    the md5 twin (extract_salted_md5); the pin freezes the production
    hash's bucket histogram.
  * sources/minhash_pairs_sf001.json — (id_a, id_b, jaccard) of
    _q_minhash_pairs at sf0.01. The signature->band->verify PIPELINE is
    independently hash-verified by the md5 twin (minhash_pairs_md5) and
    the recall-subset pytest; the pin freezes the xxhash64 production
    hashes' candidate set.

Run from the repo root: python scripts/generate_output_pins.py
Regenerating invalidates the pinned oracles if extraction
behavior changed — that is the point: a pin diff IS a behavior diff and
must be reviewed like one.
"""

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from go_readability_spark.plans import build_session  # noqa: E402

OUT_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "go_readability_spark", "sources",
)


def main():
    import __spark_entry__ as entry

    spark = build_session(master="local[8]")
    try:
        arts = (
            entry.queries()["extract_articles"](spark, "/root/testdata/sf0.01")
            .orderBy("url")
            .collect()
        )
        with open(os.path.join(OUT_DIR, "extract_articles_sf001.json"), "w") as f:
            json.dump([r.asDict() for r in arts], f, ensure_ascii=False, indent=1)
        print(f"extract_articles_sf001.json: {len(arts)} rows")

        bpe = (
            entry.queries()["bpe_merges"](spark, "/root/testdata/sf0.01")
            .orderBy("rank")
            .collect()
        )
        with open(os.path.join(OUT_DIR, "bpe_merges_sf001.json"), "w") as f:
            json.dump([r.asDict() for r in bpe], f, ensure_ascii=False, indent=1)
        print(f"bpe_merges_sf001.json: {len(bpe)} rows")

        salted = (
            entry.queries()["extract_salted"](spark, "/root/testdata/sf0.01")
            .orderBy("salt")
            .collect()
        )
        with open(os.path.join(OUT_DIR, "extract_salted_sf001.json"), "w") as f:
            json.dump([r.asDict() for r in salted], f, ensure_ascii=False,
                      indent=1)
        print(f"extract_salted_sf001.json: {len(salted)} rows")

        mh = (
            entry.queries()["minhash_pairs"](spark, "/root/testdata/sf0.01")
            .orderBy("id_a", "id_b")
            .collect()
        )
        with open(os.path.join(OUT_DIR, "minhash_pairs_sf001.json"), "w") as f:
            json.dump([r.asDict() for r in mh], f, ensure_ascii=False, indent=1)
        print(f"minhash_pairs_sf001.json: {len(mh)} rows")
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
