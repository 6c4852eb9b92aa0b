"""Regenerate go_readability_spark/sources/sieve_pins.json: one md5 per url
over every extract_record field, ungated and gated, for the retry-sieve
regression corpus (sources/sieve_corpus.py). The pins freeze the output of
the code that writes them; they are regression pins, not reference parity.
Regenerate only when an output change is intended.

Run from the repo root: python scripts/make_sieve_pins.py
"""

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from go_readability_spark.sources.sieve_corpus import (  # noqa: E402
    SIEVE_PAGES,
    SIEVE_PINS,
    SIEVE_SEED,
    corpus_digests,
    sieve_corpus,
)


def main() -> None:
    pins = corpus_digests(sieve_corpus(SIEVE_PAGES, SIEVE_SEED))
    meta = {
        "kind": "regression pins (frozen extract_record output), not reference parity",
        "seed": SIEVE_SEED,
        "pages": SIEVE_PAGES,
        "digest": "md5 over every extract_record field, per url: [ungated, gated]",
    }
    # one url per line, so a changed pin shows as a one-line diff
    lines = [f" {json.dumps(k)}: {json.dumps(v)}," for k, v in meta.items()]
    lines.append(' "pins": {')
    lines.append(",\n".join(f"  {json.dumps(u)}: {json.dumps(v)}" for u, v in sorted(pins.items())))
    lines.append(" }")
    with open(SIEVE_PINS, "w") as f:
        f.write("{\n" + "\n".join(lines) + "\n}\n")
    print(f"wrote {len(pins)} urls to {SIEVE_PINS}")


if __name__ == "__main__":
    main()
