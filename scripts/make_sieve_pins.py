"""Regenerate a pinned extraction corpus's pins: one md5 per url over every
extract_record field, ungated and gated. ``sieve`` (the default) writes
go_readability_spark/sources/sieve_pins.json for the short retry-sieve
corpus; ``long`` writes sources/long_pins.json for the long multi-candidate
corpus (both in sources/sieve_corpus.py). The pins freeze the output of
the code that writes them; they are regression pins, not reference parity.
Regenerate only when an output change is intended.

Run from the repo root: python scripts/make_sieve_pins.py [sieve|long]
"""

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from go_readability_spark.sources.sieve_corpus import (  # noqa: E402
    LONG_PAGES,
    LONG_PINS,
    LONG_SEED,
    LONG_SYNTH_PAGES,
    SIEVE_PAGES,
    SIEVE_PINS,
    SIEVE_SEED,
    corpus_digests,
    long_corpus,
    sieve_corpus,
)


def write_pins(path: str, meta: dict, pins: dict) -> None:
    meta = {
        "kind": "regression pins (frozen extract_record output), not reference parity",
        **meta,
        "digest": "md5 over every extract_record field, per url: [ungated, gated]",
    }
    # one url per line, so a changed pin shows as a one-line diff
    lines = [f" {json.dumps(k)}: {json.dumps(v)}," for k, v in meta.items()]
    lines.append(' "pins": {')
    lines.append(",\n".join(f"  {json.dumps(u)}: {json.dumps(v)}" for u, v in sorted(pins.items())))
    lines.append(" }")
    with open(path, "w") as f:
        f.write("{\n" + "\n".join(lines) + "\n}\n")
    print(f"wrote {len(pins)} urls to {path}")


def main(which: str = "sieve") -> None:
    if which == "sieve":
        write_pins(SIEVE_PINS, {"seed": SIEVE_SEED, "pages": SIEVE_PAGES},
                   corpus_digests(sieve_corpus(SIEVE_PAGES, SIEVE_SEED)))
    elif which == "long":
        write_pins(LONG_PINS, {"seed": LONG_SEED, "pages": LONG_PAGES,
                               "synth_pages": LONG_SYNTH_PAGES},
                   corpus_digests(long_corpus(LONG_PAGES, LONG_SEED, LONG_SYNTH_PAGES)))
    else:
        sys.exit(f"usage: {sys.argv[0]} [sieve|long]")


if __name__ == "__main__":
    main(*sys.argv[1:2])
