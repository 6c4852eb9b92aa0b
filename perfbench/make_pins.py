#!/usr/bin/env python3
"""Regenerate the pinned output digests in ``perfbench/pins``.

    python3 perfbench/make_pins.py [--kinds skew_pages doc_pages corpus] [--variants 0 1 ...]

For every input variant this runs the workload's job once and stores one
8-hex-digit digest per input key (``workloads.article_digests`` /
``CorpusOps``).  The skew corpus is pinned from ``extract_pages`` and must
read back identically from ``run_extraction_job_atomic``'s sink, since
both workloads check against the same pins.  A pin diff is a behaviour
diff: regenerate only when a change is meant to alter output.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import harness, inputs, tracing  # noqa: E402
from perfbench.workloads import PINS_DIR, WORKLOADS, Ctx, pin_entry  # noqa: E402

PINNED_BY = {"skew_pages": "extract_skewed", "doc_pages": "extract_short", "corpus": "corpus_ops"}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--kinds", nargs="+", default=list(PINNED_BY))
    ap.add_argument("--variants", nargs="+", type=int, default=list(range(inputs.N_VARIANTS)))
    args = ap.parse_args()

    harness.confine_to_work_dir()
    tracing.ship()
    run_dir = os.path.join(harness.WORK_DIR, "pins-run")
    spans = tracing.SpanLog("pins")
    spark = harness.set_up(spans, harness.session_conf())
    try:
        for kind in args.kinds:
            path = os.path.join(PINS_DIR, f"{kind}.json")
            doc = {"kind": kind, "variants": {}}
            if os.path.exists(path):
                with open(path) as fh:
                    doc = json.load(fh)
            for variant in args.variants:
                inp = inputs.prepare(kind, variant, spark)
                ctx = Ctx(spark, spans, inp, variant, os.path.join(run_dir, f"{kind}-v{variant}"))
                wl = WORKLOADS[PINNED_BY[kind]]
                keys = wl.keys(ctx)
                entry = pin_entry(keys, wl.job(ctx, "pb:pin"))
                if kind == "skew_pages":
                    sink = pin_entry(keys, WORKLOADS["extract_resume_sink"].job(ctx, "pb:pin"))
                    if sink != entry:
                        raise SystemExit(f"variant {variant}: sink output differs from extract_pages")
                doc["variants"][str(variant)] = entry
                print(f"{kind} v{variant}: {entry['n']} keys", file=sys.stderr)
            doc["variants"] = dict(sorted(doc["variants"].items(), key=lambda kv: int(kv[0])))
            os.makedirs(PINS_DIR, exist_ok=True)
            with open(path, "w") as fh:
                json.dump(doc, fh, indent=1)
                fh.write("\n")
    finally:
        harness.stop_jvm(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
