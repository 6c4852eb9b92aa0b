#!/usr/bin/env python
"""Build the spark-submit --py-files artifact: a zip of the package."""

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from go_readability_spark.plans.session import write_package_zip  # noqa: E402


def build(out_path=None):
    out_path = out_path or os.path.join(ROOT, "dist", "go_readability_spark.zip")
    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    return write_package_zip(out_path)


if __name__ == "__main__":
    print(build(sys.argv[1] if len(sys.argv) > 1 else None))
