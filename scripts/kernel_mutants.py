"""Run the kernel's pin tests against one-step mutants of the kernel.

Each mutant edits one line of ``readability/parser.py`` in a temporary
copy of the repository; the pin and bound tests then run in that copy. A
mutant is *killed* when a test fails and *survives* when every test
passes. The unmutated copy runs first and must pass. Prints a markdown
table (mutant, line, result, seconds). To run a subset, edit MUTANTS.

    python scripts/kernel_mutants.py

Exit status 1 when the unmutated copy fails or a mutant's line is not
found exactly once.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PARSER = os.path.join("go_readability_spark", "readability", "parser.py")
TESTS = ("tests/test_retry_sieve.py", "tests/test_long_pages.py",
         "tests/test_sieve_bound.py")

# name -> (file, a substring that picks exactly one line, old, new)
MUTANTS = {
    # the sibling-merge threshold, a fifth of the top candidate's score
    "sibling_0.21": (PARSER, "sibling_score_threshold = max(10.0", "* 0.2)", "* 0.21)"),
    # _clean_conditionally's link-density bound for weight >= 25
    "weighted_link_density_0.51": (PARSER, "(weight >= 25 and link_density > 0.5)",
                                   "> 0.5)", "> 0.51)"),
    # the retry bound: (a) equality, (b) the byline guard, (c) the
    # outside-body guard, and the normalized body length
    "bound_le": (PARSER, "if text_length == body_length:", "==", "<="),
    "bound_ge": (PARSER, "if text_length == body_length:", "==", ">="),
    "bound_no_byline_guard": (PARSER, 'or "strip_unlikelys" not in self.fired):',
                              'or "strip_unlikelys" not in self.fired)', "or True)"),
    "bound_no_outside_body_guard": (PARSER, "and node.tag in scorable:",
                                    "if node.type", "if False and node.type"),
    "bound_unnormalized": (PARSER, "get_inner_text(body, True)", "True)", "False)"),
}


def _copy_repo(dst: str) -> None:
    def ignore(_dir, names):
        return [n for n in names if n in (".git", ".perfbench", "__pycache__", ".hypothesis",
                                          ".pytest_cache", "dist", "spark-warehouse")]

    shutil.copytree(ROOT, dst, ignore=ignore)


def _apply(root: str, path: str, anchor: str, old: str, new: str) -> int:
    """Edit the one line holding ``anchor``; returns its line number."""
    full = os.path.join(root, path)
    with open(full) as f:
        lines = f.readlines()
    hits = [i for i, line in enumerate(lines) if anchor in line and old in line]
    if len(hits) != 1:
        raise SystemExit(f"{path}: {len(hits)} lines hold {anchor!r} and {old!r}, want 1")
    i = hits[0]
    lines[i] = lines[i].replace(old, new, 1)
    with open(full, "w") as f:
        f.writelines(lines)
    return i + 1


def _run_tests(root: str) -> tuple[bool, float]:
    env = dict(os.environ, PYTHONPATH=root, PYTHONDONTWRITEBYTECODE="1")
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, "-m", "pytest", "-x", "-q", "-p", "no:cacheprovider", *TESTS],
        cwd=root, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode not in (0, 1):
        print(proc.stdout[-3000:], file=sys.stderr)
        raise SystemExit(f"pytest exited {proc.returncode} (not a test failure)")
    return proc.returncode == 0, time.perf_counter() - t0


def main() -> int:
    with tempfile.TemporaryDirectory(prefix="kernel-mutants-") as tmp:
        clean = os.path.join(tmp, "clean")
        _copy_repo(clean)
        ok, secs = _run_tests(clean)
        if not ok:
            print("the unmutated copy fails its tests", file=sys.stderr)
            return 1
        print(f"unmutated: pass ({secs:.0f} s)\n")
        print("| mutant | line | result | s |\n|---|---|---|---|")
        for name, (path, anchor, old, new) in MUTANTS.items():
            work = os.path.join(tmp, name)
            shutil.copytree(clean, work)
            line = _apply(work, path, anchor, old, new)
            survived, secs = _run_tests(work)
            print(f"| `{name}`: `{old.strip()}` → `{new.strip()}` | {path}:{line} "
                  f"| {'survived' if survived else 'killed'} | {secs:.0f} |", flush=True)
            shutil.rmtree(work)
    return 0


if __name__ == "__main__":
    sys.exit(main())
