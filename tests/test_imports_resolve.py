"""Every import of a go_readability_spark module resolves, and every
package def is reached.

A lazy import inside a function body fails only when that function runs,
so a module deleted while something still imports it lazily would go
unnoticed until its caller is exercised. The first test walks every
``import`` / ``from ... import`` (nested ones included) in the package,
``__spark_entry__.py``, the bench harnesses, ``scripts/``, ``examples/``,
``perfbench/`` and ``tests/``, and checks each target that lies in the
package: the module must be found by ``importlib.util.find_spec`` and
each imported name must be an attribute or a submodule of it.

The second test keeps unreached code out: each top-level def or class
of a package module must be referenced, outside its own body, by code
that is itself reached (tests do not count), unless ``KEPT_UNREACHED``
names it with its reason. No Spark session runs.
"""

import ast
import glob
import importlib
import importlib.util
import os
import re
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "go_readability_spark"
# code outside the package whose references keep a package def reached
READERS = ("scripts", "examples", "perfbench")


def _sources(subdirs=(PKG,) + READERS):
    yield os.path.join(ROOT, "__spark_entry__.py")
    yield from sorted(glob.glob(os.path.join(ROOT, "bench*.py")))
    for sub in subdirs:
        for dirpath, _, files in os.walk(os.path.join(ROOT, sub)):
            for f in sorted(files):
                if f.endswith(".py"):
                    yield os.path.join(dirpath, f)


def _package_of(path):
    """Dotted package a file's relative imports resolve against, or
    None for a file outside the package."""
    rel = os.path.relpath(path, ROOT)
    if not rel.startswith(PKG + os.sep):
        return None
    return ".".join(os.path.dirname(rel).split(os.sep))


def _package_imports(path):
    """(lineno, module, names) for each import of a package module;
    names is () for a plain ``import``."""
    with open(path, encoding="utf-8") as fh:
        tree = ast.parse(fh.read(), path)
    package = _package_of(path)
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.split(".")[0] == PKG:
                    yield node.lineno, alias.name, ()
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                if package is None:  # relative import outside the package
                    continue
                base = package.rsplit(".", node.level - 1)[0]
                module = f"{base}.{node.module}" if node.module else base
            else:
                module = node.module
            if module.split(".")[0] == PKG:
                yield node.lineno, module, tuple(a.name for a in node.names)


def _found(module):
    try:
        return importlib.util.find_spec(module) is not None
    except ModuleNotFoundError:  # a parent package is missing
        return False


def test_every_package_import_resolves():
    dangling, seen = [], set()
    for path in _sources((PKG, "tests") + READERS):
        where = os.path.relpath(path, ROOT)
        for lineno, module, names in _package_imports(path):
            seen.update((where, module, n) for n in names)
            if not _found(module):
                dangling.append(f"{where}:{lineno}: no module {module}")
                continue
            try:
                mod = importlib.import_module(module)
            except ImportError as exc:
                dangling.append(f"{where}:{lineno}: {module} fails: {exc}")
                continue
            for name in names:
                if name != "*" and not hasattr(mod, name) \
                        and not _found(f"{module}.{name}"):
                    dangling.append(f"{where}:{lineno}: {module} has no {name}")
    assert not dangling, "\n".join(dangling)
    # the walk reaches imports in function bodies and resolves relative ones
    assert ("__spark_entry__.py", f"{PKG}.plans", "ensure_scan_parallelism") in seen
    assert (os.path.join(PKG, "operators", "semdedup.py"),
            f"{PKG}.operators.ivf", "assign_buckets") in seen
    assert (os.path.join("perfbench", "workloads.py"),
            f"{PKG}.plans.extract", "completed_buckets") in seen
    assert (os.path.join("tests", "test_spark_pipeline.py"),
            f"{PKG}.sources", "expected_articles_rows") in seen


# Package defs that no reached code references, each kept on purpose.
KEPT_UNREACHED = {
    # extraction surfaces: only their agreement tests drive them
    "streaming/extract_stream.py:extract_pages_stream": "streaming surface",
    "streaming/extract_stream.py:read_pages_stream": "streaming surface",
    "streaming/extract_stream.py:run_stream_to_parquet": "streaming surface",
    "functions/extraction_udfs.py:register_all": "SQL UDF surface",
    "functions/extraction_udfs.py:readability_text": "SQL UDF surface",
    "functions/extraction_udfs.py:readability_title": "SQL UDF surface",
    "functions/extraction_udfs.py:_record_field": "the SQL UDFs' shared reader",
    # the reference library's API
    "readability/parser.py:from_document": "go-readability FromDocument",
    "dom/serialize.py:outer_html": "go-readability's dom.OuterHTML",
    "readability/utils.py:index_of": "go-readability's indexOf helper",
    # deployment
    "sources/pdf.py:docs_from_pdf": "the PDF/layout parse leg",
    "sources/pages_table.py:iceberg_session_conf":
        "the session conf an Iceberg pages table needs",
    # references and fixture builders that tests check kept code against
    "operators/bloom.py:bloom_build": "what each sharded slice must equal",
    "sources/fixtures.py:expected_articles_rows": "golden corpus loader",
    "sources/fixtures.py:pages_dataframe": "golden corpus loader",
    "sources/fixtures.py:load_pages_rows": "golden corpus loader",
    "sources/fixtures.py:case_url": "golden corpus loader",
    "sources/fixtures.py:deterministic_ts": "golden corpus loader",
    "sources/synthetic.py:synth_pages_dataframe": "synthetic pages frame",
    "sources/warc.py:write_wet": "WET fixture writer",
    "sources/warc.py:write_revisit": "WARC revisit fixture writer",
    "sources/sieve_corpus.py:load_sieve_pins": "the sieve pins' loader",
}

_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def _names(node, docstrings):
    """Every name a subtree may use to reach a def: names, attributes,
    names a ``from`` import binds, and identifiers in string literals
    other than docstrings (``getattr(mod, "f")``, ``"mod:f"``)."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.ImportFrom):
            out.update(a.name for a in n.names)
        elif isinstance(n, ast.Constant) and isinstance(n.value, str) \
                and id(n) not in docstrings:
            out.update(_IDENT.findall(n.value))
    return out


def _units():
    """({def key: (name, names its body uses)}, names used by code that
    is always reached). A package ``__init__`` only re-exports, so its
    imports reach nothing."""
    defs, live = {}, set()
    for path in _sources():
        rel = os.path.relpath(path, ROOT)
        if os.path.basename(path) == "__init__.py":
            continue
        with open(path, encoding="utf-8") as fh:
            tree = ast.parse(fh.read(), path)
        docstrings = {
            id(n.body[0].value) for n in ast.walk(tree)
            if isinstance(n, (ast.Module, ast.ClassDef, ast.FunctionDef,
                              ast.AsyncFunctionDef))
            and n.body and isinstance(n.body[0], ast.Expr)
            and isinstance(n.body[0].value, ast.Constant)
            and isinstance(n.body[0].value.value, str)}
        in_pkg = rel.startswith(PKG + os.sep)
        for stmt in tree.body:
            if in_pkg and isinstance(stmt, (ast.FunctionDef, ast.ClassDef,
                                            ast.AsyncFunctionDef)):
                key = f"{os.path.relpath(rel, PKG)}:{stmt.name}"
                defs[key] = (stmt.name, _names(stmt, docstrings))
            else:
                live |= _names(stmt, docstrings)
    return defs, live


def _unreached():
    """Package defs no reached code references outside their own body,
    to a fixed point: a def that only unreached defs use is unreached."""
    defs, live = _units()
    unreached = set()
    while True:
        used = Counter()
        for key, (_, names) in defs.items():
            if key not in unreached:
                used.update(names)
        dropped = {key for key, (name, names) in defs.items()
                   if key not in unreached and name not in live
                   and used[name] == (name in names)}
        if not dropped:
            return unreached
        unreached |= dropped


def test_every_package_def_is_reached():
    unreached = _unreached()
    orphans = sorted(unreached - KEPT_UNREACHED.keys())
    assert not orphans, (
        "package defs nothing reaches (delete them, or add each to "
        "KEPT_UNREACHED with its reason):\n" + "\n".join(orphans))
    stale = sorted(KEPT_UNREACHED.keys() - unreached)
    assert not stale, "KEPT_UNREACHED entries now reached or gone: " \
        + ", ".join(stale)
