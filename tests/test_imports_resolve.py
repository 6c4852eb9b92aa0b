"""Every import of a go_readability_spark module resolves.

A lazy import inside a function body fails only when that function runs,
so a module deleted while something still imports it lazily would go
unnoticed until its caller is exercised. This test walks every
``import`` / ``from ... import`` (nested ones included) in the package,
``__spark_entry__.py``, the bench harnesses, ``scripts/`` and
``examples/``, and checks each target that lies in the package: the
module must be found by ``importlib.util.find_spec`` and each imported
name must be an attribute or a submodule of it. No Spark session runs.
"""

import ast
import importlib
import importlib.util
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "go_readability_spark"


def _sources():
    for top in ("__spark_entry__.py", "bench.py", "bench_extra.py"):
        yield os.path.join(ROOT, top)
    for sub in (PKG, "scripts", "examples"):
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
    for path in _sources():
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
