#!/usr/bin/env python
"""Package reachability: which ``cuckoo_filter_spark`` modules no query,
benchmark or script imports.

A pure AST import walk (nothing is imported or run, no Spark): it starts
from the driver contract (``__spark_entry__.py``), the benchmarks
(``bench.py``, ``bench_extra.py``, the non-test files of ``perfbench/``)
and ``scripts/*.py``, and follows every ``import`` / ``from ... import``
statement (function-local ones too) through the package. Importing a
submodule also runs every parent package's ``__init__``.

Prints each package module the walk does not reach and exits 1 if there
is one outside ``ALLOWED``; exits 0 otherwise.

Usage: python scripts/reachability.py
"""

from __future__ import annotations

import ast
import glob
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "cuckoo_filter_spark"

#: module-name prefixes that may stay unreached, each with its reason
ALLOWED = {
    f"{PACKAGE}.oracle": (
        "the scalar parity oracle: the kernel tests compare the "
        "vectorized kernel against it, so it is safety code that no "
        "production path should import"),
}


def roots(repo: str = REPO) -> list[str]:
    """The files the walk starts from."""
    files = [os.path.join(repo, f)
             for f in ("__spark_entry__.py", "bench.py", "bench_extra.py")]
    files += [f for f in sorted(glob.glob(os.path.join(repo, "perfbench", "*.py")))
              if not os.path.basename(f).startswith("test_")]
    files += sorted(glob.glob(os.path.join(repo, "scripts", "*.py")))
    return [f for f in files if os.path.exists(f)]


def package_modules(repo: str = REPO) -> dict[str, str]:
    """Dotted module name -> file path, for every module of the package."""
    out = {}
    base = os.path.join(repo, PACKAGE)
    for path in glob.glob(os.path.join(base, "**", "*.py"), recursive=True):
        rel = os.path.relpath(path, repo)[:-3].split(os.sep)
        if rel[-1] == "__init__":
            rel = rel[:-1]
        out[".".join(rel)] = path
    return out


def _imported_names(path: str, module: str | None, is_pkg: bool) -> set[str]:
    """Dotted names a file imports: ``import a.b`` gives a.b, and
    ``from a import b`` gives a and a.b (b may be a submodule). Relative
    imports resolve against ``module``."""
    with open(path, encoding="utf-8") as f:
        tree = ast.parse(f.read(), path)
    names = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level and module:
                parts = module.split(".")
                if not is_pkg:
                    parts = parts[:-1]
                parts = parts[:len(parts) - (node.level - 1)]
                base = ".".join(parts + ([base] if base else []))
            names.add(base)
            names.update(f"{base}.{a.name}" for a in node.names)
    return names


def reached(repo: str = REPO) -> set[str]:
    """Package modules reachable from ``roots``."""
    mods = package_modules(repo)
    seen: set[str] = set()
    todo = [(f, None, False) for f in roots(repo)]
    while todo:
        path, module, is_pkg = todo.pop()
        for name in _imported_names(path, module, is_pkg):
            parts = name.split(".")
            # a submodule import runs every parent package's __init__
            for i in range(1, len(parts) + 1):
                m = ".".join(parts[:i])
                if m in mods and m not in seen:
                    seen.add(m)
                    todo.append((mods[m], m,
                                 mods[m].endswith("__init__.py")))
    return seen


def unreached(repo: str = REPO) -> list[str]:
    """Package modules no root reaches, ALLOWED ones included."""
    return sorted(set(package_modules(repo)) - reached(repo))


def main() -> int:
    bad = []
    for m in unreached():
        why = next((r for p, r in ALLOWED.items()
                    if m == p or m.startswith(p + ".")), None)
        if why is None:
            bad.append(m)
            print(f"UNREACHED {m}")
        else:
            print(f"allowed   {m}: {why}")
    print(f"{len(bad)} package module(s) reached only by tests")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
