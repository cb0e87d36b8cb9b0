"""Registry queries that can reach the named package functions.

A static walk over the package's source: every function body (with the
functions and lambdas nested in it) is indexed by the simple names it
calls (``f(...)`` and ``mod.f(...)`` both give ``f``). A registry query
reaches a target when its registered operator (``inspect.unwrap`` of the
query) is the target or reaches it through that index. The walk is
name-based, so it over-approximates (package functions that share a
name share their callees) and never misses a call made by name; it does
not follow functions passed as values.

Prints one registry name per line, in registry order (``QUERIES``' own
order, the queries defined inside ``_register_*`` helpers included).

Usage: python scripts/reaching_queries.py FUNC [FUNC ...]
"""

from __future__ import annotations

import argparse
import ast
import inspect
import os
import sys
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(ROOT, "hadoop_coded_wordcount_spark")

_Def = (ast.FunctionDef, ast.AsyncFunctionDef)


def call_index(package: str = PACKAGE) -> dict[str, set[str]]:
    """Function simple name -> names called in any definition of it."""
    by_name: dict[str, set[str]] = defaultdict(set)

    def visit(node, owners):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, _Def):
                visit(child, owners + (child.name,))
                continue
            if isinstance(child, ast.Call):
                f = child.func
                name = (
                    f.id if isinstance(f, ast.Name)
                    else f.attr if isinstance(f, ast.Attribute)
                    else None
                )
                if name:
                    for fn in owners:
                        by_name[fn].add(name)
            visit(child, owners)

    for dirpath, _, files in os.walk(package):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(dirpath, f)) as fh:
                    visit(ast.parse(fh.read()), ())
    return by_name


def reaching(targets: set[str]) -> list[str]:
    """Registry names, in registry order, whose query reaches a target."""
    by_name = call_index()
    callers: dict[str, set[str]] = defaultdict(set)
    for fn, callees in by_name.items():
        for c in callees:
            callers[c].add(fn)
    # every name that reaches a target: the targets and, transitively,
    # their callers
    hit, todo = set(targets), list(targets)
    while todo:
        for fn in callers[todo.pop()] - hit:
            hit.add(fn)
            todo.append(fn)

    sys.path.insert(0, ROOT)
    from hadoop_coded_wordcount_spark.registry import QUERIES

    # a query is its registered operator (or composed def), unwrapped
    return [
        name for name, fn in QUERIES.items() if inspect.unwrap(fn).__name__ in hit
    ]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("funcs", nargs="+", help="package function names")
    args = ap.parse_args()
    print("\n".join(reaching(set(args.funcs))))
    return 0


if __name__ == "__main__":
    sys.exit(main())
