"""Registry queries that can reach the named package functions.

A static walk over the package's source: every function body (with the
functions and lambdas nested in it) is indexed by the simple names it
calls (``f(...)`` and ``mod.f(...)`` both give ``f``). A registry query
reaches a target when the target is among the names reachable from the
query function through that index. The walk is name-based, so it
over-approximates (package functions that share a name share their
callees) and never misses a call made by name; it does not follow
functions passed as values.

Prints one registry name per line, in registry order (``QUERIES``' own
order, the queries defined inside ``_register_*`` helpers included).

Usage: python scripts/reaching_queries.py FUNC [FUNC ...]
"""

from __future__ import annotations

import argparse
import ast
import os
import sys
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(ROOT, "hadoop_coded_wordcount_spark")

_Def = (ast.FunctionDef, ast.AsyncFunctionDef)


def call_index(package: str = PACKAGE):
    """(function simple name -> names called in any definition of it,
    (path, first line) -> names called in that one definition). A def's
    first line is its first decorator's, as in ``co_firstlineno``."""
    by_name: dict[str, set[str]] = defaultdict(set)
    by_def: dict[tuple[str, int], set[str]] = defaultdict(set)

    def visit(node, owners):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, _Def):
                first = min(
                    [child.lineno] + [d.lineno for d in child.decorator_list]
                )
                visit(child, owners + ((child.name, (path, first)),))
                continue
            if isinstance(child, ast.Call):
                f = child.func
                name = (
                    f.id if isinstance(f, ast.Name)
                    else f.attr if isinstance(f, ast.Attribute)
                    else None
                )
                if name:
                    for fn, key in owners:
                        by_name[fn].add(name)
                        by_def[key].add(name)
            visit(child, owners)

    for dirpath, _, files in os.walk(package):
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(dirpath, f)
                with open(path) as fh:
                    visit(ast.parse(fh.read()), ())
    return by_name, by_def


def reaching(targets: set[str]) -> list[str]:
    """Registry names, in registry order, whose query reaches a target."""
    by_name, by_def = call_index()
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

    return [
        name
        for name, fn in QUERIES.items()
        if by_def[(fn.__code__.co_filename, fn.__code__.co_firstlineno)]
        & hit
    ]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("funcs", nargs="+", help="package function names")
    args = ap.parse_args()
    print("\n".join(reaching(set(args.funcs))))
    return 0


if __name__ == "__main__":
    sys.exit(main())
