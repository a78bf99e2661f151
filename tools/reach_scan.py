"""Reachability scan: list the top-level defs under ``osm_render_spark/``
that no product reaches.

Usage: python tools/reach_scan.py [repo_root]

Roots are every identifier used by ``tools/``, ``bench.py``,
``bench_extra.py``, ``__spark_entry__.py``, ``perfbench/`` and
``osm_render_spark/queries.py``, plus the module-level code of every
engine module (import statements excluded). A top-level function or
class is reached when some reached code names it, either as a bare name
or as an attribute; the identifiers inside a reached def are then
reached in turn. Tests are not roots.

Matching is by name only, so two defs that share a name are reached
together and a name built at run time (``getattr``, strings) is missed.
Recheck each listed def with grep before acting on it. The scan only
reads files.
"""

from __future__ import annotations

import ast
import os
import sys

PACKAGE = "osm_render_spark"
ROOT_FILES = ("bench.py", "bench_extra.py", "__spark_entry__.py",
              os.path.join(PACKAGE, "queries.py"))
ROOT_DIRS = ("tools", "perfbench")


def _py_files(top: str):
    for dirpath, dirnames, filenames in os.walk(top):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        for f in sorted(filenames):
            if f.endswith(".py"):
                yield os.path.join(dirpath, f)


def _names(nodes) -> set[str]:
    """Every bare name and attribute name used under ``nodes``."""
    out: set[str] = set()
    for node in nodes:
        for sub in ast.walk(node):
            if isinstance(sub, ast.Name):
                out.add(sub.id)
            elif isinstance(sub, ast.Attribute):
                out.add(sub.attr)
    return out


def scan(repo: str) -> list[dict]:
    """Unreached top-level defs as {module, name, line, lines}, sorted by
    module then line."""
    defs: list[dict] = []
    roots: set[str] = set()
    for path in _py_files(os.path.join(repo, PACKAGE)):
        rel = os.path.relpath(path, repo)
        with open(path) as f:
            tree = ast.parse(f.read(), rel)
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs.append({
                    "module": rel, "name": node.name, "line": node.lineno,
                    "lines": node.end_lineno - node.lineno + 1,
                    "uses": _names([node]) - {node.name},
                })
            elif not isinstance(node, (ast.Import, ast.ImportFrom)):
                roots |= _names([node])
    root_paths = [os.path.join(repo, f) for f in ROOT_FILES]
    for d in ROOT_DIRS:
        root_paths += list(_py_files(os.path.join(repo, d)))
    for path in root_paths:
        if os.path.exists(path):
            with open(path) as f:
                roots |= _names([ast.parse(f.read(), path)])

    by_name: dict[str, list[dict]] = {}
    for d in defs:
        by_name.setdefault(d["name"], []).append(d)
    reached: set[int] = set()
    todo = list(roots)
    seen = set(todo)
    while todo:
        for d in by_name.get(todo.pop(), ()):
            if id(d) in reached:
                continue
            reached.add(id(d))
            for n in d["uses"] - seen:
                seen.add(n)
                todo.append(n)
    return [
        {k: d[k] for k in ("module", "name", "line", "lines")}
        for d in defs
        if id(d) not in reached
    ]


def main(argv: list[str]) -> None:
    repo = argv[0] if argv else os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    unreached = scan(repo)
    for d in sorted(unreached, key=lambda d: -d["lines"]):
        print(f"{d['lines']:5d}  {d['module']}:{d['line']}  {d['name']}")
    print(f"{len(unreached)} unreached top-level defs, "
          f"{sum(d['lines'] for d in unreached)} lines")


if __name__ == "__main__":
    main(sys.argv[1:])
