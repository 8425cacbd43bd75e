"""Every module-level function, class and assignment in lidartree_spark/
must have a caller: a name that nothing loads is dead code that a deletion
left behind (or that never had a use). Pure stdlib `ast`, no linter."""

import ast
import os
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "lidartree_spark"
# where a use may live: the package, its tools, tests and benchmark, and
# the two entry points
USERS = (PACKAGE, "tools", "tests", "perfbench", "bench.py",
         "__spark_entry__.py")


def _py_files(rel):
    path = os.path.join(ROOT, rel)
    if os.path.isfile(path):
        yield path
        return
    for d, _, files in os.walk(path):
        for f in sorted(files):
            if f.endswith(".py"):
                yield os.path.join(d, f)


def _parse(path):
    with open(path, encoding="utf-8") as f:
        return ast.parse(f.read(), path)


def _definitions(tree):
    """(name, first line, last line) of each module-level def, class and
    plain-name assignment."""
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                             ast.ClassDef)):
            yield node.name, node.lineno, node.end_lineno
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = (node.targets if isinstance(node, ast.Assign)
                       else [node.target])
            for t in targets:
                for n in ast.walk(t):
                    if isinstance(n, ast.Name):
                        yield n.id, node.lineno, node.end_lineno


def _uses(tree):
    """(name, line) of every read of a name: loads, attribute accesses and
    `from ... import name`."""
    for n in ast.walk(tree):
        if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load):
            yield n.id, n.lineno
        elif isinstance(n, ast.Attribute):
            yield n.attr, n.lineno
        elif isinstance(n, ast.ImportFrom):
            for a in n.names:
                yield a.name, n.lineno


def test_no_callerless_module_level_code():
    uses = defaultdict(list)  # name -> [(path, line)]
    for rel in USERS:
        for path in _py_files(rel):
            for name, line in _uses(_parse(path)):
                uses[name].append((path, line))

    dead = []
    for path in _py_files(PACKAGE):
        for name, first, last in _definitions(_parse(path)):
            if name.startswith("__") and name.endswith("__"):
                continue
            # a use inside the definition itself (recursion, a default
            # that names the constant being defined) is not a caller
            if not any(p != path or not first <= line <= last
                       for p, line in uses[name]):
                dead.append(f"{os.path.relpath(path, ROOT)}:{first} {name}")
    assert not dead, "module-level code nothing uses:\n" + "\n".join(dead)


def test_every_table_view_is_read():
    """Every view that queries.load_views registers has a reader in the
    registry: a query that scans it (`FROM t`, `JOIN t`) or opens its
    parquet (`t.parquet`). A view whose last reader was deleted still
    costs a parquet schema read each time a SQL query loads the views."""
    import re

    from lidartree_spark.queries import TABLES

    src = ""
    for path in _py_files(os.path.join(PACKAGE, "queries")):
        with open(path, encoding="utf-8") as f:
            src += f.read()
    unread = [t for t in TABLES if not re.search(
        rf"\b(?:FROM|JOIN)\s+{t}\b|\b{t}\.parquet\b", src)]
    assert not unread, f"views nothing reads: {unread}"
