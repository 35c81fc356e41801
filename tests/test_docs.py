"""Doc-consistency checks: prose counts and cited node-ids must match the
code, and the driver contract must re-export the registry unchanged.

The canonical registry/oracle counts in README.md are marked with
``<!-- counts:registry``; the README test fails whenever the stated
numbers diverge from ``len(QUERIES)`` / ``len(ORACLES)``.
"""

from __future__ import annotations

import os
import re

import __spark_entry__ as entry_mod
from servihabitat_etl_spyke_spark.queries import ORACLES, QUERIES

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_readme_counts_match_registry():
    with open(os.path.join(_ROOT, "README.md")) as fh:
        readme = fh.read()
    m = re.search(
        r"counts:registry.*?Registry as of r\d+: (\d+) queries, "
        r"(\d+) oracled",
        readme, re.DOTALL)
    assert m, "README.md lost its <!-- counts:registry --> marker line"
    stated_q, stated_o = int(m.group(1)), int(m.group(2))
    assert stated_q == len(QUERIES), (
        f"README says {stated_q} registry queries; len(QUERIES) is "
        f"{len(QUERIES)} — update the marked line in README.md")
    assert stated_o == len(ORACLES), (
        f"README says {stated_o} oracled; len(ORACLES) is "
        f"{len(ORACLES)} — update the marked line in README.md")


def test_coverage_waiver_node_ids_exist():
    """Every pytest node-id cited in COVERAGE.md's rows-only waiver
    table must name a real test function in the cited file: a renamed
    test must fail THIS test, not silently orphan the waiver."""
    with open(os.path.join(_ROOT, "COVERAGE.md")) as fh:
        text = fh.read()
    # anchor context so bare `::test_x` continuations resolve against
    # the most recent file mention
    cited = re.findall(r"(?:(test_\w+\.py))?::(test_\w+)", text)
    assert cited, "COVERAGE.md cites no test node-ids"
    current_file, missing = None, []
    for fname, func in cited:
        if fname:
            current_file = fname
        assert current_file, "node-id cited before any file name"
        fpath = os.path.join(_ROOT, "tests", current_file)
        if not os.path.exists(fpath):
            missing.append(f"{current_file} (file missing)")
            continue
        with open(fpath) as fh:
            src = fh.read()
        if not re.search(rf"^def {re.escape(func)}\(", src, re.M):
            missing.append(f"{current_file}::{func}")
    assert not missing, (
        f"COVERAGE.md cites nonexistent test node-ids: {missing}")


def test_driver_contract_reexports_registry_in_order():
    """``queries()`` / ``oracle_sql()`` are the registry itself: same
    keys, same objects, registration order (no reordering layer)."""
    q, o = entry_mod.queries(), entry_mod.oracle_sql()
    assert list(q) == list(QUERIES)
    assert list(o) == list(ORACLES)
    assert all(q[n] is QUERIES[n] for n in QUERIES)
    assert o == ORACLES


def test_no_orphaned_private_helpers():
    """Every module-level ``def _name`` in the package is referenced
    somewhere in the package outside its own definition (a call, an
    attribute read, an import): a helper whose last caller was deleted
    fails here instead of lingering as dead code."""
    import ast

    pkg = os.path.join(_ROOT, "servihabitat_etl_spyke_spark")
    defs, refs = [], []
    for root, _dirs, files in os.walk(pkg):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            with open(path) as fh:
                tree = ast.parse(fh.read(), path)
            for node in tree.body:
                if (isinstance(node, (ast.FunctionDef,
                                      ast.AsyncFunctionDef))
                        and node.name.startswith("_")
                        and not node.name.endswith("__")):
                    defs.append((node.name, path, node.lineno,
                                 node.end_lineno))
            for node in ast.walk(tree):
                if isinstance(node, ast.Name):
                    refs.append((node.id, path, node.lineno))
                elif isinstance(node, ast.Attribute):
                    refs.append((node.attr, path, node.lineno))
                elif isinstance(node, ast.alias):
                    refs.append((node.name, path, node.lineno))
    orphans = [
        f"{os.path.relpath(path, _ROOT)}:{first} {fn}"
        for fn, path, first, last in defs
        if not any(name == fn and not (where == path
                                       and first <= line <= last)
                   for name, where, line in refs)]
    assert not orphans, f"private helpers referenced nowhere: {orphans}"
