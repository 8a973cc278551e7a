"""The registry is laid out by family: every query lives in the module
``queries.FAMILY`` names for its prefix, only ``registry.py`` reaches
into ``queries/`` from the rest of the package, and the registry order
depends on the query names and the driver's record, not on which
module registers a query or in what order the modules are imported."""
from __future__ import annotations

import ast
import json
import os
import random

import pytest

import go_mailio_diskusage_handler_spark as pkg
from go_mailio_diskusage_handler_spark.queries import FAMILY, freshness
from go_mailio_diskusage_handler_spark.registry import QUERIES

PKG_DIR = os.path.dirname(os.path.abspath(pkg.__file__))
QUERIES_DIR = os.path.join(PKG_DIR, "queries")
REPO_ROOT = os.path.dirname(PKG_DIR)


def test_each_query_lives_in_its_family_module():
    wrong = {
        name: fn.__module__
        for name, fn in QUERIES.items()
        if fn.__module__ != f"{pkg.__name__}.queries.{FAMILY[name.split('_')[0]]}"
    }
    assert not wrong
    modules = {f[:-3] for f in os.listdir(QUERIES_DIR) if f.startswith("q_")}
    assert modules == set(FAMILY.values())
    assert not [m for m in modules if m.startswith("q_round")]


def _imported_modules(path: str) -> set[str]:
    """Absolute names of the modules ``path`` imports from."""
    rel = os.path.relpath(path, os.path.dirname(PKG_DIR))
    package = rel.split(os.sep)[:-1]  # relative imports resolve from here
    out = set()
    with open(path) as fh:
        tree = ast.parse(fh.read())
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            out |= {a.name for a in node.names}
        elif isinstance(node, ast.ImportFrom):
            base = package[: len(package) - node.level + 1] if node.level else []
            mod = ".".join(base + ([node.module] if node.module else []))
            out |= {mod} | {f"{mod}.{a.name}" for a in node.names}
    return out


def test_only_the_registry_imports_query_modules():
    prefix = f"{pkg.__name__}.queries"
    offenders = {}
    for root, _, files in os.walk(PKG_DIR):
        if root.startswith(QUERIES_DIR):
            continue
        for f in files:
            path = os.path.join(root, f)
            if not f.endswith(".py") or path == os.path.join(PKG_DIR, "registry.py"):
                continue
            hits = {
                m for m in _imported_modules(path)
                if m == prefix or m.startswith(prefix + ".")
            }
            if hits:
                offenders[os.path.relpath(path, REPO_ROOT)] = sorted(hits)
    assert not offenders


def _returns_dataframe(fn: ast.FunctionDef) -> bool:
    ann = fn.returns
    if isinstance(ann, ast.Constant):
        return ann.value == "DataFrame"
    return (isinstance(ann, ast.Name) and ann.id == "DataFrame") or (
        isinstance(ann, ast.Attribute) and ann.attr == "DataFrame"
    )


def test_query_signatures_live_only_in_queries():
    """A ``(spark, sf_dir) -> DataFrame`` function is a query body, and
    query bodies live in ``queries/``; one outside would be a second
    layer that a registered query merely delegates to."""
    offenders = []
    for root, _, files in os.walk(PKG_DIR):
        if root.startswith(QUERIES_DIR):
            continue
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(root, f)
            with open(path) as fh:
                tree = ast.parse(fh.read())
            for node in ast.walk(tree):
                if (
                    isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
                    and [a.arg for a in node.args.args] == ["spark", "sf_dir"]
                    and not node.args.vararg
                    and not node.args.kwonlyargs
                    and not node.args.kwarg
                    and _returns_dataframe(node)
                ):
                    offenders.append(f"{os.path.relpath(path, REPO_ROOT)}:{node.name}")
    assert not offenders


@pytest.mark.parametrize("seed", range(5))
def test_driver_order_ignores_registration_order(seed):
    names = list(QUERIES)
    shuffled = names[:]
    random.Random(seed).shuffle(shuffled)
    with open(os.path.join(REPO_ROOT, "ORACLE_HASHES.json")) as fh:
        oracle_round = {n: v["round"] for n, v in json.load(fh).items()}
    last = freshness.last_checked(REPO_ROOT)
    assert freshness.driver_order(shuffled, last, oracle_round) == names
