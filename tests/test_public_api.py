"""Public-API guard: physical-strategy switches stay off the operator
signatures. No public operator carries one: an operator ships one
kernel, and where it has tiers, a measured size picks them. A second
implementation kept only for comparison belongs in its test module as
a reference."""

from __future__ import annotations

import ast
import importlib
import inspect
import pathlib
import pkgutil

import petk_spark
import petk_spark.operators as operators

SWITCHES = {"method", "rank_strategy", "algorithm", "tier"}


def test_no_strategy_switch_on_public_operators():
    found = []
    for info in pkgutil.iter_modules(operators.__path__):
        mod = importlib.import_module(f"{operators.__name__}.{info.name}")
        for name, fn in vars(mod).items():
            if (
                name.startswith("_")
                or not inspect.isfunction(fn)
                or fn.__module__ != mod.__name__
            ):
                continue
            hit = SWITCHES & set(inspect.signature(fn).parameters)
            if hit:
                found.append(f"{mod.__name__}.{name}: {sorted(hit)}")
    assert not found, found


def test_reference_cosine_fold_lives_in_tests_only():
    """Every library scoring path runs the one cosine kernel
    (``similarity.cosine_col``); the interpreted reference fold
    ``cosine_expr`` is test-side only (``tests/oracle_harness.py``)."""
    found = []
    for path in pathlib.Path(petk_spark.__file__).parent.rglob("*.py"):
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
                names = [node.name]
            elif isinstance(node, (ast.Import, ast.ImportFrom)):
                names = [a.asname or a.name.rsplit(".", 1)[-1] for a in node.names]
            elif isinstance(node, ast.Name):
                names = [node.id]
            elif isinstance(node, ast.Attribute):
                names = [node.attr]
            else:
                continue
            if "cosine_expr" in names:
                found.append(f"{path.name}:{node.lineno}")
    assert not found, found
