"""Public-API guard: physical-strategy switches stay off the operator
signatures. An operator ships one kernel; a second implementation
kept only for comparison belongs in its test module as a reference.
The allow-list names the operators whose switch a production caller
still needs (bit-parity expr joins, the long-chain components loop,
the size-probed bigram tier)."""

from __future__ import annotations

import importlib
import inspect
import pkgutil

import petk_spark.operators as operators

SWITCHES = {"method", "rank_strategy", "algorithm", "tier"}
ALLOWED = {
    "semantic_dedup",
    "semantic_dedup_pairs",
    "connected_components",
    "near_dup_clusters",
    "bigram_bits_per_token",
}


def test_no_strategy_switch_outside_allow_list():
    found = []
    for info in pkgutil.iter_modules(operators.__path__):
        mod = importlib.import_module(f"{operators.__name__}.{info.name}")
        for name, fn in vars(mod).items():
            if (
                name.startswith("_")
                or not inspect.isfunction(fn)
                or fn.__module__ != mod.__name__
                or name in ALLOWED
            ):
                continue
            hit = SWITCHES & set(inspect.signature(fn).parameters)
            if hit:
                found.append(f"{mod.__name__}.{name}: {sorted(hit)}")
    assert not found, found
