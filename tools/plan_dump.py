"""Dump `.explain("formatted")` for named registry queries to files.

Optimization-round deliverable helper: captures the physical plan of
each declared query into plans/<tag>/<query>_<suffix>.txt so plan-shape
claims in OPTIMIZATION_*.md are checkable without running Spark.

Usage:
  python tools/plan_dump.py --suffix=before [--tag=r16] [q1 q2 ...]
With no query names, dumps every `queries()` entry. Uses the driver's
session shape (`tests.driver_replica.driver_builder`, as
tools/plan_audit.py does) and builds plans only — no execution, so the
initial Catalyst plan is captured, matching the SCALE.md appendix
convention.
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv) -> int:
    import __spark_entry__ as entry

    from petk_spark.plans.inspect import executed_plan
    from tests.driver_replica import driver_builder

    suffix = "before"
    tag = "r16"
    sf_dir = "/root/testdata/sf0.01"
    names = []
    for a in argv[1:]:
        if a.startswith("--suffix="):
            suffix = a.split("=", 1)[1]
        elif a.startswith("--tag="):
            tag = a.split("=", 1)[1]
        elif a.startswith("--sf="):
            sf_dir = a.split("=", 1)[1]
        elif not a.startswith("--"):
            names.append(a)
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        tag,
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = driver_builder().getOrCreate()
    reg = entry.queries()
    targets = names or list(reg)
    rc = 0
    for name in targets:
        try:
            plan = executed_plan(reg[name](spark, sf_dir))
        except Exception as exc:  # noqa: BLE001
            print(f"# {name}: ERR {type(exc).__name__}: {exc}", file=sys.stderr)
            rc = 1
            continue
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"{path}  ({len(plan)} bytes)", flush=True)
    spark.stop()
    return rc


if __name__ == "__main__":
    raise SystemExit(main(sys.argv))
