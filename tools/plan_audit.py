"""Plan-shape audit of every registry query — the machine-checkable
version of SCALE.md's per-query scale claims.

For each `queries()` entry this builds the DataFrame (no execution) and
reports the physical-plan signature Catalyst produced:

  scans       file-source scans (distinct nodes; a fused profile = 1-2)
  exch        shuffle exchanges, broadcast excluded
  rr_exch     round-robin repartition exchanges (subset of exch) — the
              local[32] starvation guard; MUST stay 0 at real scale
              (ensure_parallelism is a no-op on multi-split sources)
  bcast       broadcast joins present (small-side joins stay off the
              shuffle path)
  sortmerge   sort-merge joins present (big-big joins — each is a
              deliberate shuffle-pair, listed so none hides)
  cartesian   cartesian products (must be 0 outside broadcast-1-row)
  wscg        whole-stage-codegen spans (JVM-compiled operators)
  python      Arrow-batched Python nodes (ArrowEvalPython, MapInPandas,
              MapInArrow, FlatMapGroupsInPandas, FlatMapGroupsInArrow;
              distinct nodes) — the declared kernels only

Usage: python tools/plan_audit.py [sf_dir] [--markdown]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def audit(df, execute: bool = False) -> dict:
    from petk_spark.plans.inspect import executed_plan

    if execute:
        # AQE assigns codegen ids (and re-plans exchanges) only once
        # query stages materialize; run the query so the signature
        # reflects the FINAL adaptive plan, not the initial one.
        df.collect()
    plan = executed_plan(df)
    n_scan = len(set(re.findall(r"\((\d+)\) Scan (?:parquet|csv|json|text)", plan)))
    exch_ids = set(re.findall(r"\((\d+)\) Exchange\b", plan))
    # Per-node detail blocks: formatted explain prints each node as
    # "(id) Name" followed by its own detail lines until the next
    # "(id) " header. Attribute RoundRobinPartitioning to the exchange
    # whose OWN block mentions it — a lazy cross-block regex would
    # capture the id of an unrelated earlier exchange.
    rr_ids = set()
    for m in re.finditer(r"\((\d+)\) Exchange\b", plan):
        block_end = re.search(r"\n\(\d+\) ", plan[m.end():])
        block = plan[m.end(): m.end() + block_end.start()] if block_end else plan[m.end():]
        if "RoundRobinPartitioning" in block:
            rr_ids.add(m.group(1))
    rr = len(rr_ids & exch_ids)
    return {
        "scans": n_scan,
        "exch": len(exch_ids),
        "rr_exch": rr,
        "bcast": ("BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan),
        "sortmerge": "SortMergeJoin" in plan,
        "cartesian": "CartesianProduct" in plan,
        # formatted mode tags each node with `[codegen id : N]`;
        # `WholeStageCodegen (N)` only appears in simple-mode output
        "wscg": len(set(re.findall(r"\[codegen id : (\d+)\]", plan))),
        "python": len(set(re.findall(
            r"\((\d+)\) (?:ArrowEvalPython|MapIn(?:Pandas|Arrow)"
            r"|FlatMapGroupsIn(?:Pandas|Arrow))\b", plan))),
    }


def main(argv):
    import __spark_entry__ as entry
    from tests.driver_replica import driver_builder

    sf_dir = next((a for a in argv[1:] if not a.startswith("--")),
                  "/root/testdata/sf0.01")
    md = "--markdown" in argv
    spark = driver_builder().getOrCreate()
    execute = "--execute" in argv
    rows = []
    for name, fn in entry.queries().items():
        try:
            sig = audit(fn(spark, sf_dir), execute)
            sig["name"] = name
            sig["err"] = ""
        except Exception as exc:  # noqa: BLE001
            sig = {"name": name, "err": f"{type(exc).__name__}: {exc}"}
        rows.append(sig)
        if not md:
            print(sig, flush=True)
    if md:
        print("| query | scans | shuffles | rr | bcast | smj | cart | wscg | py |")
        print("|---|---|---|---|---|---|---|---|---|")
        for r in rows:
            if r.get("err"):
                print(f"| {r['name']} | ERR {r['err'][:40]} | | | | | | | |")
                continue
            print(
                f"| {r['name']} | {r['scans']} | {r['exch']} | {r['rr_exch']} "
                f"| {'✓' if r['bcast'] else ''} | {'✓' if r['sortmerge'] else ''} "
                f"| {'✗!' if r['cartesian'] else ''} | {r['wscg']} | {r['python']} |"
            )
    bad = [r for r in rows if r.get("cartesian")]
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv))
