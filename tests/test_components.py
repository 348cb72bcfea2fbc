"""connected_components correctness beyond the clique-shaped near-dup
graphs the oracle query covers: both tiers (one union-find task, the
large-star/small-star loop) against a test-side union-find on chains,
random graphs and malformed edge lists, their job budgets, singletons
self-labelling, and the keep-first filter keeping exactly one
representative per component."""

from __future__ import annotations

import random
import uuid

import pytest
from pyspark.sql import functions as F

from petk_spark.operators import components
from petk_spark.operators.components import (
    connected_components,
    dedup_near_keep_first,
    near_dup_clusters,
)


def _cc(spark, n_nodes, edge_list):
    nodes = spark.createDataFrame([(i,) for i in range(n_nodes)], "id long")
    edges = spark.createDataFrame(edge_list, "id_a long, id_b long")
    rows = connected_components(nodes, edges).collect()
    return {r.id: r.cluster_id for r in rows}

def test_chain_propagates_to_global_min(spark):
    # 0-1-2-...-9 in REVERSE edge order plus a chain 20-21 between ids
    # outside the nodes, which is ignored.
    chain = [(i, i + 1) for i in range(9)][::-1] + [(20, 21)]
    got = _cc(spark, 10, chain + [])
    assert all(got[i] == 0 for i in range(10))


def test_singletons_and_two_components(spark):
    got = _cc(spark, 7, [(1, 2), (2, 3), (5, 6)])
    assert got[0] == 0 and got[4] == 4          # singletons self-label
    assert got[1] == got[2] == got[3] == 1      # component min
    assert got[5] == got[6] == 5


def test_keep_first_keeps_one_per_component(spark):
    df = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(8)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame(
        [(0, 3), (3, 5), (6, 7)], "id_a long, id_b long"
    )
    kept = {r.doc_id for r in dedup_near_keep_first(df, pairs, "doc_id").collect()}
    # components: {0,3,5} -> keep 0; {6,7} -> keep 6; singletons 1,2,4 kept
    assert kept == {0, 1, 2, 4, 6}


def test_sessionize_is_input_order_invariant(spark):
    """Session assignment is a pure function of (user, ts) — input
    order and partitioning must not change any (user, session, count)
    rollup row."""
    from petk_spark.operators.sessions import session_profile

    rows = [
        (u, float(t))
        for u in range(5)
        for t in [0, 10, 2000, 2010, 2020, 9000, 9005 + u]
    ]
    df = spark.createDataFrame(rows, "user_id long, ts double")
    a = sorted(map(tuple, session_profile(df, "user_id", "ts", 60.0).collect()))
    b = sorted(
        map(
            tuple,
            session_profile(
                df.orderBy(F.col("ts").desc()).repartition(7), "user_id", "ts", 60.0
            ).collect(),
        )
    )
    assert a == b
    # gap 60 over [0,10 | 2000..2020 | 9000,9005+u] = 3 sessions per user
    assert {r[1] for r in a} == {1, 2, 3}


# ---------------------------------------------------------------------------
# the two tiers: one union-find task, and the large-star/small-star loop
# ---------------------------------------------------------------------------


@pytest.fixture(params=["small", "star"])
def tier(request, monkeypatch):
    """Run the test on each tier: ``star`` patches the edge gate to 0 so
    every graph with an edge takes the loop."""
    if request.param == "star":
        monkeypatch.setattr(components, "_SMALL_GRAPH_EDGES", 0)
    return request.param


def _labels(df):
    return sorted((r["id"], r["cluster_id"]) for r in df.collect())


def _reference(nodes, edges):
    """Test-side union-find: edges with a NULL endpoint or an endpoint
    outside ``nodes`` are ignored; every root is its component's min."""
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            x = parent[x]
        return x

    for a, b in edges:
        if a in parent and b in parent:
            ra, rb = find(a), find(b)
            parent[max(ra, rb)] = min(ra, rb)
    return sorted((n, find(n)) for n in parent)


def _record_star(m):
    """Patch the star tier to record its calls; returns the record."""
    ran = []
    star = components._star_components
    m.setattr(
        components, "_star_components",
        lambda *a, **k: ran.append("star") or star(*a, **k),
    )
    return ran


def _both_tiers(spark, nodes, edges, monkeypatch):
    """(small, star) labels of one graph; asserts each ran its tier."""
    n = spark.createDataFrame([(i,) for i in nodes], "id long")
    e = spark.createDataFrame(edges, "id_a long, id_b long")
    with monkeypatch.context() as m:
        ran = _record_star(m)
        small = _labels(connected_components(n, e))
        m.setattr(components, "_SMALL_GRAPH_EDGES", 0)
        big = _labels(connected_components(n, e))
    assert ran == ["star"]
    return small, big


def _random_graph(seed):
    rng = random.Random(seed)
    ids = list(range(1000, 1060))
    edges = []
    # a few dense cliques
    for base in range(0, 30, 10):
        clique = ids[base:base + 6]
        edges += [(a, b) for a in clique for b in clique if a < b]
    # one long chain
    chain = ids[30:50]
    edges += list(zip(chain, chain[1:]))
    # random extra edges
    edges += [tuple(sorted(rng.sample(ids, 2))) for _ in range(15)]
    return ids, edges


def test_tiers_match_reference_on_random_graphs(spark, monkeypatch):
    """Both tiers return the test-side union-find's partition on random
    graphs (clusters + chains + singletons), seeds fixed."""
    for seed in (7, 21, 99):
        ids, edges = _random_graph(seed)
        small, star = _both_tiers(spark, ids, edges, monkeypatch)
        assert small == star == _reference(ids, edges), f"seed {seed}"


def test_tiers_agree_on_long_chain(spark, monkeypatch):
    """A 120-node path with shuffled ids (diameter 119): the union-find
    task and the O(log n) star loop both label the whole chain with its
    min id."""
    ids = list(range(5000, 5120))
    random.Random(3).shuffle(ids)
    edges = list(zip(ids, ids[1:]))
    small, star = _both_tiers(spark, ids, edges, monkeypatch)
    assert small == star == [(i, 5000) for i in range(5000, 5120)]


@pytest.mark.parametrize("n_edges", [10, 11])
def test_edge_gate_picks_tier(spark, monkeypatch, n_edges):
    """With the gate patched to 10, a graph of exactly 10 distinct edges
    stays in the union-find task and one of 11 runs the star loop;
    duplicates and reversed copies don't count toward the gate."""
    monkeypatch.setattr(components, "_SMALL_GRAPH_EDGES", 10)
    ran = _record_star(monkeypatch)
    ids = list(range(20))
    edges = [(i, i + 2) for i in range(n_edges)]
    edges += [(b, a) for a, b in edges[:3]] + edges[:3]
    nodes = spark.createDataFrame([(i,) for i in ids], "id long")
    e = spark.createDataFrame(edges, "id_a long, id_b long")
    got = _labels(connected_components(nodes, e))
    assert ran == ([] if n_edges == 10 else ["star"])
    assert got == _reference(ids, edges)


def test_star_handles_self_loops_dups_and_singletons(spark, monkeypatch):
    """Self-loops, duplicate and reversed edges and NULL endpoints are
    dropped by the shared normalization, on both tiers."""
    edges = [(1, 2), (2, 1), (2, 2), (2, 3), (None, 3), (9, None), (3, 2)]
    small, star = _both_tiers(spark, [1, 2, 3, 9], edges, monkeypatch)
    assert small == star == [(1, 1), (2, 1), (3, 1), (9, 9)]


@pytest.mark.parametrize(
    "nodes, edges, want",
    [
        # the path through non-node 2 does not join 1 and 3
        ([1, 3], [(1, 2), (2, 3)], [(1, 1), (3, 3)]),
        # both rows would be labelled 1, an id outside the nodes
        ([2, 3], [(1, 2), (1, 3)], [(2, 2), (3, 3)]),
    ],
)
def test_edges_outside_nodes_are_ignored(spark, monkeypatch, tier, nodes, edges, want):
    """An edge with an endpoint outside ``nodes`` is ignored, so every
    cluster_id is a node id and ``id == cluster_id`` keeps one row per
    cluster."""
    n = spark.createDataFrame([(i,) for i in nodes], "id long")
    e = spark.createDataFrame(edges, "id_a long, id_b long")
    got = _labels(connected_components(n, e))
    assert got == want == _reference(nodes, edges)
    kept = near_dup_clusters(n, e, "id").filter(F.col("id") == F.col("cluster_id"))
    assert kept.count() == len({c for _, c in want})


def _jobs(spark, fn):
    """Spark jobs ``fn`` ran, counted by the status tracker under a job
    group (AQE stage and broadcast jobs included)."""
    sc = spark.sparkContext
    group = f"cc-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _chain_graph(spark):
    ids = list(range(5000, 5120))
    nodes = spark.createDataFrame([(i,) for i in ids], "id long").localCheckpoint()
    e = spark.createDataFrame(
        list(zip(ids, ids[1:])), "id_a long, id_b long"
    ).localCheckpoint()
    return nodes, e


def test_small_tier_job_budget(spark):
    """One small-tier call on a checkpointed graph, collected: the
    normalization and its checkpoint, the edge count, and one pass that
    runs the union-find task and joins the node ids — a fixed number of
    jobs, whatever the graph's diameter (measured: 11)."""
    nodes, e = _chain_graph(spark)
    got = []
    assert _jobs(spark, lambda: got.extend(
        connected_components(nodes, e).collect())) == 11
    assert {r["cluster_id"] for r in got} == {5000}


def test_star_loop_jobs_per_round(spark, monkeypatch):
    """Each star round costs the same fixed number of jobs (measured: 12
    under AQE) — a lazily checkpointed round that grew a separate
    materialization job would show here. Rounds are isolated by running
    the 120-node chain with budgets of 1 and 2 rounds (both raise)."""
    monkeypatch.setattr(components, "_SMALL_GRAPH_EDGES", 0)
    nodes, e = _chain_graph(spark)

    def rounds(n):
        def run():
            with pytest.raises(RuntimeError, match="did not converge"):
                connected_components(nodes, e, max_iterations=n)
        return _jobs(spark, run)

    assert rounds(2) - rounds(1) == 12
