"""Round-3 coverage closers: A5 sink round-trip (the one fully
untested SURVEY row) and a pinned recall floor for the IVF approximate
top-k (turning the `no_oracle` row into a measured approximate
operator)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# A5 — sinks
# ---------------------------------------------------------------------------

def test_write_report_roundtrip(spark, tmp_path):
    """write_report → re-read → identical rows, and a single output file
    (reports are small; one file is the declared shape)."""
    import os

    from petk_spark.operators.describe import describe_frame
    from petk_spark.sources.sinks import write_report

    df = spark.read.parquet(f"{SF}/region.parquet")
    report = describe_frame(df, ["r_regionkey"], exact=True)
    path = str(tmp_path / "report")
    write_report(report, path)

    back = spark.read.parquet(path)
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, report.collect())
    )
    parts = [f for f in os.listdir(path) if f.startswith("part-")]
    assert len(parts) == 1


def test_write_violations_partitioned_roundtrip(spark, tmp_path):
    """write_violations partitions by rule so per-rule consumers prune;
    re-read (full and pruned) must reproduce the violation rows."""
    import os

    from petk_spark.operators.validate import validate_frame
    from petk_spark.sources.sinks import write_violations

    df = spark.read.parquet(f"{SF}/orders.parquet")
    v = validate_frame(
        df,
        {
            "o_totalprice": {"range": [5000, 250000]},
            "o_orderstatus": {"accepted": ["O", "F"]},
        },
        "o_orderkey",
    )
    path = str(tmp_path / "violations")
    write_violations(v, path)

    back = spark.read.parquet(path)
    key = lambda r: (r["column"], r["row_key"], r["function"], r["notes"])
    assert sorted(map(key, back.collect())) == sorted(map(key, v.collect()))
    # partition-pruned read sees only that rule's directory
    dirs = [d for d in os.listdir(path) if d.startswith("function=")]
    assert len(dirs) >= 2
    one_rule = spark.read.parquet(path).filter(F.col("function") == "range")
    assert one_rule.count() == v.filter(F.col("function") == "range").count()


# ---------------------------------------------------------------------------
# F3 — IVF recall floor
# ---------------------------------------------------------------------------

@pytest.mark.slow
def test_ivf_recall_floor(spark):
    """recall@10 of cosine_topk_ivf vs the exact cosine_topk on the
    embeddings fixture, pinned at measured-minus-margin floors.

    The synthetic embeddings are near-ISOTROPIC (no cluster structure),
    which is the worst case for IVF: nearest neighbors scatter across
    cells, so recall is bounded far below what real clustered
    embeddings give. Measured on this fixture (deterministic — the
    k-means sample and data are fixed): recall@10 = 0.505 at
    (n_centroids=8, n_probes=2) and 0.735 at (8, 4). The pins assert
    the three properties a broken IVF would violate:
      1. (8,2) recall ≥ 0.40 — floor with margin;
      2. (8,2) recall > 0.25 + margin — bucketing is INFORMATIVE: 2/8
         probed cells would capture only ~25% under random assignment;
      3. probing more cells strictly helps: (8,4) ≥ (8,2) + 0.1,
         with (8,4) ≥ 0.65.
    The `no_oracle` CORRECTNESS row for cosine_topk_ivf is backed by
    these pinned measurements."""
    from petk_spark.operators.similarity import cosine_topk, cosine_topk_ivf

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 20)

    exact = cosine_topk(emb, queries, "vec_id", "embedding", k=10)
    truth: dict[int, set] = {}
    for r in exact.collect():
        truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    assert truth, "exact top-k returned nothing"
    total = sum(len(truth[q]) for q in truth)

    def recall(n_probes: int) -> float:
        approx = cosine_topk_ivf(
            emb, queries, "vec_id", "embedding",
            k=10, n_centroids=8, n_probes=n_probes,
        )
        got: dict[int, set] = {}
        for r in approx.collect():
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return sum(len(truth[q] & got.get(q, set())) for q in truth) / total

    r2, r4 = recall(2), recall(4)
    assert r2 >= 0.40, f"recall@10(8,2) = {r2:.3f} below pinned floor"
    assert r2 > 0.30, f"recall@10(8,2) = {r2:.3f} no better than random probing"
    assert r4 >= max(0.65, r2 + 0.1), f"more probes didn't help: {r2:.3f} -> {r4:.3f}"


def test_write_bucketed_join_skips_shuffle(spark, tmp_path):
    """Co-location proof for the bucketed sink: two tables bucketed the
    same way on the join key sort-merge-join with ZERO shuffle exchanges
    — the plan evidence behind SCALE.md's 'one write amortizes N
    shuffles of the fact side' claim. (Broadcast disabled so the join
    can't cheat; bucket scans still shuffle-exchange nothing.)"""
    from petk_spark.plans.inspect import exchange_count, executed_plan
    from petk_spark.sources.sinks import write_bucketed

    docs = spark.range(0, 1000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 7).alias("v")
    )
    meta = spark.range(0, 1000, 3).select(
        F.col("id").alias("doc_id"), (F.col("id") % 5).alias("m")
    )
    conf = spark.conf
    saved = conf.get("spark.sql.autoBroadcastJoinThreshold", None)
    try:
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        write_bucketed(
            docs, "bk_docs", ["doc_id"], n_buckets=8,
            sort_cols=["doc_id"], path=str(tmp_path / "bk_docs"),
        )
        write_bucketed(
            meta, "bk_meta", ["doc_id"], n_buckets=8,
            sort_cols=["doc_id"], path=str(tmp_path / "bk_meta"),
        )
        joined = spark.table("bk_docs").join(spark.table("bk_meta"), "doc_id")
        assert joined.count() == 334
        assert exchange_count(joined) == 0, executed_plan(joined)
        # control: the same join over plain parquet shuffles both sides
        docs.write.mode("overwrite").parquet(str(tmp_path / "plain_docs"))
        meta.write.mode("overwrite").parquet(str(tmp_path / "plain_meta"))
        plain = spark.read.parquet(str(tmp_path / "plain_docs")).join(
            spark.read.parquet(str(tmp_path / "plain_meta")), "doc_id"
        )
        assert exchange_count(plain) >= 2
    finally:
        if saved is None:
            conf.unset("spark.sql.autoBroadcastJoinThreshold")
        else:
            conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
        spark.sql("DROP TABLE IF EXISTS bk_docs")
        spark.sql("DROP TABLE IF EXISTS bk_meta")


def test_read_orc_round_trip(spark, tmp_path):
    from petk_spark.sources.readers import read_orc

    src = spark.read.parquet("/root/testdata/sf0.001/region.parquet")
    p = str(tmp_path / "region_orc")
    src.write.orc(p)
    back = read_orc(spark, p)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, src.collect()))


def test_read_text_lines_and_wholefile(spark, tmp_path):
    from petk_spark.sources.readers import read_text

    d = tmp_path / "corpus"
    d.mkdir()
    (d / "a.txt").write_text("first line\nsecond line\n")
    (d / "b.txt").write_text("only line of b\n")

    lines = read_text(spark, str(d)).collect()
    assert sorted(r["text"] for r in lines) == [
        "first line", "only line of b", "second line",
    ]
    assert all(r["doc_id"] >= 0 for r in lines)
    assert {r["source_file"] for r in lines} == {"a.txt", "b.txt"}
    # ids deterministic across re-reads
    again = read_text(spark, str(d)).collect()
    assert {(r["doc_id"], r["text"]) for r in again} == {
        (r["doc_id"], r["text"]) for r in lines
    }

    whole = read_text(spark, str(d), whole_file=True).collect()
    assert sorted(r["text"] for r in whole) == [
        "first line\nsecond line\n", "only line of b\n",
    ]


def test_ivf_centroid_dim_survives_ragged_lowest_id_row(spark):
    """The centroid sample's corpus dimension is the MODAL vector
    length across the sample, so a ragged vector at the LOWEST id (the
    previous anchor row) is excluded and training proceeds at the true
    dimension instead of discarding every well-formed vector
    (round-6 advisory)."""
    from petk_spark.operators.similarity import sample_centroids

    rows = [(0, [1.0, 2.0])] + [
        (i, [float(i % 7), float((i * 3) % 5), float(i % 2), 1.0])
        for i in range(1, 40)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = sample_centroids(df, 4, "embedding", "vec_id")
    assert cents and all(len(c) == 4 for c in cents), cents


def test_centroid_sample_drops_null_element_rows(spark):
    """A vector of the modal length holding a NULL element (read as NaN)
    is left out of the k-means sample like every other ill-formed row,
    so no centroid comes back NaN."""
    import math

    from petk_spark.operators.similarity import sample_centroids

    rows = [(i, list(vec)) for i, vec in _pseudo_vecs(3000, 16)]
    for i in range(0, 3000, 13):
        rows[i][1][i % 16] = None
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = sample_centroids(df, 5, "embedding", "vec_id")
    assert len(cents) == 5
    assert all(math.isfinite(v) for c in cents for v in c), cents


def _pseudo_vecs(n: int, dim: int, seed: int = 7):
    """Deterministic LCG vectors — no RNG state, tie-free in practice."""
    state = seed
    out = []
    for i in range(n):
        row = []
        for _ in range(dim):
            state = (1103515245 * state + 12345) % (1 << 31)
            row.append((state / float(1 << 31)) * 2.0 - 1.0)
        out.append((i, row))
    return out


def _literal_rank(vec_col: str, cents, n: int):
    """Reference ranking for the IVF kernels: the plan-literal
    expression the library once built — one ``cosine_expr`` struct
    ``(score, -id)`` per centroid, ``reverse(array_sort(...))`` so the
    descending walk puts a NaN score first, a NULL score last and exact
    ties on the LOWER id, gated by ``_well_formed`` (NULL for a
    malformed vector)."""
    from petk_spark.operators.similarity import _well_formed
    from tests.oracle_harness import cosine_expr

    entries = [
        F.struct(
            cosine_expr(
                F.col(vec_col), F.array(*[F.lit(float(x)) for x in cen])
            ).alias("score"),
            F.lit(-ci).alias("neg_id"),
        )
        for ci, cen in enumerate(cents)
    ]
    ranked = F.slice(F.reverse(F.array_sort(F.array(*entries))), 1, n)
    return F.when(
        _well_formed(F.col(vec_col), len(cents[0])),
        F.transform(ranked, lambda e: -e["neg_id"]),
    )


def _literal_assign(df, cents) -> dict:
    """{vec_id: centroid_id} under the reference ranking."""
    return {
        r["id"]: r["c"]
        for r in df.select(
            F.col("vec_id").alias("id"),
            F.element_at(_literal_rank("embedding", cents, 1), 1).alias("c"),
        ).collect()
    }


def _assign(df, cents) -> dict:
    from petk_spark.operators.similarity import ivf_assign

    return {
        r["id"]: r["centroid_id"] for r in ivf_assign(df, cents).collect()
    }


def test_ivf_assign_arrow_equals_literal(spark):
    """The matmul tier (n_centroids > _IVF_FOLD_MAX) is row-identical
    to the plan-literal reference on well-formed vectors, and renders
    malformed rows (NULL / ragged / zero-norm) as NULL assignments
    without crashing."""
    vecs = _pseudo_vecs(300, 8)
    cents = [v for _, v in _pseudo_vecs(70, 8, seed=99)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")

    lit = _literal_assign(df, cents)
    arrow = _assign(df, cents)
    assert lit == arrow and len(lit) == 300

    bad = spark.createDataFrame(
        [(0, None), (1, [1.0, 2.0]), (2, [0.0] * 8), (3, [1.0] * 8)],
        "vec_id long, embedding array<double>",
    )
    got = _assign(bad, cents)
    assert got[0] is None and got[1] is None and got[2] is None
    assert got[3] is not None


def test_ivf_assign_fold_equals_literal(spark):
    """The fold tier (the default up to _IVF_FOLD_MAX centroids) is
    row-identical to the plan-literal reference — including exact ties
    (duplicate centroids → lower id), zero-norm centroids (NULL score
    slots), malformed vectors (NULL / ragged / zero-norm / NaN / Inf),
    and NULL list elements. The kernel replays the reference's float64
    left-fold arithmetic, so this holds bitwise, not just
    approximately."""
    vecs = _pseudo_vecs(300, 8)
    cents = [v for _, v in _pseudo_vecs(5, 8, seed=99)]
    cents.append(list(cents[0]))          # exact duplicate → tie
    cents.append([0.0] * 8)               # zero-norm centroid
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")

    lit = _literal_assign(df, cents)
    fold = _assign(df, cents)
    assert lit == fold and len(lit) == 300

    bad = spark.createDataFrame(
        [
            (0, None),
            (1, [1.0, 2.0]),
            (2, [0.0] * 8),
            (3, [1.0] * 8),
            (4, [float("nan")] * 8),
            (5, [float("inf")] + [1.0] * 7),
            (6, [None] + [1.0] * 7),
            (7, [-1.0] * 8),
        ],
        "vec_id long, embedding array<double>",
    )
    lit_b = _literal_assign(bad, cents)
    fold_b = _assign(bad, cents)
    assert lit_b == fold_b, (lit_b, fold_b)
    assert fold_b[0] is None and fold_b[1] is None and fold_b[2] is None
    assert fold_b[3] is not None


def test_probe_fold_equals_literal(spark):
    """The fold tier's TOP-N ranking (the small-k probe default) is
    row-identical — ordered probe list per query — to the plan-literal
    reference, including exact ties (duplicate centroids → lower id
    first), zero-norm centroids (NULL score slots rank last), NaN-scoring
    centroids (rank FIRST, Spark's NaN-above-everything ordering) and
    malformed query vectors (zero probe rows). The kernel replays the
    reference's float64 left-fold arithmetic, so cell membership of
    every downstream IVF query matches the oracle's replay."""
    from petk_spark.operators.similarity import _probe_frame

    vecs = _pseudo_vecs(120, 8)
    cents = [v for _, v in _pseudo_vecs(5, 8, seed=99)]
    cents.append(list(cents[0]))          # exact duplicate → tie
    cents.append([0.0] * 8)               # zero-norm centroid
    df = spark.createDataFrame(
        vecs + [
            (1000, None),
            (1001, [1.0, 2.0]),
            (1002, [0.0] * 8),
            (1003, [float("nan")] * 8),
            (1004, [float("inf")] + [1.0] * 7),
        ],
        "vec_id long, embedding array<double>",
    )

    lit = {
        r["query_id"]: r["p"]
        for r in df.select(
            F.col("vec_id").alias("query_id"),
            _literal_rank("embedding", cents, 3).alias("p"),
        ).collect()
        if r["p"] is not None
    }
    fold: dict = {}
    for r in _probe_frame(df, cents, 3, "vec_id", "embedding").collect():
        # explode preserves array order per query row
        fold.setdefault(r["query_id"], []).append(r["centroid_id"])
    assert lit == fold and len(lit) == 120
    assert all(len(v) == 3 for v in fold.values())


def _column_signature(vec, planes):
    """Reference hyperplane signature built from Column objects, one
    ``F.lit`` per plane element: the builder the library once had."""
    sig = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        arr = F.array(*[F.lit(float(x)) for x in plane])
        dot = F.aggregate(
            F.zip_with(vec, arr, lambda a, b: a.cast("double") * b),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        sig = sig + F.when(dot >= 0, F.lit(1 << i).cast("long")).otherwise(F.lit(0))
    return sig


def test_lsh_signature_text_equals_column(spark):
    """The SQL-text hyperplane signature (round 16: one parsed
    expression instead of n_planes × dim F.lit py4j round trips) is
    bit-identical to the Column-built reference on every row — the
    literals constant-fold to the same doubles and the fold/compare
    expressions are the same, so LSH bucket ids (and therefore every
    LSH query's candidate sets) are build-path-invariant."""
    from petk_spark.operators.similarity import (
        deterministic_planes,
        hyperplane_signature,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    planes = deterministic_planes(64, 8, seed=42)
    both = emb.select(
        "vec_id",
        hyperplane_signature("embedding", planes).alias("s_text"),
        _column_signature(F.col("embedding"), planes).alias("s_col"),
    ).collect()
    assert both and all(r["s_text"] == r["s_col"] for r in both)


def test_ivf_arrow_plan_bounded_at_512_centroids(spark):
    """At n_centroids=512 the assignment plan must stay O(1) in the
    centroid count: centroids travel as ONE broadcast variable into an
    Arrow-batched projection — no shuffle, no join, no 512-literal
    expression tree (the literal path's plan would be ~40k nodes here
    and Catalyst analysis alone takes longer than the query)."""
    from petk_spark.operators.similarity import cosine_topk_ivf, ivf_assign
    from petk_spark.plans.inspect import exchange_count, executed_plan

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    cents = [v for _, v in _pseudo_vecs(512, 64, seed=3)]

    assign = ivf_assign(emb, cents)
    assign.collect()
    plan = executed_plan(assign)
    assert "ArrowEvalPython" in plan, plan[:1500]
    assert exchange_count(assign) == 0
    assert len(plan) < 20_000, f"plan grew with centroid count: {len(plan)}"

    # end-to-end: the large-centroid path produces ranked neighbors
    queries = emb.filter(F.col("vec_id") < 5)
    out = cosine_topk_ivf(
        emb, queries, "vec_id", "embedding",
        k=5, n_centroids=128, n_probes=32,
    )
    rows = out.collect()
    got = {r["query_id"] for r in rows}
    assert got == {0, 1, 2, 3, 4}
    assert all(1 <= r["rank"] <= 5 for r in rows)


def test_ivf_index_build_query_equals_single_shot(spark, tmp_path):
    """query_ivf_index over a stored index returns row-identical
    results to the single-shot cosine_topk_ivf (same deterministic
    centroid training), and the index read is partition-pruned: the
    probe frame is broadcast and joined on the PARTITION column, so
    the scan carries a dynamic partition pruning filter instead of
    reading all cells."""
    from petk_spark.operators.similarity import (
        build_ivf_index,
        cosine_topk_ivf,
        query_ivf_index,
    )
    from petk_spark.plans.inspect import executed_plan

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 10)
    idx = str(tmp_path / "ivf")

    cents = build_ivf_index(emb, idx, n_centroids=8)
    assert len(cents) == 8

    out = query_ivf_index(spark, idx, queries, k=10, n_probes=2)
    got = sorted(
        (r["query_id"], r["neighbor_id"], r["rank"], round(r["cosine"], 12))
        for r in out.collect()
    )
    want = sorted(
        (r["query_id"], r["neighbor_id"], r["rank"], round(r["cosine"], 12))
        for r in cosine_topk_ivf(
            emb, queries, k=10, n_centroids=8, n_probes=2
        ).collect()
    )
    assert got == want and len(got) > 0

    plan = executed_plan(out)
    assert "dynamicpruning" in plan.lower(), plan[:3000]


def test_ivf_index_append_matches_full_assignment(spark, tmp_path):
    """Building on half the corpus and appending the other half equals
    assigning the FULL corpus with the same stored centroids: query
    results are row-identical to scoring the whole corpus bucketed by
    those centroids (no retraining on append)."""
    from petk_spark.operators.similarity import (
        _probe_frame,
        _score_buckets,
        append_to_ivf_index,
        build_ivf_index,
        ivf_assign,
        load_ivf_centroids,
        query_ivf_index,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    half_a = emb.filter(F.col("vec_id") % 2 == 0)
    half_b = emb.filter(F.col("vec_id") % 2 == 1)
    queries = emb.filter(F.col("vec_id") < 10)
    idx = str(tmp_path / "ivf")

    build_ivf_index(half_a, idx, n_centroids=8)
    append_to_ivf_index(half_b, idx)
    cents = load_ivf_centroids(spark, idx)

    got = sorted(
        (r["query_id"], r["neighbor_id"], r["rank"], round(r["cosine"], 12))
        for r in query_ivf_index(
            spark, idx, queries, k=10, n_probes=2
        ).collect()
    )
    full = ivf_assign(emb, cents).select(
        F.col("id").alias("neighbor_id"),
        F.col("vec").alias("cv"),
        "centroid_id",
    )
    q = _probe_frame(queries, cents, 2, "vec_id", "embedding")
    want = sorted(
        (r["query_id"], r["neighbor_id"], r["rank"], round(r["cosine"], 12))
        for r in _score_buckets(full, q, 10).collect()
    )
    assert got == want and len(got) > 0


def test_compact_ivf_index_folds_generations(spark, tmp_path):
    """After base build + two appends (3 generations), compaction
    folds the index to ONE ingest directory with query results
    row-identical to before; a second call is a no-op."""
    import glob

    from petk_spark.operators.similarity import (
        append_to_ivf_index,
        build_ivf_index,
        compact_ivf_index,
        query_ivf_index,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    thirds = [emb.filter(F.col("vec_id") % 3 == r) for r in range(3)]
    queries = emb.filter(F.col("vec_id") < 10)
    idx = str(tmp_path / "ivf")

    build_ivf_index(thirds[0], idx, n_centroids=8)
    assert append_to_ivf_index(thirds[1], idx) == "batch-0"
    assert append_to_ivf_index(thirds[2], idx) == "batch-1"
    assert len(glob.glob(f"{idx}/ingest=*")) == 3

    def result():
        return sorted(
            (r["query_id"], r["neighbor_id"], r["rank"],
             round(r["cosine"], 12))
            for r in query_ivf_index(
                spark, idx, queries, k=10, n_probes=2
            ).collect()
        )

    before = result()
    assert compact_ivf_index(spark, idx) == 3
    assert glob.glob(f"{idx}/ingest=*") == [f"{idx}/ingest=base"]
    assert not glob.glob(f"{idx}/_compact_tmp")
    assert result() == before and len(before) > 0
    assert compact_ivf_index(spark, idx) == 0


def test_ivf_arrow_path_recall_floor(spark):
    """Recall contract for the LARGE-centroid (broadcast-numpy Arrow)
    path, mirroring test_ivf_recall_floor's literal-path pins. On the
    near-isotropic fixture (IVF's worst case) the deterministic
    measurements are recall@10 = 0.670 at (128 centroids, 16 probes)
    and 0.865 at (128, 32); pinned at floor-with-margin plus
    probing-more-helps monotonicity."""
    from petk_spark.operators.similarity import cosine_topk, cosine_topk_ivf

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 20)
    exact = cosine_topk(emb, queries, "vec_id", "embedding", k=10)
    truth: dict[int, set] = {}
    for r in exact.collect():
        truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    total = sum(len(v) for v in truth.values())

    def recall(n_probes: int) -> float:
        approx = cosine_topk_ivf(
            emb, queries, "vec_id", "embedding",
            k=10, n_centroids=128, n_probes=n_probes,
        )
        got: dict[int, set] = {}
        for r in approx.collect():
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return sum(len(truth[q] & got.get(q, set())) for q in truth) / total

    r16, r32 = recall(16), recall(32)
    assert r16 >= 0.55, f"recall@10(128,16) = {r16:.3f} below pinned floor"
    assert r32 >= max(0.75, r16 + 0.1), f"{r16:.3f} -> {r32:.3f}"


def test_ivf_paths_share_one_contract_on_malformed_and_ties(spark, monkeypatch):
    """Round-7 advisory: the fold and matmul tiers share ONE contract
    with the plan-literal reference — malformed vectors (NULL / ragged /
    zero-norm / NaN / ±Inf) get NULL assignments and exact score ties
    break toward the LOWER centroid id — so the same inputs bucket
    identically on either side of the 64-centroid gate, no carve-outs.
    The Inf rows pin round-7 verdict #4: sumsq of an Inf vector is +Inf
    (> 0, not NaN), which used to slip past the well-formedness gate
    into a garbage-score path the strategies could bucket differently.
    The gate set to 0 forces the matmul tier at 5 centroids."""
    from petk_spark.operators import similarity as sim
    from petk_spark.operators.similarity import _probe_frame

    cents = [v for _, v in _pseudo_vecs(5, 8, seed=99)]
    inf = float("inf")
    bad = spark.createDataFrame(
        [
            (0, None),
            (1, [1.0, 2.0]),
            (2, [0.0] * 8),
            (3, [1.0] * 8),
            (4, [float("nan")] * 8),
            (5, [inf] * 8),
            (6, [1.0] * 7 + [-inf]),
        ],
        "vec_id long, embedding array<double>",
    )
    lit = _literal_assign(bad, cents)
    assert lit[0] is None and lit[1] is None
    assert lit[2] is None and lit[4] is None
    assert lit[5] is None and lit[6] is None
    assert lit[3] is not None

    dup = [cents[0], cents[0], cents[1]]
    one = spark.createDataFrame(
        [(0, cents[0])], "vec_id long, embedding array<double>"
    )
    qbad = spark.createDataFrame(
        [(7, [1.0, 2.0])], "vec_id long, embedding array<double>"
    )
    qinf = spark.createDataFrame(
        [(8, [inf] * 8)], "vec_id long, embedding array<double>"
    )
    for tier, gate in (("fold", sim._IVF_FOLD_MAX), ("matmul", 0)):
        monkeypatch.setattr(sim, "_IVF_FOLD_MAX", gate)
        assert _assign(bad, cents) == lit, tier
        # exact tie (duplicated centroid): the LOWER id wins
        assert _assign(one, dup) == {0: 0}, tier
        # probe frame: a malformed query explodes to ZERO probe rows,
        # and tied cells probe lowest-id-first
        assert _probe_frame(qbad, cents, 2, "vec_id", "embedding").count() == 0
        assert _probe_frame(qinf, cents, 2, "vec_id", "embedding").count() == 0
        probes = [
            r["centroid_id"]
            for r in _probe_frame(one, dup, 2, "vec_id", "embedding").collect()
        ]
        assert probes == [0, 1], tier


@pytest.mark.parametrize("n_cents", [8, 70])
def test_ranked_centroids_malformed_rows_equal_literal(spark, n_cents):
    """Both ranking tiers — chosen by centroid count, fold at ≤ 64 and
    matmul above — return the reference's top-3 list row for row on a
    frame mixing well-formed vectors with every malformed kind: NULL,
    ragged, empty, all-zero, a NULL element, ±Inf and NaN rows all
    rank NULL, across several Arrow batches."""
    from petk_spark.operators.similarity import _ranked_centroids

    inf, nan = float("inf"), float("nan")
    cents = [v for _, v in _pseudo_vecs(n_cents, 8, seed=99)]
    bad = [
        None, [1.0, 2.0], [], [0.0] * 8, [None] + [1.0] * 7,
        [inf] + [1.0] * 7, [1.0] * 7 + [-inf], [nan] * 8,
    ]
    rows = [
        (i, bad[i // 3 % len(bad)] if i % 3 == 0 else v)
        for i, v in _pseudo_vecs(96, 8)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).repartition(3)
    got = {
        r["vec_id"]: (r["lit"], r["kern"])
        for r in df.select(
            "vec_id",
            _literal_rank("embedding", cents, 3).alias("lit"),
            _ranked_centroids(spark, F.col("embedding"), cents, 3).alias("kern"),
        ).collect()
    }
    assert all(lit == kern for lit, kern in got.values()), got
    assert sum(lit is None for lit, _ in got.values()) == 32
    assert all(len(lit) == 3 for lit, _ in got.values() if lit is not None)


def test_ivf_append_tolerates_pinned_non_numeric_generation(spark, tmp_path):
    """Round-7 advisory: a caller-pinned non-numeric generation (e.g.
    'batch-hotfix') must not break later auto-numbered appends — only
    decimal suffixes participate in the numbering."""
    from petk_spark.operators.similarity import (
        append_to_ivf_index,
        build_ivf_index,
        query_ivf_index,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    idx = str(tmp_path / "ivf")
    build_ivf_index(emb.filter(F.col("vec_id") < 80), idx, n_centroids=4)
    append_to_ivf_index(
        emb.filter((F.col("vec_id") >= 80) & (F.col("vec_id") < 90)),
        idx,
        generation="batch-hotfix",
    )
    # was ValueError before the isdigit guard
    g1 = append_to_ivf_index(
        emb.filter((F.col("vec_id") >= 90) & (F.col("vec_id") < 100)), idx
    )
    g2 = append_to_ivf_index(
        emb.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 110)), idx
    )
    assert (g1, g2) == ("batch-0", "batch-1")
    # every generation's vectors are queryable
    qs = emb.filter(F.col("vec_id") < 3)
    seen = {
        r["neighbor_id"]
        for r in query_ivf_index(
            spark, idx, qs, k=200, n_probes=4
        ).collect()
    }
    assert seen & set(range(80, 90)), "pinned generation missing"
    assert seen & set(range(90, 110)), "auto generations missing"


def test_centroid_broadcast_cached_and_bounded(spark):
    """Round-7 advisory: repeated query batches over the same centroid
    list reuse ONE broadcast (no per-call leak); the cache is bounded
    and evicts oldest-first."""
    from petk_spark.operators import similarity as sim

    sim._CENTROID_BC_CACHE.clear()
    cents = [[1.0, 0.0], [0.0, 1.0]]
    b1 = sim._centroid_broadcast(spark, cents)
    b2 = sim._centroid_broadcast(spark, cents)
    assert b1 is b2
    for i in range(sim._CENTROID_BC_CACHE_MAX + 3):
        sim._centroid_broadcast(spark, [[float(i + 2), 1.0]])
    assert len(sim._CENTROID_BC_CACHE) <= sim._CENTROID_BC_CACHE_MAX
    # the original entry was evicted (oldest-first), its value re-usable
    b3 = sim._centroid_broadcast(spark, cents)
    assert b3 is not b1


def test_one_broadcast_per_centroid_list(spark, tmp_path, monkeypatch):
    """Assignment, probing and the health cell score all read ONE
    cached centroid payload: repeated calls over one centroid list
    broadcast it exactly once."""
    from pyspark import SparkContext

    from petk_spark.operators import similarity as sim

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 10)
    idx = str(tmp_path / "ivf")
    cents = sim.build_ivf_index(emb, idx, n_centroids=8)
    assert len(cents) == 8

    sim._CENTROID_BC_CACHE.clear()
    calls = []
    real = SparkContext.broadcast

    def counting(self, value):
        calls.append(1)
        return real(self, value)

    monkeypatch.setattr(SparkContext, "broadcast", counting)
    for _ in range(3):
        sim.ivf_assign(emb, cents).collect()
    for _ in range(2):
        sim._probe_frame(queries, cents, 2, "vec_id", "embedding").collect()
    sim.ivf_index_health(spark, idx).collect()
    assert len(calls) == 1, len(calls)


@pytest.mark.parametrize("n_cents", [8, 70])
def test_cell_score_matches_numpy_cosine(spark, n_cents):
    """The health cell score (one Arrow gather-and-dot on both sides of
    the 64-centroid gate) equals numpy cosine against the row's given
    centroid within 1e-12, and members of a zero-norm centroid score
    NULL (the try_divide contract)."""
    import numpy as np

    from petk_spark.operators.similarity import _cell_score_col

    cents = [v for _, v in _pseudo_vecs(n_cents, 8, seed=99)]
    cents[-1] = [0.0] * 8                 # zero-norm centroid
    rows = [
        (i, v, i % n_cents) for i, v in _pseudo_vecs(200, 8)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, cv array<double>, centroid_id int"
    )
    got = {
        r["vec_id"]: r["s"]
        for r in df.select(
            "vec_id",
            _cell_score_col(
                spark, cents, F.col("cv"), F.col("centroid_id")
            ).alias("s"),
        ).collect()
    }
    C = np.asarray(cents)
    for i, v, c in rows:
        if c == n_cents - 1:
            assert got[i] is None, (i, got[i])
            continue
        x = np.asarray(v)
        want = float(x @ C[c] / (np.linalg.norm(x) * np.linalg.norm(C[c])))
        assert abs(got[i] - want) < 1e-12, (i, got[i], want)


def test_ivf_index_health_flags_drift(spark, tmp_path):
    """Round-6 verdict #3: ivf_index_health is the measured rebuild
    trigger. A fresh build reports healthy cells (score_drop ≈ 0, no
    flags); appending vectors from a shifted distribution (negated —
    maximally far from every trained centroid) drags the per-cell mean
    assignment score down and flips needs_rebuild."""
    from petk_spark.operators.similarity import (
        append_to_ivf_index,
        build_ivf_index,
        ivf_index_health,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    base = emb.filter(F.col("vec_id") < 200)
    idx = str(tmp_path / "ivf")
    build_ivf_index(base, idx, n_centroids=4)

    healthy = ivf_index_health(spark, idx).collect()
    assert len(healthy) >= 1
    for r in healthy:
        assert not r["needs_rebuild"], r
        assert abs(r["score_drop"]) < 1e-9, r
        assert r["n_now"] == r["n_base"]

    # drifted appends: negate the vectors (cosine to every centroid
    # flips sign — the worst possible fit for the trained cells)
    shifted = emb.filter(
        (F.col("vec_id") >= 200) & (F.col("vec_id") < 400)
    ).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: -x).alias("embedding"),
    )
    append_to_ivf_index(shifted, idx)

    drifted = {r["centroid_id"]: r for r in ivf_index_health(spark, idx).collect()}
    assert any(r["needs_rebuild"] for r in drifted.values()), drifted
    flagged = [r for r in drifted.values() if r["needs_rebuild"]]
    assert all(
        r["score_drop"] > 0.05
        or r["share_now"] > 2.0 * r["share_base"]
        for r in flagged
    )


def test_ivf_health_share_floor_ignores_stray_rows(spark, tmp_path):
    """Round-7 advisory: a cell EMPTY at build time has share_base = 0,
    so the share-growth condition alone used to flag needs_rebuild the
    moment ONE appended vector landed in it — one stray row
    recommending a full index rebuild. The min_flag_share floor
    (default 1% of the corpus) absorbs strays; min_flag_share=0.0
    restores the old hair-trigger for contrast."""
    import json

    from petk_spark.operators.similarity import (
        _write_ivf_generation,
        ivf_index_health,
        write_ivf_health_base,
    )

    cents = [[1.0, 0.0], [0.0, 1.0]]
    corpus = spark.createDataFrame(
        [(i, [1.0, 0.001 * (i % 7)]) for i in range(500)],
        "vec_id long, embedding array<double>",
    )
    idx = str(tmp_path / "ivf")
    # hand-built index: every base vector lands in cell 0, so the
    # health base snapshot has NO row for cell 1 (share_base = 0)
    _write_ivf_generation(corpus, cents, idx, "base", "vec_id", "embedding")
    spark.createDataFrame(
        [(json.dumps(cents),)], "v string"
    ).coalesce(1).write.mode("overwrite").text(f"{idx}/_ivf_centroids")
    write_ivf_health_base(spark, idx)

    stray = spark.createDataFrame(
        [(1000, [0.0, 1.0]), (1001, [0.01, 1.0])],
        "vec_id long, embedding array<double>",
    )
    _write_ivf_generation(stray, cents, idx, "batch-0", "vec_id", "embedding")

    by_cell = {
        r["centroid_id"]: r for r in ivf_index_health(spark, idx).collect()
    }
    assert by_cell[1]["n_base"] == 0 and by_cell[1]["n_now"] == 2
    # 2/502 ≈ 0.4% < the 1% floor: share growth alone must not flag
    assert not any(r["needs_rebuild"] for r in by_cell.values()), by_cell
    # the floor is what protects it: at 0.0 the old hair-trigger fires
    hair = {
        r["centroid_id"]: r
        for r in ivf_index_health(spark, idx, min_flag_share=0.0).collect()
    }
    assert hair[1]["needs_rebuild"] and not hair[0]["needs_rebuild"]


def test_rebuild_purges_stale_generations(spark, tmp_path):
    """Round-8 advisory (medium): build_ivf_index at an existing path
    must purge stale ingest=batch-* generations. An in-place rebuild
    that kept them would leave appended rows sitting in centroid_id
    partitions assigned under the OLD centroids (silent recall loss on
    every pruned query) and write_ivf_health_base would snapshot the
    polluted whole-path stats as the new baseline."""
    import glob

    from petk_spark.operators.similarity import (
        append_to_ivf_index,
        build_ivf_index,
        ivf_index_health,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    idx = str(tmp_path / "ivf")
    build_ivf_index(emb.filter(F.col("vec_id") < 100), idx, n_centroids=4)
    append_to_ivf_index(
        emb.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 150)), idx
    )
    assert glob.glob(f"{idx}/ingest=batch-*")

    # rebuild on the FULL corpus: stale generations purged, the index
    # holds exactly the rebuild corpus, fresh health base = zero drift
    full = emb.filter(F.col("vec_id") < 150)
    build_ivf_index(full, idx, n_centroids=4)
    assert not glob.glob(f"{idx}/ingest=batch-*")
    assert spark.read.parquet(idx).count() == full.count()
    for r in ivf_index_health(spark, idx).collect():
        assert not r["needs_rebuild"], r


def test_ivf_index_health_arrow_path(spark, tmp_path):
    """The health scorer's Arrow branch (>64 centroids) agrees with the
    literal branch's semantics: a fresh 80-centroid build reports zero
    drift and no flags."""
    from petk_spark.operators.similarity import build_ivf_index, ivf_index_health

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    idx = str(tmp_path / "ivf80")
    build_ivf_index(emb, idx, n_centroids=80)
    rows = ivf_index_health(spark, idx).collect()
    assert len(rows) >= 40
    for r in rows:
        assert not r["needs_rebuild"], r
        assert r["score_drop"] is None or abs(r["score_drop"]) < 1e-9


def test_ivf_health_floor_scales_with_index(spark, tmp_path):
    """Round-8 advisory (medium): cell shares go as ~1/n_centroids, so
    the old fixed 1% floor silently disabled the share-growth rule for
    every typical cell once n_centroids ≥ ~100. The default floor now
    scales as min(0.01, 0.5/n_centroids): a cell with genuine 5×
    absorbing-cell growth at 0.8% corpus share flags under the scaled
    default but is invisible under an explicit 0.01 (the old
    behavior), while the stray-single-row guard still holds."""
    import json

    from petk_spark.operators.similarity import (
        _write_ivf_generation,
        ivf_index_health,
        write_ivf_health_base,
    )

    n_cells, dim = 125, 125
    cents = [
        [1.0 if j == i else 0.0 for j in range(dim)]
        for i in range(n_cells)
    ]

    def one_hot(k):
        return [1.0 if j == k else 0.0 for j in range(dim)]

    # base: 10 rows per cell except cell 7 (2 rows) → share_base 0.16%
    rows, vid = [], 0
    for c in range(n_cells):
        for _ in range(2 if c == 7 else 10):
            rows.append((vid, one_hot(c)))
            vid += 1
    corpus = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    idx = str(tmp_path / "ivf125")
    _write_ivf_generation(corpus, cents, idx, "base", "vec_id", "embedding")
    spark.createDataFrame(
        [(json.dumps(cents),)], "v string"
    ).coalesce(1).write.mode("overwrite").text(f"{idx}/_ivf_centroids")
    write_ivf_health_base(spark, idx)

    # drift: cell 7 absorbs 8 more rows → n_now 10, share_now ≈ 0.8%,
    # 5× its base share; perfect self-score so the score rule is silent
    extra = spark.createDataFrame(
        [(100000 + i, one_hot(7)) for i in range(8)],
        "vec_id long, embedding array<double>",
    )
    _write_ivf_generation(extra, cents, idx, "batch-0", "vec_id", "embedding")

    scaled = {
        r["centroid_id"]: r for r in ivf_index_health(spark, idx).collect()
    }
    assert scaled[7]["needs_rebuild"], scaled[7]
    assert sum(r["needs_rebuild"] for r in scaled.values()) == 1
    # the old fixed floor never sees it: share_now < 1%
    fixed = {
        r["centroid_id"]: r
        for r in ivf_index_health(spark, idx, min_flag_share=0.01).collect()
    }
    assert not fixed[7]["needs_rebuild"]


def test_rebuild_is_lock_protected_atomic_swap(spark, tmp_path):
    """Round-8 advisory (medium): the rebuild's purge+write rides the
    shared write-ahead-manifest swap. A concurrent writer's lock makes
    build_ivf_index (and append_to_ivf_index) fail LOUDLY with the
    index untouched; a successful rebuild leaves no lock, no temp, no
    manifest, and exactly one generation."""
    import glob

    import pytest

    from petk_spark.operators.similarity import (
        append_to_ivf_index,
        build_ivf_index,
        query_ivf_index,
    )
    from petk_spark.sources import swap

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    idx = str(tmp_path / "ivf")
    build_ivf_index(emb.filter(F.col("vec_id") < 100), idx, n_centroids=4)
    before = spark.read.parquet(idx).count()

    swap.acquire_lock(spark, idx)  # a rival writer holds the fold lock
    try:
        with pytest.raises(swap.FoldInProgressError):
            build_ivf_index(
                emb.filter(F.col("vec_id") < 150), idx, n_centroids=4
            )
        with pytest.raises(swap.FoldInProgressError):
            append_to_ivf_index(
                emb.filter(F.col("vec_id") >= 150).limit(10), idx
            )
    finally:
        swap.release_lock(spark, idx)
    # loud failure, zero mutation
    assert spark.read.parquet(idx).count() == before

    # successful rebuild: clean root, single generation, queryable
    build_ivf_index(emb.filter(F.col("vec_id") < 150), idx, n_centroids=4)
    names = {p.split("/")[-1] for p in glob.glob(f"{idx}/*")}
    assert not {
        swap.LOCK_NAME, swap.TMP_NAME, swap.MANIFEST_NAME
    } & names, names
    assert [n for n in names if n.startswith("ingest=")] == ["ingest=base"]
    probe = emb.filter(F.col("vec_id") < 5)
    assert query_ivf_index(spark, idx, probe, k=3).count() > 0


def test_read_xml_native(spark, tmp_path):
    """Spark 4's native xml source through the reader contract:
    explicit schema skips inference; null canonicalization applies on
    top; attribute + element fields both land."""
    from petk_spark.sources.readers import read_xml

    p = tmp_path / "cat.xml"
    p.write_text(
        "<catalog>"
        "<item id=\"1\"><name>widget</name><price>9.5</price></item>"
        "<item id=\"2\"><name>null</name><price>3.25</price></item>"
        "<item id=\"3\"><name>gadget</name></item>"
        "</catalog>"
    )
    back = read_xml(
        spark, str(p), row_tag="item",
        struct="_id long, name string, price double",
        schema={"name": {"nulls": []}},
    )
    rows = {r["_id"]: r for r in back.collect()}
    assert len(rows) == 3
    assert rows[1]["name"] == "widget" and rows[1]["price"] == 9.5
    # canonicalize_nulls folds the 'null' sentinel string to NULL
    assert rows[2]["name"] is None
    # missing element under explicit schema -> NULL, not a crash
    assert rows[3]["price"] is None


# ---------------------------------------------------------------------------
# retrain_ivf_index — round 12 (r11 verdict #3): kmeans_fit wired to
# the index lifecycle
# ---------------------------------------------------------------------------


def test_retrain_ivf_index_matches_fresh_build(spark, tmp_path):
    """Retraining a drifted index (base + append) equals, row for row:
    (a) centroids — the F49 distributed kmeans_fit on the index's own
    full corpus warm-started from the stored model; (b) queries — a
    FRESH index built with those exact centroids (build's new explicit
    ``centroids=`` seam). Also pins the lifecycle bookkeeping: every
    stale generation folded into one base, the sidecar rewritten, and
    the health baseline re-snapshotted (zero flags, n_now == n_base
    immediately after retrain)."""
    from petk_spark.operators.clustering import kmeans_fit
    from petk_spark.operators.similarity import (
        append_to_ivf_index,
        build_ivf_index,
        ivf_index_health,
        load_ivf_centroids,
        query_ivf_index,
        retrain_ivf_index,
    )
    from petk_spark.sources import swap

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    half_a = emb.filter(F.col("vec_id") % 2 == 0)
    half_b = emb.filter(F.col("vec_id") % 2 == 1)
    queries = emb.filter(F.col("vec_id") < 10)
    idx = str(tmp_path / "ivf")

    build_ivf_index(half_a, idx, n_centroids=8)
    append_to_ivf_index(half_b, idx)
    before = load_ivf_centroids(spark, idx)

    cents, info = retrain_ivf_index(spark, idx)

    # (a) centroid parity with a standalone kmeans_fit on the same
    # corpus and warm start — same rounding contract, same iterations
    want_cents, want_info = kmeans_fit(
        emb, 8, id_col="vec_id", vec_col="embedding",
        iterations=2, init=before, round_decimals=6,
    )
    assert cents == want_cents
    assert info["n_assigned"] == want_info["n_assigned"] > 0

    # (b) query parity with a fresh index built from the SAME corpus
    # with the retrained centroids verbatim
    idx2 = str(tmp_path / "ivf_fresh")
    build_ivf_index(emb, idx2, n_centroids=8, centroids=cents)

    def rows(p):
        return sorted(
            (r["query_id"], r["neighbor_id"], r["rank"],
             round(r["cosine"], 12))
            for r in query_ivf_index(
                spark, p, queries, k=10, n_probes=2
            ).collect()
        )

    got = rows(idx)
    assert got == rows(idx2) and len(got) > 0

    # lifecycle bookkeeping: one generation, sidecar = retrained model,
    # health re-baselined (nothing flags on a just-retrained index)
    assert swap.list_children(spark, idx, "ingest=") == ["ingest=base"]
    assert load_ivf_centroids(spark, idx) == cents
    health = ivf_index_health(spark, idx).collect()
    assert all(not r["needs_rebuild"] for r in health)
    assert all(r["n_now"] == r["n_base"] for r in health)


def test_retrain_ivf_index_k_growth_reinit(spark, tmp_path):
    """Growing k at retrain re-inits deterministically (warm-starting a
    k-change is ill-posed) and the index keeps serving queries from the
    larger cell grid."""
    from petk_spark.operators.similarity import (
        build_ivf_index,
        load_ivf_centroids,
        query_ivf_index,
        retrain_ivf_index,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    idx = str(tmp_path / "ivf")
    build_ivf_index(emb, idx, n_centroids=4)
    cents, info = retrain_ivf_index(spark, idx, k=8)
    assert len(cents) == 8
    assert load_ivf_centroids(spark, idx) == cents
    got = query_ivf_index(
        spark, idx, emb.filter(F.col("vec_id") < 5), k=5, n_probes=2
    ).collect()
    assert len(got) > 0


def test_retrain_ivf_index_concurrent_writer_errors_loudly(spark, tmp_path):
    """Retrain is a WRITER under the shared fold lock: a concurrent
    holder turns it into FoldInProgressError, never silent pollution —
    the same single-writer contract as build/append/compact."""
    from petk_spark.operators.similarity import (
        build_ivf_index,
        retrain_ivf_index,
    )
    from petk_spark.sources import swap

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    idx = str(tmp_path / "ivf")
    build_ivf_index(emb, idx, n_centroids=4)
    tok = swap.acquire_lock(spark, idx)
    try:
        with pytest.raises(swap.FoldInProgressError):
            retrain_ivf_index(spark, idx)
    finally:
        swap.release_lock(spark, idx, tok)
    # lock released: the retrain goes through
    cents, _ = retrain_ivf_index(spark, idx)
    assert len(cents) == 4


def test_retrain_update_plan_constant_in_dim(spark, tmp_path):
    """The verdict's plan pin: retrain's update stage over the
    INDEX-READ frame (neighbor_id/cv, partition-discovered parquet) has
    the same O(1)-in-dim shape as kmeans_fit's — posexplode into ONE
    sum and ONE count, no element_at fan-out — so a 2048-dim embedding
    column retrains with the same plan width as a 4-dim one."""
    from petk_spark.operators.clustering import _centroid_stats
    from petk_spark.operators.similarity import (
        build_ivf_index,
        ivf_assign,
        load_ivf_centroids,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    idx = str(tmp_path / "ivf")
    build_ivf_index(emb, idx, n_centroids=4)
    corpus = spark.read.parquet(idx).select("neighbor_id", "cv")
    stats = _centroid_stats(
        ivf_assign(
            corpus, load_ivf_centroids(spark, idx),
            id_col="neighbor_id", vec_col="cv",
        )
    )
    plan = stats._jdf.queryExecution().optimizedPlan().toString()
    assert "element_at" not in plan
    assert plan.count("sum(") == 1, plan.count("sum(")
    assert plan.count("count(") == 1


def test_maybe_retrain_ivf_index_decision_arms(spark, tmp_path):
    """The maintenance tick's three arms: a fresh index → 'none'
    (read-only); an absorbing-cell drift (table-sized pile of one
    vector appended) → 'retrained' with the flagged cell reported and
    the health baseline reset so the NEXT tick is quiet; a quiet index
    with too many generations → 'compacted' (pure rewrite, one
    directory after)."""
    from petk_spark.operators.similarity import (
        append_to_ivf_index,
        build_ivf_index,
        maybe_retrain_ivf_index,
    )
    from petk_spark.sources import swap

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    idx = str(tmp_path / "ivf")
    build_ivf_index(emb, idx, n_centroids=4)

    out = maybe_retrain_ivf_index(spark, idx)
    assert out["action"] == "none" and out["flagged"] == []
    assert out["generations"] == 1

    # absorbing-cell drift: one copy of vector 0 per existing row
    pile = (
        emb.select((F.col("vec_id") + 10_000_000).alias("vec_id"))
        .crossJoin(
            F.broadcast(
                emb.filter(F.col("vec_id") == 0).select(
                    F.col("embedding").alias("e")
                )
            )
        )
        .select("vec_id", F.col("e").alias("embedding"))
    )
    append_to_ivf_index(pile, idx)
    out = maybe_retrain_ivf_index(spark, idx)
    assert out["action"] == "retrained" and out["flagged"], out
    # retrain folded generations and re-baselined health: quiet now
    assert swap.list_children(spark, idx, "ingest=") == ["ingest=base"]
    out2 = maybe_retrain_ivf_index(spark, idx)
    assert out2["action"] == "none", out2

    # generation-count hygiene on a QUIET index: uniform whole-corpus
    # appends (every cell grows alike, mean scores unchanged — the
    # health docstring's flag-nothing case), just directories pile up
    idx2 = str(tmp_path / "ivf2")
    build_ivf_index(emb, idx2, n_centroids=4)
    for m in range(1, 5):
        append_to_ivf_index(
            emb.select(
                (F.col("vec_id") + 1_000_000 * m).alias("vec_id"),
                "embedding",
            ),
            idx2,
        )
    out3 = maybe_retrain_ivf_index(spark, idx2, max_generations=3)
    assert out3["action"] == "compacted" and out3["generations"] == 5, out3
    assert swap.list_children(spark, idx2, "ingest=") == ["ingest=base"]
