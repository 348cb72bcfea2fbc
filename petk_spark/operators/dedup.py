"""Deduplication operators (SURVEY §2.F1/F2 + LLM-pipeline extensions).

Beyond-reference surface (the reference has no dedup — absence noted in
SURVEY §2.F): exact duplicate detection, n-gram Jaccard near-dup,
MinHash+LSH near-dup, SimHash near-dup, and embedding-cosine near-dup.

Scale design:
  * exact dedup is a hash-partition groupBy on the dup key — fully
    parallel, map-side partial aggregation, no driver involvement.
  * n-gram Jaccard is exact: explode distinct shingles → self-join on
    shingle → pair-count → filter |A∩B|/(|A|+|B|-|A∩B|) ≥ t. The
    shingle join is the scale bottleneck (hot shingles fan out), so
    `max_shingle_freq` drops stop-shingles (document frequency cap) —
    the standard guard that keeps the join linear-ish at 100 TB.
  * MinHash+LSH replaces the exact join's quadratic worst case with
    banded bucketing: k universal-hash permutations of an md5-derived
    base hash (engine-portable, so the full pipeline is oracle-checked),
    min per doc per function, b bands of r rows, candidate pairs = equal
    band signature, then exact-Jaccard verification of candidates only.
    One Arrow kernel per document emits its shingle array and
    signature; the band self-join (filter) and the shingle-array
    intersection (refine) are built-in expressions — no shingle shuffle.
  * SimHash: 64-bit fingerprints from token hashes, near-dup = Hamming
    distance ≤ d on block-partitioned candidates (pigeonhole: split the
    64 bits into d+1 blocks; equal pairs must share one block).
  * embedding cosine: exact pairwise above a threshold via a broadcast
    BLAS filter refined by the one exact cosine kernel
    (``similarity.cosine_col``); LSH (random hyperplane) variant for
    scale, verified by the same kernel.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pandas as pd
import pyarrow as pa

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from petk_spark.operators.similarity import (
    _assigned_rows,
    _fold_cosine,
    _lfold,
    _vectors,
    cosine_col,
    deterministic_planes,
    hyperplane_signature,
    sample_centroids,
)
from petk_spark.operators.text import _base_hash, _words


# ---------------------------------------------------------------------------
# F1 — exact duplicates
# ---------------------------------------------------------------------------

def duplicate_report(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Groups with more than one occurrence of the key columns.

    Returns (``*cols``, n_dup). One shuffle on the dup key with map-side
    partial counts; output is only the duplicated groups (tiny).
    """
    cols = cols or df.columns
    return (
        df.groupBy(*cols)
        .agg(F.count(F.lit(1)).alias("n_dup"))
        .filter(F.col("n_dup") > 1)
    )


def drop_exact_duplicates(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Spark-native exact dedup (keeps an arbitrary row per group)."""
    return df.dropDuplicates(cols or df.columns)


def dedup_first_by(df: DataFrame, key_cols: list[str], order_col: str) -> DataFrame:
    """Deterministic exact dedup: keep the minimum ``order_col`` row per
    key group (row_number window — one shuffle on the key)."""
    w = Window.partitionBy(*key_cols).orderBy(F.col(order_col).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


# ---------------------------------------------------------------------------
# Tokenization / shingling (shared by Jaccard, MinHash, SimHash)
# ---------------------------------------------------------------------------

def _doc_shingles(t: str, n: int) -> list[str]:
    """Distinct word n-gram shingles (space-joined) of ``t`` in
    first-seen order; ``[]`` for fewer than ``n`` tokens. Tokens are
    :func:`text._words` of Python's ``str.lower()``."""
    toks = _words(t.lower())
    return list(
        dict.fromkeys(" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1))
    )


def _shingles(text: Column, n: int) -> Column:
    """Distinct word n-gram shingles (:func:`_doc_shingles`) of ``text``.

    Arrow-batched pandas UDF. A pure-expression version (sequence +
    transform + slice + concat_ws HOFs) computes the same arrays but
    higher-order functions are CodegenFallback — interpreted per
    element — and measured 3× slower at sf0.1 (6.2 s vs 2.0 s for the
    exploded frame). Tokenization matches the oracle's DuckDB CTE
    (``regexp_split_to_array(lower(text), '\\s+')``)."""
    from pyspark.sql.types import ArrayType, StringType

    @F.pandas_udf(ArrayType(StringType()))
    def u(texts: pd.Series) -> pd.Series:
        return texts.map(lambda t: None if t is None else _doc_shingles(t, n))

    return u(text)


def shingle_frame(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """(id, shingle) exploded long frame — the dedup building block."""
    return df.select(
        F.col(id_col).alias("id"),
        F.explode(_shingles(F.col(text_col), n)).alias("shingle"),
    )


# ---------------------------------------------------------------------------
# F2a — exact n-gram Jaccard near-dup
# ---------------------------------------------------------------------------

def jaccard_near_dup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_freq: int | None = None,
    persist: bool = True,
) -> DataFrame:
    """Exact Jaccard-similar pairs: (id_a, id_b, jaccard) with
    ``id_a < id_b`` and jaccard ≥ threshold.

    jaccard is an integer ratio (|A∩B| over |A∪B|), so the value is
    bit-identical across engines — safe for hash-matching oracles.

    Caching: the shingle frame is ``.persist()``-ed (it feeds 2-3 plan
    branches; see inline note) and stays cached until Spark's
    ContextCleaner or LRU eviction reclaims it — there is deliberately
    no eager unpersist, because the returned frame is lazy and an
    unpersist-on-return would defeat the cache before the caller ever
    executes it. A long-lived session invoking this many times can pass
    ``persist=False`` (or call ``spark.catalog.clearCache()`` between
    invocations) to trade recompute for cache pressure.
    """
    sh = shingle_frame(df, id_col, text_col, n)
    # The shingle frame feeds the union-size aggregate AND the
    # singleton-pruned self-join (plus the optional frequency-cap
    # branch) — unshared subtrees that Catalyst recomputes per branch,
    # re-running the pandas-UDF tokenizer over the raw corpus 2-3×
    # (the same branch-recompute class measured on hamming_near_dup's
    # signature frame, fixed the same way). MEMORY_AND_DISK: spills
    # instead of recomputing.
    if persist and not df.isStreaming:
        sh = sh.persist()
    if max_shingle_freq is not None:
        freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df_"))
        keep = freq.filter(F.col("df_") <= max_shingle_freq).select("shingle")
        sh = sh.join(F.broadcast(keep), "shingle")

    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))

    # Singleton shingles (document frequency 1) can never produce a
    # pair but dominate the join input (~90% of shingle instances at
    # sf0.1); a per-shingle count window drops them before the
    # self-join. Union sizes (n_sh) keep the FULL shingle sets, so
    # jaccard values are unchanged — this is a pure join-input pruning.
    w_df = Window.partitionBy("shingle")
    sh_pair = (
        sh.withColumn("__df", F.count(F.lit(1)).over(w_df))
        .filter(F.col("__df") >= 2)
        .drop("__df")
    )

    a = sh_pair.alias("a")
    b = sh_pair.alias("b")
    pairs = (
        a.join(b, "shingle")
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    out = (
        pairs.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n_sh", "sh_a"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n_sh", "sh_b"), "id_b")
        .withColumn(
            "jaccard",
            F.col("n_common")
            / (F.col("sh_a") + F.col("sh_b") - F.col("n_common")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


def fingerprint_overlap(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 8,
    min_common: int = 2,
) -> DataFrame:
    """Partial-overlap / contamination detection: ``(id_a, id_b,
    n_common)`` pairs of documents sharing at least ``min_common``
    distinct rolling ``window``-token fingerprints
    (text.rolling_fingerprints — engine-portable md5-derived hashes, so
    the pair set is oracle-checkable).

    This is the train/test-contamination primitive: long verbatim spans
    surface as runs of shared window fingerprints even when whole-doc
    similarity (Jaccard/MinHash) is low. Scale shape mirrors
    jaccard_near_dup: explode distinct fingerprints, drop singleton
    fingerprints (document frequency 1 can never pair) before the
    self-join, count per pair — one shuffle on the 8-byte fingerprint."""
    from petk_spark.operators.text import rolling_fingerprints

    fps = df.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.array_distinct(rolling_fingerprints(F.col(text_col), window))
        ).alias("fp"),
    )
    w_df = Window.partitionBy("fp")
    fp2 = (
        fps.withColumn("__df", F.count(F.lit(1)).over(w_df))
        .filter(F.col("__df") >= 2)
        .drop("__df")
    )
    a = fp2.alias("a")
    b = fp2.alias("b")
    return (
        a.join(b, "fp")
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
        .filter(F.col("n_common") >= min_common)
    )


# ---------------------------------------------------------------------------
# F2b — MinHash + LSH near-dup (the 100 TB path)
# ---------------------------------------------------------------------------

#: Mersenne prime 2^31 − 1 — the classic universal-hash modulus. The
#: permutation family h_i(x) = (a_i·x + b_i) mod P keeps a·x + b inside
#: 62 bits, so the arithmetic is exact signed-64 on BOTH engines — that
#: is what makes the LSH pipeline oracle-checkable (no engine-specific
#: hash like xxhash64 anywhere in the plan).
MINHASH_P = 2147483647


def minhash_params(k: int) -> list[tuple[int, int]]:
    """k deterministic (a, b) permutation pairs for h_i(x) = (a·x+b) mod P.

    Derived from md5 of the function index — no RNG state, identical in
    any process, so the DuckDB oracle embeds the very same constants
    (extensions_registry builds its SQL from this function)."""
    import hashlib

    out = []
    for i in range(k):
        d = hashlib.md5(f"petk-minhash-{i}".encode()).digest()
        a = int.from_bytes(d[:4], "big") % (MINHASH_P - 1) + 1
        b = int.from_bytes(d[4:8], "big") % MINHASH_P
        out.append((a, b))
    return out


#: Shingles per step of the signature min fold: the fold's scratch stays
#: at k × _SIG_CHUNK int64 (32 MB at k=64) however long a document is.
_SIG_CHUNK = 65_536


def _minhash_frame(
    df: DataFrame, id_col: str, text_col: str, n: int, k: int
) -> DataFrame:
    """(id, sh: array<string>, sig: array<bigint>) — each document
    shingled (:func:`_doc_shingles`), hashed and signed once in one
    ``mapInArrow`` task: ``sig[i] = min((a_i·hx + b_i) mod P)`` over its
    shingles' base hashes ``hx = text._base_hash(s) mod P``, in int64
    numpy — exact, as a·hx + b < 2⁶³. A batch's shingles are folded in
    ``_SIG_CHUNK`` column slices with one ``minimum.reduceat`` per slice.
    NULL text gives NULL ``sh`` and ``sig``; fewer than ``n`` tokens gives
    ``sh = []`` and a NULL ``sig``."""
    from pyspark.sql import types as T

    a, b = (np.array(v, np.int64)[:, None] for v in zip(*minhash_params(k)))
    src = df.select(F.col(id_col).alias("id"), F.col(text_col).cast("string"))
    schema = T.StructType([
        src.schema["id"],
        T.StructField("sh", T.ArrayType(T.StringType())),
        T.StructField("sig", T.ArrayType(T.LongType())),
    ])

    def signed(batch: pa.RecordBatch) -> pa.RecordBatch:
        texts = batch.column(1).to_pylist()
        docs = [None if t is None else _doc_shingles(t, n) for t in texts]
        lens = np.array([len(d) if d else 0 for d in docs], np.int64)
        flat = [s for d in docs if d for s in d]
        hx = np.array([_base_hash(s) % MINHASH_P for s in flat], np.int64)
        doc = np.repeat(np.arange(len(docs)), lens)
        sig = np.full((k, len(docs)), MINHASH_P, np.int64)
        for s0 in range(0, len(hx), _SIG_CHUNK):
            d = doc[s0 : s0 + _SIG_CHUNK]
            starts = np.flatnonzero(np.r_[True, d[1:] != d[:-1]])
            h = (a * hx[s0 : s0 + _SIG_CHUNK] + b) % MINHASH_P
            part = np.minimum.reduceat(h, starts, axis=1)
            sig[:, d[starts]] = np.minimum(sig[:, d[starts]], part)
        return pa.RecordBatch.from_arrays(
            [
                batch.column(0),
                pa.ListArray.from_arrays(
                    np.r_[0, np.cumsum(lens)].astype(np.int32),
                    pa.array(flat, pa.string()),
                    mask=pa.array([d is None for d in docs]),
                ),
                pa.ListArray.from_arrays(
                    np.arange(len(docs) + 1, dtype=np.int32) * k,
                    pa.array(sig.T.ravel()),
                    mask=pa.array(lens == 0),
                ),
            ],
            names=["id", "sh", "sig"],
        )

    return src.mapInArrow(lambda batches: map(signed, batches), schema)


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, k: int = 64
) -> DataFrame:
    """(id, sig: array<bigint>) — k minhash values per document with at
    least one shingle, from the one document kernel
    (:func:`_minhash_frame`). ``id_col`` is a key."""
    return (
        _minhash_frame(df, id_col, text_col, n, k)
        .filter(F.col("sig").isNotNull())
        .select("id", "sig")
    )


def minhash_lsh_near_dup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    k: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
    verify_exact: bool = True,
    persist: bool = True,
) -> DataFrame:
    """Banded-LSH candidate generation + (optional) exact verification.

    With k=64, bands=16 (rows r=4), the S-curve crosses ~0.5 at
    s = (1/b)^(1/r) ≈ 0.5 — high recall at threshold 0.8. Candidates
    sharing ≥1 band bucket are verified with exact Jaccard so precision
    is 1.0; recall is the LSH S-curve (not guaranteed 100%). The whole
    pipeline — base hash, permutations, band keys, verification — uses
    engine-portable arithmetic, so the DuckDB oracle replays it exactly
    and the output is hash-checkable despite the probabilistic recall.

    Filter and refine (REPOSE, ICDE 2021): one Arrow kernel per document
    (:func:`_minhash_frame`) gives its shingle array and signature; the
    filter is the (band, bucket) self-join of the signatures, the refine
    joins each candidate to both shingle arrays and counts their
    intersection. ``id_col`` is a key (one row per document), as in
    every pair operator.

    Caching: the document frame is ``.persist()``-ed when verifying (it
    feeds the band join and both sides of the refine) with no eager
    unpersist (same rationale as :func:`jaccard_near_dup` — the result
    is lazy, so unpersisting on return would defeat the cache); pass
    ``persist=False`` in long-lived sessions that invoke this per-batch.
    """
    assert k % bands == 0, "k must divide into equal bands"
    r = k // bands

    docs = _minhash_frame(df, id_col, text_col, n, k)
    if persist and verify_exact and not df.isStreaming:
        docs = docs.persist()

    # Band bucket = the r signature values joined as a string. A plain
    # concat key (not a hash of it) keeps the bucket engine-portable;
    # at ~11 chars per value the key stays small enough to shuffle.
    band_entries = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    ",", *[F.element_at("sig", b * r + j + 1) for j in range(r)]
                ).alias("bucket"),
            )
            for b in range(bands)
        ]
    )
    buckets = (
        docs.filter(F.col("sig").isNotNull())
        .select("id", F.explode(band_entries).alias("e"))
        .select("id", "e.band", "e.bucket")
    )

    a = buckets.alias("a")
    b_ = buckets.alias("b")
    cand = (
        a.join(b_, ["band", "bucket"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    if not verify_exact:
        return cand

    sh = docs.select("id", "sh")
    n_common = F.size(F.array_intersect("sh_a", "sh_b"))
    return (
        cand.join(sh.toDF("id_a", "sh_a"), "id_a")
        .join(sh.toDF("id_b", "sh_b"), "id_b")
        .select("id_a", "id_b", "sh_a", "sh_b", n_common.alias("n_common"))
        .filter(F.col("n_common") > 0)
        .withColumn(
            "jaccard",
            F.col("n_common")
            / (
                F.size("sh_a") + F.size("sh_b") - F.col("n_common")
            ).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# F2c — SimHash near-dup
# ---------------------------------------------------------------------------

def simhash(text: Column) -> Column:
    """64-bit SimHash of the distinct token set as BIGINT: for each bit,
    sum +1/-1 over token hashes, take the sign.

    Arrow-batched pandas UDF: token hashes are the first 8 bytes of
    md5 (deterministic across runs/engines), bit votes are a numpy
    popcount-style accumulation. (A pure-expression version building 64
    F.aggregate HOFs was interpreted per row — CodegenFallback — and
    ~10× slower.)"""
    import hashlib

    from pyspark.sql.types import LongType

    @F.pandas_udf(LongType())
    def u(texts: pd.Series) -> pd.Series:
        bit_idx = np.arange(64, dtype=np.uint64)
        # Token → ±1 bit-vote row, memoized across the batch: document
        # vocabularies overlap heavily, so md5 runs once per distinct
        # token in the batch instead of once per (doc, token).
        memo: dict[str, np.ndarray] = {}

        def tok_votes(w):
            v = memo.get(w)
            if v is None:
                h = np.uint64(
                    int.from_bytes(
                        hashlib.md5(w.encode("utf-8")).digest()[:8], "big"
                    )
                )
                v = (
                    ((h >> bit_idx) & np.uint64(1)).astype(np.int64) * 2 - 1
                )
                memo[w] = v
            return v

        def one(t):
            if t is None:
                return None
            # the ASCII \s+ tokenizer of _shingles and the oracle's
            # DuckDB regexp_split_to_array
            toks = set(_words(t.lower()))
            if not toks:
                return 0
            votes = np.sum([tok_votes(w) for w in toks], axis=0)
            sig = (votes > 0).astype(np.uint8)
            # assemble as signed int64 (bit 63 is the sign bit); packbits
            # keeps the arithmetic exact where a float dot product would
            # lose bits past the 53-bit mantissa
            val = int.from_bytes(
                np.packbits(sig, bitorder="little").tobytes(), "little"
            )
            if val >= 1 << 63:
                val -= 1 << 64
            return val

        return texts.map(one)

    return u(text)


def simhash_near_dup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    persist: bool = True,
) -> DataFrame:
    """Pairs with SimHash Hamming distance ≤ ``max_hamming`` — the
    text instantiation of :func:`hamming_near_dup` (which also serves
    image perceptual hashes, F47). ``persist`` forwards to the pair
    engine's signature-frame cache (see there)."""
    fp = df.select(
        F.col(id_col).alias("id"), simhash(F.col(text_col)).alias("sim")
    )
    return hamming_near_dup(fp, "id", "sim", max_hamming, persist=persist)


def hamming_near_dup(
    df: DataFrame,
    id_col: str,
    sig_col: str | Sequence[str],
    max_hamming: int = 3,
    persist: bool = True,
) -> DataFrame:
    """(id_a, id_b, hamming) pairs of signatures within Hamming
    distance ``max_hamming`` — the shared engine under SimHash text
    near-dup (F2c) and perceptual image-hash near-dup (F47).

    ``sig_col`` is one long column (64-bit signatures), or — round 12,
    the SCALE.md distinct-signature-saturation remedy — a SEQUENCE of
    long columns forming one wide signature, most-significant word
    first (e.g. ``["phash_hi", "phash_lo"]`` from the 128-bit
    ``image_phash_frame``). A row whose signature has ANY null word
    produces no pairs.

    Pigeonhole blocking: the signature is split into
    ``max_hamming + 1`` blocks; any pair within distance d must agree
    on at least one block, so candidates = equi-join per block — no
    quadratic cross join. At 128 bits with ``max_hamming = 3`` each
    block is 32 bits (~4.3e9 bucket values vs 16 bits/65k at 64-bit)
    — the expected same-bucket collision count for n uniformly-spread
    distinct signatures drops from ~n²/2¹⁶ to ~n²/2³², pushing the
    saturation knee from ~10⁴·⁸ to ~10⁷·² distinct signatures per
    block and making the 10⁹-distinct-image crawl regime blockable.
    ``max_hamming`` must be in [0, total_bits − 1]; multi-word
    signatures additionally require ``max_hamming + 1 ≥ n_words``
    when positive so each block key fits one long (``max_hamming=0``
    skips blocking entirely — distance 0 is exact-signature grouping).

    Exact-signature collapse (round-9 verdict #3): the blocked join runs
    on DISTINCT signatures only, then the surviving signature pairs are
    re-expanded to member id pairs, and same-signature groups emit their
    within-group pairs directly at distance 0. With 64-bit signatures
    and ``max_hamming = 3`` each block is 16 bits (~65k bucket values),
    so at 10⁹+ rows bucket occupancy — and the join's candidate count,
    Σ n_v² — grows quadratically in ROWS; after the collapse it grows
    in DISTINCT signatures, which heavy duplication (the common-crawl
    case this operator exists for) keeps far smaller. The member
    re-expansion is two hash joins on the signature,
    output-proportional by definition (the pairs ARE the answer).

    Caching: the (id, signature) projection is ``.persist()``-ed with
    no eager unpersist (the result is lazy — unpersisting on return
    would defeat the cache; see :func:`jaccard_near_dup`); pass
    ``persist=False`` in long-lived sessions that invoke this
    per-batch."""
    multi = not isinstance(sig_col, str)
    words = list(sig_col) if multi else [sig_col]
    nwords = len(words)
    total = 64 * nwords
    if not 0 <= max_hamming <= total - 1:
        raise ValueError(
            f"max_hamming must be in [0, {total - 1}], got {max_hamming}"
        )
    if multi and max_hamming > 0 and max_hamming + 1 < nwords:
        raise ValueError(
            f"max_hamming={max_hamming} splits a {total}-bit signature "
            f"into blocks wider than 64 bits; need max_hamming >= "
            f"{nwords - 1} (or 0 for exact grouping)"
        )
    nblocks = max_hamming + 1
    width = total // nblocks

    notnull = F.col(words[0]).isNotNull()
    for wname in words[1:]:
        notnull = notnull & F.col(wname).isNotNull()
    sim_expr = (
        F.struct(
            *[
                F.col(wname).cast("long").alias(f"w{k}")
                for k, wname in enumerate(words)
            ]
        )
        if multi
        else F.col(sig_col).cast("long")
    )
    fp = df.filter(notnull).select(
        F.col(id_col).alias("id"), sim_expr.alias("sim")
    )
    # The signature frame feeds FOUR plan branches post-collapse (the
    # distinct-sig block join, the two member re-expansion joins, and
    # the same-signature self-join). Its upstream is the expensive
    # subtree — the Arrow signature kernel over the raw corpus (SimHash
    # tokenize+hash, or image decode for F47) — and Catalyst does not
    # share un-exchanged subtrees across branches: measured on the
    # final adaptive plan, the unpersisted DAG runs the kernel and the
    # raw scan 6× (broadcast joins at small scale defeat exchange
    # reuse; at shuffle-join scale canonically-identical exchanges
    # reuse down to ~2×, but that is regime-dependent). Persist the
    # (id, long) projection once — ~16 bytes/row, the smallest frame in
    # the operator — same discipline as minhash_lsh_near_dup's document
    # frame above. MEMORY_AND_DISK: spills instead of recomputing,
    # evictable under pressure. Streaming frames can't persist.
    if persist and not df.isStreaming:
        fp = fp.persist()

    def word(k: int) -> Column:
        # k-th 64-bit word counting from the LSB end of the signature
        return (
            F.col("sim").getField(f"w{nwords - 1 - k}")
            if multi
            else F.col("sim")
        )

    def block(i: int) -> Column:
        # Unsigned slice of bits [i*width, (i+1)*width) of the full
        # signature (LSB-first global indexing) — last block takes the
        # remainder bits too. A slice can straddle a word boundary
        # when width doesn't divide 64; pieces are OR-combined.
        lo = i * width
        size = total - lo if i == nblocks - 1 else width
        # max_hamming=0 on a multi-word signature makes the single
        # block wider than a long; cap it at 64 bits — sound, because
        # at distance 0 the cross branch is provably empty (it needs
        # sim_a < sim_b AND hamming = 0) and all real pairs come from
        # the same-signature branch; the block key only affects how
        # much dead candidate work the empty branch does.
        size = min(size, 64)
        out = None
        pos, got = lo, 0
        while got < size:
            wk, off = divmod(pos, 64)
            take = min(64 - off, size - got)
            # a full-word slice needs the all-ones mask, which only
            # fits a signed long as -1
            mask = -1 if take >= 64 else (1 << take) - 1
            piece = F.shiftrightunsigned(word(wk), off).bitwiseAND(
                F.lit(mask)
            )
            if got:
                piece = F.shiftleft(piece, got)
            out = piece if out is None else out.bitwiseOR(piece)
            pos += take
            got += take
        return out

    entries = F.array(
        *[
            F.struct(F.lit(i).alias("blk"), block(i).alias("val"))
            for i in range(nblocks)
        ]
    )
    dsig = fp.select("sim").distinct()
    blocked = dsig.select("sim", F.explode(entries).alias("e")).select(
        "sim", "e.blk", "e.val"
    )
    a = blocked.alias("a")
    b = blocked.alias("b")

    # Hamming distance = popcount(xor) via bit_count (Spark 3.3+),
    # summed per word for wide signatures.
    if multi:
        ham = F.bit_count(
            F.col("a.sim").getField("w0").bitwiseXOR(
                F.col("b.sim").getField("w0")
            )
        )
        for k in range(1, nwords):
            ham = ham + F.bit_count(
                F.col("a.sim").getField(f"w{k}").bitwiseXOR(
                    F.col("b.sim").getField(f"w{k}")
                )
            )
    else:
        ham = F.bit_count(F.col("a.sim").bitwiseXOR(F.col("b.sim")))
    sig_pairs = (
        a.join(b, ["blk", "val"])
        .filter(F.col("a.sim") < F.col("b.sim"))
        .select(
            F.col("a.sim").alias("sim_a"),
            F.col("b.sim").alias("sim_b"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()  # a pair may agree on several blocks
    )
    cross = (
        sig_pairs.join(fp.alias("ma"), F.col("sim_a") == F.col("ma.sim"))
        .join(fp.alias("mb"), F.col("sim_b") == F.col("mb.sim"))
        # a duplicated input id carrying both signatures must not pair
        # with itself (the pre-collapse id_a < id_b filter's behavior)
        .filter(F.col("ma.id") != F.col("mb.id"))
        .select(
            F.least(F.col("ma.id"), F.col("mb.id")).alias("id_a"),
            F.greatest(F.col("ma.id"), F.col("mb.id")).alias("id_b"),
            F.col("hamming"),
        )
    )
    x = fp.alias("x")
    y = fp.alias("y")
    same = (
        x.join(y, "sim")
        .filter(F.col("x.id") < F.col("y.id"))
        .select(
            F.col("x.id").alias("id_a"),
            F.col("y.id").alias("id_b"),
            F.lit(0).alias("hamming"),
        )
    )
    return cross.unionAll(same).distinct()


# ---------------------------------------------------------------------------
# F2d — embedding-cosine near-dup
# ---------------------------------------------------------------------------

#: Row block of the BLAS filter: peak extra memory per call is
#: ``block × n`` doubles (~64 MB for a 2048-row block against a 4M-row
#: side) instead of the full ``n²`` similarity matrix.
_MATMUL_BLOCK = 2048

#: float64 unit roundoff.
_U = 2.0 ** -53


def _filter_side(X):
    """``(unit rows, ok, tiny)`` for one side of :func:`_cosine_pairs`:
    each row divided by the square root of its left-folded Σv², whether
    the row can score at all (Σv² positive and finite, the kernel's
    NULL contract) and whether it is tiny (Σv² < d·2⁻¹⁰²¹, where
    underflow may exceed the filter's slack)."""
    with np.errstate(all="ignore"):  # ill-formed rows are gated below
        ss = _lfold(x * x for x in X.T)
        ok = np.isfinite(ss) & (ss > 0)
        U = X / np.sqrt(np.where(ok, ss, 1.0))[:, None]
    U[~ok] = 0.0
    return U, ok, ok & (ss < X.shape[1] * 2.0 ** -1021)


def _cosine_pairs(ids_a, XA, ids_b, XB, threshold: float):
    """``(i, j, cosine)`` over row pairs of ``(n, d)`` float64 blocks
    with ``ids_a[i] < ids_b[j]`` and kernel cosine ≥ ``threshold`` — the
    one block scorer of :func:`embedding_near_dup` and
    :func:`_semantic_pairs_arrow`. Filter and refine (REPOSE, ICDE
    2021; Multi-Attribute Similarity Search, EDBT 2021): one BLAS
    product of unit rows per ``_MATMUL_BLOCK`` rows of ``XA`` keeps the
    pairs with S ≥ t − δ, then :func:`_fold_cosine` re-scores only
    those, decides membership on its own value and emits it. So every
    tier returns the fold's pair set and values, whatever the margin
    between the scores and ``threshold``."""
    # δ bounds |S − fold| (Higham, Accuracy and Stability of Numerical
    # Algorithms, §3.1: γₙ = n·u/(1 − n·u), u = 2⁻⁵³). For rows a, b
    # with exact cosine c:
    #   * fold: the dot is off by ≤ γ_d·‖a‖‖b‖ in any summation order
    #     (|a|·|b| ≤ ‖a‖‖b‖); each Σv² by ≤ γ_d relative; the two
    #     sqrts, their product and the divide add four roundings. So
    #     fold = c̃(1 + θ) with |c̃ − c| ≤ γ_d, |θ| ≤ γ_{d+4}, and
    #     |fold − c| ≤ 2·γ_{d+4}.
    #   * BLAS: unit rows carry the same Σv² fold and one divide; their
    #     product adds γ_d. Again |S − c| ≤ 2·γ_{d+4}.
    #   * underflow: products and partial sums below 2⁻¹⁰²² add up to
    #     d·2⁻¹⁰⁷⁴ to the fold's dot (a cosine error of
    #     d·2⁻¹⁰⁷⁴ / (‖a‖·‖b‖)) and to each Σv². With both Σv² ≥
    #     d·2⁻¹⁰²¹ that is ≤ u per term, which γ_{d+6} absorbs along with
    #     the rounding of t − δ. A tiny row (below that norm) is refined
    #     against every row of the other side, never filtered.
    # Hence δ = 4·γ_{d+6}.
    d = XA.shape[1]
    delta = 4 * (d + 6) * _U / (1 - (d + 6) * _U)
    UB, okB, tinyB = _filter_side(XB)
    out_i, out_j, out_c = [], [], []
    for s0 in range(0, len(XA), _MATMUL_BLOCK):
        UA, okA, tinyA = _filter_side(XA[s0 : s0 + _MATMUL_BLOCK])
        with np.errstate(all="ignore"):
            near = UA @ UB.T >= threshold - delta
        bi, j = np.nonzero(
            (near | tinyA[:, None] | tinyB)
            & okA[:, None]
            & okB
            & (ids_a[s0 : s0 + _MATMUL_BLOCK, None] < ids_b)
        )
        i = bi + s0
        c = _fold_cosine(XA[i], XB[j])
        keep = c >= threshold  # a NaN (NULL) cosine never clears it
        out_i.append(i[keep])
        out_j.append(j[keep])
        out_c.append(c[keep])
    if not out_i:
        return np.zeros(0, np.int64), np.zeros(0, np.int64), np.zeros(0)
    return np.concatenate(out_i), np.concatenate(out_j), np.concatenate(out_c)


def embedding_near_dup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    max_broadcast_rows: int = 1_000_000,
) -> DataFrame:
    """Exact pairs with cosine ≥ threshold (id_a < id_b).

    Size-adaptive physical strategy (decided here, like AQE decides
    joins at runtime — this operator is action-bearing by necessity):

    * corpus ≤ ``max_broadcast_rows``: block-broadcast all-pairs — the
      (id, vector) matrix is broadcast (1M × 768 float64 ≈ 6 GB is the
      ceiling the default cap encodes) and each partition scores its
      rows against it with :func:`_cosine_pairs`. Embarrassingly
      partition-parallel, no shuffle, exact.
    * larger: falls through to ``embedding_near_dup_lsh`` — banded
      random-hyperplane bucketing + exact cosine verification of
      candidates only. No driver materialization of the corpus, the
      true 100 TB path (approximate recall, exact precision).

    The size probe is ``limit(cap + 1).count()`` — it scans at most
    cap+1 rows of the id column regardless of corpus size, so the
    decision itself is O(cap), never O(N).

    Both tiers score with the one cosine kernel (the block tier's BLAS
    filter only preselects candidates for it), so they agree pair for
    pair and bit for bit, at any margin to the threshold. A NULL
    vector or element, a vector of another length than the first row's,
    and a zero-norm, NaN or ±Inf vector pair with nothing.
    """
    from pyspark.sql import types as T

    id_type = df.schema[id_col].dataType
    if not isinstance(
        id_type, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    ):
        raise TypeError(
            f"embedding_near_dup requires an integral id column; "
            f"{id_col} is {id_type.simpleString()}. Cast the id or use "
            f"embedding_near_dup_lsh, which preserves the id type."
        )

    probed = df.select(id_col).limit(max_broadcast_rows + 1).count()
    if probed > max_broadcast_rows:
        return embedding_near_dup_lsh(df, id_col, vec_col, threshold)

    # NULL embeddings pair with nothing; vectors whose length disagrees
    # with the first row's are likewise left out (by the reader) instead
    # of crashing the job — one malformed row in 100 TB must not kill it.
    df = df.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).cast("long"), F.col(vec_col).cast("array<double>")
    )
    side = df.toArrow()
    if not side.num_rows:
        return df.sparkSession.createDataFrame(
            [], "id_a long, id_b long, cosine double"
        )
    dim = len(side.column(1)[0])
    rows, all_x = _vectors(side.column(1), dim)
    b_rows = df.sparkSession.sparkContext.broadcast(
        (side.column(0).to_numpy()[rows], all_x)
    )

    def run(batches):
        all_ids, all_x = b_rows.value
        for batch in batches:
            rows, bx = _vectors(batch.column(1), dim)
            bids = batch.column(0).to_numpy()[rows]
            i, j, c = _cosine_pairs(bids, bx, all_ids, all_x, threshold)
            yield pa.RecordBatch.from_arrays(
                [pa.array(bids[i]), pa.array(all_ids[j]), pa.array(c)],
                names=["id_a", "id_b", "cosine"],
            )

    return df.mapInArrow(run, schema="id_a long, id_b long, cosine double")


def embedding_near_dup_lsh(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    dim: int | None = None,
    n_planes: int | None = None,
    bands: int | None = None,
    seed: int = 42,
) -> DataFrame:
    """Bucketed near-dup pairs — the beyond-broadcast scale path.

    ``bands`` independent random-hyperplane signatures of ``n_planes``
    bits each; a pair is a candidate iff it collides in ≥1 band (banded
    LSH, same shape as MinHash banding). Candidates are verified with
    the exact cosine kernel (:func:`cosine_col`), so precision is 1.0;
    recall is the S-curve 1-(1-p^r)^b with p = 1 - θ/π.

    Defaults are derived from the threshold: the per-band bit width r
    targets a ~0.35 band-collision probability AT the threshold (so 12
    bands give ~99% recall), floored at 4 bits so a band never keeps
    more than ~1/16 of random pairs. Low thresholds (< ~0.7) are
    fundamentally LSH-hostile — the angle gap to random pairs is too
    small — so there the floor trades recall (~85-90%) for join
    boundedness; near-dup use cases live at ≥0.9 where recall is ~99%.

    Everything is bucketed equi-joins on (band, bucket) — no driver
    collect, no broadcast of the corpus, no quadratic blow-up. Skewed
    buckets (many near-identical vectors) are AQE skew-join territory.
    """
    import math

    p = 1.0 - math.acos(min(max(threshold, -1.0), 1.0)) / math.pi
    if n_planes is None:
        if 0.0 < p < 1.0:
            n_planes = max(4, min(16, round(math.log(0.35) / math.log(p))))
        else:
            n_planes = 8
    if bands is None:
        bands = 12

    if dim is None:
        first = df.select(F.size(F.col(vec_col)).alias("d")).first()
        if first is None:
            return df.sparkSession.createDataFrame(
                [], f"id_a {df.schema[id_col].dataType.simpleString()}, "
                    f"id_b {df.schema[id_col].dataType.simpleString()}, cosine double"
            )
        dim = first["d"]

    entries = []
    for band in range(bands):
        planes = deterministic_planes(dim, n_planes, seed + 7919 * (band + 1))
        entries.append(
            F.struct(
                F.lit(band).alias("band"),
                hyperplane_signature("vec", planes).alias("bucket"),
            )
        )
    buckets = (
        df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
        .select("id", "vec", F.explode(F.array(*entries)).alias("e"))
        .select("id", "vec", "e.band", "e.bucket")
    )

    a = buckets.alias("a")
    b = buckets.alias("b")
    pairs = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            cosine_col(F.col("a.vec"), F.col("b.vec")).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
        # A pair colliding in several bands appears once per collision;
        # cosine is a deterministic function of the pair, so distinct
        # collapses them exactly.
        .distinct()
    )
    return pairs


# ---------------------------------------------------------------------------
# SemDeDup-style semantic dedup over embedding cells (SURVEY §2.F39)
# ---------------------------------------------------------------------------

def _semantic_pairs_arrow(
    assigned: DataFrame, threshold: float
) -> DataFrame:
    """Within-cell pair scoring, one ``applyInArrow`` group per cell:
    :func:`_cosine_pairs` of the cell against itself — BLAS filter in
    row blocks of ``_MATMUL_BLOCK`` (peak memory O(block × cell), not
    O(cell²)), fold-kernel refine of the candidates, so the pair set
    and cosines are the kernel's. The whole CELL must still fit one
    executor's Arrow batch (vectors only, not the matrix) and its pair
    compute is one unsplittable task — the hot-cell guard in
    :func:`semantic_dedup_pairs` routes oversized cells elsewhere.
    Output id types follow the input's id column (string doc ids
    work)."""
    id_t = assigned.schema["id"].dataType.simpleString()
    cell_t = assigned.schema["centroid_id"].dataType.simpleString()
    schema = f"cell {cell_t}, id_a {id_t}, id_b {id_t}, cosine double"

    def score(cell: pa.Table) -> pa.Table:
        # every row of a cell was assigned, so has the centroid length
        vecs = cell.column("vec")
        X = _vectors(vecs, len(vecs[0]))[1]
        ids = cell.column("id")
        np_ids = ids.to_numpy()
        i, j, c = _cosine_pairs(np_ids, X, np_ids, X, threshold)
        return pa.table({
            "cell": cell.column("centroid_id").take(np.zeros(len(i), np.int64)),
            "id_a": ids.take(i),
            "id_b": ids.take(j),
            "cosine": c,
        })

    return assigned.select(
        "centroid_id", "id", F.col("vec").cast("array<double>")
    ).groupBy("centroid_id").applyInArrow(score, schema)


def _semantic_pairs_join(assigned: DataFrame, threshold: float) -> DataFrame:
    """Within-cell pair scoring as a cell-keyed equi-join scored by
    :func:`cosine_col`: a plain shuffle join, so AQE's skew-join
    handling splits it across executors — the distributed route for
    cells too hot for one Arrow task. Same pairs and cosines as
    :func:`_semantic_pairs_arrow`."""
    a = assigned.select(
        F.col("centroid_id").alias("cell"),
        F.col("id").alias("id_a"),
        F.col("vec").alias("va"),
    )
    b = assigned.select(
        F.col("centroid_id").alias("cell"),
        F.col("id").alias("id_b"),
        F.col("vec").alias("vb"),
    )
    return (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", cosine_col(F.col("va"), F.col("vb")))
        .filter(F.col("cosine") >= F.lit(threshold))
        .select("cell", "id_a", "id_b", "cosine")
    )


def semantic_dedup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[list[float]] | None = None,
    n_centroids: int = 64,
    threshold: float = 0.95,
    max_cell_rows: int = 100_000,
) -> DataFrame:
    """Semantic near-duplicate candidate pairs, SemDeDup-style
    (Abbas et al. 2023, arXiv:2303.09540): cluster every vector to its
    nearest centroid, then compare pairs ONLY within a cell —
    semantically-duplicate pairs land in the same cell with
    overwhelming probability, so the all-pairs O(N²) collapses to
    Σ cellᵢ² without any recall-free hashing trick. Returns
    ``(cell, id_a, id_b, cosine)`` for same-cell pairs with
    ``cosine ≥ threshold`` and ``id_a < id_b``.

    Scale design: assignment is :func:`ivf_assign`'s kernel, a map-only
    Arrow projection that also drops the unassignable rows; the
    within-cell compare shuffles the assigned frame once on the cell id
    and scores each cell with :func:`_semantic_pairs_arrow`. Size
    ``n_centroids`` ∝ N/target_cell_size so cells stay bounded (the
    published recipe: √N-ish cells). Malformed vectors (NULL centroid) can't be compared
    and never pair.

    Hot cells: a cell is ONE ``applyInArrow`` group, an unsplittable
    task whose pair compute is O(cell²). The guard is
    ``max_cell_rows`` (default 100k): a cheap pre-count of cell sizes
    (one map-side-combined aggregate over the assignment projection,
    collecting at most ``n_centroids`` counts) routes any hotter cell
    through a distributed cell-keyed join (:func:`_semantic_pairs_join`,
    AQE-splittable across the cluster) and warns, because a hot cell
    really means ``n_centroids`` is undersized for the corpus. Both
    routes score with the one cosine kernel, so they return the same
    pairs and cosines.

    Pass ``centroids`` explicitly for cross-run reproducibility (e.g.
    the stored sidecar of a built IVF index, or fixed literals as the
    oracle twin does); otherwise they are trained with the seeded
    :func:`~petk_spark.operators.similarity.sample_centroids`."""
    import warnings

    if centroids is None:
        centroids = sample_centroids(df, n_centroids, vec_col, id_col)
    assigned = _assigned_rows(df, centroids, id_col, vec_col)
    sizes = assigned.groupBy("centroid_id").agg(
        F.count(F.lit(1)).alias("n")
    )
    hot = [
        r["centroid_id"]
        for r in sizes.filter(F.col("n") > F.lit(max_cell_rows)).collect()
    ]
    if hot:
        warnings.warn(
            f"semantic_dedup_pairs: {len(hot)} cell(s) exceed "
            f"max_cell_rows={max_cell_rows} — routing them "
            "through the distributed join. A hot cell "
            "means n_centroids is undersized for this corpus "
            "(target ~sqrt(N) cells); consider retraining "
            "with more centroids.",
            RuntimeWarning,
            stacklevel=2,
        )
        cold = _semantic_pairs_arrow(
            assigned.filter(~F.col("centroid_id").isin(hot)), threshold
        )
        hot_pairs = _semantic_pairs_join(
            assigned.filter(F.col("centroid_id").isin(hot)), threshold
        )
        return cold.unionByName(hot_pairs)
    return _semantic_pairs_arrow(assigned, threshold)


def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[list[float]] | None = None,
    n_centroids: int = 64,
    threshold: float = 0.95,
    max_cell_rows: int = 100_000,
) -> DataFrame:
    """Rows surviving semantic dedup: drop a row iff its cell holds a
    LOWER-id row within ``threshold`` cosine — the deterministic
    per-pair keep rule (every retained row is a local id-minimum among
    its semantic duplicates; order-free, replayable in plain SQL).
    This is deliberately NOT transitive closure: a chain A~B~C with
    A≁C keeps only A — use ``near_dup_clusters`` (connected
    components) when group-level resolution semantics are wanted.
    Rows whose vector cannot be assigned (NULL/ragged/zero-norm/
    non-finite) have no comparison basis and are KEPT — route them to
    a validation rule, don't silently drop data.

    The drop set can be corpus-sized (dedup routinely removes half a
    crawl), so the final step is a hash anti-join on the id — NOT a
    broadcast."""
    pairs = semantic_dedup_pairs(
        df, id_col, vec_col, centroids, n_centroids, threshold,
        max_cell_rows,
    )
    drop = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(drop, id_col, "left_anti")


def filter_previously_seen(
    df: DataFrame,
    id_col: str,
    text_col: str,
    seen: DataFrame | None = None,
    fingerprint_col: str = "fingerprint",
    store_table: str | None = None,
) -> DataFrame:
    """Incremental exact dedup against an EXISTING corpus: keep only
    rows whose normalized-text fingerprint
    (:func:`text.fingerprint_frame`'s md5 contract — the same identity
    every dedup pass in the repo uses) is absent from ``seen``, a
    frame holding the already-ingested corpus's fingerprint column
    (e.g. yesterday's store, or :func:`~petk_spark.operators.text.
    fingerprint_frame` over the current training set). The daily-crawl
    production shape: the new batch is scanned ONCE, the store is
    never rewritten, and appending ``fingerprint_frame`` of the KEPT
    rows to the store keeps the next day O(new data) — the same
    mergeable-state discipline as incremental profiling (F32).

    Scale, frame tier (``seen=``): one left-anti hash join on the
    16-byte fingerprint. The store side is corpus-scale, so it is NOT
    broadcast — both sides shuffle on the fingerprint key; AQE
    promotes the join when the store is still small. Within-batch
    duplicates are intentionally KEPT (dedup inside the batch is
    :func:`drop_exact_duplicates`' / F13's job — composing the two
    stays one scan each).

    Scale, store tier (``store_table=``, round 14 — r13 verdict #1):
    against a store built by :func:`build_seen_store` /
    :func:`append_seen`, the anti-join reads the store's co-located
    buckets — NO shuffle and NO ``.distinct()`` on the store side
    (uniqueness is the append-time invariant), so the daily run's
    recurring cost is one store SCAN plus a shuffle of the NEW batch
    only. At a 100 TB corpus store that scan-vs-reshuffle difference
    is the single largest recurring saving in the pipeline
    (plan-pinned by ``tests/test_seen_store.py``)."""
    from petk_spark.operators.text import fingerprint

    fp = fingerprint(F.col(text_col))
    if store_table is not None:
        store = (
            df.sparkSession.table(store_table)
            .select(F.col(fingerprint_col).alias("__seen_fp"))
        )
    else:
        if seen is None:
            raise ValueError("pass either seen= or store_table=")
        store = seen.select(
            F.col(fingerprint_col).alias("__seen_fp")
        ).distinct()
    return (
        df.withColumn("__fp", fp)
        .join(store, F.col("__fp") == F.col("__seen_fp"), "left_anti")
        .drop("__fp")
    )


def build_seen_store(
    df: DataFrame,
    id_col: str,
    text_col: str,
    table: str,
    n_buckets: int = 128,
    path: str | None = None,
) -> None:
    """Materialize the incremental-dedup fingerprint store as a table
    hash-bucketed on ``fingerprint`` (the IVF-index lifecycle
    precedent, similarity.build_ivf_index): one distinct at build
    time, then every daily :func:`filter_previously_seen` /
    :func:`append_seen` reads co-located buckets instead of
    re-shuffling and re-distinct-ing the whole store.

    Sizing: buckets should keep per-bucket bytes executor-friendly —
    at ~32 bytes/row a 1-trillion-fingerprint store (100 TB corpus of
    ~100 KB docs) is ~32 TB; 8192 buckets → ~4 GB/bucket, scanned
    co-located. The default 128 suits sub-TB stores; pass the real
    count at scale (Spark fails fast on a mismatched append)."""
    from petk_spark.operators.text import fingerprint_frame

    from petk_spark.sources.sinks import write_bucketed

    fps = (
        fingerprint_frame(df, id_col, text_col)
        .select("fingerprint")
        .where(F.col("fingerprint").isNotNull())
        .distinct()
    )
    write_bucketed(fps, table, ["fingerprint"], n_buckets, path=path)


def append_seen(
    df: DataFrame,
    id_col: str,
    text_col: str,
    table: str,
    n_buckets: int = 128,
) -> None:
    """Append a new batch's fingerprints to a :func:`build_seen_store`
    table, maintaining the store's uniqueness invariant AT APPEND TIME
    (the reason :func:`filter_previously_seen`'s store tier may skip
    ``.distinct()``): batch-local distinct, then a left-anti join
    against the store reading co-located buckets (only the new batch
    — O(day), not O(corpus) — shuffles), then a bucketed append.
    ``n_buckets`` must match the build (Spark rejects a mismatch).

    Concurrency note: read-then-append is not atomic — two writers
    appending the SAME fingerprint concurrently can both pass the
    anti-join. Run appends from one scheduler slot (the daily-batch
    shape this is for); duplicate store rows are correctness-harmless
    to the anti-join either way, they only waste scan bytes until
    :func:`maybe_compact_seen_store` (the scheduled hygiene tick,
    round 15) measures and rebuilds them away."""
    from petk_spark.operators.text import fingerprint_frame

    spark = df.sparkSession
    fps = (
        fingerprint_frame(df, id_col, text_col)
        .select("fingerprint")
        .where(F.col("fingerprint").isNotNull())
        .distinct()
    )
    fresh = fps.join(spark.table(table), "fingerprint", "left_anti")
    (
        fresh.write.format("parquet")
        .mode("append")
        .bucketBy(n_buckets, "fingerprint")
        .saveAsTable(table)
    )


def _table_location(spark, table: str) -> str | None:
    """The storage location of a catalog table (DESCRIBE FORMATTED
    walk), or None when the metastore does not report one."""
    try:
        for r in spark.sql(f"DESCRIBE FORMATTED {table}").collect():
            if (r["col_name"] or "").strip() == "Location":
                return (r["data_type"] or "").strip() or None
    except Exception:
        return None
    return None


def maybe_compact_seen_store(
    spark,
    table: str,
    n_buckets: int = 128,
    dup_frac_threshold: float = 0.01,
    max_files_per_bucket: int = 16,
    path: str | None = None,
) -> dict:
    """Scheduled-maintenance tick for the :func:`build_seen_store`
    lifecycle (round 15, r14 verdict #5 — the
    :func:`~petk_spark.operators.similarity.maybe_retrain_ivf_index`
    precedent applied to the F45 store): measure the two hygiene
    debts a long-lived append-only bucketed store accumulates —

    * **duplicate mass** (concurrent-append leftovers, the documented
      non-atomic read-then-append window in :func:`append_seen`):
      ``1 - distinct/total`` over the fingerprint column; the distinct
      runs as a bucket-local aggregation (no Exchange — the store is
      bucketed on the key);
    * **file fragmentation**: every append lays down up to
      ``n_buckets`` new files, so after many daily appends each bucket
      is a pile of small files and the daily anti-join's scan pays
      open/seek overhead proportional to appends, not bytes.

    If either trips (``dup_frac > dup_frac_threshold`` or files >
    ``max_files_per_bucket × n_buckets``), rebuild: one bucketed
    rewrite of the distinct fingerprints into a staging table, then a
    rename-aside swap (round 16, r15 ADVICE): old → ``__old``,
    staging → table, drop ``__old`` — the store is missing under its
    name only between the two renames (metadata-only operations),
    not for the duration of a drop+rename as in round 15. The store
    stays bucketed (``Bucketed: true`` in the daily filter's plan,
    pinned by tests/test_seen_store.py) and anti-join results are
    identical before and after. Otherwise the tick is read-only: one
    count, one bucket-local distinct count, one file listing. Same
    single-scheduler contract as :func:`append_seen` — don't compact
    while a writer is appending.

    ``path`` (round 16): a store built with
    ``build_seen_store(path=…)`` is EXTERNAL — pass the same root here
    so the rebuild lands beside it (alternating ``__swap_a`` /
    ``__swap_b`` directories) instead of silently relocating to the
    managed warehouse. External-table semantics mean the retired
    directory's files are NOT deleted by the swap; its location comes
    back as ``retired_location`` for the caller's reaper.

    Returns ``{action, total_rows, distinct_rows, dup_frac, n_files}``
    (counts from BEFORE the action; plus ``retired_location`` when an
    external store was rebuilt)."""
    store = spark.table(table)
    total = store.count()
    distinct = store.select("fingerprint").distinct().count()
    n_files = (
        store.select(
            F.input_file_name().alias("f")
        ).distinct().count()
    )
    dup_frac = 0.0 if total == 0 else 1.0 - distinct / total
    out = {
        "action": "none",
        "total_rows": total,
        "distinct_rows": distinct,
        "dup_frac": dup_frac,
        "n_files": n_files,
    }
    if total == 0:
        return out
    if (
        dup_frac > dup_frac_threshold
        or n_files > max_files_per_bucket * n_buckets
    ):
        from petk_spark.sources.sinks import write_bucketed

        staging_path = None
        retired = None
        if path is not None:
            cur = _table_location(spark, table) or ""
            staging_path = path + (
                "__swap_b" if cur.rstrip("/").endswith("__swap_a")
                else "__swap_a"
            )
            retired = cur or None
        staging = f"{table}__compacting"
        spark.sql(f"DROP TABLE IF EXISTS {staging}")
        write_bucketed(
            store.select("fingerprint").distinct(),
            staging,
            ["fingerprint"],
            n_buckets,
            path=staging_path,
        )
        old = f"{table}__old"
        spark.sql(f"DROP TABLE IF EXISTS {old}")
        # rename-aside: the no-table window is only the two metadata
        # renames; a crash between them leaves BOTH __old (complete
        # old data) and __compacting/table recoverable by name
        spark.sql(f"ALTER TABLE {table} RENAME TO {old}")
        spark.sql(f"ALTER TABLE {staging} RENAME TO {table}")
        spark.sql(f"DROP TABLE {old}")
        out["action"] = "rebuilt"
        if retired is not None:
            out["retired_location"] = retired
    return out
