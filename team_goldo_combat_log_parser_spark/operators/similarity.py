"""Similarity search over the `embeddings` table (vec_id, embedding
array<float>, label).

Brute-force cosine top-k is the exactness baseline (DuckDB-oracled, with
DECIMAL dot products so both engines agree on the e6 output grid);
the LSH-bucketed variant is the scale path: random-hyperplane signatures
turn the all-pairs search into an equi-join on (band, key), the
same banding trick as MinHash-LSH for text. One (vec_id, band, key)
postings relation (``_banded_postings``) feeds both banding queries:
the ANN probe join and the near-duplicate self-join, which is the text
queries' ``_band_pairs``. The exact cosines score in two phases: one
double-precision fold (``_dot_double``) ranks or prefilters, and the
DECIMAL dot decides only the pairs within ``_cosine_slack`` of the cut.
"""

from __future__ import annotations

import math
from functools import lru_cache

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .relational import load
from .text import _band_pairs, _connected_components

N_QUERIES = 10  # vec_id < N_QUERIES form the query set
TOP_K = 5


def _norm_decimal(col: str):
    sq = F.transform(col, lambda x: x.cast("decimal(18,9)") * x.cast("decimal(18,9)"))
    return F.aggregate(sq, F.lit(0).cast("decimal(38,18)"),
                       lambda a, x: (a + x).cast("decimal(38,18)"))


def _dot_decimal(a: str, b: str):
    """Decimal dot product: each element cast to decimal(18,9), products
    exact in decimal(37,18), summed into a decimal(38,18) fold (Spark
    rounds each partial sum to 17 decimals, see ``_cosine_slack``)."""
    prod = F.zip_with(
        a, b, lambda x, y: x.cast("decimal(18,9)") * y.cast("decimal(18,9)"))
    return F.aggregate(prod, F.lit(0).cast("decimal(38,18)"),
                       lambda acc, x: (acc + x).cast("decimal(38,18)"))


def _dot_double(a: str, b: str):
    """Double-precision left-fold dot product (codegen'd, no boxing)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x)


def _norm_double(col: str):
    return F.sqrt(F.aggregate(
        F.transform(col, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0), lambda a, x: a + x))


def _l1_double(col: str):
    return F.aggregate(F.transform(col, lambda x: F.abs(x.cast("double"))),
                       F.lit(0.0), lambda a, x: a + x)


def _cosine_slack(l1a: str, l1b: str, denom, dim):
    """Per-pair bound on |fast - exact| for the two-phase cosine scorers
    (emb_cosine_topk, emb_cosine_near_dup). Both cosines divide by the
    same ``denom`` (the product of the decimal norms), so only the
    numerators differ. For float vectors q, e of dimension d, with
    u = 2^-53 and x' = x cast to decimal(18,9) (HALF_UP, so
    |x' - x| <= 5e-10 + u|x|), to first order:

      - products q'e' differ from qe by at most
        5e-10 (|q| + |e|) + 2.5e-19 + 2u|qe| each;
      - the decimal fold (``_dot_decimal``) adds a decimal(37,18)
        product to a decimal(38,18) sum; the result type would need 39
        digits, so Spark rounds each partial sum to 17 decimals
        (HALF_UP, at most 5e-18 per element);
      - the double fold: float products are exact in double, and any
        summation order errs by at most (d - 1) u sum|qe|;
      - the decimal sum's cast to double and the two divisions add
        u|dot| + 2u|cos| denom;
      - sum|qe| and |dot| are at most |q|_2 |e|_2 ~ denom
        (Cauchy-Schwarz).

    So |fast - exact| <= (5e-10 (|q|_1 + |e|_1) + 5.25e-18 d) / denom
    + 1.2e-16 (d + 4). The slack is twice that, which covers the
    second-order terms (products of two rounding errors, the slack's
    own double evaluation, the gap between |q|_2 |e|_2 and denom),
    each at most ~d^1.5 u of the bound. The first
    term dominates for small-magnitude vectors: at unit scale the slack
    is ~1e-8, at elements near 1e-8 it is ~0.1, so no fixed margin is
    safe. ``l1a``/``l1b`` name the per-vector double L1 norm columns
    (``_l1_double``), taken next to ``norm2``."""
    return 2 * ((5e-10 * (F.col(l1a) + F.col(l1b)) + dim * 5.25e-18)
                / denom + (dim + 4) * 1.2e-16)


def _top_k(scored: DataFrame) -> DataFrame:
    """Per-query top-K by ``cosine`` (ties to the smaller vec_id), the
    output shape every cosine query shares. floor(x*1e6) instead of
    round(): round() tie-breaking on doubles differs between engines;
    floor of identical doubles is identical."""
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), "vec_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("qid", "rank", F.col("vec_id").alias("neighbor_id"),
                F.floor(F.col("cosine") * 1e6).alias("cosine_e6"))
        .orderBy("qid", "rank")
    )


def _rerank_double(cand: DataFrame) -> DataFrame:
    """ANN re-rank: double left-fold cosine over (qid, qv, vec_id,
    embedding) candidates, then the per-query top-K."""
    return _top_k(cand.withColumn(
        "cosine", _dot_double("qv", "embedding")
        / (_norm_double("qv") * _norm_double("embedding"))))


def emb_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k for the first N_QUERIES vectors.

    Two-phase scoring: the exact DECIMAL dot — boxed BigDecimal
    arithmetic, ~10x per element vs a codegen'd double fold — is paid
    only by pairs that can reach the top-K. A double-precision fold
    ranks all pairs first. Each pair's fast cosine is within its slack
    ``s`` of the exact one (``_cosine_slack`` derives ``s`` from the
    two vectors' L1 norms and dimension). The K pairs with the largest
    fast cosines then have exact cosines >= kth - max(s), where kth is
    the query's K-th fast cosine and the max is over the query's pairs,
    so the exact K-th value is >= kth - max(s) too. A pair whose exact
    cosine reaches that value has fast >= kth - max(s) - s. The plan
    keeps exactly those pairs, so every true top-K pair (and every pair
    tied with the K-th) reaches the exact pass and the final DECIMAL
    ranking (ties by vec_id) is identical to ranking all pairs. max(s)
    is taken over the same qid window as kth: no extra exchange.
    Value parity is held by the unchanged DuckDB oracle."""
    e = (load(spark, sf_dir, "embeddings")
         .withColumn("norm2", _norm_decimal("embedding"))
         .withColumn("l1", _l1_double("embedding")))
    q = (e.filter(F.col("vec_id") < N_QUERIES)
         .select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qv"),
                 F.col("norm2").alias("qnorm2"), F.col("l1").alias("ql1")))
    pairs = (q.crossJoin(F.broadcast(e).drop("label"))
             .filter(F.col("qid") != F.col("vec_id")))
    denom = (F.sqrt(F.col("qnorm2").cast("double"))
             * F.sqrt(F.col("norm2").cast("double")))
    fast = _dot_double("qv", "embedding") / denom
    slack = _cosine_slack("ql1", "l1", denom, F.size("qv"))
    w_fast = Window.partitionBy("qid").orderBy(F.desc("fast"), "vec_id")
    w_q = Window.partitionBy("qid")
    kth = F.min(F.when(F.col("rf") <= TOP_K, F.col("fast"))).over(w_q)
    surv = (pairs.withColumn("fast", fast)
            .withColumn("slack", slack)
            .withColumn("rf", F.row_number().over(w_fast))
            .withColumn("kth", kth)
            .withColumn("max_slack", F.max("slack").over(w_q))
            .filter(F.col("fast")
                    >= F.coalesce(F.col("kth"), F.lit(float("-inf")))
                    - F.col("max_slack") - F.col("slack")))
    return _top_k(surv.withColumn(
        "cosine", _dot_decimal("qv", "embedding").cast("double") / denom))


def emb_knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN classification: majority label among the top-k neighbors
    (ties broken by smaller label id)."""
    topk = emb_cosine_topk(spark, sf_dir)
    lab = load(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("neighbor_id"), "label")
    votes = (
        topk.join(F.broadcast(lab), "neighbor_id")
        .groupBy("qid", "label").agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("n"), "label")
    return (
        votes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("qid", F.col("label").alias("predicted_label"),
                F.col("n").alias("votes"))
        .orderBy("qid")
    )


# --------------------------------------------------- LSH-bucketed ANN (scale)

# 128 hyperplanes -> 16 bands x 8-bit keys (256 buckets per band), with
# radius-1 multi-probe on the query side. Sizing rule at scale: keep
# expected bucket occupancy bounded by growing the key width with the
# corpus — band_bits ~ log2(n / target_bucket_size) — so candidates per
# query stay O(n_bands * probes * bucket_size), independent of n. The
# previous 4-bit keys gave 16 buckets/band, i.e. ~n/4 candidates per
# query: brute force with extra steps at 10^9 vectors.
N_PLANES = 128
N_BANDS = 16
BAND_BITS = N_PLANES // N_BANDS  # 8


@lru_cache(maxsize=8)
def _planes_matrix(dim: int) -> np.ndarray:
    """Deterministic pseudo-random hyperplanes (seeded xorshift, no wall
    clock): (dim, N_PLANES) float64 matrix. Memoized per dim — the pandas
    UDF calls this once per Arrow batch, and the ~8k-iteration generator
    loop would otherwise re-run on the hot signature path every batch."""
    state = 88172645463325252
    vals = []
    for _ in range(N_PLANES * dim):
        state ^= (state << 13) & 0xFFFFFFFFFFFFFFFF
        state ^= state >> 7
        state ^= (state << 17) & 0xFFFFFFFFFFFFFFFF
        vals.append(((state % 2001) - 1000) / 1000.0)
    return np.asarray(vals, dtype=np.float64).reshape(N_PLANES, dim).T


@F.pandas_udf(T.ArrayType(T.IntegerType()))
def _band_keys_udf(emb: pd.Series) -> pd.Series:
    """Vectorized signature: one numpy matmul per Arrow batch
    (n x dim) @ (dim x 128) -> sign bits -> 16 packed 8-bit band keys.
    The matmul is the textbook case for a pandas UDF — 128 interpreted
    higher-order-function aggregates per row would be ~100x slower."""
    if len(emb) == 0:
        return pd.Series([], dtype=object)
    m = np.stack([np.asarray(v, dtype=np.float64) for v in emb])
    p = _planes_matrix(m.shape[1])
    bits = (m @ p) > 0  # (n, N_PLANES)
    weights = 1 << np.arange(BAND_BITS)
    out = np.zeros((len(m), N_BANDS), dtype=np.int32)
    for b in range(N_BANDS):
        out[:, b] = bits[:, b * BAND_BITS:(b + 1) * BAND_BITS] @ weights
    return pd.Series(list(out))


# Round 9 (guide par.4.4): the optimizer pushes the posexplode's generated
# size/isnotnull filter below the UDF projection and DUPLICATES the UDF —
# every banding plan evaluated the signature matmul twice per join side
# (plan-verified: 8 ArrowEvalPython nodes in emb_lsh_ann). The values are
# deterministic; the non-deterministic mark only forbids the optimizer
# from re-evaluating/reordering the call, yielding one eval per side.
_band_keys_udf = _band_keys_udf.asNondeterministic()


def _banded_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (vec_id, band, key) inverted-index postings — the narrow
    relation every banding join probes. Materialized once per call with
    localCheckpoint (eager, no CacheManager residue — see
    doc_minhash_lsh_pairs) because both sides of a banding self-join
    (and the query + data sides of the ANN probe join) consume it:
    without the checkpoint each side re-runs the signature UDF over the
    full corpus. ~16 short rows per vector; the production analogue is
    the precomputed LSH index table."""
    e = load(spark, sf_dir, "embeddings")
    sig = e.withColumn("bkeys", _band_keys_udf("embedding"))
    banded = sig.select(
        "vec_id", F.posexplode("bkeys").alias("band", "key"))
    return banded.localCheckpoint(eager=True)


def lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(qid, qv, vec_id, embedding) candidate pairs from the banding join.

    Data side: exact (band, key) postings — ONE row per (vector, band),
    the inverted index a real deployment would precompute and bucket-join.
    Query side: multi-probe — each query also probes every key within
    Hamming distance 1 of its own band key, which buys recall on
    weakly-correlated neighbors without growing the index.

    Round 9 (guide par.2.3 "shuffle keys, not payloads"): the banding
    join and the candidate dedup operate on (qid, vec_id) IDS ONLY; the
    embedding arrays are attached AFTER the distinct by two id joins.
    The previous plan carried both embedding payloads through the
    posexplode, the join and a distinct whose hash keys were the float
    arrays themselves (per-element NaN/zero normalization on every
    compare) — the narrow form shuffles a fraction of the bytes and its
    dedup compares two longs."""
    banded = _banded_postings(spark, sf_dir)
    q0 = banded.filter(F.col("vec_id") < N_QUERIES)
    probes = [F.col("key")] + [F.col("key").bitwiseXOR(F.lit(1 << i))
                               for i in range(BAND_BITS)]
    q = q0.select(
        F.col("vec_id").alias("qid"), "band",
        F.explode(F.array(*probes)).alias("key"))
    cand_ids = (
        F.broadcast(q).join(banded, ["band", "key"])
        .filter(F.col("qid") != F.col("vec_id"))
        .select("qid", "vec_id")
        .distinct()
    )
    e = load(spark, sf_dir, "embeddings")
    qv = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv"))
    # candidates are O(n_queries x bounded-bucket-size) — broadcast them
    # onto the corpus scan so the big side is never shuffled
    return (
        F.broadcast(cand_ids.join(F.broadcast(qv), "qid"))
        .join(e, "vec_id")
        .select("qid", "qv", "vec_id", "embedding")
    )


def emb_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate NN via random-hyperplane LSH (see ``lsh_candidates``);
    exact cosine re-ranks candidates only. At 10^9+ vectors the banding
    join replaces the cross join; everything else is unchanged."""
    return _rerank_double(lsh_candidates(spark, sf_dir))


# ------------------------------------------------------ IVF ANN (scale path 2)

# Coarse quantizer: K cells (derived from corpus size, see ivf_k_for),
# stride-seeded, IVF_ITERS Lloyd rounds. Everything is
# DETERMINISTIC by construction so the sequential oracle reproduces it
# bit-for-bit: (1) assignment compares cosine to the cell's
# SUM vector (cosine is scale-invariant, so the mean's division — whose
# decimal scale semantics differ per engine — is never computed);
# (2) cell sums are order-fixed folds over vec_id-sorted members
# (array_sort(collect_list) + left-fold), not a shuffle-order SUM;
# (3) the training sample is a vec_id modulus, not df.sample() (whose
# row order dependence no oracle could reproduce);
# (4) K itself is a pure function of the corpus row count.
IVF_K_MIN = 4
IVF_K_MAX = 65536
IVF_NPROBE = 4
IVF_ITERS = 2


def ivf_k_for(n: int) -> int:
    """Cell count for an n-vector corpus: K ~ sqrt(n). With
    K = sqrt(n) and fixed nprobe the candidate set per query is
    ~ nprobe * sqrt(n): sub-linear serve cost as the corpus grows. To
    HOLD recall while the corpus grows instead, scale nprobe with K
    (constant nprobe/K scan fraction — still a K/nprobe-fold saving
    over brute force); BENCH/IVF_RECALL.md records the measured
    recall@nprobe curve at two corpus sizes. Clamped to
    [IVF_K_MIN, IVF_K_MAX]; the sequential oracle derives K with this
    same function, so engine and oracle agree at any corpus size.
    The derived K is always ACHIEVABLE because the training sample
    scales with it (ivf_train_target: >= IVF_TRAIN_PER_CELL rows per
    cell) — with the old flat 512-row sample, k_eff silently saturated
    at ~512 past ~262k vectors and serve cost reverted to linear
    (round-8 advice)."""
    return max(IVF_K_MIN, min(IVF_K_MAX, round(math.sqrt(max(n, 1)))))
# Lloyd runs on a bounded deterministic sample (vec_id % mod == 0, mod
# sized so ~ivf_train_target(n) rows survive); only ASSIGNMENT of the
# full corpus stays full-scale — the standard IVF train/serve split. At
# 10^12 vectors training cost is O(sample), not O(corpus).
IVF_TRAIN_TARGET = 512
# sample rows per trained cell: the k = sqrt(n) rule is only achievable
# if the training sample holds at least k distinct seeds, so the sample
# target must GROW with k (round-8 advice: a flat 512-row sample silently
# capped k_eff at ~512 for any corpus past ~262k vectors, reverting the
# serve cost to linear nprobe*n/512 while the docstrings claimed sqrt(n))
IVF_TRAIN_PER_CELL = 8


def ivf_train_target(n: int) -> int:
    """Training-sample size for an n-vector corpus: at least
    IVF_TRAIN_TARGET rows, and at least IVF_TRAIN_PER_CELL rows per
    derived cell so ivf_k_for(n) seeds always fit the sample (k_eff
    never saturates below the sqrt(n) rule; the driver-side id collect
    stays tiny — 8*sqrt(10^12) ~ 8M ints at the worst). The sequential
    oracle derives the sample with this same function."""
    return max(IVF_TRAIN_TARGET, IVF_TRAIN_PER_CELL * ivf_k_for(n))

# one-train-many-queries: trained models memoized per (corpus dir,
# corpus fingerprint) so repeated queries never re-run Lloyd or count the
# corpus. train_runs is a test hook counting actual trainings.
_ivf_model_cache: dict[str, np.ndarray] = {}
_ivf_train_stats = {"train_runs": 0}


def _ivf_seed_ids(ids: list[int], k: int) -> list[int]:
    """Seed ids by POSITION stride over the sorted id list — robust to
    gapped vec_ids and to n < k (clamped positions collapse to duplicates,
    which dedupe to fewer cells) — per round-4 advice: the old
    ``vec_id == i*stride`` form assumed contiguous ids and n >= k."""
    n = len(ids)
    stride = max(n // k, 1)
    seen: set[int] = set()
    out: list[int] = []
    for i in range(k):
        sid = ids[min(i * stride, n - 1)]
        if sid not in seen:
            seen.add(sid)
            out.append(sid)
    return out


def _centroid_cosine(cents: np.ndarray):
    """Returns batch -> (n, K) cosine matrix of an Arrow batch of
    embeddings against the (sum-vector) centroids: one numpy matmul.
    A zero norm counts as 1, so a zero vector scores 0 everywhere."""
    norms = np.linalg.norm(cents, axis=1)
    norms[norms == 0] = 1.0

    def cosine(emb: pd.Series) -> np.ndarray:
        m = np.stack([np.asarray(v, dtype=np.float64) for v in emb])
        mn = np.linalg.norm(m, axis=1)
        mn[mn == 0] = 1.0
        return (m @ cents.T) / np.outer(mn, norms)

    return cosine


def _ivf_assign_udf(cents: np.ndarray):
    """Pandas UDF assigning each vector to its nearest cell by cosine
    against the (sum-vector) centroids — one numpy matmul per Arrow
    batch. Ties break to the lowest cell id (argmax first-wins)."""
    cosine = _centroid_cosine(cents)

    @F.pandas_udf(T.IntegerType())
    def assign(emb: pd.Series) -> pd.Series:
        if len(emb) == 0:
            return pd.Series([], dtype="int32")
        return pd.Series(np.argmax(cosine(emb), axis=1).astype("int32"))

    # deterministic in value; the mark stops the optimizer duplicating
    # the matmul below its own pushed-down filters (guide par.4.4 — the
    # serve plan evaluated assign() twice over the full corpus)
    return assign.asNondeterministic()


def ivf_train_centroids(spark: SparkSession, sf_dir: str) -> np.ndarray:
    """Train the coarse quantizer distributed, on a bounded sample: keep
    vec_id % mod == 0 rows (mod sized for ~IVF_TRAIN_TARGET survivors —
    deterministic, so the sequential oracle reproduces it), seed by
    position stride over the sorted sample ids, then IVF_ITERS Lloyd
    rounds of (distributed assignment -> per-cell order-fixed component
    folds -> K x dim driver-side model update). Only the K x dim centroid
    state and the sample id list ever reach the driver. K is
    ivf_k_for(corpus size), from the count this pass already takes."""
    _ivf_train_stats["train_runs"] += 1
    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    n = e.count()
    if n == 0:
        raise ValueError("cannot train an IVF model on an empty corpus")
    k = ivf_k_for(n)
    mod = max(n // ivf_train_target(n), 1)
    train = e.filter((F.col("vec_id") % mod) == 0) if mod > 1 else e
    ids = sorted(r["vec_id"] for r in train.select("vec_id").collect())
    if not ids:
        # gapped vec_ids can leave the modulus sample empty (e.g. an
        # all-odd id space with mod > 1) — fall back to the full corpus
        # rather than crash in _ivf_seed_ids on an empty list (round-6
        # advice). Deterministic, and the oracle mirrors the fallback.
        train = e
        ids = sorted(r["vec_id"] for r in train.select("vec_id").collect())
    seed_ids = _ivf_seed_ids(ids, k)
    seeds = {r["vec_id"]: r["embedding"]
             for r in train.filter(F.col("vec_id").isin(seed_ids)).collect()}
    cents = np.stack([np.asarray(seeds[i], dtype=np.float64)
                      for i in seed_ids])
    for _ in range(IVF_ITERS):
        assigned = train.withColumn(
            "cell", _ivf_assign_udf(cents)("embedding"))
        comp = assigned.select(
            "cell", "vec_id",
            F.posexplode(F.col("embedding").cast("array<double>"))
            .alias("pos", "v"))
        # order-fixed fold: sort members by vec_id, then left-fold —
        # float addition is not associative, so a plain SUM would be
        # shuffle-order-dependent and the oracle could never match it
        folded = (
            comp.groupBy("cell", "pos")
            .agg(F.aggregate(
                F.array_sort(F.collect_list(F.struct("vec_id", "v"))),
                F.lit(0.0), lambda acc, x: acc + x["v"]).alias("s"))
        )
        rows = folded.collect()
        new = cents.copy()
        by_cell: dict[int, dict[int, float]] = {}
        for r in rows:
            by_cell.setdefault(r["cell"], {})[r["pos"]] = r["s"]
        for c, posmap in by_cell.items():
            new[c] = [posmap[p] for p in range(cents.shape[1])]
        cents = new
    return cents


def _corpus_fingerprint(sf_dir: str) -> str:
    """Cheap fingerprint of the embeddings corpus (total bytes + max
    mtime of the parquet file/dir) so the in-memory model memo
    invalidates when the corpus is regenerated at the same path
    (round-6 advice — tests previously had to clear the cache by hand
    around corpus rewrites)."""
    import os

    path = os.path.join(sf_dir, "embeddings.parquet")
    size, mtime = 0, 0.0
    if os.path.isdir(path):
        for root, _dirs, files in os.walk(path):
            for f in files:
                st = os.stat(os.path.join(root, f))
                size += st.st_size
                mtime = max(mtime, st.st_mtime)
    elif os.path.exists(path):
        st = os.stat(path)
        size, mtime = st.st_size, st.st_mtime
    return f"{size}:{mtime:.6f}"


def ivf_model(spark: SparkSession, sf_dir: str) -> np.ndarray:
    """Train once per corpus: the in-memory memo is keyed by (corpus
    dir, corpus fingerprint), so ``emb_ivf_ann`` never re-runs Lloyd,
    nor the count that derives K, for a corpus this session."""
    import os

    key = f"{os.path.realpath(sf_dir)}|{_corpus_fingerprint(sf_dir)}"
    cents = _ivf_model_cache.get(key)
    if cents is None:
        cents = _ivf_model_cache[key] = ivf_train_centroids(spark, sf_dir)
    return cents


def emb_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate NN — the second scale path next to the LSH one:
    vectors are bucketed by nearest coarse centroid (inverted file), a
    query probes its IVF_NPROBE nearest cells, and the exact left-fold
    cosine re-ranks candidates only. The candidate join is an equi-join
    on cell id; candidates per query ~ nprobe * n / K. K is
    ivf_k_for(corpus size), so the candidate set stays ~ nprobe *
    sqrt(n) as the corpus grows; the sequential oracle
    (sketch_oracle.ivf_ann_sql) derives K and reads IVF_NPROBE
    identically, so the driver's value-parity gate holds at any corpus
    size. The model comes from ``ivf_model`` (memoized) — no Lloyd pass
    on the query path."""
    cents = ivf_model(spark, sf_dir)
    nprobe = min(IVF_NPROBE, cents.shape[0])
    e = load(spark, sf_dir, "embeddings")
    data = e.withColumn("cell", _ivf_assign_udf(cents)("embedding")).select(
        F.col("vec_id"), F.col("embedding"), "cell")

    cosine = _centroid_cosine(cents)

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def probe_cells(emb: pd.Series) -> pd.Series:
        if len(emb) == 0:
            return pd.Series([], dtype=object)
        cos = cosine(emb)
        # nprobe best cells, ties to lower id: sort by (-cos, cell)
        order = np.lexsort((np.arange(cos.shape[1])[None, :]
                            .repeat(len(emb), 0), -cos), axis=1)
        return pd.Series(list(order[:, :nprobe].astype("int32")))

    # non-deterministic mark: same duplication fix as _ivf_assign_udf
    # (the explode's generated size/isnotnull filter otherwise doubles
    # the probe matmul, guide par.4.4)
    probe_cells = probe_cells.asNondeterministic()

    q = (e.filter(F.col("vec_id") < N_QUERIES)
         .withColumn("cells", probe_cells("embedding"))
         .select(F.col("vec_id").alias("qid"),
                 F.col("embedding").alias("qv"),
                 F.explode("cells").alias("cell")))
    # No distinct: each data vector lives in exactly ONE cell (argmax)
    # and a query's nprobe probe cells are distinct by construction, so
    # (qid, vec_id) pairs are already unique — the former .distinct()
    # was a no-op that shuffled both embedding payloads and hashed the
    # float arrays (NaN/zero-normalized per element) as dedup keys
    # (round 9; uniqueness pinned in test_sketch_and_media). The probe
    # side is O(n_queries x nprobe) rows — broadcast it so the corpus
    # side is never shuffled (BuildLeft instead of broadcasting the
    # whole assigned corpus, which is the side that GROWS).
    return _rerank_double(
        F.broadcast(q).join(data, "cell")
        .filter(F.col("qid") != F.col("vec_id"))
        .select("qid", "qv", "vec_id", "embedding"))


NEAR_DUP_THRESHOLD = 0.35


def emb_cosine_near_dup(spark: SparkSession, sf_dir: str,
                        threshold: float = NEAR_DUP_THRESHOLD) -> DataFrame:
    """Embedding-cosine near-duplicate PAIRS — the dedup-shaped variant
    (all pairs a < b above a similarity threshold), with LSH banding as
    the candidate generator so the plan is an equi-join on (band, key)
    instead of an n^2 cross join: the same scale shape as the MinHash
    text dedup, over vectors.

    Semantics are candidate-restricted by design: a pair qualifies iff
    it shares at least one of the 16 8-bit band keys AND its exact
    cosine (DECIMAL dot products, engine-independent) clears the
    threshold. Recall against brute force follows the banding curve
    (1-(1-(1-theta/pi)^8)^16) — near 1.0 for true duplicates
    (cos -> 1), deliberately low for weakly-similar pairs. The synthetic
    corpus plants no true duplicates (max pairwise cosine ~0.5-0.6), so
    the default threshold sits at the distribution's top tail to keep
    the operator demonstrably firing; production corpora with real
    dups use 0.9+ where the banding recall is what makes this exact-in-
    practice."""
    # the banding join and its (a, b) dedup carry ids only (the
    # (vec_id, band, key) postings shared with emb_lsh_ann); the
    # embeddings and their norms are attached to the distinct pairs
    pairs = _band_pairs(_banded_postings(spark, sf_dir), "vec_id").distinct()
    e = load(spark, sf_dir, "embeddings")
    ea, eb = (e.select(F.col("vec_id").alias(s),
                       F.col("embedding").alias(f"{s}v"),
                       _norm_decimal("embedding").alias(f"{s}n2"),
                       _l1_double("embedding").alias(f"{s}l1"))
              for s in "ab")
    # two-phase scoring: the double-precision fold (as in
    # emb_cosine_topk) cuts the candidate set down to near-threshold
    # pairs, and only those pay the exact DECIMAL dot (boxed BigDecimal
    # arithmetic, ~10x slower per element). A pair with exact cosine
    # >= threshold has fast cosine >= threshold - slack (_cosine_slack),
    # so the final decimal-based threshold decides every borderline
    # pair — the prefilter can only drop pairs provably below it.
    denom = (F.sqrt(F.col("an2").cast("double"))
             * F.sqrt(F.col("bn2").cast("double")))
    slack = _cosine_slack("al1", "bl1", denom, F.size("av"))
    scored = (
        pairs.join(ea, "a").join(eb, "b")
        .filter(_dot_double("av", "bv") / denom >= threshold - slack)
        .withColumn("cosine",
                    _dot_decimal("av", "bv").cast("double") / denom)
        .filter(F.col("cosine") >= threshold)
    )
    return (scored.select("a", "b",
                          F.floor(F.col("cosine") * 1e6).alias("cosine_e6"))
            .orderBy("a", "b"))


def emb_dup_clusters(spark: SparkSession, sf_dir: str,
                     threshold: float = NEAR_DUP_THRESHOLD,
                     max_iters: int = 20) -> DataFrame:
    """Embedding near-dup cluster resolution: connected components over
    the emb_cosine_near_dup pair graph — the vector-space mirror of
    doc_dup_clusters, closing the dedup lifecycle (pairs -> clusters ->
    keep-representative) for semantic duplicates the text sketches miss.

    Reuses the min-label-propagation fixpoint from the text operators
    (see doc_dup_clusters for the sweep-cost story); the pair plan stays
    the banding equi-join, and localCheckpoint inside the loop cuts it
    off the per-sweep lineage.
    The DuckDB oracle resolves the same fixpoint as a recursive CTE over
    the tabulated-banding pair oracle (sketch_oracle.py)."""
    pairs = emb_cosine_near_dup(spark, sf_dir, threshold).select("a", "b")
    labels = _connected_components(pairs, max_iters=max_iters)
    sizes = labels.groupBy("lab").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (labels.join(sizes, "lab")
            .select(F.col("node").alias("vec_id"),
                    F.col("lab").alias("cluster_rep"), "cluster_size")
            .orderBy("vec_id"))


def emb_label_centroid_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per label: count + exact decimal mean-norm stats (sanity rollup)."""
    e = load(spark, sf_dir, "embeddings")
    n2 = _norm_decimal("embedding").cast("double")
    return (
        e.withColumn("norm", F.round(F.sqrt(n2), 6))
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("n_vecs"),
             F.round(F.min("norm"), 6).alias("min_norm"),
             F.round(F.max("norm"), 6).alias("max_norm"))
        .orderBy("label")
    )


ORACLE_SQL: dict[str, str] = {
    "emb_cosine_topk": f"""
        WITH n AS (
          SELECT vec_id, embedding,
                 (SELECT SUM(CAST(x AS DECIMAL(18,9)) * CAST(x AS DECIMAL(18,9)))
                  FROM (SELECT unnest(embedding) AS x) t) AS norm2
          FROM embeddings
        ), pairs AS (
          SELECT q.vec_id AS qid, e.vec_id AS neighbor_id,
                 (SELECT SUM(CAST(a AS DECIMAL(18,9)) * CAST(b AS DECIMAL(18,9)))
                  FROM (SELECT unnest(q.embedding) AS a, unnest(e.embedding) AS b) t) AS dot,
                 q.norm2 AS qn2, e.norm2 AS en2
          FROM n q JOIN n e ON q.vec_id < {N_QUERIES} AND q.vec_id <> e.vec_id
        ), scored AS (
          SELECT qid, neighbor_id,
                 CAST(dot AS DOUBLE) /
                 (sqrt(CAST(qn2 AS DOUBLE)) * sqrt(CAST(en2 AS DOUBLE))) AS cosine
          FROM pairs
        )
        SELECT qid, rank, neighbor_id,
               CAST(FLOOR(cosine * 1e6) AS BIGINT) AS cosine_e6 FROM (
          SELECT *, row_number() OVER (PARTITION BY qid
                                       ORDER BY cosine DESC, neighbor_id) AS rank
          FROM scored
        ) WHERE rank <= {TOP_K} ORDER BY qid, rank
    """,
    "emb_knn_label_vote": f"""
        WITH n AS (
          SELECT vec_id, label, embedding,
                 (SELECT SUM(CAST(x AS DECIMAL(18,9)) * CAST(x AS DECIMAL(18,9)))
                  FROM (SELECT unnest(embedding) AS x) t) AS norm2
          FROM embeddings
        ), scored AS (
          SELECT q.vec_id AS qid, e.vec_id AS neighbor_id, e.label,
                 CAST((SELECT SUM(CAST(a AS DECIMAL(18,9)) * CAST(b AS DECIMAL(18,9)))
                       FROM (SELECT unnest(q.embedding) AS a, unnest(e.embedding) AS b) t) AS DOUBLE) /
                 (sqrt(CAST(q.norm2 AS DOUBLE)) * sqrt(CAST(e.norm2 AS DOUBLE))) AS cosine
          FROM n q JOIN n e ON q.vec_id < {N_QUERIES} AND q.vec_id <> e.vec_id
        ), topk AS (
          SELECT qid, label FROM (
            SELECT qid, label,
                   row_number() OVER (PARTITION BY qid
                                      ORDER BY cosine DESC, neighbor_id) AS rank
            FROM scored
          ) WHERE rank <= {TOP_K}
        ), votes AS (
          SELECT qid, label, COUNT(*) AS n FROM topk GROUP BY 1, 2
        )
        SELECT qid, predicted_label, votes FROM (
          SELECT qid, label AS predicted_label, n AS votes,
                 row_number() OVER (PARTITION BY qid ORDER BY n DESC, label) AS rn
          FROM votes
        ) WHERE rn = 1 ORDER BY qid
    """,
    "emb_label_centroid_sim": """
        WITH n AS (
          SELECT label,
                 ROUND(sqrt(CAST((SELECT SUM(CAST(x AS DECIMAL(18,9)) * CAST(x AS DECIMAL(18,9)))
                                  FROM (SELECT unnest(embedding) AS x) t) AS DOUBLE)), 6) AS norm
          FROM embeddings
        )
        SELECT label, COUNT(*) AS n_vecs,
               ROUND(MIN(norm), 6) AS min_norm,
               ROUND(MAX(norm), 6) AS max_norm
        FROM n GROUP BY label ORDER BY label
    """,
}

QUERIES = {
    "emb_cosine_topk": emb_cosine_topk,
    "emb_knn_label_vote": emb_knn_label_vote,
    "emb_label_centroid_sim": emb_label_centroid_sim,
    # rows-only: approximate path, recall checked in pytest vs brute force
    "emb_lsh_ann": emb_lsh_ann,
    # second ANN scale path: inverted-file coarse quantizer (sequential
    # oracle via sketch_oracle.ivf_ann_sql; recall-tested vs brute force)
    "emb_ivf_ann": emb_ivf_ann,
    # oracled via sketch_oracle.cosine_near_dup_sql (banding tabulated,
    # decimal cosine + threshold re-derived in DuckDB SQL)
    "emb_cosine_near_dup": emb_cosine_near_dup,
    # oracled via sketch_oracle.cosine_dup_clusters_sql (recursive-CTE
    # fixpoint over the same pair oracle)
    "emb_dup_clusters": emb_dup_clusters,
}
