"""Similarity search over the embeddings table (beyond-reference surface).

- brute-force cosine top-k: the exactness baseline. Queries are broadcast
  (small side), so the scan side streams the corpus once — at 100 TB the
  plan is a single pass with a per-partition top-k (window) merge, the DF
  analogue of the reference's broadcast + per-partition scan + treeReduce
  merge (``KNNRunner.scala:318-332``).
- embedding near-dup pairs: cosine ≥ threshold among LSH-bucketed candidate
  pairs (random-hyperplane signs derived from md5 so the bucketing is
  engine-reproducible).

All math fp64. The distributed plans use builtin array ops
(functions/vectors.py); no Python UDFs.

**Dispatch rule.** ``sim_lsh_bucket_pairs`` fetches the raw embeddings to
the driver in one bounded action while the table has at most
``LOCAL_MAX_VECTORS`` rows (unique, non-null ids; equal-length, non-null,
finite vectors) and the buckets hold at most ``pairs.LOCAL_MAX_PAIRS``
candidate pairs, and bucket-joins and verifies there with numpy
(sequential-fold dots, so bit-identical); otherwise the distributed bucket
self-join runs. ``dedup_embedding_cosine_lsh`` always runs distributed.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from spark_ml_algo_lib_master_tongji_spark.functions.rounding import round_half_up

from spark_ml_algo_lib_master_tongji_spark.functions import vectors as V
from spark_ml_algo_lib_master_tongji_spark.operators.pairs import (
    block_pairs,
    local_frame,
    local_rows,
    round_half_up_np,
    seq_dot,
    seq_pair_dot,
    seq_self_dot,
)
from spark_ml_algo_lib_master_tongji_spark.sources.readers import Catalog, spread

N_QUERIES = 10
TOP_K = 5


def brute_force_topk(
    corpus: DataFrame, queries: DataFrame, k: int = TOP_K
) -> DataFrame:
    """Exact cosine top-k: broadcast the query set, one streaming pass over
    the corpus, window row_number per query. Deterministic tie-break on
    corpus id after rounding."""
    q = F.broadcast(
        queries.select(
            F.col("vec_id").alias("query_id"),
            V.as_double_array("embedding").alias("qv"),
        )
    )
    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        V.as_double_array("embedding").alias("cv"),
    )
    scored = c.crossJoin(q).select(
        "query_id",
        "neighbor_id",
        round_half_up(V.cosine_similarity(F.col("qv"), F.col("cv")), 4).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def sim_brute_force_topk(cat: Catalog) -> DataFrame:
    emb = cat.embeddings
    queries = emb.where(F.col("vec_id") < N_QUERIES)
    corpus = spread(emb.where(F.col("vec_id") >= N_QUERIES))
    return brute_force_topk(corpus, queries, TOP_K)


def _hyperplane(dim: int, plane: int) -> list[float]:
    """Deterministic pseudo-random hyperplane from md5 — reproducible in SQL
    (DuckDB md5 is identical), unlike engine-native hash/rand."""
    import hashlib

    vals = []
    for d in range(dim):
        h = hashlib.md5(f"{plane}:{d}".encode()).hexdigest()
        vals.append((int(h[:8], 16) / 0xFFFFFFFF) * 2.0 - 1.0)
    return vals


def embedding_dim(emb: DataFrame, vec_col: str = "v") -> int:
    """Vector width read from the data (one-row action). Round-1 ADVICE:
    a hardcoded dim silently zero-padded ``zip_with`` dot products on any
    other corpus, collapsing every vector into bucket 0 — derive it."""
    row = emb.select(F.size(vec_col).alias("d")).head()
    return int(row["d"]) if row else 0


def bucket_expr(v_col: str, dim: int, n_planes: int = 8):
    """Sign-bit LSH bucket id (0..2^n_planes−1) for the vector column named
    ``v_col``, as ONE SQL expression. The hyperplanes are literal arrays in
    the plan (dim×planes doubles — trivially shipped with the plan, no
    broadcast needed); ``repr`` + ``D`` round-trips each double exactly.
    Built as a Python ``Column`` tree the same expression took 0.7-1.6 s
    of driver time per warm call on a 4-core host; as SQL text, 0.1-0.25 s
    (same buckets, bit for bit)."""
    bits = []
    for p in range(n_planes):
        plane = ", ".join(f"{x!r}D" for x in _hyperplane(dim, p))
        dot = (
            f"aggregate(zip_with({v_col}, array({plane}), (x, y) -> x * y),"
            " 0D, (acc, x) -> acc + x)"
        )
        bits.append(f"CASE WHEN {dot} > 0 THEN {2**p} ELSE 0 END")
    return F.expr(" + ".join(["0", *bits]))


def lsh_candidate_pairs(
    emb: DataFrame, n_planes: int = 8, threshold: float = 0.35
) -> DataFrame:
    """(vec_a < vec_b, cosine): bucket self-join candidates with exact
    rounded cosine ≥ threshold. Shuffle volume is O(bucket collisions);
    recall < 1 by construction (pairs split across buckets are unseen) —
    callers own that contract."""
    sigs = emb.select(
        "vec_id", "v", bucket_expr("v", embedding_dim(emb), n_planes).alias("bucket")
    )
    a, b = sigs.alias("a"), sigs.alias("b")
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            round_half_up(
                V.cosine_similarity(F.col("a.v"), F.col("b.v")), 4
            ).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


#: row ceiling of the driver-side arm of ``sim_lsh_bucket_pairs``. Driver
#: memory at the ceiling (50k 64-d vectors): the fetched rows as Python
#: float lists ~100 MB, the float64 matrix 25.6 MB, the (n, n_planes)
#: projections 3.2 MB; candidate pairs are bounded by
#: ``pairs.LOCAL_MAX_PAIRS``.
LOCAL_MAX_VECTORS = 50_000

_LSH_PAIRS_SCHEMA = T.StructType(
    [
        T.StructField("vec_a", T.LongType()),
        T.StructField("vec_b", T.LongType()),
        T.StructField("cosine", T.DoubleType()),
    ]
)


def _lsh_pairs_local(
    cat: Catalog, n_planes: int, threshold: float
) -> DataFrame | None:
    """``lsh_candidate_pairs`` on the driver, or None off its domain: null
    or ragged vectors (the distributed arm reads dim from one row) and
    non-finite values or zero norms (Spark orders NaN above every number
    and raises on x/0 under ANSI; numpy does neither)."""
    fetched = local_rows(cat.embeddings, "vec_id", "embedding", LOCAL_MAX_VECTORS)
    if fetched is None:
        return None
    ids, vecs = fetched
    dim = len(vecs[0]) if vecs else 0
    if any(v is None or len(v) != dim for v in vecs):
        return None
    x = np.array(vecs, np.float64).reshape(len(vecs), dim)
    if not np.isfinite(x).all():
        return None
    planes = np.array([_hyperplane(dim, p) for p in range(n_planes)])
    bucket = (seq_dot(x, planes) > 0) @ (1 << np.arange(n_planes))
    pairs = block_pairs(bucket, ids)
    if pairs is None:
        return None
    i, j = pairs
    norm = np.sqrt(seq_self_dot(x))
    den = norm[i] * norm[j]
    if (den == 0).any():
        return None
    cos = round_half_up_np(seq_pair_dot(x, i, j) / den, 4)
    keep = cos >= threshold
    return local_frame(
        cat.spark,
        {"vec_a": ids[i[keep]], "vec_b": ids[j[keep]], "cosine": cos[keep]},
        _LSH_PAIRS_SCHEMA,
    )


def sim_lsh_bucket_pairs(
    cat: Catalog, n_planes: int = 8, threshold: float = 0.35
) -> DataFrame:
    """Random-hyperplane LSH near-dup pairs: sign-bit signature → bucket
    self-join → exact cosine on candidates ≥ threshold."""
    local = _lsh_pairs_local(cat, n_planes, threshold)
    if local is not None:
        return local
    emb = spread(cat.embeddings).select(
        "vec_id", V.as_double_array("embedding").alias("v")
    )
    return lsh_candidate_pairs(emb, n_planes, threshold)


#: registry-exported query names (ordering lives in registry._ORDER)
QUERIES = (
    "sim_brute_force_topk",
    "sim_lsh_bucket_pairs",
)
