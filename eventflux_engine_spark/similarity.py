"""Similarity search over embedding columns (``array<float>``).

Two tiers, as a 100 TB pipeline needs:

- **brute-force cosine top-k** (the correctness baseline): JVM-side
  ``zip_with``/``aggregate`` expressions — no Python, whole-stage codegen —
  over an equi- or cross-join. Exact, O(N·Q).
- **LSH-bucketed ANN** (the scale path): random-hyperplane signatures turn
  the cross join into an equi-join on the bucket id. Hyperplanes are
  deterministic literals (seeded), shared verbatim with the SQL oracle.
- **numpy batch kNN** (:func:`knn_batch_pandas`): Arrow-batched
  ``mapInPandas`` matmul against a broadcast query matrix — the
  high-throughput variant used by the bench (vectorized, no per-row Python).

Embedding near-dup augmentation mirrors ``dedup.augmented_documents``:
the driver's embeddings are near-orthogonal (max pairwise cosine ≈ 0.51), so
near-dup queries operate on a corpus augmented with deterministic
perturbations (relative ±5%·sin(i) per component → cosine ≈ 0.999).
"""

from __future__ import annotations

import math
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

N_HYPERPLANES = 8
DIM = 64

__all__ = [
    "dot",
    "norm",
    "cosine",
    "augmented_embeddings",
    "augmented_count",
    "AUG_EMBEDDINGS_CTE",
    "brute_force_topk",
    "hyperplanes",
    "lsh_bucket",
    "lsh_bucket_sql",
    "qlsh_bucket",
    "qlsh_bucket_sql",
    "embedding_near_dup_lsh",
    "knn_batch_pandas",
    "kmeans_codebook_q",
    "kmeans_codebook_q_sql",
    "assign_codebook_np",
    "QKMeansResult",
]


def _as_double(c: Column) -> Column:
    return F.transform(c, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


# --- quantized cosine: bit-identical across engines --------------------------
# Floating-point fold order differs between Spark's aggregate() and DuckDB's
# list_cosine_similarity, so raw cosines can disagree in the last ulp and
# flip a round(,4) at a boundary — fatal for the driver's value-hash compare.
# Quantizing components to integers (floor(x·10⁴)) makes the dot product
# EXACT (bigint) and the remaining sqrt/divide are IEEE correctly-rounded on
# identical inputs → identical doubles in both engines.

Q_SCALE = 10_000


def _quant(x: Column) -> Column:
    return F.floor(x.cast("double") * Q_SCALE).cast("bigint")


def qdot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: _quant(x) * _quant(y)),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def qcosine(a: Column, b: Column) -> Column:
    return qdot(a, b).cast("double") / (
        F.sqrt(qdot(a, a).cast("double")) * F.sqrt(qdot(b, b).cast("double"))
    )


def qdot_sql(a: str, b: str) -> str:
    q = f"cast(floor(cast({{v}}[i] AS DOUBLE) * {Q_SCALE}) AS BIGINT)"
    return (
        f"list_sum(list_transform(generate_series(1, len({a})), "
        f"i -> {q.format(v=a)} * {q.format(v=b)}))"
    )


def qcosine_sql(a: str, b: str) -> str:
    return (
        f"(cast({qdot_sql(a, b)} AS DOUBLE) / "
        f"(sqrt(cast({qdot_sql(a, a)} AS DOUBLE)) * "
        f"sqrt(cast({qdot_sql(b, b)} AS DOUBLE))))"
    )


# -- deterministic near-dup augmentation --------------------------------------

# the augmentation rule: every base vector whose vec_id % AUG_EVERY == 0
# gets one perturbed copy at vec_id + AUG_ID_OFFSET
AUG_EVERY = 3
AUG_ID_OFFSET = 100000

# perturbation factors are exact rational arithmetic on the 1-based
# component index ((i%7)-3 ∈ [-3,3] → factor 0.85..1.15) — no libm calls, so
# Spark and DuckDB produce identical float components. Resulting cosine with
# the original ≈ 0.995 (>0.99 threshold); unrelated pairs max ≈ 0.51.
AUG_EMBEDDINGS_CTE = f"""
embeddings_aug AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + {AUG_ID_OFFSET} AS vec_id,
         list_transform(embedding,
           (x, i) -> cast(cast(x AS DOUBLE) * (1 + 0.05 * ((i % 7) - 3)) AS FLOAT)
         ) AS embedding
  FROM embeddings WHERE vec_id % {AUG_EVERY} = 0
)
"""


def augmented_embeddings(emb: DataFrame) -> DataFrame:
    base = emb.select("vec_id", "embedding")
    pert = emb.filter(F.col("vec_id") % AUG_EVERY == 0).select(
        (F.col("vec_id") + AUG_ID_OFFSET).alias("vec_id"),
        F.transform(
            F.col("embedding"),
            # Spark's lambda index is 0-based, DuckDB's 1-based → i+1
            lambda x, i: (
                x.cast("double") * (1 + 0.05 * (((i + 1) % 7) - 3))
            ).cast("float"),
        ).alias("embedding"),
    )
    return base.unionByName(pert)


def augmented_count(vec_ids: np.ndarray) -> int:
    """Row count of :func:`augmented_embeddings` over base rows with these
    ``vec_id`` values, computed on the driver without a Spark job."""
    v = np.asarray(vec_ids)
    return int(len(v) + (v % AUG_EVERY == 0).sum())


# -- brute force ---------------------------------------------------------------

def brute_force_topk(
    queries: DataFrame, corpus: DataFrame, k: int, exclude_self: bool = True
) -> DataFrame:
    """Exact top-k cosine neighbors per query vector.

    Plan: broadcast the (small) query side, stream the corpus through a
    single pass — one broadcast-nested-loop with codegen'd dot products, then
    a per-query top-k (row_number over cosine desc). At cluster scale the
    corpus side stays partitioned; no corpus shuffle happens.
    """
    # norms precomputed per side: cosine() inlined per pair would recompute
    # each vector's self-norm once per comparison; the quotient tree below
    # (dot / (norm_a * norm_b)) is IEEE-identical to cosine()
    q = queries.select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    ).withColumn("q_norm", norm(F.col("q_emb")))
    c = corpus.select(
        F.col("vec_id").alias("n_id"), F.col("embedding").alias("n_emb")
    ).withColumn("n_norm", norm(F.col("n_emb")))
    joined = F.broadcast(q).crossJoin(c)
    if exclude_self:
        joined = joined.filter(F.col("q_id") != F.col("n_id"))
    scored = joined.select(
        "q_id",
        "n_id",
        F.round(
            dot(F.col("q_emb"), F.col("n_emb")) / (F.col("q_norm") * F.col("n_norm")),
            4,
        ).alias("cos_sim"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("q_id").orderBy(
        F.col("cos_sim").desc(), F.col("n_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "n_id", "cos_sim", "rank")
    )


# -- LSH (random hyperplane) ----------------------------------------------------

def hyperplanes(n: int = N_HYPERPLANES, dim: int = DIM) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (seeded, engine-agnostic
    literals — the plane components are Python-computed constants inlined
    into both engines, so any stable generator qualifies).

    Per-plane seeded gaussians (PCG64, seed 1000003+j) so plane j is
    independent of how many planes a caller asks for. The previous
    ``sin(1 + j*dim + d)`` sequence was PAIRWISE CORRELATED across planes
    (corr(sin(x), sin(x + dim)) = cos(dim mod 2pi) ~ -0.86 at dim=64 →
    component correlation ~-0.43): correlated sign bits collapse most of
    the corpus into a few buckets per band, which is why widening bands
    never reduced candidate volume (36.5M pairs where balanced buckets
    give ~1.4M at sf1.0) — the skew was in the PLANES, not the data."""
    out = []
    for j in range(n):
        rng = np.random.default_rng(1000003 + j)
        out.append([float(v) for v in rng.standard_normal(dim)])
    return out


def lsh_bucket(emb_col: Column, n: int = N_HYPERPLANES, dim: int = DIM) -> Column:
    """Bucket id = sign bits of the dot products with the hyperplanes."""
    planes = hyperplanes(n, dim)
    bucket = None
    for j, plane in enumerate(planes):
        d = dot(emb_col, F.array(*[F.lit(v) for v in plane]))
        bit = F.when(d > 0, F.lit(1 << j)).otherwise(F.lit(0))
        bucket = bit if bucket is None else (bucket + bit)
    return bucket.cast("int")


def lsh_bucket_sql(emb_sql: str, n: int = N_HYPERPLANES, dim: int = DIM) -> str:
    planes = hyperplanes(n, dim)
    terms = []
    for j, plane in enumerate(planes):
        arr = "[" + ", ".join(repr(v) for v in plane) + "]"
        terms.append(
            f"(CASE WHEN list_dot_product({emb_sql}, {arr}) > 0"
            f" THEN {1 << j} ELSE 0 END)"
        )
    return "cast(" + " + ".join(terms) + " AS INTEGER)"


# -- quantized LSH: bit-identical bucket bits across engines -------------------
# The float lsh_bucket above folds doubles in engine-specific order; a dot
# product that lands near 0 could sign-flip between Spark and DuckDB. For
# ORACLE-GATED bucketing we quantize both the embedding components and the
# hyperplane components to integers (floor(x·10⁴)) — the per-plane dot is an
# exact bigint in both engines, so the sign bits (and hence every bucket id)
# are guaranteed identical.


def _qplane(plane: list[float]) -> list[int]:
    return [int(math.floor(v * Q_SCALE)) for v in plane]


def qlsh_bucket(
    emb_col: Column, plane_ids: tuple[int, ...], dim: int = DIM
) -> Column:
    """Bucket id from the given hyperplane subset (a band), via exact
    integer dot products."""
    planes = hyperplanes(max(plane_ids) + 1, dim)
    bucket = F.lit(0)
    for k, j in enumerate(plane_ids):
        arr = F.array(*[F.lit(v).cast("bigint") for v in _qplane(planes[j])])
        d = F.aggregate(
            F.zip_with(emb_col, arr, lambda x, p: _quant(x) * p),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        )
        bucket = bucket + F.when(d > 0, F.lit(1 << k)).otherwise(F.lit(0))
    return bucket.cast("int")


def qlsh_bucket_sql(
    emb_sql: str, plane_ids: tuple[int, ...], dim: int = DIM
) -> str:
    planes = hyperplanes(max(plane_ids) + 1, dim)
    terms = []
    for k, j in enumerate(plane_ids):
        arr = "[" + ", ".join(str(v) for v in _qplane(planes[j])) + "]"
        dot = (
            f"list_sum(list_transform(generate_series(1, len({emb_sql})), "
            f"i -> cast(floor(cast({emb_sql}[i] AS DOUBLE) * {Q_SCALE}) AS BIGINT)"
            f" * ({arr})[i]))"
        )
        terms.append(f"(CASE WHEN {dot} > 0 THEN {1 << k} ELSE 0 END)")
    return "cast(" + " + ".join(terms) + " AS INTEGER)"


# 2 bands × 4 planes (16 buckets/band). Band-width tradeoff measured at
# sf0.1 (2.7k vectors, 661 true pairs): this synthetic corpus is heavily
# CORRELATED, so widening to 3 bands × 8 planes (256 buckets/band) only cut
# candidates 782k → 349k — bucket skew, not bucket count, governs candidate
# volume here — while theoretical recall fell 0.97 → ~0.90 (observed 661 →
# 628 pairs). The production knobs for skew remain `max_bucket`-style caps
# + exact dedup upstream (see dedup.lsh_candidate_pairs); band width buys
# little against correlated mass.
NEAR_DUP_BANDS: tuple[tuple[int, ...], ...] = ((0, 1, 2, 3), (4, 5, 6, 7))

# Scale path: 16 buckets/band is right for thousands of vectors but goes
# quadratic when the corpus grows (measured: 10x rows -> 33x wall at sf1.0,
# ~44M candidate pairs from ~1.7k-vector buckets). Banding must widen with
# corpus size: 4 bands x 10 planes = 1024 buckets/band keeps per-bucket
# mass ~n/1024 (sf1.0: ~1.4M candidates, was ~44M) while recall at
# cos>=0.99 IMPROVES (1-(1-p^10)^4 = 0.981 vs 1-(1-p^4)^2 = 0.972 at
# p=0.955). The layout switches on the corpus COUNT (deterministic from
# the data, mirrored by a count-gated union in the oracle SQL) so every
# sf stays value-gated.
NEAR_DUP_BANDS_WIDE: tuple[tuple[int, ...], ...] = (
    tuple(range(0, 10)), tuple(range(10, 20)),
    tuple(range(20, 30)), tuple(range(30, 40)),
)
NEAR_DUP_ADAPT_N = 10_000

# Third tier (round 5, found by the sf10 spot check): at 200k vectors the
# 1024-bucket bands saturate — occupancy ~n/1024 grows linearly, so
# candidate pairs grow QUADRATICALLY again (measured 795.7 s at sf10 =
# 166x wall for 100x rows vs sf0.1). 5 bands x 14 planes = 16384
# buckets/band pins occupancy back to ~n/16384 (~12 at sf10); recall at
# cos>=0.99 stays 1-(1-p^14)^5 ~ 0.976 at p=0.955. The general rule this
# ladder implements: band WIDTH must grow ~log2(n) to hold per-bucket
# mass constant — each tier adds bits as the corpus grows 10x.
NEAR_DUP_BANDS_XWIDE: tuple[tuple[int, ...], ...] = tuple(
    tuple(range(14 * i, 14 * (i + 1))) for i in range(5)
)
NEAR_DUP_ADAPT_N2 = 100_000


def near_dup_bands_for(n: int) -> tuple[tuple[int, ...], ...]:
    if n < NEAR_DUP_ADAPT_N:
        return NEAR_DUP_BANDS
    if n < NEAR_DUP_ADAPT_N2:
        return NEAR_DUP_BANDS_WIDE
    return NEAR_DUP_BANDS_XWIDE


def quantize_with_norm(
    df: DataFrame,
    emb_col: str = "embedding",
    id_cols: tuple = ("vec_id",),
    q_col: str = "qe",
    n_col: str = "qn",
) -> DataFrame:
    """Quantize an embedding column ONCE and attach its norm.

    qcosine(a, b) inlined per pair re-quantizes both arrays and recomputes
    both self-norms for every comparison (3 O(dim) folds + 2 quantizations
    per pair). Precomputing (quantized array, norm) per vector leaves ONE
    dot fold per pair; ``qcosine_pre`` reproduces qcosine's exact IEEE
    expression tree, so gated values are bit-identical."""
    qarr = F.transform(F.col(emb_col), lambda x: _quant(x))
    out = df.select(*id_cols, qarr.alias(q_col))
    return out.withColumn(
        n_col, F.sqrt(_qdot_arrays(F.col(q_col), F.col(q_col)).cast("double"))
    )


def qcosine_pre(qa: Column, qb: Column, na: Column, nb: Column) -> Column:
    """qcosine over pre-quantized arrays and pre-computed norms — the same
    dot/(sqrt*sqrt) tree as :func:`qcosine`, evaluated with one fold."""
    return _qdot_arrays(qa, qb).cast("double") / (na * nb)


def _qdot_arrays(qa: Column, qb: Column) -> Column:
    """Exact bigint dot over already-quantized bigint arrays."""
    return F.aggregate(
        F.zip_with(qa, qb, lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def _quantized_banded_base(
    emb: DataFrame, bands: tuple[tuple[int, ...], ...]
) -> DataFrame:
    """One Arrow pass over the corpus producing ``(vec_id, qe, qnorm,
    bk0..bkN)`` — quantized vector, its norm, and every band's bucket key.

    Why numpy and not Catalyst: quantization (``transform``), the self-norm
    and the per-plane dot products are all higher-order functions, which
    Spark evaluates INTERPRETED (CodegenFallback) at ~µs/element — and the
    downstream plan fans this subtree into up to five arms (both bucket-join
    sides + both verify sides + the cap), so the interpreted work ran 2-5x.
    Here the whole signature computation is one BLAS matmul per Arrow batch
    (vectors × plane matrix), bit-exact per the module's exactness argument:
    every product and partial sum is an integer below 2^53, which float64
    represents exactly regardless of summation order, so numpy, Spark SQL
    and DuckDB produce identical doubles, identical sign bits and identical
    bucket ids. The result is localCheckpointed (lazily) so each plan arm
    reads the tiny materialized table instead of recomputing the pass — at
    cluster scale this is the "write the fingerprint table once" step of
    the decision-pass/placement-pass design (guide §8); per-vector cost is
    O(dim·planes) either way.
    """
    import numpy as np
    import pyarrow as pa_

    dim = DIM
    planes = hyperplanes(max(max(b) for b in bands) + 1, dim)
    P = np.array([_qplane(p) for p in planes], dtype=np.float64)
    band_planes = [np.asarray(b, dtype=np.int64) for b in bands]
    n_bands = len(bands)

    def kernel(batches):
        for batch in batches:
            n = len(batch)
            if n == 0:
                continue
            idx = batch.schema.get_field_index
            emb_col = batch.column(idx("embedding"))
            E = np.asarray(emb_col.flatten(), dtype=np.float64).reshape(n, dim)
            Q = np.floor(E * float(Q_SCALE))  # == floor(cast(x AS double)*1e4)
            qn = np.sqrt(np.einsum("ij,ij->i", Q, Q))
            D = Q @ P.T  # (n, planes): exact integers in float64
            bits = D > 0
            qe_arr = pa_.FixedSizeListArray.from_arrays(
                pa_.array(Q.astype(np.int64).ravel()), dim
            ).cast(pa_.list_(pa_.int64()))
            cols = [batch.column(idx("vec_id")), qe_arr, pa_.array(qn)]
            for bp in band_planes:
                bk = (
                    bits[:, bp].astype(np.int64)
                    << np.arange(len(bp), dtype=np.int64)[None, :]
                ).sum(axis=1)
                cols.append(pa_.array(bk.astype(np.int32)))
            yield pa_.RecordBatch.from_arrays(
                cols,
                names=["vec_id", "qe", "qnorm"]
                + [f"bk{i}" for i in range(n_bands)],
            )

    schema = "vec_id long, qe array<bigint>, qnorm double, " + ", ".join(
        f"bk{i} int" for i in range(n_bands)
    )
    base = emb.select("vec_id", "embedding").mapInArrow(kernel, schema)
    return base.localCheckpoint(eager=False)


def embedding_near_dup_lsh(
    emb: DataFrame,
    threshold: float = 0.99,
    bands: tuple[tuple[int, ...], ...] | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs via banded hyperplane LSH — the 100 TB
    plan: candidate generation is an EQUI-join on (band, bucket) (never a
    cartesian); exact quantized cosine verifies only the candidates.

    Two 4-plane bands: a pair is a candidate if it agrees on either band —
    recall ≈ 1-(1-p⁴)² (~0.99 at cos 0.995) while each band keeps buckets
    small.

    Cost shape: each vector is quantized and normed ONCE up front; candidate
    pairs are DEDUPED across bands before verification, so the expensive
    64-element dot fold runs exactly once per unique candidate pair (the
    standard candidates→verify join of a production dedup pipeline).

    ``bands=None`` (default) picks the layout from the corpus size
    (:func:`near_dup_bands_for`): 2x4 below ``NEAR_DUP_ADAPT_N`` vectors,
    4x10 to ``NEAR_DUP_ADAPT_N2``, 5x14 above — band width grows ~log2(n)
    so per-bucket mass stays bounded as the corpus grows (candidates stay
    ~linear), recall ~unchanged at the 0.99 threshold.
    """
    if bands is None:
        bands = near_dup_bands_for(emb.count())
    # quantize + norm + every band bucket in ONE vectorized Arrow pass,
    # materialized once (see _quantized_banded_base: the interpreted-HOF
    # signature work otherwise re-runs in every plan arm)
    base = _quantized_banded_base(emb, bands)
    entries = [
        F.struct(F.lit(i).alias("band"), F.col(f"bk{i}").alias("bkey"))
        for i in range(len(bands))
    ]
    banded = base.select(
        "vec_id", F.explode(F.array(*entries)).alias("__bb")
    ).select(
        F.col("__bb.band").alias("band"), F.col("__bb.bkey").alias("bkey"), "vec_id"
    )
    a = banded.select("band", "bkey", F.col("vec_id").alias("vec_a"))
    b = banded.select("band", "bkey", F.col("vec_id").alias("vec_b"))
    pairs = (
        a.join(b, ["band", "bkey"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .distinct()
    )
    pa = base.select(
        F.col("vec_id").alias("vec_a"), F.col("qe").alias("qa"),
        F.col("qnorm").alias("na"),
    )
    pb = base.select(
        F.col("vec_id").alias("vec_b"), F.col("qe").alias("qb"),
        F.col("qnorm").alias("nb"),
    )
    scored = pairs.join(pa, "vec_a").join(pb, "vec_b").withColumn(
        "cos_raw",
        _qdot_arrays(F.col("qa"), F.col("qb")).cast("double")
        / (F.col("na") * F.col("nb")),
    )
    return (
        scored.filter(F.col("cos_raw") >= threshold)
        .select("vec_a", "vec_b", F.round("cos_raw", 4).alias("cos_sim"))
    )


def embedding_near_dup_lsh_sql(
    emb_cte: str = "embeddings_aug",
    threshold: float = 0.99,
    bands: tuple[tuple[int, ...], ...] | None = None,
) -> str:
    """DuckDB twin of :func:`embedding_near_dup_lsh` (same bands, same
    quantized buckets, same quantized cosine). ``bands=None`` mirrors the
    size-adaptive layout with a count-gated union: both layouts are in the
    SQL, a scalar-subquery predicate on count(*) activates exactly one —
    so ONE static oracle string stays value-exact at every sf."""
    if bands is not None:
        selects = [
            f"SELECT {bi} AS band, {qlsh_bucket_sql('embedding', plane_ids)} AS bkey,"
            f" vec_id, embedding FROM {emb_cte}"
            for bi, plane_ids in enumerate(bands)
        ]
    else:
        n_sq = f"(SELECT count(*) FROM {emb_cte})"
        guard_narrow = f"{n_sq} < {NEAR_DUP_ADAPT_N}"
        guard_wide = (
            f"{n_sq} >= {NEAR_DUP_ADAPT_N} AND {n_sq} < {NEAR_DUP_ADAPT_N2}"
        )
        guard_xwide = f"{n_sq} >= {NEAR_DUP_ADAPT_N2}"
        selects = [
            f"SELECT {bi} AS band, {qlsh_bucket_sql('embedding', plane_ids)} AS bkey,"
            f" vec_id, embedding FROM {emb_cte} WHERE {guard_narrow}"
            for bi, plane_ids in enumerate(NEAR_DUP_BANDS)
        ] + [
            f"SELECT {bi} AS band, {qlsh_bucket_sql('embedding', plane_ids)} AS bkey,"
            f" vec_id, embedding FROM {emb_cte} WHERE {guard_wide}"
            for bi, plane_ids in enumerate(NEAR_DUP_BANDS_WIDE)
        ] + [
            f"SELECT {bi} AS band, {qlsh_bucket_sql('embedding', plane_ids)} AS bkey,"
            f" vec_id, embedding FROM {emb_cte} WHERE {guard_xwide}"
            for bi, plane_ids in enumerate(NEAR_DUP_BANDS_XWIDE)
        ]
    banded = "\nUNION ALL\n".join(selects)
    qcos = qcosine_sql("a.embedding", "b.embedding")
    return f"""
    , banded AS (
      {banded}
    )
    SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round({qcos}, 4) AS cos_sim
    FROM banded a JOIN banded b
      ON a.band = b.band AND a.bkey = b.bkey AND a.vec_id < b.vec_id
    WHERE {qcos} >= {threshold}
    """


# -- Arrow-batched numpy kNN (bench hot path) -----------------------------------

def knn_batch_pandas(
    corpus: DataFrame, query_matrix: np.ndarray, query_ids: np.ndarray, k: int
) -> DataFrame:
    """Top-k per query via per-partition numpy matmul.

    The query matrix ships to executors once (task closure ~ broadcast);
    each Arrow batch of corpus vectors is scored with one BLAS matmul.
    Output: per (query, partition) local top-k — caller finishes with a
    global top-k per query (cheap: partitions × k rows).
    """
    qn = query_matrix / np.linalg.norm(query_matrix, axis=1, keepdims=True)

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            M = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
            S = qn @ Mn.T  # (Q, B)
            kk = min(k, S.shape[1])
            top = np.argpartition(-S, kk - 1, axis=1)[:, :kk]
            rows = {
                "q_id": np.repeat(query_ids, kk),
                "n_id": pdf["vec_id"].to_numpy()[top].ravel(),
                "cos_sim": np.take_along_axis(S, top, axis=1).ravel(),
            }
            yield pd.DataFrame(rows)

    return corpus.select("vec_id", "embedding").mapInPandas(
        score, schema="q_id long, n_id long, cos_sim double"
    )


# --- trained IVF codebook: deterministic QUANTIZED distributed k-means -------
# The fixed codebook (registry_data._ivf_assign) is "IVF-shaped"; a real
# 100 TB pipeline TRAINS centroids. The r4 float version had no bit-exact SQL
# twin (float sums are partition-order sensitive) and ran a fixed 5 Lloyd
# rounds; this version does the whole iteration in EXACT integer arithmetic
# (the qcosine/Q_SCALE discipline), so:
#
# - every Lloyd round is reproducible bit-for-bit by an unrolled DuckDB CTE
#   chain (``kmeans_codebook_q_sql``) → the trained-IVF gate is value-hashed,
#   not rows-only;
# - the codebook converges to an exact FIXPOINT (integer centroids stop
#   changing), detectable in the driver at zero extra cost, and a fixpoint is
#   safe to early-stop on: update(assign(c)) == c implies every further round
#   is the identity, so a fixed-round SQL unroll and an early-stopped Spark
#   loop provably agree.
#
# Arithmetic-exactness argument for the numpy assignment kernel: quantized
# components are |q| <= Q_SCALE·max|x| (~10⁴ here), so every product is
# <= ~10⁸ and every 64-term dot sum <= ~10¹⁰ — all integers below 2⁵³, which
# float64 represents exactly regardless of summation order. The trailing
# sqrt/divide are IEEE correctly-rounded on identical inputs, so numpy, Spark
# SQL and DuckDB produce the SAME doubles and hence the same argmax (+ ties
# broken toward the smallest c_id in all three).
#
# Scale model: per round, ONE Arrow pass over the (checkpointed, quantized)
# corpus — a BLAS matmul against the k×dim codebook shipped in the task
# closure (the same payload a broadcast ships) — emitting k×dim per-batch
# partial sums; the only shuffle is the tiny (c_id, pos) partial-sum
# aggregation. The driver holds nothing larger than the codebook itself
# (k×dim ints — the object IVF training exists to produce).

from typing import NamedTuple


class QKMeansResult(NamedTuple):
    cents: list[tuple[int, list[int]]]  # (c_id, quantized centroid) sorted
    assigned: DataFrame  # (vec_id, c_id) under the FINAL codebook
    embq: DataFrame  # quantized corpus (vec_id, qe, qn), localCheckpointed
    rounds: int  # Lloyd updates actually run (== iters unless converged)


def _codebook_arrays(cents: list[tuple[int, list[int]]]):
    cids = np.array([c for c, _ in cents], dtype=np.int64)
    C = np.stack([np.asarray(q, dtype=np.float64) for _, q in cents])
    cn = np.sqrt((C * C).sum(axis=1))
    return cids, C, cn


def assign_codebook_np(
    embq: DataFrame, cents: list[tuple[int, list[int]]]
) -> DataFrame:
    """(vec_id, c_id) nearest-centroid assignment — exact-arithmetic numpy
    kernel (see module comment), Arrow-batched, no shuffle."""
    cids, C, cn = _codebook_arrays(cents)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            M = np.stack(pdf["qe"].to_numpy()).astype(np.float64)
            S = (M @ C.T) / (pdf["qn"].to_numpy()[:, None] * cn[None, :])
            best = np.argmax(S, axis=1)  # first max == smallest c_id on ties
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"].to_numpy(), "c_id": cids[best]}
            )

    return embq.mapInPandas(fn, "vec_id long, c_id int")


def _partial_sums_np(
    embq: DataFrame, cents: list[tuple[int, list[int]]], dim: int
) -> DataFrame:
    """Per-batch (c_id, pos, s, n) partial sums of member vectors under the
    given codebook — assignment and map-side combine fused in one pass."""
    cids, C, cn = _codebook_arrays(cents)
    k = len(cids)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            M = np.stack(pdf["qe"].to_numpy())  # int64 (B, dim)
            S = (M.astype(np.float64) @ C.T) / (
                pdf["qn"].to_numpy()[:, None] * cn[None, :]
            )
            best = np.argmax(S, axis=1)
            sums = np.zeros((k, dim), dtype=np.int64)
            np.add.at(sums, best, M)
            counts = np.bincount(best, minlength=k)
            nz = np.nonzero(counts)[0]
            yield pd.DataFrame(
                {
                    "c_id": np.repeat(cids[nz], dim),
                    "pos": np.tile(np.arange(1, dim + 1), len(nz)),
                    "s": sums[nz].ravel(),
                    "n": np.repeat(counts[nz], dim),
                }
            )

    return embq.mapInPandas(fn, "c_id int, pos int, s long, n long")


def kmeans_codebook_q(
    emb: DataFrame,
    k: int = 40,
    iters: int = 5,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
) -> QKMeansResult:
    """Deterministic k-means in exact integer arithmetic (cosine assignment,
    floor-divided integer-mean update), bit-identical to the DuckDB unroll
    from :func:`kmeans_codebook_q_sql`.

    - init: hash-seeded — the k vectors with the smallest md5(id) (uniform
      pseudo-random yet fully reproducible; no RNG state).
    - update: centroid[d] = floordiv(sum of member q[d], count) — exact
      bigint in Spark/DuckDB/Python alike; clusters that lose every member
      keep their previous centroid, so the codebook size is stable.
    - early stop: when the integer codebook reaches a fixpoint (safe — see
      module comment); otherwise runs ``iters`` rounds like the SQL twin.
    """
    src = emb.select(
        F.col(id_col).alias("vec_id"), F.col(emb_col).alias("embedding")
    )
    embq = quantize_with_norm(src).localCheckpoint(eager=True)
    from pyspark.sql import Window

    seed_w = Window.orderBy("__h")
    seed_rows = (
        embq.withColumn("__h", F.md5(F.col("vec_id").cast("string")))
        .orderBy("__h")
        .limit(k)
        .withColumn("c_id", F.row_number().over(seed_w) - F.lit(1))
        .select("c_id", "qe")
        .collect()
    )
    cents = sorted((r["c_id"], list(r["qe"])) for r in seed_rows)
    # dim from the seed payload — a separate first() action just for the
    # dimension was one whole Spark job per training call
    dim = len(cents[0][1])
    rounds = 0
    for _ in range(iters):
        part = _partial_sums_np(embq, cents, dim)
        agg = (
            part.groupBy("c_id", "pos")
            .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
            .collect()
        )  # k×dim rows — the codebook-sized payload, nothing larger
        acc: dict[int, list[tuple[int, int, int]]] = {}
        for r in agg:
            acc.setdefault(r["c_id"], []).append((r["pos"], r["s"], r["n"]))
        new = []
        for c_id, old_q in cents:
            if c_id in acc:
                # exact floor division: (s - posmod(s, n)) is divisible by n,
                # matching DuckDB's `//` and Spark's `div` bit-for-bit
                q = [
                    (s - ((s % n + n) % n)) // n
                    for _, s, n in sorted(acc[c_id])
                ]
            else:
                q = old_q
            new.append((c_id, q))
        if new == cents:  # exact integer fixpoint — further rounds identity
            break
        cents = new
        rounds += 1
    assigned = assign_codebook_np(embq, cents)
    return QKMeansResult(cents, assigned, embq, rounds)


def kmeans_codebook_q_sql(
    k_sql: str, iters: int = 5, dim: int = DIM, emb_cte: str = "embeddings"
) -> str:
    """DuckDB CTE chain mirroring :func:`kmeans_codebook_q` bit-for-bit:
    ``vqn`` (quantized corpus), ``c0`` (hash-seeded codebook), ``iters``
    unrolled Lloyd rounds, and ``ivf_assigned`` — the final (vec_id, c_id)
    assignment. ``k_sql`` is a scalar-subquery SQL string for the codebook
    size. A fixed unroll equals the early-stopped Spark loop because integer
    fixpoints make extra rounds identities."""
    qcos = (
        f"(cast(list_sum(list_transform(generate_series(1, {dim}), "
        "i -> v.q[i] * c.q[i])) AS DOUBLE) / (v.nrm * c.nrm))"
    )
    parts = [
        f"""
    vqn AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> cast(floor(cast(x AS DOUBLE) * {Q_SCALE}) AS BIGINT)) AS q,
             sqrt(cast(list_sum(list_transform(
               list_transform(embedding,
                 x -> cast(floor(cast(x AS DOUBLE) * {Q_SCALE}) AS BIGINT)),
               x -> x * x)) AS DOUBLE)) AS nrm
      FROM {emb_cte}
    ), c0 AS (
      SELECT cast(row_number() OVER (ORDER BY md5(cast(vec_id AS VARCHAR)))
                  - 1 AS INTEGER) AS c_id, q, nrm
      FROM vqn
      QUALIFY row_number() OVER (ORDER BY md5(cast(vec_id AS VARCHAR)))
              <= ({k_sql})
    )"""
    ]
    for r in range(1, iters + 1):
        p = r - 1
        parts.append(
            f"""
    a{r} AS (
      SELECT vec_id, c_id FROM (
        SELECT v.vec_id, c.c_id,
               row_number() OVER (PARTITION BY v.vec_id
                                  ORDER BY {qcos} DESC, c.c_id) AS rn
        FROM vqn v CROSS JOIN c{p} c
      ) WHERE rn = 1
    ), s{r} AS (
      SELECT a.c_id, g.pos, sum(v.q[g.pos]) AS s, count(*) AS n
      FROM a{r} a JOIN vqn v USING (vec_id)
      CROSS JOIN generate_series(1, {dim}) AS g(pos)
      GROUP BY a.c_id, g.pos
    ), m{r} AS (
      SELECT c_id,
             list(cast((s - ((s % n + n) % n)) // n AS BIGINT)
                  ORDER BY pos) AS q
      FROM s{r} GROUP BY c_id
    ), c{r} AS (
      SELECT p.c_id, coalesce(m.q, p.q) AS q,
             sqrt(cast(list_sum(list_transform(coalesce(m.q, p.q),
               x -> x * x)) AS DOUBLE)) AS nrm
      FROM c{p} p LEFT JOIN m{r} m USING (c_id)
    )"""
        )
    parts.append(
        f"""
    ivf_assigned AS (
      SELECT vec_id, c_id FROM (
        SELECT v.vec_id, c.c_id,
               row_number() OVER (PARTITION BY v.vec_id
                                  ORDER BY {qcos} DESC, c.c_id) AS rn
        FROM vqn v CROSS JOIN c{iters} c
      ) WHERE rn = 1
    )"""
    )
    return ",".join(parts)
