"""Similarity search over embedding columns (task brief): brute-force cosine
top-k baseline + LSH-bucketed scale path.

* brute-force: pure built-ins (zip_with dot product) → orderBy/limit
  (TakeOrderedAndProject) — the correctness baseline, O(N·d) per query;
* random-hyperplane LSH (Charikar 2002 [public]): sign-bit signature over H
  pinned hyperplanes → probe only the query's bucket (+ multiprobe neighbor
  buckets) — turns the scan into a bucket-pruned lookup; recall measured
  against brute force in tests;
* IVF (coarse k-means quantizer, nprobe cluster filter), product
  quantization (ADC table lookup) and binary-code Hamming rescore, plus
  late-interaction MaxSim.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .dedup import cosine_expr


def _norm(v: list[float]) -> np.ndarray:
    a = np.asarray(v, dtype=np.float64)
    n = np.linalg.norm(a)
    return a / n if n else a


def brute_force_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k for one query vector (JVM-side arithmetic)."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    return (
        emb.select(
            F.col(id_col),
            F.round(cosine_expr(F.col(vec_col), q), 4).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
        .limit(k)
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 13) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim))


def lsh_signature_udf(dim: int, n_planes: int = 12, seed: int = 13):
    planes = _hyperplanes(dim, n_planes, seed)

    @F.pandas_udf(T.IntegerType())
    def sig(s: pd.Series) -> pd.Series:
        mat = np.stack(s.map(lambda v: np.asarray(v, dtype=np.float64)).to_numpy())
        bits = (mat @ planes.T) > 0  # (n, planes)
        out = np.zeros(len(mat), dtype=np.int32)
        for j in range(planes.shape[0]):
            out |= bits[:, j].astype(np.int32) << j
        return pd.Series(out)

    return sig


def with_lsh_bucket(
    emb: DataFrame, dim: int, n_planes: int = 12, seed: int = 13, vec_col: str = "embedding"
) -> DataFrame:
    return emb.withColumn("lsh_bucket", lsh_signature_udf(dim, n_planes, seed)(F.col(vec_col)))


def _probe_buckets(qsig: int, n_planes: int, n_flip: int = 1) -> list[int]:
    """Multiprobe: the query bucket plus all buckets ≤ n_flip bit flips away."""
    buckets = {qsig}
    if n_flip >= 1:
        for i in range(n_planes):
            buckets.add(qsig ^ (1 << i))
    if n_flip >= 2:
        for i in range(n_planes):
            for j in range(i + 1, n_planes):
                buckets.add(qsig ^ (1 << i) ^ (1 << j))
    return sorted(buckets)


def lsh_topk(
    bucketed: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_planes: int = 12,
    seed: int = 13,
    n_flip: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: score only vectors in the query's (multiprobe)
    buckets — `lsh_bucket IN (...)` prunes at the scan."""
    planes = _hyperplanes(len(query_vec), n_planes, seed)
    qn = _norm(query_vec)
    qsig = 0
    for j in range(n_planes):
        if float(planes[j] @ qn) > 0:
            qsig |= 1 << j
    probes = _probe_buckets(qsig, n_planes, n_flip)
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    return (
        bucketed.filter(F.col("lsh_bucket").isin(probes))
        .select(
            F.col(id_col),
            F.round(cosine_expr(F.col(vec_col), q), 4).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
        .limit(k)
    )


# --- IVF (inverted-file) index: the coarse-quantizer scale path --------------


def train_centroids(
    emb: DataFrame,
    n_clusters: int = 16,
    sample: int = 2048,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """IVF coarse quantizer: k-means on a SMALL deterministic sample
    (first `sample` ids), trained driver-side in NumPy — the standard IVF
    architecture (train tiny, assign distributed; [public: FAISS IVF]).
    Deterministic: sample by id order, seeds = first k sample rows."""
    rows = (
        emb.orderBy(id_col).limit(sample).select(vec_col).collect()
    )
    x = np.asarray([r[0] for r in rows], dtype=np.float64)
    x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    c = x[:n_clusters].copy()
    for _ in range(iters):
        sims = x @ c.T
        assign = sims.argmax(axis=1)
        for j in range(n_clusters):
            m = assign == j
            if m.any():
                v = x[m].mean(axis=0)
                c[j] = v / max(np.linalg.norm(v), 1e-12)
    return c


def assign_clusters(
    emb: DataFrame,
    centroids: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Distributed assignment: one Arrow pass, NumPy matmul per batch;
    centroids ride in the UDF closure (tiny broadcast)."""
    c = centroids.astype(np.float64)

    @F.pandas_udf(T.IntegerType())
    def cluster(s: pd.Series) -> pd.Series:
        x = np.asarray(s.tolist(), dtype=np.float64)
        x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
        return pd.Series((x @ c.T).argmax(axis=1).astype(np.int32))

    return emb.withColumn("ivf_cluster", cluster(F.col(vec_col)))


def ivf_topk(
    assigned: DataFrame,
    centroids: np.ndarray,
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: score only the nprobe clusters nearest the query —
    `ivf_cluster IN (...)` prunes at the scan (with the assignment table
    written partitioned by ivf_cluster this is partition pruning at 100 TB)."""
    qn = _norm(query_vec)
    order = np.argsort(-(centroids @ qn))
    probes = [int(j) for j in order[:nprobe]]
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    return (
        assigned.filter(F.col("ivf_cluster").isin(probes))
        .select(
            F.col(id_col),
            F.round(cosine_expr(F.col(vec_col), q), 4).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
        .limit(k)
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — Jégou, Douze & Schmid 2011 "Product
# Quantization for Nearest Neighbor Search" [public]; the FAISS IVFPQ
# compression path. Vectors are L2-normalized, split into M subspaces, and
# each subvector is replaced by the id of its nearest per-subspace k-means
# centroid: d·4 bytes → M codes (dim 64, M=8, ks=16 → 64× smaller). Queries
# score against the codes with an asymmetric distance computation (ADC):
# a tiny M×ks inner-product table is built driver-side from the raw query,
# and each database vector's approximate cosine is Σ_m table[m][code_m] —
# a pure array-expression lookup, whole-stage codegen, NO vector math in
# the scan. At 100 TB this is the decisive lever: the scan touches M bytes
# per vector instead of 256, and the table broadcast is O(M·ks) doubles.
#
# Every training choice is pinned deterministic so a DuckDB oracle can
# recompute the identical codebooks from the parquet alone: train on the
# first `sample` vec_ids, seeds = the first ks subvectors, fixed iteration
# count, L2 assignment, empty clusters keep their previous centroid.


def train_pq_codebooks(
    emb: DataFrame,
    dim: int,
    m: int = 8,
    ks: int = 16,
    iters: int = 3,
    sample: int = 2048,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """(m, ks, dim//m) codebooks via per-subspace Lloyd k-means on a bounded
    driver-side sample (same shape as IVF's train_centroids: the sample is
    tiny and deterministic; the expensive parts — encode and scan — stay
    distributed)."""
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    rows = (
        emb.orderBy(id_col).limit(sample).select(vec_col).collect()
    )
    x = np.array([r[0] for r in rows], dtype=np.float64)
    x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    dsub = dim // m
    books = np.zeros((m, ks, dsub))
    for mi in range(m):
        sub = x[:, mi * dsub : (mi + 1) * dsub]
        cent = sub[:ks].copy()
        for _ in range(iters):
            d2 = ((sub[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)  # ties → lowest id, matches arg_min
            for j in range(ks):
                pts = sub[assign == j]
                if len(pts):
                    cent[j] = pts.mean(axis=0)
        books[mi] = cent
    return books


def encode_pq(
    emb: DataFrame,
    codebooks: np.ndarray,
    vec_col: str = "embedding",
    code_col: str = "pq_code",
) -> DataFrame:
    """Attach the M-byte PQ code array — one Arrow-batched pass, NumPy
    argmin inner loop (the only per-vector float math left; after this the
    raw vectors never need to be read again for candidate generation)."""
    m, ks, dsub = codebooks.shape
    books = codebooks  # closed over; broadcast with the task binary

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def code(s: pd.Series) -> pd.Series:
        x = np.stack(s.map(lambda v: np.asarray(v, dtype=np.float64)).to_numpy())
        x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
        out = np.zeros((len(x), m), dtype=np.int32)
        for mi in range(m):
            sub = x[:, mi * dsub : (mi + 1) * dsub]
            d2 = ((sub[:, None, :] - books[mi][None, :, :]) ** 2).sum(axis=2)
            out[:, mi] = d2.argmin(axis=1)
        return pd.Series(list(out))

    return emb.withColumn(code_col, code(F.col(vec_col)))


def pq_topk(
    coded: DataFrame,
    codebooks: np.ndarray,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    code_col: str = "pq_code",
    round_to: int | None = 4,
) -> DataFrame:
    """ADC top-k: approximate cosine = Σ_m ip_table[m][code_m], where the
    table holds inner products between the normalized query's subvectors and
    the codebook centroids. The scan is zip_with + element_at over a literal
    M×ks table — whole-stage codegen, then TakeOrdered. Returns
    (vec_id, adc_score); compose with an exact-cosine rerank of the top
    candidates when refined scores are needed (FAISS refine stage)."""
    m, ks, dsub = codebooks.shape
    q = _norm(query_vec)
    tab = np.array(
        [codebooks[mi] @ q[mi * dsub : (mi + 1) * dsub] for mi in range(m)]
    )  # (m, ks)
    tab_lit = F.array(
        *[F.array(*[F.lit(float(v)) for v in row]) for row in tab]
    )
    adc = F.aggregate(
        F.zip_with(
            F.col(code_col),
            tab_lit,
            lambda c, row: F.element_at(row, c + 1),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    score = F.round(adc, round_to) if round_to is not None else adc
    return (
        coded.select(F.col(id_col), score.alias("adc_score"))
        .orderBy(F.col("adc_score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def pq_refined_topk(
    coded: DataFrame,
    codebooks: np.ndarray,
    query_vec: list[float],
    k: int = 10,
    rerank: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    code_col: str = "pq_code",
) -> DataFrame:
    """FAISS-style refine stage: ADC selects `rerank` candidates from the
    codes alone, then ONLY those rows' raw vectors are read for an exact
    cosine top-k. At scale the candidate set is k-scale tiny, so the rerank
    join broadcasts and the raw-vector column is fetched for ~rerank rows
    instead of the corpus — the scan cost stays M bytes/vector."""
    cand = pq_topk(
        coded, codebooks, query_vec, k=rerank, id_col=id_col, code_col=code_col
    )
    q = F.array(*[F.lit(float(v)) for v in query_vec])
    return (
        coded.join(F.broadcast(cand.select(id_col)), id_col)
        .select(
            F.col(id_col),
            F.round(cosine_expr(F.col(vec_col), q), 4).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
        .limit(k)
    )


# --- binary quantization + float rescore (ES BBQ-style) ---------------------


def hamming_rescore_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_candidates: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Binary-quantized coarse search with exact float rescore [public: ES
    dense_vector BBQ / knn `rescore_vector` docs; sign-bit sketches go back
    to Charikar 2002]. Every dimension sign-quantizes to one bit (x > 0,
    pinned); vectors coarse-rank by Hamming distance to the quantized query
    — computed as xor + bit_count over two packed 32-bit words, pure
    codegen — the nearest `n_candidates` survive (ties → id asc), and only
    the survivors' float vectors are read for an exact cosine top-k.

    Scale shape: the packed bits are 8 B/vector vs 512 B of float64, so at
    100 TB the coarse pass scans ~64x less data (store _lo/_hi as their own
    parquet columns and the scan prunes the float column entirely); the
    rescore fetches floats for n_candidates rows only. No UDF anywhere, no
    shuffle beyond the two TakeOrdered top-k exchanges."""
    dim = len(query_vec)
    if not 0 < dim <= 64:
        raise ValueError(f"hamming_rescore_topk supports 1..64 dims, got {dim}")
    half = min(32, dim)

    def _pack(offset: int, width: int):
        if width <= 0:
            return F.lit(0).cast("long")
        return F.expr(
            f"aggregate(transform(slice({vec_col}, {offset + 1}, {width}), "
            "(x, i) -> IF(CAST(x AS DOUBLE) > 0D, shiftleft(1L, i), 0L)), "
            "0L, (a, b) -> a + b)"
        )

    qlo = sum(1 << i for i, x in enumerate(query_vec[:half]) if x > 0)
    qhi = sum(1 << i for i, x in enumerate(query_vec[half:]) if x > 0)
    coarse = (
        emb.withColumn("_lo", _pack(0, half))
        .withColumn("_hi", _pack(half, dim - half))
        .withColumn(
            "_hamming",
            F.bit_count(F.col("_lo").bitwiseXOR(F.lit(qlo)))
            + F.bit_count(F.col("_hi").bitwiseXOR(F.lit(qhi))),
        )
        .orderBy(F.col("_hamming").asc(), F.col(id_col).asc())
        .limit(n_candidates)
        .drop("_lo", "_hi", "_hamming")
    )
    casted = coarse.withColumn(vec_col, F.col(vec_col).cast("array<double>"))
    return brute_force_topk(casted, query_vec, k=k, id_col=id_col, vec_col=vec_col)


def maxsim_topk(
    emb: "DataFrame",
    query_vecs: list[list[float]],
    group_size: int = 8,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> "DataFrame":
    """Late-interaction (ColBERT-style) MaxSim scoring [public: ES
    `rank_vectors` maxSimDotProduct; Khattab & Zaharia 2020]: documents are
    BAGS of token vectors; score(doc) = Σ_q max_d dot(q, d) over the query's
    token vectors. The fixture's flat embedding table becomes multi-vector
    docs by grouping `group_size` consecutive vec_ids (doc_id = vec_id //
    group_size) — the plumbing a real corpus would carry as
    array<array<float>>.

    Scale shape: per-query dots are zip_with/aggregate codegen on the scan
    (no UDF); ONE hash agg per doc computes every max simultaneously; top-k
    is a TakeOrdered. At 100 TB the same plan applies after an IVF/LSH
    candidate cut (compose with ivf/lsh_topk), exactly ES's
    rescorer-over-candidates contract."""
    from pyspark.sql import functions as F

    doc = (F.col(id_col) / group_size).cast("long").alias("doc_id")
    dots = []
    for qi, q in enumerate(query_vecs):
        qlit = F.array(*[F.lit(float(x)) for x in q])
        dot = F.aggregate(
            F.zip_with(
                F.col(vec_col), qlit, lambda x, y: x.cast("double") * y
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        dots.append(dot.alias(f"_dot{qi}"))
    per_vec = emb.select(doc, *dots)
    maxes = [
        F.max(f"_dot{qi}").alias(f"_m{qi}") for qi in range(len(query_vecs))
    ]
    scored = per_vec.groupBy("doc_id").agg(*maxes)
    total = sum(
        (F.col(f"_m{qi}") for qi in range(1, len(query_vecs))),
        F.col("_m0"),
    )
    return (
        scored.select("doc_id", F.round(total, 4).alias("maxsim"))
        .orderBy(F.col("maxsim").desc(), F.col("doc_id").asc())
        .limit(k)
    )
